package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `prepare` generates the inputs under its own
  * directory and builds any state the timed ops read (it runs several times
  * so set-up time has a median; the last preparation is the one the timed
  * region reads).
  * `round` runs one whole round of ops; `finalChecks` runs after the timed
  * region and returns the failed end-of-run checks.
  */
trait Workload {
  def primary: String
  /** Warm-up rounds before the timed region: enough for JIT and Spark's
    * codegen cache to settle, within the run's time budget.
    */
  def warmUpRounds: Int = 1
  /** Timed rounds an untraced run makes even past its deadline, so its median never
    * rests on a single sample.
    */
  def minRounds: Int = 1
  /** Known faults of the program met outside the timed rounds, reported as
    * context: `kind: exception`.
    */
  val knownFaults: ArrayBuffer[String] = ArrayBuffer.empty
  def prepare(dir: String): Unit
  def round(rec: Recorder, n: Int): Seq[OpResult]
  def finalChecks(rec: Recorder, outDir: String): Seq[String]
}

/** JVM half of the benchmark: `perfbench/run.py` builds it and launches it
  * once per run, then turns `result.json` into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir> <cores> <prepareReps>
  */
object Main {
  private val mainEntryNs = System.nanoTime()

  /** Progress line in the JVM log, with seconds since the main entry. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - mainEntryNs) / 1e9}%8.2f] $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, coresS, repsS) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = coresS.toInt

    val spark = graft.GraftSession.build(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - mainEntryNs) / 1e9

    val w: Workload = workload match {
      case "scrape_load" => new ScrapeLoad(spark, seed)
      case "curate_train" => new CurateTrain(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepareS = (0 until repsS.toInt).map { r =>
      val t0 = System.nanoTime()
      w.prepare(s"$runDir/in$r")
      log(s"prepared $r")
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up rounds on the last preparation: JIT, codegen caches and lazy
    // Spark set-up are paid here, never inside the timed region
    val w0 = System.nanoTime()
    val warm = new Recorder(spark, traced = false)
    val warmUpErrors = (1 to w.warmUpRounds).flatMap(r => w.round(warm, -r))
      .flatMap(o => o.error.map(e => s"${o.kind}: $e")).distinct
    warm.finish()
    val warmUpS = (System.nanoTime() - w0) / 1e9
    log("warmed up")

    val rec = new Recorder(spark, traced)
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val stat0 = Proc.cpuStat()
    val load0 = Proc.loadAvg1()
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val ops = ArrayBuffer.empty[OpResult]
    var rounds = 0
    // a traced run's layer probes take its time, and it reports only
    // per-layer figures, so it does not need a second curate_train manifest
    val minRounds = if (traced) 1 else w.minRounds
    while (rounds < minRounds || System.nanoTime() < deadline) {
      ops ++= w.round(rec, rounds)
      log(s"round $rounds: " + ops.takeRight(3).map(o => f"${o.kind} ${o.seconds}%.3f").mkString(", "))
      rounds += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gc1 = gcMs
    val stat1 = Proc.cpuStat()
    val load1 = Proc.loadAvg1()

    val outDir = s"$runDir/out"
    Files.createDirectories(Paths.get(outDir))
    val checkFailures =
      try w.finalChecks(rec, outDir)
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Seq(s"final checks threw: $e") }
    log("final checks done")
    val spans = rec.finish()

    System.gc()
    val heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val steal = Proc.stealShare(stat0, stat1)

    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("seed", seed); j.field("traced", traced)
      j.field("cores", cores); j.field("primary", w.primary)
      j.field("session_start_s", sessionStartS)
      j.arr("prepare_s")(prepareS.foreach(j.value))
      j.field("warm_up_s", warmUpS)
      j.field("timed_s", timedS); j.field("rounds", rounds)
      j.field("gc_s", (gc1 - gc0) / 1e3)
      j.field("steal_share", steal)
      j.field("loadavg_1m_start", load0); j.field("loadavg_1m_end", load1)
      j.field("peak_rss_kb", Proc.vmHwmKb())
      j.field("heap_retained_mb", heapRetainedMb)
      j.arr("ops")(ops.foreach { o =>
        j.obj {
          j.field("id", o.id); j.field("kind", o.kind); j.field("s", o.seconds); j.field("items", o.items)
          j.field("cpu_s", o.cpuSeconds)
          j.field("probe", o.probe)
          o.error.foreach(j.field("error", _))
          j.field("jobs", o.counts.jobs); j.field("stages", o.counts.stages)
          j.field("tasks", o.counts.tasks); j.field("codegen_compiles", o.codegenCompiles)
          j.field("shuffle_bytes", o.counts.shuffleWriteBytes)
          j.field("spill_bytes", o.counts.spillBytes)
          j.field("executor_cpu_s", o.counts.executorCpuNs / 1e9)
          j.field("driver_gap_s", Proc.driverGapS(o.wallMs, o.counts.jobIntervals.toSeq))
        }
      })
      j.arr("spans")(spans.foreach { s =>
        j.obj {
          j.field("id", s.id); j.field("parent", s.parent); j.field("op", s.op)
          j.field("name", s.name); j.field("start_ns", s.startNs); j.field("end_ns", s.endNs)
        }
      })
      j.obj("samples") {
        rec.samples.foreach { case (k, vs) => j.arr(k)(vs.foreach(j.value)) }
      }
      j.arr("check_failures")(checkFailures.foreach(j.value))
      j.arr("warm_up_errors")(warmUpErrors.foreach(j.value))
      j.arr("known_faults")(w.knownFaults.foreach(j.value))
    }
    Files.write(Paths.get(s"$runDir/result.json"), j.result.getBytes(UTF_8))
    spark.stop()
  }
}

/** Read-only views of `/proc` for context (steal, load) and memory. */
object Proc {
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), UTF_8)

  /** The aggregate `cpu` line of /proc/stat: user … steal (8 counters). */
  def cpuStat(): Array[Long] =
    try read("/proc/stat").linesIterator.next().trim.split("\\s+").slice(1, 9).map(_.toLong)
    catch { case _: Exception => Array.fill(8)(0L) }

  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    val tot = d.sum
    if (tot <= 0) 0.0 else d(7).toDouble / tot
  }

  def loadAvg1(): Double =
    try read("/proc/loadavg").trim.split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }

  def vmHwmKb(): Long =
    try read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  /** Op wall time during which no job of the op was running: planning,
    * driver-side collection and other work between Spark jobs.
    */
  def driverGapS(wall: (Long, Long), jobs: Seq[(Long, Long)]): Double = {
    val (w0, w1) = wall
    val clipped = jobs.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    math.max(0L, (w1 - w0) - covered) / 1e3
  }

  /** Bytes of the regular files under `dir`, skipping checksum files,
    * commit markers and any directory `skipDir` names.
    */
  def dirBytes(dir: String, skipDir: String => Boolean = _ => false): (Long, Int) = {
    var bytes = 0L
    var files = 0
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) { if (!skipDir(f.getName)) Option(f.listFiles).foreach(_.foreach(walk)) }
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        bytes += f.length; files += 1
      }
    Option(new java.io.File(dir).listFiles).foreach(_.foreach(walk))
    (bytes, files)
  }
}

/** Minimal JSON writer for the run's result file. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  def value(v: Any): Unit = {
    sep()
    v match {
      case s: String => str(s)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case b: Boolean => sb.append(b)
      case n => sb.append(n.toString)
    }
  }
  def field(k: String, v: Any): Unit = { key(k); value(v); first = false }
  def obj(body: => Unit): Unit = { sep(); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def obj(k: String)(body: => Unit): Unit = { key(k); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr(k: String)(body: => Unit): Unit = { key(k); sb.append('['); first = true; body; sb.append(']'); first = false }
  def result: String = sb.toString
}
