package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span through its job group — the
  * `ShuffleAttribution.measure` discipline: the group is set on the calling
  * thread, jobs carry it in their properties (broadcast threads inherit it),
  * and stage metrics are summed only for stages of the group's jobs.
  */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    executorCpuNs += o.executorCpuNs; jobIntervals ++= o.jobIntervals
  }
}

/** One timed call: `op` groups the spans of one benchmark operation; the
  * root span of an op has `parent == -1`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Outcome of one benchmark operation. A failed op keeps its exception
  * class and adds no latency sample. A `probe` op only measures layers for
  * the traced run; it is not one of the workload's operations.
  */
final case class OpResult(id: Int, kind: String, seconds: Double, items: Long, error: Option[String],
    counts: SparkCounts, wallMs: (Long, Long), codegenCompiles: Long, probe: Boolean, cpuSeconds: Double)

/** Times operations and the layer calls inside them. Spans and counts are
  * kept in memory and written out once the run ends. With `traced` off only
  * the op-level span exists, so the untraced run pays one job group per op.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val prefix = s"perfbench-${java.util.UUID.randomUUID()}-"
  private val nextId = new AtomicInteger(0)
  private val byGroup = new ConcurrentHashMap[String, SparkCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def countsOf(group: String): SparkCounts =
    byGroup.computeIfAbsent(group, _ => new SparkCounts)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(prefix)) {
        j.stageIds.foreach(stageGroup.put(_, g))
        jobStart.put(j.jobId, (g, j.time))
        val c = countsOf(g)
        c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(j.jobId)).foreach { case (g, t0) =>
        val c = countsOf(g)
        c.synchronized { c.jobIntervals += ((t0, j.time)) }
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(s.stageInfo.stageId)).foreach { g =>
        val c = countsOf(g)
        val m = s.stageInfo.taskMetrics
        c.synchronized {
          c.stages += 1
          c.tasks += s.stageInfo.numTasks
          if (m != null) {
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.executorCpuNs += m.executorCpuTime
          }
        }
      }
  }
  sc.addSparkListener(listener)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)] // (span id, job group)
  private var opId = -1
  private var opCount = 0

  private def timedSpan[T](name: String, op: Int)(body: => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val group = s"$prefix$id"
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val outer = stack.headOption.map(_._2)
    stack = (id, group) :: stack
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    def close(): Span = {
      val t1 = System.nanoTime()
      stack = stack.tail
      outer match {
        case Some(g) => sc.setJobGroup(g, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      val s = Span(id, parent, op, name, t0, t1)
      spans += s
      s
    }
    val out = try body catch { case e: Throwable => close(); throw e }
    (out, close())
  }

  /** Per-layer values that are not span durations (counts, ns per row). */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  /** A layer call inside the current op; a plain call when untraced. */
  def layer[T](name: String)(body: => T): T =
    if (!traced || opId < 0) body else timedSpan(name, opId)(body)._1

  /** Run one benchmark operation in its own `try`. `body` returns the
    * number of items the op processed and throws (or returns a failed
    * check) to mark the op failed.
    */
  def op(kind: String, probe: Boolean = false)(body: => Long): OpResult = {
    opId = opCount
    opCount += 1
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles0 = compiles.getCount
    val wall0 = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val (items, error, span) =
      try {
        val (n, s) = timedSpan(kind, opId)(body)
        (n, None, s)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          val s = spans.last
          (0L, Some(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300)), s)
      } finally opId = -1
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuSeconds = (os.getProcessCpuTime - cpu0) / 1e9
    val wall1 = System.currentTimeMillis()
    org.apache.spark.graft.ListenerSync.drain(sc)
    val counts = new SparkCounts
    spans.iterator.filter(_.op == span.op).foreach(s => Option(byGroup.get(s"$prefix${s.id}")).foreach(counts.add))
    OpResult(span.op, kind, seconds, items, error, counts, (wall0, wall1), compiles.getCount - compiles0, probe, cpuSeconds)
  }

  /** Detach from Spark; returns every span of the run. */
  def finish(): Seq[Span] = {
    sc.removeSparkListener(listener)
    spans.toSeq
  }
}

/** Failure raised by an op whose output fails its check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}
