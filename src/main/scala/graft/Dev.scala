package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only tools over NAMED registry queries, one subcommand each:
  *
  *  - `time <sfDir> <name>...` — the Bench methodology for a few keys:
  *    warm pass per mode, three interleaved samples, median per mode,
  *    plus the per-mode shuffle-write bytes. Iterating on one
  *    operator re-measures in seconds instead of the full bench.
  *    Session size SPARK_GRAFT_CPUS (default 32).
  *  - `bytes <sfDir> <name>...` — prod shuffle-write bytes per key,
  *    printed as ByteBudgetSpec calibration rows. Shares the spec's
  *    attribution mechanics via [[ShuffleAttribution]], so a printed row
  *    is a valid table row there. Session size local[8].
  *  - `plan <sfDir> <outDir> <tag> <name>...` — `explain("formatted")`
  *    to `<outDir>/<name>_<tag>.txt`: the PRODUCTION plan first, then the
  *    oracle-mode plan (what Bench's value column times, global
  *    sorts included). Session size SPARK_GRAFT_CPUS (default 8).
  *  - `names` — every registry key with `oracle` or `rows_only`.
  *
  * Usage: runMain graft.Dev <subcommand> <args...>
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names => withSession(envCpus(32))(time(_, sfDir, names))
    case "bytes" :: sfDir :: names => withSession(8)(bytes(_, sfDir, names))
    case "plan" :: sfDir :: outDir :: tag :: names =>
      withSession(envCpus(8))(plan(_, sfDir, outDir, tag, names))
    case "names" :: Nil =>
      println(SparkEntry.registry.map(q =>
        q.name + "\t" + (if (q.oracle.isDefined) "oracle" else "rows_only")).mkString("\n"))
    case _ =>
      System.err.println(
        "usage: graft.Dev time <sfDir> <name>... | bytes <sfDir> <name>... | " +
          "plan <sfDir> <outDir> <tag> <name>... | names")
      sys.exit(2)
  }

  private def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  private def withSession(cpus: Int)(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  private def query(name: String): GraftQuery =
    SparkEntry.registry.find(_.name == name).getOrElse(sys.error(s"unknown query $name"))

  private def run(spark: SparkSession, sfDir: String, q: GraftQuery, prod: Boolean): Unit = {
    val df = if (prod) q.runProd(spark, sfDir) else q.run(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
  }

  /** Median; the mean of the two middle samples for an even count. */
  private def median(s: Seq[Double]): Double = {
    val v = s.sorted
    val m = v.size / 2
    if (v.size % 2 == 1) v(m) else (v(m - 1) + v(m)) / 2
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val q = query(name)
      def timed(prod: Boolean): Double = {
        val t0 = System.nanoTime()
        run(spark, sfDir, q, prod)
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(s"focused-$name")
      run(spark, sfDir, q, prod = false); run(spark, sfDir, q, prod = true) // warm-up, untimed
      def written(label: String, prod: Boolean): Long =
        ShuffleAttribution.measure(spark, label)(run(spark, sfDir, q, prod)).write
      val bo = written(s"fb-o-$name", prod = false)
      val bp = written(s"fb-p-$name", prod = true)
      val samples = (1 to 3).map { i =>
        if (i % 2 == 1) { val o = timed(false); val p = timed(true); (o, p) }
        else { val p = timed(true); val o = timed(false); (o, p) }
      }
      println(f"[focused] $name%-28s oracle ${median(samples.map(_._1))}%7.2f s  " +
        f"prod ${median(samples.map(_._2))}%7.2f s  shW_o $bo%12d  shW_p $bp%12d")
    }

  private def bytes(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val q = query(name)
      val b =
        ShuffleAttribution.measure(spark, s"measure-$name")(run(spark, sfDir, q, prod = true)).write
      println(s"""[measure] ("$name", ${b}L, ${b * 3}L),""")
    }

  private def plan(
      spark: SparkSession, sfDir: String, outDir: String, tag: String,
      names: Seq[String]): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    names.foreach { name =>
      val q = query(name)
      def fmt(prod: Boolean): String = {
        val df = if (prod) q.runProd(spark, sfDir) else q.run(spark, sfDir)
        df.queryExecution.explainString(FormattedMode)
      }
      val body = s"== $name ($tag) — PRODUCTION plan ==\n\n" + fmt(true) +
        (if (q.prod.isDefined)
           s"\n\n== $name ($tag) — ORACLE-MODE plan (adds the deterministic-compare sort) ==\n\n" + fmt(false)
         else "\n\n(oracle mode identical: no separate prod plan defined)\n")
      Files.write(out.resolve(s"${name}_$tag.txt"), body.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${name}_$tag.txt")
    }
  }
}
