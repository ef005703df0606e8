package graft

/** Benchmark main. Methodology:
  *  - runs through GraftSession so AQE/broadcast/skew tuning is measured;
  *  - one untimed warm-up pass (JIT, codegen cache, FS metadata) so the
  *    first timed query is not charged session start-up;
  *  - deterministic registry order, comparable across rounds;
  *  - three timed passes per query, reporting the MEDIAN per query (and
  *    the min alongside): identical code showed 2.6x per-query swings
  *    between rounds on this shared box, so single or min-of-2 samples
  *    conflate engine capability with scheduler noise — cross-round
  *    comparisons should use `queries` (medians);
  *  - noop-format write as the action: consumes every row and column and
  *    does NOT let the optimizer drop final sorts/projections the way a
  *    bare count() does;
  *  - BOTH modes in one run: `queries`/`value` stay ORACLE mode (the
  *    BASELINE.md comparable — global sorts included), and
  *    `queries_prod`/`total_prod` record the PRODUCTION plans (what a
  *    cluster actually ships: no oracle-mode final sorts) so the 100 TB
  *    shape is tracked per round, not just per audit;
  *  - modes INTERLEAVE per query (oracle sample, prod sample, x3):
  *    sequential whole-registry passes put the second mode ~20 minutes
  *    deeper into the JVM/box lifetime, which measured as a systematic
  *    +35 s on the later pass (isolated reruns showed the prod plans
  *    faster, as designed) — alternating samples make drift land on
  *    both modes equally, keeping the oracle/prod comparison honest;
  *  - WITHIN each pair the mode order swaps on alternate iterations
  *    (oracle-first on odd samples, prod-first on even), so per-pair
  *    warm-up/page-cache carryover averages out across the 3 samples
  *    instead of systematically landing on whichever mode ran second;
  *  - the full result JSON is also WRITTEN to a file
  *    (SPARK_GRAFT_BENCH_OUT, default `bench/latest.json`) so the
  *    committed per-round artifact carries every per-query median+min in
  *    both modes even when the driver truncates stdout — SURVEY §6
  *    quotes totals only from that artifact;
  *  - SHUFFLE-BYTE ACCOUNTING (round 14): wall time on this shared box
  *    has a documented ±30% drift band that swamps most real effects, so
  *    the artifact now ALSO records, per query and mode, the shuffle
  *    bytes written and read (SparkListener stage metrics, bus-drained
  *    between queries for exact attribution) plus the oracle-mode output
  *    row count. Bytes are a property of the PLAN + data, bit-stable
  *    across reruns — cross-round comparisons should read
  *    `shuffle_write`/`shuffle_write_prod` FIRST and wall medians
  *    second. Measured in one dedicated warm pass per query/mode (one
  *    sample suffices: deterministic), before the timed passes.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // SPARK_GRAFT_PROD=1 narrows to production plans only (debug aid);
    // the default measures oracle mode AND appends the prod-mode pass.
    val prodOnly = sys.env.get("SPARK_GRAFT_PROD").contains("1")
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    def run(q: graft.GraftQuery, prod: Boolean): Unit = {
      val df = if (prod) q.runProd(spark, sfDir) else q.run(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
    }

    def timed(q: graft.GraftQuery, prod: Boolean): Double = {
      val t0 = System.nanoTime()
      try run(q, prod) catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }

    // per-query shuffle bytes through the one attribution rendering
    // (job-group scoped, listener bus drained): bit-stable columns
    def bytesOf(q: graft.GraftQuery, prod: Boolean): ShuffleAttribution.Bytes =
      ShuffleAttribution.measure(spark, s"bench-${q.name}") {
        try run(q, prod) catch { case _: Throwable => () }
      }
    def rowsOf(q: graft.GraftQuery): Long =
      try q.run(spark, sfDir).count() catch { case _: Throwable => -1L }
    def objL(results: Seq[(String, Long)]) =
      results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

    def medianMin(samples: Seq[Double]): (Double, Double) = {
      val s = samples.sorted
      (s(1), s(0))
    }
    def obj(results: Seq[(String, (Double, Double))])(f: ((Double, Double)) => Double) =
      results.map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")

    // stdout (the driver tails it) AND a durable artifact file: the
    // committed per-round copy is what SURVEY §6 quotes, so no number
    // depends on an untruncated driver tail.
    def emit(line: String): Unit = {
      println(line)
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/latest.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    if (prodOnly) {
      SparkEntry.registry.foreach { q =>
        try run(q, prod = true) catch { case _: Throwable => () }
      }
      val bytesProd = SparkEntry.registry.map(q => q.name -> bytesOf(q, prod = true))
      val results = SparkEntry.registry.map { q =>
        q.name -> medianMin(Seq(timed(q, true), timed(q, true), timed(q, true)))
      }
      val total = results.map(_._2._1).sum
      emit(s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)(_._1)},"queries_min":${obj(results)(_._2)},"total_min":${results.map(_._2._2).sum},"shuffle_write_prod":${objL(bytesProd.map(b => b._1 -> b._2.write))},"shuffle_read_prod":${objL(bytesProd.map(b => b._1 -> b._2.read))},"mode":"prod","sf":"$sfDir"}""")
    } else {
      // warm both modes, then alternate oracle/prod samples per query;
      // within-pair order swaps per iteration so carryover averages out
      SparkEntry.registry.foreach { q =>
        try run(q, prod = false) catch { case _: Throwable => () }
        try run(q, prod = true) catch { case _: Throwable => () }
      }
      // the bit-stable columns first: per-query shuffle bytes (one warm
      // dedicated pass per mode) and oracle output rows
      val bytesOracle = SparkEntry.registry.map(q => q.name -> bytesOf(q, prod = false))
      val bytesProd = SparkEntry.registry.map(q => q.name -> bytesOf(q, prod = true))
      val rowCounts = SparkEntry.registry.map(q => q.name -> rowsOf(q))
      val both = SparkEntry.registry.map { q =>
        val samples = (1 to 3).map { i =>
          if (i % 2 == 1) {
            val o = timed(q, false); val p = timed(q, true); (o, p)
          } else {
            val p = timed(q, true); val o = timed(q, false); (o, p)
          }
        }
        (q.name, medianMin(samples.map(_._1)), medianMin(samples.map(_._2)))
      }
      val oracle = both.map { case (n, o, _) => n -> o }
      val prod = both.map { case (n, _, p) => n -> p }
      val total = oracle.map(_._2._1).sum
      val totalProd = prod.map(_._2._1).sum
      emit(s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(oracle)(_._1)},"queries_min":${obj(oracle)(_._2)},"total_min":${oracle.map(_._2._2).sum},"queries_prod":${obj(prod)(_._1)},"total_prod":$totalProd,"shuffle_write":${objL(bytesOracle.map(b => b._1 -> b._2.write))},"shuffle_read":${objL(bytesOracle.map(b => b._1 -> b._2.read))},"shuffle_write_prod":${objL(bytesProd.map(b => b._1 -> b._2.write))},"shuffle_read_prod":${objL(bytesProd.map(b => b._1 -> b._2.read))},"rows":${objL(rowCounts)},"sf":"$sfDir"}""")
    }
    spark.stop()
  }
}
