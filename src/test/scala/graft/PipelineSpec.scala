package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SinkConfig

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  private def raw(rows: Seq[(java.lang.Long, String, String, String, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "name", "detail", "price_str", "original_price_str", "discount_str")
  }

  test("end-to-end: parse, validate, dedupe, idempotent load, read back") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft-test/pipeline"))
    val cfg = SinkConfig(path = "/tmp/graft-test/pipeline")
    val batch = raw(Seq(
      (1L, "soap", "bar", "Rp12.500", "Rp15.000", "17%"),
      (1L, "soap", "bar", "Rp12.900", "Rp15.000", "14%"), // same product, re-crawled
      (2L, "tea", "box", "Rp8.000", "Rp8.000", "0%"),
      (null, "ghost", "x", "Rp1.000", "Rp1.000", "0%"),   // invalid: no id
    ))

    val quarantined = ScrapePipeline.run(batch, cfg)
    assert(quarantined.count() == 1, "invalid row quarantined, not dropped silently")

    val soap = ScrapePipeline.table(spark, cfg).filter(col("id") === 1L).collect().head
    assert(soap.getLong(soap.fieldIndex("price")) == 12900L, "deterministic winner kept per key")
    assert(soap.getString(soap.fieldIndex("platform")) == "tokopedia")
    assert(math.abs(soap.getDouble(soap.fieldIndex("discountpercentage")) - 0.14) < 1e-9, """"14%" -> 0.14""")
    assert(ScrapePipeline.table(spark, cfg).count() == 2, "deduped to one row per product")

    // re-run the same batch: same state (idempotent overwrite-by-partition)
    ScrapePipeline.run(batch, cfg)
    assert(ScrapePipeline.table(spark, cfg).count() == 2)
  }

  test("unparseable fields: a bad price is quarantined, bad optional fields load as NULL") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft-test/pipeline-bad"))
    val cfg = SinkConfig(path = "/tmp/graft-test/pipeline-bad")
    val batch = raw(Seq(
      (1L, "soap", "bar", "Rp12a.000", "Rp15.000", "17%"), // bad price
      (2L, "tea", "box", "Rp8.000", "Rp8.000", "x%"),      // bad discount
      (3L, "milk", "carton", "Rp5.000", "Rp5.0o0", "10%"), // bad original price
    ))
    val quarantined = ScrapePipeline.run(batch, cfg).collect()
    assert(quarantined.map(_.getAs[Long]("id")).toSeq == Seq(1L), "the bad-price row is quarantined")
    val rows = ScrapePipeline.table(spark, cfg).collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows.keySet == Set(2L, 3L), "the batch loads its other rows")
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("discountpercentage")))
    assert(rows(2L).getAs[Long]("originalprice") == 8000L)
    assert(rows(3L).isNullAt(rows(3L).fieldIndex("originalprice")))
    assert(rows(3L).getAs[Long]("price") == 5000L)
    assert(math.abs(rows(3L).getAs[Double]("discountpercentage") - 0.10) < 1e-9)
  }

  test("staged DAG run matches the one-shot pipeline and reports its stages") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft-test/staged"))
    val cfg = SinkConfig(path = "/tmp/graft-test/staged/sink")
    val batch = raw(Seq(
      (1L, "soap", "bar", "Rp12.500", "Rp15.000", "17%"),
      (2L, "tea", "box", "Rp8.000", "Rp8.000", "0%"),
      (null, "ghost", "x", "Rp1.000", "Rp1.000", "0%"),
    ))
    val reports = ScrapePipeline.runStaged(spark, batch, cfg, "/tmp/graft-test/staged/run")
    assert(reports.map(_.name) == Seq("parsed", "valid", "quarantine", "deduped"))
    assert(reports.forall(r => r.attempts == 1 && !r.resumed))
    assert(ScrapePipeline.table(spark, cfg).count() == 2)
    assert(spark.read.parquet("/tmp/graft-test/staged/run/quarantine").count() == 1)
  }

  test("staged DAG retries a failing stage and resumes completed stages on re-run") {
    import spark.implicits._
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft-test/dag"))
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)

    def stages(failFirst: Boolean): Seq[(String, Map[String, org.apache.spark.sql.DataFrame] => org.apache.spark.sql.DataFrame)] = Seq(
      "base" -> (_ => { builds.incrementAndGet(); src }),
      "doubled" -> (up => {
        if (failFirst && flaky.incrementAndGet() == 1)
          throw new RuntimeException("transient stage failure")
        up("base").withColumn("v2", concat(col("v"), col("v")))
      }),
    )

    // attempt 1 of "doubled" fails -> retried within the same run
    val (outs, reports) = StagedDag.run(spark, "/tmp/graft-test/dag", stages(failFirst = true))
    assert(reports == Seq(
      StagedDag.StageReport("base", 1, resumed = false),
      StagedDag.StageReport("doubled", 2, resumed = false)), "failing stage retried once")
    assert(outs("doubled").count() == 2)

    // re-run: both stages resume from their _SUCCESS checkpoints — no
    // builder executes again (the crash-recovery path)
    val before = builds.get()
    val (outs2, reports2) = StagedDag.run(spark, "/tmp/graft-test/dag", stages(failFirst = false))
    assert(reports2.forall(_.resumed), "completed stages are skipped on re-run")
    assert(builds.get() == before, "resumed stages never rebuild")
    assert(outs2("doubled").collect().map(_.getString(2)).sorted.toSeq == Seq("aa", "bb"))

    // a stage that exhausts retries surfaces the failure
    val always = Seq("boom" -> ((_: Map[String, org.apache.spark.sql.DataFrame]) =>
      throw new RuntimeException("permanent")): (String, Map[String, org.apache.spark.sql.DataFrame] => org.apache.spark.sql.DataFrame))
    val e = intercept[IllegalStateException] {
      StagedDag.run(spark, "/tmp/graft-test/dag2", always, retries = 1)
    }
    assert(e.getMessage.contains("after 2 attempts"))
  }

  test("staged curation resumes after a killed stage with identical verdicts") {
    import spark.implicits._
    val run = "/tmp/graft-test/curate-staged"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
    val vocab = Seq("spark", "data", "query", "join", "hash", "scan", "sort", "merge")
    def text(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(100)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val t1 = text(1)
    val docs = Seq(
      (1L, t1, "en"), (2L, t1, "en"),
      (3L, t1.split(" ").updated(90, "zzzz").mkString(" "), "en"),
      (4L, "ab cd", "en"), (5L, text(2), "de"), (6L, text(3), "en"),
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    def verdictMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    val oneShot = verdictMap(operators.Curate.curate(docs))
    val (dec1, reports1) = operators.Curate.curateStaged(spark, docs, run)
    assert(reports1.map(_.name) == Seq("staged", "exact", "near", "clusters", "decisions"))
    assert(reports1.forall(r => r.attempts == 1 && !r.resumed))
    assert(verdictMap(dec1) == oneShot, "staged run matches the one-shot pipeline")

    // kill the near stage mid-pipeline (no _SUCCESS = crashed mid-write),
    // clearing its downstream like Airflow's clear-with-downstream; the
    // re-run resumes staged+clusters from their markers and recomputes
    // only what died
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$run/near/_SUCCESS"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$run/decisions"))
    val (dec2, reports2) = operators.Curate.curateStaged(spark, docs, run)
    val byName = reports2.map(r => r.name -> r.resumed).toMap
    assert(byName == Map("staged" -> true, "exact" -> true, "near" -> false,
      "clusters" -> true, "decisions" -> false))
    assert(verdictMap(dec2) == oneShot, "resumed run reproduces identical verdicts")
  }

  test("decontaminating curation runs staged and resumes after a killed contam stage") {
    import spark.implicits._
    val run = "/tmp/graft-test/dag-decontam"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
    def tk(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val benchText = tk("bench", 60)
    val docs = Seq(
      (20L, benchText, "en"),
      (1L, tk("q", 50) + " " + benchText.split(" ").take(10).mkString(" "), "en"),
      (2L, tk("t", 100), "en"),
      (3L, tk("t", 100), "en"),
      (4L, "ab cd", "en"),
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    def verdictMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    val oneShot = verdictMap(operators.Curate.curateDecontam(docs))
    assert(oneShot(1L)._1 == "contaminated" && oneShot(3L)._1 == "exact_dup")
    val (dec1, reports1) = operators.Curate.curateDecontamStaged(spark, docs, run)
    assert(reports1.map(_.name) ==
      Seq("staged", "contam", "contam_fuzzy", "contam_sem", "exact", "near", "clusters",
        "decisions"))
    assert(verdictMap(dec1) == oneShot, "staged decontam run matches the one-shot pipeline")

    // kill the contam stage: downstream gates depend on it, so clear them
    // too (Airflow clear-with-downstream); resume recomputes only the dead
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$run/contam/_SUCCESS"))
    Seq("contam_fuzzy", "contam_sem", "exact", "near", "clusters", "decisions").foreach { s =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$run/$s"))
    }
    val (dec2, reports2) = operators.Curate.curateDecontamStaged(spark, docs, run)
    val byName = reports2.map(r => r.name -> r.resumed).toMap
    assert(byName("staged") && !byName("contam") && !byName("decisions"))
    assert(verdictMap(dec2) == oneShot, "resumed run reproduces identical verdicts")
  }

  test("staged DAG does NOT retry fatal errors — they propagate on the first attempt") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val fatal = Seq("oom" -> ((_: Map[String, org.apache.spark.sql.DataFrame]) => {
      attempts.incrementAndGet()
      throw new OutOfMemoryError("simulated")
    }): (String, Map[String, org.apache.spark.sql.DataFrame] => org.apache.spark.sql.DataFrame))
    intercept[OutOfMemoryError] {
      StagedDag.run(spark, "/tmp/graft-test/dag3", fatal, retries = 2)
    }
    assert(attempts.get() == 1, "a fatal JVM error must not be re-attempted")
  }
}
