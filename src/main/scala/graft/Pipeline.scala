package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.{ParquetSink, SinkConfig}

/** The reference pipeline end-to-end, re-expressed as one declarative job:
  * scrape-shaped raw records -> parse -> validate -> dedupe -> stamp ->
  * partitioned idempotent load. Mirrors the Airflow DAG's single task
  * (scrap_tokopedia.py: extract 231-277, transform 256-266, load 279-297)
  * with the row contract of `main.tr_raw_scrap_data` (scrap_tokopedia.py:
  * 81-92): id, name, detail, price, originalprice, discountpercentage,
  * platform, createdate.
  *
  * Where the reference runs 5x5 process pools and row-at-a-time INSERTs,
  * this runs as Spark partitions end-to-end and one columnar partitioned
  * write — the same logic at any scale, re-runnable without duplicates.
  */
object ScrapePipeline {

  /** "Rp1.234.567" -> 1234567 (scrap_tokopedia.py:256). An unparseable
    * string reads NULL, as the reference's per-field parse does
    * ([[operators.HtmlTree.extractProduct]]), so one bad value cannot
    * fail a batch under ANSI casts.
    */
  private[graft] def priceOf(s: Column): Column =
    regexp_replace(regexp_replace(s, "Rp", ""), "\\.", "").try_cast(LongType)

  /** "25%" -> 0.25 (scrap_tokopedia.py:262); NULL when unparseable. */
  private[graft] def discountOf(s: Column): Column =
    regexp_replace(s, "%", "").try_cast(DoubleType) / 100

  /** Transform: the reference's field parses as codegen'd expressions over
    * a raw scrape frame with columns (id, name, detail, price_str,
    * original_price_str, discount_str). A price that does not parse is
    * NULL and [[validate]] quarantines its row; an optional field that
    * does not parse loads as NULL.
    */
  def transform(raw: DataFrame, platform: String, createdate: String): DataFrame =
    raw
      .select(
        col("id"),
        col("name"),
        col("detail"),
        priceOf(col("price_str")).as("price"),
        priceOf(col("original_price_str")).as("originalprice"),
        discountOf(col("discount_str")).as("discountpercentage"),
        lit(platform).as("platform"),
        to_date(lit(createdate)).as("createdate"),
      )

  /** Validity gate (is_page_empty / invalid-product markers,
    * scrap_tokopedia.py:199-211): required fields present, price parsed.
    * Returns (valid, quarantined) — invalid rows are never silently lost.
    */
  def validate(parsed: DataFrame): (DataFrame, DataFrame) = {
    val ok = col("id").isNotNull && col("name").isNotNull && col("price").isNotNull
    (parsed.filter(ok), parsed.filter(!ok))
  }

  /** One row per natural key within the batch (the scraper can see the same
    * product on several catalog pages). Winner is deterministic (max_by
    * price — batch rows carry no crawl timestamp); cross-batch newest-wins
    * is the sink's overwrite-by-partition. One hash aggregate, no sort.
    */
  def dedupeLatest(valid: DataFrame): DataFrame =
    valid
      .groupBy("id")
      .agg(max_by(
        struct(valid.columns.filter(_ != "id").toIndexedSeq.map(col): _*), col("price")).as("w"))
      .select(col("id") +: valid.columns.filter(_ != "id").toIndexedSeq.map(c => col(s"w.$c")): _*)

  /** Full run: returns the quarantine frame (for monitoring) after loading
    * the valid records idempotently into the partitioned sink.
    */
  def run(
      raw: DataFrame,
      cfg: SinkConfig,
      platform: String = "tokopedia",
      createdate: String = "2025-08-01"): DataFrame = {
    val parsed = transform(raw, platform, createdate)
    val (valid, quarantined) = validate(parsed)
    ParquetSink.load(dedupeLatest(valid), cfg)
    quarantined
  }

  /** Read the loaded table back — what the reference's downstream SQL sees. */
  def table(spark: SparkSession, cfg: SinkConfig): DataFrame = ParquetSink.read(spark, cfg)

  /** The same pipeline as [[run]], executed as a checkpointed STAGED DAG
    * (parse -> valid -> quarantine -> deduped) with per-stage retries —
    * then the idempotent sink load. Returns the stage reports.
    */
  def runStaged(
      spark: SparkSession,
      raw: DataFrame,
      cfg: SinkConfig,
      runDir: String,
      platform: String = "tokopedia",
      createdate: String = "2025-08-01"): Seq[StagedDag.StageReport] = {
    val (outs, reports) = StagedDag.run(spark, runDir, Seq(
      "parsed" -> (_ => transform(raw, platform, createdate)),
      "valid" -> (up => validate(up("parsed"))._1),
      "quarantine" -> (up => validate(up("parsed"))._2),
      "deduped" -> (up => dedupeLatest(up("valid"))),
    ))
    ParquetSink.load(outs("deduped"), cfg)
    reports
  }
}

/** Orchestration semantics the reference gets from Airflow
  * (unilever_scraping_pipeline.py: a DAG of tasks with retries and
  * re-runnable state), re-expressed storage-first:
  *
  *  - Each stage's output is written to `runDir/<stage>/` as parquet; the
  *    committer's `_SUCCESS` marker IS the completion flag — it only
  *    exists if the whole distributed write committed, so a crash
  *    mid-stage leaves no marker and the re-run recomputes that stage.
  *  - A re-run SKIPS completed stages and reads their checkpoints back —
  *    resume-from-failure with no duplicate work, and downstream stages
  *    see byte-identical inputs whether computed or resumed (Airflow's
  *    state-via-storage, which at 100 TB is also the right lineage cut:
  *    stage k's plan never replays stages 1..k-1).
  *  - Per-stage retry loop (Airflow `retries`): each attempt rewrites the
  *    stage dir with mode=overwrite, so a failed attempt's partial output
  *    can never leak into the next.
  */
object StagedDag {

  final case class StageReport(name: String, attempts: Int, resumed: Boolean)

  /** Run `stages` in order; each builder sees the outputs of all prior
    * stages (read back from their checkpoints). Returns (outputs, reports).
    */
  def run(
      spark: SparkSession,
      runDir: String,
      stages: Seq[(String, Map[String, DataFrame] => DataFrame)],
      retries: Int = 2): (Map[String, DataFrame], Seq[StageReport]) = {
    val fs = graft.sources.IndexLayout.fsOf(spark, runDir)
    var outs = Map.empty[String, DataFrame]
    val reports = Seq.newBuilder[StageReport]
    stages.foreach { case (name, build) =>
      val dir = s"$runDir/$name"
      val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      if (fs.exists(marker)) {
        outs += name -> spark.read.parquet(dir)
        reports += StageReport(name, 0, resumed = true)
      } else {
        var attempt = 0
        var ok = false
        var lastErr: Throwable = null
        while (!ok && attempt <= retries) {
          attempt += 1
          try {
            build(outs).write.mode("overwrite").parquet(dir)
            ok = true
          } catch {
            // NonFatal only: an OOM / linkage error / interrupt is not a
            // retryable task failure — Airflow fails the task there too, and
            // retrying a JVM already out of memory just burns the budget and
            // masks the real state. Fatal errors propagate immediately.
            case scala.util.control.NonFatal(e) => lastErr = e
          }
        }
        if (!ok)
          throw new IllegalStateException(
            s"stage '$name' failed after $attempt attempts", lastErr)
        outs += name -> spark.read.parquet(dir)
        reports += StageReport(name, attempt, resumed = false)
      }
    }
    (outs, reports.result())
  }
}
