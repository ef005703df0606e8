package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gfunctions
import graft.operators.{Curate, Dedup, Graph, TrainPipeline, TrainPrep}

/** `curate_train`: repeated `TrainPipeline.manifest` over a seed-chosen
  * subset of a generated corpus with planted exact, near-duplicate and
  * benchmark-copy documents. The warm-up checks the decision table the
  * manifest is built on; an untraced run times at least two manifests,
  * every one must equal the first, and the first is checked against the
  * registry oracle SQL in DuckDB after the run.
  *
  * The traced run adds, after its first manifest, one `layers` op that
  * calls the layers the manifest is built from — curation stage table,
  * contamination rungs, near-dup pairs and gates, crawl-priority rank, pack
  * and shuffle, and the `graft.functions` kernels — directly on the same
  * input.
  */
final class CurateTrain(spark: SparkSession, seed: Long) extends Workload {
  import CurateTrain._

  val primary = "manifest"
  override val minRounds = 2
  private var input: String = _
  private var inputSize = 0L
  private var first: Option[IndexedSeq[Row]] = None

  def prepare(dir: String): Unit = {
    input = s"$dir/documents.parquet"
    // the subset: every document but a seed-chosen quarter
    spark.createDataFrame(Corpus.generate(seed, 0, CorpusDocs))
      .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(4)) =!= 0)
      .coalesce(1).write.parquet(input)
    inputSize = spark.read.parquet(input).count()
    first = None
  }

  private def manifestOp(): Long = {
    val docs = spark.read.parquet(input)
    val rows = TrainPipeline.manifest(docs).collect().sortBy(_.getLong(0)).toIndexedSeq
    Check(rows.nonEmpty, "empty manifest")
    Check(rows.map(_.getLong(0)).distinct.size == rows.size, "duplicate doc_id in the manifest")
    var offset = 0L
    rows.foreach { r =>
      Check(r.getLong(2) == offset, s"start_offset ${r.getLong(2)} of doc ${r.getLong(0)}, running sum $offset")
      offset += r.getLong(1)
    }
    first match {
      case Some(want) => Check(rows == want, "manifest differs from the run's first one")
      case None => first = Some(rows)
    }
    inputSize
  }

  /** Kernel cost per row: `work` (the kernel reduced over a cached frame)
    * less `baseline` (the same reduction over a trivial expression), so job
    * overhead and the scan drop out. Each side is the median of
    * [[KernelReps]] timings, each of a freshly built Dataset: collecting
    * one Dataset again reuses its materialized AQE stages, so the kernel
    * would not run again.
    */
  private def kernel(rec: Recorder, name: String, rows: Long, baseline: => DataFrame, work: => DataFrame): Unit = {
    def timed(f: => DataFrame) = { val t0 = System.nanoTime(); f.collect(); System.nanoTime() - t0 }
    def median(f: => DataFrame) = Seq.fill(KernelReps)(timed(f)).sorted.apply(KernelReps / 2)
    val base = median(baseline)
    val t = rec.layer(s"functions.$name")(median(work))
    rec.sample(s"functions.${name}_ns_per_row", (t - base).toDouble / rows)
  }

  private def layersOp(rec: Recorder): Long = {
    val docs = spark.read.parquet(input)
    val staged = rec.layer("curate.stage_table")(Curate.stageTable(docs).localCheckpoint())
    val bench = staged.filter(col("doc_id") % 20 === 0)
    val gated = Curate.gatedOf(staged.filter(col("doc_id") % 20 =!= 0))
    rec.layer("curate.contam_rungs") {
      Curate.contamGate(gated, bench).select("doc_id")
        .unionAll(Curate.contamFuzzyGate(gated, bench))
        .unionAll(Curate.contamSemGate(gated, bench)).count()
    }
    rec.layer("dedup.near_pairs") {
      Dedup.nearDupPairsAgainstT(gated.select("doc_id", "toks"), bench.select("doc_id", "toks")).count()
    }
    val exactMap = Curate.exactGate(gated).localCheckpoint()
    val reps = Curate.repsOf(gated, exactMap)
    rec.layer("curate.near_gate")(Curate.nearGate(reps, portableHash = true).count())
    rec.layer("curate.fam_gate")(Curate.famGate(reps).count())
    rec.layer("graph.crawl_keep")(Graph.crawlPriorityKeepOf(docs).count())
    rec.layer("train_pipeline.pack_shuffle") {
      val train = docs.select("doc_id").filter(TrainPrep.splitOf(col("doc_id")) === "train")
      TrainPrep.packTokensProdOf(TrainPrep.perDocTokens(docs).join(train, Seq("doc_id"), "left_semi"))
        .join(TrainPrep.trainShuffleOf(train), Seq("doc_id")).count()
    }
    // kernels over a larger cached row set, so the kernel outweighs the
    // job around it
    val wide = staged.crossJoin(spark.range(KernelCopies).toDF("copy")).cache()
    val wideText = docs.select("text").crossJoin(spark.range(KernelCopies)).cache()
    val vecs = wide.select(col("copy"), col("doc_id"), col("n_toks"),
      transform(slice(col("toks"), 1, 8), t => length(t).cast("float")).as("v")).cache()
    val rows = wide.count()
    wideText.count()
    vecs.count()
    def reduce(f: DataFrame, c: Column) = f.agg(sum(c))
    val nToks = size(col("toks"))
    kernel(rec, "ws_tokens", rows, reduce(wideText, length(col("text"))),
      reduce(wideText, size(gfunctions.ws_tokens(col("text")))))
    kernel(rec, "minhash_sig", rows, reduce(wide, nToks), reduce(wide, size(gfunctions.minhash_sig(col("toks"), 16))))
    kernel(rec, "kgram_md5_hashes", rows, reduce(wide, nToks),
      reduce(wide, size(gfunctions.kgram_md5_hashes(col("toks"), TrainPrep.DecontamN))))
    kernel(rec, "cosine_sim", rows, reduce(vecs, size(col("v"))),
      reduce(vecs, gfunctions.cosine_sim(col("v"), reverse(col("v")))))
    kernel(rec, "top_k_by_score", rows, vecs.groupBy(col("copy")).agg(max(col("n_toks"))),
      vecs.groupBy(col("copy")).agg(gfunctions.top_k_by_score(col("doc_id"), col("n_toks").cast("double"), 10)))
    Seq(wide, wideText, vecs).foreach(_.unpersist())
    0L
  }

  /** The decision table the manifest is built on, checked for one verdict
    * per corpus document, then the rest of a manifest over it (train ids,
    * pack, shuffle). It is the warm-up round: it warms every step of the
    * manifest, so no timed manifest is the first of its JVM.
    */
  private def decisionsOp(): Long = {
    val docs = spark.read.parquet(input)
    val decisions = Curate.curateDecontam(docs).localCheckpoint()
    val dec = decisions.groupBy("doc_id").count()
      .agg(count(lit(1)), sum(when(col("count") =!= 1, 1).otherwise(0))).collect()(0)
    val corpus = docs.filter(col("doc_id") % 20 =!= 0).count()
    Check(dec.getLong(0) == corpus && dec.getLong(1) == 0,
      s"${dec.getLong(0)} decided docs of $corpus, ${dec.getLong(1)} with several verdicts")
    val train = TrainPipeline.trainIds(docs, decisions, TrainPipeline.TempAlpha2).localCheckpoint()
    TrainPrep.packTokensProdOf(TrainPrep.perDocTokens(docs).join(train, Seq("doc_id"), "left_semi"))
      .join(TrainPrep.trainShuffleOf(train), Seq("doc_id")).count()
    corpus
  }

  private var decisionsError: Option[String] = None

  def round(rec: Recorder, n: Int): Seq[OpResult] =
    if (n < 0) {
      val d = rec.op("decisions")(decisionsOp())
      decisionsError = d.error
      Seq(d)
    } else {
      val op = rec.op(primary)(manifestOp())
      // the layers once per run, so the traced run keeps within its time limit
      if (rec.traced && n == 0) Seq(op, rec.op("layers", probe = true)(layersOp(rec))) else Seq(op)
    }

  def finalChecks(rec: Recorder, outDir: String): Seq[String] = {
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/manifest.sql"),
      graft.SparkEntry.oracleSql("train_prep_e2e").getBytes("UTF-8"))
    first.foreach { rows =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
        .coalesce(1).write.parquet(s"$outDir/manifest")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/manifest.input"), input.getBytes("UTF-8"))
    }
    decisionsError.map(e => s"decision table: $e").toSeq
  }
}

object CurateTrain {
  val CorpusDocs = 800
  val KernelCopies = 60
  val KernelReps = 3
}
