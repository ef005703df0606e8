package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.GraftQuery
import graft.operators.{Events, RelationalCore}
import graft.sources.{Generations, IndexLayout}

import scala.collection.mutable.ListBuffer

/** Structured Streaming surface. Every streaming operator has a batch twin
  * built from the SAME core transform, so the DuckDB oracle checks the
  * semantics and the MemoryStream specs check the incremental execution —
  * one logic, two runners (the Dataflow/Beam "unified model" discipline).
  */
object Streams {

  // ------------------------------------------------------- windowed agg

  /** Tumbling 1-hour event-time window per event_type. Applied verbatim to
    * the batch table and (with a watermark) to a stream.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        RelationalCore.dsum(col("value"), 4).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming twin: 2h watermark bounds state; windows emit on close
    * (Append). State size = open windows x event_types — constant per key,
    * safe at any scale.
    */
  def windowedAggStream(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "2 hours"))

  // --------------------------------------------------- windowed profile

  /** Windowed ingest profile — q97's data-quality audit as a streaming
    * lane (r18 verdict candidate (b)): per 1-hour event-time window
    * and profiled column, rows / nulls / min / max rendered as strings
    * (q97's shared-output-schema discipline; the DOUBLE column renders
    * through DECIMAL(18,4) so both engines print one fixed-scale
    * form — the dsum rendering rule applied to bounds). ONE aggregate
    * per window computes all 10 legs, then the 1-row-per-window result
    * unpivots via stack() — a stateless post-agg projection, so the
    * streaming state is exactly the window's single aggregate row.
    *
    * Exact DISTINCT is the one q97 leg the streaming model cannot emit
    * in append mode (it would hold the window's whole value set as
    * state); the swap is `approx_count_distinct` (HLL++ — mergeable
    * sketch state, the sketch_approx_distinct path), the same
    * relaxation q97's scaladoc names for the 100 TB text leg — and
    * the STREAMING lane ([[windowedProfileApprox]], r20) EMITS it as
    * `n_distinct_approx` beside n/null/min/max, completing q97's
    * column coverage. The sketch values are engine-specific, so the
    * HARD-gated twin stays this exact-legs rendering (the
    * sketch_approx_distinct gating discipline: exact twin hash-green,
    * sketch leg spec-graded with an error bound).
    */
  def windowedProfile(events: DataFrame): DataFrame = {
    val one = events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("event_type")).as("nn_0"),
        min(col("event_type")).cast("string").as("mn_0"),
        max(col("event_type")).cast("string").as("mx_0"),
        count(col("user_id")).as("nn_1"),
        min(col("user_id")).cast("string").as("mn_1"),
        max(col("user_id")).cast("string").as("mx_1"),
        count(col("value")).as("nn_2"),
        min(col("value").cast("decimal(18,4)")).cast("string").as("mn_2"),
        max(col("value").cast("decimal(18,4)")).cast("string").as("mx_2"))
    one.select(col("w.start").as("window_start"), expr(
      "stack(3," +
        " 'event_type', n_rows, n_rows - nn_0, mn_0, mx_0," +
        " 'user_id', n_rows, n_rows - nn_1, mn_1, mx_1," +
        " 'value', n_rows, n_rows - nn_2, mn_2, mx_2)" +
        " AS (col_name, n_rows, n_null, min_v, max_v)"))
  }

  /** [[windowedProfile]] + the HLL++ distinct leg (r19 verdict item
    * 7): `approx_count_distinct` per profiled column, appended as
    * `n_distinct_approx` AFTER the exact columns so every consumer of
    * the exact prefix (the recovery matrix, the batch-parity spec)
    * reads unchanged positions. Sketch state is mergeable and
    * fixed-size per (window, column) — streaming-append safe where
    * exact DISTINCT is not; default rsd 5%, and HLL++'s sparse mode
    * makes small-cardinality windows exact (spec-pinned both ways).
    */
  def windowedProfileApprox(events: DataFrame): DataFrame = {
    val one = events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("event_type")).as("nn_0"),
        approx_count_distinct(col("event_type")).as("nd_0"),
        min(col("event_type")).cast("string").as("mn_0"),
        max(col("event_type")).cast("string").as("mx_0"),
        count(col("user_id")).as("nn_1"),
        approx_count_distinct(col("user_id")).as("nd_1"),
        min(col("user_id")).cast("string").as("mn_1"),
        max(col("user_id")).cast("string").as("mx_1"),
        count(col("value")).as("nn_2"),
        approx_count_distinct(col("value")).as("nd_2"),
        min(col("value").cast("decimal(18,4)")).cast("string").as("mn_2"),
        max(col("value").cast("decimal(18,4)")).cast("string").as("mx_2"))
    one.select(col("w.start").as("window_start"), expr(
      "stack(3," +
        " 'event_type', n_rows, n_rows - nn_0, mn_0, mx_0, nd_0," +
        " 'user_id', n_rows, n_rows - nn_1, mn_1, mx_1, nd_1," +
        " 'value', n_rows, n_rows - nn_2, mn_2, mx_2, nd_2)" +
        " AS (col_name, n_rows, n_null, min_v, max_v, n_distinct_approx)"))
  }

  /** Streaming twin: 2h watermark, windows emit their profile rows on
    * close (Append). State = one aggregate row per open window (the
    * HLL registers are part of that one row) — constant, safe at any
    * scale. The lane carries the full q97 column coverage including
    * the sketch distinct; the exact prefix (positions 0-5) is
    * byte-identical to [[windowedProfile]]'s gated output.
    */
  def windowedProfileStream(events: DataFrame): DataFrame =
    windowedProfileApprox(events.withWatermark("ts", "2 hours"))

  // ------------------------------------------- stream-stream interval join

  /** Click→purchase attribution: every (click, purchase) pair of the same
    * user with the purchase in [click, click+30min]. The batch twin is an
    * equi-join on user_id with a range residual — a plain shuffled join,
    * never a cartesian. Streaming: both sides watermarked, interval
    * condition bounds the buffered state to the watermark horizon.
    */
  def intervalJoinBatch(events: DataFrame): DataFrame = {
    val ev = events.withColumn("ts_ms", unix_millis(col("ts")))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_ms").as("click_ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ms"))
    c.join(p, Seq("user_id"))
      .filter(col("purchase_ms") >= col("click_ms") &&
        col("purchase_ms") <= col("click_ms") + lit(1800000L))
      .select(
        col("user_id"), col("click_id"), col("purchase_id"),
        ((col("purchase_ms") - col("click_ms")) / 1000.0).as("gap_sec"))
      .orderBy("click_id", "purchase_id")
  }

  /** Streaming twin over two watermarked streams with schemas
    * clicks(user_id, click_id, cts) / purchases(user_id, purchase_id, pts).
    */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("cts", "1 hour").alias("c")
      .join(
        purchases.withWatermark("pts", "1 hour").alias("p"),
        expr("c.user_id = p.user_id AND pts >= cts AND pts <= cts + interval 30 minutes"))
      .select(
        col("c.user_id").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_millis(col("pts")) - unix_millis(col("cts"))).as("gap_ms"))

  // ------------------------------------------------------ streaming dedup

  /** Streaming exact dedup on a key within the watermark horizon: state
    * holds only keys younger than the watermark (bounded), late duplicates
    * beyond it age out — the streaming twin of Dedup.exact for the
    * at-least-once delivery a scraper/event bus produces.
    */
  def dedupStream(events: DataFrame, keyCol: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keyCol)

  // ------------------------------------------- streaming curation gates

  final case class CurGated(doc_id: Long, text_md5: String, ts: java.sql.Timestamp)
  final case class CurVerdict(doc_id: Long, verdict: String)

  /** Incremental curation for streaming corpus ingest: the per-row gates
    * (too_short / wrong_lang) run stateless and codegen'd, and the exact
    * gate is keyed state on the 16-byte text_md5 within a 1-hour
    * watermark horizon — first arrival is `kept`, every later copy
    * `exact_dup` (stream keeper = FIRST arrival; the batch pipeline's
    * min-doc_id rule needs global order a stream doesn't have). Gate
    * failures never enter the dedup state, so state size is bounded by
    * distinct gated texts per horizon. Near-dup/family gates need
    * corpus-global evidence and stay in the periodic batch
    * [[graft.operators.Curate]] run — the standard streaming/batch split
    * for curation. Emits one verdict per arriving doc (Append).
    */
  def curateStream(docs: DataFrame, lang: String = "en", minTokens: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val staged = docs.select(
      col("doc_id"), col("lang"), col("ts"),
      md5(col("text")).as("text_md5"),
      size(graft.gfunctions.ws_tokens(col("text"))).as("n_toks"))
    // Null-safe split: a NULL lang matches neither `=!=` nor `===`, which
    // would silently drop the row from BOTH branches — every arriving doc
    // must land in exactly one (batch Curate.verdicts uses the same
    // null-safe rule, so the twins agree: NULL lang => wrong_lang).
    val failed = staged
      .filter(col("n_toks") < minTokens || !col("lang").eqNullSafe(lang))
      .select(
        col("doc_id"),
        when(col("n_toks") < minTokens, lit("too_short"))
          .otherwise(lit("wrong_lang")).as("verdict"))
    val deduped = staged
      .filter(col("n_toks") >= minTokens && col("lang").eqNullSafe(lang))
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("text_md5"), col("ts")).as[CurGated]
      .groupByKey(_.text_md5)
      .flatMapGroupsWithState[Boolean, CurVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, it: Iterator[CurGated], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // One pass, buffering only doc_ids: a same-text flood within a
            // micro-batch (scraped-boilerplate burst) must not materialize
            // whole rows. The keeper is the min-(ts, doc_id) arrival; every
            // other copy is exact_dup regardless of order, so tracking the
            // min while streaming the iterator is enough for determinism.
            val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
            var minTs = Long.MaxValue
            var minId = Long.MaxValue
            var maxTs = Long.MinValue
            it.foreach { d =>
              ids += d.doc_id
              val t = d.ts.getTime
              if (t < minTs || (t == minTs && d.doc_id < minId)) {
                minTs = t; minId = d.doc_id
              }
              if (t > maxTs) maxTs = t
            }
            val seenBefore = state.getOption.getOrElse(false)
            state.update(true)
            state.setTimeoutTimestamp(maxTs, "1 hour")
            val keeper = minId
            ids.iterator.map(id =>
              CurVerdict(id, if (seenBefore || id != keeper) "exact_dup" else "kept"))
          }
      }
    failed.as[CurVerdict].union(deduped).toDF()
  }

  /** Stream-vs-corpus NEAR-dup matching: each arriving doc is minhashed
    * per-row (native ws_tokens + minhash_sig kernels — stateless) and
    * band-joined against a STATIC reference corpus's signature table, so
    * incremental ingest can flag near-duplicates of an EXISTING corpus
    * without corpus-global state in the stream. Stream-static equi-joins
    * are stateless in Append mode; the only streaming state is the
    * watermark-bounded (doc, ref) pair dedup (a pair matching on several
    * bands emits once). Emits (doc_id, ref_id, est_jaccard >= tau).
    *
    * This completes the curation split: [[curateStream]] handles per-row
    * + exact gates live, this matches new docs against the curated
    * corpus, and the periodic batch [[graft.operators.Curate]] run
    * resolves stream-internal near-dups and families.
    */
  def nearDupStream(
      docs: DataFrame,
      corpus: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      bucketCap: Int = 10000): DataFrame = {
    val signed = graft.operators.Lsh.minhashSigned(
      docs, graft.gfunctions.ws_tokens(col("text")), k, "doc_id", "ts")
      .withWatermark("ts", "1 hour")
    verifiedAgainstRef(signed, nearDupRef(corpus, k, bands, bucketCap), k, bands, tau, "doc_id", "ts")
      .dropDuplicatesWithinWatermark("doc_id", "ref_id")
      .select("doc_id", "ref_id", "est_jaccard")
  }

  /** The (ref_id, ref_sig, band_key) reference signature table of the
    * minhash stream lanes: banded xxhash minhash signatures of the
    * corpus, capped like every batch LSH path — a degenerate mega-bucket
    * in the reference corpus (boilerplate family) would otherwise fan
    * each arriving doc out across the whole bucket in the band join.
    */
  private def nearDupRef(corpus: DataFrame, k: Int, bands: Int, bucketCap: Int): DataFrame = {
    import graft.operators.{Dedup, Lsh}
    val sigged = Lsh.minhashSigned(Dedup.tokenized(corpus), col("toks"), k, "doc_id")
    Lsh.capBuckets(Lsh.minhashBanded(sigged, k, bands, "doc_id", "sig"), Seq("band_key"), bucketCap)
      .select(col("doc_id").as("ref_id"), col("sig").as("ref_sig"), col("band_key"))
  }

  /** Signed arrivals (`keep` columns + `sig`) banded, band-joined to a
    * [[nearDupRef]] table and verified on full signatures: the rows whose
    * `est_jaccard` is at least `tau`, one per shared band (pair dedup is
    * the caller's: watermark state in a stream, a plain distinct in a
    * batch).
    */
  private def verifiedAgainstRef(
      signed: DataFrame, ref: DataFrame, k: Int, bands: Int, tau: Double,
      keep: String*): DataFrame = {
    import graft.operators.Lsh
    Lsh.minhashBanded(signed, k, bands, keep :+ "sig": _*)
      .join(ref, Seq("band_key"))
      .withColumn("est_jaccard", Lsh.agreement(col("sig"), col("ref_sig"), k))
      .filter(col("est_jaccard") >= tau)
  }

  /** Build (or REBUILD) the reference signature table [[nearDupStreamRefreshing]]
    * reads: banded minhash signatures of the corpus, degenerate buckets
    * capped, written as parquet to `dir`. This is the producer side of
    * the refresh story — the periodic batch [[graft.operators.Curate]]
    * run recomputes it over the current curated corpus and overwrites
    * the directory; the running stream picks the swap up on its next
    * micro-batch, no restart.
    *
    * Concurrency contract: ONE producer per reference directory (the
    * overwrite is not arbitrated between producers); safe concurrent
    * with any number of stream readers. The parquet overwrite is NOT
    * atomic against a reader's file listing — a reader that races the
    * swap can list files that vanish before its scan — so the
    * refreshing lanes re-read the reference inside their
    * transient-retry envelope ([[refreshingLane]]), and the next
    * micro-batch re-lists (the SURVEY §4 contract table).
    */
  def writeNearDupRef(
      corpus: DataFrame,
      dir: String,
      k: Int = 16,
      bands: Int = 4,
      bucketCap: Int = 10000): Unit =
    nearDupRef(corpus, k, bands, bucketCap).write.mode("overwrite").parquet(dir)

  /** One batch of docs against a prebuilt (ref_id, ref_sig, band_key)
    * signature table: minhash per row, band-join, estimate, threshold.
    * The shared match core under both the static-join stream and the
    * refreshing foreachBatch stream.
    */
  private[graft] def nearDupMatch(
      docBatch: DataFrame,
      ref: DataFrame,
      k: Int,
      bands: Int,
      tau: Double): DataFrame =
    verifiedAgainstRef(
      graft.operators.Lsh.minhashSigned(
        docBatch, graft.gfunctions.ws_tokens(col("text")), k, "doc_id"),
      ref, k, bands, tau, "doc_id")
      .dropDuplicates("doc_id", "ref_id")
      .select("doc_id", "ref_id", "est_jaccard")

  /** REFRESHABLE stream-vs-corpus near-dup matching: the reference
    * signature table is RE-READ from `refSigDir` inside `foreachBatch`
    * on EVERY micro-batch, so a periodic batch rebuild
    * ([[writeNearDupRef]] over the current curated corpus) is picked up
    * by the running stream without restart. A plain stream-static join
    * ([[nearDupStream]]) pins its file listing when the query STARTS —
    * signature refreshes are invisible to it until restart; that
    * variant trades refreshability for engine-managed pair-dedup state.
    *
    * The trade here runs the other way: foreachBatch sees each
    * micro-batch as a plain DataFrame, so cross-micro-batch (doc, ref)
    * pair dedup moves from watermark state to the SINK's idempotence
    * rule — `sink` receives per-batch-deduped match rows and must
    * upsert/overwrite by (doc_id, ref_id), exactly the q27
    * idempotent-load discipline the batch ETL already pins. Matching
    * semantics are [[nearDupMatch]], shared with the static variant.
    */
  def nearDupStreamRefreshing(
      docs: DataFrame,
      refSigDir: String,
      sink: (DataFrame, Long) => Unit,
      k: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    refreshingLane(docs, sink, checkpoint) { batch =>
      nearDupMatch(batch, batch.sparkSession.read.parquet(refSigDir), k, bands, tau)
    }

  /** The one scaffold under every REFRESHABLE lane: per micro-batch,
    * `matchBatch` re-reads the lane's reference directory and its rows
    * go to `sink`, both inside the ingest lanes' transient-retry
    * envelope ([[retryTransient]]). The reference producers rewrite
    * their directory with a parquet overwrite, which is not atomic
    * against a reader's file listing: a micro-batch racing the swap can
    * list files that vanish before its (lazy) scan runs in the sink's
    * action, and the retry re-reads the reference instead of
    * terminating the query. A retried batch re-emits its rows, which
    * every lane's sink contract (upsert by key, the q27 discipline)
    * already absorbs.
    */
  private def refreshingLane(
      arrivals: DataFrame, sink: (DataFrame, Long) => Unit, checkpoint: Option[String])(
      matchBatch: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        retryTransient(5)(sink(matchBatch(batch.toDF()), batchId))
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Build (or REBUILD) the line-removal reference
    * [[repairStreamRefreshing]] reads: the corpus-frequency boilerplate
    * law (60-bit hashes of lines in > maxDocs distinct docs) as a slim
    * one-file parquet. The producer side of the repair refresh story —
    * the periodic batch run recomputes it over the current curated
    * corpus and overwrites; the running stream picks the swap up on its
    * next micro-batch. One producer per directory, any number of
    * stream readers ([[writeNearDupRef]]'s contract: the consumer
    * re-reads inside the transient-retry envelope).
    */
  def writeLineRepairRef(
      corpus: DataFrame, dir: String,
      maxDocs: Int = graft.operators.Dedup.LineDupMaxDocs): Unit =
    // repartition, not coalesce: coalesce is narrow and would drag the
    // corpus-wide df-count aggregation into the single write task; the
    // filtered removal set is a slim hash table, so the one-file
    // repartition costs one tiny exchange
    graft.operators.Dedup.lineRemovalSet(corpus, maxDocs)
      .repartition(1).write.mode("overwrite").parquet(dir)

  /** One micro-batch of arriving docs through the REPAIR lane: remove
    * lines in the external removal set (the curated corpus's
    * boilerplate law), then redact PII spans — the q93 composition
    * with the removal evidence coming from the REFERENCE corpus
    * instead of the batch itself (an arriving doc's boilerplate is
    * defined by the corpus it joins, not by its micro-batch peers).
    * The shared core under the registry gate and the refreshing
    * stream.
    */
  private[graft] def repairBatch(arrivals: DataFrame, removal: DataFrame): DataFrame =
    graft.operators.TextAnalysis.redactCleaned(
      graft.operators.Dedup.removeLines(arrivals, removal))

  /** REFRESHABLE streaming corpus repair: the removal reference is
    * RE-READ from `refDir` inside foreachBatch on every micro-batch
    * (the [[nearDupStreamRefreshing]] refresh contract), so the
    * periodic batch rebuild over the current curated corpus reaches
    * the running stream without restart. Redaction is stateless; the
    * only cross-batch concern is the sink's idempotence rule (upsert
    * by doc_id — the q27 discipline), since a replayed batch re-emits
    * its rows.
    */
  def repairStreamRefreshing(
      docs: DataFrame,
      refDir: String,
      sink: (DataFrame, Long) => Unit,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    refreshingLane(docs, sink, checkpoint) { batch =>
      repairBatch(batch, batch.sparkSession.read.parquet(refDir))
    }

  /** The SLIM banded side of the semantic matcher: (band_idx, band_val,
    * ref_id) only, degenerate buckets capped. Keeping the corpus float
    * vectors OUT of the band table is what keeps band exchanges cheap —
    * they re-attach post-match via [[embNearDupVecs]].
    */
  private[graft] def embNearDupBands(
      corpus: DataFrame, planes: Int, bands: Int, dims: Int, bucketCap: Int): DataFrame = {
    import graft.operators.Lsh
    Lsh.capBuckets(
      Lsh.banded(corpus.select("vec_id", "embedding"), "embedding", planes, bands, dims)
        .select(col("band_idx"), col("band_val"), col("vec_id").as("ref_id")),
      Seq("band_idx", "band_val"), bucketCap)
  }

  private[graft] def embNearDupVecs(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("ref_id"), col("embedding").as("ref_vec"))

  /** Stream-vs-corpus SEMANTIC near-dup matching — the embedding analog
    * of [[nearDupStream]]: each arriving vector is hyperplane-banded
    * per row (native kernel, stateless), band-joined against the STATIC
    * curated corpus's SLIM banded table (band keys + ref_id only,
    * capped — a degenerate semantic cluster cannot fan arrivals across
    * its whole bucket), then band-matched candidates attach the
    * corpus's float vector via a second static equi-join on ref_id and
    * verify on the exact float cosine kernel at `tau`. The only
    * streaming state is the watermark-bounded (vec, ref) pair dedup.
    *
    * Exchange shape: the corpus floats never ride band rows — they
    * attach only to band-matched candidates; the ARRIVING embedding
    * does ride its own exploded band rows, a bounded x`bands`
    * duplication of the arrival (never a function of bucket width).
    * Emits (vec_id, ref_id, sim >= tau) — the live gate a
    * training-ingest pipeline runs so semantically-duplicate documents
    * of an existing corpus never reach curation.
    */
  def embNearDupStream(
      vecs: DataFrame,
      corpus: DataFrame,
      tau: Double = 0.85,
      planes: Int = 32,
      bands: Int = 4,
      dims: Int = 64,
      bucketCap: Int = 10000): DataFrame =
    vecs
      .select(col("vec_id"), col("ts"),
        col("embedding"),
        posexplode(graft.gfunctions.hyperplane_bands(col("embedding"), planes, bands, dims))
          .as(Seq("band_idx", "band_val")))
      .withWatermark("ts", "1 hour")
      .join(embNearDupBands(corpus, planes, bands, dims, bucketCap), Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("ref_id"))
      .join(embNearDupVecs(corpus), Seq("ref_id"))
      .withColumn("sim", graft.gfunctions.cosine_sim(col("embedding"), col("ref_vec")))
      .filter(col("sim") >= tau)
      .dropDuplicatesWithinWatermark("vec_id", "ref_id")
      .select("vec_id", "ref_id", "sim")

  /** One batch of arriving vectors against a prebuilt slim band table +
    * vector table: band per row, slim band-join, pair dedup BEFORE the
    * vector attach (batch mode owes no watermark, so the exact cosine
    * runs once per candidate pair, not once per shared band), exact
    * verify at `tau`. The shared match core under the static-corpus
    * batch twin and the refreshing foreachBatch stream.
    */
  private[graft] def embNearDupMatch(
      arrivals: DataFrame,
      refBands: DataFrame,
      refVecs: DataFrame,
      tau: Double,
      planes: Int,
      bands: Int,
      dims: Int): DataFrame = {
    import graft.operators.Lsh
    Lsh.banded(arrivals.select("vec_id", "embedding"), "embedding", planes, bands, dims)
      .join(refBands, Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("ref_id"))
      .dropDuplicates("vec_id", "ref_id")
      .join(refVecs, Seq("ref_id"))
      .withColumn("sim", graft.gfunctions.cosine_sim(col("embedding"), col("ref_vec")))
      .filter(col("sim") >= tau)
      .select("vec_id", "ref_id", "sim")
  }

  /** One batch of arriving vectors against the static banded corpus —
    * [[embNearDupMatch]] over an in-memory ref build, reduced to one
    * decision row per arrival. The driver-gated twin runs it on driver
    * data.
    */
  def embNearDupBatch(
      arrivals: DataFrame,
      corpus: DataFrame,
      tau: Double = 0.85,
      planes: Int = 32,
      bands: Int = 4,
      dims: Int = 64,
      bucketCap: Int = 10000): DataFrame =
    graft.operators.Lsh.decide(arrivals.select("vec_id"), "vec_id",
      embNearDupMatch(
        arrivals,
        embNearDupBands(corpus, planes, bands, dims, bucketCap),
        embNearDupVecs(corpus),
        tau, planes, bands, dims),
      "vec_id", "is_match", "n_matches", Some("sim" -> "best_sim"))

  /** Build (or REBUILD) the reference tables [[embNearDupStreamRefreshing]]
    * reads: `dir/bands` — the slim capped band table (band_idx,
    * band_val, ref_id) — and `dir/vecs` — (ref_id, ref_vec). Two tables
    * so a refresh read keeps the scale shape of the static matcher: the
    * per-micro-batch band join scans band keys + ids only, and the
    * float vectors are read just for band-matched candidates. The
    * producer side of the semantic refresh story: a periodic batch
    * re-curation recomputes both over the current corpus and overwrites
    * the directory; the running stream picks the swap up on its next
    * micro-batch, no restart.
    *
    * Concurrency contract: ONE producer per reference directory, any
    * number of stream readers ([[writeNearDupRef]]'s contract; SURVEY
    * §4 table).
    */
  def writeEmbNearDupRef(
      corpus: DataFrame,
      dir: String,
      planes: Int = 32,
      bands: Int = 4,
      dims: Int = 64,
      bucketCap: Int = 10000): Unit = {
    embNearDupBands(corpus, planes, bands, dims, bucketCap)
      .write.mode("overwrite").parquet(dir + "/bands")
    embNearDupVecs(corpus).write.mode("overwrite").parquet(dir + "/vecs")
  }

  /** REFRESHABLE stream-vs-corpus semantic matching — the embedding
    * analog of [[nearDupStreamRefreshing]]: the banded reference tables
    * are RE-READ from `refDir` inside `foreachBatch` on EVERY
    * micro-batch, so a periodic [[writeEmbNearDupRef]] rebuild over the
    * re-curated corpus is picked up by the running stream without
    * restart (a plain stream-static join — [[embNearDupStream]] — pins
    * its file listing when the query starts). Same trade as the minhash
    * variant: cross-micro-batch (vec, ref) pair dedup moves from
    * watermark state to the SINK's idempotence rule — `sink` receives
    * per-batch-deduped match rows and must upsert by (vec_id, ref_id),
    * the q27 idempotent-load discipline. Matching semantics are
    * [[embNearDupMatch]], shared with the batch twin.
    */
  def embNearDupStreamRefreshing(
      vecs: DataFrame,
      refDir: String,
      sink: (DataFrame, Long) => Unit,
      tau: Double = 0.85,
      planes: Int = 32,
      bands: Int = 4,
      dims: Int = 64,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    refreshingLane(vecs, sink, checkpoint) { batch =>
      val s = batch.sparkSession
      embNearDupMatch(
        batch, s.read.parquet(refDir + "/bands"), s.read.parquet(refDir + "/vecs"),
        tau, planes, bands, dims)
    }

  /** Batch-id namespace for the ingest lanes, derived from the
    * checkpoint path: Spark numbers batches PER CHECKPOINT, so a
    * stream re-pointed at an existing table/index with a FRESH
    * checkpoint restarts at batchId 0 — un-namespaced, its genuinely
    * new batches would collide with the old stream's replay fence and
    * be silently dropped. Hashing the checkpoint path scopes the ids
    * to one stream lifetime (same checkpoint across restarts → same
    * namespace → replays still short-circuit). No checkpoint → empty
    * namespace here (this function stays pure); the ingest lanes
    * substitute [[ephemeralNamespace]] via [[laneNamespace]] in that
    * case, because a SHARED empty namespace would let a re-run
    * checkpoint-less stream silently drop its batches as replays.
    */
  def batchNamespace(checkpoint: Option[String]): String =
    checkpoint.map { c =>
      // The namespace is part of the ON-DISK protocol, so it is a PURE
      // function of the checkpoint string: Path normalization (trailing
      // slash, doubled separators) and a 128-bit id — no Hadoop conf,
      // no FileSystem calls, no thread-local session state, because
      // any environmental input would let the SAME checkpoint hash to
      // DIFFERENT namespaces across restarts (a conf that resolves
      // differently on a scheduler thread, a transient FS-init fault)
      // and silently re-append replayed batches. The flip side is a
      // documented CONTRACT: spell the checkpoint consistently across
      // restarts — "/ckpt" and "hdfs://nn/ckpt" are different
      // identities here even when Spark resolves them to the same
      // directory. (128 bits because a 32-bit collision between two
      // stream lifetimes on one table would silently drop a fresh
      // stream's batches as replays.)
      val normalized = new org.apache.hadoop.fs.Path(c).toUri.toString
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(normalized.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digest.map("%02x".format(_)).mkString + "-"
    }.getOrElse("")

  /** The pre-r15 namespace form (32-bit murmur of the RAW checkpoint
    * string). Streams written before the normalized-128-bit id carry
    * commit records under THIS namespace; the ingest lanes hand the
    * legacy id to the operators' replay fences (honor an old-namespace
    * commit as a replay, write only the new form) so an upgrade cannot
    * re-append a replayed batch as duplicate rows. Same spelling
    * contract as [[batchNamespace]]: the legacy id only matches if the
    * checkpoint is spelled exactly as before the upgrade — keep the
    * spelling until the stream has committed at least one batch under
    * the new form.
    */
  def legacyBatchNamespace(checkpoint: Option[String]): String =
    checkpoint.map { c =>
      java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(c)) + "-"
    }.getOrElse("")

  /** Namespace for a CHECKPOINT-LESS stream: a random id fixed for one
    * query's lifetime. With no durable checkpoint there is no
    * cross-process restart to stay identity-consistent with (the
    * [[batchNamespace]] purity contract matters only when a replayed
    * batch must re-derive the same on-disk name after a restart), but
    * there IS a re-run hazard: a new checkpoint-less query writing to
    * the SAME sink restarts batchIds at 0, and under a shared empty
    * namespace its fresh batches would find the previous run's commits
    * and silently no-op as "replays" — data loss with no error. A
    * per-query random id keeps within-run replays idempotent (the
    * foreachBatch closure captures one value for the query's lifetime)
    * while making distinct runs disjoint on disk.
    */
  private def ephemeralNamespace(): String =
    "eph" + java.util.UUID.randomUUID.toString.replace("-", "") + "-"

  /** The namespace an ingest lane actually stamps on its batch ids:
    * checkpoint-derived (pure, restart-stable) when a checkpoint
    * exists, [[ephemeralNamespace]] otherwise. Package-visible so the
    * recovery spec can pin the re-run disjointness. */
  private[graft] def laneNamespace(checkpoint: Option[String]): String =
    if (checkpoint.isDefined) batchNamespace(checkpoint) else ephemeralNamespace()

  /** Bounded retry for the ingest sinks' documented TRANSIENT failure
    * mode (an append racing a compaction flip reads a generation the
    * post-flip GC just collected): retried work is idempotent by the
    * batch protocol, so the lane absorbs the race instead of killing
    * the streaming query. Persistent failures still propagate and
    * stop the stream after `tries` attempts.
    */
  private[graft] def retryTransient(tries: Int)(f: => Unit): Unit = {
    var attempt = 0
    var delay = 200L
    var done = false
    while (!done) {
      try { f; done = true }
      catch {
        // ONLY the documented transient class retries: fatal VM errors
        // and interrupts propagate via NonFatal, and genuinely
        // non-transient failures (e.g. an AnalysisException from a
        // schema-mismatched delta) surface immediately instead of
        // burning five backoff sleeps inside foreachBatch
        case scala.util.control.NonFatal(e) if isTransientFlipRace(e) =>
          attempt += 1
          // Each retry logs WHAT was classified transient: if the
          // classifier is ever wrong about a permanent fault, the
          // misclassification is visible in the stream's log during
          // the backoff window, not only after the final attempt
          // rethrows.
          if (attempt >= tries) {
            retryLog.warn(
              s"transient ingest failure (attempt $attempt/$tries, retries " +
                s"exhausted, rethrowing): ${e.getClass.getName}: ${e.getMessage}")
            throw e
          }
          retryLog.warn(
            s"transient ingest failure (attempt $attempt/$tries, " +
              s"retrying in ${delay}ms): ${e.getClass.getName}: ${e.getMessage}")
          Thread.sleep(delay)
          delay *= 2
      }
    }
  }

  private val retryLog = org.slf4j.LoggerFactory.getLogger("graft.streaming.retryTransient")

  /** Does this failure belong to the TRANSIENT IO class the ingest
    * lanes absorb? Two members: the documented compaction-flip race (a
    * path read between a generation flip and its GC — a
    * FileNotFoundException from a task or PATH_NOT_FOUND from analysis
    * re-resolving the collected root), and the broader storage-fault
    * family (object-store throttling, connection resets — all
    * IOException subclasses, possibly wrapped in SparkException
    * layers), which retried-idempotent work also survives. What stays
    * OUT is the non-IO class: schema mismatches, analysis errors,
    * assertion failures — those fail the stream immediately.
    */
  private def isTransientFlipRace(t: Throwable): Boolean = {
    // Pass 1 — interrupt detection over the WHOLE chain first:
    // interrupt-shaped failures are SHUTDOWN, not storage weather, and
    // retrying them stalls query.stop() through backoff sleeps. They
    // must win even when WRAPPED (an IOException caused by
    // ClosedByInterruptException is common Hadoop layering, and a
    // single-pass walk would classify the outer IOException as
    // transient before reaching the cause). Exception to the
    // exception: SocketTimeoutException EXTENDS InterruptedIOException
    // in the JDK but is the classic transient storage-timeout — it
    // stays retryable.
    def chain(t0: Throwable): Iterator[Throwable] =
      Iterator.iterate(t0)(c => if (c.getCause ne c) c.getCause else null)
        .takeWhile(_ != null).take(16)
    val interrupted = chain(t).exists {
      case _: java.net.SocketTimeoutException => false
      case _: java.io.InterruptedIOException => true
      case _: java.nio.channels.ClosedByInterruptException => true
      case _ => false
    }
    if (interrupted) return false
    // Pass 2 — the transient IO class. "IOException" is NOT uniformly
    // transient: some subclasses signal PERMANENT faults that a backoff
    // retry can never fix, and classifying them transient burns the
    // full retry budget (~3 s of sleeps) before the real error surfaces
    // on the stream. Excluded members:
    //  - AccessControlException — permission denied; retrying does not
    //    grant access;
    //  - EOFException — a truncated/corrupt file; the bytes do not grow
    //    back (an object store that serves a partial read raises
    //    connection-reset SocketException, not EOF, so the transient
    //    read-cut case stays covered by the IOException arm). SCOPED
    //    (r16 ADVICE): an HDFS-style stream CAN raise EOF on a file
    //    replaced mid-read during the very compaction-flip this retry
    //    exists for — but that race never presents as a lone EOF: the
    //    read surfaces FileNotFoundException / PATH_NOT_FOUND on the
    //    vanished generation dir in the same failure (as a cause or a
    //    suppressed sibling). So EOF is permanent only when NO
    //    flip-race signature accompanies it in the chain; a lone EOF
    //    on a flip replacement that somehow carries no FNF anywhere
    //    is the accepted residual risk, documented here;
    //  - FileAlreadyExistsException (both the Hadoop and java.nio
    //    forms) — a name collision; the ingest lanes' own idempotent
    //    fences make a retried commit a SHORT-CIRCUIT, never a
    //    re-create ([[graft.sources.Generations.commitRename]] checks
    //    the destination first), so this exception reaching the
    //    classifier means a protocol violation, not weather.
    // FileNotFoundException deliberately stays IN: it is the documented
    // compaction-flip race this retry exists for.
    // Flip-race signature: a FileNotFoundException or PATH_NOT_FOUND
    // anywhere in the cause chain OR among suppressed siblings — the
    // fingerprint of a generation dir vanishing under a reader.
    def flipRaceSignature: Boolean = {
      def isSig(c: Throwable): Boolean = c match {
        case _: java.io.FileNotFoundException => true
        case a: org.apache.spark.sql.AnalysisException
            if a.getCondition == "PATH_NOT_FOUND" => true
        case _ => false
      }
      chain(t).exists(c => isSig(c) || c.getSuppressed.exists(isSig))
    }
    def permanentIo(c: Throwable): Boolean = c match {
      case _: org.apache.hadoop.security.AccessControlException => true
      case _: java.io.EOFException => !flipRaceSignature
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _: java.nio.file.FileAlreadyExistsException => true
      case _ => false
    }
    if (chain(t).exists(permanentIo)) return false
    chain(t).exists {
      case _: java.io.IOException => true
      case a: org.apache.spark.sql.AnalysisException
          if a.getCondition == "PATH_NOT_FOUND" => true
      case _ => false
    }
  }

  /** STREAMING INDEX INGEST — the live leg of the persisted-ANN-index
    * lifecycle (build [[graft.operators.Ivf.writeIndex]] → append →
    * compact → serve): arriving vectors append to the on-disk inverted
    * lists per micro-batch, assigned at full precision against the
    * index's own persisted quantizer, landing cluster-aligned in their
    * partitions. The next [[graft.operators.Ivf.searchIndex]] listing
    * serves them with zero coordination — a freshly ingested corpus is
    * searchable at micro-batch latency without rebuilds.
    *
    * Exactly-once is the sink's job here, and it is structural, not a
    * convention: [[graft.operators.Ivf.appendIndexBatch]] stages each
    * batch dot-prefixed and commits it with ONE atomic rename into
    * `_appends_data/<batchId>`, then lands a `_appends/<batchId>`
    * marker — a foreachBatch replay after a crash short-circuits on
    * the marker, or on the already-visible batch dir, never duplicates
    * a vector (marker survival across
    * [[graft.operators.Ivf.compactIndex]] is spec-pinned). Because the
    * batch never touches the base generation, the ingest stream may run
    * CONCURRENTLY with compaction — the generation-pointer protocol
    * guarantees a racing batch stays live instead of being folded away
    * (FencingSpec). Fragmentation from many small batches is the
    * documented compaction trigger.
    */
  def indexAppendStream(
      vectors: DataFrame,
      indexDir: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = laneNamespace(checkpoint)
    val legacyNs = legacyBatchNamespace(checkpoint)
    val w = vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        retryTransient(5) {
          // the operator's own fence also honors the retired namespace
          // form, inside this retry envelope: a replay whose commit
          // record predates the r15 id change stays a no-op
          graft.operators.Ivf.appendIndexBatch(batch.toDF(), indexDir, batchId, ns,
            legacyIds = if (legacyNs.isEmpty) Nil else Seq(s"$legacyNs$batchId"))
        }
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Streaming ingest into the persisted SPARSE (BM25) index — the
    * [[indexAppendStream]] contract over tokenized documents
    * `(doc_id, toks)`: each micro-batch lands as one atomic postings
    * directory (with its totals row in the same rename) via
    * [[graft.operators.SparseIndex.appendIndexBatch]]'s marker fence,
    * under the same per-lane namespace scoping and transient-IO retry
    * envelope. A freshly streamed document is immediately retrievable
    * by [[graft.operators.SparseIndex.bm25Search]] — df and totals
    * merge at serve time by construction (derived df; summed totals).
    * Zero-token docs in a batch are dropped by the index's own
    * population law (r17 ADVICE — enforced in the write path, not by
    * this caller), so a stream carrying empty docs cannot inflate
    * n_docs against the gated q85 oracle.
    */
  def sparseIndexAppendStream(
      toked: DataFrame,
      indexDir: String,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = laneNamespace(checkpoint)
    val w = toked.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        retryTransient(5) {
          graft.operators.SparseIndex.appendIndexBatch(batch.toDF(), indexDir, batchId, ns)
        }
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** STREAMING INGEST INTO A CLUSTERED TABLE — the lakehouse twin of
    * [[indexAppendStream]]: arriving rows land per micro-batch as
    * atomically visible, internally range-sorted batch directories
    * ([[graft.sources.Clustered.appendBatch]]), immediately readable
    * through [[graft.sources.Clustered.read]], with structural
    * exactly-once (visible dir ∨ cumulative `_folded` manifest — no
    * separate marker files) and the periodic
    * [[graft.sources.Clustered.optimize]] restoring the skippable
    * layout CONCURRENTLY with the running stream (the generation
    * fencing; FencingSpec stress-proves the race). Exactly-once
    * bookkeeping is one `_folded` manifest line (~bytes) per stream
    * batch — the growth CLASS is linear like the file sink's
    * `_spark_metadata` compact log (ScaleProbe27), but the constant
    * is ~100× smaller (an id, not a file listing), restarts replay
    * none of it (only appends consult it, lazily), ad-hoc ids are
    * pruned once dead, and compaction cost never touches it (no
    * compactInterval O(history) rewrite pause in the ingest path).
    */
  def clusteredAppendStream(
      rows: DataFrame,
      dir: String,
      key: String,
      files: Int = 4,
      bloomCols: Seq[String] = Nil,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = laneNamespace(checkpoint)
    val legacyNs = legacyBatchNamespace(checkpoint)
    val w = rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        retryTransient(5) {
          // the operator's own fence also honors the retired namespace
          // form, inside this retry envelope: a replay whose commit
          // record predates the r15 id change stays a no-op
          graft.sources.Clustered.appendBatch(
            batch.toDF(), dir, key, batchId, files, bloomCols, ns,
            legacyIds = if (legacyNs.isEmpty) Nil else Seq(s"b-$legacyNs$batchId"))
        }
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** ROTATING PARQUET FILE SINK — the in-code closure of SURVEY §4's
    * ScaleProbe27 rule. The builtin file sink's `_spark_metadata`
    * compact log re-lists every file ever written: ~225 B/batch of
    * unbounded history, an O(history) rewrite every compactInterval-th
    * batch, an O(history) replay on every restart (measured,
    * ScaleProbe27). Bounded-lifetime sinks ride that default log;
    * an INDEFINITE sink must not — this is the rotation discipline the
    * rule prescribes, shipped as an operator instead of a doc note.
    *
    * Layout: each micro-batch lands as one atomically-visible batch
    * directory under a rotation subdir,
    * `dir/rot=<batchId div batchesPerDir>/batch=<ns><batchId>/`,
    * committed by the [[graft.sources.Generations.stagedCommit]]
    * staging protocol (dot-staged write, ONE rename; visibility IS the
    * commit, no marker files and no manifest). Exactly-once is
    * structural: a replayed batch finds its visible dir and no-ops.
    * Both levels are Hive-style `key=value` names, so
    * `spark.read.parquet(dir)` reads the whole sink directly — dot
    * staging and crash residue are invisible to Spark's file listing,
    * and `rot`/`batch` surface as partition columns (provenance for
    * free, and rotation pruning via a `rot` predicate).
    *
    * Why this bounds the ScaleProbe27 growth: there is no per-sink
    * metadata AT ALL — per-batch bookkeeping is the batch dir itself.
    * A rotation subdir accrues at most `batchesPerDir` batch dirs and
    * then goes COLD forever (batchIds only grow), so listing cost per
    * rotation is bounded, restart replay reads nothing, and cold
    * rotations are immutable units for downstream compaction
    * ([[graft.sources.Clustered.optimize]] a cold rot dir, or
    * [[retireRotations]] after retention). The rotation key is a PURE
    * function of batchId — never wall clock, which would fork the
    * on-disk identity of a replayed batch across restarts (the
    * [[batchNamespace]] purity contract).
    */
  def rotatingFileSink(
      rows: DataFrame,
      dir: String,
      batchesPerDir: Int = 100,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(batchesPerDir >= 1, "rotatingFileSink: batchesPerDir must be >= 1")
    val ns = laneNamespace(checkpoint)
    val w = rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        retryTransient(5) {
          writeRotatedBatch(batch.toDF(), dir, batchId, batchesPerDir, ns)
        }
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** One idempotent rotated-batch commit (the foreachBatch body of
    * [[rotatingFileSink]], package-visible for the recovery spec). */
  private[graft] def writeRotatedBatch(
      batch: DataFrame, dir: String, batchId: Long, batchesPerDir: Int, ns: String): Unit =
    // a visible dir on replay after a crash: visibility IS the commit
    Generations.stagedCommit(
      IndexLayout.fsOf(batch.sparkSession, dir),
      new org.apache.hadoop.fs.Path(s"$dir/rot=${batchId / batchesPerDir}/batch=$ns$batchId"),
      s"batch-$ns$batchId") { staging =>
      batch.write.parquet(staging.toString)
      true
    }

  /** Drop every COLD rotation subdir with `rot < before` — the
    * retention lever an indefinite sink eventually needs (the builtin
    * sink cannot retire output at all: its compact log re-lists deleted
    * files forever). Callers compute `before` from the running query's
    * progress (lastProgress.batchId div batchesPerDir) minus the
    * retention window; the current rotation is never cold, so passing
    * `before <= currentRot` is always safe with readers that tolerate
    * missing partitions (plain parquet partition discovery does).
    */
  def retireRotations(spark: org.apache.spark.sql.SparkSession, dir: String, before: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = IndexLayout.fsOf(spark, dir)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("rot=") &&
        scala.util.Try(n.stripPrefix("rot=").toLong).toOption.exists(_ < before))
        fs.delete(st.getPath, true)
    }
  }

  /** Sweep crash residue (aged dot-staging) out of every rotation
    * subdir — [[graft.sources.Generations.sweepStaging]] per rotation,
    * with its tree-quiet liveness gate; run from the same periodic
    * maintenance entry that calls [[retireRotations]].
    */
  def sweepRotatingStaging(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = IndexLayout.fsOf(spark, dir)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("rot="))
        Generations.sweepStaging(fs, dir, st.getPath.getName)
    }
  }

  /** Streaming decontamination gate: each arriving doc's 8-gram hashes
    * probe a bloom filter of the STATIC benchmark corpus inside the scan
    * stage (codegen'd, stateless), and only bloom survivors enter the
    * stream-static confirm semi-join — so false positives die before any
    * state, exactly like the batch q44 plan. Emits each contaminated
    * doc_id once (pair state is the watermark-bounded doc dedup).
    *
    * The bloom is built ONCE from the static benchmark frame at query
    * construction — a model-fit step like IVF's k-means (numBits/8 bytes
    * on the driver, shipped as a literal into every task), never
    * per-micro-batch work. Completes the streaming curation split:
    * [[curateStream]] gates per-row + exact-dup, [[nearDupStream]]
    * matches near-dups vs the corpus, this gates benchmark contamination.
    */
  private def decontamShingles(c: Column): Column =
    graft.gfunctions.kgram_md5_hashes(
      graft.gfunctions.ws_tokens(c), graft.operators.TrainPrep.DecontamN)

  def decontamStream(
      docs: DataFrame,
      bench: DataFrame,
      numBits: Long = 1L << 20,
      numHashes: Int = 6): DataFrame = {
    val benchSet = bench.select(explode(decontamShingles(col("text"))).as("hash")).distinct()
    val bloom = benchSet
      .agg(graft.gfunctions.bloom_agg(col("hash"), numBits, numHashes).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    docs
      .select(col("doc_id"), col("ts"), explode(decontamShingles(col("text"))).as("hash"))
      .filter(graft.gfunctions.bloom_contains(lit(bloom), col("hash"), numHashes))
      .withWatermark("ts", "1 hour")
      .join(benchSet, Seq("hash"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id")
  }

  /** Build (or REBUILD) the reference tables [[decontamStreamRefreshing]]
    * reads: `dir/hashes` — the distinct benchmark 8-gram hash set — and
    * `dir/bloom` — the prefilter bloom PRE-BUILT over it (one binary
    * row: numBits/8 bytes). The bloom fold runs at REBUILD time, on the
    * producer, so a refresh read costs one 1-row parquet fetch + the
    * hash-set listing — never a per-micro-batch aggregate over the
    * benchmark corpus. The producer side of the contamination refresh
    * story: benchmark suites GROW (new evals land monthly); the periodic
    * rebuild overwrites the directory and the running gate picks it up
    * on its next micro-batch.
    *
    * Concurrency contract: ONE producer per reference directory, any
    * number of stream readers ([[writeNearDupRef]]'s contract; SURVEY
    * §4 table).
    */
  def writeDecontamRef(
      bench: DataFrame,
      dir: String,
      numBits: Long = 1L << 20,
      numHashes: Int = 6): Unit = {
    val benchSet = bench.select(explode(decontamShingles(col("text"))).as("hash")).distinct()
    benchSet.write.mode("overwrite").parquet(dir + "/hashes")
    benchSet
      .agg(graft.gfunctions.bloom_agg(col("hash"), numBits, numHashes).as("bf"))
      .write.mode("overwrite").parquet(dir + "/bloom")
  }

  /** One batch of docs against a prebuilt [[writeDecontamRef]] directory:
    * bloom prefilter in the scan stage (survivors only reach the
    * confirm), semi-join confirm against the exact hash set, one
    * decision row per contaminated doc. The shared match core under the
    * refreshing stream; [[decontamStream]] keeps the same plan shape
    * with the bloom built in-query.
    */
  private[graft] def decontamMatch(
      docs: DataFrame,
      bloom: Array[Byte],
      benchSet: DataFrame,
      numHashes: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(decontamShingles(col("text"))).as("hash"))
      .filter(graft.gfunctions.bloom_contains(lit(bloom), col("hash"), numHashes))
      .join(benchSet, Seq("hash"), "left_semi")
      .select("doc_id").distinct()

  /** REFRESHABLE streaming decontamination — the third leg of the
    * refresh story ([[nearDupStreamRefreshing]] lexical r11,
    * [[embNearDupStreamRefreshing]] semantic, this one contamination):
    * the bloom row and hash set are RE-READ from `refDir` inside
    * `foreachBatch` every micro-batch, so a [[writeDecontamRef]] rebuild
    * over a GROWN benchmark suite gates new arrivals without restart
    * (the static-bloom [[decontamStream]] pins its literal at query
    * construction — new benchmarks are invisible to it until restart).
    * Same trade as the other refreshing variants: cross-micro-batch
    * doc-emit dedup moves from watermark state to the sink's
    * idempotence rule (upsert by doc_id — the q27 discipline).
    */
  def decontamStreamRefreshing(
      docs: DataFrame,
      refDir: String,
      sink: (DataFrame, Long) => Unit,
      numHashes: Int = 6,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    refreshingLane(docs, sink, checkpoint) { batch =>
      val s = batch.sparkSession
      val bloom = s.read.parquet(refDir + "/bloom").collect()(0).getAs[Array[Byte]](0)
      decontamMatch(batch, bloom, s.read.parquet(refDir + "/hashes"), numHashes)
    }

  // -------------------------------------------------- stateful sessions

  final case class SessEvent(user_id: Long, event_id: Long, ts_ms: Long)
  final case class SessionRec(user_id: Long, session_id: Long, n_events: Long, start_ms: Long, end_ms: Long)

  /** Open-session state carried between micro-batches. */
  final case class SessState(next_id: Long, open: Boolean, start_ms: Long, end_ms: Long, n: Long)

  private val GapMs = 1800000L // 30 min, same as q25

  /** One time-ordered event against the open-session state: emits the
    * closed session when the gap rule fires, plus the advanced state. The
    * ONE place the 30-min gap rule lives — both twins fold this step.
    */
  def step(userId: Long, st: SessState, e: SessEvent): (Option[SessionRec], SessState) =
    if (!st.open)
      (None, SessState(st.next_id, open = true, e.ts_ms, e.ts_ms, 1L))
    else if (e.ts_ms - st.end_ms > GapMs)
      (Some(SessionRec(userId, st.next_id, st.n, st.start_ms, st.end_ms)),
        SessState(st.next_id + 1, open = true, e.ts_ms, e.ts_ms, 1L))
    else
      (None, st.copy(end_ms = e.ts_ms, n = st.n + 1))

  /** Session builder over one user's events: sort, then fold [[step]].
    * Used by the streaming twin, where the per-group slice is bounded by
    * the micro-batch (trigger interval), so the in-memory sort is safe.
    */
  def foldSessions(
      userId: Long,
      evs: Seq[SessEvent],
      init: SessState): (Seq[SessionRec], SessState) = {
    val closed = ListBuffer.empty[SessionRec]
    var st = init
    evs.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
      val (c, st2) = step(userId, st, e)
      c.foreach(closed += _)
      st = st2
    }
    (closed.toSeq, st)
  }

  /** Batch sessionization: secondary sort (repartition by user, sort within
    * partitions by user/time) + an O(1)-state streaming fold of [[step]]
    * over the partition iterator. NO per-user materialization: a 400k-event
    * mega-user (the repo's own skew probe) streams through the fold the
    * same as anyone else, and Spark's sort spills to disk — the shape that
    * survives power-user skew at 100 TB, unlike a flatMapGroups `it.toSeq`.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[SessEvent]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_ms"), col("event_id"))
      .mapPartitions { it =>
        new Iterator[SessionRec] {
          private var cur: Option[(Long, SessState)] = None
          private var pending: List[SessionRec] = Nil
          private def flushCur(): Unit = cur.foreach { case (u, st) =>
            if (st.open) pending = SessionRec(u, st.next_id, st.n, st.start_ms, st.end_ms) :: pending
            cur = None
          }
          private def pump(): Unit =
            while (pending.isEmpty && it.hasNext) {
              val e = it.next()
              if (!cur.exists(_._1 == e.user_id)) flushCur()
              val st0 = cur.map(_._2).getOrElse(SessState(1L, open = false, 0L, 0L, 0L))
              val (closed, st2) = step(e.user_id, st0, e)
              closed.foreach(c => pending = c :: pending)
              cur = Some((e.user_id, st2))
            }
          def hasNext: Boolean = {
            pump()
            if (pending.isEmpty) flushCur()
            pending.nonEmpty
          }
          def next(): SessionRec = {
            if (!hasNext) throw new NoSuchElementException("empty partition iterator")
            val h = pending.head; pending = pending.tail; h
          }
        }
      }
      .toDF()
      .orderBy("user_id", "session_id")
  }

  /** Streaming sessionization: per-user open session in GroupState; closed
    * sessions emit as soon as a later event proves the gap (Append mode).
    * The still-open session stays in state across micro-batches.
    */
  def sessionizeStream(events: Dataset[SessEvent]): Dataset[SessionRec] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionRec](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          val init = state.getOption.getOrElse(SessState(1L, open = false, 0L, 0L, 0L))
          val (closed, st) = foldSessions(uid, it.toSeq, init)
          state.update(st)
          closed.iterator
      }
  }

  // ------------------------------------------------------- stateful SCD2

  final case class Scd2Event(user_id: Long, event_id: Long, ts_ms: Long, event_type: String)
  final case class Scd2Open(version: Long, state: String, since_ms: Long)
  final case class Scd2Rec(user_id: Long, version: Long, state: String,
      valid_from_ms: Long, valid_to_ms: Long)

  /** Time-ordered events against the open SCD2 interval: emits the closed
    * interval on every state CHANGE, carries the open one forward — the
    * one place the change rule lives; batch q45 states the same rule as
    * lag/lead windows and the parity spec pins the twins equal on closed
    * intervals.
    */
  def foldScd2(uid: Long, events: Seq[Scd2Event], init: Option[Scd2Open]):
      (Seq[Scd2Rec], Option[Scd2Open]) = {
    val sorted = events.sortBy(e => (e.ts_ms, e.event_id))
    sorted.foldLeft((Vector.empty[Scd2Rec], init)) {
      case ((closed, None), e) =>
        (closed, Some(Scd2Open(1L, e.event_type, e.ts_ms)))
      case ((closed, Some(open)), e) if e.event_type == open.state =>
        (closed, Some(open))
      case ((closed, Some(open)), e) =>
        (closed :+ Scd2Rec(uid, open.version, open.state, open.since_ms, e.ts_ms),
          Some(Scd2Open(open.version + 1, e.event_type, e.ts_ms)))
    } match { case (c, st) => (c.toSeq, st) }
  }

  /** Streaming SCD2 history: closed state intervals emit as changes
    * arrive (Append); the open interval lives in per-user state across
    * micro-batches. State is O(1) per user — version counter + current
    * state + since timestamp.
    */
  def scd2Stream(events: Dataset[Scd2Event]): Dataset[Scd2Rec] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Open, Scd2Rec](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Scd2Event], state: GroupState[Scd2Open]) =>
          val (closed, st) = foldScd2(uid, it.toSeq, state.getOption)
          st.foreach(state.update)
          closed.iterator
      }
  }

  // ------------------------------------------- stateful transition feed

  final case class TransEvent(user_id: Long, event_id: Long, ts_ms: Long, event_type: String)
  final case class TransLast(ts_ms: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, event_id: Long, from_type: String,
      to_type: String, gap_ms: Long)

  /** Time-ordered events against the last-seen event: every arrival
    * after a user's first emits one (from, to, gap) transition row —
    * the streaming primitive under the q56/q57 matrices (a downstream
    * windowed count over this feed is the live matrix; the session
    * conditioning is a gap_ms filter). State is O(1) per user — the
    * last event's (ts, id, type).
    *
    * Late data FAILS SAFE: an event arriving AFTER a newer event's
    * micro-batch (ts older than the held state) is DROPPED — no pair
    * emits and the last-seen state never regresses. The alternative
    * (emitting an inverted negative-gap transition, as this fold did
    * through round 9) silently poisons downstream session filters: a
    * `gap_ms <= maxGap` predicate passes every negative gap. Exactly-
    * ordered replay still requires a watermark upstream — the dropped
    * pair is the price of unwatermarked input, not a substitute for
    * one; the parity spec runs on event-time-ordered splits.
    *
    * The fold materializes its micro-batch slice to sort it (Spark
    * hands flatMapGroupsWithState an UNSORTED group iterator, so a
    * sort needs the slice in memory). Bounded by one user's share of
    * ONE micro-batch — trigger-interval-sized, not history-sized; a
    * mega-user burst rides the executor heap like any skewed group.
    */
  def foldTransitions(uid: Long, events: Seq[TransEvent], init: Option[TransLast]):
      (Seq[Transition], Option[TransLast]) = {
    val sorted = events.sortBy(e => (e.ts_ms, e.event_id))
    sorted.foldLeft((Vector.empty[Transition], init)) {
      case ((out, None), e) =>
        (out, Some(TransLast(e.ts_ms, e.event_id, e.event_type)))
      case ((out, Some(p)), e) if e.ts_ms < p.ts_ms =>
        (out, Some(p)) // late arrival: drop the pair, keep the newer state
      case ((out, Some(p)), e) =>
        (out :+ Transition(uid, e.event_id, p.event_type, e.event_type, e.ts_ms - p.ts_ms),
          Some(TransLast(e.ts_ms, e.event_id, e.event_type)))
    } match { case (o, st) => (o.toSeq, st) }
  }

  /** Streaming transition feed: transition rows emit as events arrive
    * (Append); the last-seen event lives in per-user state across
    * micro-batches.
    *
    * State CLEANUP: users idle longer than `idleTimeout` of EVENT time
    * are evicted — the per-user timeout timestamp is (last seen event
    * ts + idleTimeout) and fires when the stream's watermark passes it
    * (state would otherwise grow with lifetime key cardinality — every
    * user ever seen holds a row forever). Event-time eviction is
    * deterministic under replay and outage-safe: a processing backlog
    * does not advance event time, so state never evicts mid-outage
    * (a wall-clock timeout would — and it also livelocks
    * `processAllAvailable`, which spins empty micro-batches forever
    * because every clock tick is a potential timeout). The documented
    * trade: a user returning after the idle horizon starts fresh, so
    * the one transition spanning that idle gap is not emitted (the
    * batch twin emits it). Size the timeout to the longest gap the
    * downstream analysis cares about — q57-style session conditioning
    * ignores gaps over 30 min anyway.
    *
    * `maxLateness` is the watermark delay on the derived `event_ts`
    * column: input older than (max seen event ts − maxLateness) is
    * dropped by the engine's late-row rule before the fold ever sees
    * it. The fold's own late handling (drop the inverted pair, keep
    * the newer state) covers in-horizon disorder.
    */
  def transitionStream(
      events: Dataset[TransEvent],
      idleTimeout: String = "30 days",
      maxLateness: String = "0 seconds"): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", maxLateness)
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransLast, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[TransEvent], state: GroupState[TransLast]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq
            val (out, st) = foldTransitions(uid, evs, state.getOption)
            st.foreach(state.update)
            val maxSeen = (evs.iterator.map(_.ts_ms) ++ st.iterator.map(_.ts_ms)).max
            state.setTimeoutTimestamp(maxSeen, idleTimeout)
            out.iterator
          }
      }
  }

  // ------------------------------------------- stateful rate limiting

  final case class RateEvent(user_id: Long, event_id: Long, ts_ms: Long)
  final case class RateViolation(user_id: Long, event_id: Long, ts_ms: Long, n_24h: Long)

  /** Default trailing-24h event limit for the violation feed. */
  val RateLimit = 5

  /** Trailing-24h rate limiting at EXACT millisecond precision: an
    * arrival whose user has had more than `limit` events in the past
    * 24 h (self included) emits a violation row — the live form of
    * q67's rolling count, and the ORACLE-SEMANTICS fold (its batch
    * twin is q67 itself, hash-green). State is the in-window timestamp
    * list: evicted monotonically as event time advances, but LINEAR in
    * one user's 24 h volume — and that bound is the attacker's
    * variable (a 1M-event/day bot holds a 1M-long vector in the state
    * store). Production streams should run [[foldRateLimitRing]] /
    * [[rateLimitRingStream]] instead: CONSTANT per-user state at
    * minute-bucket window granularity — the same oracle-mode/prod-mode
    * split every expensive operator in this engine has. Timestamp TIE
    * GROUPS process atomically so every tied row sees the whole group
    * — the RANGE-frame tie semantics q67's batch form has (a tie
    * straddling micro-batches is late data: hold it behind a watermark
    * upstream, the standard answer). Like [[foldTransitions]], the
    * fold materializes its (unsorted) micro-batch slice to sort it —
    * bounded by one user's share of one trigger interval.
    */
  def foldRateLimit(uid: Long, events: Seq[RateEvent], init: Seq[Long],
      limit: Int = RateLimit): (Seq[RateViolation], Seq[Long]) = {
    val win = 86400000L
    val sorted = events.sortBy(e => (e.ts_ms, e.event_id))
    var entries = init.toVector
    val out = Vector.newBuilder[RateViolation]
    var i = 0
    while (i < sorted.size) {
      val t = sorted(i).ts_ms
      var j = i
      while (j < sorted.size && sorted(j).ts_ms == t) j += 1
      val group = sorted.slice(i, j)
      entries = entries.filter(_ > t - win) ++ group.map(_.ts_ms)
      val n = entries.size.toLong
      if (n > limit) group.foreach(e => out += RateViolation(uid, e.event_id, t, n))
      i = j
    }
    (out.result(), entries)
  }

  /** Streaming rate-limit violations via [[foldRateLimit]] per user
    * through flatMapGroupsWithState (Append) — the ms-exact oracle-
    * semantics stream. Users idle past `idleTimeout` of EVENT time are
    * evicted (timeout timestamp = last seen event ts + idleTimeout,
    * fired by the watermark), which is SEMANTICS-NEUTRAL whenever the
    * timeout covers the 24 h window: every held timestamp would have
    * aged out of the window anyway, measured on the SAME event-time
    * axis the window itself uses — so unlike a wall-clock timeout
    * there is no outage hazard (a backlog does not advance the
    * watermark, so state cannot evict while its window is still live)
    * and no skew margin to size. The state is reconstructible from
    * scratch on the user's next arrival. `maxLateness` as in
    * [[transitionStream]]: input behind the watermark is dropped
    * before the fold.
    */
  def rateLimitStream(
      events: Dataset[RateEvent],
      idleTimeout: String = "25 hours",
      maxLateness: String = "0 seconds"): Dataset[RateViolation] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", maxLateness)
      .as[RateEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], RateViolation](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[RateEvent], state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq
            val (out, st) = foldRateLimit(uid, evs, state.getOption.getOrElse(Seq.empty))
            state.update(st)
            val maxSeen = (evs.iterator.map(_.ts_ms) ++ st.iterator).max
            state.setTimeoutTimestamp(maxSeen, idleTimeout)
            out.iterator
          }
      }
  }

  // --------------------------------- bounded-state rate limiting (prod)

  /** Minute-bucket geometry for the bounded-state rate limiter: the
    * trailing-24h window is evaluated at one-minute bucket granularity
    * — 1,440 buckets of 60,000 ms.
    */
  val RateBucketMs = 60000L
  val RateRingBuckets = 1440

  /** Constant-size rate-limit state: a ring of per-minute event counts
    * covering the trailing 24 h, the running total, and the bucket the
    * ring head is parked at. ALWAYS [[RateRingBuckets]] cells — the
    * state bytes per user are a constant regardless of how fast the
    * user emits (the exact fold's vector is linear in a bot's daily
    * volume, which is the attacker's variable).
    */
  final case class RateRing(lastBucket: Long, total: Long, counts: Seq[Long])

  /** Bounded-state trailing-24h rate limiting — the PRODUCTION fold.
    * Window semantics are the industry sliding-window-counter rule: an
    * event at time t counts peers whose minute bucket lies in the
    * trailing 1,440 buckets, i.e. exact ms arithmetic on the upper
    * bound (running count with ms tie-group atomicity, identical to
    * [[foldRateLimit]]) and minute granularity on the lower bound
    * (events expire when their BUCKET leaves the window, at most
    * 59,999 ms later than ms-exact eviction — so the ring count is
    * sandwiched between the exact 24 h count and the exact count over
    * 23 h 59 min, and EQUALS the exact fold on minute-aligned
    * timestamps; KernelLawsSpec pins both laws). O(1) per event:
    * advance the ring head (zeroing at most a full ring on a long
    * quiet gap), add the tie group to its cell, read the total.
    *
    * Late data: an arrival for a bucket OLDER than the ring head never
    * rewinds the head — if its bucket is still inside the ring it is
    * counted into that cell (and into every LATER event's window,
    * conservatively — fail-safe for a limiter); if it has already
    * aged out it is counted transiently for its own violation row
    * only. A late row's OWN n_24h reads the whole live ring (the
    * aged-out transient path adds its group on top of it), so it is a
    * conservative UPPER BOUND that can include events with timestamps
    * NEWER than the late row — by design: under-counting a limiter
    * fails open, over-counting only fires the violation early.
    * KernelLawsSpec pins these rules against a naive reference on
    * out-of-order splits. As everywhere in this family: hold
    * out-of-order input behind a watermark upstream for exact replay
    * semantics.
    */
  def foldRateLimitRing(uid: Long, events: Seq[RateEvent], init: Option[RateRing],
      limit: Int = RateLimit): (Seq[RateViolation], RateRing) = {
    val sorted = events.sortBy(e => (e.ts_ms, e.event_id))
    val counts = init.map(_.counts.toArray).getOrElse(Array.fill(RateRingBuckets)(0L))
    var last = init.map(_.lastBucket).getOrElse(Long.MinValue)
    var total = init.map(_.total).getOrElse(0L)
    def cell(b: Long): Int = (((b % RateRingBuckets) + RateRingBuckets) % RateRingBuckets).toInt
    val out = Vector.newBuilder[RateViolation]
    var i = 0
    while (i < sorted.size) {
      val t = sorted(i).ts_ms
      var j = i
      while (j < sorted.size && sorted(j).ts_ms == t) j += 1
      val group = sorted.slice(i, j)
      val b = Math.floorDiv(t, RateBucketMs)
      if (last == Long.MinValue) last = b - 1
      if (b > last) {
        var k = 1L
        val steps = math.min(b - last, RateRingBuckets.toLong)
        while (k <= steps) {
          val idx = cell(last + k)
          total -= counts(idx)
          counts(idx) = 0L
          k += 1
        }
        last = b
      }
      val inRing = b > last - RateRingBuckets
      if (inRing) {
        counts(cell(b)) += group.size.toLong
        total += group.size.toLong
      }
      val n = if (inRing) total else total + group.size.toLong
      if (n > limit) group.foreach(e => out += RateViolation(uid, e.event_id, t, n))
      i = j
    }
    (out.result(), RateRing(last, total, counts.toSeq))
  }

  /** Streaming rate-limit violations with CONSTANT per-user state via
    * [[foldRateLimitRing]] — what a production cluster runs. Idle
    * users evict after `idleTimeout` of EVENT time (semantics-neutral
    * past 24 h and outage-safe, as in [[rateLimitStream]]).
    */
  def rateLimitRingStream(
      events: Dataset[RateEvent],
      idleTimeout: String = "25 hours",
      maxLateness: String = "0 seconds"): Dataset[RateViolation] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_ts", timestamp_millis(col("ts_ms")))
      .withWatermark("event_ts", maxLateness)
      .as[RateEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateRing, RateViolation](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[RateEvent], state: GroupState[RateRing]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = it.toSeq
            val (out, st) = foldRateLimitRing(uid, evs, state.getOption)
            state.update(st)
            val maxSeen = (evs.iterator.map(_.ts_ms) ++
              Iterator.single(st.lastBucket * RateBucketMs)).max
            state.setTimeoutTimestamp(maxSeen, idleTimeout)
            out.iterator
          }
      }
  }

  // ------------------------------------------------------------- queries

  val qWindowed = GraftQuery(
    "stream_windowed_agg",
    (s, d) => windowedAgg(Events.withEventTime(s, d)).orderBy("window_start", "event_type"),
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    prod = Some((s, d) => windowedAgg(Events.withEventTime(s, d))),
  )

  val qProfile = GraftQuery(
    "stream_profile",
    (s, d) => windowedProfile(Events.withEventTime(s, d)).orderBy("window_start", "col_name"),
    Some("""WITH a AS (
        SELECT date_trunc('hour', ts) AS window_start,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(event_type) AS BIGINT) AS nn_0,
          CAST(MIN(event_type) AS VARCHAR) AS mn_0, CAST(MAX(event_type) AS VARCHAR) AS mx_0,
          CAST(COUNT(user_id) AS BIGINT) AS nn_1,
          CAST(MIN(user_id) AS VARCHAR) AS mn_1, CAST(MAX(user_id) AS VARCHAR) AS mx_1,
          CAST(COUNT(value) AS BIGINT) AS nn_2,
          CAST(MIN(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS mn_2,
          CAST(MAX(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS mx_2
        FROM events GROUP BY 1)
      SELECT window_start, col_name, n_rows, n_null, min_v, max_v FROM (
        SELECT window_start, 'event_type' AS col_name, n_rows, n_rows - nn_0 AS n_null, mn_0 AS min_v, mx_0 AS max_v FROM a
        UNION ALL
        SELECT window_start, 'user_id', n_rows, n_rows - nn_1, mn_1, mx_1 FROM a
        UNION ALL
        SELECT window_start, 'value', n_rows, n_rows - nn_2, mn_2, mx_2 FROM a)
      ORDER BY window_start, col_name"""),
    prod = Some((s, d) => windowedProfile(Events.withEventTime(s, d))),
  )

  val qSessionize = GraftQuery(
    "stream_sessionize_state",
    (s, d) => sessionizeBatch(Events.withEventTime(s, d)),
    Some("""WITH lagged AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               LAG(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
        FROM lagged),
      sess AS (
        SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
  )

  val qIntervalJoin = GraftQuery(
    "stream_interval_join",
    (s, d) => intervalJoinBatch(Events.withEventTime(s, d)),
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             (epoch_ms(p.ts) - epoch_ms(c.ts)) / 1000.0 AS gap_sec
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND epoch_ms(p.ts) >= epoch_ms(c.ts)
       AND epoch_ms(p.ts) <= epoch_ms(c.ts) + 1800000
      ORDER BY click_id, purchase_id"""),
  )

  /** Fixed-bucket delivery collapse: one row per (user, type, minute
    * bucket), keeping the lowest event_id as the representative. NOT a
    * semantic twin of [[dedupStream]] — that dedups on a caller-supplied
    * delivery key within a watermark horizon, whereas this merges distinct
    * same-minute events under one key and splits redeliveries that
    * straddle a minute boundary; it is the batch-auditable shape of the
    * same at-least-once cleanup concern. One hash aggregate, map-side
    * partial.
    */
  def dedupBatch(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .agg(min("event_id").as("keep_event"), count(lit(1)).as("n_deliveries"))

  val qDedup = GraftQuery(
    "stream_dedup_exact",
    (s, d) => dedupBatch(Events.withEventTime(s, d))
      .orderBy("user_id", "event_type", "minute"),
    Some("""SELECT user_id, event_type, date_trunc('minute', ts) AS minute,
        MIN(event_id) AS keep_event, COUNT(*) AS n_deliveries
      FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    prod = Some((s, d) => dedupBatch(Events.withEventTime(s, d))),
  )

  /** Batch twin of [[decontamStream]] under the oracle gate: the same
    * bloom-prefilter + exact-confirm kernels over the documents table
    * (q44's plan), reduced to the contaminated-id stream the streaming
    * gate emits. StreamingSpec pins stream ≡ batch on planted arrivals.
    */
  val qDecontam = GraftQuery(
    "stream_decontam",
    (s, d) => graft.operators.TrainPrep.bloomDecontam(s, d)
      .filter(col("contaminated") === 1L)
      .select("doc_id")
      .orderBy("doc_id"),
    Some("""WITH t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          CAST(('0x' || substr(md5(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
            || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]), 1, 15)) AS BIGINT) AS hash
        FROM t CROSS JOIN UNNEST(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
      bench AS (
        SELECT DISTINCT hash FROM sh WHERE doc_id % 20 = 0)
      SELECT DISTINCT sh.doc_id
      FROM sh JOIN bench USING (hash)
      WHERE sh.doc_id % 20 <> 0
      ORDER BY sh.doc_id"""),
    prod = Some((s, d) => graft.operators.TrainPrep.bloomDecontam(s, d)
      .filter(col("contaminated") === 1L)
      .select("doc_id")),
  )

  /** Batch twin of [[scd2Stream]] under the oracle gate: q45's closed
    * intervals (what the streaming runner has emitted once the change
    * arrives). StreamingSpec pins stream ≡ batch on the same events.
    */
  val qScd2 = GraftQuery(
    "stream_scd2",
    (s, d) => graft.operators.ScrapeEtl.q45.run(s, d)
      .filter(col("is_current") === 0L)
      .select("user_id", "version", "state", "valid_from_ms", "valid_to_ms"),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_state
        FROM events),
      c AS (
        SELECT * FROM e WHERE prev_state IS NULL OR event_type <> prev_state),
      v AS (
        SELECT user_id, event_type, ts_ms,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               LEAD(ts_ms) OVER w AS valid_to_ms
        FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      SELECT user_id, version, event_type AS state, ts_ms AS valid_from_ms, valid_to_ms
      FROM v WHERE valid_to_ms IS NOT NULL
      ORDER BY user_id, version"""),
    prod = Some((s, d) => graft.operators.ScrapeEtl.q45.runProd(s, d)
      .filter(col("is_current") === 0L)
      .select("user_id", "version", "state", "valid_from_ms", "valid_to_ms")),
  )

  /** Batch twin of [[transitionStream]] under the oracle gate: the same
    * per-user ordered pairs as one lag window. StreamingSpec pins
    * stream ≡ batch on the same events.
    */
  val qTransitions = GraftQuery(
    "stream_transitions",
    (s, d) => {
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      Events.withEventTime(s, d)
        .withColumn("ts_ms", unix_millis(col("ts")))
        .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
        .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
        .filter(col("from_type").isNotNull)
        .select(
          col("user_id"), col("event_id"), col("from_type"),
          col("event_type").as("to_type"),
          (col("ts_ms") - col("prev_ms")).as("gap_ms"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(event_type) OVER w AS from_type,
               LAG(epoch_ms(ts)) OVER w AS prev_ms
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      SELECT user_id, event_id, from_type, event_type AS to_type,
             CAST(ts_ms - prev_ms AS BIGINT) AS gap_ms
      FROM e WHERE from_type IS NOT NULL
      ORDER BY user_id, event_id"""),
  )

  /** Batch twin of [[rateLimitStream]] under the oracle gate: q67's
    * rolling count filtered to violations (prod mode rides q67's
    * scale-safe prefix-sum plan). StreamingSpec pins stream ≡ batch.
    */
  val qRateLimit = GraftQuery(
    "stream_rate_limit",
    (s, d) => graft.operators.ScrapeEtl.q67.run(s, d)
      .filter(col("n_24h") > RateLimit)
      .select("event_id", "user_id", "ts_ms", "n_24h"),
    Some(s"""WITH r AS (
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
          COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                         RANGE BETWEEN 86399999 PRECEDING AND CURRENT ROW) AS n_24h
        FROM events)
      SELECT event_id, user_id, ts_ms, n_24h
      FROM r WHERE n_24h > $RateLimit
      ORDER BY event_id"""),
    prod = Some((s, d) => graft.operators.ScrapeEtl.q67.runProd(s, d)
      .filter(col("n_24h") > RateLimit)
      .select("event_id", "user_id", "ts_ms", "n_24h")),
  )

  /** Batch twin of [[foldRateLimitRing]]: the bucketed trailing count
    * as three O(n) passes — per-event running count (growing RANGE
    * frame, incremental), per-(user, minute-bucket) cumulative counts,
    * and a probe-row carry that hands each bucket the cumulative count
    * at its window-start bucket (the q67 prefix-sum shape; no sliding
    * frame anywhere). n = running_count − count_before_window, where
    * "before window" is exactly "bucket ≤ b − 1440" — the bucket
    * boundary makes the strictly-before set a pure bucket-level
    * quantity, which is why the carry join keys on (user, bucket)
    * instead of per-event timestamps: the carried table is one row per
    * DISTINCT (user, bucket), not per event.
    */
  private def rateBucketedBatch(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("b", expr(s"ts_ms div ${RateBucketMs}L"))
      .select("event_id", "user_id", "ts_ms", "b")
    val wLe = Window.partitionBy("user_id").orderBy("ts_ms")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val withLe = e.withColumn("n_le", count(lit(1)).over(wLe))
    val wB = Window.partitionBy("user_id").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = e.groupBy("user_id", "b").agg(count(lit(1)).as("c"))
      .withColumn("cum_le_b", sum("c").over(wB))
      .select(col("user_id"), col("b"), col("cum_le_b"))
    // probe-row carry: for each distinct (user, bucket), the cumulative
    // count at bucket − 1440; real rows sort before probes at the same
    // bucket because "before window" is INCLUSIVE of bucket b − 1440
    val real = cum.select(col("user_id"), col("b").as("bq"),
      col("cum_le_b").as("cumv"), lit(null).cast("long").as("probe_b"))
    val probes = cum.select(col("user_id"),
      (col("b") - lit(RateRingBuckets.toLong)).as("bq"),
      lit(null).cast("long").as("cumv"), col("b").as("probe_b"))
    val wCarry = Window.partitionBy("user_id")
      .orderBy(col("bq").asc, col("probe_b").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = real.unionByName(probes)
      .withColumn("carry", last(col("cumv"), ignoreNulls = true).over(wCarry))
      .filter(col("probe_b").isNotNull)
      .select(col("user_id"), col("probe_b").as("b"),
        coalesce(col("carry"), lit(0L)).as("n_before_win"))
    withLe.join(carried, Seq("user_id", "b"))
      .withColumn("n_24h", col("n_le") - col("n_before_win"))
      .filter(col("n_24h") > RateLimit)
      .select("event_id", "user_id", "ts_ms", "n_24h")
  }

  /** The bounded-state rate limiter under the oracle gate. StreamingSpec
    * pins stream ≡ batch on the same events; KernelLawsSpec pins the
    * ring fold's sandwich/alignment laws against [[foldRateLimit]].
    */
  val qRateLimitBucketed = GraftQuery(
    "stream_rate_limit_bucketed",
    (s, d) => rateBucketedBatch(s, d).orderBy("event_id"),
    Some(s"""WITH e AS (
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
               epoch_ms(ts) // $RateBucketMs AS b
        FROM events),
      r AS (
        SELECT event_id, user_id, ts_ms, b,
          COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ms
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le
        FROM e),
      cb AS (SELECT user_id, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
      cum AS (
        SELECT user_id, b, SUM(c) OVER (PARTITION BY user_id ORDER BY b) AS cum_le_b
        FROM cb),
      v AS (
        SELECT r.event_id, r.user_id, r.ts_ms,
          r.n_le - COALESCE((SELECT MAX(c2.cum_le_b) FROM cum c2
            WHERE c2.user_id = r.user_id AND c2.b <= r.b - $RateRingBuckets), 0) AS n_24h
        FROM r)
      SELECT event_id, user_id, ts_ms, CAST(n_24h AS BIGINT) AS n_24h
      FROM v WHERE n_24h > $RateLimit
      ORDER BY event_id"""),
    prod = Some((s, d) => rateBucketedBatch(s, d)),
  )

  /** [[curateStream]]'s input shape from the documents table: arrival
    * time synthesized deterministically and MONOTONE in doc_id, so the
    * stream's keeper rule (min-(ts, doc_id) arrival) reduces to min
    * doc_id — the property the oracle SQL states.
    */
  private def curateInput(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d).withColumn(
      "ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000L))

  /** The LITERAL [[curateStream]] code under the oracle gate: Spark runs
    * flatMapGroupsWithState in batch mode too (each key's rows arrive as
    * one complete group, state starts empty, timeouts never fire), so
    * the same per-row gates + exact-dedup fold that serves streaming
    * ingest is what the driver hash-compares against DuckDB — not a
    * re-derivation that could drift. Batch-mode semantics = one
    * micro-batch containing the whole table: keeper is the min-(ts,
    * doc_id) arrival, every other same-text copy is exact_dup.
    * StreamingSpec pins batch-run ≡ streamed-run on the same rows split
    * across micro-batches (the seenBefore state path).
    *
    * Plan note: the failed/deduped branch split references the staged
    * projection twice — two corpus scans in batch mode. That is the
    * price of running the stream's literal code (in a micro-batch the
    * "scan" is the in-memory batch, where the split is free); BATCH
    * curation at scale is [[graft.operators.Curate]]'s one-scan stage
    * table, and this entry exists to gate the STREAM's fold.
    */
  val qCurate = GraftQuery(
    "stream_curate",
    (s, d) => curateStream(curateInput(s, d)).orderBy("doc_id"),
    Some("""WITH staged AS (
        SELECT doc_id, lang, md5(text) AS text_md5,
          len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS n_toks
        FROM documents),
      failed AS (
        SELECT doc_id, CASE WHEN n_toks < 5 THEN 'too_short' ELSE 'wrong_lang' END AS verdict
        FROM staged WHERE n_toks < 5 OR lang IS DISTINCT FROM 'en'),
      ded AS (
        SELECT doc_id, CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY text_md5)
          THEN 'kept' ELSE 'exact_dup' END AS verdict
        FROM staged WHERE n_toks >= 5 AND lang IS NOT DISTINCT FROM 'en')
      SELECT doc_id, verdict FROM failed
      UNION ALL SELECT doc_id, verdict FROM ded
      ORDER BY doc_id"""),
    prod = Some((s, d) => curateStream(curateInput(s, d))),
  )

  /** Batch twin of the stream-vs-corpus near-dup match on the md5 twin
    * kernel (ANSI-expressible, so the gate is the HARD hash compare —
    * the xxhash production path keeps its planted-recall specs): the
    * asymmetric version of dedup_minhash_md5's LSH. Arrivals band-join
    * the capped corpus signature table (never all-pairs; the cap bounds
    * a degenerate boilerplate bucket's fan-out exactly like the stream),
    * candidates verify on full signatures, and every arrival gets a
    * decision row. Exchanges carry (doc_id, band strings) then
    * (doc_id, 16-long sigs) — no text crosses a shuffle.
    */
  def nearDupBatchMd5(
      arrivals: DataFrame,
      corpus: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5,
      bucketCap: Int = 10000): DataFrame =
    // the asymmetric law lives in ONE rendering (r18: it is also the
    // fuzzy-decontam gate, q88_neardup_decontam)
    graft.operators.Dedup.nearDupAgainst(arrivals, corpus, k, bands, tau, bucketCap)

  /** Driver gate for [[nearDupBatchMd5]]: every 10th doc plays the
    * arriving stream, the rest are the existing curated corpus.
    */
  val qNearDup = GraftQuery(
    "stream_neardup",
    (s, d) => {
      val docs = graft.Tables.documents(s, d)
      nearDupBatchMd5(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0)).orderBy("doc_id")
    },
    Some(graft.operators.Dedup.nearDupAgainstSql(
      arrPred = "doc_id % 10 = 0", refPred = "doc_id % 10 <> 0",
      matchCol = "is_match", nCol = "n_matches")),
    prod = Some((s, d) => {
      val docs = graft.Tables.documents(s, d)
      nearDupBatchMd5(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0))
    }),
  )

  /** Driver gate for [[embNearDupBatch]]: every 10th vector plays the
    * arriving stream, the rest are the curated corpus. rows-only by
    * design: the candidate set depends on the native hyperplane bands,
    * which have no ANSI formulation (same standing as
    * dedup_embedding_cosine); StreamingSpec pins stream ≡ batch on
    * arrivals split across micro-batches plus planted match/non-match
    * vectors, and the exact-cosine verify core is hash-gated by
    * dedup_cosine_verify.
    */
  val qEmbNearDup = GraftQuery(
    "stream_emb_neardup",
    (s, d) => {
      val emb = graft.Tables.embeddings(s, d)
      embNearDupBatch(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0)).orderBy("vec_id")
    },
    None,
    prod = Some((s, d) => {
      val emb = graft.Tables.embeddings(s, d)
      embNearDupBatch(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0))
    }),
  )

  /** Driver gate for [[repairBatch]]: every 10th doc of the
    * synthesized lined+PII corpus plays the arriving stream; the
    * removal reference is the boilerplate law over the WHOLE corpus
    * (what the periodic batch producer writes). The oracle composes
    * the same shared renderings as q89/q92/q93, with the rem law over
    * the full population and the rewrite over the arrival slice.
    */
  val qRepair = GraftQuery(
    "stream_repair",
    (s, d) => {
      val synth = graft.operators.TextAnalysis.piiDocs(
        graft.operators.Dedup.linedDocs(graft.Tables.documents(s, d))).localCheckpoint()
      repairBatch(
        synth.filter(col("doc_id") % 10 === 0),
        graft.operators.Dedup.lineRemovalSet(synth)).orderBy("doc_id")
    },
    Some(s"""WITH ${graft.operators.Dedup.linedDocsCtes},
      pii AS (SELECT doc_id, ${graft.operators.TextAnalysis.piiSynthExpr} AS text FROM ld),
      ${graft.operators.Dedup.lineRewriteCtes("pii", "doc_id % 10 = 0")},
      rsrc AS (SELECT doc_id, n_lines, n_removed, clean_text AS text FROM lclean),
      ${graft.operators.TextAnalysis.piiRedactSql("rsrc", Seq("n_lines", "n_removed"))}"""),
    prod = Some((s, d) => {
      val synth = graft.operators.TextAnalysis.piiDocs(
        graft.operators.Dedup.linedDocs(graft.Tables.documents(s, d))).localCheckpoint()
      repairBatch(
        synth.filter(col("doc_id") % 10 === 0),
        graft.operators.Dedup.lineRemovalSet(synth))
    }),
  )

  def all: Seq[GraftQuery] =
    Seq(qWindowed, qProfile, qSessionize, qIntervalJoin, qDedup, qDecontam, qScd2, qTransitions,
      qRateLimit, qRateLimitBucketed, qCurate, qNearDup, qEmbNearDup, qRepair)
}
