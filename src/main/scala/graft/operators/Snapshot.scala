package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}

/** Dataset-versioning audit: classify every document across two corpus
  * snapshots as added / removed / changed / unchanged — the diff a
  * training-data platform prints before re-training on a refreshed
  * crawl (which eval slices moved? how much of the mixture shifted?),
  * and the idempotent-load audit the reference's nightly re-scrape
  * implies (unilever_scraping_pipeline.py re-lands the same product
  * table; q24 checks idempotence, this reports the delta).
  *
  * Law: snapshots compare by (doc_id, md5(text)) — identity by key,
  * content by hash, so the exchange carries 40-byte pairs, never
  * document text. The diff is ONE full-outer join keyed on doc_id:
  * absent-right = removed, absent-left = added, hash-mismatch =
  * changed. At 100 TB both snapshots are parquet tables; clustering
  * them on doc_id (sources/Clustered.scala) makes the join co-located
  * and the unchanged majority never leaves its executor.
  *
  * The registry entry synthesizes the "next" snapshot relationally
  * from the current one (the q76 pattern: drop doc_id % 31, revise
  * % 17, add a shifted-id slice) so both engines derive the SAME pair
  * of snapshots and the gate grades the DIFF law, not stored inputs.
  */
object Snapshot {

  /** The diff core over two (doc_id, h) frames (spec entry point).
    * The content compare is NULL-SAFE (<=> / IS DISTINCT FROM): a doc
    * whose text was NULL in exactly one snapshot (md5(NULL) = NULL —
    * the state q97's null accounting exists to surface) is 'changed',
    * never silently 'unchanged' through three-valued logic.
    */
  def snapshotDiffOn(cur: DataFrame, nxt: DataFrame): DataFrame =
    cur.as("c").join(nxt.as("x"), col("c.doc_id") === col("x.doc_id"), "full_outer")
      .select(
        coalesce(col("c.doc_id"), col("x.doc_id")).as("doc_id"),
        when(col("x.doc_id").isNull, "removed")
          .when(col("c.doc_id").isNull, "added")
          .when(!(col("c.h") <=> col("x.h")), "changed")
          .otherwise("unchanged").as("change"))

  // The refresh law's constants — one rendering shared by the frame
  // builders below; [[nextSnapshotCte]] is its SQL twin.
  private val RemovedMod = 31
  private val RevisedMod = 17
  private val AddedMod = 41
  private val RevisedSuffix = " rev2"
  private val AddedPrefix = "new doc "

  private def kept(id: Column): Column = id % RemovedMod =!= 0
  private def revised(id: Column): Column = id % RevisedMod === 0
  private def revisedText: Column = concat(col("text"), lit(RevisedSuffix))

  /** The added shifted-id slice: doc_id % 41 docs re-keyed past the
    * corpus count with synthetic text. The 1-row count cross join is the
    * q35 scalar-subquery shape.
    */
  private def added(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    docs.filter(col("doc_id") % AddedMod === 0)
      .crossJoin(broadcast(n))
      .select((col("doc_id") + col("n")).as("doc_id"),
        concat(lit(AddedPrefix), (col("doc_id") + col("n")).cast("string")).as("text"))
  }

  /** The synthesized NEXT snapshot at TEXT level — the ONE rendering
    * of the refresh law (r20, factored from q100's hash-level inline):
    * drop doc_id % 31, append " rev2" to doc_id % 17's text, add a
    * shifted-id slice of doc_id % 41 docs with synthetic text. q100
    * HASHES this frame; the contamination TREND audit (q110) TOKENIZES
    * it — one law, two consumers, so "the next snapshot" cannot mean
    * different corpora to the diff and to the audit. NULL text flows
    * through unchanged concat semantics in both engines (NULL || x =
    * NULL), so md5-of-text equality with the pre-factor law is exact.
    */
  def nextSnapshotDocsOn(docs: DataFrame): DataFrame =
    docs.filter(kept(col("doc_id")))
      .select(col("doc_id"),
        when(revised(col("doc_id")), revisedText).otherwise(col("text")).as("text"))
      .unionAll(added(docs))

  /** The DELTA slice of [[nextSnapshotDocsOn]] — only the rows whose
    * text DIFFERS from the current snapshot: revised survivors
    * (doc_id % 17 = 0, text || " rev2") and the added shifted-id
    * slice. Same law, same constants and builders, so consumers that
    * stage per-doc derivations (q110's trend audit) recompute only the
    * ~8% that changed and reuse current-snapshot results for the
    * unchanged rest, which [[survivesUnchanged]] selects. SnapshotSpec
    * pins delta ∪ (current ∣ survivesUnchanged) ≡ [[nextSnapshotDocsOn]].
    */
  def nextSnapshotDeltaDocsOn(docs: DataFrame): DataFrame =
    docs.filter(kept(col("doc_id")) && revised(col("doc_id")))
      .select(col("doc_id"), revisedText.as("text"))
      .unionAll(added(docs))

  /** Predicate over a CURRENT-snapshot doc id: the doc survives into
    * the next snapshot with byte-identical text — not removed (% 31)
    * and not revised (% 17). The complement-in-law of
    * [[nextSnapshotDeltaDocsOn]].
    */
  def survivesUnchanged(id: Column = col("doc_id")): Column =
    kept(id) && id % RevisedMod =!= 0

  /** SQL rendering of [[nextSnapshotDocsOn]] — defines `nn` and
    * `nxtdocs(doc_id, text)`; composable under any oracle that reads
    * the refreshed corpus (q100 hashes it, q110 shingles it).
    */
  val nextSnapshotCte: String =
    """nn AS (SELECT COUNT(*) AS n FROM documents),
      nxtdocs AS (
        SELECT doc_id,
          CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END AS text
        FROM documents WHERE doc_id % 31 <> 0
        UNION ALL
        SELECT d.doc_id + nn.n AS doc_id,
          'new doc ' || CAST(d.doc_id + nn.n AS VARCHAR) AS text
        FROM documents d CROSS JOIN nn WHERE d.doc_id % 41 = 0)"""

  private def diffDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cur = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val nxt = nextSnapshotDocsOn(docs).select(col("doc_id"), md5(col("text")).as("h"))
    snapshotDiffOn(cur, nxt)
  }

  val q100 = GraftQuery(
    "q100_snapshot_diff",
    (s, d) => diffDocs(s, d).orderBy("doc_id"),
    Some(s"""WITH $nextSnapshotCte,
      cur AS (SELECT doc_id, md5(text) AS h FROM documents),
      nxt AS (SELECT doc_id, md5(text) AS h FROM nxtdocs)
      SELECT COALESCE(c.doc_id, x.doc_id) AS doc_id,
        CASE WHEN x.doc_id IS NULL THEN 'removed'
             WHEN c.doc_id IS NULL THEN 'added'
             WHEN c.h IS DISTINCT FROM x.h THEN 'changed'
             ELSE 'unchanged' END AS change
      FROM cur c FULL OUTER JOIN nxt x ON c.doc_id = x.doc_id
      ORDER BY doc_id"""),
    prod = Some((s, d) => diffDocs(s, d)),
  )

  def all: Seq[GraftQuery] = Seq(q100)
}
