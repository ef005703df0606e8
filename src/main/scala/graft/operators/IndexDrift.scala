package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.sources.{Generations, IndexLayout}

/** QUANTIZER / PARTITIONER DRIFT MONITOR (r17 judge item) — the trigger
  * signal the index lifecycle's "retrain = rebuild" rule was missing:
  * WHEN has the partitioner gone stale? The answer is measurable from
  * state the layout already has: compare each append batch's
  * cell-assignment histogram against the base generation's. A quantizer
  * trained on the base corpus assigns in-distribution appends to cells
  * in roughly base proportions; a distribution shift (new crawl
  * template, embedding-model change, vocabulary shift) skews the
  * histogram long before recall visibly decays.
  *
  * Metric: q54's total-variation-drift law applied to the two cell
  * histograms — l1_dev = Σ_cells |a_c·B − A·b_c| over the union of
  * cells (a = batch counts, A = batch total, b = base counts, B = base
  * total), reported as drift_ppm = (l1_dev · 10^6) div max(2·A·B, 1)
  * = 10^6 · TV-distance, multiply-first so the ppm stays exact at ANY
  * histogram size (q54's divide-first form floors its denominator to
  * zero below a million-row product — fine over a corpus, degenerate
  * per batch). Exact integer arithmetic end to end → the HARD gate
  * hash-matches (BIGINT envelope: l1_dev·10^6 < 2^63 ⇒ the
  * batch-rows × base-rows product stays under ~4.6·10^12 — generous
  * for per-batch appends; past that the same formula moves to
  * DECIMAL(38)). `stale` flags drift_ppm ≥
  * [[StalePpm]] (TV 0.2 — a batch whose cell mass is a fifth away from
  * the base's needs a retrain decision, not more appends).
  *
  * GENERIC over every persisted layout in the engine: the monitor only
  * reads (partition column, generation root, visible batch dirs) — the
  * IVF family's `cluster` lists, the sparse index's `bkt` postings, and
  * the clustered tables all qualify. The registry entry gates the law
  * over a SPARSE index (its md5 bucket law is portable, so DuckDB
  * recomputes the histograms from the documents table and the whole
  * decision hash-compares); IndexDriftSpec plants the learned-quantizer
  * editions (in-distribution append stays quiet, off-distribution append
  * trips) over a real IVF dir.
  *
  * 100 TB shape: histograms are (cell, count) aggregates — map-side
  * combined, k rows out per unit; the comparison is a k-row join per
  * batch. Nothing reads vectors or text. The per-batch loop is a
  * directory listing (bounded by the compaction cadence, the
  * [[Ivf.compactIndex]] convention).
  */
object IndexDrift {

  /** Staleness threshold in ppm of total variation (0.2 TV). */
  private[graft] val StalePpm = 200000L

  private def hist(df: DataFrame, partitionCol: String): DataFrame =
    df.groupBy(col(partitionCol).as("cell")).agg(count(lit(1)).as("c"))

  /** Per-append-batch drift rows against the base generation:
    * (batch_id, n_rows, l1_dev, drift_ppm, stale). Batches with zero
    * rows never land (the IndexLayout empty-batch guard), so every
    * visible batch has a defined histogram.
    */
  def cellDrift(spark: SparkSession, dir: String, partitionCol: String): DataFrame = {
    // the shared live resolution: the base root, then the un-folded
    // batches only. Batches the `_folded` manifest records must stay
    // out: a compaction that crashed after the generation flip but
    // before its batch GC leaves them visible, and their rows are
    // ALREADY IN the base — a folded batch measured against itself
    // self-dampens (mass "went where mass was"), so a genuinely stale
    // batch could read quiet
    val root +: batchDirs =
      Generations.liveRoots(IndexLayout.fsOf(spark, dir), dir, IndexLayout.AppendsDataSubdir)
    val base = hist(spark.read.parquet(root), partitionCol)
      .select(col("cell"), col("c").as("b"))
      .localCheckpoint() // one base histogram, joined by every batch
    require(batchDirs.nonEmpty,
      s"cellDrift: no un-folded append batches under $dir — drift is measured " +
        "against un-folded appends (compaction folds them into the base)")
    val perBatch = batchDirs.map { batchDir =>
      hist(spark.read.parquet(batchDir), partitionCol)
        .select(col("cell"), col("c").as("a"))
        .join(base, Seq("cell"), "full_outer")
        .agg(
          sum(coalesce(col("a"), lit(0L))).as("na"),
          sum(coalesce(col("b"), lit(0L))).as("nb"),
          // Σ |a_c·B − A·b_c| needs the totals first — carry the raw
          // histogram through a struct list instead of a second scan
          collect_list(struct(
            coalesce(col("a"), lit(0L)).as("a"),
            coalesce(col("b"), lit(0L)).as("b"))).as("cells"))
        .select(
          lit(new org.apache.hadoop.fs.Path(batchDir).getName).as("batch_id"),
          col("na").as("n_rows"),
          expr("aggregate(cells, 0L, (acc, x) -> acc + abs(x.a * nb - na * x.b))")
            .as("l1_dev"),
          col("na"), col("nb"))
        // multiply-first ppm: q54's divide-first form (l1 div (2nN div
        // 10^6)) floors the denominator to zero below a million-row
        // product — fine at corpus scale, degenerate for per-batch cell
        // histograms. Envelope: l1_dev·10^6 < 2^63 ⇒ batch·base row
        // product < ~4.6·10^12; past that, DECIMAL(38) (object doc).
        .select(
          col("batch_id"), col("n_rows"), col("l1_dev"),
          expr(s"(l1_dev * 1000000) div greatest(2 * na * nb, 1)").as("drift_ppm"))
        .withColumn("stale", col("drift_ppm") >= StalePpm)
    }
    perBatch.reduceLeft(_ unionByName _)
  }

  // ------------------------------------------------------------- queries

  private val driftDirCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def tokedDocs(s: SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d)
      .select(col("doc_id"), graft.gfunctions.ws_tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)

  /** The drift law under the HARD gate, over a real persisted index:
    * a sparse postings index built from a third of the corpus with two
    * appended thirds (deterministic doc_id slices, so DuckDB rebuilds
    * the same three units from the documents table). The bucket law is
    * the portable md5 token hash mod [[SparseIndex.NBuckets]] — the
    * whole decision row set (totals, l1_dev, ppm, stale flags)
    * hash-compares.
    */
  val qCellDrift = GraftQuery(
    "q90_cell_drift",
    (s, d) => {
      val dir = driftDirCache.getOrElseUpdate(d, {
        val out = s"/tmp/graft-drift-index/idx_${java.lang.Integer.toHexString(d.hashCode)}"
        val toked = tokedDocs(s, d).localCheckpoint()
        SparseIndex.writeIndex(toked.filter(col("doc_id") % 3 === 0), out)
        SparseIndex.appendIndexBatch(toked.filter(col("doc_id") % 3 === 1), out, 0L, "drift-")
        SparseIndex.appendIndexBatch(toked.filter(col("doc_id") % 3 === 2), out, 1L, "drift-")
        out
      })
      cellDrift(s, dir, "bkt").orderBy("batch_id")
    },
    Some(s"""WITH ${Dedup.tokenHashCte},
      post AS (SELECT DISTINCT doc_id, h FROM tokh),
      units AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'base'
                    WHEN doc_id % 3 = 1 THEN 'drift-0' ELSE 'drift-1' END AS unit,
               h % ${SparseIndex.NBuckets} AS cell
        FROM post),
      hb AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS b FROM units WHERE unit = 'base' GROUP BY cell),
      ha AS (SELECT unit, cell, CAST(COUNT(*) AS BIGINT) AS a FROM units WHERE unit <> 'base' GROUP BY unit, cell),
      joined AS (
        SELECT u.unit, COALESCE(ha.a, 0) AS a, COALESCE(hb.b, 0) AS b
        FROM (SELECT DISTINCT un.unit, c.cell
              FROM (SELECT DISTINCT unit FROM units WHERE unit <> 'base') un
              CROSS JOIN (SELECT DISTINCT cell FROM units) c) u
        LEFT JOIN ha ON ha.unit = u.unit AND ha.cell = u.cell
        LEFT JOIN hb ON hb.cell = u.cell),
      tot AS (
        SELECT unit, CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
        FROM joined GROUP BY unit),
      agg AS (
        SELECT j.unit AS batch_id, t.na AS n_rows, t.nb,
          CAST(SUM(abs(j.a * t.nb - t.na * j.b)) AS BIGINT) AS l1_dev
        FROM joined j JOIN tot t ON t.unit = j.unit
        GROUP BY j.unit, t.na, t.nb)
      SELECT batch_id, n_rows, l1_dev,
        CAST((l1_dev * 1000000) // greatest(2 * n_rows * nb, 1) AS BIGINT) AS drift_ppm,
        ((l1_dev * 1000000) // greatest(2 * n_rows * nb, 1)) >= ${StalePpm} AS stale
      FROM agg ORDER BY batch_id"""),
  )

  def all: Seq[GraftQuery] = Seq(qCellDrift)
}
