package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Range-clustered parquet layout: the data-skipping discipline for
  * SELECTIVE predicates on keys too fine for directory partitioning.
  *
  * Directory partitioning ([[ParquetSink]]) prunes on coarse keys —
  * date, platform — but a 100 TB fact table cannot partition by user_id
  * or price (millions of directories). What scans CAN skip on is parquet
  * row-group statistics: every row group stores min/max per column, and
  * the pushed predicate drops whole row groups whose range excludes it —
  * IF the data is clustered so those ranges are tight. A shuffled write
  * leaves every row group spanning the whole key domain (min/max ~
  * global min/max → zero skipping, the stats are dead weight); this
  * write makes them disjoint:
  *
  *  - `repartitionByRange(key)` gives each output file a disjoint key
  *    range (one range-exchange, paid once at write);
  *  - `sortWithinPartitions(key)` orders rows inside the file so each
  *    ROW GROUP covers a narrow contiguous slice of the file's range.
  *
  * A point or range predicate then touches the few row groups whose
  * slice intersects it — scan cost tracks SELECTIVITY, not table size
  * (ScaleProbe22 receipt in SURVEY §6; the disjointness itself is
  * asserted structurally from the parquet footers in ClusteredSpec, not
  * assumed). This composes with directory partitioning: partition by
  * the coarse key, range-cluster by the fine one within each partition.
  *
  * vs [[Bucketed]]: bucketing pre-shuffles for JOIN locality (hash
  * buckets, exchange-free joins); clustering pre-sorts for SCAN
  * selectivity (range files, row-group skipping). A table can need
  * either or both — they are different levers.
  */
object Clustered {

  /** Per-column parquet bloom filter writer options. Range clustering
    * makes the SORT key's row-group min/max stats tight; every OTHER
    * high-cardinality column's stats stay useless (each row group spans
    * the whole domain), so a point probe on doc_id/url/vec_id still
    * reads every row group. A bloom filter per such lookup column
    * closes that gap: the reader tests the probe value against each
    * row group's filter and skips groups that definitely lack it —
    * membership pruning where ordering gives none. Parquet-mr applies
    * them at scan time under Spark's pushed predicates
    * (`parquet.filter.bloom.enabled`, default true); the write cost is
    * one filter per (row group, column), sized by
    * `parquet.bloom.filter.max.bytes` (default 1 MiB cap).
    * ClusteredSpec asserts filter presence straight from the footers;
    * ScaleProbe26 measures the row-group skip rate on a point probe.
    */
  private def bloomOpts(cols: Seq[String]): Map[String, String] =
    cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap

  /** Write `df` range-clustered on `key` into `files` output files,
    * with parquet bloom filters on `bloomCols` (point-lookup columns
    * OTHER than the sort key — the key skips via min/max already).
    */
  def save(
      df: DataFrame, dir: String, key: String, files: Int = 32,
      bloomCols: Seq[String] = Nil): Unit = {
    // full rebuild = new table: without this reset a stale _current
    // would keep readers resolving into a dead generation beside the
    // fresh flat data
    Generations.reset(IndexLayout.fsOf(df.sparkSession, dir), dir, Seq(BatchesSubdir))
    df.repartitionByRange(files, col(key))
      .sortWithinPartitions(key)
      .write.options(bloomOpts(bloomCols)).mode("overwrite").parquet(dir)
  }

  /** Write `df` Z-ORDER-clustered on TWO long keys: the multi-predicate
    * data-skipping layout. [[save]] makes `key`'s row-group stats tight
    * and every other column's useless; this interleaves the bits of
    * both keys' QUANTILE buckets (2^bits each, boundaries from one
    * mergeable-sketch pass — no global sort) into a Morton value and
    * range-clusters on THAT, so each row group covers a small
    * hyper-rectangle in (key0, key1) space and a selective predicate on
    * EITHER key skips most row groups. Per-key skipping is weaker than
    * a dedicated single-key sort — for an N-row-group layout a point
    * predicate on one key touches ~sqrt(N) groups instead of 1 — but
    * the second key gets sqrt(N)-of-N skipping instead of NONE, which
    * is the right trade whenever the workload filters on more than one
    * column (the ScaleProbe23 receipt quantifies both sides). The
    * Morton column is a sort key only — dropped before the write; the
    * layout lives in the row order and the per-key footer stats.
    */
  def saveZOrder(
      df: DataFrame, dir: String, key0: String, key1: String,
      files: Int = 32, bits: Int = 12, relErr: Double = 1e-4,
      bloomCols: Seq[String] = Nil): Unit = {
    Generations.reset(IndexLayout.fsOf(df.sparkSession, dir), dir, Seq(BatchesSubdir)) // full rebuild
    val buckets = 1 << bits
    val probs = Array.tabulate(buckets - 1)(i => (i + 1).toDouble / buckets)
    // one sketch pass covers both keys (approxQuantile merges per-partition
    // KLL-style summaries — no shuffle, no sort)
    val Array(b0, b1) = df.stat
      .approxQuantile(Array(key0, key1), probs, relErr)
      .map(_.map(_.toLong))
    val stride = buckets - 1
    df.withColumn("__z", graft.gfunctions.z_value2(col(key0), col(key1), b0 ++ b1, stride))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.options(bloomOpts(bloomCols)).mode("overwrite").parquet(dir)
  }

  /** Row groups whose [min, max] contains `v` — what a point predicate
    * on the column must touch (footer-derived, like [[rowGroupRanges]]).
    */
  def touchedBy(ranges: Seq[(Long, Long)], v: Long): Int =
    ranges.count { case (mn, mx) => mn <= v && v <= mx }

  /** Committed append batches live here, one atomically visible
    * directory each — the [[Generations]] discipline, so [[optimize]]
    * can never delete a batch it raced with.
    */
  private val BatchesSubdir = "_batches"

  /** Append a batch to a clustered directory. The batch sorts WITHIN
    * itself (its own files stay skippable against each other) but
    * overlaps the resident files' ranges — clustering quality degrades
    * monotonically with every append, exactly like the ANN index's
    * list fragmentation ([[graft.operators.Ivf.appendIndex]]). That is
    * the honest ingest contract: a global re-sort per batch would cost
    * a full-table rewrite each time; instead appends are cheap and
    * [[optimize]] is the periodic maintenance pass that restores the
    * layout (the OPTIMIZE-style compaction discipline of the lakehouse
    * table formats).
    *
    * The batch stages dot-prefixed under `_batches` and becomes visible
    * with ONE atomic rename, so a concurrent [[optimize]] snapshot sees
    * all of it or none of it — and since appends never touch the base
    * layout, the optimize flip can never delete them (FencingSpec
    * interleaves the two and proves zero lost rows).
    *
    * Concurrency contract: any number of appenders, concurrent with
    * readers and with ONE [[optimize]]. No replay semantics — calling
    * append twice lands the rows twice, exactly like the
    * `mode("append")` write it replaces.
    */
  def append(
      df: DataFrame, dir: String, key: String, files: Int = 4,
      bloomCols: Seq[String] = Nil): Unit =
    commitBatch(df, dir, key, "adhoc-" + java.util.UUID.randomUUID.toString,
      files, bloomCols)

  /** The ONE commit path every Clustered append form shares: the
    * sorted batch written through [[Generations.stagedCommit]] (unique
    * per-attempt staging, one atomic rename into `_batches/<id>`).
    */
  private def commitBatch(
      df: DataFrame, dir: String, key: String, id: String,
      files: Int, bloomCols: Seq[String]): Unit =
    Generations.stagedCommit(
      IndexLayout.fsOf(df.sparkSession, dir), new Path(s"$dir/$BatchesSubdir/$id"), id) { staging =>
      df.repartitionByRange(files, col(key))
        .sortWithinPartitions(key)
        .write.options(bloomOpts(bloomCols)).parquet(staging.toString)
      true
    }

  /** True iff a stream batch with this (namespace, batchId) already
    * committed against this table — [[appendBatch]]'s structural replay
    * fence (visible dir ∨ cumulative `_folded` manifest). Prefer
    * passing `legacyIds` to [[appendBatch]] over calling this from a
    * lane: the operator checks legacy forms against the SAME manifest
    * read its own fence does (one read per batch, inside the lane's
    * transient-retry envelope).
    */
  def batchCommitted(
      spark: SparkSession, dir: String, namespace: String, batchId: Long): Boolean =
    committed(IndexLayout.fsOf(spark, dir), dir, Seq(s"b-$namespace$batchId"))

  /** The append-once fence over batch ids: any one visible under
    * `_batches` (committed, not yet folded), else any one in the current
    * generation's `_folded` manifest (committed and folded) — one
    * manifest read per call.
    */
  private def committed(fs: FileSystem, dir: String, ids: Seq[String]): Boolean =
    ids.exists(id => fs.exists(new Path(s"$dir/$BatchesSubdir/$id"))) || {
      val folded = Generations.foldedIds(fs, Generations.resolveRoot(fs, dir))
      ids.exists(folded)
    }

  /** IDEMPOTENT batch append for exactly-once STREAMING ingest into a
    * clustered table ([[graft.streaming.Streams.clusteredAppendStream]])
    * — the lakehouse lane the ANN index already has
    * ([[graft.operators.Ivf.appendIndexBatch]]): foreachBatch
    * re-delivers a batch after a crash between the sink write and the
    * checkpoint commit, so the append must be a pure function of
    * (batch content, batchId):
    *
    *  1. the batch stages dot-prefixed and becomes visible with ONE
    *     atomic rename to `_batches/b-<batchId>`;
    *  2. the replay check is structural, with no separate marker: a
    *     batch is committed iff its visible dir exists OR its id is in
    *     the current generation's cumulative `_folded` manifest —
    *     [[optimize]] records every id it absorbs and the manifest
    *     carries forward, so a replay arriving after the fold GC'd the
    *     batch dir still short-circuits.
    *
    * Same concurrency contract as [[append]]: concurrent with other
    * appenders, readers, and ONE [[optimize]]; a replay racing the
    * flip sees the visible dir (pre-GC) or the manifest (post-flip) —
    * never neither.
    *
    * `namespace` scopes the batch ids to one STREAM LIFETIME: Spark
    * numbers batches per checkpoint, so a stream re-pointed at this
    * table with a FRESH checkpoint restarts at batchId 0 — without a
    * namespace its genuinely new batches would be mistaken for
    * replays and silently dropped. [[graft.streaming.Streams
    * .clusteredAppendStream]] derives it from the checkpoint path;
    * direct callers own the one-checkpoint-per-namespace contract.
    *
    * `legacyIds` are fully-formed batch-dir names (`b-<retired
    * namespace><batchId>`) whose commit records — visible dir or
    * folded-manifest entry — also fence the replay, so an upgrade that
    * changed the id derivation cannot re-append a pre-upgrade batch
    * (see [[graft.streaming.Streams.legacyBatchNamespace]]).
    */
  def appendBatch(
      df: DataFrame, dir: String, key: String, batchId: Long,
      files: Int = 4, bloomCols: Seq[String] = Nil,
      namespace: String = "", legacyIds: Seq[String] = Nil): Unit = {
    val id = s"b-$namespace$batchId"
    if (!committed(IndexLayout.fsOf(df.sparkSession, dir), dir, id +: legacyIds))
      commitBatch(df, dir, key, id, files, bloomCols)
  }

  /** Re-cluster a fragmented directory back to a pristine [[save]]
    * layout (or [[saveZOrder]] when `key1` is given) via the
    * [[Generations]] commit protocol: the rewrite lands in a fresh
    * `_gen-N+1` with a cumulative `_folded` manifest of the batch ids
    * it absorbed, is marked `_complete`, and the `_current` pointer
    * flips atomically. Row content is unchanged: optimize is a LAYOUT
    * operation, and the spec pins read-back identity across it.
    *
    * Concurrency contract — the round-14 writer fencing: at most ONE
    * optimizer per directory, safely concurrent with appenders and
    * readers. A batch that commits after the fold snapshot stays
    * outside the manifest and remains live under the new generation;
    * every pre-flip crash leaves the old layout current, and residue is
    * swept on the next run's entry GC.
    */
  def optimize(
      spark: SparkSession, dir: String, key: String,
      key1: Option[String] = None, files: Int = 32,
      bloomCols: Seq[String] = Nil): Unit =
    optimizeHooked(spark, dir, key, key1, files, bloomCols, () => ())

  /** [[optimize]] with a test seam: `afterSnapshot` runs between the
    * fold snapshot and the generation write — the window where the old
    * in-place swap lost concurrent appends. The protocol is
    * [[Generations.fold]]; the writer is [[save]] or [[saveZOrder]].
    */
  private[graft] def optimizeHooked(
      spark: SparkSession, dir: String, key: String,
      key1: Option[String], files: Int, bloomCols: Seq[String],
      afterSnapshot: () => Unit): Unit =
    Generations.fold(spark, dir, BatchesSubdir,
      write = (rows, nextRoot) => key1 match {
        case Some(k1) => saveZOrder(rows, nextRoot, key, k1, files, bloomCols = bloomCols)
        case None => save(rows, nextRoot, key, files, bloomCols = bloomCols)
      },
      afterSnapshot = afterSnapshot)

  /** The live table: current base generation plus committed-but-not-
    * yet-folded append batches. The resolution is a point-in-time
    * snapshot — a reader racing an [[optimize]] flip may fail against
    * just-collected files and should retry; it can never observe a
    * half-folded state.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(
      Generations.liveRoots(IndexLayout.fsOf(spark, dir), dir, BatchesSubdir): _*)

  /** Per-row-group (min, max) statistics of a LONG column across every
    * parquet file under `dir` — the structural evidence data skipping
    * acts on, read straight from the footers (exposed for specs/probes;
    * uses the parquet-hadoop classes Spark ships).
    */
  def rowGroupRanges(
      spark: SparkSession, dir: String, key: String): Seq[(Long, Long)] =
    footerBlocks(spark, dir) { (_, block, file) =>
      val stats = block.getColumns.asScala
        .find(_.getPath.toDotString == key)
        .getOrElse(throw new IllegalArgumentException(s"column $key not found in $file"))
        .getStatistics
      (stats.genericGetMin.asInstanceOf[Number].longValue(),
        stats.genericGetMax.asInstanceOf[Number].longValue())
    }

  /** Footer-derived bloom-filter evidence for a point probe `value` on
    * `key` across the resolved layout: (row groups carrying a bloom
    * filter for the column, row groups whose filter PROVES the value
    * absent — the skippable set, total row groups). The middle number
    * is what the reader's row-group filter acts on: bloom-negative
    * groups are never read. Structural, not assumed — the same
    * discipline as [[rowGroupRanges]].
    */
  def bloomStats(
      spark: SparkSession, dir: String, key: String,
      value: Long): (Int, Int, Int) = {
    // per row group: None = no filter for the column, Some(absent)
    val perBlock = footerBlocks(spark, dir) { (reader, block, _) =>
      block.getColumns.asScala.find(_.getPath.toDotString == key)
        .filter(_.getBloomFilterOffset >= 0)
        .map { colMeta =>
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(colMeta)
          bf != null && !bf.findHash(bf.hash(value))
        }
    }
    (perBlock.count(_.isDefined), perBlock.count(_.contains(true)), perBlock.size)
  }

  /** `perBlock` over every row group of every parquet file in the live
    * layout — the same resolution as [[read]]: current generation plus
    * live batches.
    */
  private def footerBlocks[A](spark: SparkSession, dir: String)(
      perBlock: (ParquetFileReader, BlockMetaData, Path) => A): Seq[A] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = IndexLayout.fsOf(spark, dir)
    Generations.liveRoots(fs, dir, BatchesSubdir).map(new Path(_)).flatMap(fs.listStatus(_).toSeq)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.map(perBlock(reader, _, st.getPath))
        finally reader.close()
      }
  }

  /** Count of row-group pairs whose key ranges strictly overlap (shared
    * single boundary values do not count). 0 = perfectly skippable
    * layout: any point/range predicate touches the minimal set of row
    * groups.
    */
  def overlappingPairs(ranges: Seq[(Long, Long)]): Int = {
    // index-pair walk, NOT Seq.combinations — combinations dedups equal
    // elements, and identical whole-domain ranges are exactly the
    // degenerate layout this must count
    val a = ranges.toIndexedSeq
    (for { i <- a.indices; j <- (i + 1) until a.size } yield (i, j)).count { case (i, j) =>
      val (aMin, aMax) = a(i)
      val (bMin, bMax) = a(j)
      aMin < bMax && bMin < aMax
    }
  }
}
