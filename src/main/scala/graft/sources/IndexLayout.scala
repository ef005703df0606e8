package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The GENERIC persisted-index layout, shared by the IVF lists
  * ([[graft.operators.Ivf]]) and the sparse BM25 postings index
  * ([[graft.operators.SparseIndex]]) on top of the [[Generations]]
  * protocol:
  *
  *  - base layout: a partitioned parquet table at `dir` (generation 0)
  *    or under a [[Generations]] `_current`-pointed generation dir;
  *  - appends: each batch one atomically visible directory under
  *    `_appends_data/<id>`, landed by [[landBatch]] through
  *    [[Generations.stagedCommit]], the staged commit every appendable
  *    layout shares;
  *  - replay fence: immortal marker files under `_appends/<id>`;
  *  - compaction: [[compact]] is a call to [[Generations.fold]], the one
  *    implementation of the crash matrix; what it adds is the
  *    partitioned, sorted writer, the sidecar fold and the replay
  *    markers of the folded batches (both before `_complete`).
  *
  * What stays INDEX-SPECIFIC and is passed in: the partition column
  * (`cluster` for IVF lists, `bkt` for sparse postings), the sidecar
  * subdirectories living beside the data inside a root (quantizer/PQ
  * models for IVF, the `(S, N)` totals for BM25), and HOW sidecars fold
  * across a compaction (models COPY; totals SUM over the folded units —
  * the `foldSidecars` hook).
  */
private[graft] object IndexLayout {

  /** Batch-commit markers — underscore-hidden, top-level, immortal
    * (compaction GCs a folded batch's DATA dir; the surviving marker is
    * what keeps a late replay a no-op).
    */
  val AppendsSubdir = "_appends"

  /** Committed append-batch data directories — each one atomic unit of
    * ingest, unioned into [[readLive]] until [[compact]] folds it into
    * the next base generation.
    */
  val AppendsDataSubdir = "_appends_data"

  def fsOf(spark: org.apache.spark.sql.SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The current base-generation root — `dir` itself until the first
    * [[compact]], the `_current`-pointed generation after.
    */
  def liveRoot(spark: org.apache.spark.sql.SparkSession, dir: String): String =
    Generations.resolveRoot(fsOf(spark, dir), dir)

  /** The live rows: current base generation UNION every committed,
    * not-yet-folded append batch. Point-in-time snapshot; a reader
    * racing a compaction flip may fail against just-collected files
    * and must retry — it can never observe a half-folded state.
    */
  def readLive(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Generations.liveRoots(fsOf(spark, dir), dir, AppendsDataSubdir)
      .map(spark.read.parquet(_))
      .reduceLeft(_ unionByName _)

  /** Land an encoded batch as one atomically visible partition-aligned
    * directory under `_appends_data` via [[Generations.stagedCommit]]:
    * if the visible directory already exists the batch is already
    * committed (crash residue of a prior attempt of the same id) and the
    * landing is a no-op.
    *
    * `writeExtras` runs against the STAGING path before the commit
    * rename, so per-batch sidecars (the sparse index's totals row)
    * become visible atomically WITH their batch.
    *
    * `sortCols`, when set, re-sorts WITHIN the partition-aligned tasks
    * AFTER the repartition (a sort before it would be destroyed by the
    * shuffle — r17 review), so layout invariants like the sparse
    * index's h-sorted buckets survive landing and folding.
    */
  def landBatch(
      encoded: DataFrame, dir: String, id: String, partitionCol: String,
      sortCols: Seq[String] = Nil,
      writeExtras: String => Unit = _ => ()): Unit = {
    val fs = fsOf(encoded.sparkSession, dir)
    Generations.stagedCommit(fs, new Path(s"$dir/$AppendsDataSubdir/$id"), s"b-$id") { staging =>
      sorted(encoded.repartition(col(partitionCol)), sortCols)
        .write.partitionBy(partitionCol).parquet(staging.toString)
      // EMPTY-BATCH GUARD at the one shared write path (r17 review, both
      // passes): a zero-row batch writes no partition dirs, and landing
      // the data-less directory bricks every later union read
      // (UNABLE_TO_INFER_SCHEMA) — including compaction's fold, so the
      // index could not even self-heal. Checking the STAGED result costs
      // one FS listing and no extra plan evaluation (an upstream
      // isEmpty() would re-run the batch plan); the batch simply never
      // lands, and idempotent callers still write their replay marker.
      val hasData = fs.listStatus(staging).exists(_.getPath.getName.startsWith(s"$partitionCol="))
      if (hasData) writeExtras(staging.toString) else fs.delete(staging, true)
      hasData
    }
  }

  private def sorted(df: DataFrame, sortCols: Seq[String]): DataFrame =
    if (sortCols.isEmpty) df else df.sortWithinPartitions(sortCols.map(col): _*)

  /** True iff an append batch with this fully-qualified id has already
    * committed: marker present, OR landed-but-unmarked (the crash
    * window between [[landBatch]]'s visibility rename and the marker
    * create). DATA DIR FIRST, marker second — order is load-bearing
    * against a concurrent compaction folding this very batch:
    * compaction creates the folded batch's marker BEFORE it GCs the
    * data dir, so "data absent" implies "marker already exists" for
    * any batch that ever landed.
    */
  def appendCommitted(
      spark: org.apache.spark.sql.SparkSession, dir: String, id: String): Boolean = {
    val fs = fsOf(spark, dir)
    fs.exists(new Path(s"$dir/$AppendsDataSubdir/$id")) ||
      fs.exists(new Path(s"$dir/$AppendsSubdir/$id"))
  }

  def batchMarked(fs: FileSystem, dir: String, id: String): Boolean =
    fs.exists(new Path(s"$dir/$AppendsSubdir/$id"))

  def markBatch(fs: FileSystem, dir: String, id: String): Unit = {
    fs.mkdirs(new Path(s"$dir/$AppendsSubdir"))
    fs.create(new Path(s"$dir/$AppendsSubdir/$id"), true).close()
  }

  /** Fold every visible append batch into the next base generation:
    * [[Generations.fold]] with the partition-aligned (and `sortCols`
    * sorted) writer, the index's flat gen-0 names (partition dirs and
    * `sidecarNames`), and a pre-complete hook that runs
    * `foldSidecars(liveRoot, foldedBatchDirs, nextRoot)` (it must WRITE
    * into `nextRoot`, never touch the live root) and then marks every
    * folded batch. Folded ⇒ marker, ALWAYS, and BEFORE `_complete`: a
    * batch that crashed between its visibility rename and its marker
    * write is legitimately foldable, but once its data dir is GC'd a
    * marker-less fold would let a stream replay re-append the rows.
    * Ad-hoc (`adhoc-<uuid>`) batches have no replay semantics and get
    * no marker.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      partitionCol: String, sidecarNames: Seq[String],
      foldSidecars: (String, Seq[String], String) => Unit,
      afterSnapshot: () => Unit,
      sortCols: Seq[String] = Nil): Unit = {
    val fs = fsOf(spark, dir)
    Generations.fold(spark, dir, AppendsDataSubdir,
      write = (rows, nextRoot) =>
        sorted(rows.repartition(col(partitionCol)), sortCols)
          .write.partitionBy(partitionCol).mode("overwrite").parquet(nextRoot),
      afterSnapshot = afterSnapshot,
      flatData = name => name.startsWith(s"$partitionCol=") || sidecarNames.contains(name),
      beforeComplete = (root, folded, nextRoot) => {
        foldSidecars(root, folded.map(b => s"$dir/$AppendsDataSubdir/$b"), nextRoot)
        fs.mkdirs(new Path(s"$dir/$AppendsSubdir"))
        folded.filterNot(id => id.startsWith("adhoc-") || batchMarked(fs, dir, id))
          .foreach(markBatch(fs, dir, _))
      })
  }
}
