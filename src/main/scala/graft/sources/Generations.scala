package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets

/** Generation-pointer commit protocol shared by every appendable on-disk
  * layout: the clustered tables [[Clustered]], the persisted indexes on
  * [[IndexLayout]] (IVF lists and sparse BM25 postings), and the
  * rotating stream sink. It exists to make the append/compact
  * maintenance lifecycle MULTI-WRITER safe: with an in-place swap, a
  * concurrent append landing between compaction's listing snapshot and
  * its directory swap is renamed into the doomed copy and silently
  * deleted. Under this protocol the two writers never touch the same
  * files at all:
  *
  *  - the BASE layout lives in a generation directory (`dir/_gen-N`;
  *    the flat `dir` itself is the implicit generation 0 every fresh
  *    write produces). Underscore-prefixed, so Spark's file listing
  *    never sees an old generation through the flat path;
  *  - APPENDS never modify a generation: each batch stages under a
  *    dot-prefixed directory and becomes visible with ONE atomic
  *    directory rename into the append area (`_appends_data` for the
  *    indexes, `_batches` for clustered tables, `rot=<n>` for the sink).
  *    [[stagedCommit]] is the one implementation every layout's batch
  *    write runs through. Compaction either sees a whole committed
  *    batch or none of it — never a prefix;
  *  - COMPACTION folds base + visible batches into a brand-new
  *    generation, records the folded batch ids in the new generation's
  *    `_folded` manifest, marks it `_complete`, and atomically flips
  *    the `_current` pointer. [[fold]] is the one implementation every
  *    compacting layout calls, passing only its batch area, its writer,
  *    its flat gen-0 names and a pre-complete hook. Batches that commit
  *    while compaction is running simply miss the snapshot, stay out of
  *    the manifest, and remain visible as live extras under the new
  *    generation — zero coordination, zero loss (FencingSpec interleaves
  *    a real append between the snapshot and the flip and proves it);
  *  - READERS resolve `_current` -> generation root and read base plus
  *    committed-minus-folded batches ([[liveRoots]]). Resolution is a
  *    point-in-time snapshot: a reader that raced a flip may fail
  *    against just-collected files and must retry (the streaming ingest
  *    lane retries by construction) — it can never read a half-folded
  *    state.
  *
  * Crash matrix (single compactor, any number of appenders/readers):
  * a crash during the new generation's write leaves the pointer on the
  * old generation and an incomplete `_gen-N+1` that resolution ignores
  * (`_complete` is written last) and the next run garbage-collects; a
  * crash between `_complete` and the pointer flip leaves a complete but
  * unreferenced generation — pointer still wins, next run deletes and
  * redoes it; a crash mid-flip (pointer deleted, rename pending) is the
  * only pointerless state, and there the highest COMPLETE generation is
  * by construction the newest committed layout, which is exactly what
  * [[resolveRoot]] falls back to. FencingSpec's crash-state table runs
  * every row of this matrix against each layout through its own reader.
  */
object Generations {

  val Pointer = "_current"
  val Complete = "_complete"
  val Folded = "_folded"
  private val GenPrefix = "_gen-"

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def writeSmall(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def genDir(dir: String, n: Int): String = s"$dir/$GenPrefix$n"

  /** Every `_gen-N` directory present, complete or not (entry GC sweeps
    * the incomplete and the unreferenced ones).
    */
  def allGens(fs: FileSystem, dir: String): Seq[Int] =
    if (!fs.exists(new Path(dir))) Nil
    else fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(GenPrefix))
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.stripPrefix(GenPrefix).toInt).toOption)

  /** Generation numbers whose `_complete` marker exists. */
  def completeGens(fs: FileSystem, dir: String): Seq[Int] =
    allGens(fs, dir).filter(n => fs.exists(new Path(s"${genDir(dir, n)}/$Complete")))

  /** The current generation number; None = the flat dir (generation 0). */
  def currentGen(fs: FileSystem, dir: String): Option[Int] = {
    val ptr = new Path(s"$dir/$Pointer")
    val fromPtr =
      if (fs.exists(ptr))
        scala.util.Try(readSmall(fs, ptr).toInt).toOption
          .filter(n => fs.exists(new Path(s"${genDir(dir, n)}/$Complete")))
      else None
    fromPtr.orElse(completeGens(fs, dir).sorted.lastOption)
  }

  /** Resolve the live data root: the pointer target if it names a
    * complete generation, else the highest complete generation (the
    * mid-flip crash state — see the class doc), else the flat dir.
    */
  def resolveRoot(fs: FileSystem, dir: String): String =
    currentGen(fs, dir).map(genDir(dir, _)).getOrElse(dir)

  /** Flip the pointer to generation `n`: write a dot-staged copy, then
    * delete-and-rename into place. The gap between delete and rename is
    * the mid-flip crash window [[resolveRoot]]'s highest-complete-gen
    * fallback covers (generation `n` is already `_complete` here).
    */
  private def flip(fs: FileSystem, dir: String, n: Int): Unit = {
    val tmp = new Path(s"$dir/.$Pointer-$n")
    writeSmall(fs, tmp, n.toString)
    val ptr = new Path(s"$dir/$Pointer")
    if (fs.exists(ptr)) fs.delete(ptr, false)
    require(fs.rename(tmp, ptr), s"Generations: could not flip $dir/$Pointer to $n")
  }

  /** Batch ids already folded into the generation at `root` (empty for
    * a flat root). The manifest is cumulative across generations, so a
    * straggler writer that resolved an older generation can always tell
    * whether its batch survived.
    */
  def foldedIds(fs: FileSystem, root: String): Set[String] = {
    val p = new Path(s"$root/$Folded")
    if (!fs.exists(p)) Set.empty
    else readSmall(fs, p).split("\n").iterator.filter(_.nonEmpty).toSet
  }

  private def writeFolded(fs: FileSystem, root: String, ids: Set[String]): Unit =
    writeSmall(fs, new Path(s"$root/$Folded"), ids.toSeq.sorted.mkString("\n"))

  private[graft] def markComplete(fs: FileSystem, root: String): Unit =
    writeSmall(fs, new Path(s"$root/$Complete"), "")

  /** Reset every trace of the protocol under `dir` — pointer,
    * generations, and the given batch areas. Called by FULL REBUILD
    * writers (`Ivf.writeIndex`, `Clustered.save`) before their
    * overwrite: a rebuild is a NEW table, and without the reset a
    * stale `_current` would keep resolving readers into a dead
    * generation beside the fresh flat data. (Markers under `_appends`
    * go too: rebuild + an old stream checkpoint means duplicates by
    * construction — the contract is a fresh checkpoint per rebuild,
    * documented at the writers.)
    */
  def reset(fs: FileSystem, dir: String, areas: Seq[String]): Unit = {
    if (fs.exists(new Path(dir))) {
      fs.delete(new Path(s"$dir/$Pointer"), false)
      allGens(fs, dir).foreach(n => fs.delete(new Path(genDir(dir, n)), true))
      areas.foreach(a => fs.delete(new Path(s"$dir/$a"), true))
    }
  }

  /** Committed batch directory names under `dir/<area>` — visibility IS
    * the commit (a batch becomes visible via one atomic rename from its
    * dot-staged twin), so dot-prefixed staging is excluded by name.
    */
  def visibleBatches(fs: FileSystem, dir: String, area: String): Seq[String] = {
    val p = new Path(s"$dir/$area")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
  }

  /** THE live-layout resolution, shared by every reader and evidence
    * inspector (one implementation so the semantics cannot drift):
    * current generation root first, then every committed batch dir not
    * yet recorded in that root's `_folded` manifest.
    */
  def liveRoots(fs: FileSystem, dir: String, area: String): Seq[String] = {
    val root = resolveRoot(fs, dir)
    val folded = foldedIds(fs, root)
    root +: visibleBatches(fs, dir, area).filterNot(folded).map(b => s"$dir/$area/$b")
  }

  /** THE staged batch commit every appendable layout shares
    * ([[IndexLayout.landBatch]], `Clustered.commitBatch`,
    * `Streams.writeRotatedBatch`): a visible dir that already exists
    * means the batch is committed and the call is a no-op; otherwise
    * `write` fills a dot-prefixed sibling `.<stem>-<uuid>` and
    * [[commitRename]] makes it visible. `write` returns false when it
    * decided the batch must not land (it then cleans its own staging).
    *
    * The staging name carries a UNIQUE per-attempt suffix: with a
    * deterministic name, a replay (or a zombie driver's concurrent
    * attempt of the same batch) re-creating the path could interleave
    * with another attempt's commit rename — or with the aged staging
    * sweep's delete walk — and commit a PARTIALLY written batch.
    * Per-attempt names make every staging dir single-writer by
    * construction; losers of the visible-rename race delete their own
    * residue, crashed attempts age into [[sweepStaging]].
    */
  def stagedCommit(fs: FileSystem, visible: Path, stem: String)(write: Path => Boolean): Unit = {
    if (fs.exists(visible)) return
    val staging = new Path(visible.getParent, s".$stem-${java.util.UUID.randomUUID.toString}")
    if (write(staging))
      commitRename(fs, staging, visible, s"stagedCommit: could not commit $staging and $visible is absent")
  }

  /** The staging→visible rename of [[stagedCommit]].
    * Hadoop `FileSystem.rename` does NOT fail when the destination
    * directory already exists — HDFS and the RawLocalFileSystem
    * fallback move the source INTO it (returning true), so a loser of
    * a same-id commit race, naively renamed, would nest its
    * dot-staging inside the winner's committed batch: invisible to
    * readers (dot-prefixed) but leaked forever, because the aged
    * staging sweep only scans the area's top level. So: short-circuit
    * when the destination is already committed, and re-check after the
    * rename for the nested-residue outcome of the race window between
    * that check and the rename itself.
    */
  def commitRename(fs: FileSystem, staging: Path, visible: Path, onLost: => String): Unit = {
    if (fs.exists(visible)) { fs.delete(staging, true); return }
    if (!fs.rename(staging, visible)) {
      // the rename CAN still return false (e.g. a concurrent delete of
      // the parent): only a committed destination makes ours redundant
      require(fs.exists(visible), onLost)
      fs.delete(staging, true)
    } else {
      // rename returned true — either we committed, or the destination
      // appeared in the race window and our staging nested inside it
      val nested = new Path(visible, staging.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
    }
  }

  /** THE compaction fold, shared by every compacting layout
    * ([[Clustered]] optimize, [[IndexLayout.compact]]): fold the base at
    * the live root plus every visible, unfolded batch under `dir/<area>`
    * into generation N+1 and flip the pointer to it. In order:
    *
    *  - the r13-era `.old` heal (a crash between the old in-place
    *    swap's two renames left the only copy at `dir + ".old"`);
    *  - entry GC: the aged staging sweep, non-current generations
    *    (incomplete writes, unflipped orphans), the flat gen-0 data once
    *    a generation is current, and already-folded batch data a crashed
    *    post-flip GC left;
    *  - the fold snapshot: batches committing after the listing stay
    *    visible extras under the new generation — that is the fence
    *    (`afterSnapshot` is the test seam in that window);
    *  - `write(base ∪ batches, nextRoot)`, the layout's own writer;
    *  - the carried cumulative `_folded` manifest;
    *  - `beforeComplete(liveRoot, foldedIds, nextRoot)` — anything that
    *    must be durable before the generation is: the index's sidecar
    *    fold (written into `nextRoot` only, the live root stays fully
    *    readable) and its replay markers;
    *  - `_complete`, the pointer flip, and post-flip GC of the previous
    *    base and the folded batch data.
    *
    * `flatData` names the top-level entries of a flat (gen-0) layout
    * beyond its parquet part files and `_SUCCESS`: partition dirs and
    * sidecars for the indexes.
    */
  def fold(
      spark: SparkSession, dir: String, area: String,
      write: (DataFrame, String) => Unit,
      afterSnapshot: () => Unit,
      flatData: String => Boolean = _ => false,
      beforeComplete: (String, Seq[String], String) => Unit = (_, _, _) => ()): Unit = {
    val fs = IndexLayout.fsOf(spark, dir)
    val legacyOld = new Path(dir + ".old")
    if (!fs.exists(new Path(dir)) && fs.exists(legacyOld)) {
      require(fs.rename(legacyOld, new Path(dir)),
        s"fold: could not restore $dir from a legacy .old crash state")
    } else if (fs.exists(legacyOld)) fs.delete(legacyOld, true) // stale legacy residue
    // only staging past the age threshold (see sweepStaging for the
    // race a fresh-staging sweep would open)
    sweepStaging(fs, dir, area)
    val cur = currentGen(fs, dir)
    allGens(fs, dir).filterNot(cur.contains).foreach(n => fs.delete(new Path(genDir(dir, n)), true))
    val deleteFlat = () =>
      if (fs.exists(new Path(dir)))
        fs.listStatus(new Path(dir)).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") || p.getName == "_SUCCESS" || flatData(p.getName))
          .foreach(fs.delete(_, true))
    if (cur.isDefined) deleteFlat()
    val root = resolveRoot(fs, dir)
    val batchDir = (id: String) => s"$dir/$area/$id"
    // walk the small VISIBLE set against the manifest, never the
    // manifest against the filesystem (one FS op per historical batch)
    val foldedNow = foldedIds(fs, root)
    visibleBatches(fs, dir, area).filter(foldedNow)
      .foreach(id => fs.delete(new Path(batchDir(id)), true))
    val toFold = visibleBatches(fs, dir, area).filterNot(foldedNow)
    afterSnapshot()
    val next = cur.getOrElse(0) + 1
    val nextRoot = genDir(dir, next)
    write(
      toFold.foldLeft(spark.read.parquet(root))((df, b) => df.unionByName(spark.read.parquet(batchDir(b)))),
      nextRoot)
    // the manifest must carry every id a REPLAY could still check
    // (stream batches — forever, ~bytes per batch, the documented
    // growth), but ad-hoc ids are never replayed: once their folded
    // data dir is GC'd they are provably dead and pruned, so ad-hoc
    // ingest does not grow the manifest beyond one fold cycle
    val carried = (foldedNow ++ toFold).filter(id =>
      !id.startsWith("adhoc-") || fs.exists(new Path(batchDir(id))))
    writeFolded(fs, nextRoot, carried)
    beforeComplete(root, toFold, nextRoot)
    markComplete(fs, nextRoot)
    flip(fs, dir, next)
    if (cur.isDefined) fs.delete(new Path(root), true) else deleteFlat()
    toFold.foreach(id => fs.delete(new Path(batchDir(id)), true))
  }

  /** Appends must not go this long without writing a file, or risk
    * their staging being garbage-collected mid-write (the
    * [[sweepStaging]] bound — part of the concurrency contract,
    * documented in SURVEY §4).
    */
  val StagingSweepAgeMs: Long = 24L * 3600 * 1000

  /** Sweep abandoned dot-staging under `dir/<area>` — crash residue of
    * appends that died mid-write; without the sweep every crashed
    * append leaks its full batch size forever. ONLY staging whose
    * ENTIRE TREE has been quiet for [[StagingSweepAgeMs]] is touched:
    * a recursive delete racing a live append's atomic commit rename
    * can interleave (POSIX renames a directory out from under an
    * in-progress delete walk), which would commit a PARTIALLY deleted
    * batch — the FencingSpec stress run caught exactly that as
    * silently lost rows. The freshness signal is the newest
    * modification time anywhere under the staging dir, not the dir's
    * own mtime: a long write job keeps landing task files DEEP in the
    * tree (`_temporary/...`) without touching the top-level dir, so
    * the dir-mtime gate would narrow but not eliminate the race for a
    * write outliving the window — the recursive gate keeps any append
    * that is still writing outside the sweep, and the contract bound
    * relaxes to "an append must not stall with NO file activity for
    * the window".
    */
  def sweepStaging(fs: FileSystem, dir: String, area: String): Unit = {
    val p = new Path(s"$dir/$area")
    val cutoff = System.currentTimeMillis() - StagingSweepAgeMs
    if (fs.exists(p))
      fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("."))
        .filter(st => treeIsQuiet(fs, st, cutoff))
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Has every node in the tree rooted at `st` been untouched since
    * `cutoff`? The [[sweepStaging]] liveness signal, with two
    * live-append safeguards: the walk short-circuits at the FIRST
    * fresh node (a live write's task churn is near the top of
    * `_temporary`), and a path that VANISHES mid-walk —
    * FileOutputCommitter constantly renames/deletes task-attempt dirs
    * under a live write, and the staging dir itself can be renamed to
    * visible between the listing and the recursion — reads as
    * activity, never as an error that would abort the maintenance
    * entry that called the sweep. Bounded work: only dot-staging
    * candidates are walked, and a staging tree is one batch's files.
    */
  private def treeIsQuiet(
      fs: FileSystem, st: org.apache.hadoop.fs.FileStatus, cutoff: Long): Boolean = {
    if (st.getModificationTime >= cutoff) return false
    if (!st.isDirectory) return true
    val children =
      try fs.listStatus(st.getPath)
      catch { case _: java.io.FileNotFoundException => return false }
    children.forall(treeIsQuiet(fs, _, cutoff))
  }
}
