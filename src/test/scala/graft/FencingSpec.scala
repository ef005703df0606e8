package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Writer fencing for the maintenance lifecycle — the round-14 lead
  * item. The round-13 in-place swap was crash-safe for a single writer
  * but silently DELETED any append that landed between compaction's
  * listing snapshot and its directory swap: the files were renamed into
  * the doomed `.old` copy, and the batch's surviving `_appends` marker
  * made the streaming replay short-circuit, losing the rows
  * exactly-once-style, permanently — in precisely the advertised
  * deployment (live indexAppendStream + periodic compaction).
  *
  * These specs drive a REAL append through the hooked seam between the
  * fold snapshot and the generation write of
  * [[graft.operators.Ivf.compactIndexHooked]] /
  * [[graft.sources.Clustered.optimizeHooked]] and prove, for both
  * layouts: zero lost rows, zero duplicated rows, marker integrity
  * (a replay of the raced batch stays a no-op), and convergence (the
  * NEXT maintenance pass folds the straggler and GCs its batch dir
  * while the marker survives).
  */
class FencingSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def hfs(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("IVF index: an appendIndexBatch landing inside compaction is never lost") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/fence_ivf"
    operators.Ivf.writeIndex(base, centroids, dir)

    // the raced append fires in the exact window the old swap lost:
    // after compaction's fold snapshot, before its generation write
    operators.Ivf.compactIndexHooked(spark, dir, () => {
      operators.Ivf.appendIndexBatch(delta, dir, 7L)
    })

    def stats(): (Long, Long) = {
      val df = operators.Ivf.readIndex(spark, dir)
      (df.count(), df.groupBy("vec_id").count().filter(col("count") > 1).count())
    }
    assert(stats() == (500L, 0L),
      "the batch that raced compaction must survive the flip, exactly once")
    // marker integrity: the raced batch's replay must still short-circuit
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_appends/7")
    assert(hfs(dir).exists(marker), "the raced batch's commit marker must exist")
    operators.Ivf.appendIndexBatch(delta, dir, 7L)
    assert(stats() == (500L, 0L), "replay of the raced batch must be a no-op")

    // the raced rows actually SERVE: a query whose nearest neighbors
    // live in the delta finds them (vs a rebuild over the union)
    val queries = emb.filter(col("vec_id") < 8)
    val rebuilt = "/tmp/graft-test/fence_ivf_rebuilt"
    operators.Ivf.writeIndex(emb, centroids, rebuilt)
    def rows(d: String) =
      operators.Ivf.searchIndex(spark, d, queries, k = 10, nprobe = 8).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(dir) == rows(rebuilt),
      "the raced-append index must serve exactly like a rebuild over the union")

    // convergence: the NEXT compaction folds the straggler — batch data
    // GC'd, marker immortal, a late replay still a no-op
    operators.Ivf.compactIndex(spark, dir)
    assert(!hfs(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/_appends_data/7")),
      "the follow-up compaction must fold and GC the raced batch's data dir")
    assert(hfs(dir).exists(marker), "the marker must survive the fold")
    operators.Ivf.appendIndexBatch(delta, dir, 7L)
    assert(stats() == (500L, 0L), "post-fold replay of the raced batch must be a no-op")
    assert(rows(dir) == rows(rebuilt), "post-fold serve unchanged")
  }

  test("a batch that crashed before its marker is folded WITH a marker: replay cannot duplicate") {
    // the ADVICE-flagged exactly-once hole, closed structurally: crash
    // lands the atomic visibility rename but not the _appends marker;
    // compaction folds the visible batch, creates the missing marker,
    // GCs the data dir — the stream's replay must short-circuit on the
    // created marker instead of re-appending the folded rows
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/fence_crash_marker"
    operators.Ivf.writeIndex(base, centroids, dir)
    operators.Ivf.appendIndexBatch(delta, dir, 5L)
    // simulate the crash window: marker gone, visible batch dir intact
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_appends/5")
    require(hfs(dir).delete(marker, false))
    operators.Ivf.compactIndex(spark, dir)
    assert(hfs(dir).exists(marker),
      "compaction must create the missing marker for a folded unmarked batch")
    assert(!hfs(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/_appends_data/5")),
      "the folded batch's data dir is GC'd")
    operators.Ivf.appendIndexBatch(delta, dir, 5L) // the stream's replay
    val df = operators.Ivf.readIndex(spark, dir)
    assert(df.count() == 500 &&
      df.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "replay after a folded crash-window batch must be a no-op — exactly once")
  }

  test("IVF index: an append racing compaction on a PQ index keeps its code form") {
    // the fence must hold for every index layout — the PQ dispatch bit
    // (model subdirs) is resolved through the generation pointer, so a
    // mid-compaction append still encodes to the index's own form
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val model = operators.Pq.train(emb)
    val dir = "/tmp/graft-test/fence_pq"
    operators.Ivf.writeIndex(base, centroids, dir, codec = operators.Ivf.Codec.Pq(model))
    operators.Ivf.compactIndexHooked(spark, dir, () => {
      operators.Ivf.appendIndexBatch(delta, dir, 3L)
    })
    val lists = operators.Ivf.readIndex(spark, dir)
    assert(lists.columns.toSet == Set("vec_id", "codes_pq", "cluster"),
      s"the raced append must land PQ codes, got ${lists.columns.mkString(",")}")
    assert(lists.count() == 500 &&
      lists.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "raced append on a PQ index: exactly once")
    // and the PQ model itself survived the generation flip
    operators.Ivf.Codec.of(spark, dir) match {
      case operators.Ivf.Codec.Pq(back) =>
        assert(java.util.Arrays.equals(back.codebook, model.codebook),
          "the PQ codebook must ride the generation flip")
      case other => fail(s"the compacted index serves as $other, not PQ")
    }
  }

  test("Clustered: an append landing inside optimize is never lost") {
    import spark.implicits._
    val dir = "/tmp/graft-test/fence_clustered"
    val base = spark.range(0, 20000).select(
      (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload"))
    val late = spark.range(20000, 21000).select(
      (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload"))
    sources.Clustered.save(base, dir, "user_id", files = 8)
    sources.Clustered.append(
      spark.range(21000, 22000).select(
        (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload")),
      dir, "user_id")

    sources.Clustered.optimizeHooked(spark, dir, "user_id", None, 8, Nil, () => {
      sources.Clustered.append(late, dir, "user_id")
    })

    val got = sources.Clustered.read(spark, dir)
    assert(got.count() == 22000, "the batch that raced optimize must survive the flip")
    assert(got.groupBy("payload").count().filter(col("count") > 1).count() == 0,
      "no row duplicated by the race")
    assert(got.filter(col("payload") >= 20000 && col("payload") < 21000).count() == 1000,
      "every raced row readable")
    // convergence: the next optimize folds the straggler back into a
    // perfectly skippable base layout
    sources.Clustered.optimize(spark, dir, "user_id", files = 8)
    assert(sources.Clustered.overlappingPairs(
      sources.Clustered.rowGroupRanges(spark, dir, "user_id")) == 0,
      "the follow-up optimize must restore the pristine layout including the raced rows")
    assert(sources.Clustered.read(spark, dir).count() == 22000, "fold keeps every row")
  }

  test("two-thread stress: a live append stream racing repeated compactions loses nothing") {
    // the hooked tests pin ONE interleaving; this drives REAL
    // concurrency — a thread of sequential batch appends against a
    // thread of back-to-back compactions — and asserts the global
    // invariant the protocol promises: every batch lands exactly once,
    // markers all present, regardless of how the schedules interleave.
    // Appends/compactions may fail TRANSIENTLY around a flip (the
    // documented contract); the retry loop below is exactly what the
    // streaming lane does.
    val emb = Tables.embeddings(spark, sf).localCheckpoint()
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/fence_stress"
    operators.Ivf.writeIndex(emb.filter(col("vec_id") >= 400), centroids, dir)
    val batches = (0 until 8).map(b =>
      b.toLong -> emb.filter(col("vec_id") >= b * 50 && col("vec_id") < (b + 1) * 50))
    @volatile var appendErr: Option[Throwable] = None
    val appender = new Thread(() => {
      try batches.foreach { case (id, delta) =>
        var done = false
        var tries = 0
        while (!done) {
          try { operators.Ivf.appendIndexBatch(delta, dir, id); done = true }
          catch { case e: Throwable =>
            tries += 1
            if (tries > 5) throw e // transient-retry contract, bounded
            Thread.sleep(50)
          }
        }
      } catch { case e: Throwable => appendErr = Some(e) }
    })
    @volatile var compactErr: Option[Throwable] = None
    val compactor = new Thread(() => {
      try (0 until 4).foreach { _ =>
        operators.Ivf.compactIndex(spark, dir)
        Thread.sleep(30)
      } catch { case e: Throwable => compactErr = Some(e) }
    })
    appender.start(); compactor.start()
    appender.join(300000); compactor.join(300000)
    assert(!appender.isAlive && !compactor.isAlive,
      "a thread outliving its join window means a wedge — fail loudly, not downstream")
    assert(appendErr.isEmpty, s"appender died: $appendErr")
    assert(compactErr.isEmpty, s"compactor died: $compactErr")
    // one final fold so everything is in the base generation
    operators.Ivf.compactIndex(spark, dir)
    val df = operators.Ivf.readIndex(spark, dir)
    assert(df.count() == 500,
      s"every appended batch must survive the races, got ${df.count()}")
    assert(df.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "no vector duplicated across the races")
    (0 until 8).foreach { b =>
      assert(hfs(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/_appends/$b")),
        s"batch $b's marker must exist")
    }
    // and replays of every batch stay no-ops
    batches.foreach { case (id, delta) => operators.Ivf.appendIndexBatch(delta, dir, id) }
    assert(operators.Ivf.readIndex(spark, dir).count() == 500, "post-stress replays are no-ops")
  }

  test("legacy r13 mid-swap crash state (.old, live dir missing) is healed on entry") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/fence_legacy_old"
    operators.Ivf.writeIndex(emb, centroids, dir)
    def served() = operators.Ivf
      .searchIndex(spark, dir, emb.filter(col("vec_id") < 8), k = 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = served()
    // the r13 in-place swap's crash window: dir staged aside, swap never ran
    require(hfs(dir).rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old")))
    operators.Ivf.compactIndex(spark, dir)
    assert(served() == want,
      "an upgraded table stranded in the legacy .old state must be restored and serve identically")
    assert(!hfs(dir).exists(new org.apache.hadoop.fs.Path(dir + ".old")))
  }

  test("a full rebuild over a generational dir resets the protocol: readers see the NEW data") {
    // without the writers' reset, a stale _current would keep resolving
    // readers into the dead generation beside the fresh flat data
    val emb = Tables.embeddings(spark, sf)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/fence_rebuild"
    operators.Ivf.writeIndex(emb.filter(col("vec_id") >= 250), centroids, dir)
    operators.Ivf.appendIndex(emb.filter(col("vec_id") < 250), dir)
    operators.Ivf.compactIndex(spark, dir) // now generational
    assert(graft.sources.Generations.currentGen(hfs(dir), dir).isDefined)
    // REBUILD over it with a different corpus slice
    operators.Ivf.writeIndex(emb.filter(col("vec_id") < 100), centroids, dir)
    val df = operators.Ivf.readIndex(spark, dir)
    assert(df.count() == 100 && df.agg(max(col("vec_id"))).collect()(0).getLong(0) < 100,
      "after a rebuild, readers must see ONLY the new corpus — no stale generation")
    assert(graft.sources.Generations.currentGen(hfs(dir), dir).isEmpty,
      "the rebuild must clear the generation pointer")

    // CODE-FORM switch: an OPQ dir rebuilt as a plain-PQ index must not
    // leave the stale _opq dispatch bit — the self-describing append
    // would otherwise rotate-and-encode against non-rotated lists
    val sdir = "/tmp/graft-test/fence_rebuild_form"
    val opqModel = operators.Opq.train(emb)
    operators.Ivf.writeIndex(
      emb.filter(col("vec_id") >= 250), centroids, sdir, codec = operators.Ivf.Codec.Opq(opqModel))
    val pqModel = operators.Pq.train(emb)
    operators.Ivf.writeIndex(
      emb.filter(col("vec_id") >= 100), centroids, sdir, codec = operators.Ivf.Codec.Pq(pqModel))
    operators.Ivf.appendIndex(emb.filter(col("vec_id") < 100), sdir)
    val lists = operators.Ivf.readIndex(spark, sdir)
    assert(lists.columns.toSet == Set("vec_id", "codes_pq", "cluster"),
      s"rebuild must clear the old layout's dispatch bit, got ${lists.columns.mkString(",")}")
    assert(lists.filter(col("codes_pq").isNull).count() == 0)

    val cdir = "/tmp/graft-test/fence_rebuild_clustered"
    val a = spark.range(0, 1000).select(col("id").as("user_id"), col("id").as("payload"))
    val b = spark.range(5000, 5500).select(col("id").as("user_id"), col("id").as("payload"))
    sources.Clustered.save(a, cdir, "user_id", files = 2)
    sources.Clustered.append(a, cdir, "user_id")
    sources.Clustered.optimize(spark, cdir, "user_id", files = 2) // generational
    sources.Clustered.save(b, cdir, "user_id", files = 2) // rebuild
    val back = sources.Clustered.read(spark, cdir)
    assert(back.count() == 500 &&
      back.agg(min(col("user_id"))).collect()(0).getLong(0) == 5000,
      "Clustered.save over a generational dir must fully reset the table")
  }

  test("two-thread stress: Clustered appends racing repeated optimizes lose nothing") {
    // Clustered.append has no replay semantics, but its failure modes
    // are all pre-visibility (the commit rename is the last step), so
    // retry-on-exception cannot duplicate — the invariant is the same:
    // every batch lands exactly once whatever the interleaving.
    val dir = "/tmp/graft-test/fence_stress_clustered"
    val base = spark.range(0, 20000).select(
      (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload"))
      .localCheckpoint()
    sources.Clustered.save(base, dir, "user_id", files = 8)
    val batches = (0 until 6).map(b =>
      spark.range(20000 + b * 500, 20000 + (b + 1) * 500).select(
        (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload"))
        .localCheckpoint())
    @volatile var appendErr: Option[Throwable] = None
    val appender = new Thread(() => {
      try batches.foreach { delta =>
        var done = false
        var tries = 0
        while (!done) {
          try { sources.Clustered.append(delta, dir, "user_id"); done = true }
          catch { case e: Throwable =>
            tries += 1
            if (tries > 5) throw e
            Thread.sleep(50)
          }
        }
      } catch { case e: Throwable => appendErr = Some(e) }
    })
    @volatile var optErr: Option[Throwable] = None
    val optimizer = new Thread(() => {
      try (0 until 3).foreach { _ =>
        sources.Clustered.optimize(spark, dir, "user_id", files = 8)
        Thread.sleep(30)
      } catch { case e: Throwable => optErr = Some(e) }
    })
    appender.start(); optimizer.start()
    appender.join(300000); optimizer.join(300000)
    assert(!appender.isAlive && !optimizer.isAlive,
      "a thread outliving its join window means a wedge — fail loudly, not downstream")
    assert(appendErr.isEmpty, s"appender died: $appendErr")
    assert(optErr.isEmpty, s"optimizer died: $optErr")
    sources.Clustered.optimize(spark, dir, "user_id", files = 8)
    val got = sources.Clustered.read(spark, dir)
    assert(got.count() == 23000,
      s"every appended batch must survive the races, got ${got.count()}")
    assert(got.groupBy("payload").count().filter(col("count") > 1).count() == 0,
      "no row duplicated across the races")
    assert(sources.Clustered.overlappingPairs(
      sources.Clustered.rowGroupRanges(spark, dir, "user_id")) == 0,
      "the final fold restores the pristine layout")
  }

  /** A compacting layout for the crash-state table: how to write its
    * base, how to fold it, and a fingerprint of its live rows read back
    * through the layout's OWN reader.
    */
  private case class CrashLayout(
      name: String, write: String => Unit, fold: String => Unit, read: String => Seq[Any])

  private val crashLayouts = Seq(
    CrashLayout("Clustered",
      write = dir => sources.Clustered.save(
        spark.range(0, 5000).select((col("id") * 40503L % 9973).as("user_id"), col("id").as("payload")),
        dir, "user_id", files = 4),
      fold = dir => sources.Clustered.optimize(spark, dir, "user_id", files = 4),
      read = dir => sources.Clustered.read(spark, dir)
        .agg(count(lit(1)), sum("payload")).collect()(0).toSeq),
    CrashLayout("SparseIndex",
      write = dir => operators.SparseIndex.writeIndex(
        spark.range(0, 300).select(col("id").as("doc_id"),
          graft.gfunctions.ws_tokens(
            concat_ws(" ", lit("w"), (col("id") % 17).cast("string"), (col("id") % 5).cast("string")))
            .as("toks")),
        dir),
      fold = dir => operators.SparseIndex.compactIndex(spark, dir),
      read = dir =>
        operators.SparseIndex.readPostings(spark, dir)
          .agg(count(lit(1)), sum("doc_id")).collect()(0).toSeq ++
          operators.SparseIndex.readTotals(spark, dir).collect()(0).toSeq),
  )

  crashLayouts.foreach { layout =>
    test(s"${layout.name}: crash states — partial generation invisible, mid-flip fallback, heal") {
      val dir = s"/tmp/graft-test/fence_crash_${layout.name}"
      val fs = hfs(dir)
      layout.write(dir)
      val want = layout.read(dir)
      // partial generation (no _complete) must be invisible
      assert(new java.io.File(s"$dir/_gen-1").mkdirs())
      assert(layout.read(dir) == want, "an incomplete generation must not resolve")
      layout.fold(dir)
      assert(layout.read(dir) == want)
      // mid-flip: pointer gone, complete generation present — fallback resolves
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_current"), false))
      assert(layout.read(dir) == want,
        "highest complete generation must serve when the pointer is mid-flip")
      layout.fold(dir)
      assert(layout.read(dir) == want, "healed")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_current")), "the fold re-flips the pointer")
      // the r13 in-place swap's crash window: dir staged aside, swap never ran
      require(fs.rename(new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(dir + ".old")))
      layout.fold(dir)
      assert(layout.read(dir) == want, "a legacy .old crash state must be restored")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
    }
  }
}
