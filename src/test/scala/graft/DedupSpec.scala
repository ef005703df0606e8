package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import operators.Dedup

  private val vocab = Seq(
    "spark", "data", "query", "join", "hash", "scan", "sort", "merge", "batch",
    "stream", "table", "column", "row", "filter", "group", "window", "shuffle",
    "broadcast", "partition", "cluster", "vector", "token", "index", "cache")

  private def text(seed: Int, nTokens: Int = 100): String = {
    val rnd = new Random(seed)
    Seq.fill(nTokens)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // doc 1/2: exact copies. doc 3: one token changed vs doc 1 (near dup).
  // docs 4..6: unrelated. doc 7: too short for shingles.
  private lazy val corpus = docsDf(Seq(
    (1L, text(11)),
    (2L, text(11)),
    (3L, text(11).split(" ").updated(50, "zzzz").mkString(" ")),
    (4L, text(22)),
    (5L, text(33)),
    (6L, text(44)),
    (7L, "ab"),
  ))

  test("exact dedup keeps lowest id and counts copies") {
    val got = Dedup.exact(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 2L, "docs 1 and 2 collapse to keep_id 1")
    assert(!got.contains(2L))
    assert(got(3L) == 1L)
    assert(got.size == 6)
  }

  test("minhash LSH flags exact and near duplicates, not unrelated docs") {
    val got = Dedup.minhashDecisions(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!got(1L), "lowest id of the cluster is the keeper")
    assert(got(2L), "exact copy must be flagged")
    assert(got(3L), "one-token-changed near dup must be flagged")
    assert(!got(4L) && !got(5L) && !got(6L), "unrelated docs are kept")
    assert(!got(7L), "shingle-less short doc is never spuriously merged")
  }

  test("md5-minhash (oracle-green variant) flags the same planted duplicates") {
    val got = Dedup.minhashMd5Decisions(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!got(1L), "lowest id of the cluster is the keeper")
    assert(got(2L), "exact copy must be flagged")
    assert(got(3L), "one-token-changed near dup must be flagged")
    assert(!got(4L) && !got(5L) && !got(6L), "unrelated docs are kept")
    assert(!got(7L), "shingle-less short doc is never spuriously merged")
  }

  test("ngram jaccard verifies near dups with exact similarity") {
    val rows = Dedup.jaccardDecisions(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getDouble(3)))).toMap
    assert(rows(2L)._1 && rows(2L)._2 == 1.0, "exact copy has jaccard 1.0")
    assert(rows(3L)._1 && rows(3L)._2 > 0.8, "near dup verified with high jaccard")
    assert(!rows(4L)._1 && !rows(5L)._1 && !rows(6L)._1)
  }

  test("simhash: identical docs collide at hamming 0; near dups within radius") {
    val exact = Dedup.simhashDecisions(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact(2L), "identical text has identical simhash")
    assert(!exact(4L) && !exact(5L) && !exact(6L), "unrelated docs differ")
    // one token changed in 100: small bit drift; widen the radius to catch it
    val near = Dedup.simhashDecisions(corpus, maxHamming = 12).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(near(3L), "near dup within widened hamming radius")
  }

  test("jaccard md5 twin: exact similarity over portable-hash candidates") {
    val rows = Dedup.jaccardMd5Decisions(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getDouble(3)))).toMap
    assert(rows(2L)._1 && rows(2L)._2 == 1.0, "exact copy has jaccard 1.0")
    assert(rows(3L)._1 && rows(3L)._2 > 0.8, "near dup verified with high jaccard")
    assert(!rows(4L)._1 && !rows(5L)._1 && !rows(6L)._1 && !rows(7L)._1)
  }

  test("simhash md5 twin: same decisions shape under the portable hash family") {
    val exact = Dedup.simhashMd5Decisions(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact(2L), "identical text has identical 60-bit simhash")
    assert(!exact(4L) && !exact(5L) && !exact(6L), "unrelated docs differ")
    val near = Dedup.simhashMd5Decisions(corpus, maxHamming = 12).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(near(3L), "near dup within widened hamming radius")
  }

  test("embedding cosine dedup flags planted near-identical vectors") {
    import spark.implicits._
    val rnd = new Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val rows = Seq(
      (1L, base, 0), (2L, base.clone(), 0), (3L, nearDup, 0),
      (4L, vec(), 1), (5L, vec(), 1), (6L, vec(), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingCosineDecisions(emb).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!got(1L), "cluster keeper")
    assert(got(2L), "identical vector flagged")
    assert(got(3L), "perturbed vector flagged")
    assert(!got(4L) && !got(5L) && !got(6L), "random vectors kept")
  }

  test("semdedup: k-means cells scope the prune; planted copies drop, min-id keeper survives") {
    import spark.implicits._
    val rnd = new Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    // perturb the LAST component: the k-means assignment is insensitive
    // to a 1e-2 nudge, and the grid twin's cell (first 6 signs) is
    // untouched by construction — both partitioners must co-locate it
    val nearDup = base.zipWithIndex.map { case (x, i) => if (i == 63) x + 0.01f else x }
    val rows = Seq(
      (1L, base, 0), (2L, base.clone(), 0), (3L, nearDup, 0),
      (4L, vec(), 1), (5L, vec(), 1), (6L, vec(), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val centroids = operators.Ivf.train(emb, k = 2, iters = 1)

    val got = operators.Dedup.semDeDup(emb, centroids).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size == 6, "one decision row per vector")
    assert(!got(1L)._1, "min-id member of the neighborhood is the keeper")
    assert(got(2L)._1 && got(2L)._3 > 0.999, "identical copy flagged with sim ~1")
    assert(got(3L)._1, "perturbed copy flagged")
    assert(got(2L)._2 >= 1L, "partner count records the evidence")
    assert(!got(4L)._1 && !got(5L)._1 && !got(6L)._1, "random vectors kept")
    // best_sim carries the full evidence even below tau: any vector
    // sharing a cell with a lower-id mate reports its max cosine
    val withMates = operators.Dedup.semDeDup(emb, centroids).collect()
      .filter(r => r.getLong(3) == 0 && r.getDouble(4) != 0.0)
    withMates.foreach(r => assert(math.abs(r.getDouble(4)) < 0.85,
      "sub-tau evidence must sit below the dup threshold"))

    // the grid twin reaches the same planted verdicts through the
    // portable partitioner (its hash-equality vs DuckDB is the gate)
    val grid = operators.Dedup.semDeDupGrid(emb).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!grid(1L) && grid(2L) && grid(3L), "grid twin: keeper + both copies")
    assert(!grid(4L) && !grid(5L) && !grid(6L), "grid twin: randoms kept")
    // no cell blew the cap in this corpus: the flag is all-false
    assert(operators.Dedup.semDeDupGrid(emb).collect()
      .forall(r => !r.getBoolean(5)), "healthy corpus: no cell_capped rows")
  }

  test("semdedup: a blown cell cap is VISIBLE (cell_capped), never a silent all-unique verdict") {
    // r16 ADVICE closure: a fixed partitioner run past its design scale
    // (every cell > cellCap) used to return all-false is_dup with no
    // signal — indistinguishable from a genuinely duplicate-free
    // corpus. Plant one oversize cell (identical vectors, so it WOULD
    // dedup if scoped) beside a healthy cell, with a cap small enough
    // to trip, and pin the contract on both sides.
    import spark.implicits._
    // sign patterns chosen explicitly so the two groups land in
    // DIFFERENT grid cells by construction (all-positive vs
    // all-negative first 6 components), no seed luck involved
    val big = Array(0.5f, 0.4f, 0.3f, 0.2f, 0.6f, 0.7f, 0.1f, 0.2f)
    val small = Array(-0.5f, -0.4f, -0.3f, -0.2f, -0.6f, -0.7f, 0.1f, 0.2f)
    val smallDup = small.clone()
    val rows =
      (1L to 6L).map(i => (i, big.clone())) ++ // one 6-member cell, cap=4: dropped
        Seq((10L, small), (11L, smallDup))     // healthy 2-member cell: dedups
    val emb = rows.toDF("vec_id", "embedding")
    val got = operators.Dedup.semDeDupGrid(emb, tau = 0.85, gridDims = 6, cellCap = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(5)))).toMap
    (1L to 6L).foreach { i =>
      assert(got(i)._2, s"member $i of the blown cell must read cell_capped")
      assert(!got(i)._1, "capped members are UNDECIDED (no pair join ran), not dups")
    }
    assert(!got(10L)._2 && !got(11L)._2, "the healthy cell is not flagged")
    assert(!got(10L)._1 && got(11L)._1, "scoped dedup still runs in uncapped cells")
    // the k-means edition shares the core and the contract
    val centroids = operators.Ivf.train(emb, k = 2, iters = 2)
    val km = operators.Dedup.semDeDup(emb, centroids, cellCap = 4).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert((1L to 6L).forall(km(_)), "k-means edition flags the blown cell too")
  }

  test("text-derived embeddings: planted paraphrases share a cell and prune; unrelated docs survive") {
    import spark.implicits._
    // a paraphrase = the same words in a different order: the
    // bag-of-words projection must map it to the IDENTICAL unit vector
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val para = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    val unrelated1 = "one two three four five six seven eight nine ten"
    val unrelated2 = "red green blue yellow purple orange cyan magenta pink brown"
    val docs = Seq((1L, base), (2L, para), (3L, unrelated1), (4L, unrelated2))
      .toDF("doc_id", "text")
    val emb = operators.Dedup.textEmbeddings(docs)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs(1L) == vecs(2L), "token order must not move the vector")
    vecs.values.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(n - 1.0) < 1e-6, s"unit norm expected, got $n")
    }
    // end to end through SemDeDup: the paraphrase is the one prune
    val cents = operators.Ivf.train(emb, k = 2, iters = 2)
    val got = operators.Dedup.semDeDup(emb, cents, tau = 0.9).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2), r.getDouble(4)))).toMap
    assert(got(1L)._1 == got(2L)._1, "paraphrases must land in ONE k-means cell")
    assert(!got(1L)._2, "the min-id paraphrase is the keeper")
    assert(got(2L)._2 && got(2L)._3 > 0.999, "the paraphrase prunes at cosine ~1")
    assert(!got(3L)._2 && !got(4L)._2, "disjoint-vocabulary docs are never semantic dups")
    // the zero-token edge yields NO embedding row, not a null vector
    assert(operators.Dedup.textEmbeddings(Seq((9L, "")).toDF("doc_id", "text")).count() == 0)
  }

  test("q80 md5-law twin: bucket/sign/normalize reproduce a hand computation") {
    // one two-token doc, every step recomputed from first principles in
    // the test: 60-bit md5 value, idx = (h div 2) mod 8, sign from the
    // low bit, integer histogram, L2 normalize — the law the DuckDB
    // gate grades corpus-wide, pinned here on a case small enough to
    // audit by eye
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/textembmd5",
      Seq((1L, "alpha beta", "en", "s", 10L)))
    def h60(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val acc = new Array[Long](8)
    Seq("alpha", "beta").foreach { t =>
      val h = h60(t)
      acc(((h / 2) % 8).toInt) += (if (h % 2 == 1) 1L else -1L)
    }
    val nrm = math.sqrt(acc.map(c => c.toDouble * c.toDouble).sum)
    val want = acc.map(c => if (nrm == 0) 0.0 else c.toDouble / nrm)
    val row = operators.Dedup.qTextEmbedMd5.run(spark, dir).collect()(0)
    (0 until 8).foreach { j =>
      assert(row.getDouble(1 + j) == want(j), s"e$j: got ${row.getDouble(1 + j)}, want ${want(j)}")
    }
  }

  test("band bucket cap: a 5k-doc boilerplate mega-cluster cannot explode the pair join") {
    // The 100 TB hazard (VERDICT r3): scraped corpora are full of templated
    // near-identical documents; ONE band bucket of n docs yields C(n,2)
    // pairs under a single join key. Plant a 5000-doc identical-boilerplate
    // cluster beside the small near-dup corpus and assert (a) the candidate
    // pair count stays bounded — C(5000,2) would be 12.5M — and (b) planted
    // near-dups OUTSIDE the mega-bucket are still found. Mega-bucket
    // members themselves are exact duplicates, which is Dedup.exact's job
    // (1 shuffle, no pair join), not the near-dup pass's.
    val boiler = text(99)
    val mega = docsDf(Seq(
      (1L, text(11)),
      (2L, text(11)),
      (3L, text(11).split(" ").updated(50, "zzzz").mkString(" ")),
      (4L, text(22)),
    ) ++ (10001L to 15000L).map(id => (id, boiler)))

    val sigged = operators.Lsh.minhashSigned(
      Dedup.tokenized(mega), org.apache.spark.sql.functions.col("toks"), 16, "doc_id")
    val nPairs = Dedup.minhashPairs(sigged, 16, 4, bucketCap = 100).count()
    assert(nPairs < 1000, s"minhash pair join exploded: $nPairs pairs")

    val mh = Dedup.minhashDecisions(mega, bucketCap = 100).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!mh(1L) && mh(2L) && mh(3L) && !mh(4L),
      "near dups outside the capped mega-bucket must still be found")
    assert(!mh(10001L) && !mh(10002L),
      "capped-bucket members are left to the exact pass, not flagged here")

    val sh = Dedup.simhashDecisions(mega, bucketCap = 100).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(sh(2L), "simhash still collides identical docs outside the mega-bucket")
    assert(!sh(10002L), "simhash mega-bucket dropped by the cap")

    val jc = Dedup.jaccardDecisions(mega, bucketCap = 100).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(jc(2L) && jc(3L) && !jc(4L), "jaccard inherits capped candidates")
  }

  /** Synthetic (id, band_idx, band_val) band rows. */
  private def bandRowsDf(rows: Seq[(Long, Int, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "band_idx", "band_val")
  }

  private def pairSet(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  test("band bucket cap at its threshold: a bucket of exactly cap rows pairs, cap + 1 rows none") {
    // oversizedBuckets is a strict `>`: a bucket AT the cap is still
    // paired in full, one row past it is dropped whole.
    val cap = 6
    val atCap = (1L to cap.toLong).map(id => (id, 0, 7))
    val pastCap = (101L to 101L + cap).map(id => (id, 0, 8))
    val got = pairSet(operators.Lsh.selfPairs(
      bandRowsDf(atCap ++ pastCap), "id", Seq("band_idx", "band_val"), cap))
    val want = for (a <- 1L to cap.toLong; b <- a + 1 to cap.toLong) yield (a, b)
    assert(pastCap.size == cap + 1)
    assert(got == want, s"C($cap,2) = ${want.size} pairs at the cap, none past it; got $got")
  }

  test("capped band self-join equals a driver-side brute force over a seeded frame") {
    val rnd = new Random(7)
    val cap = 8
    val rows = for (id <- 0L until 80L; b <- 0 until 4) yield (id, b, rnd.nextInt(12))
    val kept = rows.groupBy(r => (r._2, r._3)).values.filter(_.size <= cap)
    val want = kept.flatMap { bucket =>
      for (x <- bucket; y <- bucket if x._1 < y._1) yield (x._1, y._1)
    }.toSeq.distinct.sorted
    assert(rows.groupBy(r => (r._2, r._3)).values.exists(_.size > cap), "seed must hit the cap")
    assert(want.nonEmpty)
    val got = pairSet(operators.Lsh.selfPairs(
      bandRowsDf(rows), "id", Seq("band_idx", "band_val"), cap))
    assert(got == want)
  }

  test("LSH dedup keys return the same decision multiset over repartitioned, reordered input") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val sf = "/root/testdata/sf0.001"
    def shuffled(df: DataFrame): DataFrame =
      df.repartition(7).sortWithinPartitions(xxhash64(df.columns.map(col): _*))
    def multiset(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val keys: Seq[(String, DataFrame => DataFrame, DataFrame)] = Seq(
      ("dedup_minhash_lsh", d => Dedup.minhashDecisions(d), docs),
      ("dedup_ngram_jaccard", d => Dedup.jaccardDecisions(d), docs),
      ("dedup_simhash", d => Dedup.simhashDecisions(d), docs),
      ("dedup_embedding_cosine", e => Dedup.embeddingCosineDecisions(e), emb),
      ("dedup_image_phash",
        d => Dedup.imagePhashDecisions(operators.Multimodal.binarizeWithImageDups(d)), docs))
    keys.foreach { case (name, run, input) =>
      val base = multiset(run(input))
      assert(base.nonEmpty, s"$name: no decisions")
      assert(multiset(run(shuffled(input))) == base, s"$name: decisions depend on input order")
    }
  }

  test("connected components: hash-min labels chains and leaves islands apart") {
    import spark.implicits._
    // path 1-2-3 plus island 5-6: labels collapse to each component's min
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = operators.Cluster.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components: unconverged exit throws instead of returning wrong labels") {
    import spark.implicits._
    // a path needs >1 round to converge; maxIter=1 must fail loud, never
    // hand back partially propagated labels
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      operators.Cluster.connectedComponents(edges, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedup_clusters: prefix/suffix families chain transitively; edges stay O(n)") {
    import operators.Cluster
    def tk(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val pre = tk("p", 50); val suf = tk("s", 50)
    // A,B share their 50-token prefix; B,C share their 50-token suffix;
    // A and C overlap nowhere -> one 3-doc family. D is a singleton.
    val chain = docsDf(Seq(
      (1L, s"$pre ${tk("a", 60)}"),
      (2L, s"$pre ${tk("b", 10)} $suf"),
      (3L, s"${tk("c", 60)} $suf"),
      (4L, tk("d", 120)),
    ))
    val asg = Cluster.clusterAssignments(chain).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(asg(1L) == ((1L, 3L, true)) && asg(2L) == ((1L, 3L, false)) &&
      asg(3L) == ((1L, 3L, false)), "A-B-C chain is one cluster rooted at min id")
    assert(asg(4L) == ((4L, 1L, true)), "unrelated doc stays a singleton")

    // star edges: an n-doc identical family yields n-1 edges, never C(n,2)
    val family = docsDf((0 until 100).map(i => (1000L + i, tk("x", 80))))
    assert(Cluster.fingerprintStarEdges(family).count() == 99L)
  }

  test("q104 canonical-by-quality: best score wins the cluster, min-id breaks ties (r19)") {
    import spark.implicits._
    import operators.Cluster
    // cluster 1 = {1,2,3}: doc 2 scores highest -> keep=1 on 2, not on
    // the min id; cluster 7 = {7,8}: equal scores -> min id 7 keeps
    // (the deterministic tie law); 9 is a singleton -> keeps itself
    val asg = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L),
      (9L, 9L, 1L),
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val scored = Seq(
      (1L, Some(0.2)), (2L, Some(0.9)), (3L, Some(0.5)),
      (7L, Some(0.4)), (8L, Some(0.4)),
      (9L, Some(-1.0)),
    ).toDF("doc_id", "score")
    val got = Cluster.canonicalByQuality(asg, scored).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 7L -> 1L, 8L -> 0L, 9L -> 1L))

    // null score (a null-text doc) NEVER wins its cluster — nulls-last
    // is pinned explicitly in both renderings (DuckDB's DESC default
    // is nulls FIRST; an unpinned order would fork the engines)
    import spark.implicits._
    val withNull = Cluster.canonicalByQuality(
      Seq((1L, 1L, 2L), (2L, 1L, 2L)).toDF("doc_id", "cluster_id", "cluster_size"),
      Seq((1L, None), (2L, Some(-5.0)))
        .toDF("doc_id", "score")).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(withNull === Map(1L -> 0L, 2L -> 1L),
      "a scored doc beats a null-scored one even at a terrible score")
  }

  test("q82 topic clustering: two planted vocabularies split into two cells with their shared words on top") {
    // Topic A: 6 docs sharing {cat, dog, fish} plus one unique filler
    // each; topic B: 6 docs sharing {red, green, blue} likewise. The
    // bag-of-words projections are ~3/4-cosine within a topic and ~0
    // across, so k-means at k=2 must put each topic in its own cell,
    // and each cell's top-3 terms by document frequency must be
    // EXACTLY the topic's shared words (df=6 vs every filler's df=1),
    // ranked df DESC then term ASC.
    val rows =
      (1 to 6).map(i => (i.toLong, s"cat dog fish fillera$i", "en", "s", 10L)) ++
        (1 to 6).map(i => (i + 10L, s"red green blue fillerb$i", "en", "s", 10L))
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/topicterms", rows)
    val got = operators.Cluster.topicTerms(spark, dir, k = 2, topK = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    val cells = got.keys.map(_._1).toSet
    assert(cells.size == 2, s"expected two occupied cells, got $cells")
    val tops = cells.map(c => c -> (1 to 3).map(r => got((c, r))).toList).toMap
    val want = Set(
      List(("cat", 6L), ("dog", 6L), ("fish", 6L)),
      List(("blue", 6L), ("green", 6L), ("red", 6L)))
    assert(tops.values.toSet == want,
      s"per-cell top terms must be the shared topic words: $tops")

    // the md5 sign-grid edition obeys the SAME summary law (the DuckDB
    // gate grades it corpus-wide; here: identical docs share a cell and
    // every rank-1 term is a max-df term of its cell)
    val md5 = operators.Cluster.topicTermsMd5(spark, dir, topK = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val byCell = md5.groupBy(_._1)
    byCell.foreach { case (cell, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._4 == rs.map(_._4).max, s"cell $cell rank-1 must carry max df")
      // ranked df DESC, then term ASC on equal df
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"cell $cell rank order violated: $a then $b")
        case _ =>
      }
    }
  }

  test("corpus curation assigns one verdict per doc with gate precedence") {
    import spark.implicits._
    val t1 = text(11)
    val near = t1.split(" ").updated(90, "zzzz").mkString(" ") // shares prefix-50
    val rows = Seq(
      (1L, t1, "en"),           // keeper + family canonical -> kept
      (2L, t1, "en"),           // identical -> exact_dup (wins over family)
      (3L, near, "en"),         // near dup of 1 -> near_dup
      (4L, "ab cd", "en"),      // -> too_short
      (5L, text(22), "de"),     // -> wrong_lang
      (6L, text(33), "en"),     // unrelated -> kept
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for (portable <- Seq(false, true)) {
      val got = operators.Curate.curate(rows, portableHash = portable).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "kept", 2L -> "exact_dup", 3L -> "near_dup",
        4L -> "too_short", 5L -> "wrong_lang", 6L -> "kept"),
        s"portableHash=$portable got $got")
    }
    val kept = operators.Curate.survivors(rows).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 6L))
  }

  test("NULL lang reads wrong_lang, never kept (null-safe gate)") {
    import spark.implicits._
    val rows = Seq(
      (1L, text(11), "en"),
      (2L, text(22), null.asInstanceOf[String]), // NULL lang must fail the gate
    ).map { case (id, t, l) => (id, t, l, "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for (portable <- Seq(false, true)) {
      val got = operators.Curate.curate(rows, portableHash = portable).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "kept", 2L -> "wrong_lang"),
        s"portableHash=$portable got $got")
    }
  }

  test("curation dedups within the gated set: a dropped partner cannot erase all copies") {
    import spark.implicits._
    val t2 = text(55)
    val nearT2 = t2.split(" ").updated(90, "qqqq").mkString(" ")
    val t3 = text(66)
    val rows = Seq(
      // cross-gate near-dup: 7 is the only smaller-id partner of 8, but 7
      // is wrong_lang — dedup over the full corpus would drop BOTH and the
      // content would vanish; gated dedup keeps 8.
      (7L, t2, "de"),
      (8L, nearT2, "en"),
      // cross-gate exact-dup: keeper by raw min-id would be 9 (wrong_lang);
      // re-canonicalized keeper among gate-passing members is 10, so 10 is
      // kept and 11 is the exact_dup.
      (9L, t3, "de"),
      (10L, t3, "en"),
      (11L, t3, "en"),
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for (portable <- Seq(false, true)) {
      val got = operators.Curate.curate(rows, portableHash = portable).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(7L -> "wrong_lang", 8L -> "kept",
        9L -> "wrong_lang", 10L -> "kept", 11L -> "exact_dup"),
        s"portableHash=$portable got $got")
    }
  }

  test("passage dedup: a quoted block flags the mostly-quoted doc; whole-doc jaccard misses it") {
    def uniq(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val block = uniq("blk", 20)
    val docs = docsDf(Seq(
      (1L, (uniq("a", 20) ++ block).mkString(" ")), // 40 toks, block at tail
      (2L, (block ++ uniq("b", 60)).mkString(" ")), // 80 toks, block at head
      (3L, uniq("c", 40).mkString(" ")),            // clean
      (4L, "tiny doc under k tokens"),              // < 8 tokens: no windows
    ))
    val got = Dedup.passageProfile(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 8-token windows fully inside the 20-token block: 13 per doc, shared.
    assert(got(1L) == ((33L, 13L, 1L)), "13/33 dup windows >= 1/5 -> flagged")
    assert(got(2L) == ((73L, 13L, 0L)), "13/73 < 1/5: a big doc quoting a small block stays")
    assert(got(3L) == ((33L, 0L, 0L)))
    assert(got(4L) == ((0L, 0L, 0L)), "sub-k doc emits a row, never flagged")
    // The complementary-coverage claim: whole-doc similarity dedup does NOT
    // see this pair (3-shingle jaccard ~= 0.18 << 0.6), passage dedup does.
    val jac = Dedup.jaccardDecisions(docs).collect().map(r => r.getBoolean(1))
    assert(jac.forall(!_), "whole-doc jaccard flags nothing on the quoted-block corpus")
  }

  test("line dedup REMOVES a shared footer everywhere, keeps unique and twice-shared lines, handles short/empty docs") {
    import spark.implicits._
    val footer = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"alpha beta\n$footer\npair line"),
      (2L, s"delta\n$footer"),
      (3L, s"$footer\nepsilon zeta"),
      (4L, footer), // becomes empty after removal
      (5L, "pair line\n\nunique two"), // empty middle line is structure, kept
      (6L, ""), // empty doc: one empty line, nothing to remove
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // footer df = 4 > 2 -> removed from EVERY doc; "pair line" df = 2 -> kept
    assert(got(0) == ((1L, 3L, 1L, "alpha beta\npair line")))
    assert(got(1) == ((2L, 2L, 1L, "delta")))
    assert(got(2) == ((3L, 2L, 1L, "epsilon zeta")))
    assert(got(3) == ((4L, 1L, 1L, "")), "an all-boilerplate doc empties, still emits a row")
    assert(got(4) == ((5L, 3L, 0L, "pair line\n\nunique two")))
    assert(got(5) == ((6L, 1L, 0L, "")))
    // the registry synthesizer: chunk law, zero-token doc -> empty text
    val lined = Dedup.linedDocs(Seq((7L, "a b c d e f"), (8L, " ")).toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(lined(0) == "a b c d\ne f", "4-token chunks, remainder is the last line")
    assert(lined(1) == "", "zero-token doc synthesizes empty text")

    // the bloom path (past the broadcast bounds) is row-identical to the
    // broadcast path — forced here by zeroing the bounds, so the fallback
    // the 100 TB corpus takes is graded by the same planted expectations
    val bloomPath = Dedup.lineDedup(docs, broadcastMaxDocs = 0L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(bloomPath.toSeq == got.toSeq, "bloom-dispatch rewrite must equal broadcast rewrite")
  }

  test("image phash: re-encoded and brightness-shifted copies are found; unrelated and non-image are not") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // Controlled raster: 14×20 so the 7×10 area-average boxes are exact
    // 2×2 blocks — each grid cell's gray IS the constructed block value,
    // independent of the box-filter implementation. Equal channels keep
    // gray == v exactly; values ≤ 200 leave +6 brightness un-clipped, so
    // every gradient comparison (strict or tie) is provably preserved.
    def cellVal(x: Int, y: Int): Int = ((x * 37 + y * 53) % 11) * 20
    def raster(f: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(14, 20, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 20; x <- 0 until 14) {
        val v = f(x / 2, y / 2)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val magic = operators.Multimodal.Magic
    val blobs = Seq(
      (10L, magic ++ enc(raster(cellVal), "png")),                      // base
      (11L, magic ++ enc(raster((x, y) => cellVal(x, y) + 6), "png")),  // lightened copy
      (12L, magic ++ enc(raster(cellVal), "bmp")),                      // re-encoded copy
      (13L, magic ++ enc(raster((x, y) => 200 - cellVal(x, y)), "png")),// inverted: unrelated
      (14L, magic ++ "not an image".getBytes("UTF-8")),                 // decode-fail lane
    ).toDF("doc_id", "blob")
    val got = Dedup.imagePhashDecisions(blobs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    // Independent reference: recompute the dHash law straight from the
    // constructed cell values (never touching areaAverage/phashOfRaster).
    def refCode(f: (Int, Int) => Int): Long =
      (for { y <- 0 until 10; x <- 0 until 6 if f(x + 1, y) > f(x, y) }
        yield 1L << (y * 6 + x)).foldLeft(0L)(_ | _)
    val base = refCode(cellVal)
    assert(got(10L)._1 == base, "production phash equals the from-cells reference")
    assert(got(11L)._1 == base && got(12L)._1 == base,
      "uniform brightness shift and lossless re-encode preserve every gradient bit")
    // the inverted raster flips every STRICT comparison — self-validate
    // that it is far outside the hamming radius before asserting not-dup
    val invHamming = java.lang.Long.bitCount(base ^ refCode((x, y) => 200 - cellVal(x, y)))
    assert(invHamming > 6, s"inverted pattern must be distant (got $invHamming)")
    assert(!got(10L)._2 && got(10L)._3 == 0L, "lowest id of the cluster is the keeper")
    assert(got(11L) == ((base, true, 1L)), "lightened copy flagged against the base")
    assert(got(12L) == ((base, true, 2L)), "re-encoded copy flagged against both partners")
    assert(!got(13L)._2, "unrelated image is kept")
    assert(!got.contains(14L), "non-decodable payloads are the quarantine lane, not rows")
  }

  test("semdedup over image embeddings: re-encoded and lightened copies prune through the cell pipeline") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // the controlled 2x2-block rasters of the phash spec: equal
    // channels, values <= 200, so grays are exact and a +6 brightness
    // shift is a pure DC shift the mean-centering removes COMPLETELY —
    // cosine(base, lightened) is exactly 1, and the inverted raster
    // centers to the NEGATED vector (cosine -1, the provable stranger)
    def cellVal(x: Int, y: Int): Int = ((x * 37 + y * 53) % 11) * 20
    def raster(f: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(14, 20, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 20; x <- 0 until 14) {
        val v = f(x / 2, y / 2)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val magic = operators.Multimodal.Magic
    val blobs = Seq(
      (10L, magic ++ enc(raster(cellVal), "png")),
      (11L, magic ++ enc(raster((x, y) => cellVal(x, y) + 6), "png")),
      (12L, magic ++ enc(raster(cellVal), "bmp")),
      (13L, magic ++ enc(raster((x, y) => 200 - cellVal(x, y)), "png")),
      (14L, magic ++ "not an image".getBytes("UTF-8")),
    ).toDF("doc_id", "blob")
    val emb = operators.Multimodal.imageEmbeddings(blobs).localCheckpoint()
    // featurizer law: the copies' cosines are exactly 1, the stranger's -1
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(math.abs(cos(vecs(10L), vecs(11L)) - 1.0) < 1e-6, "DC shift must center away")
    assert(math.abs(cos(vecs(10L), vecs(12L)) - 1.0) < 1e-6, "lossless re-encode is identical")
    assert(math.abs(cos(vecs(10L), vecs(13L)) + 1.0) < 1e-6, "inversion negates the centered grid")
    assert(!vecs.contains(14L), "non-decodable payloads emit no embedding")
    val got = Dedup.semDeDup(emb, operators.Ivf.train(emb, k = 2, iters = 2), tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(!got(10L), "lowest id of the copy cluster is the keeper")
    assert(got(11L) && got(12L), "lightened and re-encoded copies prune")
    assert(!got(13L), "the inverted stranger survives")
  }

  test("dedup plans contain no cartesian product") {
    val plans = Seq(
      Dedup.minhashDecisions(corpus),
      Dedup.simhashDecisions(corpus),
      Dedup.jaccardDecisions(corpus),
    ).map(_.queryExecution.executedPlan.toString)
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), "band-bucket join must stay an equi-join")
      assert(!p.toLowerCase.contains("broadcastnestedloop"), "no nested-loop joins")
    }
  }

  test("decontaminating curation: contamination outranks dedup and re-canonicalizes keepers") {
    import spark.implicits._
    // Disjoint token spaces per doc family — the shared 24-word vocab of
    // text() would cross-contaminate by chance (98 shingles over 24^3).
    def tk(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val benchText = tk("bench", 60)
    val quoting = tk("q", 50) + " " + benchText.split(" ").take(10).mkString(" ")
    val t1 = tk("t", 100)
    val rows = Seq(
      // doc 20: the benchmark slice member (doc_id % 20 == 0) — not graded
      (20L, benchText, "en"),
      // doc 1 quotes a bench passage -> contaminated (outranks kept)
      (1L, quoting, "en"),
      // docs 2/3 share the same 100-token prefix (one dup family): 2 has a
      // bench quote appended — the contaminated partner must not drag 3 down
      (2L, t1 + " " + benchText.split(" ").slice(20, 30).mkString(" "), "en"),
      (3L, t1, "en"),
      // clean unrelated doc -> kept
      (4L, tk("u", 80), "en"),
      // per-row gates still win over contamination
      (5L, "ab cd", "en"),
      // doc 6 PARAPHRASES the bench doc (a junk token inserted every 7
      // words breaks every verbatim 8-gram, so the exact gate misses
      // it) -> the r18 fuzzy minhash gate flags it with its own verdict
      (6L, benchText.split(" ").zipWithIndex.flatMap { case (w, i) =>
        if (i % 7 == 0) Seq(s"junk$i", w) else Seq(w)
      }.mkString(" "), "en"),
      // doc 7 fully REORDERS the bench doc: no verbatim 8-gram (exact
      // gate blind) and the 3-shingle set is scrambled too (fuzzy gate
      // blind — spot-checked below), but the bag-of-words embedding is
      // order-independent, so the SEMANTIC gate flags it at dot ~ 1
      (7L, benchText.split(" ").reverse.mkString(" "), "en"),
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Curate.curateDecontam(rows).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(20L), "benchmark docs are not graded")
    assert(got(1L) == "contaminated", s"quoting doc must flag, got $got")
    assert(got(2L) == "contaminated", "contaminated exact-copy is dropped for content")
    assert(got(3L) == "kept", "clean copy survives its contaminated partner")
    assert(got(4L) == "kept")
    assert(got(5L) == "too_short", "per-row gates outrank contamination")
    assert(got(6L) == "contaminated_fuzzy",
      s"paraphrased bench doc must fall to the fuzzy gate, got ${got(6L)}")
    assert(got(7L) == "contaminated_sem",
      s"reordered bench doc must fall to the SEMANTIC gate, got ${got(7L)}")
    // the reorder really is invisible to the first two rungs: no shared
    // verbatim 8-gram, and the shingle estimate sits under the fuzzy tau
    val reordered = rows.filter(org.apache.spark.sql.functions.col("doc_id").isin(7L))
    val fuzzySees = operators.Curate.contamFuzzyGate(
      operators.Curate.stageTable(reordered),
      operators.Curate.stageTable(rows.filter(
        org.apache.spark.sql.functions.col("doc_id") === 20L))).count()
    assert(fuzzySees == 0L, "the fuzzy gate must NOT see a full reorder (else this " +
      "spec stops proving the semantic gate is load-bearing)")
  }
}
