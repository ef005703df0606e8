package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class SimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import operators.Similarity

  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("brute force finds a planted near-identical vector as top-1") {
    import spark.implicits._
    val rnd = new Random(13)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.map(x => x + 0.001f)
    val emb = (Seq((0L, base, 0), (100L, near, 0)) ++
      (1L until 50L).map(i => (i, vec(), 1))).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0L), k = 1).collect()
    assert(top.length == 1)
    assert(top.head.getLong(top.head.fieldIndex("neighbor_id")) == 100L)
    assert(top.head.getDouble(top.head.fieldIndex("sim")) > 0.999)
  }

  test("nearest_centroid kernel is bit-identical to the literal struct-argmax, and survives large k") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

    // the pre-r15 literal formulation, reconstructed verbatim: array of
    // struct(cosine_sim, -id) sorted desc -- ties break to smallest id
    def literalArgmax(centroids: Array[Array[Float]]) = {
      val scored = array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        struct(graft.gfunctions.cosine_sim(col("embedding"), typedlit(c)).as("sim"),
          lit(-i).as("neg_id"))
      }: _*)
      -element_at(reverse(array_sort(scored)), 1).getField("neg_id")
    }

    for (k <- Seq(2, 8, 64)) {
      val centroids = operators.Ivf.train(emb, k = k, iters = 1)
      // null-SAFE inequality: =!= is NULL when either side is NULL and
      // filter would drop the row -- exactly the divergence class this
      // spec exists to catch
      val mismatches = emb.select(
        operators.Ivf.clusterOf(col("embedding"), centroids).as("kernel"),
        literalArgmax(centroids).as("literal"))
        .filter(!(col("kernel") <=> col("literal"))).count()
      assert(mismatches == 0, s"k=$k: kernel and literal argmax must agree on every vector")
    }

    // tie-break parity on EXACT duplicate centroids (sim strictly equal):
    // both forms must pick the smallest id
    val dup = {
      val c = operators.Ivf.train(emb, k = 2, iters = 1)
      Array(c(0), c(0), c(1), c(1))
    }
    val tieMismatch = emb.select(
      operators.Ivf.clusterOf(col("embedding"), dup).as("kernel"),
      literalArgmax(dup).as("literal"))
      .filter(!(col("kernel") <=> col("literal"))).count()
    assert(tieMismatch == 0, "duplicate-centroid ties must break identically (smallest id)")

    // the DOCUMENTED divergence: a NULL embedding yields a NULL cluster
    // (the literal form accidentally produced cluster 0 from all-NULL
    // sims) -- pinned so the contract change stays deliberate
    val withNull = emb.limit(1).select(col("vec_id"),
      lit(null).cast("array<float>").as("embedding"))
    val nullCell = withNull
      .select(operators.Ivf.clusterOf(col("embedding"),
        operators.Ivf.train(emb, k = 2, iters = 1)).as("cell"))
      .collect()(0)
    assert(nullCell.isNullAt(0), "NULL embedding must yield NULL cluster, not cluster 0")

    // ragged centroid matrices are rejected loudly, never misaligned
    intercept[IllegalArgumentException] {
      operators.Ivf.clusterOf(col("embedding"),
        Array(Array.fill(63)(0f), Array.fill(65)(0f)))
    }

    // large-k regime: k=1024 is far past where the literal expression
    // tree stays inside codegen; the kernel's generated code is O(1) in
    // k and must just run
    val rnd = new Random(31)
    val bigK = Array.fill(1024)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val assigned = emb.select(operators.Ivf.clusterOf(col("embedding"), bigK).as("cell"))
    val stats = assigned.agg(countDistinct("cell"), min("cell"), max("cell")).collect()(0)
    assert(stats.getLong(0) > 100 && stats.getInt(1) >= 0 && stats.getInt(2) < 1024,
      "k=1024 assignment must produce a spread of valid cell ids")
  }

  test("q64 flags the planted anti-centroid vector; cluster members score high") {
    import spark.implicits._
    val rnd = new Random(64)
    val dir = "/tmp/graft-test/outlier"
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
    val baseA = Array.fill(64)(rnd.nextGaussian().toFloat)
    val baseB = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows =
      (0L until 20L).map(i => (i, jitter(baseA), 0)) ++
        // vec 99: the inverse of cluster A's direction — cosine to the
        // centroid lands near -1, far below any sane tau
        Seq((99L, baseA.map(-_), 0)) ++
        (100L until 120L).map(i => (i, jitter(baseB), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.qOutlier.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got.size == 41, "every vector gets a score row")
    assert(got(99L)._1 < -0.5 && got(99L)._2 == 1L,
      s"anti-centroid vector must flag, got ${got(99L)}")
    (0L until 20L).foreach { i =>
      assert(got(i)._1 > 0.9 && got(i)._2 == 0L, s"cluster-A member $i: ${got(i)}")
    }
    (100L until 120L).foreach { i =>
      assert(got(i)._1 > 0.9 && got(i)._2 == 0L, s"cluster-B member $i: ${got(i)}")
    }
  }

  test("LSH top-k recall vs brute force on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val brute = topSets(operators.Similarity.qBrute.run(spark, sf))
    val lsh = topSets(operators.Similarity.qLsh.run(spark, sf))
    val recalls = brute.map { case (q, truth) =>
      val got = lsh.getOrElse(q, Set.empty)
      got.intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.3f over ${recalls.size} queries")
    assert(mean >= 0.3, f"LSH recall collapsed: $mean%.3f")
    assert(recalls.size == 8, "all 8 registry queries answered")
  }

  test("IVF: planted near-identical vector lands in the same cluster and is found") {
    import spark.implicits._
    val rnd = new Random(17)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.map(x => x + 0.001f)
    val emb = (Seq((0L, base, 0), (100L, near, 0)) ++
      (1L until 80L).map(i => (i, vec(), 1))).toDF("vec_id", "embedding", "label")
    val centroids = operators.Ivf.train(emb, k = 4, iters = 2)
    assert(centroids.length == 4 && centroids.forall(_.length == 64))
    val top = operators.Ivf.topK(emb, emb.filter($"vec_id" === 0L), centroids, k = 1)
      .collect()
    assert(top.head.getLong(top.head.fieldIndex("neighbor_id")) == 100L,
      "near-identical vector shares the query's cluster, so nprobe=2 must find it")
  }

  test("IVF top-k recall vs brute force on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val brute = topSets(operators.Similarity.qBrute.run(spark, sf))
    val ivf = topSets(operators.Similarity.qIvf.run(spark, sf))
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@10 = $mean%.3f over ${recalls.size} queries")
    assert(mean >= 0.2, f"IVF recall collapsed: $mean%.3f")
  }

  test("int8 quantization: codes in range, dequant error <= qscale/2, zero lane") {
    import spark.implicits._
    val rnd = new Random(73)
    val emb = ((0L until 40L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat), 0)) ++
      Seq((99L, Array.fill(64)(0f), 0))).toDF("vec_id", "embedding", "label")
    val rows = operators.Similarity.quantizeInt8(emb)
      .select("vec_id", "embedding", "codes", "qscale").collect()
    assert(rows.length == 41)
    rows.foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1)
      val codes = r.getSeq[Int](2)
      val scale = r.getDouble(3)
      if (id == 99L) {
        assert(scale == 0d && codes.forall(_ == 0), "all-zero vector takes the zero lane")
      } else {
        assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id code out of range")
        assert(codes.exists(c => math.abs(c) == 127), s"vec $id: amax component must saturate")
        v.zip(codes).foreach { case (x, c) =>
          val err = math.abs(c * scale - x)
          assert(err <= scale / 2 + 1e-12, s"vec $id dequant error $err > half-step ${scale / 2}")
        }
      }
    }
  }

  test("packed int8 codes: 1 byte per dim, byte-identical to the array form") {
    import spark.implicits._
    val rnd = new Random(74)
    val emb = ((0L until 40L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat), 0)) ++
      Seq((99L, Array.fill(64)(0f), 0))).toDF("vec_id", "embedding", "label")
    val arrayForm = operators.Similarity.quantizeInt8(emb)
      .select("vec_id", "codes", "qscale").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap
    val packed = operators.Similarity.quantizeInt8Packed(emb)
      .select("vec_id", "codes_bin", "qscale").collect()
    assert(packed.length == 41)
    packed.foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      val (codes, scale) = arrayForm(id)
      // the storage law the packed form exists for: bytes per vector = dims
      assert(bytes.length == 64, s"vec $id stored ${bytes.length} bytes, want dims=64")
      assert(bytes.map(_.toInt).toSeq == codes, s"vec $id packed codes drift from array form")
      assert(r.getDouble(2) == scale, s"vec $id qscale drift")
    }
  }

  test("native int8_cosine is bit-equal to the float kernel over cast codes") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    def floatCoded(df: DataFrame) = operators.Similarity.quantizeInt8(df)
      .select(col("vec_id"), expr("transform(codes, c -> CAST(c AS FLOAT))").as("fcodes"))
    def packCoded(df: DataFrame) =
      df.select(col("vec_id"), gfunctions.int8_codes(col("embedding")).as("codes_bin"))
    val queries = emb.filter(col("vec_id") < 8)
    val viaFloat = floatCoded(emb).alias("c")
      .join(broadcast(floatCoded(queries)
        .select(col("vec_id").as("query_id"), col("fcodes").as("qc"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        gfunctions.cosine_sim(col("c.fcodes"), col("qc")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaInt8 = packCoded(emb).alias("c")
      .join(broadcast(packCoded(queries)
        .select(col("vec_id").as("query_id"), col("codes_bin").as("qc"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        gfunctions.int8_cosine(col("c.codes_bin"), col("qc")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaInt8.size == viaFloat.size && viaInt8.nonEmpty)
    viaInt8.foreach { case (k, s) =>
      // exact ==: every |code| <= 127 keeps both paths on exact integers
      assert(viaFloat(k) == s, s"pair $k: int8 kernel ${s} != float path ${viaFloat(k)}")
    }
  }

  test("quantized IVF recall vs exact brute force on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val brute = topSets(operators.Similarity.qBrute.run(spark, sf))
    val ivf8 = topSets(operators.Similarity.qIvfInt8.run(spark, sf))
    val recalls = brute.map { case (q, truth) =>
      ivf8.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF-int8 mean recall@10 = $mean%.3f over ${recalls.size} queries")
    assert(recalls.size == 8, "all 8 registry queries answered")
    // floor = the float IVF's measured recall at this SF (0.91): int8
    // scoring inside probed lists must not cost recall vs float scoring
    assert(mean >= 0.9, f"quantized IVF recall collapsed: $mean%.3f")
  }

  test("int8 rerank recovers recall where pure int8 ranking decays (dense corpus)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dense synthetic manifold: at 200k sin-lattice vectors neighbors pack
    // closer than the quantization half-step, so PURE int8 ranking loses
    // truth rows (ScaleProbe16: 0.62); the float rerank over k*10 coarse
    // candidates must win them back (probe: 1.000)
    val dims = 64
    val emb = spark.range(0, 200000).select(
      col("id").as("vec_id"),
      org.apache.spark.sql.functions.expr(
        s"transform(sequence(0, ${dims - 1}), " +
          "j -> CAST(sin(CAST(id * 131 + j * 17 AS DOUBLE)) AS FLOAT))").as("embedding"))
    val queries = emb.filter(col("vec_id") < 8)
    val truth = topSets(operators.Similarity.bruteForceTopK(emb, queries))
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) => m.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val pure = recallOf(topSets(operators.Similarity.int8TopK(emb, queries)))
    val rerank = recallOf(topSets(operators.Similarity.int8RerankTopK(emb, queries)))
    info(f"dense-corpus recall@10: pure int8 $pure%.3f, rerank $rerank%.3f")
    assert(pure < 0.95, f"probe premise broken: pure int8 no longer decays here ($pure%.3f)")
    assert(rerank >= 0.99, f"rerank must recover near-exact recall, got $rerank%.3f")
  }

  test("persisted IVF index: partition-pruned serving equals the in-memory search") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val dir = "/tmp/graft-test/ivf_index"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(emb, centroids, dir)

    val served = operators.Ivf.searchIndex(spark, dir, queries)
    val inMem = operators.Ivf.topK(emb, queries, centroids, codec = operators.Ivf.Codec.Int8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(served) == rows(inMem),
      "index round-trip must not change a single ranked row or sim")

    // the scale property itself: the scan statically prunes to probed lists
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"expected a cluster partition filter in the index scan:\n$plan")
    val probed = plan.linesIterator.find(_.contains("PartitionFilters"))
    info(probed.getOrElse("").trim.take(120))
  }

  test("persisted-IVF rerank serving: ranked-row parity with int8RerankTopK at full probe") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val dir = "/tmp/graft-test/ivf_index_rerank"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(emb, centroids, dir)

    // nprobe = k probes every list, so the coarse candidate set equals the
    // brute int8 scan's — the served two-phase result must then match
    // int8RerankTopK row for row (rank, neighbor AND sim), proving the
    // rerank phase composed over the index is the Similarity.int8RerankTopK
    // second phase, not a lookalike
    val served = operators.Ivf.searchIndexRerank(spark, dir, queries, emb, nprobe = 8)
    val inMem = operators.Similarity.int8RerankTopK(emb, queries)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(served) == rows(inMem),
      "served two-phase ranking must equal the in-memory int8+rerank row for row")
  }

  test("persisted-IVF rerank serving recovers dense-corpus recall from disk") {
    import org.apache.spark.sql.functions.col
    // the ScaleProbe16 dense manifold, served from a written index: pure
    // int8 index scoring inherits the measured decay; the composed float
    // rerank must restore near-exact recall. Full probe (nprobe = k)
    // isolates quantization decay from list pruning — the decay under test.
    val dims = 64
    val dir = "/tmp/graft-test/ivf_index_dense"
    val emb = spark.range(0, 200000).select(
      col("id").as("vec_id"),
      org.apache.spark.sql.functions.expr(
        s"transform(sequence(0, ${dims - 1}), " +
          "j -> CAST(sin(CAST(id * 131 + j * 17 AS DOUBLE)) AS FLOAT))").as("embedding"))
      .localCheckpoint()
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(emb, centroids, dir)

    val truth = topSets(operators.Similarity.bruteForceTopK(emb, queries))
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, t) => m.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val int8Only = recallOf(topSets(
      operators.Ivf.searchIndex(spark, dir, queries, nprobe = 8)))
    val reranked = recallOf(topSets(
      operators.Ivf.searchIndexRerank(spark, dir, queries, emb, nprobe = 8)))
    info(f"dense index-served recall@10: int8-only $int8Only%.3f, rerank $reranked%.3f")
    assert(int8Only < 0.95,
      f"probe premise broken: int8-only index serving no longer decays here ($int8Only%.3f)")
    assert(reranked >= 0.99, f"index-served rerank must recover recall, got $reranked%.3f")
  }

  test("int8 ANN recall vs exact brute force on real embeddings") {
    val sf = "/root/testdata/sf0.001"
    val brute = topSets(operators.Similarity.qBrute.run(spark, sf))
    val int8 = topSets(operators.Similarity.qInt8.run(spark, sf))
    val recalls = brute.map { case (q, truth) =>
      int8.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"int8 mean recall@10 = $mean%.3f over ${recalls.size} queries")
    assert(recalls.size == 8, "all 8 registry queries answered")
    assert(mean >= 0.8, f"int8 quantized recall collapsed: $mean%.3f")
  }

  test("native top_k_by_score aggregate matches a window ranking exactly") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val scored = emb.alias("c")
      .join(broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        gfunctions.cosine_sim(col("c.embedding"), col("qvec")).as("sim"))

    val viaAgg = operators.Similarity.rankTopK(scored, 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getInt(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("neighbor_id")), r.getDouble(r.fieldIndex("sim"))))
    assert(viaAgg.toSeq == viaWindow.toSeq)

    // and it aggregates (partial heaps), not sorts
    val plan = operators.Similarity.rankTopK(scored, 10).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash aggregate:\n$plan")
  }

  test("LSH candidates are a subset ranked identically to brute force") {
    val sf = "/root/testdata/sf0.001"
    val brute = operators.Similarity.qBrute.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = operators.Similarity.qLsh.run(spark, sf).collect()
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      brute.get(key).foreach { s =>
        assert(math.abs(s - r.getDouble(3)) < 1e-12, s"sim mismatch for $key")
      }
    }
  }

  test("persisted-index lifecycle: append serves like a rebuild; compact folds to one file per list") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val grown = "/tmp/graft-test/ivf_index_lifecycle"
    val rebuilt = "/tmp/graft-test/ivf_index_rebuilt"
    // count only inverted-list data files — the persisted _quantizer
    // parquet is index metadata, not a list file
    def files(dir: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(p => p.toString.endsWith(".parquet") && p.toString.contains("cluster="))
        .count()
      finally s.close()
    }
    def rows(dir: String) = operators.Ivf.searchIndex(spark, dir, queries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    operators.Ivf.writeIndex(base, centroids, grown)
    val filesBase = files(grown)
    operators.Ivf.appendIndex(delta, grown)
    assert(files(grown) > filesBase, "an append lands new files in the touched lists")
    // the appended index must serve EXACTLY like an index rebuilt from
    // the union under the same quantizer — same ranked rows, same sims
    operators.Ivf.writeIndex(emb, centroids, rebuilt)
    assert(rows(grown) == rows(rebuilt),
      "append must be invisible to serving vs a full rebuild")
    // compaction is layout-only: one file per inverted list again,
    // identical ranked rows
    operators.Ivf.compactIndex(spark, grown)
    val nLists = operators.Ivf.readIndex(spark, grown).select("cluster").distinct().count()
    assert(files(grown) == nLists,
      s"compaction folds to one file per list, got ${files(grown)} files for $nLists lists")
    assert(rows(grown) == rows(rebuilt), "compaction must not change a single served row")
    // stale residue from a crashed prior compaction — an incomplete
    // generation dir and an abandoned append-staging dir — must not
    // wedge or pollute the next run (resolution ignores both; entry GC
    // sweeps both)
    assert(new java.io.File(grown + "/_gen-99/cluster=0").mkdirs())
    val junk = new java.io.File(grown + "/_appends_data/.b-junk")
    assert(junk.mkdirs())
    // age the staging past the sweep threshold — FRESH staging is
    // deliberately left alone (it may be an in-flight append; sweeping
    // it can race the commit rename into a partial batch)
    assert(junk.setLastModified(
      System.currentTimeMillis() - graft.sources.Generations.StagingSweepAgeMs - 60000))
    val fresh = new java.io.File(grown + "/_appends_data/.b-fresh")
    assert(fresh.mkdirs())
    operators.Ivf.compactIndex(spark, grown)
    assert(rows(grown) == rows(rebuilt), "compaction after crash residue must still serve identically")
    assert(!new java.io.File(grown + "/_gen-99").exists(),
      "entry GC must sweep incomplete generation residue")
    assert(!junk.exists(), "entry GC must sweep staging older than the threshold")
    assert(fresh.exists(), "entry GC must NOT touch fresh (possibly in-flight) staging")
    assert(fresh.delete())
  }

  test("idempotent batch append: replay, crash residue, and post-compaction replay never duplicate") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") >= 50)
    val delta0 = emb.filter(col("vec_id") < 25)
    val delta1 = emb.filter(col("vec_id") >= 25 && col("vec_id") < 50)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/ivf_index_idem"
    operators.Ivf.writeIndex(base, centroids, dir)

    def counts(): (Long, Long) = {
      val df = operators.Ivf.readIndex(spark, dir)
      (df.count(), df.groupBy("vec_id").count().filter(col("count") > 1).count())
    }

    operators.Ivf.appendIndexBatch(delta0, dir, 0L)
    assert(counts() == (475L, 0L), "first append lands each vector once")
    // full replay of a committed batch short-circuits on the marker
    operators.Ivf.appendIndexBatch(delta0, dir, 0L)
    assert(counts() == (475L, 0L), "replay of a committed batch must be a no-op")

    // crash between the file moves and the marker write: the data files
    // landed but no marker — the replay must overwrite its own
    // deterministically-named files, not add beside them
    operators.Ivf.appendIndexBatch(delta1, dir, 1L)
    val marker = new java.io.File(s"$dir/_appends/1")
    assert(marker.exists())
    assert(marker.delete(), "simulate a crash before the marker commit")
    operators.Ivf.appendIndexBatch(delta1, dir, 1L)
    assert(counts() == (500L, 0L),
      "replay over crash residue overwrites the same files — still exactly once")

    // served rows equal a rebuild from the union under the same quantizer
    val queries = emb.filter(col("vec_id") < 8)
    val rebuilt = "/tmp/graft-test/ivf_index_idem_rebuilt"
    operators.Ivf.writeIndex(emb, centroids, rebuilt)
    def rows(d: String) = operators.Ivf.searchIndex(spark, d, queries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(dir) == rows(rebuilt), "batched appends must serve exactly like a rebuild")

    // markers ride through compaction: a replay arriving AFTER its rows
    // were folded in must still short-circuit
    operators.Ivf.compactIndex(spark, dir)
    operators.Ivf.appendIndexBatch(delta0, dir, 0L)
    assert(counts() == (500L, 0L),
      "post-compaction replay of a folded batch must not re-append")
    assert(rows(dir) == rows(rebuilt), "post-compaction serve unchanged")
  }

  test("index carries its quantizer: round-trip, self-describing serve/append, survives compaction") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/ivf_index_selfdesc"
    val rebuilt = "/tmp/graft-test/ivf_index_selfdesc_rebuilt"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    operators.Ivf.writeIndex(emb.filter(col("vec_id") % 5 =!= 0), centroids, dir)
    val rc = operators.Ivf.readCentroids(spark, dir)
    assert(rc.length == centroids.length &&
      rc.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "persisted quantizer must round-trip bit-equal")
    // the _quantizer subdir must be invisible to the list scan: the
    // self-describing serve equals the in-memory search under the same
    // centroids
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries)) ==
      rows(operators.Ivf.topK(emb.filter(col("vec_id") % 5 =!= 0), queries, centroids,
        codec = operators.Ivf.Codec.Int8)),
      "self-describing serve must equal the in-memory search under the same centroids")
    // self-describing append (assigns against the index's own persisted
    // quantizer) + compaction (quantizer rides along) ≡ full rebuild
    operators.Ivf.appendIndex(emb.filter(col("vec_id") % 5 === 0), dir)
    operators.Ivf.compactIndex(spark, dir)
    val rc2 = operators.Ivf.readCentroids(spark, dir)
    assert(rc2.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "quantizer must survive compaction")
    operators.Ivf.writeIndex(emb, centroids, rebuilt)
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries)) ==
      rows(operators.Ivf.searchIndex(spark, rebuilt, queries)),
      "append+compact via the persisted quantizer must serve like a rebuild")
  }

  test("filtered ANN serving: predicate pushed into the pruned list scan, post-filter top-k") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/ivf_index_filtered"
    operators.Ivf.writeIndex(emb, centroids, dir, Seq("label"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // full probe: the filtered serve must equal brute int8 ranking over
    // the pre-filtered corpus, ranked row for ranked row
    val served = operators.Ivf.searchIndex(
      spark, dir, queries, nprobe = 8, predicate = Some(col("label") === 1))
    val expect = operators.Similarity.int8TopK(emb.filter(col("label") === 1), queries)
    assert(rows(served) == rows(expect),
      "filtered serving must rank exactly like brute int8 over the filtered corpus")
    // post-filter contract: every returned neighbor satisfies the predicate
    served.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("neighbor_id")) % 3 == 1,
        s"neighbor ${r.getLong(r.fieldIndex("neighbor_id"))} violates the filter")
    }
    // the scale property: the predicate reached the parquet scan
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(label,1)"),
      s"expected the label predicate pushed to the list scan:\n$plan")
  }

  test("appends to a metaCols index carry the metadata: filtered serving finds appended vectors") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/ivf_index_filtered_append"
    operators.Ivf.writeIndex(emb.filter(col("vec_id") >= 100), centroids, dir, Seq("label"))
    // the append must read the index's own schema and carry `label`
    // through - a metadata-dropping append would leave appended rows
    // invisible to (or failing under) the filtered serve
    operators.Ivf.appendIndexBatch(emb.filter(col("vec_id") < 100), dir, 0L)
    val lists = operators.Ivf.readIndex(spark, dir)
    assert(lists.columns.toSet == Set("vec_id", "codes_bin", "cluster", "label"),
      s"appends must carry the index's metadata columns, got ${lists.columns.mkString(",")}")
    assert(lists.filter(col("label").isNull).count() == 0, "appended metadata must be populated")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val served = operators.Ivf.searchIndex(
      spark, dir, queries, nprobe = 8, predicate = Some(col("label") === 1))
    val expect = operators.Similarity.int8TopK(emb.filter(col("label") === 1), queries)
    assert(rows(served) == rows(expect),
      "filtered serving over the appended-to index must equal brute int8 over the filtered corpus")
  }

  test("compactIndex crash matrix: every pointer-protocol crash state serves the committed layout") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val dir = "/tmp/graft-test/ivf_index_crash_swap"
    operators.Ivf.writeIndex(emb, centroids, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // state 1 — crash DURING the new generation's write: a partial
    // _gen-1 without _complete. Resolution must ignore it and serve the
    // flat original; a retried compaction must sweep it and succeed.
    assert(new java.io.File(s"$dir/_gen-1/cluster=0").mkdirs())
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == want,
      "an incomplete generation must be invisible to serving")
    operators.Ivf.compactIndex(spark, dir)
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == want,
      "a retried compaction over partial-write residue must serve identically")
    // state 2 — crash MID-FLIP: the pointer file is gone but the new
    // generation is _complete (the flip deletes then renames). The
    // highest-complete-generation fallback must resolve it; the next
    // compaction heals the pointer.
    val cur = graft.sources.Generations
      .currentGen(fs, dir).getOrElse(fail("expected a generation after compaction"))
    require(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_current"), false))
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == want,
      "mid-flip crash (no pointer): the completed generation must still serve")
    operators.Ivf.compactIndex(spark, dir)
    assert(graft.sources.Generations.currentGen(fs, dir).contains(cur + 1),
      "the retried compaction must advance from the healed generation")
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == want,
      "post-heal serve unchanged")
    // state 3 — crash between _complete and the flip: a complete but
    // unreferenced HIGHER generation. The pointer wins; the orphan is
    // swept and redone on the next run.
    val orphan = s"$dir/_gen-${cur + 5}"
    operators.Ivf.readIndex(spark, dir).limit(1)
      .write.mode("overwrite").parquet(orphan)
    graft.sources.Generations.markComplete(fs, orphan)
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == want,
      "a complete-but-unflipped orphan generation must be invisible (pointer wins)")
    operators.Ivf.compactIndex(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)),
      "entry GC must sweep the orphan generation")
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == want,
      "serve unchanged after orphan sweep")
  }

  test("ann_index_rerank_topk registry entry: k rows per query, sims are exact float cosines") {
    val sf = "/root/testdata/sf0.001"
    val served = operators.Similarity.qIndexRerank.run(spark, sf).collect()
    assert(served.length == 80, s"8 registry queries x top-10, got ${served.length}")
    // the rerank phase must emit EXACT float-kernel cosines: every
    // (query, neighbor) pair that brute force also ranks carries a
    // bit-identical sim (the same subset law the LSH entry pins)
    val brute = operators.Similarity.qBrute.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    served.foreach { r =>
      val key = (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id")))
      brute.get(key).foreach { s =>
        assert(s == r.getDouble(r.fieldIndex("sim")), s"rerank sim not the exact cosine for $key")
      }
    }
  }

  test("IVF sampled training: centroids partition-invariant; recall holds with sampling engaged") {
    import org.apache.spark.sql.functions.{col, desc}
    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    // sampleFactor=8 with k=8 -> target 64 of 500 vectors: the sample
    // path ENGAGES here (the default 100x engages only past 100*k)
    val n = operators.Ivf.trainingSample(emb, 8, 8L).count()
    assert(n < 500 && n >= 32, s"sample must engage and keep ~64 of 500 vectors, got $n")
    // determinism: the sample is a pure function of vec_id, so training
    // over a reshuffled, re-sorted input yields bit-equal centroids
    val c1 = operators.Ivf.train(emb.repartition(7), k = 8, iters = 1, sampleFactor = 8L)
    val c2 = operators.Ivf.train(
      emb.repartition(3).sortWithinPartitions(desc("vec_id")), k = 8, iters = 1, sampleFactor = 8L)
    assert(c1.length == 8 && c1.zip(c2).forall { case (a, b) => a.sameElements(b) },
      "sampled centroids must be a pure function of the data, not its partitioning")
    // recall floors with the sampled quantizer. The SIZING matters:
    // the 8x-per-centroid sample above is fine for pinning determinism
    // but measured recall 0.387 — a quantizer trained that thin carves
    // lists that scatter true neighbors outside the probe budget. At
    // the design sizing (~100 vectors per centroid; here 50x = 400 of
    // 500, the largest engaging sample this corpus allows) the floors
    // of the full-train specs must hold — which is exactly why train's
    // default is sampleFactor = 100, not "as small as possible".
    val cSized = operators.Ivf.train(emb, k = 8, iters = 1, sampleFactor = 50L)
    val brute = topSets(operators.Similarity.qBrute.run(spark, sf))
    def recallOf(m: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, truth) =>
        m.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val queries = emb.filter(col("vec_id") < 8)
    val fMean = recallOf(topSets(operators.Ivf.topK(emb, queries, cSized)))
    val iMean = recallOf(topSets(operators.Ivf.topK(emb, queries, cSized, codec = operators.Ivf.Codec.Int8)))
    info(f"sampled-train recall@10: float $fMean%.3f, int8 $iMean%.3f")
    assert(fMean >= 0.9, f"sampled-train float IVF recall collapsed: $fMean%.3f")
    assert(iMean >= 0.9, f"sampled-train int8 IVF recall collapsed: $iMean%.3f")
  }

  test("q81 semantic text search: a planted paraphrase is its query's rank-1 at sim ~1, both editions") {
    // doc 0 is EMPTY (zero tokens): it must vanish from the embedding
    // table entirely — neither a query slot nor a neighbor. Queries are
    // then docs 1-8; doc 1's paraphrase (same words, reordered) is doc
    // 9, which must come back rank-1 for query 1 with cosine ~1 under
    // the bag-of-words projection, while every other doc's vocabulary
    // is disjoint from doc 1's.
    val words = Seq("alpha beta gamma delta", "one two three four",
      "red green blue yellow", "cat dog bird fish", "north south east west",
      "spring summer autumn winter", "gold silver bronze iron",
      "violin cello flute drum")
    val rows = (0L, "", "en", "s", 0L) +:
      words.zipWithIndex.map { case (t, i) => (i + 1L, t, "en", "s", 10L) } :+
      (9L, "delta gamma beta alpha", "en", "s", 10L)
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/textsearch", rows)

    for ((edition, df) <- Seq(
        ("xxh-64d", Similarity.textSearch(spark, dir)),
        ("md5-law", Similarity.textSearchMd5(spark, dir))) ) {
      val got = df.collect().map(r =>
        (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val queries = got.keys.map(_._1).toSet
      assert(queries == (1L to 8L).toSet,
        s"$edition: queries must be docs 1-8 (doc 0 has no tokens), got $queries")
      assert(!got.values.exists(_._1 == 0L), s"$edition: empty doc retrieved as neighbor")
      val (top1, sim1) = got((1L, 1))
      assert(top1 == 9L, s"$edition: query 1's rank-1 must be its paraphrase, got $top1")
      assert(sim1 > 0.999, s"$edition: paraphrase cosine must be ~1, got $sim1")
      // disjoint vocabularies: every other query's best neighbor scores
      // FAR below the paraphrase pair (feature-hash bucket collisions
      // can produce small nonzero sims; they cannot approach 1)
      (2L to 8L).foreach { q =>
        val (_, s) = got((q, 1))
        assert(s < 0.9, s"$edition: query $q best sim $s suspiciously high")
      }
    }
  }

  test("q83 keyword search: exact integer tf-idf law hand-checked, rare terms dominate") {
    // df: zebra {1,10} = 2, apple {1,10,11} = 3, plum/pear {2,12} = 2,
    // quince {12} = 1. All five docs are queries (<= 8 lowest ids).
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/kwsearch", Seq(
      (1L, "zebra apple apple", "en", "s", 17L),
      (2L, "plum pear", "en", "s", 9L),
      (10L, "zebra apple", "en", "s", 11L),
      (11L, "apple", "en", "s", 5L),
      (12L, "plum pear quince", "en", "s", 16L),
    ))
    val got = Similarity.keywordSearchMd5(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // query 1 vs doc 10: zebra 1*1e6 div 2 + apple 1*1e6 div 3; the
    // rare term's 500000 dominates doc 11's common-term-only 333333
    assert(got((1L, 1)) == (10L, 500000L + 333333L),
      s"query 1 rank-1: ${got((1L, 1))}")
    assert(got((1L, 2)) == (11L, 333333L))
    // query 2 vs doc 12: two shared df-2 terms, exact sum
    assert(got((2L, 1)) == (12L, 1000000L))
    // no cross-vocabulary leakage: query 2 never retrieves 10/11
    val q2nbrs = got.collect { case ((2L, _), (nb, _)) => nb }.toSet
    assert(!q2nbrs.contains(10L) && !q2nbrs.contains(11L))
    // self-matches excluded everywhere
    assert(!got.exists { case ((q, _), (nb, _)) => q == nb })
  }

  test("q83 keyword search: the per-query term budget keeps the RAREST terms") {
    // doc 1 shares 'common' (df 4) with everything and 'rarest' (df 2)
    // with doc 10 only; a budget of 16 keeps both here, but the LAW is
    // pinned by making the rare term decide the ranking even though
    // the common term has higher tf everywhere
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/kwbudget", Seq(
      (1L, "rarest common", "en", "s", 13L),
      (10L, "rarest common", "en", "s", 13L),
      (11L, "common common common common common", "en", "s", 34L),
      (12L, "common common common common common common", "en", "s", 41L),
    ))
    val got = Similarity.keywordSearchMd5(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // df: rarest = 2, common = 4. score(1,10) = 1e6 div 2 + 1e6 div 4 =
    // 750000; score(1,11) = 5 * 250000 = 1250000 — tf inflation CAN win
    // on raw counts, which is exactly why the rare term must stay in
    // the budget: with it, doc 10 still loses on this corpus (honest
    // law), and the assertions pin the exact integers of both
    assert(got((1L, 1)) == (12L, 1500000L), s"got ${got((1L, 1))}")
    assert(got((1L, 2)) == (11L, 1250000L))
    assert(got((1L, 3)) == (10L, 750000L))
  }

  test("q85 BM25: integer law equals the float reference; length-norm and saturation behave") {
    // One shared term 'zebra' (df 4) across docs of different lengths
    // and tfs isolates the BM25 denominator: S = 1+2+6+4 = 13, N = 4.
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/bm25search", Seq(
      (1L, "zebra", "en", "s", 5L),
      (10L, "zebra lion", "en", "s", 10L),
      (11L, "zebra lion tiger puma wolf bear", "en", "s", 30L),
      (12L, "zebra zebra lion tiger", "en", "s", 22L),
    ))
    // the production integer law, restated independently
    def contrib(tf: Long, df: Long, dl: Long, s: Long, n: Long): Long =
      (1000000L * 44 * tf * s) / ((20 * tf * s + 6 * s + 18 * dl * n) * df)
    // ... and the textbook float law it clears denominators from
    def ref(tf: Double, df: Double, dl: Double, s: Double, n: Double): Double = {
      val k1 = 1.2; val b = 0.75
      (1.0 / df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl * n / s))
    }
    for (tf <- 1L to 3L; df <- 1L to 4L; dl <- Seq(1L, 4L, 9L))
      assert(math.abs(contrib(tf, df, dl, 13, 4) / 1e6 - ref(tf.toDouble, df.toDouble, dl.toDouble, 13, 4)) < 1.5e-6,
        s"derivation forked at tf=$tf df=$df dl=$dl")
    val got = Similarity.bm25SearchMd5(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // query 1 ("zebra"): hand-checked integers
    //  doc 12 (tf 2, dl 4): (1e6*44*2*13) div ((520+78+288)*4) = 322799
    //  doc 10 (tf 1, dl 2): (1e6*44*13)   div ((260+78+144)*4) = 296680
    //  doc 11 (tf 1, dl 6): (1e6*44*13)   div ((260+78+432)*4) = 185714
    assert(got((1L, 1)) == (12L, contrib(2, 4, 4, 13, 4)), s"got ${got((1L, 1))}")
    assert(got((1L, 1))._2 == 322799L, "the literal pin, so a law drift is visible in review")
    assert(got((1L, 2)) == (10L, contrib(1, 4, 2, 13, 4)))
    assert(got((1L, 3)) == (11L, contrib(1, 4, 6, 13, 4)))
    // LENGTH NORMALIZATION (what q83's tf-idf lacks): same tf, the
    // 6-token doc scores strictly below the 2-token doc
    assert(got((1L, 2))._2 > got((1L, 3))._2)
    // SATURATION: doubling tf (even in a doc only twice as long) gains
    // far less than 2x
    assert(got((1L, 1))._2 < 2 * got((1L, 2))._2)
    // self-matches excluded
    assert(!got.exists { case ((q, _), (nb, _)) => q == nb })
  }

  test("q84 hybrid RRF: both-lists presence dominates with exact fusion arithmetic") {
    // doc 20 is query 1's paraphrase (identical bag of words): rank-1
    // in the DENSE list (cosine 1 under the bag-of-words projection)
    // AND rank-1 in the SPARSE list (shares every term incl. the rare
    // ones) -> rrf = 2 * (1e6 div 61) = 32786, the provable maximum
    // for k=5 lists; every disjoint-vocabulary doc can appear in at
    // most one list for query 1
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/rrfsearch", Seq(
      (1L, "alpha beta gamma", "en", "s", 16L),
      (2L, "one two three", "en", "s", 13L),
      (3L, "red green blue", "en", "s", 13L),
      (20L, "gamma beta alpha", "en", "s", 16L),
    ))
    val got = Similarity.hybridRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val (nb, score) = got((1L, 1))
    assert(nb == 20L, s"query 1's fused rank-1 must be the paraphrase, got $nb")
    assert(score == 2L * (1000000L / 61L), s"exact RRF fusion: got $score")
    assert(score == 32786L)
    // a doc in only one list can never reach the both-lists score
    got.collect { case ((1L, r), (n, s)) if r > 1 => (n, s) }.foreach { case (n, s) =>
      assert(s < 32786L, s"single-list doc $n fused to $s")
    }
    // q87: with the BM25 leg added, the same paraphrase is rank-1 in
    // ALL THREE lists -> 3 * (1e6 div 61) = 49179, the three-list
    // provable maximum; q84's two-list result above is unchanged
    val got3 = Similarity.hybridRrf3(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got3((1L, 1)) == ((20L, 49179L)), s"three-list max: ${got3((1L, 1))}")
    got3.collect { case ((1L, r), (n, s)) if r > 1 => (n, s) }.foreach { case (n, s) =>
      assert(s < 49179L, s"doc $n cannot reach the all-lists score, fused to $s")
    }
  }

  test("served hybrid fusion: append to BOTH indexes, serve == in-memory q87 rebuild; compaction preserves it") {
    // the r18 composition seam: dense leg from the persisted IVF lists
    // (fullprobe + exact double rerank), both sparse legs from the
    // persisted postings index over one shared fetch, fused by the one
    // rrfFuse rendering — row-for-row equal to the in-memory three-leg
    // law over the same corpus, ACROSS an append to both indexes
    import org.apache.spark.sql.functions.{col, size}
    import operators.SparseIndex
    val d = "/root/testdata/sf0.001"
    val toked = Tables.documents(spark, d)
      .select(col("doc_id"), graft.gfunctions.ws_tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint()
    val emb = operators.Dedup.textEmbedMd5From(toked).localCheckpoint()
    val want = Similarity.hybridRrf3From(toked, 5, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // a DIFFERENT split than the registry entry's thirds: half base,
    // half appended, so the spec exercises its own append boundary
    val dd = "/tmp/graft-test/hybrid_dense"
    val sd = "/tmp/graft-test/hybrid_sparse"
    val vecs = Similarity.embVecs(emb).localCheckpoint()
    val centroids = operators.Ivf.train(vecs, k = 8, dims = operators.Dedup.TextEmbedDims)
    operators.Ivf.writeIndex(vecs.filter(col("vec_id") % 2 === 0), centroids, dd)
    operators.Ivf.appendIndex(vecs.filter(col("vec_id") % 2 === 1), dd)
    SparseIndex.writeIndex(toked.filter(col("doc_id") % 2 === 0), sd)
    SparseIndex.appendIndex(toked.filter(col("doc_id") % 2 === 1), sd)
    def servedRows() = Similarity.hybridIndexServe(spark, dd, sd, toked, emb, 5, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(servedRows() == want,
      "served fusion across an append to both indexes must equal the in-memory rebuild")
    // fold both indexes: the served fusion must not move a row
    operators.Ivf.compactIndex(spark, dd)
    SparseIndex.compactIndex(spark, sd)
    assert(servedRows() == want, "compaction of either index must not change the fusion")
  }

  test("hybrid serve at micro-batch latency: docs streamed into BOTH index lanes join the fusion") {
    // the serving story's freshness seam: base = even half on both
    // indexes, the odd half arrives through the two STREAMING ingest
    // lanes (dense vectors via indexAppendStream, tokenized docs via
    // sparseIndexAppendStream). The served fusion then equals the
    // in-memory three-leg law over the WHOLE corpus — a streamed doc is
    // retrievable through all three legs at micro-batch latency, with
    // the gate-exact settings making the equality row-for-row, not
    // approximate.
    import org.apache.spark.sql.functions.{col, size}
    import operators.SparseIndex
    val d = "/root/testdata/sf0.001"
    val toked = Tables.documents(spark, d)
      .select(col("doc_id"), graft.gfunctions.ws_tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint()
    val emb = operators.Dedup.textEmbedMd5From(toked).localCheckpoint()
    val want = Similarity.hybridRrf3From(toked, 5, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val base = "/tmp/graft-test/hybrid_stream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val (dd, sd) = (s"$base/dense", s"$base/sparse")
    val vecs = Similarity.embVecs(emb).localCheckpoint()
    val centroids = operators.Ivf.train(vecs, k = 8, dims = operators.Dedup.TextEmbedDims)
    operators.Ivf.writeIndex(vecs.filter(col("vec_id") % 2 === 0), centroids, dd)
    SparseIndex.writeIndex(toked.filter(col("doc_id") % 2 === 0), sd)
    // the odd half arrives as one micro-batch per lane
    val vIn = s"$base/vin"; val tIn = s"$base/tin"
    val vOdd = vecs.filter(col("vec_id") % 2 === 1)
    val tOdd = toked.filter(col("doc_id") % 2 === 1)
    vOdd.coalesce(1).write.parquet(vIn)
    tOdd.coalesce(1).write.parquet(tIn)
    val q1 = streaming.Streams.indexAppendStream(
      spark.readStream.schema(vOdd.schema).parquet(vIn), dd, Some(s"$base/vck"))
    try q1.processAllAvailable() finally q1.stop()
    val q2 = streaming.Streams.sparseIndexAppendStream(
      spark.readStream.schema(tOdd.schema).parquet(tIn), sd, Some(s"$base/tck"))
    try q2.processAllAvailable() finally q2.stop()
    val served = Similarity.hybridIndexServe(spark, dd, sd, toked, emb, 5, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served == want,
      "the fusion served after streaming ingest into both lanes must equal the in-memory law")
  }
}
