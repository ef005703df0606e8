package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import operators.{Ivf, Opq, Pq, Similarity}

  private val sf = "/root/testdata/sf0.001"

  private def opqModelOf(dir: String): Opq.Model = Ivf.Codec.of(spark, dir) match {
    case Ivf.Codec.Opq(m) => m
    case other => fail(s"$dir serves as $other, not OPQ")
  }

  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def matMulT(a: Array[Double], b: Array[Double], d: Int): Array[Double] = {
    // a * b^T, all row-major d x d
    val out = new Array[Double](d * d)
    for (i <- 0 until d; j <- 0 until d) {
      var s = 0.0
      for (k <- 0 until d) s += a(i * d + k) * b(j * d + k)
      out(i * d + j) = s
    }
    out
  }

  private def assertOrthogonal(m: Array[Double], d: Int, tol: Double, what: String): Unit = {
    val mmT = matMulT(m, m, d)
    for (i <- 0 until d; j <- 0 until d) {
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(mmT(i * d + j) - want) < tol,
        f"$what is not orthogonal at ($i,$j): ${mmT(i * d + j)}%.2e")
    }
  }

  test("one-sided Jacobi SVD: U and V orthogonal, U^T A V diagonal nonnegative") {
    val d = 16
    // the i*j cross term breaks separability -> full rank (a separable
    // sin(a*i + b*j) matrix is rank 2 and only exercises the null-space
    // completion path)
    val a = Array.tabulate(d * d) { x =>
      val i = x / d; val j = x % d
      math.sin(i * 1.3 + j * 0.9 + i * j * 0.37) + (if (i == j) 2.0 else 0.0)
    }
    val (u, v) = Opq.svdUV(a, d)
    assertOrthogonal(u, d, 1e-10, "U")
    assertOrthogonal(v, d, 1e-10, "V")
    // s = U^T A V must be diagonal with nonnegative entries
    val s = new Array[Double](d * d)
    for (i <- 0 until d; j <- 0 until d) {
      var acc = 0.0
      for (p <- 0 until d; q <- 0 until d) acc += u(p * d + i) * a(p * d + q) * v(q * d + j)
      s(i * d + j) = acc
    }
    val maxDiag = (0 until d).map(i => s(i * d + i)).max
    for (i <- 0 until d; j <- 0 until d) {
      if (i == j) assert(s(i * d + i) >= -1e-10, s"negative singular value at $i: ${s(i * d + i)}")
      else assert(math.abs(s(i * d + j)) < 1e-8 * maxDiag,
        f"U^T A V not diagonal at ($i,$j): ${s(i * d + j)}%.2e")
    }
  }

  test("Procrustes recovers a planted rotation to machine precision") {
    val d = 8
    // a deterministic orthogonal Q: product of Givens rotations
    val q = {
      var m = Array.tabulate(d * d)(i => if (i / d == i % d) 1.0 else 0.0)
      for (t <- 0 until 12) {
        val p = t % (d - 1); val r = p + 1
        val theta = 0.3 + 0.2 * t
        val c = math.cos(theta); val s = math.sin(theta)
        val g = Array.tabulate(d * d)(i => if (i / d == i % d) 1.0 else 0.0)
        g(p * d + p) = c; g(p * d + r) = -s; g(r * d + p) = s; g(r * d + r) = c
        val next = new Array[Double](d * d)
        for (i <- 0 until d; j <- 0 until d) {
          var acc = 0.0
          for (k <- 0 until d) acc += g(i * d + k) * m(k * d + j)
          next(i * d + j) = acc
        }
        m = next
      }
      m
    }
    // n*i cross term -> the sample spans all of R^d (a separable sample
    // is rank 2 and leaves the planted rotation underdetermined)
    val xs = Array.tabulate(40)(n =>
      Array.tabulate(d)(i => math.sin(n * 1.7 + i * 0.9 + 0.21 * n * i).toFloat))
    val ys = xs.map(x => Opq.applyR(q, x, d))
    // X^T Y feeds Procrustes exactly as in training
    val m = new Array[Double](d * d)
    for (n <- xs.indices; i <- 0 until d; j <- 0 until d)
      m(i * d + j) += xs(n)(i).toDouble * ys(n)(j).toDouble
    val r = Opq.procrustes(m, d)
    for (i <- 0 until d * d)
      assert(math.abs(r(i) - q(i)) < 1e-6,
        f"recovered rotation differs from planted at $i: ${r(i)}%.8f vs ${q(i)}%.8f")
  }

  test("OPQ on real embeddings: orthogonal, error never above plain PQ, deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val model = Opq.train(emb)
    val d = model.dims
    assertOrthogonal(model.rotation.map(_.toDouble), d, 1e-4, "trained R (float32)")

    // the monotone guarantee: rotated-space quantization error <= plain
    // PQ's raw-space error on the same sample (R = I is the start)
    val sample = Ivf.trainingSample(emb, model.pq.ksub, 100L)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toArray)
    val rotated = sample.map(v => Opq.applyR(model.rotation.map(_.toDouble), v, d))
    val rawPq = Pq.train(emb)
    val eOpq = Opq.quantError(model.pq, rotated)
    val eRaw = Opq.quantError(rawPq, sample)
    info(f"sample quantization error: raw PQ $eRaw%.3f, OPQ $eOpq%.3f (${eOpq / eRaw * 100}%.1f%%)")
    assert(eOpq <= eRaw * (1 + 1e-4),
      f"OPQ must not quantize worse than plain PQ: $eOpq%.4f vs $eRaw%.4f")

    val model2 = Opq.train(emb)
    assert(java.util.Arrays.equals(model.rotation, model2.rotation) &&
      java.util.Arrays.equals(model.pq.codebook, model2.pq.codebook),
      "training must be deterministic across reruns")
  }

  test("engine rotation is the driver kernel row for row; rotated norms preserved") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 32)
    val model = Opq.train(Tables.embeddings(spark, sf))
    val got = emb.select(
      col("vec_id"), col("embedding"),
      graft.gfunctions.mat_vec(col("embedding"), model.rotation, model.dims).as("rot"))
      .collect()
    got.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val rot = r.getSeq[Float](2).toArray
      val want = new Array[Float](model.dims)
      for (i <- 0 until model.dims) {
        var s = 0.0
        for (j <- 0 until model.dims) s += model.rotation(i * model.dims + j).toDouble * v(j).toDouble
        want(i) = s.toFloat
      }
      assert(rot.sameElements(want), s"engine rotation differs for vec ${r.getLong(0)}")
      // orthogonal R preserves the norm (the invariance cosine relies on)
      val n0 = v.map(x => x.toDouble * x).sum
      val n1 = rot.map(x => x.toDouble * x).sum
      assert(math.abs(n0 - n1) < 1e-3 * math.max(n0, 1.0),
        s"rotation changed the norm: $n0 -> $n1")
    }
  }

  test("persisted OPQ index: round-trip, full-probe parity, pruning, rotated appends, compaction") {
    val dir = "/tmp/graft-test/opq_index"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = Ivf.train(emb, k = 8, iters = 1)
    val model = Opq.train(emb)
    val base = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    Ivf.writeIndex(base, centroids, dir, codec = Ivf.Codec.Opq(model))

    // the OPQ model versions with the index and round-trips bit-for-bit
    val back = opqModelOf(dir)
    assert(java.util.Arrays.equals(back.rotation, model.rotation))
    assert(back.pq.m == model.pq.m && back.pq.ksub == model.pq.ksub)
    assert(java.util.Arrays.equals(back.pq.codebook, model.pq.codebook))

    // self-describing append: the delta ROTATES and encodes (the _opq
    // subdir is the dispatch bit), exactly once under replay
    Ivf.appendIndexBatch(delta, dir, 0L)
    Ivf.appendIndexBatch(delta, dir, 0L) // committed replay: no-op
    val lists = Ivf.readIndex(spark, dir)
    assert(lists.columns.toSet == Set("vec_id", "codes_opq", "cluster"),
      s"appends must encode to the index's own (rotated) code form, got ${lists.columns.mkString(",")}")
    assert(lists.count() == 500 &&
      lists.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "each appended vector lands exactly once")

    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val inMem = rows(Ivf.topK(emb, queries, centroids, k = 10, nprobe = 8, codec = Ivf.Codec.Opq(model)))
    assert(rows(Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == inMem,
      "full-probe OPQ serve from disk must equal the in-memory rotated ranking row for row")

    // the scale property: a pruned serve scans only probed partitions
    val pruned = Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"expected a cluster partition filter in the OPQ index scan:\n$plan")

    // compaction folds the appended files and carries _opq through
    Ivf.compactIndex(spark, dir)
    assert(java.util.Arrays.equals(opqModelOf(dir).rotation, model.rotation),
      "the rotation must survive compaction")
    assert(rows(Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == inMem,
      "compaction is layout-only: the OPQ serve must be unchanged")

    // served rerank recovers exact recall from disk
    val brute = topSets(Similarity.qBrute.run(spark, sf))
    val served = topSets(Ivf.searchIndexRerank(spark, dir, queries, emb, nprobe = 8))
    val rs = brute.map { case (q, t) =>
      served.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val recall = rs.sum / rs.size
    info(f"OPQ rerank served-from-disk recall@10 = $recall%.3f")
    assert(recall >= 0.95, f"served OPQ rerank recall collapsed: $recall%.3f")
  }

  test("OPQ recall on the gate set: coarse >= raw PQ - 0.05, rerank recovers") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val model = Opq.train(emb)
    val rawPq = Pq.train(emb)
    val brute = topSets(Similarity.qBrute.run(spark, sf))
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val rRaw = recallOf(topSets(Pq.topKPq(emb, queries, rawPq)))
    val rOpq = recallOf(topSets(Opq.topKOpq(emb, queries, model)))
    val rRerank = recallOf(topSets(Opq.opqRerankTopK(emb, queries, model)))
    info(f"gate recall@10: raw PQ $rRaw%.3f, OPQ $rOpq%.3f, OPQ rerank $rRerank%.3f")
    assert(rOpq >= rRaw - 0.05,
      f"the learned rotation must not lose recall: $rOpq%.3f vs raw $rRaw%.3f")
    assert(rRerank >= 0.95, f"OPQ rerank recall collapsed: $rRerank%.3f")
  }
}
