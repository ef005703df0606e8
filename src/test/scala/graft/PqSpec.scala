package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class PqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import operators.{Pq, Similarity}

  private val sf = "/root/testdata/sf0.001"

  private def pqModelOf(dir: String): Pq.Model = operators.Ivf.Codec.of(spark, dir) match {
    case operators.Ivf.Codec.Pq(m) => m
    case other => fail(s"$dir serves as $other, not PQ")
  }

  private def residModelOf(dir: String): Pq.Model = operators.Ivf.Codec.of(spark, dir) match {
    case operators.Ivf.Codec.PqResid(m) => m
    case other => fail(s"$dir serves as $other, not residual PQ")
  }

  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** Scala reference: reconstruct a coded vector from the codebook. */
  private def reconstruct(model: Pq.Model, codes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](model.dims)
    var j = 0
    while (j < model.m) {
      val c = codes(j) & 0xFF
      val base = (j * model.ksub + c) * model.dsub
      var i = 0
      while (i < model.dsub) {
        out(j * model.dsub + i) = model.codebook(base + i)
        i += 1
      }
      j += 1
    }
    out
  }

  /** Cosine with the kernel's PER-SUBSPACE summation order. */
  private def subspaceCosine(model: Pq.Model, q: Array[Float], recon: Array[Float]): Double = {
    var dot = 0.0
    var rnorm2 = 0.0
    var j = 0
    while (j < model.m) {
      var d = 0.0
      var n = 0.0
      var i = 0
      while (i < model.dsub) {
        val idx = j * model.dsub + i
        d += q(idx).toDouble * recon(idx).toDouble
        n += recon(idx).toDouble * recon(idx).toDouble
        i += 1
      }
      dot += d
      rnorm2 += n
      j += 1
    }
    var qnorm2 = 0.0
    var i = 0
    while (i < q.length) { qnorm2 += q(i).toDouble * q(i).toDouble; i += 1 }
    if (qnorm2 == 0.0 || rnorm2 == 0.0) 0.0 else dot / math.sqrt(qnorm2 * rnorm2)
  }

  test("pq codes: m bytes per vector, invariant under repartitioning") {
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.train(emb)
    assert(model.m == 8 && model.ksub == 64 && model.dsub == 8)
    val coded = Pq.encode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(coded.values.forall(_.length == 8), "one byte per subspace")
    val again = Pq.encode(emb.repartition(7), model).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(coded.keySet == again.keySet)
    coded.foreach { case (id, c) =>
      assert(java.util.Arrays.equals(c, again(id)), s"vec $id codes changed with partitioning")
    }
  }

  test("pq training is deterministic across reruns and input partitionings") {
    val emb = Tables.embeddings(spark, sf)
    val a = Pq.train(emb)
    val b = Pq.train(emb.repartition(11))
    assert(java.util.Arrays.equals(a.codebook, b.codebook),
      "codebook must be a pure function of the data, not its layout")
  }

  test("encode snaps each subspace to its true nearest centroid (driver argmin oracle)") {
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.train(emb)
    val vecs = emb.orderBy("vec_id").limit(32).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val coded = Pq.encode(emb.filter(col("vec_id") < 32), model).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    vecs.foreach { case (id, v) =>
      val codes = coded(id)
      for (j <- 0 until model.m) {
        val dists = (0 until model.ksub).map { c =>
          val base = (j * model.ksub + c) * model.dsub
          (0 until model.dsub).map { i =>
            val diff = v(j * model.dsub + i).toDouble - model.codebook(base + i).toDouble
            diff * diff
          }.sum
        }
        val best = dists.zipWithIndex.minBy { case (d, c) => (d, c) }._2
        assert((codes(j) & 0xFF) == best,
          s"vec $id subspace $j: kernel chose ${codes(j) & 0xFF}, argmin is $best")
      }
    }
  }

  test("ADC sim IS the reconstruction's cosine — exact vs the driver reference") {
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.train(emb)
    val queries = emb.filter(col("vec_id") < 4)
    val qvecs = queries.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = Pq.encode(emb.filter(col("vec_id") < 64), model).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val scored = Pq.encode(emb.filter(col("vec_id") < 64), model).alias("c")
      .join(
        broadcast(queries.select(col("vec_id").as("query_id"),
          gfunctions.pq_lut(col("embedding"), model.codebook, model.m, model.ksub).as("qlut"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        gfunctions.pq_adc_sim(col("c.codes_pq"), col("qlut"), model.codebook, model.m, model.ksub)
          .as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scored.size == 4 * 63)
    scored.foreach { case ((q, n), sim) =>
      val want = subspaceCosine(model, qvecs(q), reconstruct(model, codes(n)))
      assert(sim == want, s"pair ($q,$n): ADC $sim != reference $want")
    }
  }

  test("asym kernel is bit-equal to the LUT ADC path over every scored pair") {
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.train(emb)
    val queries = emb.filter(col("vec_id") < 8)
    val coded = Pq.encode(emb, model)
    val viaLut = coded.alias("c")
      .join(
        broadcast(queries.select(col("vec_id").as("query_id"),
          gfunctions.pq_lut(col("embedding"), model.codebook, model.m, model.ksub).as("qlut"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        gfunctions.pq_adc_sim(col("c.codes_pq"), col("qlut"), model.codebook, model.m, model.ksub)
          .as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaAsym = coded.alias("c")
      .join(
        broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))),
        col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        gfunctions.pq_asym_sim(col("c.codes_pq"), col("qvec"), model.codebook, model.m, model.ksub)
          .as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaLut.size == viaAsym.size && viaLut.nonEmpty)
    viaLut.foreach { case (k, s) =>
      assert(viaAsym(k) == s, s"pair $k: asym ${viaAsym(k)} != LUT path $s")
    }
  }

  test("PQ recall@10 vs brute force on real embeddings; rerank restores it") {
    val brute = topSets(Similarity.qBrute.run(spark, sf))
    val pq = topSets(Similarity.qPq.run(spark, sf))
    val rerank = topSets(Similarity.qPqRerank.run(spark, sf))
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val rPq = recallOf(pq)
    val rRerank = recallOf(rerank)
    info(f"PQ (8 B/vec) recall@10 = $rPq%.3f, +rerank = $rRerank%.3f over ${brute.size} queries")
    // 8 bytes/vector is 32x compression — coarse recall is allowed to dip
    // (measured 0.475 at m=8/ksub=64 on these unstructured gaussians, the
    // hardest shape for PQ); the two-phase contract is that the 20x
    // rerank recovers it (measured 1.000).
    assert(rPq >= 0.35, f"coarse PQ recall collapsed: $rPq%.3f")
    assert(rRerank >= 0.95, f"rerank failed to recover recall: $rRerank%.3f")
    assert(rRerank >= rPq, "rerank can only improve on the coarse ranking")
  }

  test("IVF-PQ at full probe equals pure PQ row for row (list pruning loses nothing it shouldn't)") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val model = Pq.train(emb)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val full = rows(operators.Ivf.topK(emb, queries, centroids, k = 10, nprobe = 8,
      codec = operators.Ivf.Codec.Pq(model)))
    val pure = rows(Pq.topKPq(emb, queries, model, k = 10))
    assert(full == pure,
      "at nprobe = k-clusters the candidate set is the corpus — ranked rows must match exactly")
  }

  test("persisted IVF-PQ index: self-describing round-trip, full-probe parity, static pruning") {
    val dir = "/tmp/graft-test/pq_index"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val model = Pq.train(emb)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(emb, centroids, dir, codec = operators.Ivf.Codec.Pq(model))

    // both models survive the directory round-trip bit-for-bit
    val back = pqModelOf(dir)
    assert(back.m == model.m && back.ksub == model.ksub)
    assert(java.util.Arrays.equals(back.codebook, model.codebook))

    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val served = operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)
    assert(rows(served) == rows(Pq.topKPq(emb, queries, model, k = 10)),
      "full-probe serve from disk must equal the in-memory PQ ranking row for row")

    // the scale property: a pruned serve scans only probed partitions
    val pruned = operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"expected a cluster partition filter in the PQ index scan:\n$plan")
    info(plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("").trim.take(120))
  }

  test("persisted IVF-PQ rerank serving recovers recall from 8-byte lists on disk") {
    val dir = "/tmp/graft-test/pq_index_rerank"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val model = Pq.train(emb)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(emb, centroids, dir, codec = operators.Ivf.Codec.Pq(model))
    val brute = topSets(Similarity.qBrute.run(spark, sf))
    val served = topSets(
      operators.Ivf.searchIndexRerank(spark, dir, queries, emb, nprobe = 8))
    val rs = brute.map { case (q, t) =>
      served.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val recall = rs.sum / rs.size
    info(f"IVF-PQ rerank served-from-disk recall@10 = $recall%.3f")
    assert(recall >= 0.95, f"served PQ rerank recall collapsed: $recall%.3f")
  }

  test("filtered PQ serving: predicate pushed into the pruned m-byte list scan, post-filter top-k") {
    val emb = Tables.embeddings(spark, sf)
      .withColumn("label", (col("vec_id") % 3).cast("int"))
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // one table over every PQ-family layout, each served through the one
    // searchIndex(..., predicate)
    val pqModel = Pq.train(emb)
    val layouts = Seq[(String, operators.Ivf.Persisted)](
      "pq" -> operators.Ivf.Codec.Pq(pqModel),
      "pq_resid" -> operators.Ivf.Codec.PqResid(operators.Ivf.trainResidualPq(emb, centroids)),
      "opq" -> operators.Ivf.Codec.Opq(operators.Opq.train(emb)))
    val servedRows = layouts.map { case (name, codec) =>
      val dir = s"/tmp/graft-test/pq_index_filtered_$name"
      operators.Ivf.writeIndex(emb, centroids, dir, Seq("label"), codec)
      // full probe: the filtered serve must equal the in-memory ranking
      // of the same codec over the pre-filtered corpus, row for row
      val served = operators.Ivf.searchIndex(
        spark, dir, queries, nprobe = 8, predicate = Some(col("label") === 1))
      val expect = operators.Ivf.topK(
        emb.filter(col("label") === 1), queries, centroids, nprobe = 8, codec = codec)
      val got = rows(served)
      assert(got == rows(expect),
        s"$name: filtered serving must rank exactly like the in-memory codec over the filtered corpus")
      // post-filter contract: every returned neighbor satisfies the predicate
      served.collect().foreach { r =>
        assert(r.getLong(r.fieldIndex("neighbor_id")) % 3 == 1,
          s"$name: neighbor ${r.getLong(r.fieldIndex("neighbor_id"))} violates the filter")
      }
      // the scale property: the predicate reached the pruned parquet scan
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cluster") && plan.contains("PushedFilters") &&
        plan.contains("EqualTo(label,1)"),
        s"$name: expected the label predicate pushed to the pruned list scan:\n$plan")
      name -> got
    }.toMap
    // the PQ layout also matches the list-free in-memory ADC ranking
    assert(servedRows("pq") == rows(Pq.topKPq(emb.filter(col("label") === 1), queries, pqModel)),
      "filtered PQ serving must rank exactly like in-memory ADC over the filtered corpus")
  }

  test("index ingest is self-describing on code form: appends to a PQ index land PQ codes, exactly once") {
    val dir = "/tmp/graft-test/pq_index_ingest"
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    val model = Pq.train(emb)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(base, centroids, dir, codec = operators.Ivf.Codec.Pq(model))

    operators.Ivf.appendIndexBatch(delta, dir, 0L)
    operators.Ivf.appendIndexBatch(delta, dir, 0L) // committed replay: no-op
    val lists = operators.Ivf.readIndex(spark, dir)
    assert(lists.columns.toSet == Set("vec_id", "codes_pq", "cluster"),
      s"appends must encode to the index's own code form, got ${lists.columns.mkString(",")}")
    assert(lists.count() == 500 &&
      lists.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "each appended vector lands exactly once")

    val queries = emb.filter(col("vec_id") < 8)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(
      rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) ==
        rows(Pq.topKPqCoded(Pq.encode(emb, model), queries, model, k = 10)),
      "the appended-to PQ index must serve exactly like the in-memory ranking over the union")
  }

  test("residual sim is exact: kernel == driver table-order reference, ~= naive reconstruction cosine") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val model = operators.Ivf.trainResidualPq(emb, centroids)
    val flat = centroids.flatten
    val m = model.m; val ksub = model.ksub; val dsub = model.dsub; val dims = model.dims
    val k = centroids.length

    // driver tables in the kernel's exact layout
    val cross = functions.PqResidKernels.crossTable(flat, model.codebook, m, ksub, dsub)
    val residNorms = functions.PqKernels.centroidNorms(model.codebook, m, ksub, dsub)
    val cnorm2 = functions.PqResidKernels.centroidNorms2(flat, dims)

    val vecs = emb.filter(col("vec_id") < 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def assign(v: Array[Float]): Int = {
      // engine rule re-derived: cosine argmax, lower id on ties
      (0 until k).map { c =>
        var dot = 0.0; var nv = 0.0; var nc = 0.0
        for (i <- 0 until dims) {
          dot += v(i).toDouble * centroids(c)(i); nv += v(i).toDouble * v(i)
          nc += centroids(c)(i).toDouble * centroids(c)(i)
        }
        (if (nv == 0 || nc == 0) 0.0 else dot / math.sqrt(nv * nc), c)
      }.maxBy { case (s, c) => (s, -c) }._2
    }

    val got = operators.Ivf.topK(
      emb.filter(col("vec_id") < 64), emb.filter(col("vec_id") < 4), centroids,
      k = 60, nprobe = 8, codec = operators.Ivf.Codec.PqResid(model)).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(got.size == 4 * 60, s"top-60 at full probe over 64 vectors: ${got.size}")

    got.foreach { case ((q, n), sim) =>
      val qv = vecs(q); val nv = vecs(n)
      val cl = assign(nv)
      val codes = functions.PqResidKernels.encode(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(nv), cl, flat,
        model.codebook, m, ksub, dsub)
      // reference 1: the kernel's own table summation order
      var dot = 0.0
      for (i <- 0 until dims) dot += qv(i).toDouble * centroids(cl)(i).toDouble
      var rnorm2 = cnorm2(cl)
      for (j <- 0 until m) {
        val e = j * ksub + (codes(j) & 0xFF)
        var d = 0.0
        for (i <- 0 until dsub) d += qv(j * dsub + i).toDouble * model.codebook(e * dsub + i).toDouble
        dot += d
        rnorm2 += 2.0 * cross(cl * m * ksub + e) + residNorms(e)
      }
      var qnorm2 = 0.0
      for (i <- 0 until dims) qnorm2 += qv(i).toDouble * qv(i).toDouble
      val want = if (qnorm2 == 0 || rnorm2 <= 0) 0.0 else dot / math.sqrt(qnorm2 * rnorm2)
      assert(sim == want, s"pair ($q,$n): kernel $sim != table reference $want")
      // reference 2: naive cosine over the materialized reconstruction
      val recon = Array.tabulate(dims) { i =>
        val j = i / dsub
        val e = j * ksub + (codes(j) & 0xFF)
        centroids(cl)(i) + model.codebook(e * dsub + (i % dsub))
      }
      var nDot = 0.0; var nQ = 0.0; var nR = 0.0
      for (i <- 0 until dims) {
        nDot += qv(i).toDouble * recon(i); nQ += qv(i).toDouble * qv(i)
        nR += recon(i).toDouble * recon(i)
      }
      val naive = if (nQ == 0 || nR == 0) 0.0 else nDot / math.sqrt(nQ * nR)
      // the materialized recon rounds centroid+residual to FLOAT per
      // component; the kernel's tables keep that sum in doubles — so
      // this is a representation check, not a bit-equality one
      assert(math.abs(sim - naive) < 1e-6,
        s"pair ($q,$n): kernel $sim vs naive reconstruction cosine $naive")
    }
  }

  test("residual PQ at the same byte budget: recall vs raw PQ on the gate set") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val raw = Pq.train(emb)
    val resid = operators.Ivf.trainResidualPq(emb, centroids)
    val brute = topSets(Similarity.qBrute.run(spark, sf))
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    def ivf(codec: operators.Ivf.Codec) =
      topSets(operators.Ivf.topK(emb, queries, centroids, nprobe = 8, codec = codec))
    val rRaw = recallOf(ivf(operators.Ivf.Codec.Pq(raw)))
    val rResid = recallOf(ivf(operators.Ivf.Codec.PqResid(resid)))
    info(f"full-probe recall@10 at 8 B/vec: raw PQ $rRaw%.3f, residual PQ $rResid%.3f")
    assert(rResid >= rRaw - 0.05,
      f"residual refinement must not lose recall at the same byte budget: $rResid%.3f vs $rRaw%.3f")
    assert(rResid >= 0.35, f"residual PQ recall collapsed: $rResid%.3f")
  }

  test("persisted residual index: round-trip, full-probe parity, pruning, residual appends, compaction") {
    val dir = "/tmp/graft-test/pq_resid_index"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val model = operators.Ivf.trainResidualPq(emb, centroids)
    val base = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    operators.Ivf.writeIndex(base, centroids, dir, codec = operators.Ivf.Codec.PqResid(model))

    // the residual codebook versions under its own subdir and round-trips bit-for-bit
    val back = residModelOf(dir)
    assert(back.m == model.m && back.ksub == model.ksub)
    assert(java.util.Arrays.equals(back.codebook, model.codebook))

    // self-describing append: the delta encodes RESIDUALLY (the _pq_resid
    // subdir is the dispatch bit), exactly once under replay
    operators.Ivf.appendIndexBatch(delta, dir, 0L)
    operators.Ivf.appendIndexBatch(delta, dir, 0L) // committed replay: no-op
    val lists = operators.Ivf.readIndex(spark, dir)
    assert(lists.columns.toSet == Set("vec_id", "codes_pqr", "cluster"),
      s"appends must encode to the index's own (residual) code form, got ${lists.columns.mkString(",")}")
    assert(lists.count() == 500 &&
      lists.groupBy("vec_id").count().filter(col("count") > 1).count() == 0,
      "each appended vector lands exactly once")

    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val inMem = rows(operators.Ivf.topK(emb, queries, centroids, k = 10, nprobe = 8,
      codec = operators.Ivf.Codec.PqResid(model)))
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == inMem,
      "full-probe residual serve from disk must equal the in-memory residual ranking row for row")

    // the scale property: a pruned serve scans only probed partitions
    val pruned = operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"expected a cluster partition filter in the residual index scan:\n$plan")

    // compaction folds the appended files and carries _pq_resid through
    operators.Ivf.compactIndex(spark, dir)
    assert(java.util.Arrays.equals(residModelOf(dir).codebook, model.codebook),
      "the residual codebook must survive compaction")
    assert(rows(operators.Ivf.searchIndex(spark, dir, queries, k = 10, nprobe = 8)) == inMem,
      "compaction is layout-only: the residual serve must be unchanged")
  }

  test("persisted residual rerank serving recovers recall from 8-byte residual lists on disk") {
    val dir = "/tmp/graft-test/pq_resid_index_rerank"
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    val model = operators.Ivf.trainResidualPq(emb, centroids)
    operators.Ivf.writeIndex(emb, centroids, dir, codec = operators.Ivf.Codec.PqResid(model))
    val brute = topSets(Similarity.qBrute.run(spark, sf))
    val served = topSets(
      operators.Ivf.searchIndexRerank(spark, dir, queries, emb, nprobe = 8))
    val rs = brute.map { case (q, t) =>
      served.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val recall = rs.sum / rs.size
    info(f"residual IVF-PQ rerank served-from-disk recall@10 = $recall%.3f")
    assert(recall >= 0.95, f"served residual rerank recall collapsed: $recall%.3f")
  }

  test("planted near-duplicate survives 8-byte codes as top-1 after rerank") {
    import spark.implicits._
    val rnd = new Random(41)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val near = base.map(x => x + 0.001f)
    val emb = (Seq((0L, base, 0), (500L, near, 0)) ++
      (1L until 400L).map(i => (i, vec(), 1))).toDF("vec_id", "embedding", "label")
    val model = Pq.train(emb)
    val top = Pq.pqRerankTopK(emb, emb.filter($"vec_id" === 0L), model, k = 1).collect()
    assert(top.length == 1)
    assert(top.head.getLong(top.head.fieldIndex("neighbor_id")) == 500L,
      "near-identical vector must survive the coarse phase and win the rerank")
  }
}
