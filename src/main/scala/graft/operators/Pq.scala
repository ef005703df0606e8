package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gfunctions.{cosine_sim, pq_codes}

/** Product quantization — the ANN storage step after int8. Int8 keeps
  * 1 byte per dimension; PQ keeps 1 byte per SUBSPACE: the vector splits
  * into m contiguous dsub-dim slices, each snapped to its nearest of
  * ksub trained centroids, so a vector is m codebook indices (m bytes at
  * ksub <= 256). At 64 dims / m=8 that is 8 B per vector — 8x below the
  * int8 codes, 32x below float32 — the compression that decides whether
  * a 100 TB corpus's ANN index is a cluster-memory object or a disk one.
  *
  * Scale shapes:
  *  - TRAINING is model fitting = orchestration: m independent k-means
  *    of ksub centroids each over dsub-dim slices. The sample is the
  *    bounded deterministic hash sample ([[Ivf.trainingSample]] — same
  *    q39/q47 discipline), collected once to the driver (~sampleFactor
  *    * ksub vectors, bounded by the MODEL size, not the corpus), and
  *    Lloyd runs locally in deterministic vec_id order. The corpus-sized
  *    pass is ENCODING, which runs once, distributed, codegen'd.
  *  - SCORING is ADC: the query stays full-precision; a per-query lookup
  *    table of m*ksub subspace dots rides the broadcast query side and
  *    each candidate costs m lookups + adds — scoring no longer scales
  *    with dims. Cosine decomposes exactly over the reconstruction
  *    (see [[graft.functions.PqKernels]]), so ADC sim IS cosine(query,
  *    reconstructed vector), not an approximation of the formula.
  *  - PQ ranks by the RECONSTRUCTION's cosine, so recall decays where
  *    neighbors sit closer than the quantization cells — the same decay
  *    int8 showed on dense corpora (ScaleProbe16), amplified by the
  *    coarser cells. [[pqRerankTopK]] is the standard fix: coarse PQ
  *    keeps k*oversample candidates (touching only m-byte codes), exact
  *    float rerank touches k*oversample corpus rows per query via a
  *    broadcast candidate-id join — never a float-corpus scan. Measured
  *    on the 500x64-dim gate embeddings (recall@10 vs exact brute force,
  *    8 queries): m=8/ksub=32 coarse 0.375; m=8/ksub=64 coarse 0.475,
  *    rerank@10x 0.950, rerank@20x 1.000; m=16/ksub=64 (16 B) coarse
  *    0.612, rerank@10x 1.000. The defaults (m=8, ksub=64,
  *    oversample=20) take the deepest compression and buy recall back in
  *    the rerank — oversample is 2x the int8 default because the cells
  *    are coarser. On the WORST case — ScaleProbe20's 200k dense
  *    synthetic manifold, true top-10 gaps far inside the cell radius —
  *    coarse m=8/ksub=256 recall@10 is 0.125 and the rerank needs real
  *    oversample: 0.259@20x, 0.981@100x, 1.000@500x (m=16 barely moves
  *    the coarse number, 0.144). The operating rule: PQ is a CANDIDATE
  *    GENERATOR; on dense corpora size oversample in the hundreds, or
  *    prefer the int8 index (0.62 coarse there, ScaleProbe16) when 8x
  *    more index memory is affordable.
  */
object Pq {

  /** Trained PQ model: flattened codebook (entry [(j*ksub+c)*dsub + i])
    * plus its shape. `dims = m * dsub`.
    */
  final case class Model(codebook: Array[Float], m: Int, ksub: Int) {
    def dsub: Int = codebook.length / (m * ksub)
    def dims: Int = m * dsub
  }

  /** Per-subspace Lloyd on the driver over a bounded deterministic
    * sample. Seeds = the ksub lowest-vec_id sample vectors' slices;
    * iteration order is sorted vec_id and means accumulate in doubles,
    * so the codebook is identical across reruns, partitionings, and
    * cluster sizes. Empty cells keep their seed (the [[Ivf.train]]
    * convention). Requires sample size >= ksub.
    */
  def train(
      emb: DataFrame, m: Int = 8, ksub: Int = 64, dims: Int = 64,
      iters: Int = 10, sampleFactor: Long = 100L): Model = {
    val sample: Array[Array[Float]] = Ivf.trainingSample(emb, ksub, sampleFactor)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toArray)
    trainOnVectors(sample, m, ksub, dims, iters)
  }

  /** Driver-local training core over an in-memory sample (vec_id order
    * already fixed by the caller) — shared by [[train]] and the
    * residual-vector training in [[Ivf.trainResidualPq]].
    */
  private[graft] def trainOnVectors(
      sample: Array[Array[Float]], m: Int, ksub: Int, dims: Int, iters: Int): Model = {
    require(dims % m == 0, s"pq train: dims=$dims not divisible by m=$m")
    require(ksub <= 256, s"pq train: ksub=$ksub exceeds one byte")
    val dsub = dims / m
    require(sample.length >= ksub,
      s"pq train: sample of ${sample.length} vectors < ksub=$ksub")
    val codebook = new Array[Float](m * ksub * dsub)
    var j = 0
    while (j < m) {
      val cents: Array[Array[Double]] =
        Array.tabulate(ksub)(c => Array.tabulate(dsub)(i => sample(c)(j * dsub + i).toDouble))
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        var s = 0
        while (s < sample.length) {
          val v = sample(s)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val diff = v(j * dsub + i).toDouble - cents(c)(i)
              d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(j * dsub + i).toDouble; i += 1 }
          counts(best) += 1
          s += 1
        }
        var c = 0
        while (c < ksub) {
          if (counts(c) > 0) {
            var i = 0
            while (i < dsub) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
          } // empty cell keeps its seed
          c += 1
        }
      }
      var c = 0
      while (c < ksub) {
        var i = 0
        while (i < dsub) {
          codebook((j * ksub + c) * dsub + i) = cents(c)(i).toFloat
          i += 1
        }
        c += 1
      }
      j += 1
    }
    Model(codebook, m, ksub)
  }

  /** Encode a corpus to (vec_id, codes_pq): m bytes per vector. */
  def encode(emb: DataFrame, model: Model): DataFrame =
    emb.select(
      col("vec_id"),
      pq_codes(col("embedding"), model.codebook, model.m, model.ksub).as("codes_pq"))

  /** ADC top-k over PQ codes: the corpus scan touches m-byte codes
    * only; the broadcast query side carries the per-query LUT. Measured
    * over STORED codes (ScaleProbe20, 200k x 32, ksub=256): LUT-ADC
    * 0.45 s vs the asym kernel's 0.62 s vs int8's 0.72 s — whole-stage
    * codegen fuses the join projection, so the LUT lives in the
    * broadcast relation and is never copied per candidate row; the
    * textbook ADC shape wins in Spark too. (The LUT itself is m*ksub+1
    * doubles per query — 16 KiB at ksub=256 — so for a LARGE query set
    * the [[graft.gfunctions.pq_asym_sim]] form carries ~60x less
    * broadcast payload at a measured ~1.4x scoring cost; the two are
    * bit-equal, spec-pinned.)
    *
    * NOTE this in-memory path pays the ENCODE of the float corpus
    * inline (argmin over m*ksub centroids per vector — measured ~10x
    * the scoring cost); encode once and use [[topKPqCoded]], or better
    * the persisted [[Ivf.Codec.Pq]] lists of [[Ivf.writeIndex]], when the corpus is
    * reused across query batches.
    */
  def topKPq(
      corpus: DataFrame, queries: DataFrame, model: Model, k: Int = 10): DataFrame =
    topKPqCoded(encode(corpus, model), queries, model, k)

  /** [[topKPq]] over an already-encoded (vec_id, codes_pq) corpus —
    * the stored-codes serving shape.
    */
  def topKPqCoded(
      coded: DataFrame, queries: DataFrame, model: Model, k: Int = 10): DataFrame = {
    import graft.gfunctions.{pq_adc_sim, pq_lut}
    val probes = queries.select(
      col("vec_id").as("query_id"),
      pq_lut(col("embedding"), model.codebook, model.m, model.ksub).as("qlut"))
    val scored = coded.alias("c")
      .join(broadcast(probes.alias("q")), col("query_id") =!= col("c.vec_id"))
      .select(
        col("query_id"), col("c.vec_id").as("neighbor_id"),
        pq_adc_sim(col("c.codes_pq"), col("qlut"), model.codebook, model.m, model.ksub)
          .as("sim"))
    Similarity.rankTopK(scored, k)
  }

  /** Two-phase PQ search: coarse ADC keeps k*oversample candidates per
    * query (the scan touches m-byte codes), exact float rerank re-scores
    * only those candidates via a broadcast candidate-id equi-join
    * against the float corpus — the [[Similarity.int8RerankTopK]]
    * second phase over the deeper compression.
    */
  def pqRerankTopK(
      corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int = 10, oversample: Int = 20): DataFrame =
    Similarity.exactRerank(topKPq(corpus, queries, model, k * oversample), queries, corpus, k)
}
