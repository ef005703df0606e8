package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

import graft.functions.{BloomAgg, BloomContains, HeavyHitters, CosineSim, HashedProjection, HyperplaneBands, Int8Codes, Int8Cosine, JaccardSim, KgramMd5Hashes, MatVecF, MinhashMd5Sig, MinhashSig, NearestCentroid, PqAdcSim, PqAsymSim, PqCodes, PqLut, PqResidCodes, PqResidLut, PqResidSim, ShingleHashes, ShingleMd5Hashes, ShingleXor64, SimHash64, SimHashMd5, TopKByScore, WsTokens, ZValue2}

/** Engine extension point, installed via spark.sql.extensions (GraftSession
  * sets it). Registers every native expression of
  * [[GraftExtensions.kernels]] as a SQL function, so both
  * `spark.sql("SELECT cosine_sim(a,b)")` and the typed Column helpers work.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.kernels.foreach { k =>
      ext.injectFunction(
        (FunctionIdentifier(k.name), new ExpressionInfo(k.cls.getName, k.name), k.guarded _))
    }
}

object GraftExtensions {

  /** One argument of a kernel's SQL call. A column argument passes
    * through as an expression, whose own checkInputDataTypes judges it;
    * a literal argument (`literal` = its type) is evaluated at resolution
    * time into a constructor parameter.
    */
  private[graft] final case class Param(name: String, literal: Option[DataType] = None)

  /** The children of one guarded call; the typed accessors evaluate a
    * literal argument (the guard has checked it folds to a non-NULL value
    * of that type).
    */
  private[graft] final class Args(children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)
    def int(i: Int): Int = children(i).eval().asInstanceOf[Int]
    def floats(i: Int): Array[Float] = children(i).eval().asInstanceOf[ArrayData].toFloatArray()
    def longs(i: Int): Array[Long] = children(i).eval().asInstanceOf[ArrayData].toLongArray()
  }

  /** One SQL function: its name, expression class, parameters (the
    * arity is their count) and the builder over guarded arguments.
    */
  private[graft] final case class Kernel(
      name: String,
      cls: Class[_ <: Expression],
      params: Seq[Param],
      build: Args => Expression) {
    def arity: Int = params.length

    /** The function builder Spark calls. It runs at resolution time,
      * before any checkInputDataTypes could, so a bad call raises a
      * readable analysis error here instead of IndexOutOfBounds,
      * ClassCast or an unevaluable-expression failure: wrong arity, then
      * per literal parameter a non-foldable argument, then a foldable one
      * of the wrong type or a NULL literal (which would NPE-unbox).
      */
    def guarded(children: Seq[Expression]): Expression = {
      if (children.length != arity)
        throw error("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          "functionName" -> s"`$name`",
          "expectedNum" -> arity.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest")
      params.zip(children).zipWithIndex.foreach {
        case ((Param(p, Some(t)), e), i) =>
          if (!e.foldable)
            throw error("NON_FOLDABLE_ARGUMENT",
              "funcName" -> s"`$name`",
              "paramName" -> s"`$p`",
              "paramType" -> s"\"${t.sql}\"")
          if (!sameType(e.dataType, t) || e.eval() == null)
            throw error("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
              "sqlExpr" -> s"\"$name\"",
              "paramIndex" -> Ordinals(i),
              "requiredType" -> s"\"${t.sql}\" (non-NULL literal)",
              "inputSql" -> s"\"${e.sql}\"",
              "inputType" -> s"\"${e.dataType.sql}\"")
        case _ =>
      }
      build(new Args(children))
    }
  }

  private val Ordinals =
    IndexedSeq("first", "second", "third", "fourth", "fifth", "sixth", "seventh")

  /** Literal arrays match on element type; their nullability is free. */
  private def sameType(got: DataType, want: DataType): Boolean = (got, want) match {
    case (ArrayType(g, _), ArrayType(w, _)) => g == w
    case _ => got == want
  }

  private def error(cls: String, params: (String, String)*): AnalysisException =
    new AnalysisException(cls, params.toMap, Option.empty[Throwable])

  private def col(name: String) = Param(name)
  private def int(name: String) = Param(name, Some(IntegerType))
  private def floats(name: String) = Param(name, Some(ArrayType(FloatType)))
  private def longs(name: String) = Param(name, Some(ArrayType(LongType)))

  /** Every native SQL function of the engine. */
  private[graft] val kernels: Seq[Kernel] = Seq(
    Kernel("cosine_sim", classOf[CosineSim], Seq(col("left"), col("right")),
      a => CosineSim(a(0), a(1))),
    Kernel("top_k_by_score", classOf[TopKByScore], Seq(col("id"), col("score"), col("k")),
      a => TopKByScore(a(0), a(1), a(2))),
    Kernel("minhash_sig", classOf[MinhashSig], Seq(col("tokens"), col("k")),
      a => MinhashSig(a(0), a(1))),
    Kernel("ws_tokens", classOf[WsTokens], Seq(col("text")), a => WsTokens(a(0))),
    Kernel("simhash64", classOf[SimHash64], Seq(col("tokens")), a => SimHash64(a(0))),
    Kernel("hashed_projection", classOf[HashedProjection], Seq(col("tokens"), int("dims")),
      a => HashedProjection(a(0), a.int(1))),
    Kernel("shingle_hashes", classOf[ShingleHashes], Seq(col("tokens")), a => ShingleHashes(a(0))),
    Kernel("jaccard_sim", classOf[JaccardSim], Seq(col("left"), col("right")),
      a => JaccardSim(a(0), a(1))),
    Kernel("shingle_xor64", classOf[ShingleXor64], Seq(col("tokens")), a => ShingleXor64(a(0))),
    Kernel("minhash_md5_sig", classOf[MinhashMd5Sig], Seq(col("tokens"), col("k")),
      a => MinhashMd5Sig(a(0), a(1))),
    Kernel("shingle_md5_hashes", classOf[ShingleMd5Hashes], Seq(col("tokens")),
      a => ShingleMd5Hashes(a(0))),
    Kernel("kgram_md5_hashes", classOf[KgramMd5Hashes], Seq(col("tokens"), col("k")),
      a => KgramMd5Hashes(a(0), a(1))),
    Kernel("simhash_md5", classOf[SimHashMd5], Seq(col("tokens")), a => SimHashMd5(a(0))),
    Kernel("bloom_agg", classOf[BloomAgg], Seq(col("key"), col("numBits"), col("numHashes")),
      a => BloomAgg(a(0), a(1), a(2))),
    Kernel("bloom_contains", classOf[BloomContains],
      Seq(col("bloom"), col("key"), col("numHashes")),
      a => BloomContains(a(0), a(1), a(2))),
    Kernel("heavy_hitters", classOf[HeavyHitters], Seq(col("item"), col("k")),
      a => HeavyHitters(a(0), a(1))),
    Kernel("int8_codes", classOf[Int8Codes], Seq(col("vec")), a => Int8Codes(a(0))),
    Kernel("int8_cosine", classOf[Int8Cosine], Seq(col("left"), col("right")),
      a => Int8Cosine(a(0), a(1))),
    Kernel("nearest_centroid", classOf[NearestCentroid],
      Seq(col("vec"), floats("centroids"), int("k"), int("dims")),
      a => NearestCentroid(a(0), a.floats(1), a.int(2), a.int(3))),
    Kernel("pq_codes", classOf[PqCodes],
      Seq(col("vec"), floats("codebook"), int("m"), int("ksub")),
      a => PqCodes(a(0), a.floats(1), a.int(2), a.int(3))),
    Kernel("pq_lut", classOf[PqLut],
      Seq(col("qvec"), floats("codebook"), int("m"), int("ksub")),
      a => PqLut(a(0), a.floats(1), a.int(2), a.int(3))),
    Kernel("pq_adc_sim", classOf[PqAdcSim],
      Seq(col("codes"), col("lut"), floats("codebook"), int("m"), int("ksub")),
      a => PqAdcSim(a(0), a(1), a.floats(2), a.int(3), a.int(4))),
    Kernel("pq_resid_codes", classOf[PqResidCodes],
      Seq(col("vec"), col("cluster"), floats("centroids"), floats("codebook"), int("m"), int("ksub")),
      a => PqResidCodes(a(0), a(1), a.floats(2), a.floats(3), a.int(4), a.int(5))),
    Kernel("pq_resid_lut", classOf[PqResidLut],
      Seq(col("qvec"), floats("centroids"), floats("codebook"), int("m"), int("ksub")),
      a => PqResidLut(a(0), a.floats(1), a.floats(2), a.int(3), a.int(4))),
    Kernel("pq_resid_sim", classOf[PqResidSim],
      Seq(col("codes"), col("lut"), col("cluster"), floats("centroids"), floats("codebook"),
        int("m"), int("ksub")),
      a => PqResidSim(a(0), a(1), a(2), a.floats(3), a.floats(4), a.int(5), a.int(6))),
    Kernel("pq_asym_sim", classOf[PqAsymSim],
      Seq(col("codes"), col("qvec"), floats("codebook"), int("m"), int("ksub")),
      a => PqAsymSim(a(0), a(1), a.floats(2), a.int(3), a.int(4))),
    Kernel("mat_vec", classOf[MatVecF], Seq(col("vec"), floats("mat"), int("d")),
      a => MatVecF(a(0), a.floats(1), a.int(2))),
    Kernel("z_value2", classOf[ZValue2], Seq(col("k0"), col("k1"), longs("bounds"), int("stride")),
      a => ZValue2(a(0), a(1), a.longs(2), a.int(3))),
    Kernel("hyperplane_bands", classOf[HyperplaneBands],
      Seq(col("vec"), int("planes"), int("bands"), int("dims")),
      a => HyperplaneBands(a(0), a.int(1), a.int(2), a.int(3))),
  )
}

/** Typed Column-API surface for the engine's native functions. */
object gfunctions {
  /** cosine similarity of two array<float> columns (native codegen'd kernel). */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** bounded top-k (id, score) pairs per group, highest score first —
    * O(k) memory per group per partition, no per-group sort.
    */
  def top_k_by_score(id: Column, score: Column, k: Int): Column =
    call_function("top_k_by_score", id, score, org.apache.spark.sql.functions.lit(k))

  /** k-minima minhash signature of a token array's 3-shingles (native
    * codegen'd kernel); NULL for docs with < 3 tokens.
    */
  def minhash_sig(toks: Column, k: Int): Column =
    call_function("minhash_sig", toks, org.apache.spark.sql.functions.lit(k))

  /** Non-empty whitespace tokens of a string (native one-pass kernel) —
    * byte-identical to filter(split(text, "\\s+"), x -> x != "").
    */
  def ws_tokens(text: Column): Column = call_function("ws_tokens", text)

  /** 64-bit SimHash of a token array (native per-row kernel, zero
    * shuffle); NULL for zero-token inputs.
    */
  def simhash64(toks: Column): Column = call_function("simhash64", toks)

  /** Unit-norm feature-hashing projection of a token array into `dims`
    * float components (native per-row kernel, zero shuffle) — the
    * deterministic text-derived embedding; NULL for zero-token inputs.
    */
  def hashed_projection(toks: Column, dims: Int): Column =
    call_function("hashed_projection", toks, org.apache.spark.sql.functions.lit(dims))

  /** Sorted distinct XXH64 values of a token array's 3-shingles (native
    * kernel) — the set representation jaccard_sim merges.
    */
  def shingle_hashes(toks: Column): Column = call_function("shingle_hashes", toks)

  /** Exact Jaccard of two sorted distinct array<bigint> sets by linear
    * merge; NULL when both are empty.
    */
  def jaccard_sim(a: Column, b: Column): Column = call_function("jaccard_sim", a, b)

  /** Order-independent XOR-fold fingerprint of a token array's 3-shingles
    * (native kernel); NULL for docs with < 3 tokens.
    */
  def shingle_xor64(toks: Column): Column = call_function("shingle_xor64", toks)

  /** md5-KM minhash signature (native kernel, value-identical to the
    * ANSI md5+conv formulation); NULL for docs with < 3 tokens.
    */
  def minhash_md5_sig(toks: Column, k: Int): Column =
    call_function("minhash_md5_sig", toks, org.apache.spark.sql.functions.lit(k))

  /** Sorted distinct md5-h1 shingle hashes (native kernel, same values
    * as conv(substr(md5(shingle),1,15),16,10)).
    */
  def shingle_md5_hashes(toks: Column): Column = call_function("shingle_md5_hashes", toks)

  /** Sorted distinct md5-h1 hashes of all k-token windows (native
    * kernel) — the passage-dedup window set; empty for docs with < k
    * tokens.
    */
  def kgram_md5_hashes(toks: Column, k: Int): Column =
    call_function("kgram_md5_hashes", toks, org.apache.spark.sql.functions.lit(k))

  /** 60-bit md5 simhash (native per-row kernel, value-identical to the
    * explode + bit-majority aggregate); NULL for zero-token docs.
    */
  def simhash_md5(toks: Column): Column = call_function("simhash_md5", toks)

  /** Bloom filter (binary, numBits/8 bytes) over a BIGINT key column —
    * partial-agg build, byte-OR merge; numBits must be a power of two.
    */
  def bloom_agg(key: Column, numBits: Long, numHashes: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("bloom_agg", key, lit(numBits), lit(numHashes))
  }

  /** Membership probe against a bloom_agg filter — false is definitive,
    * true may be a false positive (confirm survivors exactly).
    */
  def bloom_contains(bloom: Column, key: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("bloom_contains", bloom, key, lit(numHashes))
  }

  /** Misra-Gries frequent-items summary (<= k candidates, lower-bound
    * counts; every item with freq > n/(k+1) guaranteed present) — O(k)
    * state total per partition, any key domain size.
    */
  def heavy_hitters(item: Column, k: Int): Column =
    call_function("heavy_hitters", item, org.apache.spark.sql.functions.lit(k))

  /** Symmetric-int8 codes of a float vector PACKED as binary — exactly
    * dims bytes per vector (the 1-byte/dim storage form; scale = the
    * SQL-side amax/127, which cosine ranking never reads).
    */
  def int8_codes(vec: Column): Column = call_function("int8_codes", vec)

  /** Cosine similarity of two packed int8 code vectors (native integer
    * kernel) — bit-equal to cosine_sim over the float-cast codes.
    */
  def int8_cosine(a: Column, b: Column): Column = call_function("int8_cosine", a, b)

  /** Product-quantization codes of a float vector — m bytes per vector
    * (one codebook index per dsub-dim subspace; the storage step after
    * [[int8_codes]]'s 1 byte/dim). Codebook is flattened subspace-major.
    */
  def pq_codes(vec: Column, codebook: Array[Float], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_codes", vec, typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** Nearest-centroid id (argmax cosine, ties -> smallest id) against a
    * flat centroid-major k*dims matrix riding as a codegen reference
    * object -- O(1) generated-code size in k, unlike the literal
    * struct-array argmax (see [[graft.functions.NearestCentroid]]).
    */
  def nearest_centroid(vec: Column, centroids: Array[Float], k: Int, dims: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("nearest_centroid", vec, typedlit(centroids.toSeq), lit(k), lit(dims))
  }

  /** Per-query ADC lookup table (m*ksub subspace dots + ||q||^2) — built
    * once per query row; rides the broadcast query side.
    */
  def pq_lut(qvec: Column, codebook: Array[Float], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_lut", qvec, typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** ADC cosine of (pq codes, query LUT): m table lookups per candidate —
    * scoring cost scales with m, not dims.
    */
  def pq_adc_sim(codes: Column, lut: Column, codebook: Array[Float], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_adc_sim", codes, lut, typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** Residual-PQ codes of (vec, cluster): m bytes indexing the residual
    * codebook for vec - centroid[cluster] (the textbook IVFPQ encode).
    */
  def pq_resid_codes(
      vec: Column, cluster: Column, centroids: Array[Float], codebook: Array[Float],
      m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_resid_codes", vec, cluster,
      typedlit(centroids.toSeq), typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** Per-query residual-PQ LUT (residual dots, per-centroid dots,
    * ||q||^2) — rides the broadcast query side.
    */
  def pq_resid_lut(
      qvec: Column, centroids: Array[Float], codebook: Array[Float],
      m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_resid_lut", qvec,
      typedlit(centroids.toSeq), typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** Exact cosine over centroid + residual reconstruction from (codes,
    * LUT, cluster) — cluster-conditioned tables as plan-time constants.
    */
  def pq_resid_sim(
      codes: Column, lut: Column, cluster: Column,
      centroids: Array[Float], codebook: Array[Float], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_resid_sim", codes, lut, cluster,
      typedlit(centroids.toSeq), typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** Asymmetric PQ cosine of (codes, query float vector) — bit-equal to
    * pq_adc_sim over the pq_lut, without a LUT column riding every
    * joined row (the row-at-a-time join's preferred form).
    */
  def pq_asym_sim(codes: Column, qvec: Column, codebook: Array[Float], m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("pq_asym_sim", codes, qvec, typedlit(codebook.toSeq), lit(m), lit(ksub))
  }

  /** Rotation of a float vector by a plan-time row-major d x d matrix
    * — the OPQ projection ([[graft.operators.Opq]]).
    */
  def mat_vec(vec: Column, mat: Array[Float], d: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("mat_vec", vec, typedlit(mat.toSeq), lit(d))
  }

  /** Z-order sort value of two long keys against plan-time quantile
    * boundaries (flattened: key 0 at [0, stride), key 1 at [stride,
    * 2*stride)) — the multi-key clustering key for
    * [[graft.sources.Clustered.saveZOrder]].
    */
  def z_value2(k0: Column, k1: Column, bounds: Array[Long], stride: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedlit}
    call_function("z_value2", k0, k1, typedlit(bounds.toSeq), lit(stride))
  }

  /** Random-hyperplane LSH band values of a float vector — all plane
    * dots in one native pass, sign bits packed per band.
    */
  def hyperplane_bands(vec: Column, planes: Int, bands: Int, dims: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("hyperplane_bands", vec, lit(planes), lit(bands), lit(dims))
  }
}
