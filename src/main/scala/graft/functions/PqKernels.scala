package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product-quantization kernels — the compression step AFTER int8 in the
  * ANN storage ladder. Int8 ([[Int8Codes]]) stores 1 byte per DIMENSION
  * (64 B for a 64-dim vector); PQ stores 1 byte per SUBSPACE (m bytes per
  * vector, m=8 default → 8 B), because each byte indexes a trained
  * codebook centroid for a dsub-dim slice of the vector instead of
  * quantizing one scalar. At 100 TB that is the difference between an
  * index that fits the cluster page cache at 64 B/vector and one that
  * fits at 8 B/vector — 32x smaller than float32, 8x smaller than int8.
  *
  * The scoring side is ADC (asymmetric distance computation): the QUERY
  * stays full-precision; per query a lookup table of m*ksub subspace dot
  * products is built ONCE ([[PqLut]]), and each candidate scores with m
  * table lookups + adds ([[PqAdcSim]]) instead of dims multiplies.
  * Cosine decomposes exactly over the concatenated reconstruction:
  * dot(q, recon) = sum_j dot(q_j, C[j][code_j]) and ||recon||^2 =
  * sum_j ||C[j][code_j]||^2, so sim = sumDot / sqrt(||q||^2 * sumNorm)
  * needs only the LUT, the codes, and a centroid-norm table derived from
  * the codebook at plan time.
  *
  * The codebook rides into generated code as a reference object (the
  * [[HyperplaneBands]] pattern), never as per-row literals. All three
  * kernels fail loudly on a vector/codebook shape mismatch — silently
  * scoring a prefix produces plausible-but-wrong neighbors.
  */
object PqKernels {

  /** Subspace width of a (m, ksub) codebook; 0 for a non-positive shape,
    * so a zero m or ksub reaches the kernels' `checkInputDataTypes` as an
    * analysis error instead of dividing by zero in the constructor.
    */
  private[functions] def dsubOf(codebook: Array[Float], m: Int, ksub: Int): Int =
    if (m > 0 && ksub > 0) codebook.length / (m * ksub) else 0

  /** Encode one vector: per subspace, argmin squared-L2 over the ksub
    * centroids; ties break on the LOWER centroid id. One byte per
    * subspace (ksub <= 256; codes stored as the low 8 bits, read back
    * `& 0xFF`).
    */
  def encode(
      vec: ArrayData, codebook: Array[Float], m: Int, ksub: Int, dsub: Int): Array[Byte] = {
    val n = vec.numElements()
    if (n != m * dsub) {
      throw new IllegalArgumentException(
        s"pq_codes: vector has $n elements but m=$m * dsub=$dsub was configured")
    }
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = vec.getFloat(j * dsub + i).toDouble - codebook(base + i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Per-query ADC lookup table: m*ksub subspace dot products (entry
    * [j*ksub + c] = dot(q_j, C[j][c]), each subspace dot accumulated
    * sequentially in doubles) followed by ONE trailing entry ||q||^2 —
    * length m*ksub + 1. Built once per query row; queries are a small
    * broadcast set by the ANN operators' contract, so the table rides
    * the broadcast, not the corpus exchange.
    */
  def lut(
      qvec: ArrayData, codebook: Array[Float], m: Int, ksub: Int, dsub: Int): ArrayData = {
    val n = qvec.numElements()
    if (n != m * dsub) {
      throw new IllegalArgumentException(
        s"pq_lut: query vector has $n elements but m=$m * dsub=$dsub was configured")
    }
    val out = new Array[Double](m * ksub + 1)
    var qnorm2 = 0.0
    var i = 0
    while (i < n) {
      val v = qvec.getFloat(i).toDouble
      qnorm2 += v * v
      i += 1
    }
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var dot = 0.0
        var k = 0
        while (k < dsub) {
          dot += qvec.getFloat(j * dsub + k).toDouble * codebook(base + k).toDouble
          k += 1
        }
        out(j * ksub + c) = dot
        c += 1
      }
      j += 1
    }
    out(m * ksub) = qnorm2
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Squared norms of every codebook centroid — query-independent, so
    * computed once at plan time and shipped as a reference object
    * alongside the codebook (entry [j*ksub + c] = ||C[j][c]||^2).
    */
  def centroidNorms(codebook: Array[Float], m: Int, ksub: Int, dsub: Int): Array[Double] = {
    val out = new Array[Double](m * ksub)
    var e = 0
    while (e < m * ksub) {
      var s = 0.0
      var i = 0
      while (i < dsub) {
        val v = codebook(e * dsub + i).toDouble
        s += v * v
        i += 1
      }
      out(e) = s
      e += 1
    }
    out
  }

  /** ASYMMETRIC cosine computed directly from (codes, query vector,
    * codebook) — no LUT column. Bit-identical to [[adcSim]] over
    * [[lut]]: each subspace dot accumulates in the same sequential
    * order the LUT builder uses, qnorm2 accumulates over the whole
    * vector first, and the norm table contributes the same entries —
    * so both paths evaluate the identical IEEE expression tree.
    *
    * Why this exists when ADC is "the" PQ scoring trick: the LUT is
    * m*ksub+1 doubles PER QUERY ROW (16 KiB at ksub=256) riding the
    * broadcast, so its payload scales with the query-set size — fine
    * for the bounded query sets the ANN operators contract (measured
    * over stored codes at 200k x 32: LUT 0.45 s vs asym 0.62 s —
    * whole-stage codegen keeps the LUT in the broadcast relation, the
    * textbook shape wins), but at a LARGE query side (query-set x
    * corpus candidate joins) this kernel carries ~60x less broadcast
    * bytes per query for a measured ~1.4x scoring cost. Both paths are
    * bit-equal, so the choice is pure execution shape.
    */
  def asymSim(
      codes: Array[Byte], qvec: ArrayData, codebook: Array[Float], norms: Array[Double],
      m: Int, ksub: Int, dsub: Int): Double = {
    if (codes.length != m) {
      throw new IllegalArgumentException(
        s"pq_asym_sim: codes have ${codes.length} bytes but m=$m was configured")
    }
    val n = qvec.numElements()
    if (n != m * dsub) {
      throw new IllegalArgumentException(
        s"pq_asym_sim: query vector has $n elements but m=$m * dsub=$dsub was configured")
    }
    var qnorm2 = 0.0
    var i = 0
    while (i < n) {
      val v = qvec.getFloat(i).toDouble
      qnorm2 += v * v
      i += 1
    }
    var dot = 0.0
    var rnorm2 = 0.0
    var j = 0
    while (j < m) {
      val e = j * ksub + (codes(j) & 0xFF)
      val base = e * dsub
      var d = 0.0
      var k = 0
      while (k < dsub) {
        d += qvec.getFloat(j * dsub + k).toDouble * codebook(base + k).toDouble
        k += 1
      }
      dot += d
      rnorm2 += norms(e)
      j += 1
    }
    if (qnorm2 == 0.0 || rnorm2 == 0.0) 0.0
    else dot / math.sqrt(qnorm2 * rnorm2)
  }

  /** ADC cosine: m lookups into the dot table + m into the norm table.
    * Exactly cosine(q, reconstruction) with per-subspace summation
    * order — deterministic across partitionings because every term is
    * a pure function of (codes, query, codebook).
    */
  def adcSim(
      codes: Array[Byte], lut: ArrayData, norms: Array[Double], m: Int, ksub: Int): Double = {
    if (codes.length != m) {
      throw new IllegalArgumentException(
        s"pq_adc_sim: codes have ${codes.length} bytes but m=$m was configured")
    }
    if (lut.numElements() != m * ksub + 1) {
      throw new IllegalArgumentException(
        s"pq_adc_sim: lut has ${lut.numElements()} entries, want ${m * ksub + 1}")
    }
    var dot = 0.0
    var rnorm2 = 0.0
    var j = 0
    while (j < m) {
      val e = j * ksub + (codes(j) & 0xFF)
      dot += lut.getDouble(e)
      rnorm2 += norms(e)
      j += 1
    }
    val qnorm2 = lut.getDouble(m * ksub)
    if (qnorm2 == 0.0 || rnorm2 == 0.0) 0.0
    else dot / math.sqrt(qnorm2 * rnorm2)
  }
}

/** Residual-PQ kernels — the textbook IVFPQ refinement: instead of
  * quantizing raw vectors, quantize r = vec - centroid[cluster]. The
  * residuals of a decent coarse quantizer are smaller-magnitude and
  * better-centered than the raw vectors, so the SAME m bytes buy finer
  * cells. Exact cosine still falls out of table lookups because the
  * reconstruction is centroid + residual-reconstruction:
  *
  *   dot(q, recon)   = dot(q, c) + sum_j dot(q_j, R[j][code_j])
  *   ||recon||^2     = ||c||^2 + sum_j (2*dot(c_j, R[j][code_j])
  *                                       + ||R[j][code_j]||^2)
  *
  * dot(q, c) rides the per-query LUT (k entries); the cross terms
  * dot(c_j, R[j][e]) are query-INDEPENDENT — a k*m*ksub double table
  * computed once at plan time from (centroids, codebook) and shipped as
  * a reference object. Scoring stays m lookups + a few adds per
  * candidate.
  */
object PqResidKernels {

  /** Residual codes: r = vec - centroid[cluster], per-subspace argmin
    * over the RESIDUAL codebook; ties to the lower id.
    */
  def encode(
      vec: ArrayData, cluster: Int, centroids: Array[Float], codebook: Array[Float],
      m: Int, ksub: Int, dsub: Int): Array[Byte] = {
    val dims = m * dsub
    val n = vec.numElements()
    if (n != dims) {
      throw new IllegalArgumentException(
        s"pq_resid_codes: vector has $n elements but m=$m * dsub=$dsub was configured")
    }
    val k = centroids.length / dims
    if (cluster < 0 || cluster >= k) {
      throw new IllegalArgumentException(
        s"pq_resid_codes: cluster $cluster outside [0, $k)")
    }
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val idx = j * dsub + i
          val r = vec.getFloat(idx).toDouble - centroids(cluster * dims + idx).toDouble
          val diff = r - codebook(base + i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Per-query residual LUT: [0, m*ksub) = dot(q_j, R[j][e]) (subspace-
    * sequential); [m*ksub, m*ksub+k) = dot(q, centroid_c) (full-dims
    * sequential); [m*ksub+k] = ||q||^2. Length m*ksub + k + 1.
    */
  def lut(
      qvec: ArrayData, centroids: Array[Float], codebook: Array[Float],
      m: Int, ksub: Int, dsub: Int): ArrayData = {
    val dims = m * dsub
    val n = qvec.numElements()
    if (n != dims) {
      throw new IllegalArgumentException(
        s"pq_resid_lut: query vector has $n elements but m=$m * dsub=$dsub was configured")
    }
    val k = centroids.length / dims
    val out = new Array[Double](m * ksub + k + 1)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          dot += qvec.getFloat(j * dsub + i).toDouble * codebook(base + i).toDouble
          i += 1
        }
        out(j * ksub + c) = dot
        c += 1
      }
      j += 1
    }
    var c = 0
    while (c < k) {
      var dot = 0.0
      var i = 0
      while (i < dims) {
        dot += qvec.getFloat(i).toDouble * centroids(c * dims + i).toDouble
        i += 1
      }
      out(m * ksub + c) = dot
      c += 1
    }
    var qnorm2 = 0.0
    var i = 0
    while (i < dims) {
      val v = qvec.getFloat(i).toDouble
      qnorm2 += v * v
      i += 1
    }
    out(m * ksub + k) = qnorm2
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Query-independent tables, computed once at plan time. */
  def crossTable(
      centroids: Array[Float], codebook: Array[Float],
      m: Int, ksub: Int, dsub: Int): Array[Double] = {
    val dims = m * dsub
    val k = centroids.length / dims
    val out = new Array[Double](k * m * ksub)
    var c = 0
    while (c < k) {
      var j = 0
      while (j < m) {
        var e = 0
        while (e < ksub) {
          val base = (j * ksub + e) * dsub
          var dot = 0.0
          var i = 0
          while (i < dsub) {
            dot += centroids(c * dims + j * dsub + i).toDouble * codebook(base + i).toDouble
            i += 1
          }
          out(c * m * ksub + j * ksub + e) = dot
          e += 1
        }
        j += 1
      }
      c += 1
    }
    out
  }

  def centroidNorms2(centroids: Array[Float], dims: Int): Array[Double] = {
    val k = centroids.length / dims
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      var i = 0
      while (i < dims) {
        val v = centroids(c * dims + i).toDouble
        s += v * v
        i += 1
      }
      out(c) = s
      c += 1
    }
    out
  }

  /** Exact cosine(q, centroid + residual reconstruction) from tables:
    * m dot-lookups + m cross-lookups + m norm-lookups per candidate.
    */
  def sim(
      codes: Array[Byte], lut: ArrayData, cluster: Int,
      cross: Array[Double], residNorms: Array[Double], cnorm2: Array[Double],
      m: Int, ksub: Int): Double = {
    if (codes.length != m) {
      throw new IllegalArgumentException(
        s"pq_resid_sim: codes have ${codes.length} bytes but m=$m was configured")
    }
    val k = cnorm2.length
    if (lut.numElements() != m * ksub + k + 1) {
      throw new IllegalArgumentException(
        s"pq_resid_sim: lut has ${lut.numElements()} entries, want ${m * ksub + k + 1}")
    }
    if (cluster < 0 || cluster >= k) {
      throw new IllegalArgumentException(s"pq_resid_sim: cluster $cluster outside [0, $k)")
    }
    var dot = lut.getDouble(m * ksub + cluster)
    var rnorm2 = cnorm2(cluster)
    var j = 0
    while (j < m) {
      val e = j * ksub + (codes(j) & 0xFF)
      dot += lut.getDouble(e)
      rnorm2 += 2.0 * cross(cluster * m * ksub + e) + residNorms(e)
      j += 1
    }
    val qnorm2 = lut.getDouble(m * ksub + k)
    if (qnorm2 == 0.0 || rnorm2 <= 0.0) 0.0
    else dot / math.sqrt(qnorm2 * rnorm2)
  }
}

/** PQ codes of a float vector: exactly m bytes (one codebook index per
  * subspace). The codebook (flattened subspace-major: entry
  * [(j*ksub + c)*dsub + i]) is a plan-time constant.
  */
case class PqCodes(vec: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends UnaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def child: Expression = vec

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _)
        if m > 0 && ksub > 0 && ksub <= 256 && codebook.length == m * ksub * dsub &&
          dsub > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: codebook of ${codebook.length} floats does not factor as " +
          s"m=$m * ksub=$ksub (<=256) * dsub")
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = BinaryType

  override def prettyName: String = "pq_codes"

  override protected def nullSafeEval(v: Any): Any =
    PqKernels.encode(v.asInstanceOf[ArrayData], codebook, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqKernels.encode($v, $cbRef, $m, $ksub, $dsub);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(vec = newChild)
}

/** Per-query ADC lookup table (array<double> of m*ksub dots + ||q||^2). */
case class PqLut(qvec: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends UnaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def child: Expression = qvec

  override def checkInputDataTypes(): TypeCheckResult = qvec.dataType match {
    case ArrayType(FloatType, _)
        if m > 0 && ksub > 0 && ksub <= 256 && codebook.length == m * ksub * dsub &&
          dsub > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: codebook of ${codebook.length} floats does not factor as " +
          s"m=$m * ksub=$ksub (<=256) * dsub")
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "pq_lut"

  override protected def nullSafeEval(v: Any): Any =
    PqKernels.lut(v.asInstanceOf[ArrayData], codebook, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqKernels.lut($v, $cbRef, $m, $ksub, $dsub);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(qvec = newChild)
}

/** Residual-PQ codes of (float vector, cluster id): m bytes indexing
  * the RESIDUAL codebook for vec - centroid[cluster].
  */
case class PqResidCodes(
    vec: Expression, cluster: Expression,
    centroids: Array[Float], codebook: Array[Float], m: Int, ksub: Int)
    extends BinaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def left: Expression = vec
  override def right: Expression = cluster

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cluster.dataType) match {
      case (ArrayType(FloatType, _), IntegerType)
          if m > 0 && ksub > 0 && ksub <= 256 && dsub > 0 &&
            codebook.length == m * ksub * dsub && centroids.length % (m * dsub) == 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(FloatType, _), IntegerType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: codebook/centroid shapes do not factor as m=$m * ksub=$ksub * dsub")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<float>, int), got ${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = BinaryType

  override def prettyName: String = "pq_resid_codes"

  override protected def nullSafeEval(v: Any, c: Any): Any =
    PqResidKernels.encode(
      v.asInstanceOf[ArrayData], c.asInstanceOf[Int], centroids, codebook, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("pqResidCentroids", centroids, "float[]")
    val cb = ctx.addReferenceObj("pqResidCodebook", codebook, "float[]")
    nullSafeCodeGen(ctx, ev, (v, c) =>
      s"${ev.value} = graft.functions.PqResidKernels.encode($v, $c, $cents, $cb, $m, $ksub, $dsub);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqResidCodes =
    copy(vec = newLeft, cluster = newRight)
}

/** Per-query residual-PQ LUT (residual dots + per-centroid dots +
  * ||q||^2; length m*ksub + k + 1).
  */
case class PqResidLut(
    qvec: Expression, centroids: Array[Float], codebook: Array[Float], m: Int, ksub: Int)
    extends UnaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def child: Expression = qvec

  override def checkInputDataTypes(): TypeCheckResult = qvec.dataType match {
    case ArrayType(FloatType, _)
        if m > 0 && ksub > 0 && ksub <= 256 && dsub > 0 &&
          codebook.length == m * ksub * dsub && centroids.length % (m * dsub) == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: codebook/centroid shapes do not factor as m=$m * ksub=$ksub * dsub")
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "pq_resid_lut"

  override protected def nullSafeEval(v: Any): Any =
    PqResidKernels.lut(v.asInstanceOf[ArrayData], centroids, codebook, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("pqResidCentroids", centroids, "float[]")
    val cb = ctx.addReferenceObj("pqResidCodebook", codebook, "float[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqResidKernels.lut($v, $cents, $cb, $m, $ksub, $dsub);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqResidLut =
    copy(qvec = newChild)
}

/** Exact cosine over the residual reconstruction from (codes, LUT,
  * cluster): the cluster-conditioned cross/norm tables ride as
  * reference objects.
  */
case class PqResidSim(
    codes: Expression, lut: Expression, cluster: Expression,
    centroids: Array[Float], codebook: Array[Float], m: Int, ksub: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = cluster

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, lut.dataType, cluster.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _), IntegerType)
          if m > 0 && ksub > 0 && ksub <= 256 && dsub > 0 &&
            codebook.length == m * ksub * dsub && centroids.length % (m * dsub) == 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (binary, array<double>, int), got " +
            s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_resid_sim"

  @transient private lazy val cross: Array[Double] =
    PqResidKernels.crossTable(centroids, codebook, m, ksub, dsub)
  @transient private lazy val residNorms: Array[Double] =
    PqKernels.centroidNorms(codebook, m, ksub, dsub)
  @transient private lazy val cnorm2: Array[Double] =
    PqResidKernels.centroidNorms2(centroids, m * dsub)

  override protected def nullSafeEval(c: Any, l: Any, cl: Any): Any =
    PqResidKernels.sim(
      c.asInstanceOf[Array[Byte]], l.asInstanceOf[ArrayData], cl.asInstanceOf[Int],
      cross, residNorms, cnorm2, m, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val crossRef = ctx.addReferenceObj("pqResidCross", cross, "double[]")
    val normsRef = ctx.addReferenceObj("pqResidNorms", residNorms, "double[]")
    val cnormRef = ctx.addReferenceObj("pqResidCnorm2", cnorm2, "double[]")
    nullSafeCodeGen(ctx, ev, (c, l, cl) =>
      s"${ev.value} = graft.functions.PqResidKernels.sim(" +
        s"$c, $l, $cl, $crossRef, $normsRef, $cnormRef, $m, $ksub);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqResidSim =
    copy(codes = newFirst, lut = newSecond, cluster = newThird)
}

/** Asymmetric PQ cosine of (codes, query float vector) — the scoring
  * form the row-at-a-time join wants (see [[PqKernels.asymSim]]): the
  * joined row carries the 256-byte query vector, not a LUT; the
  * codebook and its norm table ride as reference objects. Bit-identical
  * results to the [[PqAdcSim]]/[[PqLut]] pair (spec-pinned).
  */
case class PqAsymSim(
    codes: Expression, qvec: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends BinaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def left: Expression = codes
  override def right: Expression = qvec

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, qvec.dataType) match {
      case (BinaryType, ArrayType(FloatType, _))
          if m > 0 && ksub > 0 && ksub <= 256 && codebook.length == m * ksub * dsub &&
            dsub > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: codebook of ${codebook.length} floats does not factor as " +
            s"m=$m * ksub=$ksub (<=256) * dsub")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (binary, array<float>), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_asym_sim"

  @transient private lazy val norms: Array[Double] =
    PqKernels.centroidNorms(codebook, m, ksub, dsub)

  override protected def nullSafeEval(c: Any, q: Any): Any =
    PqKernels.asymSim(
      c.asInstanceOf[Array[Byte]], q.asInstanceOf[ArrayData], codebook, norms, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    val normsRef = ctx.addReferenceObj("pqCentroidNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, (c, q) =>
      s"${ev.value} = graft.functions.PqKernels.asymSim($c, $q, $cbRef, $normsRef, $m, $ksub, $dsub);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAsymSim =
    copy(codes = newLeft, qvec = newRight)
}

/** ADC cosine of (pq codes, query LUT): m table lookups per candidate —
  * the scoring cost no longer scales with dims. The centroid-norm table
  * derives from the codebook once at plan time.
  */
case class PqAdcSim(codes: Expression, lut: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends BinaryExpression with ModelArrayEquality {

  private val dsub: Int = PqKernels.dsubOf(codebook, m, ksub)

  override def left: Expression = codes
  override def right: Expression = lut

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, lut.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _))
          if m > 0 && ksub > 0 && ksub <= 256 && codebook.length == m * ksub * dsub &&
            dsub > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: codebook of ${codebook.length} floats does not factor as " +
            s"m=$m * ksub=$ksub (<=256) * dsub")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (binary, array<double>), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_adc_sim"

  @transient private lazy val norms: Array[Double] =
    PqKernels.centroidNorms(codebook, m, ksub, dsub)

  override protected def nullSafeEval(c: Any, l: Any): Any =
    PqKernels.adcSim(c.asInstanceOf[Array[Byte]], l.asInstanceOf[ArrayData], norms, m, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val normsRef = ctx.addReferenceObj("pqCentroidNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.functions.PqKernels.adcSim($c, $l, $normsRef, $m, $ksub);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcSim =
    copy(codes = newLeft, lut = newRight)
}
