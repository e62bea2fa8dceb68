package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Sign-random-projection (SimHash-for-cosine, Charikar STOC'02) band keys
  * for an embedding vector, as a native codegen'd expression.
  *
  * Bit k of the signature is `sign(v · h_k) > 0` for the deterministic
  * Rademacher hyperplane `h_k[d] = ±1` derived from splitmix64(k, d) — no
  * stored model, any executor regenerates the identical hyperplanes, so
  * signatures are reproducible across runs and engines. Bits are grouped
  * into `bands` bands of `rowsPerBand` bits; element i of the result is
  * band i's packed bits. Two vectors with cosine s agree on one bit with
  * probability p = 1 − arccos(s)/π, so a pair collides in ≥1 band with
  * probability 1 − (1 − p^r)^b — the standard LSH banding
  * amplification.
  *
  * Default parameters for threshold-0.9 similarity joins (b=128, r=12):
  * miss probability at s = 0.9 is (1 − 0.8564^12)^128 ≈ 4·10⁻¹⁰ (lower
  * still for higher s), while near-orthogonal background pairs (p ≈ 0.5)
  * collide with probability 1 − (1 − 2⁻¹²)^128 ≈ 3% — a ~30× candidate
  * cut that deepens as corpora grow sparser in the angular sense.
  *
  * The per-plane ±1 signs are packed into 64-bit masks (one long covers 64
  * dimensions), cached per (planes, dim-words) shape; a signature is then
  * `bands·r` masked dot products in one tight loop, inside whole-stage
  * codegen.
  */
@ExpressionDescription(
  usage = "srp_bands(vec, bands, rowsPerBand) - packed sign-random-projection LSH band keys")
case class SrpBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  require(bands >= 1 && rowsPerBand >= 1 && rowsPerBand <= 62,
    s"need bands >= 1 and 1 <= rowsPerBand <= 62, got ($bands, $rowsPerBand)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_bands needs ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    SrpUtil.bandKeys(v.asInstanceOf[ArrayData], isFloat, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.SrpUtil.bandKeys($v, $isFloat, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): SrpBands =
    copy(child = newChild)
}

object SrpBands {
  /** Column wrapper, resolved through the session registry
    * ([[graft.plans.GraftExtensions]] injects `srp_bands`).
    */
  def apply(vec: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.functions.call_function("srp_bands", vec,
      org.apache.spark.sql.functions.lit(bands),
      org.apache.spark.sql.functions.lit(rowsPerBand))
}

/** Static kernel (Java static forwarder ⇒ callable from generated code). */
object SrpUtil {
  /** splitmix64 finalizer — the standard public-domain mixer. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4B7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ±1 hyperplane sign masks per (numPlanes, dimWords) shape: bit d of word
  // w of plane k (= index k·dimWords + w) set ⇒ h_k[64w+d] = +1.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()

  private def masks(numPlanes: Int, dimWords: Int): Array[Long] =
    cache.computeIfAbsent((numPlanes.toLong << 24) | dimWords, _ => {
      val m = new Array[Long](numPlanes * dimWords)
      var k = 0
      while (k < numPlanes) {
        var w = 0
        while (w < dimWords) {
          var word = 0L
          var d = 0
          while (d < 64) {
            // one hash bit per (plane, dimension) pair
            if (mix64(k.toLong * 1048576L + w.toLong * 64L + d) < 0)
              word |= 1L << d
            d += 1
          }
          m(k * dimWords + w) = word
          w += 1
        }
        k += 1
      }
      m
    })

  /** Packed band keys: element b = bits (b·r .. b·r+r−1) of the SRP
    * signature, bit = (v · h_k) > 0.
    */
  def bandKeys(v: ArrayData, isFloat: Boolean, bands: Int, r: Int): ArrayData = {
    val dim = v.numElements()
    val planes = bands * r
    val dimWords = (dim + 63) >> 6
    val m = masks(planes, dimWords)
    val out = new Array[Long](bands)
    var k = 0
    while (k < planes) {
      var dot = 0.0
      var d = 0
      val base = k * dimWords
      while (d < dim) {
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        val sign = (m(base + (d >> 6)) >>> (d & 63)) & 1L
        dot += (if (sign == 1L) x else -x)
        d += 1
      }
      val b = k / r
      out(b) = (out(b) << 1) | (if (dot > 0) 1L else 0L)
      k += 1
    }
    new GenericArrayData(out)
  }
}
