package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen kernels for the geohash family (SpatialOps.geohash*).
  *
  * The pure-Column spelling of DECODE (per-char instr → 5p-term interleave
  * reassembly → bit-scatter deinterleave) duplicates its subtrees at every
  * reference: gh2's six decode consumers produced a 27 MiB task binary and
  * ~6 s of Janino work per run (the RhpBucketsExpr compile-bomb shape,
  * measured gh2 6.66 s → 0.5 s after fusing). These two expressions replace
  * the integer bit algebra with one static call each; the ONLY floating
  * arithmetic in the family (the encoder's quantizer) stays in Column land
  * so its op chain keeps mirroring 1:1 into the DuckDB oracle.
  *
  * Both kernels are integer-exact, so oracles may recompute the same
  * values by any faithful route (the gh2 oracle shortcuts decode by
  * reusing its own quantized integers).
  */

/** gh string → packed cell coordinates: (lonQ << 31) | latQ. Fail-closed:
  * a wrong-length id or a character outside the base32 alphabet throws
  * (the Column instr form silently poisoned the value with digit −1; a
  * join key that aliases cell 0 is a wrong answer, not an error).
  */
case class GeohashQuantsExpr(child: Expression, precision: Int) extends UnaryExpression {
  require(precision >= 1 && precision <= 12,
    s"geohash precision must be in [1,12], got $precision")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"geohash id must be string, got $t")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    GeohashExprs.quants(input.asInstanceOf[UTF8String], precision)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GeohashExprs.quants($c, $precision);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (lonQ, latQ) → geohash string: MSB-first interleave (lon leading) read
  * out as base32. Fail-closed on coordinates outside the precision's bit
  * budget — shifts are expected to wrap/clamp BEFORE encoding.
  */
case class GeohashStrExpr(left: Expression, right: Expression, precision: Int)
    extends BinaryExpression {
  require(precision >= 1 && precision <= 12,
    s"geohash precision must be in [1,12], got $precision")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"geohash quantized coordinates must be bigint, got ($a, $b)")
    }

  override def dataType: DataType = StringType

  override protected def nullSafeEval(lonQ: Any, latQ: Any): Any =
    GeohashExprs.encode(lonQ.asInstanceOf[Long], latQ.asInstanceOf[Long], precision)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, t) =>
      s"${ev.value} = graft.functions.GeohashExprs.encode($l, $t, $precision);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GeohashExprs {
  val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  // 128-slot reverse table; -1 marks characters outside the alphabet.
  private val Digit: Array[Int] = {
    val t = Array.fill(128)(-1)
    var i = 0
    while (i < Alphabet.length) { t(Alphabet.charAt(i)) = i; i += 1 }
    t
  }

  /** Shared kernel: parse + deinterleave. Bits n=5p, lon gets ceil(n/2). */
  def quants(gh: UTF8String, precision: Int): Long = {
    if (gh.numChars() != precision)
      throw new IllegalArgumentException(
        s"geohash id must have exactly $precision characters, got '$gh'")
    val bytes = gh.getBytes // base32 alphabet is ASCII, 1 byte per char
    var lonQ = 0L
    var latQ = 0L
    var bit = 0 // interleave position from the MSB; even → lon, odd → lat
    var i = 0
    while (i < precision) {
      val b = bytes(i) & 0xff
      val d = if (b < 128) Digit(b) else -1
      if (d < 0)
        throw new IllegalArgumentException(
          s"'${gh.toString.charAt(i)}' is not a geohash base32 character in '$gh'")
      var j = 4
      while (j >= 0) {
        val v = (d >> j) & 1
        if ((bit & 1) == 0) lonQ = (lonQ << 1) | v else latQ = (latQ << 1) | v
        bit += 1
        j -= 1
      }
      i += 1
    }
    (lonQ << 31) | latQ
  }

  /** Shared kernel: interleave + base32 render. */
  def encode(lonQ: Long, latQ: Long, precision: Int): UTF8String = {
    val n = 5 * precision
    val nLon = (n + 1) / 2
    val nLat = n / 2
    if (lonQ < 0 || lonQ >= (1L << nLon) || latQ < 0 || latQ >= (1L << nLat))
      throw new IllegalArgumentException(
        s"quantized coordinates ($lonQ, $latQ) outside the $precision-char bit budget")
    var comb = 0L
    var k = 0
    while (k < nLon) {
      comb |= ((lonQ >> (nLon - 1 - k)) & 1L) << (n - 1 - 2 * k)
      k += 1
    }
    k = 0
    while (k < nLat) {
      comb |= ((latQ >> (nLat - 1 - k)) & 1L) << (n - 2 - 2 * k)
      k += 1
    }
    val out = new Array[Byte](precision)
    var i = 0
    while (i < precision) {
      out(i) = Alphabet.charAt(((comb >> (n - 5 * (i + 1))) & 31L).toInt).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column-API entry points. */
  def quantsCol(gh: Column, precision: Int): Column =
    GraftBridge.column(GeohashQuantsExpr(GraftBridge.expression(gh), precision))

  def encodeCol(lonQ: Column, latQ: Column, precision: Int): Column =
    GraftBridge.column(GeohashStrExpr(
      GraftBridge.expression(lonQ), GraftBridge.expression(latQ), precision))
}
