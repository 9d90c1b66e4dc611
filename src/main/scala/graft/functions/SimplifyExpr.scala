package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** RING SIMPLIFICATION — Douglas–Peucker (1973) over one closed ring,
  * the vertex-thinning pass a 100 TB vector store wants before write
  * amplification (the r15 verdict named buffer/simplify as the missing
  * geometry-constructing family next to the clip emitters): keep the
  * ring's shape to within `eps`, drop the rest.
  *
  * Determinism contract (what makes it oracle-able): the classic
  * recursion with TOTAL tie-breaks — the split vertex is the FIRST
  * index attaining the maximum deviation (strict `>` while scanning
  * left to right), deviation is the EXACT squared point-to-LINE
  * distance (point-to-anchor when the span's endpoints coincide — the
  * closed ring's top-level call), compared against eps² (no sqrt
  * anywhere), and a vertex is kept iff its span's maximum exceeds eps²
  * strictly. Output is the kept vertices in ring order, re-closed.
  * Degenerate outputs (a ring that simplifies below 4 points) are
  * returned as-is — validation stays the caller's scan-side gate
  * ([[RingIsSimpleExpr]]), the same contract as every clip kernel.
  *
  * Scale shape: one static codegen call per row, vertex-bounded
  * (O(n²) worst case on pathological rings, O(n log n) typical) —
  * a projection, never a shuffle.
  */
case class SimplifyRingExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ringTypeOk(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"st_simplify_ring needs one array<struct<x:double,y:double>> ring, got ${left.dataType}")
    else if (right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"st_simplify_ring needs a DOUBLE tolerance, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = left.dataType

  override protected def nullSafeEval(ring: Any, eps: Any): Any =
    SimplifyExprs.simplifyRing(ring.asInstanceOf[ArrayData], eps.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, e) =>
      s"${ev.value} = graft.functions.SimplifyExprs.simplifyRing($r, $e);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SimplifyExprs {

  /** Column entry (ring in the st_rings element layout, eps in the
    * ring's coordinate units). */
  def simplifyRingCol(ring: Column, eps: Column): Column =
    GraftBridge.column(SimplifyRingExpr(
      GraftBridge.expression(ring), GraftBridge.expression(eps)))

  /** Static kernel (also the codegen target). */
  def simplifyRing(ring: ArrayData, eps: Double): ArrayData = {
    if (eps < 0.0 || eps.isNaN)
      throw new IllegalArgumentException(s"simplify tolerance must be >= 0, got $eps")
    val n = ring.numElements()
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (ring.isNullAt(i))
        throw new IllegalArgumentException(s"null point at ring index $i (malformed WKT?)")
      val p = ring.getStruct(i, 2)
      if (p.isNullAt(0) || p.isNullAt(1))
        throw new IllegalArgumentException(s"null coordinate at ring index $i (malformed WKT?)")
      xs(i) = p.getDouble(0)
      ys(i) = p.getDouble(1)
      i += 1
    }
    val keepIdx = simplifyIndices(xs, ys, eps)
    val out = new Array[Any](keepIdx.length)
    i = 0
    while (i < keepIdx.length) {
      val k = keepIdx(i)
      out(i) = new GenericInternalRow(Array[Any](xs(k), ys(k)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Kept indices (ascending, endpoints always included) of the DP
    * recursion over positions 0..n-1. Exposed for the spec's
    * brute-force cross-check. */
  def simplifyIndices(xs: Array[Double], ys: Array[Double], eps: Double): Array[Int] = {
    val n = xs.length
    if (n <= 2) return Array.range(0, n)
    val eps2 = eps * eps
    val keep = new Array[Boolean](n)
    keep(0) = true
    keep(n - 1) = true
    // explicit stack, processing spans in a deterministic order (the
    // recursion's left-to-right depth-first order)
    var stack = List((0, n - 1))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.head
      stack = stack.tail
      if (hi - lo >= 2) {
        val ax = xs(lo); val ay = ys(lo)
        val bx = xs(hi); val by = ys(hi)
        val dx = bx - ax; val dy = by - ay
        val len2 = dx * dx + dy * dy
        var best = -1
        var bestD = eps2
        var i = lo + 1
        while (i < hi) {
          // squared deviation: point-to-LINE when endpoints differ,
          // point-to-anchor when they coincide (the closed-ring span)
          val d2 =
            if (len2 == 0.0) {
              val px = xs(i) - ax; val py = ys(i) - ay
              px * px + py * py
            } else {
              val c = dx * (ys(i) - ay) - dy * (xs(i) - ax)
              c * c / len2
            }
          if (d2 > bestD) { bestD = d2; best = i }
          i += 1
        }
        if (best >= 0) {
          keep(best) = true
          // push right then left so the left span processes first
          stack = (lo, best) :: (best, hi) :: stack
        }
      }
    }
    Array.range(0, n).filter(keep)
  }
}
