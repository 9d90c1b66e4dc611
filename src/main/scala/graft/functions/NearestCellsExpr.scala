package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** A coarse quantizer held on the driver: `cells` ascending, `centroids`
  * aligned with them. A NULL centroid, or one with a NULL component, is
  * stored as `null`: its distance to every vector is NULL. Float
  * centroids are stored as their exact double values.
  */
final class CentroidTable(val cells: Array[Int], val centroids: Array[Array[Double]])
    extends Serializable {
  require(cells.length == centroids.length, "one centroid per cell")
  require(cells.indices.drop(1).forall(j => cells(j - 1) <= cells(j)), "cells must be sorted")

  def isEmpty: Boolean = cells.isEmpty

  override def toString: String = s"CentroidTable(${cells.length} cells)"

  /** The `n` cells nearest to `v` (NULL allowed), nearest first. The
    * order is the one the window `ORDER BY VectorOps.l2Distance(v,
    * centroid) ASC, cell ASC` gives: the distance is the sqrt of the
    * in-order double fold of (x − y)², NULL when `zip_with` would meet a
    * NULL (a NULL vector or component, or unequal lengths); NULLs sort
    * first, NaN sorts greatest and equals NaN, and equal distances go to
    * the lower cell.
    */
  def nearest(v: ArrayData, isFloat: Boolean, n: Int): ArrayData = {
    val m = math.max(0, math.min(n, cells.length))
    val best = new Array[Int](m)
    val bestNull = new Array[Boolean](m)
    val bestD = new Array[Double](m)
    var filled = 0
    val len = if (v == null) -1 else v.numElements()
    var vNull = v == null
    var i = 0
    while (!vNull && i < len) { vNull = v.isNullAt(i); i += 1 }
    // strictly before: ties keep the earlier index, i.e. the lower cell
    def before(an: Boolean, ad: Double, p: Int): Boolean =
      if (bestNull(p)) false
      else an || (ad != bestD(p) && java.lang.Double.compare(ad, bestD(p)) < 0)
    var j = 0
    while (j < cells.length) {
      val c = centroids(j)
      val isNull = vNull || c == null || c.length != len
      var d = 0.0
      if (!isNull) {
        var acc = 0.0
        var k = 0
        while (k < len) {
          val x = if (isFloat) v.getFloat(k).toDouble else v.getDouble(k)
          val diff = x - c(k)
          acc += diff * diff
          k += 1
        }
        d = math.sqrt(acc)
      }
      if (filled < m || (m > 0 && before(isNull, d, m - 1))) {
        var p = if (filled < m) filled else m - 1
        while (p > 0 && before(isNull, d, p - 1)) {
          best(p) = best(p - 1); bestNull(p) = bestNull(p - 1); bestD(p) = bestD(p - 1)
          p -= 1
        }
        best(p) = j; bestNull(p) = isNull; bestD(p) = d
        if (filled < m) filled += 1
      }
      j += 1
    }
    val out = new Array[Any](m)
    var r = 0
    while (r < m) { out(r) = cells(best(r)); r += 1 }
    new GenericArrayData(out)
  }
}

/** The `n` nearest cells of a vector against a driver-side
  * [[CentroidTable]], as array<int> nearest first — the IVF quantizer
  * step (`n = 1`: cell assignment; `n = nProbe`: probe routing) as one
  * map over the input, in place of a broadcast cross join with every
  * centroid plus a `row_number` window. Interpreted eval and the
  * generated code make the same one call into [[CentroidTable.nearest]].
  * A NULL vector does not give NULL: every distance is NULL, so it gets
  * the `n` lowest cells, as under the window.
  */
case class NearestCellsExpr(child: Expression, table: CentroidTable, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_cells requires array<float|double> input, got $t")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    table.nearest(child.eval(input).asInstanceOf[ArrayData], isFloat, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("centroidTable", table, classOf[CentroidTable].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |${classOf[ArrayData].getName} ${ev.value} =
      |  $tableRef.nearest(${c.isNull} ? null : ${c.value}, $isFloat, $n);
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCellsExpr {
  /** Column-API entry point: array<int> of the `n` nearest cells. */
  def nearestCells(vec: Column, table: CentroidTable, n: Int): Column =
    GraftBridge.column(NearestCellsExpr(GraftBridge.expression(vec), table, n))
}
