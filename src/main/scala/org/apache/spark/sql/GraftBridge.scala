package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-private bridge: Column ↔ Expression conversion lives behind
  * `private[sql]` in Spark 4 (classic.ExpressionUtils); custom Catalyst
  * expressions (graft.functions.CosineSimExpr) need both directions to
  * expose a Column API. This is the standard extension-point shim — no
  * Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column → catalyst conversion: `expression` wraps the lazy
    * ColumnNode (fine inside Dataset ops, which convert during analysis),
    * but a FunctionRegistry builder must hand the analyzer a real
    * expression tree — the lazy wrapper reaches codegen unconverted and
    * dies with cannotGenerateCodeForExpression.
    */
  def toCatalyst(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** DataFrame from a hand-built LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to insert custom logical nodes like
    * graft.plans.TopKPerKey.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame straight from an InternalRow RDD (private[sql] in classic):
    * the zero-copy return path for kernels that consume
    * `queryExecution.toRdd` — no Row boxing on either side.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Decompose a possibly-sort-order Column (`col("x").desc`) into
    * (value column, ascending?, nullsFirst?). Spark 4 columns are lazy
    * ColumnNode trees; the sort direction lives on the internal node, not
    * on a catalyst SortOrder.
    */
  def sortInfo(c: Column): (Column, Boolean, Boolean) = c.node match {
    case s: internal.SortOrder =>
      (Column(s.child),
        s.sortDirection.isInstanceOf[internal.SortOrder.Ascending.type],
        s.nullOrdering.isInstanceOf[internal.SortOrder.NullsFirst.type])
    case _ => (c, true, true)
  }
}
