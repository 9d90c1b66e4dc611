package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StructType}

/** EXACT polygon ∩ box intersection AREA — the measure step past j18's
  * boolean overlap refine, and the kernel of true zonal statistics: a
  * polygon store joined to a tile/cell grid where each pair reports how
  * much of the polygon the cell actually contains (not just "touches").
  *
  * Algorithm: Sutherland–Hodgman (1974) against the box's four
  * half-planes in fixed order (left x≥xmin, right x≤xmax, bottom y≥ymin,
  * top y≤ymax), then the shoelace signed sum per clipped ring. Rings keep
  * their orientation through clipping, so holes subtract exactly as in
  * [[SpatialOps.ringsArea]]; S-H's degenerate boundary bridges on concave
  * subjects trace the box edge forward and back and cancel in the signed
  * sum, so the AREA is exact even where the vertex list is not minimal.
  * Every +,−,×,÷ and comparison is in a documented order — the DuckDB
  * oracle replays the identical expression sequence (list lambdas + a
  * sequential list_reduce fold), so j21's areas hash-match bit-for-bit
  * (the j16/j19 refine-arithmetic discipline, one step further: this is
  * the first oracled REAL-VALUED geometry measure on clipped vertices).
  *
  * Scale shape: one static call per candidate pair inside whole-stage
  * codegen, after bbox pruning — the zonal-stats cost is the candidate
  * count, never the corpus.
  *
  * Reference analog: zonal aggregation of segment polygons over tile
  * grids (image_segmentation.py:160-162 outputs; feature_stacking.py's
  * tiled layout) — "how much of this polygon is in this tile".
  */
case class ClipAreaExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // Expensive-kernel marker (spark_optimization_guide §4.4): every query
  // that measures with this kernel projects the area and then filters
  // `> 0` — with the expression deterministic, Catalyst substitutes the
  // projection into the pushed filter and PREPENDS it to the bbox join
  // condition, so the kernel ran (a) on every cell-matched candidate
  // BEFORE the cheap envelope tests and (b) AGAIN in the projection for
  // every survivor (measured in plans/r16/j25_clip_polygon_before.txt).
  // deterministic=false blocks the push (the ScalaUDF.asNondeterministic
  // mechanism): the join keeps only the envelope conjuncts and the kernel
  // runs ONCE per bbox survivor, in the projection. Results are unchanged
  // — the kernel is a pure function; the flag only pins WHERE it runs.
  override lazy val deterministic: Boolean = false

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private def envTypeOk(t: DataType): Boolean = t match {
    case s: StructType =>
      s.length == 4 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields.map(_.name).sameElements(Array("xmin", "ymin", "xmax", "ymax"))
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area needs array<array<struct<x:double,y:double>>> rings, got ${left.dataType}")
    else if (!envTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area needs a struct<xmin,ymin,xmax,ymax:double> box, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(rings: Any, env: Any): Any =
    ClipExprs.clipAreaBox(rings.asInstanceOf[ArrayData], env.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, e) =>
      s"${ev.value} = graft.functions.ClipExprs.clipAreaBox($r, $e);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Subject polygon (rings) ∩ CONVEX clip ring → exact area. The box form
  * generalized to arbitrary convex windows (tiles are boxes; parcels,
  * viewsheds, and the engine's own j18 diamonds are not): Sutherland–
  * Hodgman against each clip edge's half-plane, inside = the cross
  * product side test, intersections parameterized by t = s_p/(s_p−s_q)
  * over the SAME side values the inside tests computed — so the oracle
  * mirrors every operation textually. Fail-closed on non-convex,
  * unclosed, or degenerate clip rings (S-H against a concave window is
  * silently wrong, not approximate).
  */
case class ClipAreaPolyExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // expensive-kernel marker — see ClipAreaExpr.deterministic
  override lazy val deterministic: Boolean = false

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private def ringTypeOk(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_poly needs array<array<struct<x,y>>> subject rings, got ${left.dataType}")
    else if (!ringTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_poly needs one array<struct<x,y>> convex clip ring, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(rings: Any, clip: Any): Any =
    ClipExprs.clipAreaConvex(rings.asInstanceOf[ArrayData], clip.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c) =>
      s"${ev.value} = graft.functions.ClipExprs.clipAreaConvex($r, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Subject polygon (rings) ∩ ARBITRARY SIMPLE clip ring — concave
  * allowed — → exact area. The r13 gap closer: Sutherland–Hodgman is
  * convex-window-only by algorithm, but the engine's own Stage-2
  * polygonize output (reference image_segmentation.py:160-162) is
  * arbitrarily concave, so zonal stats between two REAL polygon stores
  * need this kernel. Algorithm: deterministic ear-clipping
  * triangulation of the clip ring (first valid ear scanning from index
  * 0, restart after each cut — O(n²), n is clip vertex count), then the
  * UNCHANGED convex kernel per ear triangle, areas summed in emission
  * order. Ears partition the clip polygon, so
  * area(S ∩ C) = Σ area(S ∩ Tᵢ) exactly; each term reuses the j22
  * pass/shoelace arithmetic verbatim, which keeps the DuckDB replay
  * tractable triangle-by-triangle. Fail-closed on unclosed, zero-area,
  * or ear-less (degenerate) clip rings; the ring must be SIMPLE
  * (non-self-intersecting) by caller contract — the same contract every
  * WKT POLYGON carries, CHECKABLE scan-side via [[RingIsSimpleExpr]]
  * (`st_is_simple_ring`), so untrusted geometry becomes countable
  * rejects before it reaches this kernel.
  */
case class ClipAreaGeneralExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // expensive-kernel marker — see ClipAreaExpr.deterministic
  override lazy val deterministic: Boolean = false

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private def ringTypeOk(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_general needs array<array<struct<x,y>>> subject rings, got ${left.dataType}")
    else if (!ringTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_general needs one array<struct<x,y>> simple clip ring, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(rings: Any, clip: Any): Any =
    ClipExprs.clipAreaGeneral(rings.asInstanceOf[ArrayData], clip.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c) =>
      s"${ev.value} = graft.functions.ClipExprs.clipAreaGeneral($r, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Subject polygon (rings) ∩ a FULL clip POLYGON — outer ring concave
  * allowed, holes allowed — → exact area: ring 0 is the outer boundary,
  * every further ring a hole, each measured by the ear-clipping general
  * kernel and combined as area(S ∩ outer) − Σ area(S ∩ holeᵢ) (exact
  * for valid polygons: holes are disjoint and inside the outer ring, so
  * S∩holeᵢ ⊆ S∩outer). Both sides of a zonal-stats join can now be
  * arbitrary real polygons-with-holes.
  */
case class ClipAreaGeneralRingsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // expensive-kernel marker — see ClipAreaExpr.deterministic
  override lazy val deterministic: Boolean = false

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_polygon needs array<array<struct<x,y>>> subject rings, got ${left.dataType}")
    else if (!ringsTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_polygon needs array<array<struct<x,y>>> clip rings, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(rings: Any, clip: Any): Any =
    ClipExprs.clipAreaGeneralMulti(
      rings.asInstanceOf[ArrayData], clip.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c) =>
      s"${ev.value} = graft.functions.ClipExprs.clipAreaGeneralMulti($r, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Subject polygon (rings) ∩ a MULTIPOLYGON clip window — the
  * archipelago case [[ClipAreaGeneralRingsExpr]] rejects (its ring-0 −
  * Σholes combination assumes ONE outer). The clip is the flat st_rings
  * list of a valid MULTIPOLYGON: members split by RING ORIENTATION —
  * every ring wound like ring 0 is an outer boundary, every
  * opposite-wound ring a hole (the shapefile/OGC winding convention) —
  * and area(S ∩ MP) = Σ area(S ∩ outerᵢ) − Σ area(S ∩ holeⱼ), each term
  * the ear-clipping general kernel, accumulated in ring emission order
  * (the order the oracle replays). Exact for VALID multipolygons
  * (member interiors disjoint, holes inside their member — overlapping
  * members double-count by construction and are the caller's contract
  * to reject, checkable per ring via st_is_simple_ring); fail-closed on
  * zero-area, unclosed, or degenerate rings.
  */
case class ClipAreaMultiPolygonExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // expensive-kernel marker — see ClipAreaExpr.deterministic
  override lazy val deterministic: Boolean = false

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_multipolygon needs array<array<struct<x,y>>> subject rings, got ${left.dataType}")
    else if (!ringsTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_area_multipolygon needs array<array<struct<x,y>>> clip rings, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(rings: Any, clip: Any): Any =
    ClipExprs.clipAreaMultiPoly(
      rings.asInstanceOf[ArrayData], clip.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c) =>
      s"${ev.value} = graft.functions.ClipExprs.clipAreaMultiPoly($r, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** GEOMETRY-EMITTING box clip (the r15 verdict's top gap): the same
  * Sutherland–Hodgman passes as [[ClipAreaExpr]], but the final closed
  * vertex lists are RETURNED (st_rings layout, one entry per input
  * ring, empty for rings clipped away) instead of being folded to a
  * shoelace area — so a clipped segment store can be WRITTEN back out
  * (ringsToWkt → GeoParquet), not just measured. The emitted lists are
  * the kernel's own intermediates: folding them in the kernel's term
  * order reproduces st_clip_area BITWISE (ClipAreaSpec gates it;
  * SpatialOps.ringsArea groups its Column fold as ((acc+p)−q) — same
  * operands, ulp-close), and the DuckDB oracle replays every pass and
  * emits the identical vertices in identical IEEE order.
  *
  * Contract note: S-H on CONCAVE subjects emits degenerate boundary
  * bridges (the box edge traced forward and back) — the vertex list is
  * AREA-FAITHFUL (signed sum exact), not minimal; consumers needing
  * minimal rings should simplify downstream. Ring order and winding are
  * preserved from the input, so holes keep subtracting by orientation.
  */
case class ClipRingsBoxExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private def envTypeOk(t: DataType): Boolean = t match {
    case s: StructType =>
      s.length == 4 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields.map(_.name).sameElements(Array("xmin", "ymin", "xmax", "ymax"))
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_box_geom needs array<array<struct<x:double,y:double>>> rings, got ${left.dataType}")
    else if (!envTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_box_geom needs a struct<xmin,ymin,xmax,ymax:double> box, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ClipExprs.ringsType

  override protected def nullSafeEval(rings: Any, env: Any): Any =
    ClipExprs.clipRingsBox(rings.asInstanceOf[ArrayData], env.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, e) =>
      s"${ev.value} = graft.functions.ClipExprs.clipRingsBox($r, $e);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** GEOMETRY-EMITTING convex-window clip — [[ClipAreaPolyExpr]]'s passes
  * with the final vertex lists returned (see [[ClipRingsBoxExpr]] for
  * the emission contract). General/ear-decomposed windows emit a
  * PIECEWISE tiling instead (one piece per ear × subject ring, seam
  * edges preserved) via [[ClipRingsGeneralExpr]] — dissolve the pieces
  * with CoverageArea.unionGeometry* when one merged boundary is needed.
  */
case class ClipRingsConvexExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ringsTypeOk(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private def ringTypeOk(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ringsTypeOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_poly_geom needs array<array<struct<x,y>>> subject rings, got ${left.dataType}")
    else if (!ringTypeOk(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_poly_geom needs one array<struct<x,y>> convex clip ring, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ClipExprs.ringsType

  override protected def nullSafeEval(rings: Any, clip: Any): Any =
    ClipExprs.clipRingsConvex(rings.asInstanceOf[ArrayData], clip.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c) =>
      s"${ev.value} = graft.functions.ClipExprs.clipRingsConvex($r, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** GEOMETRY-EMITTING general-window clip (r16): [[ClipAreaGeneralExpr]]'s
  * deterministic ear decomposition with each ear's clipped vertex lists
  * returned instead of folded — a piecewise tiling of subject ∩ clip
  * (see [[ClipExprs.clipRingsGeneral]] for the piece contract).
  */
case class ClipRingsGeneralExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ClipExprs.ringsTypeOkShared(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_general_geom needs array<array<struct<x,y>>> subject rings, got ${left.dataType}")
    else if (!ClipExprs.ringTypeOkShared(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"clip_general_geom needs one array<struct<x,y>> SIMPLE clip ring, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ClipExprs.ringsType

  override protected def nullSafeEval(rings: Any, clip: Any): Any =
    ClipExprs.clipRingsGeneral(rings.asInstanceOf[ArrayData], clip.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, c) =>
      s"${ev.value} = graft.functions.ClipExprs.clipRingsGeneral($r, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** GEOMETRY-EMITTING box DIFFERENCE (r16): subject − box as the
  * four-strip piecewise tiling (see [[ClipExprs.clipRingsBoxComplement]]).
  */
case class ClipRingsBoxComplementExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ClipExprs.ringsTypeOkShared(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"difference_box_geom needs array<array<struct<x,y>>> rings, got ${left.dataType}")
    else if (!ClipExprs.envTypeOkShared(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"difference_box_geom needs a struct<xmin,ymin,xmax,ymax:double> box, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ClipExprs.ringsType

  override protected def nullSafeEval(rings: Any, env: Any): Any =
    ClipExprs.clipRingsBoxComplement(rings.asInstanceOf[ArrayData], env.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, e) =>
      s"${ev.value} = graft.functions.ClipExprs.clipRingsBoxComplement($r, $e);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The box-difference MEASURE twin of [[ClipRingsBoxComplementExpr]]. */
case class ClipAreaBoxComplementExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // expensive-kernel marker — see ClipAreaExpr.deterministic
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (!ClipExprs.ringsTypeOkShared(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"difference_box_area needs array<array<struct<x,y>>> rings, got ${left.dataType}")
    else if (!ClipExprs.envTypeOkShared(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"difference_box_area needs a struct<xmin,ymin,xmax,ymax:double> box, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(rings: Any, env: Any): Any =
    ClipExprs.clipAreaBoxComplement(rings.asInstanceOf[ArrayData], env.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, e) =>
      s"${ev.value} = graft.functions.ClipExprs.clipAreaBoxComplement($r, $e);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ClipExprs {

  // shared structural checkers for the r16 expressions (the pre-r16
  // classes keep their local copies untouched — identical logic)
  private[functions] def ringsTypeOkShared(t: DataType): Boolean = t match {
    case ArrayType(ArrayType(s: StructType, _), _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private[functions] def ringTypeOkShared(t: DataType): Boolean = t match {
    case ArrayType(s: StructType, _) =>
      s.length == 2 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields(0).name == "x" && s.fields(1).name == "y"
    case _ => false
  }

  private[functions] def envTypeOkShared(t: DataType): Boolean = t match {
    case s: StructType =>
      s.length == 4 && s.fields.forall(_.dataType == DoubleType) &&
        s.fields.map(_.name).sameElements(Array("xmin", "ymin", "xmax", "ymax"))
    case _ => false
  }

  /** The st_rings layout — also the emitted-geometry type of the
    * clip_*_geom forms. */
  val ringsType: DataType = ArrayType(ArrayType(
    StructType(Seq(
      org.apache.spark.sql.types.StructField("x", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("y", DoubleType, nullable = false))),
    containsNull = false), containsNull = false)

  /** Column entry: rings in the st_rings layout, env in the bbox-struct
    * layout ([[SpatialOps.bbox]]). */
  def clipArea(rings: Column, env: Column): Column =
    GraftBridge.column(ClipAreaExpr(
      GraftBridge.expression(rings), GraftBridge.expression(env)))

  /** Column entry: the CLIPPED RINGS of subject ∩ box (one entry per
    * input ring, empty when the ring is clipped away). */
  def clipRingsBoxCol(rings: Column, env: Column): Column =
    GraftBridge.column(ClipRingsBoxExpr(
      GraftBridge.expression(rings), GraftBridge.expression(env)))

  /** Column entry: the CLIPPED RINGS of subject ∩ one convex clip ring. */
  def clipRingsConvexCol(rings: Column, clipRing: Column): Column =
    GraftBridge.column(ClipRingsConvexExpr(
      GraftBridge.expression(rings), GraftBridge.expression(clipRing)))

  /** Column entry: the PIECEWISE tiling of subject ∩ one SIMPLE clip
    * ring (concave allowed) — one piece per (ear, subject ring). */
  def clipRingsGeneralCol(rings: Column, clipRing: Column): Column =
    GraftBridge.column(ClipRingsGeneralExpr(
      GraftBridge.expression(rings), GraftBridge.expression(clipRing)))

  /** Column entry: the PIECEWISE tiling of subject − box — one piece
    * per (complement strip, subject ring). */
  def clipRingsBoxComplementCol(rings: Column, env: Column): Column =
    GraftBridge.column(ClipRingsBoxComplementExpr(
      GraftBridge.expression(rings), GraftBridge.expression(env)))

  /** Column entry: the subject − box difference AREA. */
  def clipAreaBoxComplementCol(rings: Column, env: Column): Column =
    GraftBridge.column(ClipAreaBoxComplementExpr(
      GraftBridge.expression(rings), GraftBridge.expression(env)))

  /** Column entry: subject rings ∩ one convex clip ring (closed,
    * array<struct<x,y>> — e.g. `element_at(st_rings(wkt), 1)`). */
  def clipAreaPoly(rings: Column, clipRing: Column): Column =
    GraftBridge.column(ClipAreaPolyExpr(
      GraftBridge.expression(rings), GraftBridge.expression(clipRing)))

  /** Column entry: subject rings ∩ one SIMPLE clip ring (concave
    * allowed) via ear-clipping + the convex kernel per ear. */
  def clipAreaGeneralCol(rings: Column, clipRing: Column): Column =
    GraftBridge.column(ClipAreaGeneralExpr(
      GraftBridge.expression(rings), GraftBridge.expression(clipRing)))

  /** Column entry: subject rings ∩ a FULL clip polygon (outer + holes,
    * the st_rings layout on both sides). */
  def clipAreaPolygonCol(rings: Column, clipRings: Column): Column =
    GraftBridge.column(ClipAreaGeneralRingsExpr(
      GraftBridge.expression(rings), GraftBridge.expression(clipRings)))

  /** Column entry: subject rings ∩ a MULTIPOLYGON clip window (flat
    * st_rings layout; members split by ring orientation vs ring 0). */
  def clipAreaMultiPolygonCol(rings: Column, clipRings: Column): Column =
    GraftBridge.column(ClipAreaMultiPolygonExpr(
      GraftBridge.expression(rings), GraftBridge.expression(clipRings)))

  /** [[ClipAreaMultiPolygonExpr]]'s kernel: rings wound like ring 0 are
    * outers (+), opposite-wound rings holes (−), each term
    * [[clipAreaGeneral]], left-folded in ring emission order.
    */
  def clipAreaMultiPoly(rings: ArrayData, clip: ArrayData): Double = {
    val nc = clip.numElements()
    if (nc < 1)
      throw new IllegalArgumentException("multipolygon clip needs >= 1 ring")
    var w0 = 0.0
    var total = 0.0
    var i = 0
    while (i < nc) {
      if (clip.isNullAt(i))
        throw new IllegalArgumentException(s"null clip ring at index $i")
      val r = clip.getArray(i)
      val n = r.numElements()
      val xs = new Array[Double](n)
      val ys = new Array[Double](n)
      var j = 0
      while (j < n) {
        if (r.isNullAt(j))
          throw new IllegalArgumentException(s"null point at clip ring $i index $j")
        val p = r.getStruct(j, 2)
        if (p.isNullAt(0) || p.isNullAt(1))
          throw new IllegalArgumentException(s"null coordinate at clip ring $i index $j")
        xs(j) = p.getDouble(0)
        ys(j) = p.getDouble(1)
        j += 1
      }
      val w = cross(xs, ys)
      if (w == 0.0)
        throw new IllegalArgumentException(s"clip ring $i has zero area")
      if (i == 0) w0 = w
      val a = clipAreaGeneral(rings, r)
      total = if ((w > 0.0) == (w0 > 0.0)) total + a else total - a
      i += 1
    }
    total
  }

  /** [[ClipAreaGeneralRingsExpr]]'s kernel: ring 0 positive, every
    * further ring (a hole) subtracted, each through [[clipAreaGeneral]]
    * in ring order — the emission order the oracle replays.
    */
  def clipAreaGeneralMulti(rings: ArrayData, clip: ArrayData): Double = {
    val nc = clip.numElements()
    if (nc < 1)
      throw new IllegalArgumentException("clip polygon needs >= 1 ring")
    var total = 0.0
    var i = 0
    while (i < nc) {
      if (clip.isNullAt(i))
        throw new IllegalArgumentException(s"null clip ring at index $i")
      val a = clipAreaGeneral(rings, clip.getArray(i))
      total = if (i == 0) a else total - a
      i += 1
    }
    total
  }

  /** One ring's coordinates, fail-closed on structural nulls (shared by
    * the geometry-emitting kernels; the area kernels keep their original
    * inline loops untouched). */
  private def ringCoords(r: ArrayData, ri: Int): (Array[Double], Array[Double]) = {
    val n = r.numElements()
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (r.isNullAt(i))
        throw new IllegalArgumentException(s"null point at ring $ri index $i (malformed WKT?)")
      val p = r.getStruct(i, 2)
      if (p.isNullAt(0) || p.isNullAt(1))
        throw new IllegalArgumentException(s"null coordinate at ring $ri index $i (malformed WKT?)")
      xs(i) = p.getDouble(0)
      ys(i) = p.getDouble(1)
      i += 1
    }
    (xs, ys)
  }

  /** Closed coordinate lists → the st_rings ArrayData layout. */
  private def toRingsData(rings: Array[(Array[Double], Array[Double])])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = new Array[Any](rings.length)
    var ri = 0
    while (ri < rings.length) {
      val (xs, ys) = rings(ri)
      val pts = new Array[Any](xs.length)
      var i = 0
      while (i < xs.length) {
        pts(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](xs(i), ys(i)))
        i += 1
      }
      out(ri) = new org.apache.spark.sql.catalyst.util.GenericArrayData(pts)
      ri += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[ClipRingsBoxExpr]]'s kernel: the clipAreaBox passes VERBATIM, the
    * final closed lists returned instead of folded — so the emitted
    * geometry's area is bitwise the area kernel's. */
  def clipRingsBox(rings: ArrayData, env: InternalRow): ArrayData = {
    if (env.isNullAt(0) || env.isNullAt(1) || env.isNullAt(2) || env.isNullAt(3))
      throw new IllegalArgumentException("null box coordinate in clip_box_geom")
    val xmin = env.getDouble(0)
    val ymin = env.getDouble(1)
    val xmax = env.getDouble(2)
    val ymax = env.getDouble(3)
    if (!(xmin <= xmax && ymin <= ymax))
      throw new IllegalArgumentException(
        s"inverted clip box ($xmin,$ymin,$xmax,$ymax)")
    val nr = rings.numElements()
    val out = new Array[(Array[Double], Array[Double])](nr)
    var ri = 0
    while (ri < nr) {
      if (rings.isNullAt(ri))
        throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
      var st = ringCoords(rings.getArray(ri), ri)
      st = clipPass(st._1, st._2, onX = true, bound = xmin, keepGE = true)
      st = clipPass(st._1, st._2, onX = true, bound = xmax, keepGE = false)
      st = clipPass(st._1, st._2, onX = false, bound = ymin, keepGE = true)
      st = clipPass(st._1, st._2, onX = false, bound = ymax, keepGE = false)
      out(ri) = st
      ri += 1
    }
    toRingsData(out)
  }

  /** [[ClipRingsConvexExpr]]'s kernel: clipAreaConvex's validation and
    * passes verbatim, final lists returned. */
  def clipRingsConvex(rings: ArrayData, clip: ArrayData): ArrayData = {
    val m = clip.numElements()
    if (m < 4)
      throw new IllegalArgumentException(
        s"convex clip ring needs >= 4 points (closed), got $m")
    val (cx, cy) = ringCoords(clip, -1)
    if (cx(0) != cx(m - 1) || cy(0) != cy(m - 1))
      throw new IllegalArgumentException("clip ring must be closed (first == last)")
    val twice = cross(cx, cy)
    if (twice == 0.0)
      throw new IllegalArgumentException("clip ring has zero area")
    val ccw = twice > 0.0
    var i = 0
    while (i < m - 1) {
      val j = if (i + 2 <= m - 1) i + 2 else 1
      val turn = (cx(i + 1) - cx(i)) * (cy(j) - cy(i + 1)) -
        (cy(i + 1) - cy(i)) * (cx(j) - cx(i + 1))
      if (if (ccw) turn < 0.0 else turn > 0.0)
        throw new IllegalArgumentException(
          s"clip ring is not convex (reflex turn at vertex ${i + 1})")
      i += 1
    }
    val nr = rings.numElements()
    val out = new Array[(Array[Double], Array[Double])](nr)
    var ri = 0
    while (ri < nr) {
      if (rings.isNullAt(ri))
        throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
      var st = ringCoords(rings.getArray(ri), ri)
      var e = 0
      while (e < m - 1) {
        st = clipPassEdge(st._1, st._2, cx(e), cy(e), cx(e + 1), cy(e + 1), ccw)
        e += 1
      }
      out(ri) = st
      ri += 1
    }
    toRingsData(out)
  }

  /** The box COMPLEMENT as four convex strips with DISJOINT interiors
    * (left of xmin; right of xmax; the bottom and top middles bounded by
    * both x walls), each an intersection of half-planes run as the
    * ordinary [[clipPass]] chain in this FIXED order — the oracle
    * replays it. Together the strips tile the plane minus the box, so
    * subject ∩ strips = subject − box exactly.
    */
  private def complementStrips(xmin: Double, ymin: Double, xmax: Double,
      ymax: Double): Array[Array[(Boolean, Double, Boolean)]] = Array(
    Array((true, xmin, false)),
    Array((true, xmax, true)),
    Array((true, xmin, true), (true, xmax, false), (false, ymin, false)),
    Array((true, xmin, true), (true, xmax, false), (false, ymax, true)))

  private def boxOf(env: InternalRow, what: String): (Double, Double, Double, Double) = {
    if (env.isNullAt(0) || env.isNullAt(1) || env.isNullAt(2) || env.isNullAt(3))
      throw new IllegalArgumentException(s"null box coordinate in $what")
    val xmin = env.getDouble(0)
    val ymin = env.getDouble(1)
    val xmax = env.getDouble(2)
    val ymax = env.getDouble(3)
    if (!(xmin <= xmax && ymin <= ymax))
      throw new IllegalArgumentException(
        s"inverted clip box ($xmin,$ymin,$xmax,$ymax)")
    (xmin, ymin, xmax, ymax)
  }

  /** [[ClipRingsBoxComplementExpr]]'s kernel: subject − box EMITTED as
    * the per-strip clipped vertex lists — one piece per (strip, subject
    * ring) in strip-major order, EMPTIES KEPT so position
    * strip·nRings+ring names its pair. Strip interiors are disjoint, so
    * the pieces tile the difference (seam edges along the strip walls —
    * a tiling, not a dissolved boundary), and the per-strip area fold
    * reproduces [[clipAreaBoxComplement]] BITWISE (ClipAreaSpec gates
    * it, plus diff + clip ≡ subject area within ulps).
    */
  def clipRingsBoxComplement(rings: ArrayData, env: InternalRow): ArrayData = {
    val (xmin, ymin, xmax, ymax) = boxOf(env, "difference_box_geom")
    val strips = complementStrips(xmin, ymin, xmax, ymax)
    val nr = rings.numElements()
    val out = new Array[(Array[Double], Array[Double])](4 * nr)
    var si = 0
    while (si < 4) {
      var ri = 0
      while (ri < nr) {
        if (rings.isNullAt(ri))
          throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
        var st = ringCoords(rings.getArray(ri), ri)
        var p = 0
        while (p < strips(si).length) {
          val (onX, b, ge) = strips(si)(p)
          st = clipPass(st._1, st._2, onX, b, ge)
          p += 1
        }
        out(si * nr + ri) = st
        ri += 1
      }
      si += 1
    }
    toRingsData(out)
  }

  /** [[ClipAreaBoxComplementExpr]]'s kernel: the difference MEASURE —
    * per strip the signed crosses of all subject rings summed then
    * |·|/2 (the clipAreaBox fold on the strip), strips summed in the
    * fixed order. Real-exact: strips tile the complement, so the total
    * is area(subject) − area(subject ∩ box).
    */
  def clipAreaBoxComplement(rings: ArrayData, env: InternalRow): Double = {
    val (xmin, ymin, xmax, ymax) = boxOf(env, "difference_box_area")
    val strips = complementStrips(xmin, ymin, xmax, ymax)
    val nr = rings.numElements()
    var total = 0.0
    var si = 0
    while (si < 4) {
      var stripCross = 0.0
      var ri = 0
      while (ri < nr) {
        if (rings.isNullAt(ri))
          throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
        var st = ringCoords(rings.getArray(ri), ri)
        var p = 0
        while (p < strips(si).length) {
          val (onX, b, ge) = strips(si)(p)
          st = clipPass(st._1, st._2, onX, b, ge)
          p += 1
        }
        stripCross += cross(st._1, st._2)
        ri += 1
      }
      total += math.abs(stripCross) / 2.0
      si += 1
    }
    total
  }

  /** Static kernel (also the codegen target). Fail-closed on null
    * points/coordinates and inverted boxes — the GeomPredExprs doctrine:
    * a malformed input must reject, not fabricate geometry.
    */
  def clipAreaBox(rings: ArrayData, env: InternalRow): Double = {
    if (env.isNullAt(0) || env.isNullAt(1) || env.isNullAt(2) || env.isNullAt(3))
      throw new IllegalArgumentException("null box coordinate in clip_area")
    val xmin = env.getDouble(0)
    val ymin = env.getDouble(1)
    val xmax = env.getDouble(2)
    val ymax = env.getDouble(3)
    if (!(xmin <= xmax && ymin <= ymax))
      throw new IllegalArgumentException(
        s"inverted clip box ($xmin,$ymin,$xmax,$ymax)")
    var total = 0.0
    var ri = 0
    while (ri < rings.numElements()) {
      if (rings.isNullAt(ri))
        throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
      val r = rings.getArray(ri)
      val n = r.numElements()
      val xs = new Array[Double](n)
      val ys = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (r.isNullAt(i))
          throw new IllegalArgumentException(s"null point at ring index $i (malformed WKT?)")
        val p = r.getStruct(i, 2)
        if (p.isNullAt(0) || p.isNullAt(1))
          throw new IllegalArgumentException(s"null coordinate at ring index $i (malformed WKT?)")
        xs(i) = p.getDouble(0)
        ys(i) = p.getDouble(1)
        i += 1
      }
      // the four half-plane passes, fixed order (mirrored by the oracle)
      var st = (xs, ys)
      st = clipPass(st._1, st._2, onX = true, bound = xmin, keepGE = true)
      st = clipPass(st._1, st._2, onX = true, bound = xmax, keepGE = false)
      st = clipPass(st._1, st._2, onX = false, bound = ymin, keepGE = true)
      st = clipPass(st._1, st._2, onX = false, bound = ymax, keepGE = false)
      total += cross(st._1, st._2)
      ri += 1
    }
    math.abs(total) / 2.0
  }

  /** [[ClipAreaPolyExpr]]'s kernel: subject rings clipped by each edge of
    * one convex closed ring. The inside test per clip edge a→b is the
    * side value s(p) = (bx−ax)·(py−ay) − (by−ay)·(px−ax) compared against
    * 0 in the ring's winding direction; intersections use
    * t = s(p) / (s(p) − s(q)) on the same side values.
    */
  def clipAreaConvex(rings: ArrayData, clip: ArrayData): Double = {
    val m = clip.numElements()
    if (m < 4)
      throw new IllegalArgumentException(
        s"convex clip ring needs >= 4 points (closed), got $m")
    val cx = new Array[Double](m)
    val cy = new Array[Double](m)
    var i = 0
    while (i < m) {
      if (clip.isNullAt(i))
        throw new IllegalArgumentException(s"null point at clip index $i")
      val p = clip.getStruct(i, 2)
      if (p.isNullAt(0) || p.isNullAt(1))
        throw new IllegalArgumentException(s"null coordinate at clip index $i")
      cx(i) = p.getDouble(0)
      cy(i) = p.getDouble(1)
      i += 1
    }
    if (cx(0) != cx(m - 1) || cy(0) != cy(m - 1))
      throw new IllegalArgumentException("clip ring must be closed (first == last)")
    // winding via the shoelace sign; convexity via uniform turn signs
    val twice = cross(cx, cy)
    if (twice == 0.0)
      throw new IllegalArgumentException("clip ring has zero area")
    val ccw = twice > 0.0
    i = 0
    while (i < m - 1) {
      // turn at vertex i+1 (wrapping the closed list: successor of the
      // last edge is the first edge)
      val j = if (i + 2 <= m - 1) i + 2 else 1
      val turn = (cx(i + 1) - cx(i)) * (cy(j) - cy(i + 1)) -
        (cy(i + 1) - cy(i)) * (cx(j) - cx(i + 1))
      if (if (ccw) turn < 0.0 else turn > 0.0)
        throw new IllegalArgumentException(
          s"clip ring is not convex (reflex turn at vertex ${i + 1})")
      i += 1
    }
    var total = 0.0
    var ri = 0
    while (ri < rings.numElements()) {
      if (rings.isNullAt(ri))
        throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
      val r = rings.getArray(ri)
      val n = r.numElements()
      val xs = new Array[Double](n)
      val ys = new Array[Double](n)
      i = 0
      while (i < n) {
        if (r.isNullAt(i))
          throw new IllegalArgumentException(s"null point at ring index $i (malformed WKT?)")
        val p = r.getStruct(i, 2)
        if (p.isNullAt(0) || p.isNullAt(1))
          throw new IllegalArgumentException(s"null coordinate at ring index $i (malformed WKT?)")
        xs(i) = p.getDouble(0)
        ys(i) = p.getDouble(1)
        i += 1
      }
      var st = (xs, ys)
      var e = 0
      while (e < m - 1) {
        st = clipPassEdge(st._1, st._2, cx(e), cy(e), cx(e + 1), cy(e + 1), ccw)
        e += 1
      }
      total += cross(st._1, st._2)
      ri += 1
    }
    math.abs(total) / 2.0
  }

  /** [[ClipAreaGeneralExpr]]'s kernel: deterministic ear-clipping of the
    * clip ring, the convex pass/shoelace arithmetic per ear triangle,
    * areas summed in emission order. Ear rule (deterministic, so the
    * fixture oracles can hard-code the resulting triangle index lists):
    * scan positions from 0, take the FIRST vertex whose turn is strictly
    * convex in the ring's winding AND whose triangle contains no other
    * remaining vertex (closed containment — a vertex ON the candidate
    * ear's boundary blocks it, which keeps touching-but-valid geometry
    * out of wrong ears); cut, restart the scan. A full scan with no ear
    * means the ring is degenerate or self-intersecting → fail-closed.
    */
  def clipAreaGeneral(rings: ArrayData, clip: ArrayData): Double = {
    val m = clip.numElements()
    if (m < 4)
      throw new IllegalArgumentException(
        s"clip ring needs >= 4 points (closed), got $m")
    val cx = new Array[Double](m)
    val cy = new Array[Double](m)
    var i = 0
    while (i < m) {
      if (clip.isNullAt(i))
        throw new IllegalArgumentException(s"null point at clip index $i")
      val p = clip.getStruct(i, 2)
      if (p.isNullAt(0) || p.isNullAt(1))
        throw new IllegalArgumentException(s"null coordinate at clip index $i")
      cx(i) = p.getDouble(0)
      cy(i) = p.getDouble(1)
      i += 1
    }
    if (cx(0) != cx(m - 1) || cy(0) != cy(m - 1))
      throw new IllegalArgumentException("clip ring must be closed (first == last)")
    val twice = cross(cx, cy)
    if (twice == 0.0)
      throw new IllegalArgumentException("clip ring has zero area")
    val sign = if (twice > 0.0) 1.0 else -1.0
    // subject rings extracted ONCE (each ear triangle re-clips them)
    val nr = rings.numElements()
    val subjX = new Array[Array[Double]](nr)
    val subjY = new Array[Array[Double]](nr)
    var ri = 0
    while (ri < nr) {
      if (rings.isNullAt(ri))
        throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
      val r = rings.getArray(ri)
      val n = r.numElements()
      val xs = new Array[Double](n)
      val ys = new Array[Double](n)
      i = 0
      while (i < n) {
        if (r.isNullAt(i))
          throw new IllegalArgumentException(s"null point at ring index $i (malformed WKT?)")
        val p = r.getStruct(i, 2)
        if (p.isNullAt(0) || p.isNullAt(1))
          throw new IllegalArgumentException(s"null coordinate at ring index $i (malformed WKT?)")
        xs(i) = p.getDouble(0)
        ys(i) = p.getDouble(1)
        i += 1
      }
      subjX(ri) = xs
      subjY(ri) = ys
      ri += 1
    }
    // area(subject ∩ triangle a→b→c→a), the clipAreaConvex arithmetic
    // with the convexity re-verify elided (a strictly-convex ear IS one)
    def triArea(a: Int, b: Int, c: Int): Double = {
      val tx = Array(cx(a), cx(b), cx(c), cx(a))
      val ty = Array(cy(a), cy(b), cy(c), cy(a))
      val tw = cross(tx, ty)
      // a collinear leftover triangle (possible only as the last one, on
      // rings with collinear runs) covers no area — contribute exactly 0
      // instead of clipping against an undefined winding
      if (tw == 0.0) return 0.0
      val ccwT = tw > 0.0
      var total = 0.0
      var rj = 0
      while (rj < nr) {
        var st = (subjX(rj), subjY(rj))
        var e = 0
        while (e < 3) {
          st = clipPassEdge(st._1, st._2, tx(e), ty(e), tx(e + 1), ty(e + 1), ccwT)
          e += 1
        }
        total += cross(st._1, st._2)
        rj += 1
      }
      math.abs(total) / 2.0
    }
    val ears = earOrder(cx, cy, sign)
    var acc = 0.0
    var ei = 0
    while (ei < ears.length) {
      acc += triArea(ears(ei)._1, ears(ei)._2, ears(ei)._3)
      ei += 1
    }
    acc
  }

  /** The deterministic ear-cut ORDER shared by the general area and
    * geometry-emitting kernels (rule documented at [[clipAreaGeneral]];
    * extracted verbatim — the cut order never depended on the area fold,
    * so the oracled j23/j25/j26 decompositions are unchanged).
    */
  private def earOrder(cx: Array[Double], cy: Array[Double], sign: Double)
      : Array[(Int, Int, Int)] = {
    val m = cx.length
    def sideVal(px: Double, py: Double, ax: Double, ay: Double,
        bx: Double, by: Double): Double =
      (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    // raw int working list (ArrayBuffer boxes; this runs once per
    // candidate pair in the general-kernel joins) — the scan order,
    // comparisons, and cut sequence are the ArrayBuffer original's
    // verbatim, so the oracled j23/j25/j26 decompositions are unchanged
    var L = m - 1
    val idx = new Array[Int](L)
    var ii = 0
    while (ii < L) { idx(ii) = ii; ii += 1 }
    val out = new Array[(Int, Int, Int)](math.max(L - 2, 1))
    var oi = 0
    while (L > 3) {
      var found = -1
      var t = 0
      while (found < 0 && t < L) {
        val a = idx((t + L - 1) % L)
        val b = idx(t)
        val c = idx((t + 1) % L)
        val turn = (cx(b) - cx(a)) * (cy(c) - cy(b)) -
          (cy(b) - cy(a)) * (cx(c) - cx(b))
        if (sign * turn > 0.0) {
          var ok = true
          var u = 0
          while (ok && u < L) {
            val p = idx(u)
            if (p != a && p != b && p != c &&
                !(cx(p) == cx(a) && cy(p) == cy(a)) &&
                !(cx(p) == cx(b) && cy(p) == cy(b)) &&
                !(cx(p) == cx(c) && cy(p) == cy(c))) {
              val s1 = sign * sideVal(cx(p), cy(p), cx(a), cy(a), cx(b), cy(b))
              val s2 = sign * sideVal(cx(p), cy(p), cx(b), cy(b), cx(c), cy(c))
              val s3 = sign * sideVal(cx(p), cy(p), cx(c), cy(c), cx(a), cy(a))
              if (s1 >= 0.0 && s2 >= 0.0 && s3 >= 0.0) ok = false
            }
            u += 1
          }
          if (ok) found = t
        }
        t += 1
      }
      if (found < 0)
        throw new IllegalArgumentException(
          "no ear found: clip ring is degenerate or self-intersecting")
      out(oi) = ((idx((found + L - 1) % L), idx(found), idx((found + 1) % L)))
      oi += 1
      System.arraycopy(idx, found + 1, idx, found, L - found - 1)
      L -= 1
    }
    out(oi) = ((idx(0), idx(1), idx(2)))
    out
  }

  /** [[ClipRingsGeneralExpr]]'s kernel: [[clipAreaGeneral]]'s ear
    * decomposition VERBATIM (shared [[earOrder]]), each ear's three
    * convex passes run per subject ring and the final closed lists
    * RETURNED instead of folded. The output is a PIECEWISE TILING of
    * subject ∩ clip: one entry per (ear, subject ring) in ear-major
    * order, EMPTIES KEPT so position ear·nRings+ring names its pair;
    * adjacent pieces share seam edges along ear cuts (a tiling, not a
    * dissolved boundary — CoverageArea.unionGeometry* merges them), and
    * folding |Σ piece crosses|/2 per ear in emission order reproduces
    * clipAreaGeneral BITWISE (ClipAreaSpec gates it). A collinear
    * leftover ear (zero cross) covers no area and emits empty pieces.
    */
  def clipRingsGeneral(rings: ArrayData, clip: ArrayData): ArrayData = {
    val m = clip.numElements()
    if (m < 4)
      throw new IllegalArgumentException(
        s"clip ring needs >= 4 points (closed), got $m")
    val (cx, cy) = ringCoords(clip, -1)
    if (cx(0) != cx(m - 1) || cy(0) != cy(m - 1))
      throw new IllegalArgumentException("clip ring must be closed (first == last)")
    val twice = cross(cx, cy)
    if (twice == 0.0)
      throw new IllegalArgumentException("clip ring has zero area")
    val sign = if (twice > 0.0) 1.0 else -1.0
    val nr = rings.numElements()
    val subj = new Array[(Array[Double], Array[Double])](nr)
    var ri = 0
    while (ri < nr) {
      if (rings.isNullAt(ri))
        throw new IllegalArgumentException(s"null ring at index $ri (malformed WKT?)")
      subj(ri) = ringCoords(rings.getArray(ri), ri)
      ri += 1
    }
    val ears = earOrder(cx, cy, sign)
    val out = new Array[(Array[Double], Array[Double])](ears.length * nr)
    var ei = 0
    while (ei < ears.length) {
      val (a, b, c) = ears(ei)
      val tx = Array(cx(a), cx(b), cx(c), cx(a))
      val ty = Array(cy(a), cy(b), cy(c), cy(a))
      val tw = cross(tx, ty)
      var rj = 0
      while (rj < nr) {
        if (tw == 0.0)
          out(ei * nr + rj) = (Array.empty[Double], Array.empty[Double])
        else {
          val ccwT = tw > 0.0
          var st = subj(rj)
          var e = 0
          while (e < 3) {
            st = clipPassEdge(st._1, st._2, tx(e), ty(e), tx(e + 1), ty(e + 1), ccwT)
            e += 1
          }
          out(ei * nr + rj) = st
        }
        rj += 1
      }
      ei += 1
    }
    toRingsData(out)
  }

  /** One S-H pass against the half-plane left (ccw) or right (cw) of the
    * clip edge a→b; same emit rules as the box passes. Emission arithmetic
    * is unchanged from the ArrayBuffer original (the oracle replays it);
    * the buffers are raw primitive arrays — Scala's ArrayBuffer[Double]
    * boxes every element, and this is the hottest loop of the whole clip
    * family — and each vertex's side value is computed once and carried
    * to the next edge instead of twice (pure per-vertex function; the t
    * division consumes the identical sp/sq doubles).
    */
  private def clipPassEdge(xs: Array[Double], ys: Array[Double],
      ax: Double, ay: Double, bx: Double, by: Double,
      ccw: Boolean): (Array[Double], Array[Double]) = {
    val n = xs.length
    if (n < 2) return (Array.empty, Array.empty)
    // each edge emits at most 2 points, plus the closing copy
    val cap = 2 * (n - 1) + 1
    val ox = new Array[Double](cap)
    val oy = new Array[Double](cap)
    var k = 0
    def side(i: Int): Double =
      (bx - ax) * (ys(i) - ay) - (by - ay) * (xs(i) - ax)
    def inside(s: Double): Boolean = if (ccw) s >= 0.0 else s <= 0.0
    var sp = side(0)
    var inP = inside(sp)
    var i = 0
    while (i < n - 1) {
      val sq = side(i + 1)
      val inQ = inside(sq)
      if (inQ != inP) {
        val t = sp / (sp - sq)
        ox(k) = xs(i) + t * (xs(i + 1) - xs(i))
        oy(k) = ys(i) + t * (ys(i + 1) - ys(i))
        k += 1
      }
      if (inQ) { ox(k) = xs(i + 1); oy(k) = ys(i + 1); k += 1 }
      sp = sq
      inP = inQ
      i += 1
    }
    if (k > 0) { ox(k) = ox(0); oy(k) = oy(0); k += 1 }
    (java.util.Arrays.copyOf(ox, k), java.util.Arrays.copyOf(oy, k))
  }

  /** One Sutherland–Hodgman half-plane pass over a CLOSED vertex list
    * (first == last); returns the clipped list re-closed. Edge walk and
    * emit rules in the canonical order: for each edge p→q, inside q emits
    * q (preceded by the entry intersection when p is outside); outside q
    * emits only the exit intersection when p was inside.
    */
  private def clipPass(xs: Array[Double], ys: Array[Double],
      onX: Boolean, bound: Double, keepGE: Boolean): (Array[Double], Array[Double]) = {
    val n = xs.length
    if (n < 2) return (Array.empty, Array.empty)
    def inside(i: Int): Boolean = {
      val v = if (onX) xs(i) else ys(i)
      if (keepGE) v >= bound else v <= bound
    }
    // raw primitive buffers (ArrayBuffer[Double] boxes every element; this
    // is the hot loop of every box clip); each edge emits at most 2 points,
    // plus the closing copy. The emitted doubles are arithmetic-identical.
    val cap = 2 * (n - 1) + 1
    val ox = new Array[Double](cap)
    val oy = new Array[Double](cap)
    var k = 0
    def emitIsect(p: Int, q: Int): Unit = {
      if (onX) {
        val t = (bound - xs(p)) / (xs(q) - xs(p))
        ox(k) = bound
        oy(k) = ys(p) + t * (ys(q) - ys(p))
      } else {
        val t = (bound - ys(p)) / (ys(q) - ys(p))
        ox(k) = xs(p) + t * (xs(q) - xs(p))
        oy(k) = bound
      }
      k += 1
    }
    var inP = inside(0)
    var i = 0
    while (i < n - 1) {
      val inQ = inside(i + 1)
      if (inQ) {
        if (!inP) emitIsect(i, i + 1)
        ox(k) = xs(i + 1); oy(k) = ys(i + 1); k += 1
      } else if (inP) emitIsect(i, i + 1)
      inP = inQ
      i += 1
    }
    if (k > 0) { ox(k) = ox(0); oy(k) = oy(0); k += 1 }
    (java.util.Arrays.copyOf(ox, k), java.util.Arrays.copyOf(oy, k))
  }

  /** Shoelace signed sum over a closed list, sequential left fold (the
    * oracle's list_reduce order). */
  private def cross(xs: Array[Double], ys: Array[Double]): Double = {
    val n = xs.length
    if (n < 2) return 0.0
    var acc = 0.0
    var i = 0
    while (i < n - 1) {
      acc += xs(i) * ys(i + 1) - xs(i + 1) * ys(i)
      i += 1
    }
    acc
  }
}
