package graft

import graft.functions.{BBoxIntersectsExpr, CosineSimExpr, PointInRingsExpr, RegionDistSqExpr, RingsIntersectExpr, SortedIntersectCountExpr, TextOps, WithinDistExpr}
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's SQL function catalog — ONE list, installed by
  * `GraftExtensions.injectFunction` when `GraftSession.builder` builds
  * the session. Custom codegen'd expressions and Column-composition
  * functions share the registry so SQL and DataFrame users get the same
  * engine with no drift.
  */
object GraftFunctions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "scala_udf")

  private def composed(name: String, usage: String, arity: Int)(
      build: Seq[Column] => Column): Entry =
    (FunctionIdentifier(name), info(name, usage, TextOps.getClass),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$name expects $arity argument(s)")
        GraftBridge.toCatalyst(build(exprs.map(GraftBridge.column)))
      })

  /** Like `composed`, but the LAST argument must fold to an integer at
    * plan time (the geohash family bakes the precision into the generated
    * expression tree — a per-row precision would mean a per-row plan). */
  private def composedIntLast(name: String, usage: String, arity: Int)(
      build: (Seq[Column], Int) => Column): Entry =
    (FunctionIdentifier(name), info(name, usage, TextOps.getClass),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$name expects $arity argument(s)")
        require(exprs.last.foldable, s"$name: the last argument must be a literal integer")
        val p = exprs.last.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new IllegalArgumentException(
            s"$name: the last argument must be a literal integer, got $other")
        }
        GraftBridge.toCatalyst(build(exprs.init.map(GraftBridge.column), p))
      })

  val all: Seq[Entry] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float arrays (codegen'd fused loop)",
        classOf[CosineSimExpr]),
      (exprs: Seq[Expression]) => CosineSimExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_bbox_intersects"),
      info("st_bbox_intersects",
        "st_bbox_intersects(a, b) - closed-interval intersection of two (xmin,ymin,xmax,ymax) structs; " +
          "inner joins on it are rewritten to a binned equi-join (SpatialJoinRewrite)",
        classOf[BBoxIntersectsExpr]),
      (exprs: Seq[Expression]) => BBoxIntersectsExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count",
        "sorted_intersect_count(a, b) - |a ∩ b| of two SORTED string arrays (codegen'd merge walk); " +
          "sort with sort_array first — unsorted inputs undercount",
        classOf[SortedIntersectCountExpr]),
      (exprs: Seq[Expression]) => SortedIntersectCountExpr(exprs(0), exprs(1))),
    composed("graft_quality",
      "graft_quality(text) - [0,1] curation quality score (length saturation + stopword signal)", 1)(
      cs => TextOps.qualityScore(cs(0))),
    composed("graft_langid",
      "graft_langid(text) - stopword-vote language guess (de/en/es/fr/zh)", 1)(
      cs => TextOps.langGuess(cs(0))),
    composed("graft_token_count",
      "graft_token_count(text) - whitespace token count", 1)(
      cs => TextOps.tokenCount(cs(0))),
    composed("graft_fingerprint",
      "graft_fingerprint(text) - md5 of the sorted distinct token set (order/multiplicity-invariant)", 1)(
      cs => TextOps.fingerprint(cs(0))),
    composed("graft_simhash",
      "graft_simhash(text) - 16-bit SimHash of the distinct token set", 1)(
      cs => TextOps.simhash16(cs(0))),
    composed("graft_rolling_fp",
      "graft_rolling_fp(text) - order-sensitive polynomial rolling-hash fingerprint", 1)(
      cs => TextOps.rollingFingerprint(cs(0))),
    composed("graft_geo_area",
      "graft_geo_area(wkt) - geodesic polygon area in m2 of lon/lat WKT " +
        "(Chamberlain-Duquette spherical excess, WGS84 authalic sphere; holes subtract)", 1)(
      cs => graft.functions.SpatialOps.wktAreaGeodesic(cs(0))),
    composed("graft_geo_perimeter",
      "graft_geo_perimeter(wkt) - geodesic boundary length in m of lon/lat WKT " +
        "(great-circle haversine per segment, WGS84 authalic sphere)", 1)(
      cs => graft.functions.SpatialOps.wktPerimeterGeodesic(cs(0))),
    composed("graft_ell_area",
      "graft_ell_area(wkt) - TRUE-WGS84-ellipsoid polygon area in m2 of lon/lat WKT " +
        "(exact zone integral, trapezoidal edge sum; holes subtract)", 1)(
      cs => graft.functions.SpatialOps.wktAreaEllipsoidal(cs(0))),
    composed("graft_ell_perimeter",
      "graft_ell_perimeter(wkt) - TRUE-WGS84-ellipsoid boundary length in m of lon/lat WKT " +
        "(local-curvature arc per segment, mean-latitude M/N radii)", 1)(
      cs => graft.functions.SpatialOps.wktPerimeterEllipsoidal(cs(0))),
    // the r13 exact-geometry refine predicates (codegen kernels)
    (FunctionIdentifier("st_contains_point"),
      info("st_contains_point",
        "st_contains_point(rings, x, y) - TRUE point-in-polygon over parsed rings " +
          "(st_rings output): even-odd crossing number over all rings, closed boundary",
        classOf[PointInRingsExpr]),
      (exprs: Seq[Expression]) => PointInRingsExpr(exprs(0), exprs(1), exprs(2))),
    (FunctionIdentifier("st_rings_intersect"),
      info("st_rings_intersect",
        "st_rings_intersect(a, b) - TRUE polygon-overlap over two parsed ring lists " +
          "(segment orientation tests + representative-vertex containment; closed)",
        classOf[RingsIntersectExpr]),
      (exprs: Seq[Expression]) => RingsIntersectExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_region_dist_sq"),
      info("st_region_dist_sq",
        "st_region_dist_sq(rings, x, y) - squared region distance (0 inside the " +
          "polygon, else squared distance to the nearest ring segment)",
        classOf[RegionDistSqExpr]),
      (exprs: Seq[Expression]) => RegionDistSqExpr(exprs(0), exprs(1), exprs(2))),
    (FunctionIdentifier("st_within_dist"),
      info("st_within_dist",
        "st_within_dist(rings, x, y, d) - ST_DWithin(point, polygon): in the region, " +
          "or within d of its boundary (clamped segment projection; closed)",
        classOf[WithinDistExpr]),
      (exprs: Seq[Expression]) => WithinDistExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    composed("st_rings",
      "st_rings(wkt) - parse a WKT geometry's coordinate groups to " +
        "array<array<struct<x,y>>> (the refine predicates' input)", 1)(
      cs => graft.functions.SpatialOps.wktRings(cs(0))),
    composedIntLast("st_geohash",
      "st_geohash(lon, lat, precision) - base32 geohash cell id (precision in " +
        "[1,12] must be a literal; prefix-nesting bucketing key for lat/lon stores)", 3)(
      (cs, p) => graft.functions.SpatialOps.geohash(cs(0), cs(1), p)),
    composedIntLast("st_geohash_bbox",
      "st_geohash_bbox(gh, precision) - decode a geohash to its exact cell " +
        "envelope struct (xmin,ymin,xmax,ymax)", 2)(
      (cs, p) => graft.functions.SpatialOps.geohashBbox(cs(0), p)),
    composedIntLast("st_geohash_neighbors",
      "st_geohash_neighbors(gh, precision) - the up-to-8 surrounding cells " +
        "(lon wraps at the date line, poleward entries drop)", 2)(
      (cs, p) => graft.functions.SpatialOps.geohashNeighbors(cs(0), p)),
    (FunctionIdentifier("st_clip_area"),
      info("st_clip_area",
        "st_clip_area(rings, box) - EXACT polygon-intersect-box area " +
          "(Sutherland-Hodgman clip + shoelace; rings from st_rings, box a " +
          "(xmin,ymin,xmax,ymax) struct; holes subtract by orientation)",
        classOf[graft.functions.ClipAreaExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipAreaExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_area_poly"),
      info("st_clip_area_poly",
        "st_clip_area_poly(rings, clip_ring) - EXACT polygon-intersect-CONVEX-window " +
          "area (Sutherland-Hodgman per clip edge; clip_ring a closed " +
          "array<struct<x,y>>, fail-closed on concave windows)",
        classOf[graft.functions.ClipAreaPolyExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipAreaPolyExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_area_general"),
      info("st_clip_area_general",
        "st_clip_area_general(rings, clip_ring) - EXACT polygon-intersect-SIMPLE-ring " +
          "area, concave clip allowed (deterministic ear-clipping + the convex " +
          "kernel per ear; fail-closed on zero-area/ear-less rings)",
        classOf[graft.functions.ClipAreaGeneralExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipAreaGeneralExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_area_polygon"),
      info("st_clip_area_polygon",
        "st_clip_area_polygon(rings, clip_rings) - EXACT polygon-intersect-POLYGON " +
          "area, both sides concave-with-holes (ring 0 positive, holes subtract)",
        classOf[graft.functions.ClipAreaGeneralRingsExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipAreaGeneralRingsExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_area_multipolygon"),
      info("st_clip_area_multipolygon",
        "st_clip_area_multipolygon(rings, clip_rings) - EXACT polygon-intersect-" +
          "MULTIPOLYGON area (flat clip ring list; rings wound like ring 0 are " +
          "member outers, opposite-wound rings holes; valid-multipolygon " +
          "disjoint-members contract)",
        classOf[graft.functions.ClipAreaMultiPolygonExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipAreaMultiPolygonExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_box_geom"),
      info("st_clip_box_geom",
        "st_clip_box_geom(rings, box) - the CLIPPED RINGS of polygon-intersect-box " +
          "(same Sutherland-Hodgman passes as st_clip_area, vertex lists returned: " +
          "one entry per input ring, empty when clipped away; area-faithful, not " +
          "minimal on concave subjects)",
        classOf[graft.functions.ClipRingsBoxExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipRingsBoxExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_poly_geom"),
      info("st_clip_poly_geom",
        "st_clip_poly_geom(rings, clip_ring) - the CLIPPED RINGS of polygon-" +
          "intersect-CONVEX-window (st_clip_area_poly's passes, vertex lists " +
          "returned; fail-closed on concave windows)",
        classOf[graft.functions.ClipRingsConvexExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipRingsConvexExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_clip_general_geom"),
      info("st_clip_general_geom",
        "st_clip_general_geom(rings, clip_ring) - the PIECEWISE tiling of " +
          "polygon-intersect-SIMPLE-window (st_clip_area_general's ear " +
          "decomposition, one piece per ear x subject ring, seam edges kept; " +
          "dissolve via coverage union for one merged boundary)",
        classOf[graft.functions.ClipRingsGeneralExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipRingsGeneralExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_difference_box_geom"),
      info("st_difference_box_geom",
        "st_difference_box_geom(rings, box) - the PIECEWISE tiling of " +
          "polygon MINUS box (the box complement as four disjoint convex " +
          "strips, each Sutherland-Hodgman clipped; one piece per strip x " +
          "subject ring, empties kept)",
        classOf[graft.functions.ClipRingsBoxComplementExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipRingsBoxComplementExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_difference_box_area"),
      info("st_difference_box_area",
        "st_difference_box_area(rings, box) - EXACT polygon-minus-box area " +
          "(st_difference_box_geom's strips folded; equals st_area - " +
          "st_clip_area in real arithmetic)",
        classOf[graft.functions.ClipAreaBoxComplementExpr]),
      (exprs: Seq[Expression]) => graft.functions.ClipAreaBoxComplementExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_convex_hull"),
      info("st_convex_hull",
        "st_convex_hull(points) - STRICT convex hull of an " +
          "array<struct<x,y>> point set as a closed CCW ring starting at " +
          "the lexicographic minimum (monotone chain; collinear boundary " +
          "points dropped; input order irrelevant; fail-closed when all " +
          "points are collinear)",
        classOf[graft.functions.ConvexHullExpr]),
      (exprs: Seq[Expression]) => graft.functions.ConvexHullExpr(exprs(0))),
    (FunctionIdentifier("st_hausdorff_boundary_sq"),
      info("st_hausdorff_boundary_sq",
        "st_hausdorff_boundary_sq(rings_a, rings_b) - symmetric vertex " +
          "Hausdorff distance^2 between two polygon BOUNDARIES (max over " +
          "each side's vertices of the clamped-segment boundary distance^2 " +
          "to the other - the standard discrete form)",
        classOf[graft.functions.HausdorffBoundarySqExpr]),
      (exprs: Seq[Expression]) => graft.functions.HausdorffBoundarySqExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_min_bbox_area"),
      info("st_min_bbox_area",
        "st_min_bbox_area(ring) - minimum-area bounding rectangle area of a " +
          "closed CONVEX ring (edge-flush rotating-calipers theorem; one " +
          "rational per edge, min value taken; hull non-convex inputs first " +
          "with st_convex_hull)",
        classOf[graft.functions.MbrAreaExpr]),
      (exprs: Seq[Expression]) => graft.functions.MbrAreaExpr(exprs(0))),
    (FunctionIdentifier("st_centroid"),
      info("st_centroid",
        "st_centroid(rings) - area-weighted polygon centroid as struct<x,y> " +
          "(shoelace first moment; holes wound opposite the outer subtract; " +
          "orientation-invariant; fail-closed on zero-signed-area polygons)",
        classOf[graft.functions.CentroidExpr]),
      (exprs: Seq[Expression]) => graft.functions.CentroidExpr(exprs(0))),
    (FunctionIdentifier("st_rings_wkt_auto"),
      info("st_rings_wkt_auto",
        "st_rings_wkt_auto(rings) - parsed rings to WKT with the geometry type " +
          "decided by winding: dominant-wound rings are outers, opposite-wound " +
          "rings holes assigned to their containing outer; POLYGON for one outer, " +
          "MULTIPOLYGON for several (the dissolve writer), POLYGON EMPTY for none",
        classOf[graft.functions.RingsToWktAutoExpr]),
      (exprs: Seq[Expression]) => graft.functions.RingsToWktAutoExpr(exprs(0))),
    composed("st_clip_general_wkt",
      "st_clip_general_wkt(wkt, clip_ring) - clip a WKT polygon to one SIMPLE " +
        "(concave allowed) window ring and re-emit WKT (parse -> " +
        "st_clip_general_geom -> st_rings_wkt_auto; piecewise tiling, " +
        "area-exact vs st_clip_area_general)", 2)(
      cs => graft.functions.SpatialOps.wktClipGeneral(cs(0), cs(1))),
    composed("st_clip_path_box",
      "st_clip_path_box(points, box) - parametric clip of an OPEN path " +
        "(LINESTRING vertex list, one st_rings entry) to a bbox struct: " +
        "array<struct<seg_i,ax,ay,bx,by>> of kept sub-segments in input " +
        "order (zero-length boundary touches kept)", 2)(
      cs => graft.functions.SpatialOps.clipSegmentsBox(cs(0), cs(1))),
    composed("st_difference_box_wkt",
      "st_difference_box_wkt(wkt, box) - subtract a bbox from a WKT polygon " +
        "and re-emit WKT (parse -> st_difference_box_geom -> " +
        "st_rings_wkt_auto; piecewise tiling, area-exact vs " +
        "st_difference_box_area)", 2)(
      cs => graft.functions.SpatialOps.wktDifferenceBox(cs(0), cs(1))),
    composed("st_clip_box_wkt",
      "st_clip_box_wkt(wkt, box) - clip a WKT polygon to a bbox struct and " +
        "re-emit WKT (parse -> st_clip_box_geom -> st_rings_wkt)", 2)(
      cs => graft.functions.SpatialOps.wktClipToBox(cs(0), cs(1))),
    composed("st_simplify_wkt",
      "st_simplify_wkt(wkt, eps) - Douglas-Peucker every ring of a WKT polygon " +
        "and re-emit WKT", 2)(
      cs => graft.functions.SpatialOps.wktSimplify(cs(0), cs(1))),
    composed("st_buffer_convex_wkt",
      "st_buffer_convex_wkt(wkt, d) - miter-buffer a convex single-ring WKT " +
        "polygon outward by d and re-emit WKT", 2)(
      cs => graft.functions.SpatialOps.wktBufferConvex(cs(0), cs(1))),
    composed("st_rings_wkt",
      "st_rings_wkt(rings) - parsed rings back to a WKT POLYGON string (the " +
        "st_rings inverse; empty rings skipped, all-empty renders POLYGON EMPTY) " +
        "- bridges computed geometry to the WKT sinks", 1)(
      cs => graft.functions.SpatialOps.ringsToWkt(cs(0))),
    (FunctionIdentifier("st_buffer_convex"),
      info("st_buffer_convex",
        "st_buffer_convex(ring, d) - miter-offset a STRICTLY convex closed ring " +
          "outward by d (exact line-intersection joins; fail-closed on reflex or " +
          "collinear turns - simplify first); d=0 is the identity",
        classOf[graft.functions.BufferConvexExpr]),
      (exprs: Seq[Expression]) => graft.functions.BufferConvexExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_simplify_path"),
      info("st_simplify_path",
        "st_simplify_path(points, eps) - Douglas-Peucker thinning of an OPEN " +
          "polyline (the st_simplify_ring kernel: endpoints always kept, no " +
          "closure assumed - trajectory/GPS-trace simplification)",
        classOf[graft.functions.SimplifyRingExpr]),
      (exprs: Seq[Expression]) => graft.functions.SimplifyRingExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_simplify_ring"),
      info("st_simplify_ring",
        "st_simplify_ring(ring, eps) - Douglas-Peucker vertex thinning of one " +
          "closed ring to within eps (deterministic: first-max split, exact " +
          "squared point-to-line deviation, strict > eps^2); degenerate outputs " +
          "return as-is - validate with st_is_simple_ring",
        classOf[graft.functions.SimplifyRingExpr]),
      (exprs: Seq[Expression]) => graft.functions.SimplifyRingExpr(exprs(0), exprs(1))),
    (FunctionIdentifier("st_is_simple_ring"),
      info("st_is_simple_ring",
        "st_is_simple_ring(ring) - true iff the closed ring is SIMPLE (no " +
          "self-crossing, no touch, no spike, no repeated vertex) - the " +
          "checkable form of the clip kernels' simple-ring caller contract; " +
          "O(n^2) segment-pair scan, unclosed/short rings are false",
        classOf[graft.functions.RingIsSimpleExpr]),
      (exprs: Seq[Expression]) => graft.functions.RingIsSimpleExpr(exprs(0))),
    (FunctionIdentifier("st_is_valid_polygon"),
      info("st_is_valid_polygon",
        "st_is_valid_polygon(rings) - true iff the polygon is valid: every " +
          "ring simple, holes wound opposite the outer, no cross-ring edge " +
          "crossing/overlap (point-touches allowed), every hole inside the " +
          "outer, holes not nested, and the interior CONNECTED (no touch " +
          "chain closing a loop through distinct points)",
        classOf[graft.functions.PolygonIsValidExpr]),
      (exprs: Seq[Expression]) => graft.functions.PolygonIsValidExpr(exprs(0))),
    composedIntLast("graft_hilbert",
      "graft_hilbert(x, y, bits) - Hilbert curve distance of BIGINT cell (x, y) " +
        "on the 2^bits x 2^bits grid (bits a literal in [1,31]); the " +
        "adjacent-consecutive clustering key behind writeHilbertOrdered — " +
        "quantize and CAST coordinates to BIGINT first (fail-closed on range)", 3)(
      (cs, p) => graft.functions.HilbertExprs.indexCol(cs(0), cs(1), p)))
}
