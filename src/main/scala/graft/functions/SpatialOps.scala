package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial expression catalog (SURVEY.md §2.4 J6, §4 custom item 3).
  *
  * The reference's spatial machinery is the affine grid transform carried by
  * every raster (feature_stacking.py:79-84,308-311) plus implied
  * point-in-pixel joins for training samples (pixel_classifier_stream.py:26)
  * and the bbox reasoning of tiled reads. Re-expressed relationally:
  *   - world↔pixel affine mapping as Column arithmetic (north-up grids:
  *     x = originX + col·pxW, y = originY − row·pxH)
  *   - bbox envelopes as (xmin,ymin,xmax,ymax) structs with
  *     intersects/contains predicates — the GeoParquet-style pruning column
  *   - point-in-cell spatial join = derive (row,col) keys then EQUI-join:
  *     a shuffle join on integers, never a cross-join — the scale-correct
  *     shape for "N billion points into a grid".
  */
object SpatialOps {

  /** World x → pixel column under a north-up affine grid. */
  def pixelColOf(x: Column, originX: Column, pxW: Column): Column =
    floor((x - originX) / pxW).cast("int")

  /** World y → pixel row (y decreases downward from origin). */
  def pixelRowOf(y: Column, originY: Column, pxH: Column): Column =
    floor((originY - y) / pxH).cast("int")

  /** Pixel center in world coordinates. */
  def cellCenterX(c: Column, originX: Column, pxW: Column): Column =
    originX + (c.cast("double") + 0.5) * pxW
  def cellCenterY(r: Column, originY: Column, pxH: Column): Column =
    originY - (r.cast("double") + 0.5) * pxH

  /** Envelope struct (xmin, ymin, xmax, ymax). */
  def bbox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    struct(xmin.cast("double").as("xmin"), ymin.cast("double").as("ymin"),
      xmax.cast("double").as("xmax"), ymax.cast("double").as("ymax"))

  def bboxIntersects(a: Column, b: Column): Column =
    a.getField("xmin") <= b.getField("xmax") && b.getField("xmin") <= a.getField("xmax") &&
      a.getField("ymin") <= b.getField("ymax") && b.getField("ymin") <= a.getField("ymax")

  def bboxContainsPoint(b: Column, x: Column, y: Column): Column =
    x >= b.getField("xmin") && x <= b.getField("xmax") &&
      y >= b.getField("ymin") && y <= b.getField("ymax")

  /** Envelope of a WKT polygon (as produced by Segmentation.polygonize):
    * min/max over the coordinate stream — gives polygon tables a pruning
    * column without a geometry library.
    */
  def wktEnvelope(wkt: Column): Column = {
    val nums = transform(
      filter(split(regexp_replace(wkt, "[A-Z()]+", ""), "\\s*,\\s*"), s => s =!= ""),
      p => struct(
        split(trim(p), " ").getItem(0).cast("double").as("x"),
        split(trim(p), " ").getItem(1).cast("double").as("y")))
    bbox(
      array_min(transform(nums, _.getField("x"))),
      array_min(transform(nums, _.getField("y"))),
      array_max(transform(nums, _.getField("x"))),
      array_max(transform(nums, _.getField("y"))))
  }

  // ---- WKT polygon measures (GeoParquet-style geometry column surface) ----
  //
  // Rings follow the WKT convention (exterior CCW, holes CW), so the plain
  // signed-shoelace sum over all rings yields net area and the matching
  // centroid; perimeter and point count are orientation-independent. All
  // math is Column HOFs over the parsed coordinate arrays — no geometry
  // library, distributes like any projection.

  private def ringPts(r: Column): Column = WktParse.ptsCol(r)

  /** WKT POLYGON (or MULTIPOLYGON / MULTILINESTRING — any innermost
    * coordinate group) → array of rings, each an array of (x,y) structs
    * (closed: first point repeats last, as WKT requires for rings). The
    * extraction is the flat list of innermost parenthesized groups, so
    * the polygon grouping of a MULTIPOLYGON is dropped — exactly right
    * for every measure here: areas are signed per ring (holes are CW and
    * subtract), perimeter/moments/counts are plain sums over rings.
    */
  def wktRings(wkt: Column): Column = WktParse.ringsCol(wkt)

  /** The INVERSE of [[wktRings]] — parsed rings back to a WKT POLYGON
    * string, so computed geometry (the clip_*_geom emissions, traced
    * segment boundaries) can be WRITTEN through the WKT sinks
    * (GeoParquet/GPKG/shapefile). Coordinates render via Spark's
    * double→string cast (Java shortest-round-trip), so
    * `wktRings(ringsToWkt(r)) == r` BITWISE — the round trip loses
    * nothing. Empty rings are skipped (a clip that removed a hole);
    * all-empty input renders the OGC `POLYGON EMPTY`.
    */
  def ringsToWkt(rings: Column): Column = WktEmit.polygon(rings)

  // ---- WKT-level geometry constructors (r16): parse → construct → emit
  // in one Column composition, so a WKT store round-trips through the
  // clip/simplify/buffer kernels without the caller staging rings.

  /** WKT polygon clipped to a box, back as WKT (empty → POLYGON EMPTY). */
  def wktClipToBox(wkt: Column, box: Column): Column =
    ringsToWkt(ClipExprs.clipRingsBoxCol(wktRings(wkt), box))

  /** WKT polygon clipped to one SIMPLE (concave allowed) window ring,
    * back as WKT — the piecewise tiling renders through the winding-
    * aware auto emitter (outer pieces group, clipped holes nest inside
    * their containing piece), so the result is a valid POLYGON /
    * MULTIPOLYGON whose total area is exactly st_clip_area_general. */
  def wktClipGeneral(wkt: Column, clipRing: Column): Column =
    RingsWkt.ringsToWktAuto(ClipExprs.clipRingsGeneralCol(wktRings(wkt), clipRing))

  /** WKT polygon MINUS a box, back as WKT — the four-strip tiling
    * renders through the winding-aware auto emitter; total area is
    * exactly st_difference_box_area. */
  def wktDifferenceBox(wkt: Column, box: Column): Column =
    RingsWkt.ringsToWktAuto(ClipExprs.clipRingsBoxComplementCol(wktRings(wkt), box))

  /** Parametric (Liang–Barsky-style) clip of an OPEN path to a box —
    * the LINESTRING counterpart of the polygon clips (r16): per input
    * segment p→q the slab entry/exit parameters
    * t₀ = greatest(0, tx₀, ty₀), t₁ = least(1, tx₁, ty₁) with each
    * axis's tᵢ a sign-of-direction CASE ((lo−c)/d entering when d>0,
    * (hi−c)/d when d<0, inside-test constants 0/1 vs reject sentinels
    * 2/−1 when d=0); the segment survives iff t₀ ≤ t₁ and its clipped
    * endpoints are p + tᵢ·d evaluated coordinate-wise. Returns
    * array<struct<seg_i,ax,ay,bx,by>> of kept sub-segments in input
    * order (zero-length boundary touches kept — they are geometry).
    * Pure Column algebra so the oracle mirrors the identical IEEE
    * chain; greatest/least select one bit-identical operand (the ±0
    * ambiguity cannot leak: t·d then c + (±0) reproduce c exactly).
    */
  def clipSegmentsBox(pts: Column, box: Column): Column = {
    val xmin = box.getField("xmin")
    val ymin = box.getField("ymin")
    val xmax = box.getField("xmax")
    val ymax = box.getField("ymax")
    def t0Of(d: Column, c: Column, lo: Column, hi: Column): Column =
      when(d > 0, (lo - c) / d).when(d < 0, (hi - c) / d)
        .otherwise(when(c >= lo && c <= hi, lit(0.0)).otherwise(lit(2.0)))
    def t1Of(d: Column, c: Column, lo: Column, hi: Column): Column =
      when(d > 0, (hi - c) / d).when(d < 0, (lo - c) / d)
        .otherwise(when(c >= lo && c <= hi, lit(1.0)).otherwise(lit(-1.0)))
    // a path with < 2 points has no segments — guard BEFORE sequence():
    // sequence(1, 0) auto-steps DOWNWARD ([1, 0]) and would read invalid
    // indices (r16b review)
    val segIdx = when(size(pts) >= 2, sequence(lit(1), size(pts) - 1))
      .otherwise(array().cast("array<int>"))
    filter(
      transform(segIdx, i => {
        val p = element_at(pts, i)
        val q = element_at(pts, i + 1)
        val px = p.getField("x")
        val py = p.getField("y")
        val dx = q.getField("x") - px
        val dy = q.getField("y") - py
        val t0 = greatest(lit(0.0), t0Of(dx, px, xmin, xmax), t0Of(dy, py, ymin, ymax))
        val t1 = least(lit(1.0), t1Of(dx, px, xmin, xmax), t1Of(dy, py, ymin, ymax))
        when(t0 <= t1, struct(
          (i - 1).cast("int").as("seg_i"),
          (px + t0 * dx).as("ax"), (py + t0 * dy).as("ay"),
          (px + t1 * dx).as("bx"), (py + t1 * dy).as("by")))
          .otherwise(lit(null))
      }),
      s => s.isNotNull)
  }

  /** WKT polygon with every ring Douglas–Peucker-simplified to eps. */
  def wktSimplify(wkt: Column, eps: Column): Column =
    ringsToWkt(transform(wktRings(wkt), r => SimplifyExprs.simplifyRingCol(r, eps)))

  /** WKT convex polygon (single ring) miter-buffered outward by d.
    * Multi-ring input (holes, MULTIPOLYGON members) fails LOUDLY — a
    * silent first-ring buffer would discard geometry (r16 review). */
  def wktBufferConvex(wkt: Column, d: Column): Column = {
    val rings = wktRings(wkt)
    val ring = when(size(rings) === 1, element_at(rings, 1))
      .otherwise(raise_error(concat(
        lit("st_buffer_convex_wkt needs a single-ring polygon, got "),
        size(rings).cast("string"),
        lit(" rings — buffer rings individually via st_buffer_convex"))))
    ringsToWkt(array(BufferExprs.bufferConvexCol(ring, d)))
  }

  /** Σ (x_i·y_{i+1} − x_{i+1}·y_i) over a closed ring = 2·signed area. */
  private def ringCross(pts: Column): Column =
    when(size(pts) < 2, lit(0.0)).otherwise(
      aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (acc, i) =>
        acc + element_at(pts, i).getField("x") * element_at(pts, i + 1).getField("y")
          - element_at(pts, i + 1).getField("x") * element_at(pts, i).getField("y")))

  // The rings-typed entry points exist so multi-measure projections can
  // STAGE the parse: HOF expressions get no common-subexpression reuse, so
  // `wktArea(w), wktPerimeter(w), …` re-parses the WKT once per measure;
  // `withColumn("_rings", wktRings(w))` then the rings* forms parses once.

  /** 2·signed net area of parsed rings (holes negative under convention). */
  def ringsCross(rings: Column): Column =
    aggregate(rings, lit(0.0), (acc, r) => acc + ringCross(r))

  /** Polygon area from parsed rings (holes subtract). */
  def ringsArea(rings: Column): Column = abs(ringsCross(rings)) / 2

  /** Total boundary length (exterior + holes) from parsed rings. */
  def ringsPerimeter(rings: Column): Column =
    aggregate(rings, lit(0.0), (acc, pts) =>
      acc + when(size(pts) < 2, lit(0.0)).otherwise(
        aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (a, i) =>
          a + sqrt(
            pow(element_at(pts, i + 1).getField("x") - element_at(pts, i).getField("x"), 2) +
              pow(element_at(pts, i + 1).getField("y") - element_at(pts, i).getField("y"), 2)))))

  /** Shoelace first moment along `axis` ("x"|"y"); centroid coordinate =
    * moment / (3 · ringsCross). Exposed so a staged projection can share
    * one ringsCross column between both centroid coordinates.
    */
  def ringsMoment(rings: Column, axis: String): Column =
    aggregate(rings, lit(0.0), (acc, pts) =>
      acc + when(size(pts) < 2, lit(0.0)).otherwise(
        aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (a, i) => {
          val cross =
            element_at(pts, i).getField("x") * element_at(pts, i + 1).getField("y") -
              element_at(pts, i + 1).getField("x") * element_at(pts, i).getField("y")
          a + (element_at(pts, i).getField(axis) + element_at(pts, i + 1).getField(axis)) * cross
        })))

  /** Area-weighted centroid as struct(x, y) from parsed rings. */
  def ringsCentroid(rings: Column): Column = {
    val c = ringsCross(rings)
    struct((ringsMoment(rings, "x") / (lit(3.0) * c)).as("x"),
      (ringsMoment(rings, "y") / (lit(3.0) * c)).as("y"))
  }

  /** Total coordinate count as written (closing points included). */
  def ringsNumPoints(rings: Column): Column =
    aggregate(rings, lit(0), (acc, r) => acc + size(r))

  /** Envelope struct of parsed rings — the staged twin of [[wktEnvelope]]
    * (parse once, derive envelope + refine predicate from the same rings).
    */
  def ringsEnvelope(rings: Column): Column = {
    val flat = flatten(rings)
    bbox(
      array_min(transform(flat, _.getField("x"))),
      array_min(transform(flat, _.getField("y"))),
      array_max(transform(flat, _.getField("x"))),
      array_max(transform(flat, _.getField("y"))))
  }

  // ---- exact geometry predicates (filter-REFINE: the step after bbox) ----
  //
  // The PBSM join ([[graft.operators.SpatialJoin.bboxJoin]]) filters
  // candidates by envelope; these predicates decide the TRUE relationship
  // on the ring geometry (the reference's Stage-2 output is real polygons,
  // image_segmentation.py:160-162 — joining points or other polygons to
  // them by actual containment/overlap is the first post-bbox query).
  //
  // Containment is the crossing-number (even-odd) test evaluated over ALL
  // rings at once, so holes need no special casing: a point inside a hole
  // crosses the exterior ring once and the hole ring once — even parity,
  // outside. Boundary points are detected separately (exact collinearity +
  // on-segment bbox) and count as INSIDE — CLOSED semantics, matching the
  // closed bbox predicates above, so a refine can only SHRINK the bbox
  // candidate set (never resurrect a pair bbox pruning dropped).
  //
  // Every operation is +,−,×,÷ and comparisons over doubles: IEEE ops are
  // correctly rounded and neither engine reorders float expressions, so a
  // SQL oracle evaluating the identical form reproduces each decision
  // bit-for-bit — these predicates are hash-oracle-able, not just testable.

  /** Rightward-ray crossing count of point (x,y) vs every ring segment.
    * Half-open edge rule: a segment counts when its endpoints straddle y
    * strictly ((y1 > y) ≠ (y2 > y)) and the ray origin is strictly left of
    * the crossing — the standard form whose parity is containment for any
    * simple polygon, concave included. Exposed (rather than private) so
    * oracles can hash-check the raw count, not just the parity.
    */
  def ringsCrossingNumber(rings: Column, x: Column, y: Column): Column =
    aggregate(rings, lit(0), (acc, pts) =>
      acc + when(size(pts) < 2, lit(0)).otherwise(
        aggregate(sequence(lit(1), size(pts) - 1), lit(0), (a, i) => {
          val x1 = element_at(pts, i).getField("x")
          val y1 = element_at(pts, i).getField("y")
          val x2 = element_at(pts, i + 1).getField("x")
          val y2 = element_at(pts, i + 1).getField("y")
          a + when(((y1 > y) =!= (y2 > y)) &&
              (x < x1 + (y - y1) * (x2 - x1) / (y2 - y1)), lit(1))
            .otherwise(lit(0))
        })))

  /** Point lies exactly on some ring segment: zero cross product
    * (collinear) and inside the segment's coordinate range. Exact under
    * IEEE arithmetic — for integer/dyadic coordinates (every generated
    * fixture and all reasonable projected data at metre scale) the cross
    * product is computed without rounding, so the test is a true geometric
    * predicate, not an epsilon heuristic.
    */
  def ringsPointOnBoundary(rings: Column, x: Column, y: Column): Column =
    exists(rings, pts =>
      when(size(pts) < 2, lit(false)).otherwise(
        exists(sequence(lit(1), size(pts) - 1), i => {
          val x1 = element_at(pts, i).getField("x")
          val y1 = element_at(pts, i).getField("y")
          val x2 = element_at(pts, i + 1).getField("x")
          val y2 = element_at(pts, i + 1).getField("y")
          ((x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)) === lit(0.0) &&
            x >= least(x1, x2) && x <= greatest(x1, x2) &&
            y >= least(y1, y2) && y <= greatest(y1, y2)
        })))

  /** TRUE point-in-polygon (closed): on the boundary, or odd crossing
    * parity. Holes via even-odd; MULTIPOLYGON works unchanged (the flat
    * ring list sums crossings over all parts — a point is in the multi iff
    * it is in exactly one part, which is odd total parity for disjoint
    * parts).
    */
  def ringsContainPoint(rings: Column, x: Column, y: Column): Column =
    ringsPointOnBoundary(rings, x, y) ||
      (ringsCrossingNumber(rings, x, y) % 2 === 1)

  /** Point-in-polygon on a WKT geometry column (parse + refine in one).
    * Convenience form: the HOF tree re-parses the WKT per reference
    * (boundary test + crossing count), so hot paths — every join refine —
    * should stage `wktRings` into a column once and use
    * [[GeomPredExprs.pointInRings]] (the codegen kernel) on it instead.
    */
  def wktContainsPoint(wkt: Column, x: Column, y: Column): Column =
    ringsContainPoint(wktRings(wkt), x, y)

  /** Squared distance from (x,y) to the nearest point on any ring SEGMENT
    * (the polygon BOUNDARY): per segment, the clamped projection
    * t = max(0, min(1, ((x−x1)·dx + (y−y1)·dy) / L²)) (zero-length
    * segments fall back to their endpoint), then the squared offset to
    * the projected point. Interior points get their boundary distance —
    * compose with [[ringsContainPoint]] for region semantics
    * ([[ringsWithinDist]]). Single-point "rings" (MULTIPOINT canonical
    * form) have no segments and contribute nothing. Same hash-oracle-able
    * IEEE algebra as the other refine predicates.
    */
  def ringsBoundaryDistSq(rings: Column, x: Column, y: Column): Column =
    aggregate(rings, lit(Double.MaxValue), (acc, pts) =>
      when(size(pts) < 2, acc).otherwise(
        aggregate(sequence(lit(1), size(pts) - 1), acc, (a, i) => {
          val x1 = element_at(pts, i).getField("x")
          val y1 = element_at(pts, i).getField("y")
          val x2 = element_at(pts, i + 1).getField("x")
          val y2 = element_at(pts, i + 1).getField("y")
          val dx = x2 - x1
          val dy = y2 - y1
          val l2 = dx * dx + dy * dy
          val t = when(l2 === lit(0.0), lit(0.0)).otherwise(
            greatest(lit(0.0), least(lit(1.0),
              ((x - x1) * dx + (y - y1) * dy) / l2)))
          val qx = x1 + t * dx
          val qy = y1 + t * dy
          least(a, (x - qx) * (x - qx) + (y - qy) * (y - qy))
        })))

  /** TRUE "within distance" — ST_DWithin(point, polygon) semantics: the
    * point lies in the region (distance 0), or within `dist` of its
    * boundary. A point inside a HOLE is outside the region, so its
    * distance is to the hole ring — which is part of the boundary, so
    * the composition is exactly region-distance ≤ dist (closed).
    */
  def ringsWithinDist(rings: Column, x: Column, y: Column, dist: Column): Column =
    ringsContainPoint(rings, x, y) ||
      (ringsBoundaryDistSq(rings, x, y) <= dist * dist)

  /** Squared REGION distance (ST_Distance² for a point vs a polygon):
    * 0 inside the region, else the boundary distance² — the VALUE form
    * the nearest-neighbor join ranks on ([[GeomPredExprs.regionDistSqCol]]
    * is the codegen twin).
    */
  def ringsRegionDistSq(rings: Column, x: Column, y: Column): Column =
    when(ringsContainPoint(rings, x, y), lit(0.0))
      .otherwise(ringsBoundaryDistSq(rings, x, y))

  /** 2×cross-product orientation of c relative to directed segment a→b. */
  private def orient2(ax: Column, ay: Column, bx: Column, by: Column,
      cx: Column, cy: Column): Column =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  /** Closed segment-pair intersection (CLRS 33.1): proper crossing via
    * opposite orientation signs on both sides, plus the four collinear
    * endpoint-on-segment touch cases.
    */
  private def segmentsIntersect(
      x1: Column, y1: Column, x2: Column, y2: Column,
      x3: Column, y3: Column, x4: Column, y4: Column): Column = {
    val d1 = orient2(x3, y3, x4, y4, x1, y1)
    val d2 = orient2(x3, y3, x4, y4, x2, y2)
    val d3 = orient2(x1, y1, x2, y2, x3, y3)
    val d4 = orient2(x1, y1, x2, y2, x4, y4)
    val z = lit(0.0)
    def on(ax: Column, ay: Column, bx: Column, by: Column,
        cx: Column, cy: Column): Column =
      cx >= least(ax, bx) && cx <= greatest(ax, bx) &&
        cy >= least(ay, by) && cy <= greatest(ay, by)
    (((d1 > z && d2 < z) || (d1 < z && d2 > z)) &&
      ((d3 > z && d4 < z) || (d3 < z && d4 > z))) ||
      (d1 === z && on(x3, y3, x4, y4, x1, y1)) ||
      (d2 === z && on(x3, y3, x4, y4, x2, y2)) ||
      (d3 === z && on(x1, y1, x2, y2, x3, y3)) ||
      (d4 === z && on(x1, y1, x2, y2, x4, y4))
  }

  /** Any segment of rings `a` intersects any segment of rings `b`
    * (closed; touching counts). O(|a|·|b|) segment pairs per row — the
    * REFINE cost shape: candidates already survived bbox pruning, and
    * real polygon rings are tens of points, so the constant is small.
    */
  def ringsEdgesIntersect(a: Column, b: Column): Column =
    exists(a, pa => when(size(pa) < 2, lit(false)).otherwise(
      exists(sequence(lit(1), size(pa) - 1), i =>
        exists(b, pb => when(size(pb) < 2, lit(false)).otherwise(
          exists(sequence(lit(1), size(pb) - 1), j =>
            segmentsIntersect(
              element_at(pa, i).getField("x"), element_at(pa, i).getField("y"),
              element_at(pa, i + 1).getField("x"), element_at(pa, i + 1).getField("y"),
              element_at(pb, j).getField("x"), element_at(pb, j).getField("y"),
              element_at(pb, j + 1).getField("x"), element_at(pb, j + 1).getField("y"))))))))

  /** TRUE polygon–polygon intersection (closed): the regions share at
    * least one point. Decided as: some edge pair intersects, OR one
    * polygon's representative vertex lies inside the other. The
    * representative-vertex argument: when NO edges cross, each polygon
    * lies entirely within a single face of the other's arrangement
    * (exterior, interior, or a hole), so any one of its points — the
    * first vertex of its first ring — decides for the whole region; a
    * polygon straddling a hole boundary would have crossing edges and is
    * caught by the edge test first. NULL/empty ring arrays propagate NULL
    * (fail-null, surfaced by the join dropping the row).
    */
  def ringsIntersectPolys(a: Column, b: Column): Column = {
    val pa = element_at(element_at(a, 1), 1)
    val pb = element_at(element_at(b, 1), 1)
    ringsEdgesIntersect(a, b) ||
      ringsContainPoint(b, pa.getField("x"), pa.getField("y")) ||
      ringsContainPoint(a, pb.getField("x"), pb.getField("y"))
  }

  /** Polygon overlap on WKT columns (parse + refine in one).
    * Convenience form: each WKT re-parses up to four times inside the
    * interpreted HOF tree (edge test, two containment branches, the
    * representative-vertex lookup) — hot paths should stage `wktRings`
    * once per side and use [[GeomPredExprs.ringsIntersect]] instead,
    * the way j17/j18 do.
    */
  def wktIntersects(a: Column, b: Column): Column =
    ringsIntersectPolys(wktRings(a), wktRings(b))

  // ---- geodesic measures (lon/lat degrees on the WGS84 authalic sphere) ----
  //
  // The planar shoelace above is correct for PROJECTED coordinates (the
  // reference's UTM segments); the moment a user measures lon/lat
  // geometries — which the engine actively produces via the inverse
  // projections and surfaces from .prj-less vector files — planar math is
  // wrong by cos(lat)² scale factors. These variants treat coordinates as
  // degrees on the sphere of WGS84's AUTHALIC radius (the equal-area
  // sphere, so areas are ellipsoid-consistent to ~0.1%):
  //   - area: the Chamberlain–Duquette spherical excess sum (JPL 07-03,
  //     the published algorithm GIS stacks evaluate for "geodesic area"
  //     on a sphere): 2A/R² = Σ (λ_{i+1} − λ_i)(2 + sin φ_i + sin φ_{i+1});
  //     exact for parallel/meridian-bounded quads (spherical band area),
  //     signed per ring so holes subtract under orientation convention
  //   - perimeter: great-circle haversine per segment
  // Same Column-HOF shape as the planar forms — no library, no shuffle.

  /** WGS84 authalic radius R_A = a·√(q_p/2) (Snyder 3-13): the sphere
    * with the ellipsoid's exact surface area.
    */
  val Wgs84AuthalicRadius: Double = {
    val a = 6378137.0
    val f = 1.0 / 298.257223563
    val e2 = f * (2 - f)
    val e = math.sqrt(e2)
    val qPole = 1 - ((1 - e2) / (2 * e)) * math.log((1 - e) / (1 + e))
    a * math.sqrt(qPole / 2)
  }

  private[graft] val Deg2Rad: Double = math.Pi / 180.0

  /** Signed Chamberlain–Duquette sum over one closed lon/lat ring. */
  private def ringGeoSum(pts: Column): Column =
    when(size(pts) < 2, lit(0.0)).otherwise(
      aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (acc, i) =>
        acc + (element_at(pts, i + 1).getField("x") * lit(Deg2Rad)
            - element_at(pts, i).getField("x") * lit(Deg2Rad)) *
          (lit(2.0) + sin(element_at(pts, i).getField("y") * lit(Deg2Rad))
            + sin(element_at(pts, i + 1).getField("y") * lit(Deg2Rad)))))

  /** Net signed spherical sum over all rings (holes subtract). */
  def ringsCrossGeodesic(rings: Column): Column =
    aggregate(rings, lit(0.0), (acc, r) => acc + ringGeoSum(r))

  /** Geodesic polygon area in m² from parsed lon/lat rings. */
  def ringsAreaGeodesic(rings: Column): Column =
    abs(ringsCrossGeodesic(rings)) * lit(Wgs84AuthalicRadius * Wgs84AuthalicRadius / 2.0)

  /** Geodesic boundary length in m (great-circle haversine per segment —
    * each term IS [[pointDistGeodesic]], one definition, no drift). */
  def ringsPerimeterGeodesic(rings: Column): Column =
    aggregate(rings, lit(0.0), (acc, pts) =>
      acc + when(size(pts) < 2, lit(0.0)).otherwise(
        aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (a, i) =>
          a + pointDistGeodesic(
            element_at(pts, i).getField("x"), element_at(pts, i).getField("y"),
            element_at(pts, i + 1).getField("x"), element_at(pts, i + 1).getField("y")))))

  /** Great-circle distance in m between two lon/lat points — the SAME
    * haversine chain as [[ringsPerimeterGeodesic]]'s per-segment term
    * (authalic-sphere radius, identical op order), exposed for point
    * pairs: trajectory steps, displacement, nearest-station queries.
    */
  /** The haversine distance as a plain Scala function — the typed-state
    * (streaming) twin of [[pointDistGeodesic]]: identical operation
    * order onto the same JVM Math primitives, so the two forms are
    * BITWISE equal (SpatialOpsSpec gates it) and a streaming fold's
    * running total can match a batch Column plan exactly. */
  def pointDistGeodesicScala(lon1: Double, lat1: Double,
      lon2: Double, lat2: Double): Double = {
    val phi1 = lat1 * Deg2Rad
    val phi2 = lat2 * Deg2Rad
    val sdp = math.sin((phi2 - phi1) / 2.0)
    val sdl = math.sin((lon2 * Deg2Rad - lon1 * Deg2Rad) / 2.0)
    (2.0 * Wgs84AuthalicRadius) *
      math.asin(math.sqrt(sdp * sdp + math.cos(phi1) * math.cos(phi2) * sdl * sdl))
  }

  def pointDistGeodesic(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val phi1 = lat1 * lit(Deg2Rad)
    val phi2 = lat2 * lit(Deg2Rad)
    val sdp = sin((phi2 - phi1) / lit(2.0))
    val sdl = sin((lon2 * lit(Deg2Rad) - lon1 * lit(Deg2Rad)) / lit(2.0))
    lit(2.0 * Wgs84AuthalicRadius) *
      asin(sqrt(sdp * sdp + cos(phi1) * cos(phi2) * sdl * sdl))
  }

  // ---- ellipsoidal measures (r13) ----
  //
  // The authalic-sphere forms above are ellipsoid-consistent to ~0.1%
  // (documented); these evaluate the TRUE WGS84 ellipsoid:
  //  - area: the exact ellipsoidal zone integral
  //    F(φ) = sinφ/(1−e²·sin²φ) + atanh(e·sinφ)/e (atanh spelled as the
  //    half-log so both engines evaluate the same primitive ops) in the
  //    same trapezoidal edge sum as Chamberlain–Duquette — EXACT for
  //    parallel/meridian-bounded shapes (the zone between two parallels
  //    has area Δλ·(b²/2)·(F(φ2)−F(φ1)) exactly), trapezoidal for
  //    arbitrary edges, signed per ring so holes subtract
  //  - perimeter: per-segment arc via the local meridional (M) and
  //    prime-vertical (N) curvature radii at the segment's mean latitude
  //    — exact to O(f·segment²), the survey-polygon regime (a
  //    continental-scale edge should use a geodesic solver, not a
  //    polygon census)

  // private[graft]: the g23 oracle interpolates these SAME doubles into
  // its DuckDB SQL — a second derivation could silently desynchronize
  private[graft] val Wgs84A: Double = 6378137.0
  private[graft] val Wgs84E2: Double = { val f = 1.0 / 298.257223563; f * (2 - f) }
  private[graft] val Wgs84E: Double = math.sqrt(Wgs84E2)
  private[graft] val Wgs84B2: Double = Wgs84A * Wgs84A * (1 - Wgs84E2)

  /** Ellipsoidal zone function F(φ) (φ in radians). */
  private def zoneF(phi: Column): Column = {
    val s = sin(phi)
    s / (lit(1.0) - lit(Wgs84E2) * s * s) +
      log((lit(1.0) + lit(Wgs84E) * s) / (lit(1.0) - lit(Wgs84E) * s)) / lit(2 * Wgs84E)
  }

  /** Signed trapezoidal Σ Δλ·(F(φ1)+F(φ2)) over one closed ring. */
  private def ringEllSum(pts: Column): Column =
    when(size(pts) < 2, lit(0.0)).otherwise(
      aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (acc, i) =>
        acc + (element_at(pts, i + 1).getField("x") * lit(Deg2Rad)
            - element_at(pts, i).getField("x") * lit(Deg2Rad)) *
          (zoneF(element_at(pts, i).getField("y") * lit(Deg2Rad))
            + zoneF(element_at(pts, i + 1).getField("y") * lit(Deg2Rad)))))

  /** TRUE-ellipsoid polygon area in m² from parsed lon/lat rings (holes
    * subtract under the orientation convention).
    */
  def ringsAreaEllipsoidal(rings: Column): Column =
    abs(aggregate(rings, lit(0.0), (a, r) => a + ringEllSum(r))) * lit(Wgs84B2 / 4.0)

  /** TRUE-ellipsoid boundary length in m from parsed lon/lat rings
    * (local-curvature arc per segment, mean-latitude evaluation).
    */
  def ringsPerimeterEllipsoidal(rings: Column): Column =
    aggregate(rings, lit(0.0), (acc, pts) =>
      acc + when(size(pts) < 2, lit(0.0)).otherwise(
        aggregate(sequence(lit(1), size(pts) - 1), lit(0.0), (a, i) => {
          val phi1 = element_at(pts, i).getField("y") * lit(Deg2Rad)
          val phi2 = element_at(pts, i + 1).getField("y") * lit(Deg2Rad)
          val lam1 = element_at(pts, i).getField("x") * lit(Deg2Rad)
          val lam2 = element_at(pts, i + 1).getField("x") * lit(Deg2Rad)
          val phim = (phi1 + phi2) / lit(2.0)
          val s = sin(phim)
          val w2 = lit(1.0) - lit(Wgs84E2) * s * s
          val m = lit(Wgs84A * (1 - Wgs84E2)) / (w2 * sqrt(w2))
          val n = lit(Wgs84A) / sqrt(w2)
          a + sqrt(pow(m * (phi2 - phi1), 2) + pow(n * cos(phim) * (lam2 - lam1), 2))
        })))

  /** TRUE-ellipsoid polygon area in m² of a lon/lat WKT polygon. */
  def wktAreaEllipsoidal(wkt: Column): Column = ringsAreaEllipsoidal(wktRings(wkt))

  /** TRUE-ellipsoid boundary length in m of a lon/lat WKT polygon. */
  def wktPerimeterEllipsoidal(wkt: Column): Column =
    ringsPerimeterEllipsoidal(wktRings(wkt))

  /** Geodesic polygon area in m² of a lon/lat WKT polygon. */
  def wktAreaGeodesic(wkt: Column): Column = ringsAreaGeodesic(wktRings(wkt))

  /** Geodesic boundary length in m of a lon/lat WKT polygon. */
  def wktPerimeterGeodesic(wkt: Column): Column = ringsPerimeterGeodesic(wktRings(wkt))

  /** Polygon area (holes subtract under the orientation convention). */
  def wktArea(wkt: Column): Column = ringsArea(wktRings(wkt))

  /** Total boundary length (exterior + holes). */
  def wktPerimeter(wkt: Column): Column = ringsPerimeter(wktRings(wkt))

  /** Area-weighted centroid as struct(x, y) (shoelace first moment). */
  def wktCentroid(wkt: Column): Column = ringsCentroid(wktRings(wkt))

  /** Total coordinate count as written (closing points included). */
  def wktNumPoints(wkt: Column): Column = ringsNumPoints(wktRings(wkt))

  /** GEOMETRYCOLLECTION → its members as standalone WKT strings (r11 —
    * closes the last documented WKT-type reject). Flat member explode:
    * every member opens with a type keyword, so member boundaries are
    * exactly the commas a type keyword follows (a lookahead split; no
    * other comma in WKT precedes a letter). Non-collection input returns
    * a one-element array so callers get ONE surface for both layouts;
    * `GEOMETRYCOLLECTION EMPTY` returns an empty array (countable, the
    * census contract); NESTED collections reject descriptively (the
    * flat-members contract — the lookahead split cannot tell inner member
    * commas from outer ones; callers that want nesting flattened use
    * [[collectionLeaves]], the depth-aware r12 surface).
    */
  def collectionMembers(wkt: Column): Column = {
    val typ = upper(regexp_extract(wkt, "^\\s*([A-Za-z]+)", 1))
    val body = regexp_replace(
      regexp_replace(wkt, "(?i)^\\s*GEOMETRYCOLLECTION\\s*\\(", ""),
      "\\)\\s*$", "")
    val kw = "POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|" +
      "MULTIPOLYGON|GEOMETRYCOLLECTION"
    // drop empty fragments so the nonstandard-but-seen 'GEOMETRYCOLLECTION ()'
    // spelling counts as zero members like EMPTY, instead of emitting one
    // empty-string member that dies confusingly in a downstream parser
    val members = filter(
      transform(split(body, s",\\s*(?=(?i:$kw)\\b)"), m => trim(m)),
      m => m =!= "")
    when(wkt.isNull, lit(null).cast("array<string>"))
      .when(typ =!= "GEOMETRYCOLLECTION", array(wkt))
      .when(upper(wkt).rlike("^\\s*GEOMETRYCOLLECTION\\s+(Z|M|ZM)\\b"),
        raise_error(concat(
          lit("3D/measured GEOMETRYCOLLECTION unsupported (2D only): "), wkt)))
      .when(upper(wkt).rlike("^\\s*GEOMETRYCOLLECTION\\s+EMPTY\\s*$"),
        array().cast("array<string>"))
      .when(exists(members, m =>
          upper(m).startsWith("GEOMETRYCOLLECTION")),
        raise_error(concat(
          lit("nested GEOMETRYCOLLECTION unsupported (flat members only): "),
          wkt)))
      .otherwise(members)
  }

  /** GEOMETRYCOLLECTION → LEAF geometries through arbitrary nesting
    * (r12): the depth-aware twin of [[collectionMembers]] — see
    * [[CollectionLeavesExpr]] for the contract (depth-first leaf order,
    * nested EMPTY contributes zero, depth-32 cap, fail-closed parse).
    */
  def collectionLeaves(wkt: Column): Column =
    CollectionLeavesExpr.collectionLeaves(wkt)

  // ---- vector geometry reprojection (the ogr2ogr half of the CRS story) ----

  /** Re-emit parsed rings as the WKT body "((x y, …), (…))". Coordinates
    * print as canonical shortest-round-trip doubles (the same spelling the
    * vector readers/writers use), so parse ∘ emit is the identity on the
    * engine's own WKT.
    */
  private def ringsToWktBody(rings: Column): Column = WktEmit.body(rings)

  private def mapPts(pts: Column, t: graft.operators.Regrid.Transform2D): Column =
    transform(pts, p => {
      val (x, y) = t(p.getField("x"), p.getField("y"))
      struct(x.as("x"), y.as("y"))
    })

  /** [[mapPts]]'s TmParams image when `t` is a forward transverse
    * Mercator: the general [[graft.operators.Regrid.TmParams]] algebra
    * reproduces [[graft.operators.Regrid.UtmFromGeographic]] bit-for-bit
    * on the UTM parameterization (RegridSpec proves it; lat0 = 0 makes
    * the extra `- M(φ0)` term an exact `- 0.0` no-op, and BOTH spellings
    * add the false northing, so every double is shared).
    */
  private def tmParamsOf(t: graft.operators.Regrid.Transform2D)
      : Option[graft.operators.Regrid.TmParams] = {
    import graft.operators.Regrid._
    t match {
      case TransverseMercatorFromGeographic(p) => Some(p)
      case UtmFromGeographic(zone, southern) => Some(TmParams(
        Utm.centralMeridianDeg(zone),
        falseNorthing = if (southern) Utm.FalseNorthing else 0.0))
      case _ => None
    }
  }

  /** Ring-set transform: the codegen [[TmForward]] kernel when the
    * transform is a forward TM/UTM (the reproject queries' case — the
    * HOF spelling ran the whole Snyder series INTERPRETED per vertex,
    * guide §4), the generic per-point Column algebra otherwise.
    */
  private def mapRingsCol(rings: Column,
      t: graft.operators.Regrid.Transform2D): Column = tmParamsOf(t) match {
    case Some(p) => TmForward.col(rings, p)
    case None => transform(rings, r => mapPts(r, t))
  }

  /** Flat-point-array transform — kernel via a single-ring wrap. */
  private def mapPtsCol(pts: Column,
      t: graft.operators.Regrid.Transform2D): Column = tmParamsOf(t) match {
    case Some(p) => element_at(TmForward.col(array(pts), p), 1)
    case None => mapPts(pts, t)
  }

  /** Reproject a WKT geometry's coordinates through a
    * [[graft.operators.Regrid.Transform2D]] — what `ogr2ogr -t_srs` does
    * to a vector file, as a pure Column expression: the same closed-form
    * projection algebra the raster regrid evaluates, applied inside the
    * coordinate-array HOFs. Supports every geometry the engine's vector
    * codecs emit plus MULTIPOINT (both WKT spellings parse — bare
    * `MULTIPOINT (1 2, 3 4)` and parenthesized `MULTIPOINT ((1 2), (3 4))`;
    * the emit is the parenthesized canonical form, which the measures'
    * ring parse handles as single-point groups: area/perimeter 0,
    * numPoints = n): POINT / MULTIPOINT / LINESTRING / POLYGON /
    * MULTILINESTRING / MULTIPOLYGON (polygon grouping preserved).
    * Anything else rejects loudly (fail closed — a silently-dropped ring
    * re-keys downstream joins). NULL propagates.
    */
  def reprojectWkt(wkt: Column, t: graft.operators.Regrid.Transform2D): Column = {
    val typ = upper(regexp_extract(wkt, "^\\s*([A-Za-z]+)", 1))
    // single-group parse for POINT/LINESTRING
    val flat = ringPts(
      regexp_replace(regexp_replace(wkt, "^[A-Za-z ]*\\(", ""), "\\)\\s*$", ""))
    // MULTIPOLYGON: split the body on the ")), ((" polygon boundary; each
    // fragment's rings come from the "),(" splits with stray boundary
    // parens stripped (ring bodies themselves contain no parens)
    def fragRings(f: Column): Column =
      transform(split(f, "\\)\\s*,\\s*\\("), s => ringPts(
        regexp_replace(regexp_replace(s, "^[\\s()]+", ""), "[\\s()]+$", "")))
    val mpFrags = split(
      regexp_replace(regexp_replace(wkt, "^[A-Za-z ]*\\(", ""), "\\)\\s*$", ""),
      "\\)\\s*\\)\\s*,\\s*\\(\\s*\\(")
    when(wkt.isNull, lit(null).cast("string"))
      // 'MULTIPOINT EMPTY' (and every other EMPTY spelling) is valid WKT
      // but carries no coordinates — without this guard it bypasses the
      // paren strip and dies in a confusing cast inside ringPts instead
      // of the loud unsupported reject the branch contract promises
      .when(upper(wkt).rlike("^\\s*[A-Z]+\\s+EMPTY\\s*$"), raise_error(concat(
        lit("reprojectWkt: EMPTY geometry '"), wkt,
        lit("' unsupported (no coordinates to reproject)"))))
      .when(typ === "POINT", {
        val p = element_at(mapPtsCol(flat, t), 1)
        concat(lit("POINT ("), p.getField("x").cast("string"), lit(" "),
          p.getField("y").cast("string"), lit(")"))
      })
      .when(typ === "MULTIPOINT", {
        // strip the type word + every paren → "x1 y1, x2 y2" under BOTH
        // accepted spellings, then re-emit each point parenthesized
        val pts = ringPts(regexp_replace(
          regexp_replace(wkt, "^[A-Za-z ]*\\(", ""), "[()]", ""))
        concat(lit("MULTIPOINT ("), WktEmit.mpoints(mapPtsCol(pts, t)),
          lit(")"))
      })
      .when(typ === "LINESTRING",
        concat(lit("LINESTRING "), ringsToWktBody(array(mapPtsCol(flat, t)))))
      .when(typ === "POLYGON",
        concat(lit("POLYGON ("),
          ringsToWktBody(mapRingsCol(wktRings(wkt), t)), lit(")")))
      .when(typ === "MULTILINESTRING", // same flat-group body shape as POLYGON
        concat(lit("MULTILINESTRING ("),
          ringsToWktBody(mapRingsCol(wktRings(wkt), t)), lit(")")))
      .when(typ === "MULTIPOLYGON",
        concat(lit("MULTIPOLYGON ("),
          concat_ws(", ", transform(mpFrags, f =>
            concat(lit("("),
              ringsToWktBody(mapRingsCol(fragRings(f), t)),
              lit(")")))),
          lit(")")))
      .otherwise(raise_error(concat(
        lit("reprojectWkt: unsupported WKT type '"), typ,
        lit("' (POINT | MULTIPOINT | LINESTRING | POLYGON | MULTILINESTRING | MULTIPOLYGON)"))))
  }

  /** WKT-CRS front door for feature tables: reproject `geomCol` from
    * `srcWkt`'s CRS into `dstWkt`'s (both WKT1 PROJCS/GEOGCS strings —
    * e.g. the `crs` column Shapefile.readFeatureFiles surfaces), via
    * [[graft.operators.CrsWkt.transformBetween]].
    */
  def reprojectFeatures(df: org.apache.spark.sql.DataFrame, geomCol: String,
      srcWkt: String, dstWkt: String): org.apache.spark.sql.DataFrame =
    df.withColumn(geomCol, reprojectWkt(col(geomCol),
      graft.operators.CrsWkt.transformBetween(srcWkt, dstWkt)))

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative integer cell coordinates — bit i of x lands at 2i, bit i
    * of y at 2i+1. Sorting by this key gives recursive-quadrant locality,
    * which is the 100 TB layout lever: a parquet store range-partitioned on
    * the z-key keeps spatially-near tiles in the same files, so bbox
    * queries touch O(region) row groups instead of O(dataset) (the same
    * trick Delta/Iceberg `ZORDER BY` applies; here it is a plain column).
    *
    * 31 bits per axis max (key fits a signed long at bits ≤ 31).
    */
  def zorderKey(cx: Column, cy: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val x = cx.cast("long")
    val y = cy.cast("long")
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Range-partition + sort a table by the z-order key of its cell
    * coordinates: the write-side layout step for spatially-local parquet.
    * Range partitioning keeps global key order across files (unlike hash),
    * so directory/file-level min-max stats prune by spatial region.
    */
  def clusterByZOrder(
      df: org.apache.spark.sql.DataFrame,
      cxCol: String, cyCol: String,
      numPartitions: Int,
      bits: Int = 16): org.apache.spark.sql.DataFrame = {
    val keyed = df.withColumn("__zkey", zorderKey(col(cxCol), col(cyCol), bits))
    keyed.repartitionByRange(numPartitions, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  // --- Geohash (the public base32 algorithm: MSB-first interleave of the
  // lon/lat binary fractions, longitude bit first, 5 bits per character —
  // en.wikipedia.org/wiki/Geohash). Complements zorderKey: the base32
  // STRING nests by prefix (the precision-(p−1) prefix names the containing
  // cell), which makes it the standard bucketing/layout key for lat/lon
  // stores and a human-portable cell id for proximity grouping. The
  // bisection formulation is equivalent to quantizing each axis to its bit
  // budget and reading the quantized integer's bits MSB-first: the float
  // quantizer is Column algebra (its op chain mirrors one-for-one into the
  // DuckDB oracle), and the integer interleave/base32/parse steps are the
  // GeohashExprs codegen kernels (integer-exact, so any faithful oracle
  // route matches; the pure-Column spelling was a measured Janino bomb).

  /** (total bits, lon bits, lat bits) at `precision` chars. Lon gets the
    * extra bit when 5·p is odd because the interleave leads with lon. */
  private def ghWidths(precision: Int): (Int, Int, Int) = {
    require(precision >= 1 && precision <= 12,
      s"geohash precision must be in [1,12], got $precision")
    val n = 5 * precision
    (n, (n + 1) / 2, n / 2)
  }

  /** Quantize a coordinate to k bits over [−offset, −offset+span]: floor of
    * the scaled fraction, clamped so the exact upper edge (+180/+90) lands
    * in the last cell — the closed upper boundary of the bisection form. */
  private def ghQuant(v: Column, offset: Double, span: Double, k: Int): Column =
    least(greatest(
      floor((v + lit(offset)) / lit(span) * lit((1L << k).toDouble)).cast("long"),
      lit(0L)), lit((1L << k) - 1L))

  /** Geohash cell id of a lon/lat point at `precision` base32 chars. The
    * quantizer (the family's only floating arithmetic) stays Column
    * algebra so its op chain mirrors into the SQL oracle; the integer
    * interleave+base32 is one codegen kernel ([[GeohashExprs.encode]] —
    * the 5p-term Column spelling was a measured Janino compile bomb). */
  def geohash(lon: Column, lat: Column, precision: Int): Column = {
    val (_, nLon, nLat) = ghWidths(precision)
    GeohashExprs.encodeCol(
      ghQuant(lon, 180.0, 360.0, nLon), ghQuant(lat, 90.0, 180.0, nLat), precision)
  }

  /** Packed quantized cell coordinates of a geohash: (lonQ << 31) | latQ
    * via the [[GeohashExprs.quants]] kernel. Fail-closed on malformed ids. */
  private def ghQuants(gh: Column, precision: Int): Column =
    GeohashExprs.quantsCol(gh, precision)

  private def ghLonQ(packed: Column): Column = shiftright(packed, 31)
  private def ghLatQ(packed: Column): Column = packed.bitwiseAND(lit((1L << 31) - 1L))

  /** Decode a geohash to its cell bbox (xmin,ymin,xmax,ymax). EXACT: cell
    * bounds are dyadic fractions of the span, so quantized-int ÷ 2^k × span
    * stays inside 53 mantissa bits end-to-end — no rounding anywhere, and
    * the doubles hash-match an oracle recomputing them from the same
    * integers by any faithful route. */
  def geohashBbox(gh: Column, precision: Int): Column = {
    val (_, nLon, nLat) = ghWidths(precision)
    val q = ghQuants(gh, precision)
    def edge(v: Column, k: Int, span: Double, offset: Double) =
      v.cast("double") / lit((1L << k).toDouble) * lit(span) - lit(offset)
    bbox(edge(ghLonQ(q), nLon, 360.0, 180.0), edge(ghLatQ(q), nLat, 180.0, 90.0),
      edge(ghLonQ(q) + lit(1L), nLon, 360.0, 180.0),
      edge(ghLatQ(q) + lit(1L), nLat, 180.0, 90.0))
  }

  /** The cell `dLon` columns east / `dLat` rows north of `gh` at the same
    * precision. Longitude wraps at the date line (pmod); latitude CLAMPS —
    * a poleward shift off the grid returns NULL (there is no cell beyond
    * the poles; standard geohash neighbor semantics). */
  def geohashShift(gh: Column, dLon: Int, dLat: Int, precision: Int): Column = {
    val (_, nLon, nLat) = ghWidths(precision)
    val q = ghQuants(gh, precision)
    val lq = pmod(ghLonQ(q) + lit(dLon.toLong), lit(1L << nLon))
    val tq = ghLatQ(q) + lit(dLat.toLong)
    when(tq >= lit(0L) && tq <= lit((1L << nLat) - 1L),
      GeohashExprs.encodeCol(lq, tq, precision))
  }

  /** The up-to-8 surrounding cells in (W,E,S,N,SW,SE,NW,NE) order with
    * off-pole entries dropped — the probe set for geohash proximity joins
    * (a point within one cell width of a query point is in the cell or a
    * neighbor, so candidate pairs come from a 9-key equi-join). */
  def geohashNeighbors(gh: Column, precision: Int): Column = {
    val shifts = Seq((-1, 0), (1, 0), (0, -1), (0, 1), (-1, -1), (1, -1), (-1, 1), (1, 1))
    filter(array(shifts.map { case (dl, dt) => geohashShift(gh, dl, dt, precision) }: _*),
      _.isNotNull)
  }

  /** Geohash COVER: explode each input polygon into every precision-p
    * cell whose rectangle intersects the polygon REGION (closed; a cell
    * strictly inside a hole is correctly excluded — the overlap test is
    * the exact ringsIntersectPolys kernel, not an envelope check). This
    * is the tiling primitive behind geohash-partitioned spatial stores:
    * the cover is the pruning predicate (`cell IN cover`) that lets a
    * 100 TB store ship only the row groups whose cell keys a query's
    * geometry touches, and the write-side bucketing key that co-locates
    * features with the raster/vector tiles they overlap.
    *
    * Plan: envelope → quantized cell index ranges (two nested sequence
    * explodes, candidate count = envelope area in cells) → exact
    * rect-vs-rings refine per candidate ([[GeomPredExprs.ringsIntersect]],
    * a single static-kernel call) → base32 id. All per-row generator
    * work, zero shuffles.
    *
    * Returns one row per (input row, covering cell), `outCol` = cell id;
    * `packedCol` optionally also emits the packed (lonQ<<31)|latQ integer
    * so set-fingerprint consumers need not re-parse the id they were
    * rendered from.
    */
  def geohashCoverCells(
      df: org.apache.spark.sql.DataFrame,
      ringsCol: String,
      precision: Int,
      outCol: String = "gh",
      packedCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val (_, nLon, nLat) = ghWidths(precision)
    val env = ringsEnvelope(col(ringsCol))
    def edge(v: Column, k: Int, span: Double, offset: Double) =
      v.cast("double") / lit((1L << k).toDouble) * lit(span) - lit(offset)
    val xmin = edge(col("__lq"), nLon, 360.0, 180.0)
    val xmax = edge(col("__lq") + lit(1L), nLon, 360.0, 180.0)
    val ymin = edge(col("__tq"), nLat, 180.0, 90.0)
    val ymax = edge(col("__tq") + lit(1L), nLat, 180.0, 90.0)
    val rect = array(array(
      struct(xmin.as("x"), ymin.as("y")), struct(xmax.as("x"), ymin.as("y")),
      struct(xmax.as("x"), ymax.as("y")), struct(xmin.as("x"), ymax.as("y")),
      struct(xmin.as("x"), ymin.as("y"))))
    df
      .withColumn("__lq", explode(sequence(
        ghQuant(env.getField("xmin"), 180.0, 360.0, nLon),
        ghQuant(env.getField("xmax"), 180.0, 360.0, nLon))))
      .withColumn("__tq", explode(sequence(
        ghQuant(env.getField("ymin"), 90.0, 180.0, nLat),
        ghQuant(env.getField("ymax"), 90.0, 180.0, nLat))))
      .filter(GeomPredExprs.ringsIntersect(rect, col(ringsCol)))
      .withColumn(outCol, GeohashExprs.encodeCol(col("__lq"), col("__tq"), precision))
      .transform(d => packedCol.fold(d)(p =>
        d.withColumn(p, shiftleft(col("__lq"), 31).bitwiseOR(col("__tq")))))
      .drop("__lq", "__tq")
  }

  /** Geohash PROXIMITY join: all (left, right) point pairs within
    * coordinate distance `dist`. Candidates come from a 9-key equi-join —
    * left keyed by its own cell, right exploded to its cell plus the 8
    * neighbors — then the exact euclidean refine. COMPLETE RECALL proof:
    * with dist ≤ one cell dimension on each axis, |Δlon| ≤ cellW and
    * |Δlat| ≤ cellH imply the quantized coordinates differ by at most 1
    * (with the date-line wrap the neighbor set already carries), so the
    * left cell is always in the right point's 9-set; `require` enforces
    * that precondition instead of silently dropping pairs. Each pair
    * matches EXACTLY one key (the 9 cells are distinct) — no DISTINCT
    * pass needed. Date-line neighbor candidates whose true coordinate
    * distance exceeds dist simply fail the refine.
    *
    * 100 TB shape: one shuffle per side on a short string key (right side
    * ×9 rows), partition-bounded candidates (cell occupancy), zero
    * windows — the standard distributed proximity join; precision picks
    * the cell/`dist` ratio and thus the candidate density.
    *
    * Caller contract: the four coordinate Columns must reference
    * disjointly-named columns of their frames (both survive the join).
    */
  def geohashProximityJoin(
      left: org.apache.spark.sql.DataFrame, lonL: Column, latL: Column,
      right: org.apache.spark.sql.DataFrame, lonR: Column, latR: Column,
      precision: Int, dist: Double): org.apache.spark.sql.DataFrame = {
    val (_, nLon, nLat) = ghWidths(precision)
    val cellW = 360.0 / (1L << nLon)
    val cellH = 180.0 / (1L << nLat)
    // Strictly below one cell dimension, with a 1e-9 relative margin: the
    // recall proof is real-arithmetic, but the quantizer computes
    // floor(fl(fl((v+off)/span)·2^k)) with ~1 ulp of noise — at dist
    // EXACTLY equal to the cell size, two points straddling boundaries
    // can quantize 2 rows apart and the pair would silently vanish. The
    // margin dwarfs the fl error (≤ ~2^-50 relative) while rejecting the
    // boundary-unsafe request loudly.
    val cap = math.min(cellW, cellH) * (1.0 - 1e-9)
    require(dist > 0 && dist <= cap,
      s"complete recall requires 0 < dist < min cell dimension " +
        s"($cellW x $cellH at precision $precision, 1e-9 safety margin), got $dist")
    val l = left.withColumn("__gh", geohash(lonL, latL, precision))
    val r = right
      .withColumn("__gh0", geohash(lonR, latR, precision))
      .withColumn("__gh", explode(concat(
        array(col("__gh0")), geohashNeighbors(col("__gh0"), precision))))
      .drop("__gh0")
    val dx = lonL - lonR
    val dy = latL - latR
    l.join(r, Seq("__gh"))
      .withColumn("d2", dx * dx + dy * dy)
      .filter(col("d2") <= lit(dist * dist))
      .drop("__gh")
  }

  /** J6 — point-in-pixel spatial join: derive integer cell keys on the
    * point side, then equi-join against the pixel table. Broadcast-free,
    * shuffle-on-ints; Catalyst can still broadcast the small side.
    */
  def joinPointsToGrid(
      points: org.apache.spark.sql.DataFrame,
      grid: org.apache.spark.sql.DataFrame,
      xCol: String, yCol: String,
      originX: Double, originY: Double, pxW: Double, pxH: Double,
      rowCol: String = "px_row", colCol: String = "px_col"): org.apache.spark.sql.DataFrame = {
    val keyed = points
      .withColumn(rowCol, pixelRowOf(col(yCol), lit(originY), lit(pxH)))
      .withColumn(colCol, pixelColOf(col(xCol), lit(originX), lit(pxW)))
    keyed.join(grid, Seq(rowCol, colCol))
  }
}
