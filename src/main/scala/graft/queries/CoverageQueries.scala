package graft
package queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Coverage: interval coverage, union (dissolve) areas and geometries,
  * planar and geodesic, cell-decomposed and tiled. */
object CoverageQueries extends Family {

  /** cov1 — interval UNION coverage per user (merge overlapping ranges):
    * each event opens a [ts, ts + 30..149 s] interval (length from the
    * event id, exact micros), and the operator reports the union length,
    * island count, and interval count per user — the sweep-line classic
    * as pure window algebra. All-integer (epoch_us both engines), so the
    * oracle replays the identical windows and hashes exactly.
    */
  query("cov1_interval_coverage") { (s, d) =>
    val iv = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) + (col("event_id") % 120 + 30) * lit(1000000L)).as("e_us"))
    operators.TimeSeries.intervalCoverage(iv, Seq("user_id"), "s_us", "e_us")
      .orderBy("user_id")
  }(
    // cov1: identical partitioned windows (running max to 1 PRECEDING,
    // prefix-sum island ids), all-integer epoch_us arithmetic.
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s_us,
      |  epoch_us(ts) + (event_id % 120 + 30) * 1000000 AS e_us FROM events),
      |m AS (SELECT user_id, s_us, e_us, max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
      |i AS (SELECT user_id, s_us, e_us, sum(CASE WHEN pm IS NULL OR s_us > pm THEN 1 ELSE 0 END)
      |  OVER (PARTITION BY user_id ORDER BY s_us, e_us
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m),
      |g AS (SELECT user_id, isl, min(s_us) AS ms, max(e_us) AS me, count(*) AS n FROM i GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(me - ms) AS BIGINT) AS covered, count(*) AS n_islands,
      |  CAST(sum(n) AS BIGINT) AS n_intervals
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** cov2/zs3's shared fixture: three stepped w×h rectangles per
    * customer, overlapping pairwise AND triple-overlapping (the depth-3
    * case where pairwise-only inclusion–exclusion is WRONG) — integer
    * coordinates, so every slab product and every I–E term is exact in
    * doubles and the union areas hash-gate. */
  private def covRects(s: SparkSession, d: String) = {
    val base = Tables.customer(s, d).select(col("c_custkey").as("g"),
      explode(array(lit(0), lit(1), lit(2))).as("m"))
    val x0 = ((col("g") % 30) * 2 + col("m") * 2).cast("double")
    val y0 = ((col("g") % 20) * 2 + col("m")).cast("double")
    val w = (col("g") % 3 + 4).cast("double")
    val h = (col("g") % 2 + 3).cast("double")
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    base.select(col("g"), array(array(pt(x0, y0), pt(x0 + w, y0),
      pt(x0 + w, y0 + h), pt(x0, y0 + h), pt(x0, y0))).as("rings"))
  }

  /** cov2 — COVERAGE (union) AREA per group (the r14 verdict's top
    * missing measure: overlapping zones double-count in zs2-style
    * rollups; the dissolve fixes it): the exact y-slab scanline union
    * over each customer's three overlapping rectangles, beside the
    * polygon count and the raw area sum (union < sum quantifies the
    * overlap). The oracle computes the union INDEPENDENTLY — full
    * 7-term inclusion–exclusion over the three boxes — so a hash match
    * is two different exact algorithms agreeing, not a replay.
    */
  query("cov2_union_area") { (s, d) =>
    operators.CoverageArea.unionArea(covRects(s, d), "rings", Seq("g"))
      .orderBy("g")
  }(
    // cov2/zs3: the union area recomputed by an INDEPENDENT exact
    // algorithm — full 7-term inclusion-exclusion over the three boxes
    // (the engine runs the y-slab scanline; both are integer-exact on
    // the fixture, so the hash gates algorithm agreement, not a replay).
    // zs3's cell-decomposed sum must equal the same value exactly.
    sqlUnionAreaIE)

  /** zs3 — coverage area through the CELL-DECOMPOSED scale path (the
    * 100 TB shape: polygons explode to envelope-touched grid cells,
    * per-cell unions of CLIPPED slivers sum per group — per-cell work
    * bounded by local density, never corpus size). Must equal cov2's
    * direct union exactly (the clip walls are event-aligned), so it
    * shares the independent inclusion–exclusion oracle.
    */
  query("zs3_coverage_cells") { (s, d) =>
    operators.CoverageArea.unionAreaByCell(covRects(s, d), "rings", Seq("g"),
        cellSize = 16.0)
      .orderBy("g")
  }(sqlUnionAreaIE)

  /** cov4 — DISSOLVE EMITTING GEOMETRY (the r15 verdict's second gap,
    * the construct side of cov2's measure): each customer's three
    * overlapping stepped rectangles dissolve to the union's actual
    * RINGS via [[operators.CoverageArea.unionGeometry]] (exact
    * rectilinear tracer: irregular-grid coverage + region-left boundary
    * walk — every emitted coordinate an input coordinate verbatim),
    * exploded to one row per vertex. The staircase union's boundary is
    * CLOSED-FORM in (bx, by, w, h) — always the same 12 corners for
    * this family (w ≥ 4 > dx, h ≥ 3 > dy keeps every step
    * nondegenerate) — so the oracle hard-codes the vertex list
    * symbolically (the j23 hard-coded-ears discipline): a hash match is
    * the tracer agreeing with the shape's geometry derived BY HAND, not
    * a replay. CoverageAreaSpec gates shoelace(emitted) ≡ the scanline
    * union and the WKT bridge.
    */
  query("cov4_union_geometry") { (s, d) =>
    operators.CoverageArea.unionGeometry(covRects(s, d), "rings", Seq("g"))
      .select(col("g"), posexplode(col("rings")).as(Seq("ring_i", "ring")))
      .select(col("g"), col("ring_i"), posexplode(col("ring")).as(Seq("pt_i", "pt")))
      .select(col("g"), col("ring_i"), col("pt_i"),
        col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("g", "ring_i", "pt_i")
  }(
    // cov4: the dissolved union's RINGS vs the staircase boundary derived
    // by hand (12 closed-form corners) — tracer vs hand geometry, not a
    // replay.
    sqlUnionGeom)

  /** cov4's oracle — the staircase union's 12 corners derived by hand
    * (member i at (bx+2i, by+i), size w×h, every step proper), emitted
    * closed in the tracer's canonical order (lexicographic-min start,
    * CCW). All coordinates integer-valued doubles — exact in both
    * engines under any grouping. */
  private def sqlUnionGeom: String = {
    val corners = Seq(
      ("bx", "by"), ("bx + w", "by"), ("bx + w", "by + 1"), ("bx + w + 2", "by + 1"),
      ("bx + w + 2", "by + 2"), ("bx + w + 4", "by + 2"), ("bx + w + 4", "by + h + 2"),
      ("bx + 4", "by + h + 2"), ("bx + 4", "by + h + 1"), ("bx + 2", "by + h + 1"),
      ("bx + 2", "by + h"), ("bx", "by + h"), ("bx", "by"))
    val structs = corners.zipWithIndex.map { case ((x, y), i) =>
      s"struct_pack(pt_i := CAST($i AS INT), x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
    }.mkString("[", ",\n    ", "]")
    s"""WITH t AS (SELECT c_custkey AS g,
       |  CAST((c_custkey % 30) * 2 AS DOUBLE) AS bx, CAST((c_custkey % 20) * 2 AS DOUBLE) AS by,
       |  CAST(c_custkey % 3 + 4 AS DOUBLE) AS w, CAST(c_custkey % 2 + 3 AS DOUBLE) AS h
       |  FROM customer)
       |SELECT g, CAST(0 AS INT) AS ring_i, v.pt_i AS pt_i, v.x AS x, v.y AS y
       |FROM (SELECT g, unnest($structs) AS v FROM t)
       |ORDER BY g, ring_i, pt_i""".stripMargin
  }

  /** cov5 — GEODESIC coverage area (the r15 verdict's stretch 10: cov2's
    * scanline is planar; lon/lat stores need the union measured on the
    * ellipsoid): the covRects staircase rebuilt in degree space
    * (lon/lat-aligned rectangles near 30°N), dissolved by the exact
    * rectilinear tracer ([[operators.CoverageArea.unionGeometry]] —
    * every emitted coordinate an input coordinate verbatim, so the
    * union ring is parallel/meridian-bounded), then measured by the
    * TRUE-WGS84 zone integral
    * ([[graft.functions.SpatialOps.ringsAreaEllipsoidal]]) — EXACT on
    * exactly this edge family (g23's closed form). The oracle replays
    * the trapezoidal edge sum over the staircase's 12 closed-form
    * corners (vertical edges contribute exactly +0.0 — Δλ = λ·K − λ·K —
    * so the six horizontal terms in traversal order are the whole fold
    * bitwise); fixed-point floor(area/16) with the g23 drift-vs-margin
    * adjudication (cross-engine sin/ln drift ~1e-13·value,
    * margin-scanned).
    */
  query("cov5_union_geodesic") { (s, d) =>
    val base = Tables.customer(s, d).select(col("c_custkey").as("g"),
      explode(array(lit(0), lit(1), lit(2))).as("m"))
    val x0 = lit(-96.0) + (col("g") % 30).cast("double") * lit(0.02) +
      col("m").cast("double") * lit(0.002)
    val y0 = lit(30.0) + (col("g") % 20).cast("double") * lit(0.02) +
      col("m").cast("double") * lit(0.001)
    val w = (col("g") % 3 + 4).cast("double") * lit(0.001)
    val h = (col("g") % 2 + 3).cast("double") * lit(0.001)
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val polys = base.select(col("g"), array(array(pt(x0, y0), pt(x0 + w, y0),
      pt(x0 + w, y0 + h), pt(x0, y0 + h), pt(x0, y0))).as("rings"))
    operators.CoverageArea.unionGeometry(polys, "rings", Seq("g"))
      .select(col("g"), col("n_polys"),
        floor(graft.functions.SpatialOps.ringsAreaEllipsoidal(col("rings")) / lit(16.0))
          .cast("long").as("area_fp"))
      .orderBy("g")
  }(
    // cov5: the dissolved staircase measured on the TRUE ellipsoid —
    // the oracle replays the zone-integral edge sum over the hand-derived
    // corners (g23's drift-vs-margin adjudication).
    sqlUnionAreaGeodesic)

  /** cov5's oracle — the staircase union's 12 corners (cov4's hand
    * derivation, degree space) pushed through the engine's trapezoidal
    * zone sum: per horizontal edge (λ2·K − λ1·K)·(F(φ·K) + F(φ·K)) in
    * traversal order (vertical edges are exactly +0.0 and drop from the
    * fold bitwise), abs·b²/4, floor(/16). Constants interpolated from
    * the SAME Scala values the Column algebra bakes in.
    */
  private def sqlUnionAreaGeodesic: String = {
    // member coordinate chains exactly as the Column algebra groups them
    def mx(m: Int) = s"(bx + $m.0 * 0.002)"
    def my(m: Int) = s"(by + $m.0 * 0.001)"
    // the 12 corners' horizontal edges in the tracer's traversal order:
    // (x, y) pairs from the cov4 staircase, degree space
    val edges = Seq(
      (mx(0), s"(${mx(0)} + w)", my(0)),              // A bottom: x0 -> x0+w at A.y0
      (s"(${mx(0)} + w)", s"(${mx(1)} + w)", my(1)),  // B bottom step at B.y0
      (s"(${mx(1)} + w)", s"(${mx(2)} + w)", my(2)),  // C bottom step at C.y0
      (s"(${mx(2)} + w)", mx(2), s"(${my(2)} + h)"),  // C top: back at C.y1
      (mx(2), mx(1), s"(${my(1)} + h)"),              // B top step at B.y1
      (mx(1), mx(0), s"(${my(0)} + h)"))              // A top step at A.y0+h
    val K = graft.functions.SpatialOps.Deg2Rad
    val E2 = graft.functions.SpatialOps.Wgs84E2
    val E = graft.functions.SpatialOps.Wgs84E
    val B2q = graft.functions.SpatialOps.Wgs84B2 / 4.0
    def zf(phiDeg: String) =
      s"(sin($phiDeg * $K) / (1 - $E2 * sin($phiDeg * $K) * sin($phiDeg * $K)) + " +
        s"ln((1 + $E * sin($phiDeg * $K)) / (1 - $E * sin($phiDeg * $K))) / ${2 * E})"
    val terms = edges.map { case (l1, l2, phi) =>
      s"(($l2 * $K - $l1 * $K) * (${zf(phi)} + ${zf(phi)}))"
    }.mkString(" + ")
    s"""WITH t AS (SELECT c_custkey AS g,
       |  -96.0 + CAST(c_custkey % 30 AS DOUBLE) * 0.02 AS bx,
       |  30.0 + CAST(c_custkey % 20 AS DOUBLE) * 0.02 AS by,
       |  CAST(c_custkey % 3 + 4 AS DOUBLE) * 0.001 AS w,
       |  CAST(c_custkey % 2 + 3 AS DOUBLE) * 0.001 AS h
       |  FROM customer)
       |SELECT g, CAST(3 AS BIGINT) AS n_polys,
       |  CAST(floor(abs($terms) * $B2q / 16.0) AS BIGINT) AS area_fp
       |FROM t ORDER BY g""".stripMargin
  }

  /** cov6 — TILED dissolve (the per-cell geometry-emitting scale path,
    * [[operators.CoverageArea.unionGeometryByCell]]): the covRects
    * groups dissolved per 16-unit cell — members clip to cell boxes
    * through the r16 S-H emitter, each cell traces its own union rings
    * — then rolled back up per group: the per-cell shoelace areas must
    * sum to the global union EXACTLY (walls event-aligned, clipped
    * coordinates exact integers), and the cell count must equal the
    * envelope-touched tiling. The oracle computes BOTH independently —
    * the union by full inclusion–exclusion (cov2's oracle), the cell
    * census by regenerating the three member envelopes' cell rectangles
    * from scratch.
    */
  query("cov6_tiled_dissolve") { (s, d) =>
    operators.CoverageArea.unionGeometryByCell(covRects(s, d), "rings", Seq("g"),
        cellSize = 16.0)
      .groupBy("g")
      .agg(count(lit(1)).as("n_cells"), sum(col("cell_area")).as("union_area"))
      .orderBy("g")
  }(
    // cov6: per-cell dissolved areas must SUM to the independent I-E
    // union; the cell census regenerated from the member envelopes.
    sqlUnionGeomCells)

  /** cov6's oracle — the I–E union area beside a from-scratch cell
    * census (distinct cells over the three members' envelope tilings). */
  private def sqlUnionGeomCells: String =
    """WITH t AS (SELECT c_custkey AS g,
      |  CAST((c_custkey % 30) * 2 AS DOUBLE) AS bx, CAST((c_custkey % 20) * 2 AS DOUBLE) AS by,
      |  CAST(c_custkey % 3 + 4 AS DOUBLE) AS w, CAST(c_custkey % 2 + 3 AS DOUBLE) AS h
      |  FROM customer),
      |members AS (SELECT g, bx + 2 * m AS x0, by + m AS y0,
      |    bx + 2 * m + w AS x1, by + m + h AS y1
      |  FROM t, (SELECT unnest([0.0, 1.0, 2.0]) AS m)),
      |cellsx AS (SELECT g, y0, y1,
      |  unnest(generate_series(CAST(floor(x0 / 16.0) AS BIGINT), CAST(floor(x1 / 16.0) AS BIGINT))) AS cx
      |  FROM members),
      |cells AS (SELECT DISTINCT g, cx, cy FROM (
      |  SELECT g, cx,
      |    unnest(generate_series(CAST(floor(y0 / 16.0) AS BIGINT), CAST(floor(y1 / 16.0) AS BIGINT))) AS cy
      |  FROM cellsx)),
      |nc AS (SELECT g, count(*) AS n_cells FROM cells GROUP BY g),
      |r AS (SELECT g,
      |  bx AS x00, by AS y00, bx + w AS x01, by + h AS y01,
      |  bx + 2 AS x10, by + 1 AS y10, bx + 2 + w AS x11, by + 1 + h AS y11,
      |  bx + 4 AS x20, by + 2 AS y20, bx + 4 + w AS x21, by + 2 + h AS y21, w, h FROM t),
      |i AS (SELECT g, w * h AS a,
      |  greatest(CAST(0 AS DOUBLE), least(x01, x11) - greatest(x00, x10)) *
      |    greatest(CAST(0 AS DOUBLE), least(y01, y11) - greatest(y00, y10)) AS ab,
      |  greatest(CAST(0 AS DOUBLE), least(x01, x21) - greatest(x00, x20)) *
      |    greatest(CAST(0 AS DOUBLE), least(y01, y21) - greatest(y00, y20)) AS ac,
      |  greatest(CAST(0 AS DOUBLE), least(x11, x21) - greatest(x10, x20)) *
      |    greatest(CAST(0 AS DOUBLE), least(y11, y21) - greatest(y10, y20)) AS bc,
      |  greatest(CAST(0 AS DOUBLE), least(x01, x11, x21) - greatest(x00, x10, x20)) *
      |    greatest(CAST(0 AS DOUBLE), least(y01, y11, y21) - greatest(y00, y10, y20)) AS abc
      |  FROM r)
      |SELECT i.g AS g, nc.n_cells AS n_cells,
      |  3 * a - ab - ac - bc + abc AS union_area
      |FROM i JOIN nc ON nc.g = i.g ORDER BY g""".stripMargin

  /** cov7 — the dissolve WRITE path as one oracled chain: two DISJOINT
    * rectangles per customer dissolve to TWO outer rings, emit through
    * [[graft.functions.RingsWkt.ringsToWktAuto]] as a MULTIPOLYGON
    * string, re-parse with `st_rings`, and measure — the area must be
    * the exact two-rect sum and the WKT must spell MULTIPOLYGON (the
    * geometry-type census). Closes the loop the r15 verdict opened:
    * dissolve → write → re-ingest, every leg oracled.
    */
  query("cov7_dissolve_wkt") { (s, d) =>
    val base = Tables.customer(s, d).select(col("c_custkey").as("g"),
      explode(array(lit(0), lit(1))).as("m"))
    val x0 = ((col("g") % 30) * 2 + col("m") * 100).cast("double")
    val y0 = ((col("g") % 20) * 2).cast("double")
    val w = (col("g") % 3 + 4).cast("double")
    val h = (col("g") % 2 + 3).cast("double")
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val polys = base.select(col("g"), array(array(pt(x0, y0), pt(x0 + w, y0),
      pt(x0 + w, y0 + h), pt(x0, y0 + h), pt(x0, y0))).as("rings"))
    val wkt = graft.functions.RingsWkt.ringsToWktAuto(col("rings"))
    operators.CoverageArea.unionGeometry(polys, "rings", Seq("g"))
      .select(col("g"),
        substring(wkt, 1, 13).as("wkt_kind"),
        graft.functions.SpatialOps.wktArea(wkt).as("area_back"),
        col("union_area"))
      .filter(col("area_back") === col("union_area"))
      .select(col("g"), col("wkt_kind"), col("area_back").as("union_area"))
      .orderBy("g")
  }(
    // cov7: dissolve -> MULTIPOLYGON WKT -> re-parse -> measure; the
    // area is the exact two-rect sum, the kind census is closed form.
    // The filter(area_back == union_area) makes any re-parse drift a
    // MISSING ROW, not a tolerance.
    """SELECT c_custkey AS g, 'MULTIPOLYGON ' AS wkt_kind,
      |  2 * CAST(c_custkey % 3 + 4 AS DOUBLE) * CAST(c_custkey % 2 + 3 AS DOUBLE) AS union_area
      |FROM customer ORDER BY g""".stripMargin)

  /** cov3 — coverage area over CONCAVE geometry (what cov2's convex
    * rectangles never exercise: a scanline row holding MULTIPLE
    * intervals from ONE polygon): a rectilinear U-shape (outer box minus
    * a top notch — above the notch floor every scanline crosses it
    * FOUR times, two disjoint prong intervals) unioned with a
    * g-parameterized rectangle spanning the notch and both prongs. The
    * oracle decomposes the U into its three disjoint rectangles (base +
    * two prongs) and runs full 15-term inclusion–exclusion over the
    * four boxes — again an independent exact algorithm; all-integer, so
    * the hash gates the concave scanline against it bitwise.
    */
  query("cov3_union_concave") { (s, d) =>
    val base = Tables.customer(s, d).select(col("c_custkey").as("g"),
      explode(array(lit(0), lit(1))).as("m"))
    val dx = (col("g") % 16).cast("double")
    val dy = (col("g") % 12).cast("double")
    val rw = (col("g") % 3 + 3).cast("double")
    val rh = (col("g") % 2 + 2).cast("double")
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    // U: [0,6]x[0,4] minus the notch [2,4]x[2,4], anchored at (dx,dy)
    val uRing = array(
      pt(dx, dy), pt(dx + 6, dy), pt(dx + 6, dy + 4), pt(dx + 4, dy + 4),
      pt(dx + 4, dy + 2), pt(dx + 2, dy + 2), pt(dx + 2, dy + 4),
      pt(dx, dy + 4), pt(dx, dy))
    val rRing = array(
      pt(dx + 1, dy + 1), pt(dx + 1 + rw, dy + 1),
      pt(dx + 1 + rw, dy + 1 + rh), pt(dx + 1, dy + 1 + rh),
      pt(dx + 1, dy + 1))
    val polys = base.select(col("g"),
      array(when(col("m") === 0, uRing).otherwise(rRing)).as("rings"))
    operators.CoverageArea.unionArea(polys, "rings", Seq("g")).orderBy("g")
  }(
    // cov3: concave scanline (multi-interval rows) vs the U decomposed
    // into disjoint rects + 15-term I-E -- independent exact algorithms.
    sqlUnionAreaMixed)

  /** cov3's oracle: the U decomposed into base + two prongs (disjoint
    * rectangles), full 15-term inclusion–exclusion over those plus the
    * overlap rectangle — generated per subset with min/max interval
    * arithmetic. */
  private def sqlUnionAreaMixed: String = {
    val rects = Seq(
      ("dx", "dy", "dx + 6", "dy + 2"),          // U base
      ("dx", "dy + 2", "dx + 2", "dy + 4"),      // U left prong
      ("dx + 4", "dy + 2", "dx + 6", "dy + 4"),  // U right prong
      ("dx + 1", "dy + 1", "dx + 1 + rw", "dy + 1 + rh")) // overlap rect
    def bound(f: Int => String, agg: String, sel: Seq[Int]) =
      if (sel.length == 1) f(sel.head)
      else sel.map(f).mkString(s"$agg(", ", ", ")")
    val terms = (1 until 16).map { mask =>
      val sel = (0 until 4).filter(i => (mask & (1 << i)) != 0)
      val x0 = bound(i => rects(i)._1, "greatest", sel)
      val y0 = bound(i => rects(i)._2, "greatest", sel)
      val x1 = bound(i => rects(i)._3, "least", sel)
      val y1 = bound(i => rects(i)._4, "least", sel)
      val area = s"greatest(CAST(0 AS DOUBLE), ($x1) - ($x0)) * " +
        s"greatest(CAST(0 AS DOUBLE), ($y1) - ($y0))"
      val sign = if (sel.length % 2 == 1) "+" else "-"
      s"$sign ($area)"
    }
    s"""WITH t AS (SELECT c_custkey AS g,
       |  CAST(c_custkey % 16 AS DOUBLE) AS dx, CAST(c_custkey % 12 AS DOUBLE) AS dy,
       |  CAST(c_custkey % 3 + 3 AS DOUBLE) AS rw, CAST(c_custkey % 2 + 2 AS DOUBLE) AS rh
       |  FROM customer)
       |SELECT g, CAST(2 AS BIGINT) AS n_polys, 20 + rw * rh AS sum_area,
       |  ${terms.mkString("\n    ")} AS union_area
       |FROM t ORDER BY g""".stripMargin
  }

  /** cov2/zs3's shared oracle: full inclusion–exclusion over the three
    * stepped boxes — an INDEPENDENT exact union algorithm (min/max
    * interval arithmetic, 7 signed terms), not a scanline replay. */
  private def sqlUnionAreaIE: String =
    """WITH t AS (SELECT c_custkey AS g,
      |  CAST((c_custkey % 30) * 2 AS DOUBLE) AS bx, CAST((c_custkey % 20) * 2 AS DOUBLE) AS by,
      |  CAST(c_custkey % 3 + 4 AS DOUBLE) AS w, CAST(c_custkey % 2 + 3 AS DOUBLE) AS h
      |  FROM customer),
      |r AS (SELECT g, w, h,
      |  bx AS x00, by AS y00, bx + w AS x01, by + h AS y01,
      |  bx + 2 AS x10, by + 1 AS y10, bx + 2 + w AS x11, by + 1 + h AS y11,
      |  bx + 4 AS x20, by + 2 AS y20, bx + 4 + w AS x21, by + 2 + h AS y21 FROM t),
      |i AS (SELECT g, w * h AS a,
      |  greatest(CAST(0 AS DOUBLE), least(x01, x11) - greatest(x00, x10)) *
      |    greatest(CAST(0 AS DOUBLE), least(y01, y11) - greatest(y00, y10)) AS ab,
      |  greatest(CAST(0 AS DOUBLE), least(x01, x21) - greatest(x00, x20)) *
      |    greatest(CAST(0 AS DOUBLE), least(y01, y21) - greatest(y00, y20)) AS ac,
      |  greatest(CAST(0 AS DOUBLE), least(x11, x21) - greatest(x10, x20)) *
      |    greatest(CAST(0 AS DOUBLE), least(y11, y21) - greatest(y10, y20)) AS bc,
      |  greatest(CAST(0 AS DOUBLE), least(x01, x11, x21) - greatest(x00, x10, x20)) *
      |    greatest(CAST(0 AS DOUBLE), least(y01, y11, y21) - greatest(y00, y10, y20)) AS abc
      |  FROM r)
      |SELECT g, CAST(3 AS BIGINT) AS n_polys, 3 * a AS sum_area,
      |  3 * a - ab - ac - bc + abc AS union_area
      |FROM i ORDER BY g""".stripMargin
}
