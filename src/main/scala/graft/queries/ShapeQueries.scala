package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact geometry measures: ring and polygon validity, guarded measures,
  * simplification, convex buffers and hulls, centroids and minimum
  * bounding boxes. */
object ShapeQueries extends Family {
  import Helpers._

  /** G24 — RING-VALIDITY CENSUS (the r14 verdict's checkable-contract
    * mandate): every clip/refine kernel declares "SIMPLE ring is caller
    * contract"; [[graft.functions.RingIsSimpleExpr]] makes the contract
    * enforceable by classifying geometry scan-side, so a 100 TB ingest
    * of third-party parcels turns invalid rings into COUNTABLE REJECTS
    * (the media-census doctrine applied to vectors). Fixture: five
    * parameterized ring families per customer — bowtie (self-crossing,
    * the classic invalid quad), the concave j23 dart (valid), a
    * collinear spike double-back (invalid), a convex diamond (valid),
    * and a figure-eight pinch (repeated vertex, invalid) — censused by
    * class × verdict. The predicate's verdict is CLASS-CONSTANT across
    * every (cx, cy, r) parameterization, which is exactly what the
    * oracle replays; one wrong verdict anywhere splits a census row and
    * breaks the hash.
    */
  query("g24_ring_validity") { (s, d) =>
    val c = col("c_custkey")
    val cls = (c % 5).cast("int")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val r = lit(1.0) + (c % 3).cast("double") * lit(0.5)
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val bowtie = array(pt(cx - r, cy - r), pt(cx + r, cy + r),
      pt(cx + r, cy - r), pt(cx - r, cy + r), pt(cx - r, cy - r))
    val dart = array(pt(cx, cy + r), pt(cx - r, cy - r),
      pt(cx, cy - lit(0.5) * r), pt(cx + r, cy - r), pt(cx, cy + r))
    val spike = array(pt(cx - r, cy), pt(cx + r, cy), pt(cx, cy),
      pt(cx, cy + r), pt(cx - r, cy))
    val diamond = array(pt(cx, cy - r), pt(cx + r, cy),
      pt(cx, cy + r), pt(cx - r, cy), pt(cx, cy - r))
    val pinch = array(pt(cx, cy), pt(cx - r, cy - r), pt(cx + r, cy - r),
      pt(cx, cy), pt(cx + r, cy + r), pt(cx - r, cy + r), pt(cx, cy))
    val ring = when(cls === 0, bowtie).when(cls === 1, dart)
      .when(cls === 2, spike).when(cls === 3, diamond).otherwise(pinch)
    Tables.customer(s, d)
      .select(cls.as("cls"),
        graft.functions.GeomValidity.ringIsSimpleCol(ring).as("is_simple"))
      .groupBy("cls", "is_simple").agg(count(lit(1)).as("n"))
      .orderBy("cls", "is_simple")
  }(
    // g24: the ring-validity census — the predicate's verdict is
    // CLASS-CONSTANT over the parameterized fixture (bowtie/spike/pinch
    // invalid, dart/diamond valid for every cx,cy,r), so the oracle
    // replays the class table; a single misfired verdict splits a
    // census row and breaks the hash.
    """SELECT CAST(c_custkey % 5 AS INT) AS cls,
      |  (c_custkey % 5 = 1 OR c_custkey % 5 = 3) AS is_simple,
      |  count(*) AS n
      |FROM customer GROUP BY 1, 2 ORDER BY cls, is_simple""".stripMargin)

  /** G26 — GUARDED MEASURE (the enforcement flow the validity
    * predicates exist for, as one query): the g24 ring families pass
    * through `st_is_simple_ring` scan-side; VALID rings contribute
    * their shoelace area (fixed-point floor(area·2²⁰) — integer sums,
    * order-proof), invalid rings become counted rejects — wrong areas
    * never enter the measure. The oracle replays the class verdicts AND
    * the valid shapes' closed-form areas (dart 1.5r², diamond 2r² —
    * exact dyadic chains, so the engine's shoelace equals them
    * bitwise).
    */
  query("g26_guarded_measure") { (s, d) =>
    val c = col("c_custkey")
    val cls = (c % 5).cast("int")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val r = lit(1.0) + (c % 3).cast("double") * lit(0.5)
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val bowtie = array(pt(cx - r, cy - r), pt(cx + r, cy + r),
      pt(cx + r, cy - r), pt(cx - r, cy + r), pt(cx - r, cy - r))
    val dart = array(pt(cx, cy + r), pt(cx - r, cy - r),
      pt(cx, cy - lit(0.5) * r), pt(cx + r, cy - r), pt(cx, cy + r))
    val spike = array(pt(cx - r, cy), pt(cx + r, cy), pt(cx, cy),
      pt(cx, cy + r), pt(cx - r, cy))
    val diamond = array(pt(cx, cy - r), pt(cx + r, cy),
      pt(cx, cy + r), pt(cx - r, cy), pt(cx, cy - r))
    val pinch = array(pt(cx, cy), pt(cx - r, cy - r), pt(cx + r, cy - r),
      pt(cx, cy), pt(cx + r, cy + r), pt(cx - r, cy + r), pt(cx, cy))
    val ring = when(cls === 0, bowtie).when(cls === 1, dart)
      .when(cls === 2, spike).when(cls === 3, diamond).otherwise(pinch)
    val ok = graft.functions.GeomValidity.ringIsSimpleCol(ring)
    Tables.customer(s, d)
      .select(cls.as("cls"), ok.as("__ok"),
        when(ok, floor(graft.functions.SpatialOps.ringsArea(array(ring))
          * lit(1048576L)).cast("long")).otherwise(lit(0L)).as("__a"))
      .groupBy("cls")
      .agg(sum(when(col("__ok"), 1).otherwise(0)).cast("long").as("n_valid"),
        sum(when(col("__ok"), 0).otherwise(1)).cast("long").as("n_rejects"),
        sum(col("__a")).as("area_fp"))
      .orderBy("cls")
  }(
    // g26: the enforcement flow -- valid rings' closed-form areas
    // (dart 1.5r^2, diamond 2r^2, exact dyadic so the engine's shoelace
    // matches bitwise), invalid rings counted; fixed-point integer sums.
    """SELECT CAST(c_custkey % 5 AS INT) AS cls,
      |  CAST(sum(CASE WHEN c_custkey % 5 IN (1, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      |  CAST(sum(CASE WHEN c_custkey % 5 IN (1, 3) THEN 0 ELSE 1 END) AS BIGINT) AS n_rejects,
      |  CAST(sum(CASE WHEN c_custkey % 5 = 1 THEN CAST(floor(1.5 * r * r * 1048576) AS BIGINT)
      |           WHEN c_custkey % 5 = 3 THEN CAST(floor(2 * r * r * 1048576) AS BIGINT)
      |           ELSE 0 END) AS BIGINT) AS area_fp
      |FROM (SELECT c_custkey, 1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r FROM customer)
      |GROUP BY 1 ORDER BY cls""".stripMargin)

  /** G25 — POLYGON-validity census (the g24 predicate one level up —
    * the whole-geometry ingest gate): outer + holes judged as a unit by
    * [[graft.functions.PolygonIsValidExpr]] (all rings simple, holes
    * opposite-wound, no cross-ring edge crossing/overlap, holes
    * contained, holes not nested, interior connected). Eight
    * parameterized families with CLASS-CONSTANT verdicts: proper hole
    * (valid), boundary-straddling hole, escaped hole, overlapping
    * holes, bowtie outer, two disjoint holes (valid), and — the r16
    * interior-connectivity pair — a two-hole chain wall-to-wall through
    * the center (each touch individually legal, the CHAIN splits the
    * interior top/bottom: invalid) vs a single tangent hole touching
    * one wall at one point (valid — the OGC rule the chain class
    * proves we don't over-reject).
    */
  query("g25_polygon_validity") { (s, d) =>
    val c = col("c_custkey")
    val cls = (c % 8).cast("int")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val r = lit(1.0) + (c % 3).cast("double") * lit(0.5)
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val outer = array(pt(cx - r, cy - r), pt(cx + r, cy - r),
      pt(cx + r, cy + r), pt(cx - r, cy + r), pt(cx - r, cy - r))
    val bowtie = array(pt(cx - r, cy - r), pt(cx + r, cy + r),
      pt(cx + r, cy - r), pt(cx - r, cy + r), pt(cx - r, cy - r))
    // CW rectangle hole
    def hole(x0: Column, y0: Column, x1: Column, y1: Column) =
      array(pt(x0, y0), pt(x0, y1), pt(x1, y1), pt(x1, y0), pt(x0, y0))
    val q = lit(0.25) * r
    val rings = when(cls === 0,
        array(outer, hole(cx - q * 2, cy - q * 2, cx, cy)))
      .when(cls === 1,
        array(outer, hole(cx, cy - q, cx + q * 8, cy + q)))
      .when(cls === 2,
        array(outer, hole(cx + q * 8, cy, cx + q * 12, cy + q * 2)))
      .when(cls === 3,
        array(outer, hole(cx - q * 2, cy - q * 2, cx + q, cy + q),
          hole(cx - q, cy - q, cx + q * 2, cy + q * 2)))
      .when(cls === 4, array(bowtie))
      .when(cls === 5,
        array(outer, hole(cx - q * 3, cy - q, cx - q, cy + q),
          hole(cx + q, cy - q, cx + q * 3, cy + q)))
      .when(cls === 6, {
        // CW diamond holes chaining left wall -> center -> right wall:
        // every touch is a legal point-touch, the chain disconnects
        val dA = array(pt(cx - r, cy), pt(cx - q * 2, cy + q), pt(cx, cy),
          pt(cx - q * 2, cy - q), pt(cx - r, cy))
        val dB = array(pt(cx, cy), pt(cx + q * 2, cy + q), pt(cx + r, cy),
          pt(cx + q * 2, cy - q), pt(cx, cy))
        array(outer, dA, dB)
      })
      .otherwise(
        // single tangent CW diamond hole touching the bottom wall once
        array(outer, array(pt(cx, cy - r), pt(cx - q, cy - q * 3), pt(cx, cy - q * 2),
          pt(cx + q, cy - q * 3), pt(cx, cy - r))))
    Tables.customer(s, d)
      .select(cls.as("cls"),
        graft.functions.GeomValidity.polygonIsValidCol(rings).as("is_valid"))
      .groupBy("cls", "is_valid").agg(count(lit(1)).as("n"))
      .orderBy("cls", "is_valid")
  }(
    // g25: polygon-level validity census -- class-constant verdicts
    // (proper hole and two-disjoint-holes valid; straddling/escaped/
    // overlapping holes and the bowtie outer invalid).
    """SELECT CAST(c_custkey % 8 AS INT) AS cls,
      |  (c_custkey % 8 = 0 OR c_custkey % 8 = 5 OR c_custkey % 8 = 7) AS is_valid,
      |  count(*) AS n
      |FROM customer GROUP BY 1, 2 ORDER BY cls, is_valid""".stripMargin)

  /** G27 — SIMPLIFICATION census (Douglas–Peucker, the vertex-thinning
    * constructor next to the r16 clip emitters): a parameterized square
    * ring carrying one bottom-edge bump per customer — sub-tolerance
    * (0.25, dropped) on even classes, super-tolerance (3.0, kept) on
    * odd — through [[graft.functions.SimplifyExprs.simplifyRingCol]] at
    * eps = 1. The DP recursion on this fixture is hand-traceable
    * (top-level closed-ring span → farthest corner → the bump judged
    * against the bottom edge, deviation exactly b), so the oracle
    * states the kept-vertex count AND the simplified ring's exact
    * dyadic area per class — one wrong split anywhere splits a census
    * row.
    */
  query("g27_simplify_census") { (s, d) =>
    val c = col("c_custkey")
    val cls = (c % 2).cast("int")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val b = when(cls === 0, lit(0.25)).otherwise(lit(3.0))
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val ring = array(pt(cx, cy), pt(cx + 4, cy + b), pt(cx + 8, cy),
      pt(cx + 8, cy + 8), pt(cx, cy + 8), pt(cx, cy))
    val simp = graft.functions.SimplifyExprs.simplifyRingCol(ring, lit(1.0))
    Tables.customer(s, d)
      .select(cls.as("cls"), size(simp).as("n_out"),
        floor(graft.functions.SpatialOps.ringsArea(array(simp)) * lit(1048576L))
          .cast("long").as("area_fp"))
      .groupBy("cls", "n_out", "area_fp").agg(count(lit(1)).as("n"))
      .orderBy("cls", "n_out", "area_fp")
  }(
    // g27: the DP simplification census — the recursion hand-traced per
    // class (sub-tolerance bump dropped -> the 64-area square, 5 closed
    // points; super-tolerance bump kept -> the 52-area pentagon, 6).
    """SELECT CAST(c_custkey % 2 AS INT) AS cls,
      |  CAST(CASE WHEN c_custkey % 2 = 0 THEN 5 ELSE 6 END AS INT) AS n_out,
      |  CAST(CASE WHEN c_custkey % 2 = 0 THEN 64 * 1048576 ELSE 52 * 1048576 END AS BIGINT) AS area_fp,
      |  count(*) AS n
      |FROM customer GROUP BY 1, 2, 3 ORDER BY cls, n_out, area_fp""".stripMargin)

  /** G28 — CONVEX miter BUFFER (the outward-growth constructor, the
    * r15 verdict's other named gap beside simplify): the j22 customer
    * diamonds buffered by a parameterized distance through
    * [[graft.functions.BufferExprs.bufferConvexCol]], vertices exploded
    * to rows — the oracle replays the whole chain (edge vectors, IEEE
    * sqrt lengths, unit outward normals, offset anchors, the
    * t = ((p2−p1)×e2)/(e1×e2) line intersection) operation for
    * operation, so the buffered coordinates hash-gate as raw doubles
    * (sqrt and ÷ correctly rounded in both engines — the km1 sqlL2
    * precedent).
    */
  query("g28_buffer_convex") { (s, d) =>
    val c = col("c_custkey")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val r = lit(1.0) + (c % 3).cast("double") * lit(0.5)
    val dd = lit(0.25) + (c % 4).cast("double") * lit(0.125)
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val diamond = array(pt(cx, cy - r), pt(cx + r, cy), pt(cx, cy + r),
      pt(cx - r, cy), pt(cx, cy - r))
    val buf = graft.functions.BufferExprs.bufferConvexCol(diamond, dd)
    Tables.customer(s, d)
      .select(c.as("c_custkey"), posexplode(buf).as(Seq("pt_i", "pt")))
      .select(col("c_custkey"), col("pt_i"), col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("c_custkey", "pt_i")
  }(
    // g28: the miter-buffer chain replayed symbolically — raw-double
    // vertex parity through IEEE sqrt/divide (the km1 sqlL2 precedent).
    sqlBufferConvex)

  /** g28's oracle — the miter chain replayed symbolically per diamond
    * vertex (CCW, so the engine's s = 1 factor is the bitwise identity
    * and drops from the spelling). */
  private def sqlBufferConvex: String = {
    val vx = Seq("cx", "(cx + r)", "cx", "(cx - r)")
    val vy = Seq("(cy - r)", "cy", "(cy + r)", "cy")
    def vertex(i: Int): (String, String) = {
      val p = (i + 3) % 4; val nx = (i + 1) % 4
      val e1x = s"(${vx(i)} - ${vx(p)})"; val e1y = s"(${vy(i)} - ${vy(p)})"
      val e2x = s"(${vx(nx)} - ${vx(i)})"; val e2y = s"(${vy(nx)} - ${vy(i)})"
      val l1 = s"sqrt($e1x * $e1x + $e1y * $e1y)"
      val l2 = s"sqrt($e2x * $e2x + $e2y * $e2y)"
      val n1x = s"($e1y / $l1)"; val n1y = s"((-$e1x) / $l1)"
      val n2x = s"($e2y / $l2)"; val n2y = s"((-$e2x) / $l2)"
      val p1x = s"(${vx(p)} + d * $n1x)"; val p1y = s"(${vy(p)} + d * $n1y)"
      val p2x = s"(${vx(i)} + d * $n2x)"; val p2y = s"(${vy(i)} + d * $n2y)"
      val denom = s"($e1x * $e2y - $e1y * $e2x)"
      val t = s"((($p2x - $p1x) * $e2y - ($p2y - $p1y) * $e2x) / $denom)"
      (s"($p1x + $t * $e1x)", s"($p1y + $t * $e1y)")
    }
    val structs = (0 until 4).map { i =>
      val (x, y) = vertex(i)
      s"struct_pack(pt_i := CAST($i AS INT), x := $x, y := $y)"
    } :+ {
      val (x, y) = vertex(0)
      s"struct_pack(pt_i := CAST(4 AS INT), x := $x, y := $y)"
    }
    s"""WITH t AS (SELECT c_custkey,
       |  CAST(c_custkey % 88 AS DOUBLE) + 2.0 AS cx,
       |  CAST(c_custkey % 78 AS DOUBLE) + 2.0 AS cy,
       |  1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r,
       |  0.25 + CAST(c_custkey % 4 AS DOUBLE) * 0.125 AS d
       |  FROM customer)
       |SELECT c_custkey, v.pt_i AS pt_i, v.x AS x, v.y AS y
       |FROM (SELECT c_custkey, unnest([${structs.mkString(",\n  ")}]) AS v FROM t)
       |ORDER BY c_custkey, pt_i""".stripMargin
  }

  /** G29 — area-weighted centroid of the concave arrow-WITH-HOLE as a
    * CODEGEN kernel measure ([[graft.functions.CentroidExprs]]): g1
    * already oracles the Column centroid on axis-aligned rectangles
    * with round-6; this gates RAW IEEE doubles on concave geometry
    * where the hole's opposite winding subtracts its first moment. The
    * kernel folds per-ring subtotals (one wᵢ = p − q term per edge,
    * terms left-assoc, rings left-assoc) so the oracle mirrors
    * term-for-term in DuckDB list algebra and the quotient
    * sx/(3·a2) hashes bitwise.
    */
  query("g29_centroid") { (s, d) =>
    import graft.functions.{CentroidExprs, SpatialOps}
    Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"),
        CentroidExprs.centroidCol(SpatialOps.wktRings(col("geom"))).as("c"))
      .select(col("s_suppkey"), col("c.x").as("cx"), col("c.y").as("cy"))
      .orderBy("s_suppkey")
  }(
    // g29: the centroid kernel's per-ring cross/moment folds replayed in
    // list algebra (raw IEEE quotients; hole moment subtracts by winding).
    sqlCentroid)

  /** g29's oracle — the centroid kernel's folds in list algebra: per
    * ring the cross terms and moment terms left-assoc summed, rings
    * added in order, one divide at the end.
    */
  private def sqlCentroid: String = {
    val rings = arrowSqlPts(withHole = true)
    def ptsList(pts: Seq[(String, String)]): String =
      pts.map { case (x, y) =>
        s"struct_pack(x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
      }.mkString("[", ", ", "]")
    def crossOf(v: String) =
      s"""list_reduce(list_transform(range(1, length($v)), i ->
         |      $v[i].x * $v[i+1].y - $v[i+1].x * $v[i].y), (a, b) -> a + b)""".stripMargin
    def momentOf(v: String, ax: String) =
      s"""list_reduce(list_transform(range(1, length($v)), i ->
         |      ($v[i].$ax + $v[i+1].$ax) * ($v[i].x * $v[i+1].y - $v[i+1].x * $v[i].y)),
         |      (a, b) -> a + b)""".stripMargin
    s"""WITH b AS ($arrowSqlBase),
       |pts AS MATERIALIZED (SELECT s_suppkey,
       |  ${ptsList(rings(0))} AS o, ${ptsList(rings(1))} AS h FROM b),
       |m AS MATERIALIZED (SELECT s_suppkey,
       |  (${crossOf("o")}) + (${crossOf("h")}) AS a2,
       |  (${momentOf("o", "x")}) + (${momentOf("h", "x")}) AS sx,
       |  (${momentOf("o", "y")}) + (${momentOf("h", "y")}) AS sy FROM pts)
       |SELECT s_suppkey, sx / (3.0 * a2) AS cx, sy / (3.0 * a2) AS cy
       |FROM m ORDER BY s_suppkey""".stripMargin
  }

  /** G30 — convex hull per group: customer-derived integer lattice
    * points grouped mod 23, hulled by
    * [[graft.functions.ConvexHullExprs.convexHullCol]] (monotone chain,
    * STRICT — collinear boundary points dropped), the closed CCW ring
    * emitted vertex-by-vertex. The oracle is a genuinely INDEPENDENT
    * algorithm: hull EDGES found by the all-points-strictly-left census
    * (an edge survives iff every other point is strictly left of it or
    * collinear-between — the O(n³) definition, not a chain build), the
    * vertex set taken from edge endpoints, and the ring ORDER
    * reconstructed from the set alone via the min→max chord
    * classification (lower side ascending, upper side descending) —
    * possible only because the kernel's emission order is a pure
    * function of the hull SET. Integer-valued doubles keep every
    * orientation test exact on both engines.
    */
  query("g30_convex_hull") { (s, d) =>
    import graft.functions.ConvexHullExprs
    val c = col("c_custkey")
    Tables.customer(s, d).select(
        (c % 23).cast("int").as("grp"),
        ((c % 5) * 4).cast("double").as("x"),
        ((c % 7) * 3).cast("double").as("y"))
      .groupBy("grp")
      .agg(collect_list(struct(col("x"), col("y"))).as("pts"))
      .select(col("grp"),
        posexplode(ConvexHullExprs.convexHullCol(col("pts"))).as(Seq("pt_i", "pt")))
      .select(col("grp"), col("pt_i"), col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("grp", "pt_i")
  }(
    // g30: INDEPENDENT hull-edge census (all-points-strictly-left O(n^3)
    // definition) + chord-order ring reconstruction vs the monotone chain.
    sqlConvexHull)

  /** G31 — hull METRICS: g30's constructed hull ring fed straight into
    * the measure kernels (the constructor-feeds-measures composition):
    * vertex count, shoelace area, centroid, perimeter, and squared
    * diameter per group. Exactness stratification drives the oracle:
    * area/centroid/diameter² are INTEGER-EXACT on the lattice fixture
    * (any faithful summation matches bitwise, so the oracle may fold
    * over the un-ordered hull-edge census); the perimeter's sqrt terms
    * are irrational, so it ships FIXED-POINT per edge (⌊len·2²⁰⌋ — each
    * edge length is bitwise-replayed, floors are identical, and the
    * integer sum is order-free; a round-6 over differently-ordered
    * float sums would be the repo's one boundary-flaky gate — r16b
    * review finding).
    */
  query("g31_hull_metrics") { (s, d) =>
    import graft.functions.{CentroidExprs, ConvexHullExprs}
    val c = col("c_custkey")
    val ring = col("ring")
    val perimFp = aggregate(sequence(lit(1), size(ring) - 1), lit(0L), (a, i) =>
      a + floor(sqrt(
        (element_at(ring, i + 1).getField("x") - element_at(ring, i).getField("x")) *
          (element_at(ring, i + 1).getField("x") - element_at(ring, i).getField("x")) +
          (element_at(ring, i + 1).getField("y") - element_at(ring, i).getField("y")) *
            (element_at(ring, i + 1).getField("y") - element_at(ring, i).getField("y")))
        * lit(1048576.0)).cast("long"))
    val diam2 = aggregate(ring, lit(0.0), (acc, p) =>
      greatest(acc, aggregate(ring, lit(0.0), (a2, q) =>
        greatest(a2,
          (p.getField("x") - q.getField("x")) * (p.getField("x") - q.getField("x")) +
            (p.getField("y") - q.getField("y")) * (p.getField("y") - q.getField("y"))))))
    Tables.customer(s, d).select(
        (c % 23).cast("int").as("grp"),
        ((c % 5) * 4).cast("double").as("x"),
        ((c % 7) * 3).cast("double").as("y"))
      .groupBy("grp")
      .agg(collect_list(struct(col("x"), col("y"))).as("pts"))
      .withColumn("ring", ConvexHullExprs.convexHullCol(col("pts")))
      .select(col("grp"),
        (size(ring) - 1).cast("int").as("n_vertices"),
        graft.functions.SpatialOps.ringsArea(array(ring)).as("hull_area"),
        CentroidExprs.centroidCol(array(ring)).as("c"),
        perimFp.as("perim_fp"),
        diam2.as("diameter2"))
      .select(col("grp"), col("n_vertices"), col("hull_area"),
        col("c.x").as("cx"), col("c.y").as("cy"), col("perim_fp"), col("diameter2"))
      .orderBy("grp")
  }(
    // g31: hull metrics from the census alone — integer-exact area/
    // centroid/diameter^2 need no ring order; perimeter round-6 (g1 rule).
    sqlHullMetrics)

  /** g31's oracle — metrics from the EDGE CENSUS alone (no ring order):
    * area = ½|Σ_edges cross|, centroid = Σ(a+b)·w / 3Σw (integer-exact
    * sums → identical quotients), diameter² = max pairwise over the
    * vertex set, perimeter = Σ⌊edge·2²⁰⌋ integer fixed-point.
    */
  private def sqlHullMetrics: String = {
    val census = sqlConvexHull
    val upToHull = census.substring(0, census.indexOf("mm AS MATERIALIZED"))
    upToHull +
      """em AS MATERIALIZED (SELECT grp,
        |  sum(ax * by - bx * ay) AS a2,
        |  sum((ax + bx) * (ax * by - bx * ay)) AS sx,
        |  sum((ay + by) * (ax * by - bx * ay)) AS sy,
        |  CAST(sum(CAST(floor(sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
        |    * 1048576.0) AS BIGINT)) AS BIGINT) AS perim_fp,
        |  CAST(count(*) AS INT) AS n_vertices
        |  FROM edges GROUP BY grp),
        |dm AS MATERIALIZED (SELECT a.grp,
        |  max((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS diameter2
        |  FROM hullv a JOIN hullv b ON a.grp = b.grp GROUP BY a.grp)
        |SELECT e.grp, e.n_vertices, abs(e.a2) / 2 AS hull_area,
        |  e.sx / (3.0 * e.a2) AS cx, e.sy / (3.0 * e.a2) AS cy,
        |  e.perim_fp, d.diameter2
        |FROM em e JOIN dm d ON e.grp = d.grp ORDER BY e.grp""".stripMargin
  }

  /** G33 — OPEN-PATH Douglas–Peucker (trajectory simplification): the
    * g27 ring kernel applied to open polylines — [[graft.functions
    * .SimplifyExprs.simplifyRing]] never assumed closure (endpoints
    * always kept, point-to-LINE deviation), so GPS-trace thinning rides
    * the same oracled kernel. Four hand-traced classes at eps = 1
    * (translation-exact: all coordinates integer-valued doubles, so
    * deviations are identical for every row of a class): collinear →
    * endpoints only; one spike → spike + its chord-split survivor;
    * amplitude-1 zigzag → dropped ENTIRELY (deviation² == eps²
    * exactly — the strict-> contract as a driver-gated boundary case);
    * amplitude-2 zigzag → all kept.
    */
  query("g33_simplify_path") { (s, d) =>
    import graft.functions.SimplifyExprs
    val k = col("s_suppkey")
    val x0 = (k % 90).cast("double")
    val y0 = (k % 80).cast("double")
    val cls = (k % 4).cast("int")
    def pt(dx: Column, dy: Column) = struct((x0 + dx).as("x"), (y0 + dy).as("y"))
    val y1 = when(cls === 1, lit(3.0)).when(cls === 2, lit(1.0))
      .when(cls === 3, lit(2.0)).otherwise(lit(0.0))
    val y2 = when(cls === 2, lit(-1.0)).when(cls === 3, lit(-2.0)).otherwise(lit(0.0))
    val y3 = when(cls === 2, lit(1.0)).when(cls === 3, lit(2.0)).otherwise(lit(0.0))
    val y4 = when(cls === 2, lit(-1.0)).when(cls === 3, lit(-2.0)).otherwise(lit(0.0))
    val path = array(pt(lit(0.0), lit(0.0)), pt(lit(2.0), y1), pt(lit(4.0), y2),
      pt(lit(6.0), y3), pt(lit(8.0), y4), pt(lit(10.0), lit(0.0)))
    Tables.supplier(s, d).select(k, cls.as("cls"), path.as("_p"))
      .select(k, col("cls"),
        posexplode(SimplifyExprs.simplifyRingCol(col("_p"), lit(1.0))).as(Seq("pt_i", "pt")))
      .select(k, col("cls"), col("pt_i"), col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("s_suppkey", "pt_i")
  }(
    // g33: hand-traced DP classes on open paths (translation-exact).
    sqlSimplifyPath)

  /** g33's oracle — the four classes' kept offset lists derived BY HAND
    * from the first-strict-max recursion (class 1's chord-split
    * deviations 324/73 and the class-2 boundary 100/100 == eps²
    * worked in the scaladoc), emitted per supplier at its (x0, y0)
    * translation.
    */
  private def sqlSimplifyPath: String = {
    def kept(cls: Int): Seq[(Int, Int)] = cls match {
      case 0 => Seq((0, 0), (10, 0))
      case 1 => Seq((0, 0), (2, 3), (4, 0), (10, 0))
      case 2 => Seq((0, 0), (10, 0))
      case _ => Seq((0, 0), (2, 2), (4, -2), (6, 2), (8, -2), (10, 0))
    }
    def listOf(cls: Int): String =
      kept(cls).zipWithIndex.map { case ((dx, dy), i) =>
        s"struct_pack(pt_i := CAST($i AS INT), x := x0 + $dx, y := y0 + ($dy))"
      }.mkString("[", ", ", "]")
    s"""WITH b AS (SELECT s_suppkey,
       |  CAST(s_suppkey % 90 AS DOUBLE) AS x0, CAST(s_suppkey % 80 AS DOUBLE) AS y0,
       |  CAST(s_suppkey % 4 AS INT) AS cls FROM supplier)
       |SELECT s_suppkey, cls, v.pt_i AS pt_i, v.x AS x, v.y AS y FROM (
       |  SELECT s_suppkey, cls, unnest(CASE cls
       |    WHEN 0 THEN ${listOf(0)}
       |    WHEN 1 THEN ${listOf(1)}
       |    WHEN 2 THEN ${listOf(2)}
       |    ELSE ${listOf(3)} END) AS v FROM b)
       |ORDER BY s_suppkey, pt_i""".stripMargin
  }

  /** G32 — minimum bounding rectangle area per group (rotating calipers
    * via the edge-flush theorem on g30's hull): mbr ≤ axis-aligned bbox,
    * with the tightness ratio emitted. Every projection span is an
    * exact integer product on the lattice fixture, so the per-edge
    * rational and the min VALUE replay bitwise with no fold-order
    * coupling — the oracle computes the same rectangle areas
    * relationally over the independent edge census.
    */
  query("g32_min_bbox") { (s, d) =>
    import graft.functions.ConvexHullExprs
    val c = col("c_custkey")
    Tables.customer(s, d).select(
        (c % 23).cast("int").as("grp"),
        ((c % 5) * 4).cast("double").as("x"),
        ((c % 7) * 3).cast("double").as("y"))
      .groupBy("grp")
      .agg(collect_list(struct(col("x"), col("y"))).as("pts"),
        max(col("x")).as("mxx"), min(col("x")).as("mnx"),
        max(col("y")).as("mxy"), min(col("y")).as("mny"))
      .withColumn("ring", ConvexHullExprs.convexHullCol(col("pts")))
      .select(col("grp"),
        ConvexHullExprs.mbrAreaCol(col("ring")).as("mbr_area"),
        ((col("mxx") - col("mnx")) * (col("mxy") - col("mny"))).as("bbox_area"))
      .withColumn("tightness", col("mbr_area") / col("bbox_area"))
      .orderBy("grp")
  }(
    // g32: rotating-calipers MBR — per-edge rationals over the census,
    // min value (integer-exact spans, no fold-order coupling).
    sqlMinBbox)

  /** g32's oracle — per-edge projection spans over the census, the same
    * rational per edge, min value per group. */
  private def sqlMinBbox: String = {
    val census = sqlConvexHull
    val upToHull = census.substring(0, census.indexOf("mm AS MATERIALIZED"))
    upToHull +
      """em AS MATERIALIZED (SELECT e.grp, e.ax, e.ay, e.bx, e.by,
        |  min((v.x - e.ax) * (e.bx - e.ax) + (v.y - e.ay) * (e.by - e.ay)) AS mind,
        |  max((v.x - e.ax) * (e.bx - e.ax) + (v.y - e.ay) * (e.by - e.ay)) AS maxd,
        |  min((e.bx - e.ax) * (v.y - e.ay) - (e.by - e.ay) * (v.x - e.ax)) AS minc,
        |  max((e.bx - e.ax) * (v.y - e.ay) - (e.by - e.ay) * (v.x - e.ax)) AS maxc
        |  FROM edges e JOIN hullv v ON e.grp = v.grp
        |  GROUP BY e.grp, e.ax, e.ay, e.bx, e.by),
        |mbr AS MATERIALIZED (SELECT grp, min(((maxd - mind) * (maxc - minc)) /
        |  ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))) AS mbr_area
        |  FROM em GROUP BY grp),
        |bb AS MATERIALIZED (SELECT grp,
        |  (max(x) - min(x)) * (max(y) - min(y)) AS bbox_area FROM pts GROUP BY grp)
        |SELECT m.grp, m.mbr_area, b.bbox_area, m.mbr_area / b.bbox_area AS tightness
        |FROM mbr m JOIN bb b ON m.grp = b.grp ORDER BY m.grp""".stripMargin
  }

  /** g30's oracle — see [[g30]]: edge census → vertex set → chord-order
    * reconstruction. */
  private def sqlConvexHull: String =
    """WITH pts AS MATERIALIZED (SELECT DISTINCT CAST(c_custkey % 23 AS INT) AS grp,
      |    CAST((c_custkey % 5) * 4 AS DOUBLE) AS x,
      |    CAST((c_custkey % 7) * 3 AS DOUBLE) AS y FROM customer),
      |edges AS MATERIALIZED (
      |  SELECT a.grp, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
      |  FROM pts a JOIN pts b ON a.grp = b.grp AND (a.x <> b.x OR a.y <> b.y)
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM pts q WHERE q.grp = a.grp
      |      AND (q.x <> a.x OR q.y <> a.y) AND (q.x <> b.x OR q.y <> b.y)
      |      AND NOT ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x) > 0
      |        OR ((b.x - a.x) * (q.y - a.y) - (b.y - a.y) * (q.x - a.x) = 0
      |            AND q.x >= least(a.x, b.x) AND q.x <= greatest(a.x, b.x)
      |            AND q.y >= least(a.y, b.y) AND q.y <= greatest(a.y, b.y))))),
      |hullv AS MATERIALIZED (SELECT DISTINCT grp, x, y FROM (
      |  SELECT grp, ax AS x, ay AS y FROM edges
      |  UNION ALL SELECT grp, bx AS x, by AS y FROM edges)),
      |mm AS MATERIALIZED (SELECT grp,
      |  struct_extract(min(struct_pack(x := x, y := y)), 'x') AS mnx,
      |  struct_extract(min(struct_pack(x := x, y := y)), 'y') AS mny,
      |  struct_extract(max(struct_pack(x := x, y := y)), 'x') AS mxx,
      |  struct_extract(max(struct_pack(x := x, y := y)), 'y') AS mxy
      |  FROM hullv GROUP BY grp),
      |cls AS MATERIALIZED (SELECT h.grp, h.x, h.y, m.mnx, m.mny, m.mxx, m.mxy,
      |  (m.mxx - m.mnx) * (h.y - m.mny) - (m.mxy - m.mny) * (h.x - m.mnx) AS side
      |  FROM hullv h JOIN mm m USING (grp)),
      |cnts AS MATERIALIZED (SELECT grp,
      |  CAST(sum(CASE WHEN side < 0 THEN 1 ELSE 0 END) AS INT) AS nl,
      |  CAST(sum(CASE WHEN side > 0 THEN 1 ELSE 0 END) AS INT) AS nu
      |  FROM cls GROUP BY grp)
      |SELECT grp, pt_i, x, y FROM (
      |  SELECT grp, CAST(0 AS INT) AS pt_i, mnx AS x, mny AS y FROM mm
      |  UNION ALL
      |  SELECT grp, CAST(row_number() OVER (PARTITION BY grp ORDER BY x, y) AS INT),
      |    x, y FROM cls WHERE side < 0
      |  UNION ALL
      |  SELECT c.grp, c.nl + 1, m.mxx, m.mxy FROM cnts c JOIN mm m USING (grp)
      |  UNION ALL
      |  SELECT grp, CAST(nl + 1 + row_number()
      |      OVER (PARTITION BY grp ORDER BY x DESC, y DESC) AS INT), x, y
      |  FROM cls JOIN cnts USING (grp) WHERE side > 0
      |  UNION ALL
      |  SELECT c.grp, c.nl + c.nu + 2, m.mnx, m.mny FROM cnts c JOIN mm m USING (grp))
      |ORDER BY grp, pt_i""".stripMargin
}
