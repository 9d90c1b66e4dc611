package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial joins and zonal statistics: bbox and refine joins,
  * point-in-polygon, distance and kNN joins, the SQL surface, and zonal sums
  * over exact clip areas. */
object SpatialJoinQueries extends Family {
  import Helpers._

  /** J11 — binned bbox spatial join (PBSM): suppliers and customers get
    * synthetic integer-derived envelopes; SpatialJoin.bboxJoin bins them
    * onto a grid and equi-joins on cell keys with reference-point dedup —
    * no cartesian product. Oracle is the equivalent theta join in DuckDB.
    */
  query("j11_bbox_join") { (s, d) =>
    import graft.functions.SpatialOps
    def box(key: Column): Seq[Column] = Seq(
      key % 97, key % 89, key % 97 + lit(1) + key % 5, key % 89 + lit(1) + key % 7)
    val sb = Tables.supplier(s, d).select(col("s_suppkey"),
      SpatialOps.bbox(box(col("s_suppkey"))(0), box(col("s_suppkey"))(1),
        box(col("s_suppkey"))(2), box(col("s_suppkey"))(3)).as("env"))
    val cb = Tables.customer(s, d).select(col("c_custkey"),
      SpatialOps.bbox(box(col("c_custkey"))(0), box(col("c_custkey"))(1),
        box(col("c_custkey"))(2), box(col("c_custkey"))(3)).as("env_r"))
    operators.SpatialJoin.bboxJoin(sb, cb, "env", "env_r", cellSize = 8.0)
      .select("s_suppkey", "c_custkey")
      .orderBy("s_suppkey", "c_custkey")
  }("""WITH sb AS (
      |  SELECT s_suppkey,
      |         s_suppkey % 97 AS xmin, s_suppkey % 89 AS ymin,
      |         s_suppkey % 97 + 1 + s_suppkey % 5 AS xmax,
      |         s_suppkey % 89 + 1 + s_suppkey % 7 AS ymax
      |  FROM supplier),
      |cb AS (
      |  SELECT c_custkey,
      |         c_custkey % 97 AS xmin, c_custkey % 89 AS ymin,
      |         c_custkey % 97 + 1 + c_custkey % 5 AS xmax,
      |         c_custkey % 89 + 1 + c_custkey % 7 AS ymax
      |  FROM customer)
      |SELECT s_suppkey, c_custkey FROM sb JOIN cb
      |  ON sb.xmin <= cb.xmax AND cb.xmin <= sb.xmax
      | AND sb.ymin <= cb.ymax AND cb.ymin <= sb.ymax
      |ORDER BY s_suppkey, c_custkey""".stripMargin)

  /** J13 — bbox join under a DELIBERATELY skewed distribution (the
    * one-dense-city shape): 80% of each side's boxes crowd into grid cell
    * (0,0), the rest spread. Runs through the SALTED join path (salts=8):
    * the hot cell's key fans out over 8 sub-keys, so no task owns the
    * whole city, while the oracle — a direct all-pairs intersect join —
    * proves the salting changes nothing about the result.
    */
  query("j13_bbox_skew") { (s, d) =>
    import graft.functions.SpatialOps
    def boxes(key: Column): (Column, Column, Column, Column) = {
      val hot = key % 5 =!= 0
      val x0 = when(hot, (key % 13) * 0.5).otherwise((key % 97) * 2)
      val y0 = when(hot, (key % 11) * 0.5).otherwise((key % 89) * 2)
      (x0, y0, x0 + lit(1) + key % 3, y0 + lit(1) + key % 4)
    }
    val (sx0, sy0, sx1, sy1) = boxes(col("s_suppkey"))
    val sb = Tables.supplier(s, d).select(col("s_suppkey"),
      SpatialOps.bbox(sx0, sy0, sx1, sy1).as("env"))
    val (cx0, cy0, cx1, cy1) = boxes(col("c_custkey"))
    val cb = Tables.customer(s, d).select(col("c_custkey"),
      SpatialOps.bbox(cx0, cy0, cx1, cy1).as("env_r"))
    operators.SpatialJoin.bboxJoin(sb, cb, "env", "env_r", cellSize = 8.0, salts = 8)
      .select("s_suppkey", "c_custkey")
      .orderBy("s_suppkey", "c_custkey")
  }(
    // j13: direct all-pairs intersect join over the same skewed boxes —
    // the salted PBSM path must be result-identical to the naive join.
    """WITH sb AS (
      |  SELECT s_suppkey,
      |    CASE WHEN s_suppkey % 5 <> 0 THEN (s_suppkey % 13) * 0.5 ELSE (s_suppkey % 97) * 2 END AS xmin,
      |    CASE WHEN s_suppkey % 5 <> 0 THEN (s_suppkey % 11) * 0.5 ELSE (s_suppkey % 89) * 2 END AS ymin
      |  FROM supplier),
      |sb2 AS (SELECT s_suppkey, xmin, ymin,
      |    xmin + 1 + s_suppkey % 3 AS xmax, ymin + 1 + s_suppkey % 4 AS ymax FROM sb),
      |cb AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 5 <> 0 THEN (c_custkey % 13) * 0.5 ELSE (c_custkey % 97) * 2 END AS xmin,
      |    CASE WHEN c_custkey % 5 <> 0 THEN (c_custkey % 11) * 0.5 ELSE (c_custkey % 89) * 2 END AS ymin
      |  FROM customer),
      |cb2 AS (SELECT c_custkey, xmin, ymin,
      |    xmin + 1 + c_custkey % 3 AS xmax, ymin + 1 + c_custkey % 4 AS ymax FROM cb)
      |SELECT s_suppkey, c_custkey FROM sb2 JOIN cb2
      |  ON sb2.xmin <= cb2.xmax AND cb2.xmin <= sb2.xmax
      | AND sb2.ymin <= cb2.ymax AND cb2.ymin <= sb2.ymax
      |ORDER BY s_suppkey, c_custkey""".stripMargin)

  /** J16 — TRUE point-in-polygon on the WKT surface: crossing number,
    * boundary detection, and closed containment per supplier arrow against
    * a per-key probe point sweeping interior / hole / notch / edge / vertex
    * / outside positions. The Spark side PARSES the WKT it built (the
    * production path); the oracle recomputes the identical crossing
    * arithmetic directly from the generating integers.
    */
  query("j16_point_in_polygon") { (s, d) =>
    import graft.functions.SpatialOps
    val k = col("s_suppkey")
    val x0 = (k % 90).cast("double"); val y0 = (k % 80).cast("double")
    val px = x0 + (k % 9).cast("double") * lit(0.5)
    val py = y0 + (k % 11).cast("double") * lit(0.5)
    Tables.supplier(s, d)
      .select(k, arrowWkt(k, withHole = true).as("geom"), px.as("px"), py.as("py"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_r"),
        col("px"), col("py"))
      .select(col("s_suppkey"),
        SpatialOps.ringsCrossingNumber(col("_r"), col("px"), col("py")).as("crossings"),
        SpatialOps.ringsPointOnBoundary(col("_r"), col("px"), col("py"))
          .cast("int").as("on_boundary"),
        SpatialOps.ringsContainPoint(col("_r"), col("px"), col("py"))
          .cast("int").as("inside"))
      .orderBy("s_suppkey")
  } {
    // j16: the crossing-number / boundary / containment arithmetic replayed
    // from the generating integers (the Spark side parses the WKT it built;
    // the oracle never parses - it recomputes the same dyadic coordinates).
    val segs = arrowSqlPts(withHole = true).flatMap(sqlRingSegs)
    s"""WITH base AS ($arrowSqlBase),
       |p AS (SELECT s_suppkey, x0, y0, w, h,
       |  x0 + CAST(s_suppkey % 9 AS DOUBLE) * 0.5 AS px,
       |  y0 + CAST(s_suppkey % 11 AS DOUBLE) * 0.5 AS py FROM base)
       |SELECT s_suppkey, ${sqlCrossings(segs, "px", "py")} AS crossings,
       |  CASE WHEN ${sqlOnBoundary(segs, "px", "py")} THEN 1 ELSE 0 END AS on_boundary,
       |  CASE WHEN ${sqlContains(segs, "px", "py")} THEN 1 ELSE 0 END AS inside
       |FROM p ORDER BY s_suppkey""".stripMargin
  }

  /** J17 — filter-refine point-in-polygon JOIN: customers (points) into
    * supplier arrows through SpatialJoin.bboxJoin with the exact
    * containment refine ANDed join-local. The oracle is the UNFILTERED
    * theta join evaluating the same crossing arithmetic — the refine path
    * must be result-identical to brute force.
    */
  query("j17_refine_join") { (s, d) =>
    import graft.functions.SpatialOps
    val polys = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_r"))
      .withColumn("env", SpatialOps.ringsEnvelope(col("_r")))
    val c = col("c_custkey")
    val pts = Tables.customer(s, d).select(c,
        ((c % 93).cast("double") + (c % 3).cast("double") * lit(0.5)).as("px"),
        ((c % 83).cast("double") + (c % 7).cast("double") * lit(0.25)).as("py"))
      .withColumn("env_r", SpatialOps.bbox(col("px"), col("py"), col("px"), col("py")))
    // codegen refine (GeomPredExprs): bit-identical decisions to the
    // ringsContainPoint HOF algebra (spec-asserted), one static call per
    // candidate inside whole-stage codegen instead of interpreted HOFs
    operators.SpatialJoin.bboxJoin(polys, pts, "env", "env_r", cellSize = 8.0,
        refine = graft.functions.GeomPredExprs.pointInRings(
          col("_r"), col("px"), col("py")))
      .select("s_suppkey", "c_custkey")
      .orderBy("s_suppkey", "c_custkey")
  } {
    // j17: the UNFILTERED theta join with the same closed-containment
    // arithmetic - the bbox+refine path must be result-identical.
    val segs = arrowSqlPts(withHole = true).flatMap(sqlRingSegs)
    s"""WITH sup AS ($arrowSqlBase),
       |cust AS (SELECT c_custkey,
       |  CAST(c_custkey % 93 AS DOUBLE) + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS px,
       |  CAST(c_custkey % 83 AS DOUBLE) + CAST(c_custkey % 7 AS DOUBLE) * 0.25 AS py
       |  FROM customer)
       |SELECT s_suppkey, c_custkey FROM sup JOIN cust
       |  ON ${sqlContains(segs, "px", "py")}
       |ORDER BY s_suppkey, c_custkey""".stripMargin
  }

  /** J18 — filter-refine polygon-OVERLAP join: supplier arrows (concave,
    * no hole) against customer diamonds (no axis-aligned edges) through
    * bboxJoin with the exact intersection refine (segment orientation
    * tests + representative-vertex containment). Oracle = unfiltered theta
    * join over the same orientation algebra.
    */
  query("j18_overlap_join") { (s, d) =>
    import graft.functions.SpatialOps
    val a = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = false).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_ra"))
      .withColumn("env", SpatialOps.ringsEnvelope(col("_ra")))
    val c = col("c_custkey")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val r = lit(1.0) + (c % 3).cast("double") * lit(0.5)
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val diamond = concat(lit("POLYGON (("),
      concat_ws(", ", pt(cx, cy - r), pt(cx + r, cy), pt(cx, cy + r),
        pt(cx - r, cy), pt(cx, cy - r)), lit("))"))
    val b = Tables.customer(s, d)
      .select(c, diamond.as("geom_b"))
      .select(col("c_custkey"), SpatialOps.wktRings(col("geom_b")).as("_rb"))
      .withColumn("env_r", SpatialOps.ringsEnvelope(col("_rb")))
    // codegen refine — the probe measured the interpreted HOF form at
    // ~340 µs/candidate (12.7 s at sf0.1 over 205 k bbox candidates); the
    // fused kernel runs the identical IEEE algebra as one static call
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0,
        refine = graft.functions.GeomPredExprs.ringsIntersect(col("_ra"), col("_rb")))
      .select("s_suppkey", "c_custkey")
      .orderBy("s_suppkey", "c_custkey")
  } {
    // j18: unfiltered theta join over the orientation-sign segment tests +
    // representative-vertex containment (closed overlap semantics).
    val aSegs = arrowSqlPts(withHole = false).flatMap(sqlRingSegs)
    val bSegs = sqlRingSegs(diamondSqlPts)
    s"""WITH sup AS ($arrowSqlBase),
       |cust AS (SELECT c_custkey,
       |  CAST(c_custkey % 88 AS DOUBLE) + 2.0 AS cx,
       |  CAST(c_custkey % 78 AS DOUBLE) + 2.0 AS cy,
       |  1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r
       |  FROM customer)
       |SELECT s_suppkey, c_custkey FROM sup JOIN cust
       |  ON (${sqlEdgesIntersect(aSegs, bSegs)}
       |   OR ${sqlContains(bSegs, "(x0)", "(y0)")}
       |   OR ${sqlContains(aSegs, "(cx)", "(cy - r)")})
       |ORDER BY s_suppkey, c_custkey""".stripMargin
  }

  /** J19 — ST_DWithin refine join (the buffer query — the most common
    * real spatial predicate after containment): customers within 1.5
    * units of the supplier arrows' REGION (inside counts as distance 0;
    * a point in the hole measures to the hole ring). The filter stage
    * expands each polygon's envelope by the distance so bbox pruning
    * stays complete; the refine is the codegen clamped-segment-projection
    * kernel. Oracle = unfiltered theta join over the identical IEEE
    * arithmetic (contains OR boundary-dist² ≤ 2.25).
    */
  query("j19_dwithin_join") { (s, d) =>
    import graft.functions.SpatialOps
    val dist = 1.5
    val polys = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_r"))
      .withColumn("env", {
        val e = SpatialOps.ringsEnvelope(col("_r"))
        SpatialOps.bbox(e.getField("xmin") - dist, e.getField("ymin") - dist,
          e.getField("xmax") + dist, e.getField("ymax") + dist)
      })
    val c = col("c_custkey")
    val pts = Tables.customer(s, d).select(c,
        ((c % 93).cast("double") + (c % 3).cast("double") * lit(0.5)).as("px"),
        ((c % 83).cast("double") + (c % 7).cast("double") * lit(0.25)).as("py"))
      .withColumn("env_r", SpatialOps.bbox(col("px"), col("py"), col("px"), col("py")))
    operators.SpatialJoin.bboxJoin(polys, pts, "env", "env_r", cellSize = 8.0,
        refine = graft.functions.GeomPredExprs.withinDistCol(
          col("_r"), col("px"), col("py"), lit(dist)))
      .select("s_suppkey", "c_custkey")
      .orderBy("s_suppkey", "c_custkey")
  } {
    // j19: the UNFILTERED theta join with the same region-distance
    // arithmetic (contains OR clamped-projection boundary-dist² ≤ 2.25) —
    // the expanded-envelope bbox + codegen refine must equal brute force.
    val segs = arrowSqlPts(withHole = true).flatMap(sqlRingSegs)
    s"""WITH sup AS ($arrowSqlBase),
       |cust AS (SELECT c_custkey,
       |  CAST(c_custkey % 93 AS DOUBLE) + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS px,
       |  CAST(c_custkey % 83 AS DOUBLE) + CAST(c_custkey % 7 AS DOUBLE) * 0.25 AS py
       |  FROM customer)
       |SELECT s_suppkey, c_custkey FROM sup JOIN cust
       |  ON (${sqlContains(segs, "px", "py")}
       |   OR ${sqlBoundaryDistSq(segs, "px", "py")} <= 2.25)
       |ORDER BY s_suppkey, c_custkey""".stripMargin
  }

  /** J20 — NEAREST-NEIGHBOR spatial join (k = 1 with a search radius —
    * "snap each point to its closest parcel"): for every customer point,
    * the supplier arrow with the minimum REGION distance (0 inside; else
    * boundary distance) within radius 3, ties to the lower key. The
    * filter stage is the j19 expanded-envelope bbox join; ranking is a
    * lexicographic `min(struct(d2, key))` per point — one aggregation
    * exchange, no window over a global sort. The oracle replays the
    * identical distance arithmetic over the unfiltered theta join and
    * ranks with row_number(ORDER BY d2, key); the d2 DOUBLES hash-match
    * bit-for-bit because every op chain is identical.
    */
  query("j20_nearest_join") { (s, d) =>
    import graft.functions.{GeomPredExprs, SpatialOps}
    val radius = 3.0
    val polys = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_r"))
      .withColumn("env", {
        val e = SpatialOps.ringsEnvelope(col("_r"))
        SpatialOps.bbox(e.getField("xmin") - radius, e.getField("ymin") - radius,
          e.getField("xmax") + radius, e.getField("ymax") + radius)
      })
    val c = col("c_custkey")
    val pts = Tables.customer(s, d).select(c,
        ((c % 93).cast("double") + (c % 3).cast("double") * lit(0.5)).as("px"),
        ((c % 83).cast("double") + (c % 7).cast("double") * lit(0.25)).as("py"))
      .withColumn("env_r", SpatialOps.bbox(col("px"), col("py"), col("px"), col("py")))
    operators.SpatialJoin.bboxJoin(polys, pts, "env", "env_r", cellSize = 8.0)
      .withColumn("d2", GeomPredExprs.regionDistSqCol(col("_r"), col("px"), col("py")))
      .filter(col("d2") <= lit(radius * radius))
      .groupBy("c_custkey")
      .agg(min(struct(col("d2"), col("s_suppkey"))).as("best"))
      .select(col("c_custkey"), col("best.s_suppkey").as("s_suppkey"),
        col("best.d2").as("d2"))
      .orderBy("c_custkey")
  } {
    // j20: the unfiltered theta join computing the identical region
    // distance, ranked by row_number(ORDER BY d2, key) — the min-struct
    // aggregation must pick the same (d2, key) pair, and the raw d2
    // doubles must hash-match bit-for-bit.
    val segs = arrowSqlPts(withHole = true).flatMap(sqlRingSegs)
    s"""WITH sup AS ($arrowSqlBase),
       |cust AS (SELECT c_custkey,
       |  CAST(c_custkey % 93 AS DOUBLE) + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS px,
       |  CAST(c_custkey % 83 AS DOUBLE) + CAST(c_custkey % 7 AS DOUBLE) * 0.25 AS py
       |  FROM customer),
       |cand AS (SELECT c_custkey, s_suppkey,
       |  CASE WHEN ${sqlContains(segs, "px", "py")} THEN 0.0
       |       ELSE ${sqlBoundaryDistSq(segs, "px", "py")} END AS d2
       |  FROM sup JOIN cust ON TRUE)
       |SELECT c_custkey, s_suppkey, d2 FROM (
       |  SELECT c_custkey, s_suppkey, d2,
       |    row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) AS rn
       |  FROM cand WHERE d2 <= 9.0) t
       |WHERE rn = 1 ORDER BY c_custkey""".stripMargin
  }

  /** J24 — k-NEAREST-NEIGHBOR spatial join, k > 1 ("snap each point to
    * its 3 nearest parcels within radius 3"): j20's expanded-envelope
    * bbox filter + the identical region-distance refine, ranked by the
    * [[graft.plans.TopK]] bounded-heap physical operator on the total
    * order (d2, key) instead of j20's k=1 min-struct. Plan shape: the
    * partial pass caps each (point, input-partition) at k rows BEFORE
    * the one exchange — shuffle volume is k·points, never the candidate
    * set; no window, no per-partition full sort. The oracle replays the
    * identical distance arithmetic over the unfiltered theta join and
    * ranks with row_number(ORDER BY d2, key) <= k — the heap must keep
    * exactly the window's rows, d2 doubles bit-for-bit.
    */
  query("j24_knn_join") { (s, d) =>
    import graft.functions.{GeomPredExprs, SpatialOps}
    val radius = 3.0
    val k = 3
    val polys = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_r"))
      .withColumn("env", {
        val e = SpatialOps.ringsEnvelope(col("_r"))
        SpatialOps.bbox(e.getField("xmin") - radius, e.getField("ymin") - radius,
          e.getField("xmax") + radius, e.getField("ymax") + radius)
      })
    val c = col("c_custkey")
    val pts = Tables.customer(s, d).select(c,
        ((c % 93).cast("double") + (c % 3).cast("double") * lit(0.5)).as("px"),
        ((c % 83).cast("double") + (c % 7).cast("double") * lit(0.25)).as("py"))
      .withColumn("env_r", SpatialOps.bbox(col("px"), col("py"), col("px"), col("py")))
    val cand = operators.SpatialJoin.bboxJoin(polys, pts, "env", "env_r", cellSize = 8.0)
      .withColumn("d2", GeomPredExprs.regionDistSqCol(col("_r"), col("px"), col("py")))
      .filter(col("d2") <= lit(radius * radius))
      .select("c_custkey", "s_suppkey", "d2")
    graft.plans.TopK.perKey(cand,
        Seq(col("c_custkey")), Seq(col("d2").asc, col("s_suppkey").asc), k)
      .orderBy("c_custkey", "d2", "s_suppkey")
  } {
    // j24: j20's oracle with rn <= 3 — the bounded-heap TopK operator
    // must keep exactly the rows the window ranking keeps, per point.
    val segs = arrowSqlPts(withHole = true).flatMap(sqlRingSegs)
    s"""WITH sup AS ($arrowSqlBase),
       |cust AS (SELECT c_custkey,
       |  CAST(c_custkey % 93 AS DOUBLE) + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS px,
       |  CAST(c_custkey % 83 AS DOUBLE) + CAST(c_custkey % 7 AS DOUBLE) * 0.25 AS py
       |  FROM customer),
       |cand AS (SELECT c_custkey, s_suppkey,
       |  CASE WHEN ${sqlContains(segs, "px", "py")} THEN 0.0
       |       ELSE ${sqlBoundaryDistSq(segs, "px", "py")} END AS d2
       |  FROM sup JOIN cust ON TRUE)
       |SELECT c_custkey, s_suppkey, d2 FROM (
       |  SELECT c_custkey, s_suppkey, d2,
       |    row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) AS rn
       |  FROM cand WHERE d2 <= 9.0) t
       |WHERE rn <= 3 ORDER BY c_custkey, d2, s_suppkey""".stripMargin
  }

  /** J21 — zonal clip AREAS: supplier arrows (holes included) against an
    * 8-unit tile grid through bboxJoin, each surviving pair measured by
    * the exact Sutherland–Hodgman clip area ([[ClipExprs]]). The oracle
    * computes the SAME S-H passes + shoelace fold over ALL polygon×cell
    * pairs and keeps clip_area > 0 — so the bbox prune is proven
    * semantically invisible AND the clipped-vertex arithmetic itself is
    * hash-gated (every intersection-point divide replayed in order).
    */
  private val j21 = query("j21_clip_zonal") { (s, d) =>
    import graft.functions.SpatialOps
    val polys = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_r"))
      .withColumn("env", SpatialOps.ringsEnvelope(col("_r")))
    val cells = s.range(156).select(
        col("id").as("cell_id"),
        ((col("id") % 13) * 8).cast("double").as("gx"),
        ((col("id") / 13).cast("long") * 8).cast("double").as("gy"))
      .withColumn("cenv", SpatialOps.bbox(col("gx"), col("gy"),
        col("gx") + lit(8.0), col("gy") + lit(8.0)))
    operators.SpatialJoin.bboxJoin(polys, cells, "env", "cenv", cellSize = 8.0)
      .withColumn("clip_area", graft.functions.ClipExprs.clipArea(col("_r"), col("cenv")))
      .filter(col("clip_area") > 0.0)
      .select("s_suppkey", "cell_id", "clip_area")
      .orderBy("s_suppkey", "cell_id")
  }(
    // j21: S-H clip passes + sequential shoelace fold over ALL pairs,
    // clip_area > 0 as the join — see sqlClipZonal.
    sqlClipZonal)

  /** ZS2 — EXACT area-weighted zonal statistics (the query the clip-area
    * kernels exist FOR): j21's polygon×cell clip areas rolled up per
    * polygon into the area-weighted mean of a per-cell value — "what is
    * this parcel's average cell value, weighted by how much of the
    * parcel each cell actually contains". Weights fixed-point
    * (floor(area·2²⁰) — exact on IEEE doubles) so the weighted sums are
    * integer aggregations (commutative, partition-order-proof); the
    * final mean is ONE divide of exact integers. Oracle wraps the j21
    * replay in the identical rollup.
    */
  query("zs2_exact_zonal") { (s, d) =>
    val afp = floor(col("clip_area") * lit(1048576.0)).cast("long")
    j21.build(s, d)
      .select(col("s_suppkey"), col("cell_id"), afp.as("afp"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("afp")).as("area_fp"),
        sum(col("afp") * col("cell_id")).as("wsum_fp"))
      .withColumn("mean_cell",
        when(col("area_fp") > 0,
          round(col("wsum_fp").cast("double") / col("area_fp").cast("double"), 6)))
      .orderBy("s_suppkey")
  }(
    // zs2: the j21 replay wrapped in the identical fixed-point rollup.
    s"""WITH zonal AS ($sqlClipZonal)
       |SELECT s_suppkey, count(*) AS n_cells,
       |  CAST(sum(CAST(floor(clip_area * 1048576.0) AS BIGINT)) AS BIGINT) AS area_fp,
       |  CAST(sum(CAST(floor(clip_area * 1048576.0) AS BIGINT) * cell_id) AS BIGINT) AS wsum_fp,
       |  CASE WHEN sum(CAST(floor(clip_area * 1048576.0) AS BIGINT)) > 0 THEN
       |    round(CAST(sum(CAST(floor(clip_area * 1048576.0) AS BIGINT) * cell_id) AS DOUBLE)
       |      / CAST(sum(CAST(floor(clip_area * 1048576.0) AS BIGINT)) AS DOUBLE), 6) END AS mean_cell
       |FROM zonal GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin)

  /** J31 — length-weighted ZONAL stats for paths (the linestring analog
    * of zs1/zs2: "how much trajectory crosses each tile"): the j30
    * zigzag paths bbox-joined to the j27 grid cells, each pair's
    * sub-segments from [[graft.functions.SpatialOps.clipSegmentsBox]],
    * rolled up per cell as a segment count and a FIXED-POINT length sum
    * (⌊len·2²⁰⌋ per row — the zs2 idiom, but with NO boundary risk at
    * all: the per-row doubles are bitwise-replayed, so both engines
    * floor identical values, and the integer sum is order-free).
    */
  query("j31_path_zonal") { (s, d) =>
    import graft.functions.SpatialOps
    val k = col("s_suppkey")
    val x0 = (k % 90).cast("double")
    val y0 = (k % 80).cast("double")
    val m5 = (k % 5).cast("double")
    val m4 = (k % 4).cast("double")
    val m7 = (k % 7).cast("double")
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val paths = Tables.supplier(s, d).select(k,
        array(pt(x0, y0), pt(x0 + lit(3.0), y0 + m5 + lit(1.0)),
          pt(x0 + lit(3.0) + m4, y0 - m7 + lit(3.0)),
          pt(x0 + lit(9.0), y0 + lit(2.0))).as("_p"))
      .withColumn("env", SpatialOps.bbox(
        x0, y0 + least(lit(0.0), lit(3.0) - m7),
        x0 + lit(9.0), y0 + greatest(m5 + lit(1.0), lit(3.0) - m7, lit(2.0))))
    val cells = s.range(156).select(
        col("id").as("cell_id"),
        ((col("id") % 13) * 8).cast("double").as("gx"),
        ((col("id") / 13).cast("long") * 8).cast("double").as("gy"))
      .withColumn("cenv", SpatialOps.bbox(col("gx"), col("gy"),
        col("gx") + lit(8.0), col("gy") + lit(8.0)))
    operators.SpatialJoin.bboxJoin(paths, cells, "env", "cenv", cellSize = 8.0)
      .select(col("cell_id"),
        explode(SpatialOps.clipSegmentsBox(col("_p"), col("cenv"))).as("seg"))
      .select(col("cell_id"), sqrt(
        (col("seg.bx") - col("seg.ax")) * (col("seg.bx") - col("seg.ax")) +
          (col("seg.by") - col("seg.ay")) * (col("seg.by") - col("seg.ay"))).as("len"))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(floor(col("len") * lit(1048576.0)).cast("long")).as("len_fp"))
      .orderBy("cell_id")
  }(
    // j31: the same chains against each cell's walls over the exact
    // bboxJoin pair set; per-row fixed-point floors, integer rollup.
    sqlPathZonal)

  /** j31's oracle — the j30 t-chain replay against each cell's walls
    * over the exact bboxJoin pair set, per-row fixed-point floors,
    * integer rollup per cell.
    */
  private def sqlPathZonal: String = {
    val segCtes = sqlSegClipCtes(zigzagSqlPts,
      "gx", "gx + 8", "gy", "gy + 8", _ => "cell_id")
    s"""WITH sup AS (SELECT s_suppkey,
       |  CAST(s_suppkey % 90 AS DOUBLE) AS x0, CAST(s_suppkey % 80 AS DOUBLE) AS y0,
       |  CAST(s_suppkey % 5 AS DOUBLE) AS m5, CAST(s_suppkey % 4 AS DOUBLE) AS m4,
       |  CAST(s_suppkey % 7 AS DOUBLE) AS m7 FROM supplier),
       |b AS MATERIALIZED (SELECT * FROM sup JOIN
       |  (SELECT range AS cell_id, CAST((range % 13) * 8 AS DOUBLE) AS gx,
       |     CAST((range // 13) * 8 AS DOUBLE) AS gy FROM range(156)) c
       |  ON x0 <= gx + 8 AND gx <= x0 + 9
       |  AND y0 + LEAST(CAST(0 AS DOUBLE), 3 - m7) <= gy + 8
       |  AND gy <= y0 + GREATEST(m5 + 1, 3 - m7, CAST(2 AS DOUBLE))),
       |${segCtes.mkString(",\n")}
       |SELECT cell_id, CAST(count(*) AS BIGINT) AS n_segs,
       |  CAST(sum(CAST(floor(sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
       |    * 1048576.0) AS BIGINT)) AS BIGINT) AS len_fp
       |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2)
       |GROUP BY cell_id ORDER BY cell_id""".stripMargin
  }

  /** J32 — boundary Hausdorff join (shape-similarity measure between
    * polygon pairs — "how far apart are these boundaries at worst"):
    * the j18 arrow × diamond bbox candidates scored by
    * [[graft.functions.GeomPredExprs.hausdorffBoundarySq]] — ONE static
    * codegen call per candidate (the j20 cost class; the interpreted
    * HOF spelling would re-walk ~17 vertices × ~16 segments per
    * candidate through nested lambdas). Value-max over bitwise-replayed
    * per-vertex boundary minima, so the raw distance² hashes: the
    * oracle spells GREATEST over every vertex's LEAST-over-segments
    * term (sqlBoundaryDistSq, the j19/j20 discipline).
    */
  query("j32_hausdorff") { (s, d) =>
    import graft.functions.SpatialOps
    val a = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
      .select(col("s_suppkey"), SpatialOps.wktRings(col("geom")).as("_ra"))
      .withColumn("env", SpatialOps.ringsEnvelope(col("_ra")))
    val c = col("c_custkey")
    val cx = (c % 88).cast("double") + lit(2.0)
    val cy = (c % 78).cast("double") + lit(2.0)
    val r = lit(1.0) + (c % 3).cast("double") * lit(0.5)
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val diamond = array(array(pt(cx, cy - r), pt(cx + r, cy), pt(cx, cy + r),
      pt(cx - r, cy), pt(cx, cy - r)))
    val b = Tables.customer(s, d)
      .select(c, diamond.as("_rb"),
        SpatialOps.bbox(cx - r, cy - r, cx + r, cy + r).as("env_r"))
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0)
      .select(col("s_suppkey"), col("c_custkey"),
        graft.functions.GeomPredExprs.hausdorffBoundarySqCol(
          col("_ra"), col("_rb")).as("hausdorff2"))
      .orderBy("s_suppkey", "c_custkey")
  }(
    // j32: GREATEST over per-vertex LEAST-over-segments terms, both
    // directions — the raw boundary Hausdorff distance^2 per pair.
    sqlHausdorff)

  /** j32's oracle — GREATEST over all 17+5 vertex terms, each a
    * LEAST-over-segments clamped projection (both directions), on the
    * envelope-overlap pair set. */
  private def sqlHausdorff: String = {
    val arrowRings = arrowSqlPts(withHole = true)
    val arrowVerts = arrowRings.flatten
    val arrowSegs = arrowRings.flatMap(sqlRingSegs)
    val diamondVerts = diamondSqlPts
    val diamondSegs = sqlRingSegs(diamondSqlPts)
    val terms =
      arrowVerts.map { case (vx, vy) => sqlBoundaryDistSq(diamondSegs, s"($vx)", s"($vy)") } ++
        diamondVerts.map { case (vx, vy) => sqlBoundaryDistSq(arrowSegs, s"($vx)", s"($vy)") }
    s"""WITH pairs AS (SELECT s_suppkey, c_custkey, x0, y0, w, h, cx, cy, r
       |FROM ($arrowSqlBase) a JOIN
       |  (SELECT c_custkey,
       |     CAST(c_custkey % 88 AS DOUBLE) + 2.0 AS cx,
       |     CAST(c_custkey % 78 AS DOUBLE) + 2.0 AS cy,
       |     1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r FROM customer) b
       |  ON x0 <= cx + r AND cx - r <= x0 + w AND y0 <= cy + r AND cy - r <= y0 + h)
       |SELECT s_suppkey, c_custkey,
       |  GREATEST(${terms.mkString(",\n    ")}) AS hausdorff2
       |FROM pairs ORDER BY s_suppkey, c_custkey""".stripMargin
  }

  /** Minimum boundary distance² (SpatialOps.ringsBoundaryDistSq): per
    * segment the clamped-projection offset², identical op order; LEAST
    * over the segment list equals the Column fold's running min exactly
    * (min selects one bit-identical operand, no rounding).
    */
  private def sqlBoundaryDistSq(segs: Seq[((String, String), (String, String))],
      px: String, py: String): String =
    "LEAST(" + segs.map { case ((x1, y1), (x2, y2)) =>
      val dx = s"($x2 - $x1)"
      val dy = s"($y2 - $y1)"
      val l2 = s"($dx * $dx + $dy * $dy)"
      val t = s"(CASE WHEN $l2 = 0 THEN 0.0 ELSE GREATEST(0.0, LEAST(1.0, " +
        s"(($px - $x1) * $dx + ($py - $y1) * $dy) / $l2)) END)"
      val qx = s"($x1 + $t * $dx)"
      val qy = s"($y1 + $t * $dy)"
      s"(($px - $qx) * ($px - $qx) + ($py - $qy) * ($py - $qy))"
    }.mkString(", ") + ")"

  /** The j18 diamond's ring points in terms of base columns cx,cy,r. */
  private val diamondSqlPts: Seq[(String, String)] = Seq(
    ("cx", "cy - r"), ("cx + r", "cy"), ("cx", "cy + r"),
    ("cx - r", "cy"), ("cx", "cy - r"))

  /** zs1 — zonal statistics through `Stages.segmentFeatures` (Stage 3's
    * per-segment features) on an oracle-constructible grid: zones are the
    * 4×4 blocks of the m7b-style 16×16 cell grid, so counts, extents,
    * rectangularity and elongation all have closed relational forms.
    */
  query("zs1_zonal_stats") { (s, d) =>
    val cells = Tables.lineitem(s, d)
      .groupBy((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .agg(count(lit(1)).cast("double").as("v"))
    val segments = cells.select(col("px_row"), col("px_col"),
      (floor(col("px_row") / 4).cast("int") * 4 + floor(col("px_col") / 4).cast("int"))
        .as("seg_id"))
    pipeline.Stages.segmentFeatures(cells, segments, Seq("v"))
      .select(col("seg_id"), col("n_px"), col("height"), col("width"),
        round(col("mean_v"), 6).as("mean_v"),
        round(col("rectangularity"), 6).as("rect"),
        round(col("elongation"), 6).as("elong"))
      .orderBy("seg_id")
  }("""WITH cells AS (
      |  SELECT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col,
      |    CAST(count(*) AS DOUBLE) AS v
      |  FROM lineitem GROUP BY px_row, px_col),
      |seg AS (SELECT px_row, px_col, v,
      |  CAST(floor(px_row / 4) AS INT) * 4 + CAST(floor(px_col / 4) AS INT) AS seg_id
      |  FROM cells),
      |f AS (SELECT seg_id, count(*) AS n_px,
      |  max(px_row) - min(px_row) + 1 AS height,
      |  max(px_col) - min(px_col) + 1 AS width,
      |  avg(v) AS mean_v FROM seg GROUP BY seg_id)
      |SELECT seg_id, n_px, height, width, round(mean_v, 6) AS mean_v,
      |  round(CAST(n_px AS DOUBLE) / (height * width), 6) AS rect,
      |  round(CAST(greatest(height, width) AS DOUBLE) / least(height, width), 6) AS elong
      |FROM f ORDER BY seg_id""".stripMargin)

  /** sql2 — the SQL-first SPATIAL path through the driver gate: the
    * registered `st_bbox_intersects` predicate in a plain SQL inner join,
    * re-planned by SpatialJoinRewrite (a GraftExtensions optimizer rule)
    * into the binned PBSM equi-join. Same pair set as j11's DataFrame operator.
    */
  query("sql2_spatial_sql") { (s, d) =>
    import graft.functions.SpatialOps
    def box(key: Column): Seq[Column] = Seq(
      key % 97, key % 89, key % 97 + lit(1) + key % 5, key % 89 + lit(1) + key % 7)
    Tables.supplier(s, d).select(col("s_suppkey"),
        SpatialOps.bbox(box(col("s_suppkey"))(0), box(col("s_suppkey"))(1),
          box(col("s_suppkey"))(2), box(col("s_suppkey"))(3)).as("env"))
      .createOrReplaceTempView("sql2_sb")
    Tables.customer(s, d).select(col("c_custkey"),
        SpatialOps.bbox(box(col("c_custkey"))(0), box(col("c_custkey"))(1),
          box(col("c_custkey"))(2), box(col("c_custkey"))(3)).as("env_r"))
      .createOrReplaceTempView("sql2_cb")
    s.sql(
      """SELECT s_suppkey, c_custkey FROM sql2_sb JOIN sql2_cb
        |ON st_bbox_intersects(env, env_r)
        |ORDER BY s_suppkey, c_custkey""".stripMargin)
  }(
    // sql2: same pair set as j11 — the oracle is the plain theta join.
    """WITH sb AS (
      |  SELECT s_suppkey,
      |         s_suppkey % 97 AS xmin, s_suppkey % 89 AS ymin,
      |         s_suppkey % 97 + 1 + s_suppkey % 5 AS xmax,
      |         s_suppkey % 89 + 1 + s_suppkey % 7 AS ymax
      |  FROM supplier),
      |cb AS (
      |  SELECT c_custkey,
      |         c_custkey % 97 AS xmin, c_custkey % 89 AS ymin,
      |         c_custkey % 97 + 1 + c_custkey % 5 AS xmax,
      |         c_custkey % 89 + 1 + c_custkey % 7 AS ymax
      |  FROM customer)
      |SELECT s_suppkey, c_custkey FROM sb JOIN cb
      |  ON sb.xmin <= cb.xmax AND cb.xmin <= sb.xmax
      | AND sb.ymin <= cb.ymax AND cb.ymin <= sb.ymax
      |ORDER BY s_suppkey, c_custkey""".stripMargin)
}
