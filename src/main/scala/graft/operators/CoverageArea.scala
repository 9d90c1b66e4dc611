package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** COVERAGE (UNION) AREA — the dissolve measure zs2-style zonal rollups
  * are missing: per group, the area of the UNION of a set of possibly
  * OVERLAPPING polygons (with holes), so sliver-overlapping zones
  * (adjacent parcels, tile halos — reference image_segmentation.py's
  * Stage-2 output drifts exactly this way) stop double-counting. The
  * 2-D sibling of [[TimeSeries.intervalCoverage]]'s 1-D sweep.
  *
  * Algorithm (exact, deterministic): the y-slab scanline — the classic
  * sweep-line area-of-union family (Bentley 1977's segment-tree sweep
  * is the O(n log n) sibling; this kernel trades it for EVENT-COMPLETE
  * slabs, which keeps every intermediate a closed-form function of the
  * inputs and the result independently checkable). Events are
  * every vertex y, every PAIRWISE proper edge-crossing y (across all
  * polygons of the group), and — when clipping to a cell — the cell's
  * y-bounds and every edge's crossing with the cell's x-walls. Between
  * consecutive events no two edges cross and no edge enters/leaves the
  * clip walls, so each polygon's even-odd x-interval structure at the
  * slab midline is CONSTANT across the slab and the union length L(y)
  * is LINEAR in y — the midpoint rule ∫L dy = (y₂−y₁)·L(ym) is exact,
  * not an approximation. Holes need no special casing: even-odd
  * crossing parity over all of a polygon's rings subtracts them.
  *
  * Scale shape: the kernel runs per GROUP over a
  * `collect_list`-bounded polygon set — O(E²) edge-pair events and
  * O(S·E log E) slab work, E = total edge count. [[unionArea]] is the
  * direct form for groups a caller knows are small (zone sets, parcel
  * clusters); [[unionAreaByCell]] is the 100 TB path — polygons explode
  * to the grid cells their envelopes touch, each (group, cell) unions
  * the CLIPPED slivers independently (bounded by local density, never
  * corpus size), and cell areas sum per group, exactly, because the
  * clip walls are event-aligned. Pair with
  * [[graft.functions.RingIsSimpleExpr]] upstream: the kernel assumes
  * simple rings (the clip-kernel contract).
  */
object CoverageArea {

  /** Per-group union area, directly: group cols + `n_polys` +
    * `sum_area` (Σ individual shoelace areas — union < sum measures the
    * overlap) + `union_area`. Rings in the st_rings layout.
    *
    * `maxEdgesPerGroup` is the no-silent-caps guard: the kernel's
    * pairwise event scan is O(E²) per group, so a group whose edge
    * count exceeds the cap FAILS LOUDLY (with the cell path named in
    * the error) instead of quietly burning a task for hours — the
    * direct form is for groups a caller KNOWS are small.
    */
  def unionArea(df: DataFrame, ringsCol: String, groupCols: Seq[String],
      maxEdgesPerGroup: Int = 20000): DataFrame = {
    require(groupCols.nonEmpty, "unionArea needs at least one group column")
    require(maxEdgesPerGroup > 0, s"maxEdgesPerGroup must be positive, got $maxEdgesPerGroup")
    val u = udf((xs: Seq[Seq[Seq[Double]]], ys: Seq[Seq[Seq[Double]]]) => {
      val edges = xs.iterator.flatMap(_.iterator.map(r => math.max(r.length - 1, 0))).sum
      if (edges > maxEdgesPerGroup)
        throw new IllegalArgumentException(
          s"unionArea group holds $edges edges > cap $maxEdgesPerGroup: the direct " +
            "per-group kernel is O(edges^2) — use unionAreaByCell (bounded by local " +
            "density) or raise maxEdgesPerGroup knowingly")
      unionAreaOf(toPolys(xs, ys), None)
    })
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_polys"),
        sum(graft.functions.SpatialOps.ringsArea(col(ringsCol))).as("sum_area"),
        u(collect_list(ringXs(col(ringsCol))), collect_list(ringYs(col(ringsCol))))
          .as("union_area"))
  }

  /** Per-group union area via grid-cell decomposition — the scale path:
    * each polygon replicates to the ⌈w/cs⌉×⌈h/cs⌉ cells its envelope
    * touches, each (group, cell) unions its members clipped to the cell
    * box, and the per-cell areas (disjoint by construction) sum per
    * group. Exact: the kernel event set includes the cell walls, so
    * clipping never breaks the within-slab linearity. Same output
    * schema as [[unionArea]].
    */
  def unionAreaByCell(
      df: DataFrame,
      ringsCol: String,
      groupCols: Seq[String],
      cellSize: Double,
      maxEdgesPerCell: Int = 20000,
      /** Fail-loud fan-out budget (the same no-silent-caps doctrine as
        * the edge budgets): one polygon whose envelope spans more than
        * this many cells — a bad cellSize or an outlier geometry —
        * errors with the knob named instead of silently exploding to
        * millions of rows. */
      maxCellsPerPolygon: Long = 4096L): DataFrame = {
    require(groupCols.nonEmpty, "unionAreaByCell needs at least one group column")
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    require(maxEdgesPerCell > 0, s"maxEdgesPerCell must be positive, got $maxEdgesPerCell")
    require(maxCellsPerPolygon > 0, s"maxCellsPerPolygon must be positive, got $maxCellsPerPolygon")
    val env = graft.functions.SpatialOps.ringsEnvelope(col(ringsCol))
    val nCells =
      (floor(col("__env.xmax") / cellSize).cast("long") -
        floor(col("__env.xmin") / cellSize).cast("long") + lit(1L)) *
      (floor(col("__env.ymax") / cellSize).cast("long") -
        floor(col("__env.ymin") / cellSize).cast("long") + lit(1L))
    // the guard lives INSIDE the exploded expression — a standalone
    // guard column would be pruned by Catalyst (and its raise_error
    // with it). A NULL count (empty rings -> null envelope) skips the
    // `when` branch: the explode drops the row and the left join below
    // restores the group at union_area 0.
    val withCells = df
      .withColumn("__env", env)
      .withColumn("__cx", explode(
        when(nCells > maxCellsPerPolygon, raise_error(concat(
          lit("unionAreaByCell polygon envelope spans "), nCells.cast("string"),
          lit(s" cells > cap $maxCellsPerPolygon (cellSize $cellSize): grow cellSize " +
            "or raise maxCellsPerPolygon knowingly"))))
        .otherwise(sequence(
          floor(col("__env.xmin") / cellSize).cast("long"),
          floor(col("__env.xmax") / cellSize).cast("long")))))
      .withColumn("__cy", explode(sequence(
        floor(col("__env.ymin") / cellSize).cast("long"),
        floor(col("__env.ymax") / cellSize).cast("long"))))
    val u = udf((xs: Seq[Seq[Seq[Double]]], ys: Seq[Seq[Seq[Double]]],
        cx: Long, cy: Long) => {
      val edges = xs.iterator.flatMap(_.iterator.map(r => math.max(r.length - 1, 0))).sum
      if (edges > maxEdgesPerCell)
        throw new IllegalArgumentException(
          s"unionAreaByCell cell ($cx,$cy) holds $edges edges > cap $maxEdgesPerCell: " +
            "local density exceeds the per-cell kernel budget — shrink cellSize or " +
            "raise maxEdgesPerCell knowingly")
      unionAreaOf(toPolys(xs, ys),
        Some((cx * cellSize, cy * cellSize,
          (cx + 1) * cellSize, (cy + 1) * cellSize)))
    })
    val perCell = withCells
      .groupBy((groupCols ++ Seq("__cx", "__cy")).map(col): _*)
      .agg(u(collect_list(ringXs(col(ringsCol))), collect_list(ringYs(col(ringsCol))),
        first(col("__cx")), first(col("__cy"))).as("__cell_area"))
    val unions = perCell
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__cell_area")).as("union_area"))
    val base = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_polys"),
        sum(graft.functions.SpatialOps.ringsArea(col(ringsCol))).as("sum_area"))
    // LEFT join from base: a group whose rows all have empty rings (null
    // envelope -> the explode drops every row) must still come back with
    // union_area 0, matching unionArea's degenerate-case answer
    base.join(unions, groupCols, "left")
      .select((groupCols.map(col) ++
        Seq(col("n_polys"), col("sum_area"),
          coalesce(col("union_area"), lit(0.0)).as("union_area"))): _*)
  }

  /** DISSOLVE EMITTING GEOMETRY (the r15 verdict's second gap): per
    * group, the union's actual RINGS — outer boundaries CCW, holes CW,
    * in the st_rings layout — not just its area. EXACT for RECTILINEAR
    * (axis-parallel-edge) polygons, which is the honest scope: the
    * union of rectilinear polygons is rectilinear with vertices on the
    * input coordinate grid, so an irregular-grid cell decomposition
    * (grid lines = the distinct input xs/ys, coverage = midpoint
    * even-odd parity per polygon) followed by boundary tracing
    * (directed cell sides with the region on the LEFT, left-turn-first
    * at pinch vertices, collinear runs merged) reconstructs the
    * boundary with NO new arithmetic — every emitted coordinate is an
    * input coordinate verbatim. Slanted edges FAIL LOUDLY (measure
    * them with [[unionArea]]; emitting slanted unions needs a polygon
    * overlay kernel, not a raster approximation pretending to be one).
    *
    * Output: groupCols + `n_polys` + `union_area` (shoelace over the
    * emitted rings — signed, so CW holes subtract; equals the scanline
    * [[unionArea]] exactly on integer/dyadic coordinates, gated in
    * CoverageAreaSpec) + `rings` (closed, deterministic: each ring
    * rotated to start at its lexicographically smallest vertex, rings
    * sorted outers-first then by start vertex). Feed `rings` to
    * [[graft.functions.SpatialOps.ringsToWkt]] for single-polygon
    * unions; disconnected unions emit multiple CCW outers (a
    * MULTIPOLYGON — count them with the winding sign before choosing a
    * WKT spelling).
    */
  def unionGeometry(
      df: DataFrame,
      ringsCol: String,
      groupCols: Seq[String],
      maxEdgesPerGroup: Int = 20000,
      maxCellsPerGroup: Long = 1000000L): DataFrame = {
    require(groupCols.nonEmpty, "unionGeometry needs at least one group column")
    require(maxEdgesPerGroup > 0, s"maxEdgesPerGroup must be positive, got $maxEdgesPerGroup")
    require(maxCellsPerGroup > 0, s"maxCellsPerGroup must be positive, got $maxCellsPerGroup")
    val u = udf((xs: Seq[Seq[Seq[Double]]], ys: Seq[Seq[Seq[Double]]]) => {
      val edges = xs.iterator.flatMap(_.iterator.map(r => math.max(r.length - 1, 0))).sum
      if (edges > maxEdgesPerGroup)
        throw new IllegalArgumentException(
          s"unionGeometry group holds $edges edges > cap $maxEdgesPerGroup — raise " +
            "maxEdgesPerGroup knowingly or dissolve per-cell upstream")
      val rings = unionRingsOf(toPolys(xs, ys), maxCellsPerGroup)
      (rings.map(_._1.toSeq).toSeq, rings.map(_._2.toSeq).toSeq)
    })
    val grouped = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_polys"),
        u(collect_list(ringXs(col(ringsCol))), collect_list(ringYs(col(ringsCol))))
          .as("__u"))
    // stitch the parallel coordinate arrays back into the st_rings layout
    val rings = transform(col("__u._1"), (rx, i) =>
      zip_with(rx, element_at(col("__u._2"), i + lit(1)),
        (x, y) => struct(x.as("x"), y.as("y"))))
    grouped
      .withColumn("rings", rings)
      .withColumn("union_area",
        graft.functions.SpatialOps.ringsCross(col("rings")) / 2)
      .select((groupCols.map(col) ++
        Seq(col("n_polys"), col("union_area"), col("rings"))): _*)
  }

  /** TILED dissolve — [[unionGeometry]]'s 100 TB shape (the same cell
    * decomposition as [[unionAreaByCell]], emitting GEOMETRY per cell):
    * polygons replicate to the cells their envelopes touch, each
    * replica's rings CLIP to the cell box through the r16 geometry-
    * emitting kernel ([[graft.functions.ClipExprs.clipRingsBoxCol]] —
    * S-H on rectilinear input emits rectilinear output with every
    * coordinate an input coordinate or an exact wall crossing), and
    * each (group, cell) traces its own union rings independently —
    * bounded by local density, never corpus size. The per-cell pieces
    * are exactly the tiled store layout the reference's Stage-2 writes;
    * per-cell shoelace areas sum to the global union EXACTLY (walls are
    * event-aligned; cov6 hash-gates the sum against the independent
    * inclusion–exclusion oracle).
    *
    * Output: groupCols + `cell_x`/`cell_y` + `rings` (the cell's union
    * geometry, st_rings layout) + `cell_area` (signed shoelace). Cells
    * whose clipped members all degenerate to zero area emit empty rings
    * and area 0.
    */
  def unionGeometryByCell(
      df: DataFrame,
      ringsCol: String,
      groupCols: Seq[String],
      cellSize: Double,
      maxEdgesPerCell: Int = 20000,
      maxCellsPerPolygon: Long = 4096L,
      maxCellsPerTrace: Long = 1000000L): DataFrame = {
    require(groupCols.nonEmpty, "unionGeometryByCell needs at least one group column")
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    val env = graft.functions.SpatialOps.ringsEnvelope(col(ringsCol))
    val nCells =
      (floor(col("__env.xmax") / cellSize).cast("long") -
        floor(col("__env.xmin") / cellSize).cast("long") + lit(1L)) *
      (floor(col("__env.ymax") / cellSize).cast("long") -
        floor(col("__env.ymin") / cellSize).cast("long") + lit(1L))
    val cellBox = graft.functions.SpatialOps.bbox(
      col("__cx").cast("double") * cellSize, col("__cy").cast("double") * cellSize,
      (col("__cx") + 1).cast("double") * cellSize, (col("__cy") + 1).cast("double") * cellSize)
    val withCells = df
      .withColumn("__env", env)
      .withColumn("__cx", explode(
        when(nCells > maxCellsPerPolygon, raise_error(concat(
          lit("unionGeometryByCell polygon envelope spans "), nCells.cast("string"),
          lit(s" cells > cap $maxCellsPerPolygon (cellSize $cellSize): grow cellSize " +
            "or raise maxCellsPerPolygon knowingly"))))
        .otherwise(sequence(
          floor(col("__env.xmin") / cellSize).cast("long"),
          floor(col("__env.xmax") / cellSize).cast("long")))))
      .withColumn("__cy", explode(sequence(
        floor(col("__env.ymin") / cellSize).cast("long"),
        floor(col("__env.ymax") / cellSize).cast("long"))))
      .withColumn("__clipped",
        graft.functions.ClipExprs.clipRingsBoxCol(col(ringsCol), cellBox))
    val u = udf((xs: Seq[Seq[Seq[Double]]], ys: Seq[Seq[Seq[Double]]],
        cx: Long, cy: Long) => {
      val edges = xs.iterator.flatMap(_.iterator.map(r => math.max(r.length - 1, 0))).sum
      if (edges > maxEdgesPerCell)
        throw new IllegalArgumentException(
          s"unionGeometryByCell cell ($cx,$cy) holds $edges edges > cap $maxEdgesPerCell: " +
            "shrink cellSize or raise maxEdgesPerCell knowingly")
      val rings = unionRingsOf(toPolys(xs, ys), maxCellsPerTrace)
      (rings.map(_._1.toSeq).toSeq, rings.map(_._2.toSeq).toSeq)
    })
    val perCell = withCells
      .groupBy((groupCols ++ Seq("__cx", "__cy")).map(col): _*)
      .agg(u(collect_list(ringXs(col("__clipped"))), collect_list(ringYs(col("__clipped"))),
        first(col("__cx")), first(col("__cy"))).as("__u"))
    val rings = transform(col("__u._1"), (rx, i) =>
      zip_with(rx, element_at(col("__u._2"), i + lit(1)),
        (x, y) => struct(x.as("x"), y.as("y"))))
    val cells = perCell
      .withColumn("rings", rings)
      .withColumn("cell_area", graft.functions.SpatialOps.ringsCross(col("rings")) / 2)
      .select((groupCols.map(col) ++ Seq(
        col("__cx").as("cell_x"), col("__cy").as("cell_y"),
        col("rings"), col("cell_area"))): _*)
    // a group whose rows all carry empty ring lists (null envelope ->
    // the explode drops every row) must still come back — one NULL-cell
    // row with empty geometry and area 0, matching unionAreaByCell's
    // degenerate-group contract (r16 review: the two paths disagreed)
    val base = df.select(groupCols.map(col): _*).distinct()
    base.join(cells, groupCols, "left")
      .select((groupCols.map(col) ++ Seq(
        col("cell_x"), col("cell_y"),
        coalesce(col("rings"),
          array().cast(graft.functions.ClipExprs.ringsType)).as("rings"),
        coalesce(col("cell_area"), lit(0.0)).as("cell_area"))): _*)
  }

  // ---- kernel ----

  /** Struct rings → parallel coordinate arrays (Spark 4's UDF encoder
    * cannot bind nested Row inputs, so coordinates travel as plain
    * nested double arrays; a NULL point/coordinate fails the encoder's
    * non-nullable Double check loudly — the malformed-WKT doctrine). */
  private def ringXs(rings: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(rings, r => transform(r, p => p.getField("x")))
  private def ringYs(rings: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(rings, r => transform(r, p => p.getField("y")))

  private def toPolys(xs: Seq[Seq[Seq[Double]]], ys: Seq[Seq[Seq[Double]]])
      : Seq[Array[(Array[Double], Array[Double])]] =
    xs.zip(ys).map { case (px, py) =>
      px.zip(py).map { case (rx, ry) => (rx.toArray, ry.toArray) }.toArray
    }

  /** Exact union area of `polys` (each an array of closed rings,
    * even-odd), optionally clipped to a box. Static so tests can drive
    * it directly.
    */
  def unionAreaOf(
      polys: Seq[Array[(Array[Double], Array[Double])]],
      clip: Option[(Double, Double, Double, Double)]): Double = {
    if (polys.isEmpty) return 0.0
    // flatten edges per polygon: (poly, x1, y1, x2, y2), skipping
    // zero-length entries; horizontal edges still contribute their
    // vertex events but never a midline crossing
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Double, Double)]
    var pi = 0
    while (pi < polys.length) {
      for ((xs, ys) <- polys(pi)) {
        var i = 0
        while (i < xs.length - 1) {
          if (!(xs(i) == xs(i + 1) && ys(i) == ys(i + 1)))
            edges += ((pi, xs(i), ys(i), xs(i + 1), ys(i + 1)))
          i += 1
        }
      }
      pi += 1
    }
    if (edges.isEmpty) return 0.0
    val events = scala.collection.mutable.ArrayBuffer.empty[Double]
    edges.foreach { case (_, _, y1, _, y2) => events += y1; events += y2 }
    // pairwise proper crossings (any two edges, same or different
    // polygon — simple rings never self-cross, but the extra events are
    // harmless and keep the kernel honest on near-invalid input)
    var a = 0
    while (a < edges.length) {
      val (_, a1x, a1y, a2x, a2y) = edges(a)
      var b = a + 1
      while (b < edges.length) {
        val (_, b1x, b1y, b2x, b2y) = edges(b)
        val denom = (a2x - a1x) * (b2y - b1y) - (a2y - a1y) * (b2x - b1x)
        if (denom != 0.0) {
          val t = ((b1x - a1x) * (b2y - b1y) - (b1y - a1y) * (b2x - b1x)) / denom
          val s = ((b1x - a1x) * (a2y - a1y) - (b1y - a1y) * (a2x - a1x)) / denom
          if (t > 0.0 && t < 1.0 && s > 0.0 && s < 1.0)
            events += a1y + t * (a2y - a1y)
        }
        b += 1
      }
      a += 1
    }
    clip.foreach { case (cxmin, cymin, cxmax, cymax) =>
      events += cymin; events += cymax
      // edge crossings with the clip x-walls: clamping interval
      // endpoints kinks L(y) exactly where an edge crosses x = wall, so
      // those ys must bound slabs for midpoint exactness
      edges.foreach { case (_, x1, y1, x2, y2) =>
        if (x1 != x2) {
          for (wall <- Seq(cxmin, cxmax)) {
            val t = (wall - x1) / (x2 - x1)
            if (t > 0.0 && t < 1.0) events += y1 + t * (y2 - y1)
          }
        }
      }
    }
    val (loY, hiY) = clip match {
      case Some((_, cymin, _, cymax)) => (cymin, cymax)
      case None => (Double.NegativeInfinity, Double.PositiveInfinity)
    }
    val ys = events.filter(y => y >= loY && y <= hiY).distinct.sorted
    var total = 0.0
    var si = 0
    while (si < ys.length - 1) {
      val y1 = ys(si)
      val y2 = ys(si + 1)
      if (y2 > y1) {
        val ym = (y1 + y2) / 2.0
        // per polygon: even-odd x-intervals at the midline
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
        var p = 0
        while (p < polys.length) {
          val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
          edges.foreach { case (ep, x1, ey1, x2, ey2) =>
            if (ep == p && ((ey1 < ym) != (ey2 < ym)))
              xs += x1 + (ym - ey1) * (x2 - x1) / (ey2 - ey1)
          }
          val sorted = xs.sorted
          var k = 0
          while (k + 1 < sorted.length) {
            var lo = sorted(k)
            var hi = sorted(k + 1)
            clip.foreach { case (cxmin, _, cxmax, _) =>
              lo = math.max(lo, cxmin); hi = math.min(hi, cxmax)
            }
            if (hi > lo) spans += ((lo, hi))
            k += 2
          }
          p += 1
        }
        // merge across polygons, sum the union length
        val merged = spans.sortBy(s => (s._1, s._2))
        var L = 0.0
        var curLo = 0.0
        var curHi = Double.NegativeInfinity
        var open = false
        merged.foreach { case (lo, hi) =>
          if (!open) { curLo = lo; curHi = hi; open = true }
          else if (lo <= curHi) { if (hi > curHi) curHi = hi }
          else { L += curHi - curLo; curLo = lo; curHi = hi }
        }
        if (open) L += curHi - curLo
        total += (y2 - y1) * L
      }
      si += 1
    }
    total
  }

  /** Exact union RINGS of rectilinear `polys` (each an array of closed
    * rings, even-odd). Outer rings CCW, holes CW; every coordinate an
    * input coordinate verbatim. Static so tests can drive it directly.
    * Throws on slanted edges (honest scope) and on cell-grid blowup.
    */
  def unionRingsOf(
      polys: Seq[Array[(Array[Double], Array[Double])]],
      maxCells: Long = 1000000L): Array[(Array[Double], Array[Double])] = {
    // collect edges per polygon; reject slants
    val perPoly = polys.map { rings =>
      val es = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      for ((xs, ys) <- rings) {
        var i = 0
        while (i < xs.length - 1) {
          if (!(xs(i) == xs(i + 1) && ys(i) == ys(i + 1))) {
            if (xs(i) != xs(i + 1) && ys(i) != ys(i + 1))
              throw new IllegalArgumentException(
                s"unionGeometry is exact for RECTILINEAR polygons only; slanted edge " +
                  s"(${xs(i)},${ys(i)})->(${xs(i + 1)},${ys(i + 1)}) — use unionArea for measures")
            es += ((xs(i), ys(i), xs(i + 1), ys(i + 1)))
          }
          i += 1
        }
      }
      es
    }
    if (perPoly.forall(_.isEmpty)) return Array.empty
    val gx = perPoly.iterator.flatten.flatMap(e => Iterator(e._1, e._3)).toArray.distinct.sorted
    val gy = perPoly.iterator.flatten.flatMap(e => Iterator(e._2, e._4)).toArray.distinct.sorted
    val nx = gx.length - 1
    val ny = gy.length - 1
    if (nx <= 0 || ny <= 0) return Array.empty
    if (nx.toLong * ny.toLong > maxCells)
      throw new IllegalArgumentException(
        s"unionGeometry cell grid ${nx}x$ny exceeds $maxCells cells — too many distinct " +
          "coordinates in one group; dissolve per-cell upstream or raise maxCells")
    // coverage by midpoint even-odd parity per polygon (midpoints sit
    // strictly between grid lines, every edge ON a grid line -> exact)
    val covered = Array.ofDim[Boolean](nx, ny)
    var ci = 0
    while (ci < nx) {
      val mx = (gx(ci) + gx(ci + 1)) / 2.0
      var cj = 0
      while (cj < ny) {
        val my = (gy(cj) + gy(cj + 1)) / 2.0
        var in = false
        val it = perPoly.iterator
        while (!in && it.hasNext) {
          var par = false
          it.next().foreach { case (x1, y1, _, y2) =>
            if ((y1 > my) != (y2 > my) && mx < x1) par = !par // vertical edge at x1==x2
          }
          in = par
        }
        covered(ci)(cj) = in
        cj += 1
      }
      ci += 1
    }
    // directed boundary sides, region on the LEFT (outers CCW, holes CW);
    // vertices are grid indices
    val out = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[(Int, Int)]]
    def addEdge(a: (Int, Int), b: (Int, Int)): Unit =
      out.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
    ci = 0
    while (ci < nx) {
      var cj = 0
      while (cj < ny) {
        if (covered(ci)(cj)) {
          if (cj == 0 || !covered(ci)(cj - 1)) addEdge((ci, cj), (ci + 1, cj))          // bottom, +x
          if (cj == ny - 1 || !covered(ci)(cj + 1)) addEdge((ci + 1, cj + 1), (ci, cj + 1)) // top, -x
          if (ci == 0 || !covered(ci - 1)(cj)) addEdge((ci, cj + 1), (ci, cj))          // left, -y
          if (ci == nx - 1 || !covered(ci + 1)(cj)) addEdge((ci + 1, cj), (ci + 1, cj + 1)) // right, +y
        }
        cj += 1
      }
      ci += 1
    }
    // stitch rings: start from the sorted-min unvisited edge; at forks
    // (pinch vertices) take the LEFTMOST turn relative to the incoming
    // direction, which keeps every ring simple and the two touching
    // regions in separate rings
    val visited = scala.collection.mutable.HashSet.empty[((Int, Int), (Int, Int))]
    val rings = scala.collection.mutable.ArrayBuffer.empty[Array[(Int, Int)]]
    def turnScore(d: (Int, Int), c: (Int, Int)): Int = {
      val left = (-d._2, d._1)
      if (c == left) 0 else if (c == d) 1
      else if (c == (d._2, -d._1)) 2 else 3
    }
    val starts = out.keys.toArray.sorted
    starts.foreach { s0 =>
      out(s0).sortBy(identity).foreach { e0 =>
        if (!visited((s0, e0))) {
          val ring = scala.collection.mutable.ArrayBuffer[(Int, Int)](s0)
          var prev = s0
          var cur = e0
          visited += ((s0, e0))
          while (cur != s0) {
            ring += cur
            val d = (cur._1 - prev._1, cur._2 - prev._2)
            val cands = out(cur).filterNot(n => visited((cur, n)))
            if (cands.isEmpty)
              throw new IllegalStateException(s"boundary walk dead-ends at $cur — tracer bug")
            val next = cands.minBy(n =>
              (turnScore(d, (Integer.signum(n._1 - cur._1), Integer.signum(n._2 - cur._2))), n))
            visited += ((cur, next))
            prev = cur
            cur = next
          }
          ring += s0 // close
          rings += ring.toArray
        }
      }
    }
    // merge collinear runs, rotate to the lexicographic-min vertex, map
    // indices back to input coordinates
    val built = rings.map { closed =>
      val open = closed.dropRight(1)
      val n = open.length
      val keep = (0 until n).filter { k =>
        val p = open((k + n - 1) % n); val q = open(k); val r = open((k + 1) % n)
        (q._1 - p._1, q._2 - p._2) != (r._1 - q._1, r._2 - q._2)
      }.map(open)
      val minIdx = keep.indices.minBy(keep)
      val rot = (keep.drop(minIdx) ++ keep.take(minIdx)) :+ keep(minIdx)
      (rot.map(v => gx(v._1)).toArray, rot.map(v => gy(v._2)).toArray)
    }
    // CCW outers first, each family sorted by start vertex
    def windingCcw(r: (Array[Double], Array[Double])): Boolean = {
      var acc = 0.0
      var i = 0
      while (i < r._1.length - 1) {
        acc += r._1(i) * r._2(i + 1) - r._1(i + 1) * r._2(i)
        i += 1
      }
      acc > 0.0
    }
    built.sortBy(r => (!windingCcw(r), r._1(0), r._2(0))).toArray
  }
}
