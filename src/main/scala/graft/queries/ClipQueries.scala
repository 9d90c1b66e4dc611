package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact clipping: polygon, concave, multipolygon, general-geometry and
  * path clips, pairwise intersection areas and box differences. */
object ClipQueries extends Family {
  import Helpers._

  /** J22 — polygon∩polygon intersection AREAS (the measure form of j18's
    * boolean overlap): supplier arrows (concave + hole) against customer
    * diamonds (convex, no axis-aligned edge) through bboxJoin, each pair
    * measured by the convex-window Sutherland–Hodgman kernel. Same
    * discipline as j21, general half-planes: the oracle replays each
    * edge's side values and t = s_p/(s_p−s_q) intersections in identical
    * IEEE order over the envelope-overlap candidates (exact pre-filter:
    * a positive intersection area implies overlapping envelopes).
    */
  query("j22_clip_pair") { (s, d) =>
    import graft.functions.SpatialOps
    val a = Tables.supplier(s, d)
      .select(col("s_suppkey"), arrowWkt(col("s_suppkey"), withHole = true).as("geom"))
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
      .select(col("c_custkey"),
        element_at(SpatialOps.wktRings(col("geom_b")), 1).as("_rc"),
        SpatialOps.ringsEnvelope(SpatialOps.wktRings(col("geom_b"))).as("env_r"))
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0)
      .withColumn("inter_area",
        graft.functions.ClipExprs.clipAreaPoly(col("_ra"), col("_rc")))
      .filter(col("inter_area") > 0.0)
      .select("s_suppkey", "c_custkey", "inter_area")
      .orderBy("s_suppkey", "c_custkey")
  }(
    // j22: convex-window S-H per diamond edge over envelope-overlap
    // candidates — see sqlClipPair.
    sqlClipPair)

  /** J23 — CONCAVE × CONCAVE polygon intersection AREAS (the r13 top
    * gap): supplier arrows (concave + hole) against customer DARTS
    * (concave quads with a reflex notch — the first fixture whose clip
    * side S-H cannot take), measured by the ear-clipping general kernel:
    * the dart triangulates into its two ears (tip,bl,notch) and
    * (tip,notch,br) — deterministic, structurally constant across the
    * whole fixture family — and each ear runs the UNCHANGED convex
    * kernel over the subject. The oracle replays both triangles' passes
    * in the kernel's emission order; ClipAreaSpec proves the engine-side
    * decomposition is BITWISE the convex kernel over those ears, which
    * is what makes the replay exact rather than approximate.
    */
  query("j23_clip_concave") { (s, d) =>
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
    val dart = array(pt(cx, cy + r), pt(cx - r, cy - r),
      pt(cx, cy - lit(0.5) * r), pt(cx + r, cy - r), pt(cx, cy + r))
    val b = Tables.customer(s, d)
      .select(c, dart.as("_rc"),
        SpatialOps.bbox(cx - r, cy - r, cx + r, cy + r).as("env_r"))
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0)
      .withColumn("inter_area",
        graft.functions.ClipExprs.clipAreaGeneralCol(col("_ra"), col("_rc")))
      .filter(col("inter_area") > 0.0)
      .select("s_suppkey", "c_custkey", "inter_area")
      .orderBy("s_suppkey", "c_custkey")
  }(
    // j23: the ear-decomposed general kernel replayed -- see sqlClipConcave.
    sqlClipConcave)

  /** J25 — polygon-WITH-HOLES × polygon-WITH-HOLES intersection AREAS
    * (the fully general zonal-stats measure): supplier arrows (concave
    * + hole) against customer darts carrying a triangular hole in the
    * right lobe, via [[graft.functions.ClipExprs.clipAreaPolygonCol]]:
    * area(S ∩ outer) − area(S ∩ hole), each term the ear-decomposed
    * general kernel. The oracle extends j23's replay with the hole
    * triangle's three passes (CW winding → the ≤ 0 inside test) and
    * subtracts its area last — the kernel's exact emission order.
    */
  query("j25_clip_polygon") { (s, d) =>
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
    val dart = array(pt(cx, cy + r), pt(cx - r, cy - r),
      pt(cx, cy - lit(0.5) * r), pt(cx + r, cy - r), pt(cx, cy + r))
    // CW triangular hole inside the dart's right lobe (ear T2)
    val hole = array(
      pt(cx + lit(0.25) * r, cy - lit(0.25) * r),
      pt(cx + lit(0.375) * r, cy - lit(0.125) * r),
      pt(cx + lit(0.5) * r, cy - lit(0.25) * r),
      pt(cx + lit(0.25) * r, cy - lit(0.25) * r))
    val b = Tables.customer(s, d)
      .select(c, array(dart, hole).as("_rc"),
        SpatialOps.bbox(cx - r, cy - r, cx + r, cy + r).as("env_r"))
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0)
      .withColumn("inter_area",
        graft.functions.ClipExprs.clipAreaPolygonCol(col("_ra"), col("_rc")))
      .filter(col("inter_area") > 0.0)
      .select("s_suppkey", "c_custkey", "inter_area")
      .orderBy("s_suppkey", "c_custkey")
  }(
    // j25: j23's replay + the CW hole triangle subtracted -- sqlClipPolygon.
    sqlClipPolygon)

  /** J26 — polygon × MULTIPOLYGON-window intersection AREAS (the
    * archipelago clip the single-outer j25 kernel rejects): the same
    * supplier arrows against the customer dart PRE-SPLIT into its two
    * ear triangles as separate CCW members — member 1 the left ear
    * (tip, bl, notch), member 2 the right ear (tip, notch, br) carrying
    * the CW hole triangle — via
    * [[graft.functions.ClipExprs.clipAreaMultiPolygonCol]], which
    * splits members by ring orientation and left-folds
    * Σ outers − Σ holes. Each member triangle is exactly the ear the
    * general kernel cuts from the whole dart and the fold order matches
    * j25's ((A₁+A₂)−A₃), so the values are BITWISE j25's
    * (ClipAreaSpec gates that identity) and the oracle is j25's replay
    * verbatim — same arithmetic, reached through the MULTIPOLYGON front
    * door.
    */
  query("j26_clip_multipolygon") { (s, d) =>
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
    // the dart's two CCW ears as standalone members (the kernel's own
    // deterministic decomposition of the j23/j25 dart)
    val earLeft = array(pt(cx, cy + r), pt(cx - r, cy - r),
      pt(cx, cy - lit(0.5) * r), pt(cx, cy + r))
    val earRight = array(pt(cx, cy + r), pt(cx, cy - lit(0.5) * r),
      pt(cx + r, cy - r), pt(cx, cy + r))
    // CW triangular hole inside the right member (as in j25)
    val hole = array(
      pt(cx + lit(0.25) * r, cy - lit(0.25) * r),
      pt(cx + lit(0.375) * r, cy - lit(0.125) * r),
      pt(cx + lit(0.5) * r, cy - lit(0.25) * r),
      pt(cx + lit(0.25) * r, cy - lit(0.25) * r))
    val b = Tables.customer(s, d)
      .select(c, array(earLeft, earRight, hole).as("_rc"),
        SpatialOps.bbox(cx - r, cy - r, cx + r, cy + r).as("env_r"))
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0)
      .withColumn("inter_area",
        graft.functions.ClipExprs.clipAreaMultiPolygonCol(col("_ra"), col("_rc")))
      .filter(col("inter_area") > 0.0)
      .select("s_suppkey", "c_custkey", "inter_area")
      .orderBy("s_suppkey", "c_custkey")
  }(
    // j26: the MULTIPOLYGON front door over the dart pre-split into its
    // two ear members -- each member triangle IS the ear the general
    // kernel cuts and the fold order matches j25's ((A1+A2)-A3), so the
    // replay is sqlClipPolygon VERBATIM (ClipAreaSpec gates the bitwise
    // identity engine-side).
    sqlClipPolygon)

  /** J27 — GEOMETRY-EMITTING clip (the r15 verdict's top gap: the
    * engine could MEASURE every overlay but never CONSTRUCT one): the
    * j21 polygon×cell pairs with the clipped polygon's RINGS emitted by
    * [[graft.functions.ClipExprs.clipRingsBoxCol]] (the identical S-H
    * passes, vertex lists returned instead of folded), exploded to one
    * row per vertex — the raw IEEE coordinates hash-gate directly
    * because the oracle replays every pass and unnests the SAME final
    * lists (the j21 discipline, one step further: the first oracled
    * emitted GEOMETRY). Pairs survive on a nonempty vertex list (the
    * emission-side analog of j21's clip_area > 0 — degenerate
    * zero-area slivers are geometry here, not measure). The WKT bridge
    * and GeoParquet round trip (clipped rings → st_rings_wkt → sink →
    * re-ingest → areas ≡ st_clip_area bitwise) are gated in
    * ClipAreaSpec/GeoSinkSpec.
    */
  query("j27_clip_geometry") { (s, d) =>
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
      .withColumn("clipped",
        graft.functions.ClipExprs.clipRingsBoxCol(col("_r"), col("cenv")))
      .select(col("s_suppkey"), col("cell_id"),
        posexplode(col("clipped")).as(Seq("ring_i", "ring")))
      .filter(size(col("ring")) > 0)
      .select(col("s_suppkey"), col("cell_id"), col("ring_i"),
        posexplode(col("ring")).as(Seq("pt_i", "pt")))
      .select(col("s_suppkey"), col("cell_id"), col("ring_i"), col("pt_i"),
        col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("s_suppkey", "cell_id", "ring_i", "pt_i")
  }(
    // j27: the same replay EMITTING the final clipped vertex lists as
    // rows — the first oracled computed GEOMETRY (raw IEEE coordinates).
    sqlClipGeom)

  /** J28 — GEOMETRY-EMITTING general (concave-window) clip: j23's
    * arrow × dart pairs with the ear-tiled PIECES of subject ∩ dart
    * emitted by [[graft.functions.ClipExprs.clipRingsGeneralCol]]
    * (clipAreaGeneral's deterministic ear decomposition, the per-ear
    * vertex lists returned instead of folded). Piece order is ear-major,
    * subject-ring-minor with empties kept, so piece_i names the
    * (ear, ring) pair: 0 = earA⊗outer, 1 = earA⊗hole, 2 = earB⊗outer,
    * 3 = earB⊗hole for the dart's proven two-ear decomposition (the
    * j23 oracle's hash is the proof the kernel cuts exactly those
    * ears). Pieces tile the intersection — seam edges along the ear
    * cut are geometry here (adjacent, not dissolved; ClipAreaSpec
    * gates the per-ear area fold ≡ clipAreaGeneral bitwise and the
    * dissolve path for merged boundaries). Raw IEEE vertex coordinates
    * hash-gate because the oracle replays both ears' passes and
    * unnests the SAME final lists (the j27 discipline on the concave
    * kernel).
    */
  query("j28_clip_general_geom") { (s, d) =>
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
    val dart = array(pt(cx, cy + r), pt(cx - r, cy - r),
      pt(cx, cy - lit(0.5) * r), pt(cx + r, cy - r), pt(cx, cy + r))
    val b = Tables.customer(s, d)
      .select(c, dart.as("_rc"),
        SpatialOps.bbox(cx - r, cy - r, cx + r, cy + r).as("env_r"))
    operators.SpatialJoin.bboxJoin(a, b, "env", "env_r", cellSize = 8.0)
      .withColumn("pieces",
        graft.functions.ClipExprs.clipRingsGeneralCol(col("_ra"), col("_rc")))
      .select(col("s_suppkey"), col("c_custkey"),
        posexplode(col("pieces")).as(Seq("piece_i", "piece")))
      .filter(size(col("piece")) > 0)
      .select(col("s_suppkey"), col("c_custkey"), col("piece_i"),
        posexplode(col("piece")).as(Seq("pt_i", "pt")))
      .select(col("s_suppkey"), col("c_custkey"), col("piece_i"), col("pt_i"),
        col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("s_suppkey", "c_custkey", "piece_i", "pt_i")
  }(
    // j28: sqlClipConcave's two-ear replay emitting the per-ear PIECES'
    // vertex lists (the general kernel's piecewise tiling) as rows.
    sqlClipGeneralGeom)

  /** j28's oracle — sqlClipConcave's two-ear replay with the FINAL
    * closed lists unnested to vertex rows instead of folded to areas:
    * pieces (earA⊗outer, earA⊗hole, earB⊗outer, earB⊗hole) emit their
    * post-pass-3 vertices with 0-based positions when nonempty — the
    * engine's posexplode-over-emitted-pieces rule on the ear-major
    * order.
    */
  private def sqlClipGeneralGeom: String = {
    val concave = sqlClipConcave
    val upToFinal = concave.substring(0,
      concave.indexOf("SELECT s_suppkey, c_custkey, inter_area"))
    def vtx(piece: String, pi: Int): String =
      s"""SELECT s_suppkey, c_custkey, CAST($pi AS INT) AS piece_i,
         |  unnest(list_transform(range(1, length($piece) + 1), i ->
         |    struct_pack(pt_i := CAST(i - 1 AS INT), x := $piece[i].x, y := $piece[i].y))) AS v
         |FROM c3 WHERE length($piece) > 0""".stripMargin
    upToFinal +
      s"""SELECT s_suppkey, c_custkey, piece_i, v.pt_i AS pt_i, v.x AS x, v.y AS y
         |FROM (${vtx("oa3", 0)}
         |UNION ALL
         |${vtx("ha3", 1)}
         |UNION ALL
         |${vtx("ob3", 2)}
         |UNION ALL
         |${vtx("hb3", 3)})
         |ORDER BY s_suppkey, c_custkey, piece_i, pt_i""".stripMargin
  }

  /** J29 — GEOMETRY-EMITTING box DIFFERENCE (the overlay family's other
    * half: j27 constructs subject ∩ box, this constructs subject − box):
    * the j21/j27 polygon × cell pairs with the four-strip complement
    * tiling emitted by
    * [[graft.functions.ClipExprs.clipRingsBoxComplementCol]] — the box
    * complement decomposed into four DISJOINT convex strips (left,
    * right, bottom-middle, top-middle), each the ordinary S-H pass
    * chain, pieces strip-major × subject-ring-minor with empties kept.
    * Unlike j27 the emitted pieces are nonempty even when poly ∩ cell
    * is empty, so the oracle replicates the bboxJoin PAIR SET exactly
    * (closed envelope-overlap on the arrow's [x0,x0+w]×[y0,y0+h] vs the
    * cell) rather than relying on a nonempty-output filter to do the
    * joining. Raw IEEE coordinates hash-gate via the strip-pass replay.
    */
  query("j29_box_difference") { (s, d) =>
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
      .withColumn("pieces",
        graft.functions.ClipExprs.clipRingsBoxComplementCol(col("_r"), col("cenv")))
      .select(col("s_suppkey"), col("cell_id"),
        posexplode(col("pieces")).as(Seq("piece_i", "piece")))
      .filter(size(col("piece")) > 0)
      .select(col("s_suppkey"), col("cell_id"), col("piece_i"),
        posexplode(col("piece")).as(Seq("pt_i", "pt")))
      .select(col("s_suppkey"), col("cell_id"), col("piece_i"), col("pt_i"),
        col("pt.x").as("x"), col("pt.y").as("y"))
      .orderBy("s_suppkey", "cell_id", "piece_i", "pt_i")
  }(
    // j29: the four complement-strip chains replayed over the exact
    // bboxJoin pair set — polygon MINUS cell as emitted vertex rows.
    sqlBoxDiffGeom)

  /** j29's oracle — the four strip chains replayed with sqlClipZonal's
    * pass/close machinery (strip 0: x≤gx; strip 1: x≥gx+8; strips 2/3:
    * both x walls then y≤gy / y≥gy+8 — the kernel's fixed order), over
    * the EXACT bboxJoin pair set (closed envelope overlap), final lists
    * unnested with piece_i = strip·2 + ring.
    */
  private def sqlBoxDiffGeom: String = {
    val rings = arrowSqlPts(withHole = true)
    def ptsList(pts: Seq[(String, String)]): String =
      pts.map { case (x, y) =>
        s"struct_pack(x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
      }.mkString("[", ", ", "]")
    def pass(in: String, onX: Boolean, bound: String, keepGE: Boolean): String = {
      val f = if (onX) "x" else "y"
      val cmp = if (keepGE) ">=" else "<="
      val isect =
        if (onX)
          s"struct_pack(x := CAST($bound AS DOUBLE), y := $in[i].y + ((CAST($bound AS DOUBLE) - $in[i].x) / ($in[i+1].x - $in[i].x)) * ($in[i+1].y - $in[i].y))"
        else
          s"struct_pack(x := $in[i].x + ((CAST($bound AS DOUBLE) - $in[i].y) / ($in[i+1].y - $in[i].y)) * ($in[i+1].x - $in[i].x), y := CAST($bound AS DOUBLE))"
      s"""flatten(list_transform(range(1, length($in)), i ->
         |    CASE WHEN $in[i+1].$f $cmp ($bound) AND $in[i].$f $cmp ($bound) THEN [$in[i+1]]
         |         WHEN $in[i+1].$f $cmp ($bound) THEN [$isect, $in[i+1]]
         |         WHEN $in[i].$f $cmp ($bound) THEN [$isect]
         |         ELSE [] END))""".stripMargin
    }
    def close(v: String) =
      s"CASE WHEN length($v) = 0 THEN $v ELSE list_append($v, $v[1]) END"
    val strips: Seq[Seq[(Boolean, String, Boolean)]] = Seq(
      Seq((true, "gx", false)),
      Seq((true, "gx + 8", true)),
      Seq((true, "gx", true), (true, "gx + 8", false), (false, "gy", false)),
      Seq((true, "gx", true), (true, "gx + 8", false), (false, "gy + 8", true)))
    val base =
      s"""lvl0 AS MATERIALIZED (SELECT s_suppkey, cell_id, gx, gy,
         |  ${ptsList(rings(0))} AS o0, ${ptsList(rings(1))} AS h0
         |FROM ($arrowSqlBase) a JOIN
         |  (SELECT range AS cell_id, CAST((range % 13) * 8 AS DOUBLE) AS gx,
         |     CAST((range // 13) * 8 AS DOUBLE) AS gy FROM range(156)) c
         |  ON x0 <= gx + 8 AND gx <= x0 + w AND y0 <= gy + 8 AND gy <= y0 + h)""".stripMargin
    val chains = strips.zipWithIndex.flatMap { case (passes, si) =>
      passes.zipWithIndex.flatMap { case ((onX, bound, ge), k) =>
        val src = if (k == 0) "lvl0" else s"t${si}c$k"
        Seq(
          s"""t${si}p${k + 1} AS MATERIALIZED (SELECT s_suppkey, cell_id, gx, gy,
             |  ${pass(s"o$k", onX, bound, ge)} AS oraw,
             |  ${pass(s"h$k", onX, bound, ge)} AS hraw FROM $src)""".stripMargin,
          s"""t${si}c${k + 1} AS MATERIALIZED (SELECT s_suppkey, cell_id, gx, gy,
             |  ${close("oraw")} AS o${k + 1}, ${close("hraw")} AS h${k + 1} FROM t${si}p${k + 1})""".stripMargin)
      }
    }
    def vtx(si: Int, piece: String, pi: Int): String = {
      val last = s"t${si}c${strips(si).length}"
      s"""SELECT s_suppkey, cell_id, CAST($pi AS INT) AS piece_i,
         |  unnest(list_transform(range(1, length($piece) + 1), i ->
         |    struct_pack(pt_i := CAST(i - 1 AS INT), x := $piece[i].x, y := $piece[i].y))) AS v
         |FROM $last WHERE length($piece) > 0""".stripMargin
    }
    val parts = strips.indices.flatMap { si =>
      val n = strips(si).length
      Seq(vtx(si, s"o$n", si * 2), vtx(si, s"h$n", si * 2 + 1))
    }
    (base +: chains).mkString("WITH ", ",\n", "\n") +
      s"""SELECT s_suppkey, cell_id, piece_i, v.pt_i AS pt_i, v.x AS x, v.y AS y
         |FROM (${parts.mkString("\nUNION ALL\n")})
         |ORDER BY s_suppkey, cell_id, piece_i, pt_i""".stripMargin
  }

  /** J30 — LINESTRING (open path) clip: a 4-point zigzag trajectory per
    * supplier clipped to its row's box via
    * [[graft.functions.SpatialOps.clipSegmentsBox]] (the Liang–Barsky
    * parametric slab test as pure Column algebra — the path family's
    * counterpart of the polygon clips), kept sub-segments emitted with
    * their raw IEEE endpoints and lengths. The fixture varies slope,
    * inside/outside, and the d=0 vertical case by key mods; the oracle
    * replays each segment's t₀/t₁ CASE chain symbolically (the
    * j16/j19 discipline — greatest/least select one bit-identical
    * operand, divisions replayed with identical operand order).
    */
  query("j30_clip_path") { (s, d) =>
    import graft.functions.SpatialOps
    val k = col("s_suppkey")
    val x0 = (k % 90).cast("double")
    val y0 = (k % 80).cast("double")
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    val path = array(
      pt(x0, y0),
      pt(x0 + lit(3.0), y0 + (k % 5).cast("double") + lit(1.0)),
      pt(x0 + lit(3.0) + (k % 4).cast("double"), y0 - (k % 7).cast("double") + lit(3.0)),
      pt(x0 + lit(9.0), y0 + lit(2.0)))
    val box = SpatialOps.bbox(x0 + lit(2.0), y0 - lit(1.0), x0 + lit(7.0), y0 + lit(4.0))
    Tables.supplier(s, d).select(k, path.as("_p"), box.as("_b"))
      .select(k, explode(SpatialOps.clipSegmentsBox(col("_p"), col("_b"))).as("seg"))
      .select(k, col("seg.seg_i").as("seg_i"),
        col("seg.ax").as("ax"), col("seg.ay").as("ay"),
        col("seg.bx").as("bx"), col("seg.by").as("by"))
      .withColumn("seg_len", sqrt((col("bx") - col("ax")) * (col("bx") - col("ax"))
        + (col("by") - col("ay")) * (col("by") - col("ay"))))
      .orderBy("s_suppkey", "seg_i")
  }(
    // j30: the parametric path clip's t0/t1 chains replayed per segment.
    sqlClipPath)

  /** j30's oracle — one CTE per segment computing the t₀/t₁ chains
    * (GREATEST/LEAST over the sign-of-direction CASEs, the engine's
    * fixed argument order), clipped endpoints projected, seg_len from
    * the PROJECTED columns (exactly the engine's staged withColumn).
    */
  private def sqlClipPath: String = {
    val segCtes = sqlSegClipCtes(zigzagSqlPts,
      "x0 + 2", "x0 + 7", "y0 - 1", "y0 + 4",
      i => s"s_suppkey, CAST($i AS INT) AS seg_i")
    s"""WITH b AS (SELECT s_suppkey,
       |  CAST(s_suppkey % 90 AS DOUBLE) AS x0, CAST(s_suppkey % 80 AS DOUBLE) AS y0,
       |  CAST(s_suppkey % 5 AS DOUBLE) AS m5, CAST(s_suppkey % 4 AS DOUBLE) AS m4,
       |  CAST(s_suppkey % 7 AS DOUBLE) AS m7 FROM supplier),
       |${segCtes.mkString(",\n")}
       |SELECT s_suppkey, seg_i, ax, ay, bx, by,
       |  sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay)) AS seg_len
       |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2)
       |ORDER BY s_suppkey, seg_i""".stripMargin
  }

  /** j27's oracle — sqlClipZonal's pass replay with the FINAL closed
    * lists unnested to vertex rows instead of folded to areas: ring 0
    * (outer) and ring 1 (hole) emit their post-pass-4 vertices with
    * 0-based positions when nonempty — exactly the engine's
    * posexplode-over-emitted-rings rule.
    */
  private def sqlClipGeom: String = {
    // the j21 replay verbatim up to the final level
    val zonal = sqlClipZonal
    val upToFinal = zonal.substring(0, zonal.indexOf("SELECT s_suppkey, cell_id, clip_area"))
    def vtx(ring: String, ri: Int): String =
      s"""SELECT s_suppkey, cell_id, CAST($ri AS INT) AS ring_i,
         |  unnest(list_transform(range(1, length($ring) + 1), i ->
         |    struct_pack(pt_i := CAST(i - 1 AS INT), x := $ring[i].x, y := $ring[i].y))) AS v
         |FROM c4 WHERE length($ring) > 0""".stripMargin
    upToFinal +
      s"""SELECT s_suppkey, cell_id, ring_i, v.pt_i AS pt_i, v.x AS x, v.y AS y
         |FROM (${vtx("o4", 0)}
         |UNION ALL
         |${vtx("h4", 1)})
         |ORDER BY s_suppkey, cell_id, ring_i, pt_i""".stripMargin
  }

  /** j25's oracle — j23's replay plus the hole triangle (CW: inside
    * tests flip to ≤ 0), its area subtracted last. */
  private def sqlClipPolygon: String = {
    val rings = arrowSqlPts(withHole = true)
    def ptsList(pts: Seq[(String, String)]): String =
      pts.map { case (x, y) =>
        s"struct_pack(x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
      }.mkString("[", ", ", "]")
    val triA = Seq(
      (("cx", "cy + r"), ("cx - r", "cy - r")),
      (("cx - r", "cy - r"), ("cx", "cy - 0.5 * r")),
      (("cx", "cy - 0.5 * r"), ("cx", "cy + r")))
    val triB = Seq(
      (("cx", "cy + r"), ("cx", "cy - 0.5 * r")),
      (("cx", "cy - 0.5 * r"), ("cx + r", "cy - r")),
      (("cx + r", "cy - r"), ("cx", "cy + r")))
    // the hole triangle, CW emission order (A -> B -> C -> A)
    val triC = Seq(
      (("cx + 0.25 * r", "cy - 0.25 * r"), ("cx + 0.375 * r", "cy - 0.125 * r")),
      (("cx + 0.375 * r", "cy - 0.125 * r"), ("cx + 0.5 * r", "cy - 0.25 * r")),
      (("cx + 0.5 * r", "cy - 0.25 * r"), ("cx + 0.25 * r", "cy - 0.25 * r")))
    def sidesOf(in: String, ax: String, ay: String, bx: String, by: String): String =
      s"""list_transform(range(1, length($in) + 1), i ->
         |    (($bx) - ($ax)) * ($in[i].y - ($ay)) - (($by) - ($ay)) * ($in[i].x - ($ax)))""".stripMargin
    def passOf(in: String, sidesCol: String, cmp: String): String = {
      val isect =
        s"""struct_pack(
           |  x := $in[i].x + ($sidesCol[i] / ($sidesCol[i] - $sidesCol[i+1])) * ($in[i+1].x - $in[i].x),
           |  y := $in[i].y + ($sidesCol[i] / ($sidesCol[i] - $sidesCol[i+1])) * ($in[i+1].y - $in[i].y))""".stripMargin
      s"""flatten(list_transform(range(1, length($in)), i ->
         |    CASE WHEN $sidesCol[i+1] $cmp 0 AND $sidesCol[i] $cmp 0 THEN [$in[i+1]]
         |         WHEN $sidesCol[i+1] $cmp 0 THEN [$isect, $in[i+1]]
         |         WHEN $sidesCol[i] $cmp 0 THEN [$isect]
         |         ELSE [] END))""".stripMargin
    }
    def close(v: String) =
      s"CASE WHEN length($v) = 0 THEN $v ELSE list_append($v, $v[1]) END"
    def crossOf(v: String) =
      s"""CASE WHEN length($v) < 2 THEN CAST(0 AS DOUBLE) ELSE
         |    list_reduce(list_transform(range(1, length($v)), i ->
         |      $v[i].x * $v[i+1].y - $v[i+1].x * $v[i].y), (a, b) -> a + b) END""".stripMargin
    val base =
      s"""lvl0 AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
         |  ${ptsList(rings(0))} AS oa0, ${ptsList(rings(1))} AS ha0,
         |  ${ptsList(rings(0))} AS ob0, ${ptsList(rings(1))} AS hb0,
         |  ${ptsList(rings(0))} AS oc0, ${ptsList(rings(1))} AS hc0
         |FROM ($arrowSqlBase) a JOIN
         |  (SELECT c_custkey,
         |     CAST(c_custkey % 88 AS DOUBLE) + 2.0 AS cx,
         |     CAST(c_custkey % 78 AS DOUBLE) + 2.0 AS cy,
         |     1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r FROM customer) b
         |  ON x0 <= cx + r AND cx - r <= x0 + w AND y0 <= cy + r AND cy - r <= y0 + h)""".stripMargin
    val levels = (0 until 3).flatMap { k =>
      val ((aax, aay), (abx, aby)) = triA(k)
      val ((bax, bay), (bbx, bby)) = triB(k)
      val ((cax, cay), (cbx, cby)) = triC(k)
      Seq(
        s"""m${k + 1} AS MATERIALIZED (SELECT *,
           |  ${sidesOf(s"oa$k", aax, aay, abx, aby)} AS oas,
           |  ${sidesOf(s"ha$k", aax, aay, abx, aby)} AS has,
           |  ${sidesOf(s"ob$k", bax, bay, bbx, bby)} AS obs,
           |  ${sidesOf(s"hb$k", bax, bay, bbx, bby)} AS hbs,
           |  ${sidesOf(s"oc$k", cax, cay, cbx, cby)} AS ocs,
           |  ${sidesOf(s"hc$k", cax, cay, cbx, cby)} AS hcs
           |  FROM ${if (k == 0) "lvl0" else s"c$k"})""".stripMargin,
        s"""p${k + 1} AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
           |  ${passOf(s"oa$k", "oas", ">=")} AS oaraw, ${passOf(s"ha$k", "has", ">=")} AS haraw,
           |  ${passOf(s"ob$k", "obs", ">=")} AS obraw, ${passOf(s"hb$k", "hbs", ">=")} AS hbraw,
           |  ${passOf(s"oc$k", "ocs", "<=")} AS ocraw, ${passOf(s"hc$k", "hcs", "<=")} AS hcraw
           |  FROM m${k + 1})""".stripMargin,
        s"""c${k + 1} AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
           |  ${close("oaraw")} AS oa${k + 1}, ${close("haraw")} AS ha${k + 1},
           |  ${close("obraw")} AS ob${k + 1}, ${close("hbraw")} AS hb${k + 1},
           |  ${close("ocraw")} AS oc${k + 1}, ${close("hcraw")} AS hc${k + 1} FROM p${k + 1})""".stripMargin)
    }
    (base +: levels).mkString("WITH ", ",\n", "\n") +
      s"""SELECT s_suppkey, c_custkey, inter_area FROM (
         |  SELECT s_suppkey, c_custkey,
         |    abs((${crossOf("oa3")}) + (${crossOf("ha3")})) / 2
         |      + abs((${crossOf("ob3")}) + (${crossOf("hb3")})) / 2
         |      - abs((${crossOf("oc3")}) + (${crossOf("hc3")})) / 2 AS inter_area
         |  FROM c3)
         |WHERE inter_area > 0 ORDER BY s_suppkey, c_custkey""".stripMargin
  }

  /** j23's oracle — the general kernel's ear decomposition replayed: the
    * dart's two CCW ear triangles hard-coded symbolically (tip anchored,
    * the kernel's deterministic emission — ClipAreaSpec gates it
    * bitwise), each triangle's three S-H passes MATERIALIZED per level
    * exactly like sqlClipPair, both triangles advancing in parallel
    * columns, areas summed tip-ear-first.
    */
  private def sqlClipConcave: String = {
    val rings = arrowSqlPts(withHole = true)
    def ptsList(pts: Seq[(String, String)]): String =
      pts.map { case (x, y) =>
        s"struct_pack(x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
      }.mkString("[", ", ", "]")
    // dart vertices: v0 tip (cx, cy+r), v1 bl (cx-r, cy-r),
    // v2 notch (cx, cy-0.5r), v3 br (cx+r, cy-r); ears (v0,v1,v2) then
    // (v0,v2,v3), both CCW
    val triA = Seq(
      (("cx", "cy + r"), ("cx - r", "cy - r")),
      (("cx - r", "cy - r"), ("cx", "cy - 0.5 * r")),
      (("cx", "cy - 0.5 * r"), ("cx", "cy + r")))
    val triB = Seq(
      (("cx", "cy + r"), ("cx", "cy - 0.5 * r")),
      (("cx", "cy - 0.5 * r"), ("cx + r", "cy - r")),
      (("cx + r", "cy - r"), ("cx", "cy + r")))
    def sidesOf(in: String, ax: String, ay: String, bx: String, by: String): String =
      s"""list_transform(range(1, length($in) + 1), i ->
         |    (($bx) - ($ax)) * ($in[i].y - ($ay)) - (($by) - ($ay)) * ($in[i].x - ($ax)))""".stripMargin
    def passOf(in: String, sidesCol: String): String = {
      val isect =
        s"""struct_pack(
           |  x := $in[i].x + ($sidesCol[i] / ($sidesCol[i] - $sidesCol[i+1])) * ($in[i+1].x - $in[i].x),
           |  y := $in[i].y + ($sidesCol[i] / ($sidesCol[i] - $sidesCol[i+1])) * ($in[i+1].y - $in[i].y))""".stripMargin
      s"""flatten(list_transform(range(1, length($in)), i ->
         |    CASE WHEN $sidesCol[i+1] >= 0 AND $sidesCol[i] >= 0 THEN [$in[i+1]]
         |         WHEN $sidesCol[i+1] >= 0 THEN [$isect, $in[i+1]]
         |         WHEN $sidesCol[i] >= 0 THEN [$isect]
         |         ELSE [] END))""".stripMargin
    }
    def close(v: String) =
      s"CASE WHEN length($v) = 0 THEN $v ELSE list_append($v, $v[1]) END"
    def crossOf(v: String) =
      s"""CASE WHEN length($v) < 2 THEN CAST(0 AS DOUBLE) ELSE
         |    list_reduce(list_transform(range(1, length($v)), i ->
         |      $v[i].x * $v[i+1].y - $v[i+1].x * $v[i].y), (a, b) -> a + b) END""".stripMargin
    val base =
      s"""lvl0 AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
         |  ${ptsList(rings(0))} AS oa0, ${ptsList(rings(1))} AS ha0,
         |  ${ptsList(rings(0))} AS ob0, ${ptsList(rings(1))} AS hb0
         |FROM ($arrowSqlBase) a JOIN
         |  (SELECT c_custkey,
         |     CAST(c_custkey % 88 AS DOUBLE) + 2.0 AS cx,
         |     CAST(c_custkey % 78 AS DOUBLE) + 2.0 AS cy,
         |     1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r FROM customer) b
         |  ON x0 <= cx + r AND cx - r <= x0 + w AND y0 <= cy + r AND cy - r <= y0 + h)""".stripMargin
    val levels = (0 until 3).flatMap { k =>
      val ((aax, aay), (abx, aby)) = triA(k)
      val ((bax, bay), (bbx, bby)) = triB(k)
      Seq(
        s"""m${k + 1} AS MATERIALIZED (SELECT *,
           |  ${sidesOf(s"oa$k", aax, aay, abx, aby)} AS oas,
           |  ${sidesOf(s"ha$k", aax, aay, abx, aby)} AS has,
           |  ${sidesOf(s"ob$k", bax, bay, bbx, bby)} AS obs,
           |  ${sidesOf(s"hb$k", bax, bay, bbx, bby)} AS hbs
           |  FROM ${if (k == 0) "lvl0" else s"c$k"})""".stripMargin,
        s"""p${k + 1} AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
           |  ${passOf(s"oa$k", "oas")} AS oaraw, ${passOf(s"ha$k", "has")} AS haraw,
           |  ${passOf(s"ob$k", "obs")} AS obraw, ${passOf(s"hb$k", "hbs")} AS hbraw
           |  FROM m${k + 1})""".stripMargin,
        s"""c${k + 1} AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
           |  ${close("oaraw")} AS oa${k + 1}, ${close("haraw")} AS ha${k + 1},
           |  ${close("obraw")} AS ob${k + 1}, ${close("hbraw")} AS hb${k + 1} FROM p${k + 1})""".stripMargin)
    }
    (base +: levels).mkString("WITH ", ",\n", "\n") +
      s"""SELECT s_suppkey, c_custkey, inter_area FROM (
         |  SELECT s_suppkey, c_custkey,
         |    abs((${crossOf("oa3")}) + (${crossOf("ha3")})) / 2
         |      + abs((${crossOf("ob3")}) + (${crossOf("hb3")})) / 2 AS inter_area
         |  FROM c3)
         |WHERE inter_area > 0 ORDER BY s_suppkey, c_custkey""".stripMargin
  }

  /** j22's oracle — the convex-window S-H replayed per diamond edge:
    * per level, a `sides` list stages each vertex's side value once
    * (the kernel computes the same pure function; exact equality is
    * evaluation-count-independent), the pass CASE consumes sides[i]/
    * sides[i+1] for the inside tests AND the t = s_p/(s_p−s_q)
    * intersections, MATERIALIZED per level (the j21 inlining lesson).
    * Candidates pre-filtered by exact envelope overlap.
    */
  private def sqlClipPair: String = {
    val rings = arrowSqlPts(withHole = true)
    def ptsList(pts: Seq[(String, String)]): String =
      pts.map { case (x, y) =>
        s"struct_pack(x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
      }.mkString("[", ", ", "]")
    // diamond edges, CCW (matches the kernel's winding detection)
    val edges = Seq(
      (("cx", "cy - r"), ("cx + r", "cy")),
      (("cx + r", "cy"), ("cx", "cy + r")),
      (("cx", "cy + r"), ("cx - r", "cy")),
      (("cx - r", "cy"), ("cx", "cy - r")))
    def sidesOf(in: String, ax: String, ay: String, bx: String, by: String): String =
      s"""list_transform(range(1, length($in) + 1), i ->
         |    (($bx) - ($ax)) * ($in[i].y - ($ay)) - (($by) - ($ay)) * ($in[i].x - ($ax)))""".stripMargin
    def passOf(in: String): String = {
      val isect =
        s"""struct_pack(
           |  x := $in[i].x + (sides[i] / (sides[i] - sides[i+1])) * ($in[i+1].x - $in[i].x),
           |  y := $in[i].y + (sides[i] / (sides[i] - sides[i+1])) * ($in[i+1].y - $in[i].y))""".stripMargin
      s"""flatten(list_transform(range(1, length($in)), i ->
         |    CASE WHEN sides[i+1] >= 0 AND sides[i] >= 0 THEN [$in[i+1]]
         |         WHEN sides[i+1] >= 0 THEN [$isect, $in[i+1]]
         |         WHEN sides[i] >= 0 THEN [$isect]
         |         ELSE [] END))""".stripMargin
    }
    def close(v: String) =
      s"CASE WHEN length($v) = 0 THEN $v ELSE list_append($v, $v[1]) END"
    def crossOf(v: String) =
      s"""CASE WHEN length($v) < 2 THEN CAST(0 AS DOUBLE) ELSE
         |    list_reduce(list_transform(range(1, length($v)), i ->
         |      $v[i].x * $v[i+1].y - $v[i+1].x * $v[i].y), (a, b) -> a + b) END""".stripMargin
    val base =
      s"""lvl0 AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
         |  ${ptsList(rings(0))} AS o0, ${ptsList(rings(1))} AS h0
         |FROM ($arrowSqlBase) a JOIN
         |  (SELECT c_custkey,
         |     CAST(c_custkey % 88 AS DOUBLE) + 2.0 AS cx,
         |     CAST(c_custkey % 78 AS DOUBLE) + 2.0 AS cy,
         |     1.0 + CAST(c_custkey % 3 AS DOUBLE) * 0.5 AS r FROM customer) b
         |  ON x0 <= cx + r AND cx - r <= x0 + w AND y0 <= cy + r AND cy - r <= y0 + h)""".stripMargin
    val levels = edges.zipWithIndex.flatMap { case (((ax, ay), (bx, by)), k) =>
      Seq(
        s"""m${k + 1} AS MATERIALIZED (SELECT *,
           |  ${sidesOf(s"o$k", ax, ay, bx, by)} AS osides,
           |  ${sidesOf(s"h$k", ax, ay, bx, by)} AS hsides
           |  FROM ${if (k == 0) "lvl0" else s"c$k"})""".stripMargin,
        s"""p${k + 1} AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
           |  ${passOf(s"o$k").replace("sides[", "osides[")} AS oraw,
           |  ${passOf(s"h$k").replace("sides[", "hsides[")} AS hraw FROM m${k + 1})""".stripMargin,
        s"""c${k + 1} AS MATERIALIZED (SELECT s_suppkey, c_custkey, cx, cy, r,
           |  ${close("oraw")} AS o${k + 1}, ${close("hraw")} AS h${k + 1} FROM p${k + 1})""".stripMargin)
    }
    (base +: levels).mkString("WITH ", ",\n", "\n") +
      s"""SELECT s_suppkey, c_custkey, inter_area FROM (
         |  SELECT s_suppkey, c_custkey,
         |    abs((${crossOf("o4")}) + (${crossOf("h4")})) / 2 AS inter_area
         |  FROM c4)
         |WHERE inter_area > 0 ORDER BY s_suppkey, c_custkey""".stripMargin
  }
}
