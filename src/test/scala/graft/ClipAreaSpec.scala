package graft

import graft.functions.{ClipExprs, SpatialOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClipAreaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def clipOf(wkt: String, box: (Double, Double, Double, Double)): Double =
    Seq(wkt).toDF("g")
      .select(ClipExprs.clipArea(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(box._1), lit(box._2), lit(box._3), lit(box._4))).as("a"))
      .head().getDouble(0)

  private val arrowHole =
    "POLYGON ((0 0, 6 0, 6 8, 3 4, 0 8, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))"

  test("rectangle vs box: closed-form overlap areas") {
    val rect = "POLYGON ((2 3, 10 3, 10 9, 2 9, 2 3))" // 8 x 6 = 48
    assert(clipOf(rect, (0, 0, 20, 20)) == 48.0)        // box contains polygon
    assert(clipOf(rect, (4, 5, 8, 7)) == 8.0)           // box inside polygon: 4x2
    assert(clipOf(rect, (6, 6, 14, 12)) == 12.0)        // partial: 4x3
    assert(clipOf(rect, (10, 9, 20, 20)) == 0.0)        // corner touch only
    assert(clipOf(rect, (11, 3, 20, 9)) == 0.0)         // disjoint
  }

  test("concave arrow with hole: partition over a covering grid sums to the full area") {
    val full = Seq(arrowHole).toDF("g")
      .select(SpatialOps.ringsArea(SpatialOps.wktRings(col("g"))).as("a"))
      .head().getDouble(0)
    // outer: shoelace of the arrow = 36; hole 1x1 subtracts -> 35
    assert(math.abs(full - 35.0) < 1e-12, s"fixture area drifted: $full")
    val cell = 3.0
    var sum = 0.0
    for (gx <- 0 until 3; gy <- 0 until 3)
      sum += clipOf(arrowHole,
        (gx * cell, gy * cell, gx * cell + cell, gy * cell + cell))
    assert(math.abs(sum - full) < 1e-9,
      s"grid partition $sum must reassemble the polygon area $full")
  }

  test("hole semantics: a box inside the hole has zero area; straddling subtracts") {
    assert(clipOf(arrowHole, (1.25, 1.25, 1.75, 1.75)) == 0.0)
    // box (0.5,0.5)-(2.5,2.5): 2x2 gross minus the full 1x1 hole
    assert(clipOf(arrowHole, (0.5, 0.5, 2.5, 2.5)) == 3.0)
  }

  test("concave notch: the box over the notch counts only the prongs") {
    // arrow outer only; box (0,4)-(6,8) covers the notch region: two
    // triangular prongs, each 1.5x... closed form: area above y=4 of the
    // arrow = total(36) - area below y=4 (6x4=24) = 12
    val outer = "POLYGON ((0 0, 6 0, 6 8, 3 4, 0 8, 0 0))"
    assert(clipOf(outer, (0, 4, 6, 8)) == 12.0)
    // independent check by point sampling on a fine deterministic grid
    val pts = for (i <- 0 until 120; j <- 0 until 80)
      yield (i * 0.05 + 0.025, 4.0 + j * 0.05 + 0.025)
    val inside = Seq(outer).toDF("g")
      .select(SpatialOps.wktRings(col("g")).as("r"))
      .crossJoin(pts.toDF("px", "py"))
      .select(graft.functions.GeomPredExprs.pointInRings(col("r"), col("px"), col("py"))
        .cast("int").as("in"))
      .agg(sum(col("in"))).head().getLong(0)
    val mc = inside * 0.05 * 0.05
    assert(math.abs(mc - 12.0) < 0.3, s"sampling census $mc disagrees with clip area")
  }

  test("degenerate inputs: zero-width polygons and edge-touch boxes are 0; empty rings are 0") {
    assert(clipOf("POLYGON ((1 1, 5 1, 1 1))", (0, 0, 10, 10)) == 0.0)
    assert(clipOf("POLYGON ((2 3, 10 3, 10 9, 2 9, 2 3))", (0, 0, 2, 20)) == 0.0)
    // a zero-area (point) box at the polygon's corner clips to nothing
    assert(clipOf("POLYGON ((2 3, 10 3, 10 9, 2 9, 2 3))", (2, 3, 2, 3)) == 0.0)
  }

  test("fail-closed: inverted box and non-struct inputs") {
    val e = intercept[Exception](clipOf(arrowHole, (5, 5, 1, 1)))
    assert(e.getMessage.contains("inverted clip box"))
    val e2 = intercept[Exception](
      Seq(1).toDF("x").select(ClipExprs.clipArea(col("x"),
        SpatialOps.bbox(lit(0.0), lit(0.0), lit(1.0), lit(1.0)))).collect())
    assert(e2.getMessage.toLowerCase.contains("rings"))
  }

  // ---- convex-window form (ClipAreaPolyExpr) ----

  private def clipPolyOf(wkt: String, clipWkt: String): Double =
    Seq((wkt, clipWkt)).toDF("g", "c")
      .select(ClipExprs.clipAreaPoly(SpatialOps.wktRings(col("g")),
        element_at(SpatialOps.wktRings(col("c")), 1)).as("a"))
      .head().getDouble(0)

  private def diamondWkt(cx: Double, cy: Double, r: Double): String =
    s"POLYGON (($cx ${cy - r}, ${cx + r} $cy, $cx ${cy + r}, ${cx - r} $cy, $cx ${cy - r}))"

  test("convex clip: closed forms against diamonds") {
    val bigRect = "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"
    // diamond fully inside the rect: intersection = diamond area 2r^2
    assert(clipPolyOf(bigRect, diamondWkt(50, 50, 3)) == 18.0)
    // rect fully inside a huge diamond: intersection = rect area
    val unitRect = "POLYGON ((49 49, 51 49, 51 51, 49 51, 49 49))"
    assert(clipPolyOf(unitRect, diamondWkt(50, 50, 40)) == 4.0)
    // disjoint
    assert(clipPolyOf(unitRect, diamondWkt(80, 80, 2)) == 0.0)
  }

  test("convex clip by an axis-aligned square ring equals the box kernel") {
    val square = "POLYGON ((2 1, 7 1, 7 6, 2 6, 2 1))"
    val viaPoly = clipPolyOf(arrowHole, square)
    val viaBox = clipOf(arrowHole, (2, 1, 7, 6))
    assert(viaPoly == viaBox && viaPoly > 0,
      s"kernels disagree: poly=$viaPoly box=$viaBox")
  }

  test("convex clip: diamond tiling reassembles the subject's full area") {
    // radius-r diamonds centered on the 2r lattice + the r-offset lattice
    // tile the plane; summing clip areas over a covering tiling must
    // reassemble the arrow+hole polygon exactly
    val r = 2.0
    var sum = 0.0
    for (i <- -1 to 4; j <- -1 to 4) {
      sum += clipPolyOf(arrowHole, diamondWkt(2 * r * i, 2 * r * j, r))
      sum += clipPolyOf(arrowHole, diamondWkt(2 * r * i + r, 2 * r * j + r, r))
    }
    assert(math.abs(sum - 35.0) < 1e-9, s"tiling sum $sum != 35")
  }

  test("convex clip winding: a clockwise clip ring gives the same area") {
    val ccw = diamondWkt(3, 3, 2)
    val cw = "POLYGON ((3 1, 1 3, 3 5, 5 3, 3 1))"
    // reversing the ring reorders the edge passes, so the intersection
    // arithmetic rounds differently — equality is semantic, not bitwise
    assert(math.abs(clipPolyOf(arrowHole, ccw) - clipPolyOf(arrowHole, cw)) < 1e-9)
  }

  test("convex clip fail-closed: concave, unclosed, degenerate clip rings") {
    val arrowRing = "POLYGON ((0 0, 6 0, 6 8, 3 4, 0 8, 0 0))" // concave
    val e1 = intercept[Exception](clipPolyOf(arrowHole, arrowRing))
    assert(e1.getMessage.contains("not convex"))
    val e2 = intercept[Exception](
      Seq(1).toDF("x").select(ClipExprs.clipAreaPoly(col("x"), col("x"))).collect())
    assert(e2.getMessage.toLowerCase.contains("rings"))
    // degenerate (zero-area line ring)
    val e3 = intercept[Exception](
      clipPolyOf(arrowHole, "POLYGON ((0 0, 4 0, 2 0, 0 0))"))
    assert(e3.getMessage.contains("zero area"))
  }

  // ---- general (concave) form (ClipAreaGeneralExpr) ----

  private def clipGenOf(wkt: String, clipWkt: String): Double =
    Seq((wkt, clipWkt)).toDF("g", "c")
      .select(ClipExprs.clipAreaGeneralCol(SpatialOps.wktRings(col("g")),
        element_at(SpatialOps.wktRings(col("c")), 1)).as("a"))
      .head().getDouble(0)

  // concave CCW "dart": tip, bottom-left, reflex notch, bottom-right;
  // shoelace area = 1.5 r^2
  private def dartWkt(cx: Double, cy: Double, r: Double): String =
    s"POLYGON (($cx ${cy + r}, ${cx - r} ${cy - r}, $cx ${cy - 0.5 * r}, " +
      s"${cx + r} ${cy - r}, $cx ${cy + r}))"

  test("general clip: concave dart closed forms") {
    val bigRect = "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"
    // dart fully inside the rect: intersection = dart area 1.5 r^2
    assert(math.abs(clipGenOf(bigRect, dartWkt(50, 50, 2)) - 6.0) < 1e-12)
    // disjoint
    val unitRect = "POLYGON ((49 49, 51 49, 51 51, 49 51, 49 49))"
    assert(clipGenOf(unitRect, dartWkt(80, 80, 2)) == 0.0)
    // the notch is OUTSIDE the dart: a small box sitting in the notch
    // (just above the reflex vertex, below the tip-to-corner edges)
    assert(clipGenOf("POLYGON ((4.9 54.2, 5.1 54.2, 5.1 54.4, 4.9 54.4, 4.9 54.2))",
      dartWkt(5, 50, 4)) == 0.0)
  }

  test("general clip equals the convex kernel on convex rings (semantic)") {
    Seq(diamondWkt(3, 3, 2), diamondWkt(4, 5, 1.5),
        "POLYGON ((2 1, 7 1, 7 6, 2 6, 2 1))").foreach { c =>
      val g = clipGenOf(arrowHole, c)
      val v = clipPolyOf(arrowHole, c)
      assert(math.abs(g - v) < 1e-9, s"clip $c: general=$g convex=$v")
    }
  }

  test("general clip: ear decomposition is BITWISE the convex kernel over the fixture ears") {
    // the j23 oracle hard-codes the dart's ear triangles (v0,v1,v2) and
    // (v0,v2,v3) and replays the convex passes per triangle -- this
    // equality is what makes that replay exact, not approximate
    val (cx, cy, r) = (5.0, 5.0, 2.0)
    val dart = dartWkt(cx, cy, r)
    val t1 = s"POLYGON (($cx ${cy + r}, ${cx - r} ${cy - r}, $cx ${cy - 0.5 * r}, $cx ${cy + r}))"
    val t2 = s"POLYGON (($cx ${cy + r}, $cx ${cy - 0.5 * r}, ${cx + r} ${cy - r}, $cx ${cy + r}))"
    val whole = clipGenOf(arrowHole, dart)
    val parts = clipPolyOf(arrowHole, t1) + clipPolyOf(arrowHole, t2)
    assert(whole == parts, s"ear order drifted: general=$whole sum=$parts")
    assert(whole > 0.0)
  }

  test("general clip: grid partition of the plane reassembles the dart's area") {
    // subject boxes partition the covering region, the concave dart is
    // the clip window: sum of intersections must equal 1.5 r^2 exactly
    // up to float summation -- the partition-exactness of ear clipping
    val r = 3.0
    var sum = 0.0
    for (i <- 0 until 4; j <- 0 until 4) {
      val (x0, y0) = (2.0 + i * 2, 1.0 + j * 2)
      val box = s"POLYGON (($x0 $y0, ${x0 + 2} $y0, ${x0 + 2} ${y0 + 2}, $x0 ${y0 + 2}, $x0 $y0))"
      sum += clipGenOf(box, dartWkt(6, 5, r))
    }
    assert(math.abs(sum - 1.5 * r * r) < 1e-9, s"grid sum $sum != ${1.5 * r * r}")
  }

  test("general clip: swap symmetry on hole-free polygons") {
    val arrowOuter = "POLYGON ((0 0, 6 0, 6 8, 3 4, 0 8, 0 0))"
    val dart = dartWkt(3, 3, 3)
    val ab = clipGenOf(arrowOuter, dart)
    val ba = clipGenOf(dart, arrowOuter)
    assert(ab > 0 && math.abs(ab - ba) < 1e-9, s"swap asymmetry: $ab vs $ba")
  }

  test("general clip: hole subtraction matches the box kernel") {
    // axis-aligned square ring through the general path == box kernel
    val square = "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))"
    assert(math.abs(clipGenOf(arrowHole, square) - 3.0) < 1e-12)
  }

  test("general clip: a plain triangle ring is the degenerate (single-ear) case") {
    // big triangle containing the arrow: intersection = arrow area 35
    val tri = "POLYGON ((-20 -5, 30 -5, 5 40, -20 -5))"
    assert(math.abs(clipGenOf(arrowHole, tri) - 35.0) < 1e-9)
  }

  test("general clip fail-closed: zero-area rings and non-ring inputs") {
    val e2 = intercept[Exception](
      clipGenOf(arrowHole, "POLYGON ((0 0, 4 0, 2 0, 0 0))"))
    assert(e2.getMessage.contains("zero area"))
    val e3 = intercept[Exception](
      Seq(1).toDF("x").select(ClipExprs.clipAreaGeneralCol(col("x"), col("x"))).collect())
    assert(e3.getMessage.toLowerCase.contains("rings"))
    // clockwise dart (reversed ring) gives the same area -- winding-aware
    val cwDart = "POLYGON ((5 7, 7 3, 5 4, 3 3, 5 7))"
    val ccw = clipGenOf(arrowHole, dartWkt(5, 5, 2))
    val cw = clipGenOf(arrowHole, cwDart)
    assert(math.abs(ccw - cw) < 1e-9, s"winding asymmetry: $ccw vs $cw")
  }

  test("polygon-with-holes clip: hole subtraction is exact; single ring == general kernel bitwise") {
    def clipMultiOf(wkt: String, clipWkt: String): Double =
      Seq((wkt, clipWkt)).toDF("g", "c")
        .select(ClipExprs.clipAreaPolygonCol(SpatialOps.wktRings(col("g")),
          SpatialOps.wktRings(col("c"))).as("a"))
        .head().getDouble(0)
    val bigRect = "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"
    // dart with a triangular hole in the right lobe (the j25 fixture at
    // (50,50), r=4): area = 1.5 r^2 - 0.015625 r^2
    val r = 4.0
    val dartHole = "POLYGON ((50 54, 46 46, 50 48, 54 46, 50 54), " +
      "(51 49, 51.5 49.5, 52 49, 51 49))"
    val got = clipMultiOf(bigRect, dartHole)
    assert(math.abs(got - (1.5 * r * r - 0.015625 * r * r)) < 1e-9, s"got $got")
    // a single-ring clip through the polygon form == the general kernel
    val viaMulti = clipMultiOf(arrowHole, dartWkt(5, 5, 2))
    val viaGen = clipGenOf(arrowHole, dartWkt(5, 5, 2))
    assert(viaMulti == viaGen, s"single-ring multi must be bitwise general: $viaMulti vs $viaGen")
    // subject hole and clip hole interact correctly: clip the arrow by a
    // box-with-hole where the clip hole covers the subject's 1x1 hole --
    // subtracting the clip hole removes (2x2 region minus subject hole)=3
    val boxWithHole = "POLYGON ((0 0, 6 0, 6 3, 0 3, 0 0), " +
      "(0.5 0.5, 0.5 2.5, 2.5 2.5, 2.5 0.5, 0.5 0.5))"
    val expect = clipGenOf(arrowHole, "POLYGON ((0 0, 6 0, 6 3, 0 3, 0 0))") - 3.0
    assert(math.abs(clipMultiOf(arrowHole, boxWithHole) - expect) < 1e-12)
    // fail-closed: zero rings
    val e = intercept[Exception](
      Seq((arrowHole, "x")).toDF("g", "c")
        .select(ClipExprs.clipAreaPolygonCol(SpatialOps.wktRings(col("g")),
          array().cast("array<array<struct<x:double,y:double>>>")).as("a"))
        .head())
    assert(e.getMessage.contains(">= 1 ring"))
  }

  test("multipolygon clip: archipelago members sum; orientation splits outers from holes") {
    def multiOf(wkt: String, clipRings: org.apache.spark.sql.Column): Double =
      Seq(wkt).toDF("g")
        .select(ClipExprs.clipAreaMultiPolygonCol(
          SpatialOps.wktRings(col("g")), clipRings).as("a"))
        .head().getDouble(0)
    def rings(w: String) = SpatialOps.wktRings(lit(w))
    val bigRect = "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"
    // two disjoint unit squares: union of member areas
    val two = concat(rings("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      rings("POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"))
    assert(multiOf(bigRect, two) == 2.0)
    // member with a CW hole + a second disjoint member: (16-4)+4
    val holed = concat(
      rings("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 1 3, 3 3, 3 1, 1 1))"),
      rings("POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))"))
    assert(multiOf(bigRect, holed) == 16.0)
    // a single outer+holes clip through the multipolygon form is BITWISE
    // the general-rings form (same terms, same fold)
    val dartHole = "POLYGON ((5 7, 3 3, 5 4, 7 3, 5 7), " +
      "(5.5 4.5, 5.75 4.75, 6 4.5, 5.5 4.5))"
    val viaRings = Seq(arrowHole).toDF("g")
      .select(ClipExprs.clipAreaPolygonCol(
        SpatialOps.wktRings(col("g")), rings(dartHole)).as("a"))
      .head().getDouble(0)
    assert(multiOf(arrowHole, rings(dartHole)) == viaRings,
      "outer+holes through the multi door must be bitwise the rings kernel")
    // THE J26 IDENTITY: the dart pre-split into its two ear members
    // (+ the hole on the right member) is BITWISE the whole-dart
    // clip-with-holes — each member triangle IS the ear the general
    // kernel cuts, and the multi fold ((A1+A2)-A3) matches
    // clipAreaGeneralMulti's (earSum)-A3
    val split = concat(
      rings("POLYGON ((5 7, 3 3, 5 4, 5 7))"),
      rings("POLYGON ((5 7, 5 4, 7 3, 5 7))"),
      rings("POLYGON ((5.5 4.5, 5.75 4.75, 6 4.5, 5.5 4.5))"))
    assert(multiOf(arrowHole, split) == viaRings,
      "ear-split members must be bitwise the whole-dart kernel")
    // fail-closed: a zero-area clip ring
    val e = intercept[Exception](
      multiOf(bigRect, concat(rings("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
        array(array(struct(lit(0.0).as("x"), lit(0.0).as("y")),
          struct(lit(1.0).as("x"), lit(0.0).as("y")),
          struct(lit(0.0).as("x"), lit(0.0).as("y")))))))
    assert(e.getMessage.contains("zero area"))
    // fail-closed: empty clip
    val e2 = intercept[Exception](multiOf(bigRect,
      array().cast("array<array<struct<x:double,y:double>>>")))
    assert(e2.getMessage.contains(">= 1 ring"))
  }

  test("SQL surface: st_clip_area_multipolygon matches the Column form") {
    val dartHole = "POLYGON ((5 7, 3 3, 5 4, 7 3, 5 7), " +
      "(5.5 4.5, 5.75 4.75, 6 4.5, 5.5 4.5))"
    Seq((arrowHole, dartHole)).toDF("g", "c").createOrReplaceTempView("clipmulti")
    val viaSql = spark.sql(
      "SELECT st_clip_area_multipolygon(st_rings(g), st_rings(c)) AS a FROM clipmulti")
      .head().getDouble(0)
    val viaCol = Seq((arrowHole, dartHole)).toDF("g", "c")
      .select(ClipExprs.clipAreaMultiPolygonCol(
        SpatialOps.wktRings(col("g")), SpatialOps.wktRings(col("c"))).as("a"))
      .head().getDouble(0)
    assert(viaSql == viaCol)
  }

  test("SQL surface: st_clip_area_poly/general/polygon match the Column forms") {
    Seq((arrowHole, dartWkt(5, 5, 2))).toDF("g", "c").createOrReplaceTempView("clipgen")
    val viaSql = spark.sql(
      """SELECT st_clip_area_general(st_rings(g), element_at(st_rings(c), 1)) AS a,
        |       st_clip_area_polygon(st_rings(g), st_rings(c)) AS b
        |FROM clipgen""".stripMargin).head()
    val viaCol = clipGenOf(arrowHole, dartWkt(5, 5, 2))
    assert(viaSql.getDouble(0) == viaCol && viaSql.getDouble(1) == viaCol)
    val viaPolySql = spark.sql(
      """SELECT st_clip_area_poly(st_rings(g), element_at(st_rings(c), 1)) AS a
        |FROM (SELECT g, 'POLYGON ((2 1, 7 1, 7 6, 2 6, 2 1))' AS c FROM clipgen)"""
        .stripMargin).head().getDouble(0)
    assert(viaPolySql == clipPolyOf(arrowHole, "POLYGON ((2 1, 7 1, 7 6, 2 6, 2 1))"))
  }

  test("property: ear clipping is exact on 40 random star-shaped concave polygons") {
    // star-shaped polygons (vertices at sorted angles around a center)
    // are simple by construction and concave with probability ~1 --
    // area(bigBox intersect P) must equal P's shoelace area, and the
    // intersection must be swap-symmetric
    val rnd = new scala.util.Random(42)
    val bigBox = "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0))"
    def star(): (String, Double) = {
      val cx = 20 + rnd.nextDouble() * 60
      val cy = 20 + rnd.nextDouble() * 60
      val k = 5 + rnd.nextInt(8)
      // jittered-uniform angles: every gap < 2*(2pi/k) < pi for k >= 5,
      // which makes the radial polygon SIMPLE by construction (a fully
      // random angle set can leave a gap > pi, whose closing chord passes
      // the far side of the center and self-intersects -- caught live by
      // this test's first draft)
      val angles = (0 until k).map(i => 2 * math.Pi * (i + 0.8 * rnd.nextDouble()) / k)
      val pts = angles.map { a =>
        val r = 1.0 + rnd.nextDouble() * 7.0
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val closed = pts :+ pts.head
      val wkt = closed.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")
      val area = math.abs(closed.sliding(2).map {
        case Seq((x1, y1), (x2, y2)) => x1 * y2 - x2 * y1
      }.sum) / 2.0
      (wkt, area)
    }
    val polys = Seq.fill(40)(star())
    polys.foreach { case (wkt, area) =>
      val got = clipGenOf(bigBox, wkt)
      assert(math.abs(got - area) < 1e-9 * math.max(1.0, area),
        s"partition-exactness failed: got $got want $area for $wkt")
    }
    // swap symmetry on ten random pairs (both hole-free)
    polys.take(10).zip(polys.slice(10, 20)).foreach { case ((a, _), (b, _)) =>
      val ab = clipGenOf(a, b)
      val ba = clipGenOf(b, a)
      assert(math.abs(ab - ba) < 1e-9 * math.max(1.0, ab),
        s"swap asymmetry: $ab vs $ba for\n$a\n$b")
    }
  }

  test("SQL surface: st_clip_area matches the Column form") {
    Seq(arrowHole).toDF("g").createOrReplaceTempView("clipspec")
    val viaSql = spark.sql(
      """SELECT st_clip_area(st_rings(g), named_struct(
        |  'xmin', CAST(0.5 AS DOUBLE), 'ymin', CAST(0.5 AS DOUBLE),
        |  'xmax', CAST(2.5 AS DOUBLE), 'ymax', CAST(2.5 AS DOUBLE))) AS a
        |FROM clipspec""".stripMargin).head().getDouble(0)
    assert(viaSql == 3.0)
  }

  // ---- geometry emission (r16: clip_*_geom + the WKT/GeoParquet bridge) ----

  /** The area kernels' exact fold over emitted rings: acc += (x_i·y_{i+1}
    * − x_{i+1}·y_i) per ring, rings summed in order, abs/2 — the
    * bitwise reference (SpatialOps.ringsArea groups its Column fold as
    * ((acc + p) − q), a different rounding sequence: ulp-close, not
    * bitwise). */
  private def kernelAreaOf(rings: scala.collection.Seq[scala.collection.Seq[org.apache.spark.sql.Row]]): Double = {
    var total = 0.0
    rings.foreach { pts =>
      var acc = 0.0
      var i = 0
      while (i < pts.length - 1) {
        acc += pts(i).getDouble(0) * pts(i + 1).getDouble(1) -
          pts(i + 1).getDouble(0) * pts(i).getDouble(1)
        i += 1
      }
      total += acc
    }
    math.abs(total) / 2.0
  }

  test("geometry emission: area(emitted rings) is BITWISE the area kernels' (box + convex)") {
    // boxes sweeping the arrow-with-hole domain: full/partial/hole-straddling/
    // corner-touch/disjoint all occur across the sweep
    for (i <- -1 to 6; j <- -1 to 7) {
      val (x0, y0, x1, y1) = (i - 0.5, j - 0.75, i + 2.25, j + 1.5)
      val row = Seq(arrowHole).toDF("g")
        .select(
          ClipExprs.clipArea(SpatialOps.wktRings(col("g")),
            SpatialOps.bbox(lit(x0), lit(y0), lit(x1), lit(y1))).as("a"),
          ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
            SpatialOps.bbox(lit(x0), lit(y0), lit(x1), lit(y1))).as("emitted"))
        .head()
      val emitted = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
      assert(row.getDouble(0) == kernelAreaOf(emitted),
        s"box ($x0,$y0,$x1,$y1): area ${row.getDouble(0)} vs emitted ${kernelAreaOf(emitted)}")
      // and the Column-algebra ringsArea stays within an ulp (different
      // fold grouping, same operands)
      val colArea = Seq(arrowHole).toDF("g")
        .select(SpatialOps.ringsArea(ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
          SpatialOps.bbox(lit(x0), lit(y0), lit(x1), lit(y1))))).head().getDouble(0)
      assert(math.abs(colArea - row.getDouble(0)) <= 2 * math.ulp(math.max(1.0, colArea)))
    }
    for (i <- 0 to 6; j <- 0 to 7) {
      val d = diamondWkt(i.toDouble, j.toDouble, 2.0)
      val row = Seq((arrowHole, d)).toDF("g", "c")
        .select(
          ClipExprs.clipAreaPoly(SpatialOps.wktRings(col("g")),
            element_at(SpatialOps.wktRings(col("c")), 1)).as("a"),
          ClipExprs.clipRingsConvexCol(SpatialOps.wktRings(col("g")),
            element_at(SpatialOps.wktRings(col("c")), 1)).as("emitted"))
        .head()
      val emitted = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
      assert(row.getDouble(0) == kernelAreaOf(emitted),
        s"diamond ($i,$j): area ${row.getDouble(0)} vs emitted ${kernelAreaOf(emitted)}")
    }
  }

  test("geometry emission: WKT round trip is bitwise (empty rings skipped)") {
    // the hole is clipped AWAY by this box -> an empty entry the WKT skips
    val df = Seq(arrowHole).toDF("g")
      .select(ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(2.5), lit(2.5), lit(7.0), lit(6.0))).as("clipped"))
      .withColumn("wkt", SpatialOps.ringsToWkt(col("clipped")))
    val bad = df.filter(
      filter(col("clipped"), r => size(r) > 0) =!= SpatialOps.wktRings(col("wkt"))).count()
    assert(bad == 0, "wktRings(ringsToWkt(emitted)) must equal the emitted nonempty rings bitwise")
    // all-empty -> POLYGON EMPTY
    val empty = Seq(arrowHole).toDF("g")
      .select(SpatialOps.ringsToWkt(ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(50.0), lit(50.0), lit(60.0), lit(60.0)))).as("w"))
      .head().getString(0)
    assert(empty == "POLYGON EMPTY")
    // a box keeping the hole: both rings survive, round trip still bitwise
    val df2 = Seq(arrowHole).toDF("g")
      .select(ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(0.5), lit(0.5), lit(5.0), lit(5.0))).as("clipped"))
      .withColumn("wkt", SpatialOps.ringsToWkt(col("clipped")))
    assert(df2.filter(size(element_at(col("clipped"), 2)) > 0).count() == 1,
      "fixture must keep the hole for this to test multi-ring WKT")
    val bad2 = df2.filter(
      filter(col("clipped"), r => size(r) > 0) =!= SpatialOps.wktRings(col("wkt"))).count()
    assert(bad2 == 0)
  }

  test("geometry emission: GeoParquet round trip re-ingests areas bitwise") {
    // clip a small store of translated arrows to one window, WRITE the
    // clipped geometry as GeoParquet, re-ingest, and require the
    // re-ingested areas to equal st_clip_area on the ORIGINALS bitwise —
    // the r15 verdict's "first user who clips to an AOI and wants to
    // WRITE the clipped store" flow, end to end
    val dir = java.nio.file.Files.createTempDirectory("clipgeo").toString + "/store"
    def arrowAt(dx: Int, dy: Int) =
      s"POLYGON (($dx $dy, ${dx + 6} $dy, ${dx + 6} ${dy + 8}, ${dx + 3} ${dy + 4}, " +
        s"$dx ${dy + 8}, $dx $dy), (${dx + 1} ${dy + 1}, ${dx + 1} ${dy + 2}, " +
        s"${dx + 2} ${dy + 2}, ${dx + 2} ${dy + 1}, ${dx + 1} ${dy + 1}))"
    val src = (0 until 12).map(k => (k.toLong, arrowAt(k % 5, k % 4))).toDF("fid", "g")
    val clipped = src
      .withColumn("clipped", ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(1.5), lit(1.0), lit(7.25), lit(6.5))))
      .withColumn("geom", SpatialOps.ringsToWkt(col("clipped")))
      .filter(col("geom") =!= "POLYGON EMPTY")
    operators.GeoParquet.writeGeoParquet(clipped.select("fid", "geom"), dir, geomCol = "geom")
    val back = operators.GeoParquet.readGeoParquet(spark, dir)
      .select(col("fid"), SpatialOps.ringsArea(SpatialOps.wktRings(col("geom"))).as("a_back"))
    val orig = src.select(col("fid"),
      ClipExprs.clipArea(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(1.5), lit(1.0), lit(7.25), lit(6.5))).as("a_orig"))
    val joined = back.join(orig, "fid")
    assert(joined.count() == 12, "every clipped feature must survive the round trip")
    assert(joined.filter(col("a_back") =!= col("a_orig")).count() == 0,
      "re-ingested clipped areas must equal st_clip_area on the originals bitwise")
  }

  test("geometry emission fail-closed: inverted box, concave clip ring") {
    val e1 = intercept[Exception](Seq(arrowHole).toDF("g")
      .select(ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(5.0), lit(0.0), lit(1.0), lit(4.0)))).collect())
    assert(e1.getMessage.contains("inverted") || e1.getCause != null)
    val dart = "POLYGON ((3 5, 1 1, 3 2, 5 1, 3 5))"
    val e2 = intercept[Exception](Seq((arrowHole, dart)).toDF("g", "c")
      .select(ClipExprs.clipRingsConvexCol(SpatialOps.wktRings(col("g")),
        element_at(SpatialOps.wktRings(col("c")), 1))).collect())
    assert(e2.getMessage.contains("convex") || e2.getCause != null)
  }

  test("SQL surface: st_clip_box_geom / st_clip_poly_geom / st_rings_wkt match the Column forms") {
    Seq(arrowHole).toDF("g").createOrReplaceTempView("clipgeospec")
    val viaSql = spark.sql(
      """SELECT st_rings_wkt(st_clip_box_geom(st_rings(g), named_struct(
        |  'xmin', CAST(0.5 AS DOUBLE), 'ymin', CAST(0.5 AS DOUBLE),
        |  'xmax', CAST(5.0 AS DOUBLE), 'ymax', CAST(5.0 AS DOUBLE)))) AS w,
        |  st_rings_wkt(st_clip_poly_geom(st_rings(g),
        |    st_rings('POLYGON ((3 1, 5 3, 3 5, 1 3, 3 1))')[0])) AS w2
        |FROM clipgeospec""".stripMargin).head()
    val diamond = "POLYGON ((3 1, 5 3, 3 5, 1 3, 3 1))"
    val viaCol = Seq((arrowHole, diamond)).toDF("g", "c").select(
      SpatialOps.ringsToWkt(ClipExprs.clipRingsBoxCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(0.5), lit(0.5), lit(5.0), lit(5.0)))).as("w"),
      SpatialOps.ringsToWkt(ClipExprs.clipRingsConvexCol(SpatialOps.wktRings(col("g")),
        element_at(SpatialOps.wktRings(col("c")), 1))).as("w2")).head()
    assert(viaSql.getString(0) == viaCol.getString(0))
    assert(viaSql.getString(1) == viaCol.getString(1))
  }

  test("general emission: per-ear area fold over emitted pieces is BITWISE clipAreaGeneral") {
    // darts sweeping the arrow-with-hole domain — the ear-major piece
    // order groups pieces in chunks of nRings(subject)=2; per ear the
    // kernel folds |sum of piece crosses|/2, ears summed in cut order
    for (i <- 0 to 6; j <- 0 to 7) {
      val d = dartWkt(i.toDouble, j.toDouble, 2.0)
      val row = Seq((arrowHole, d)).toDF("g", "c")
        .select(
          ClipExprs.clipAreaGeneralCol(SpatialOps.wktRings(col("g")),
            element_at(SpatialOps.wktRings(col("c")), 1)).as("a"),
          ClipExprs.clipRingsGeneralCol(SpatialOps.wktRings(col("g")),
            element_at(SpatialOps.wktRings(col("c")), 1)).as("pieces"))
        .head()
      val pieces = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
      assert(pieces.length % 2 == 0, "piece count must be ears x 2 subject rings")
      val perEar = pieces.grouped(2).map(chunk => kernelAreaOf(chunk)).sum
      assert(row.getDouble(0) == perEar,
        s"dart ($i,$j): area ${row.getDouble(0)} vs emitted-piece fold $perEar")
    }
  }

  test("general emission: WKT front door renders a valid tiling, fail-closed on bowties") {
    // a dart overlapping the arrow: pieces render as POLYGON/MULTIPOLYGON
    // via the winding-aware auto emitter; re-parsing measures the same
    // total area the general kernel reports (Column re-fold: ulp-close)
    val rows = Seq((arrowHole, dartWkt(3.0, 3.0, 2.0))).toDF("g", "c")
      .select(
        SpatialOps.wktClipGeneral(col("g"),
          element_at(SpatialOps.wktRings(col("c")), 1)).as("w"),
        ClipExprs.clipAreaGeneralCol(SpatialOps.wktRings(col("g")),
          element_at(SpatialOps.wktRings(col("c")), 1)).as("a"))
      .head()
    val wkt = rows.getString(0)
    assert(wkt.startsWith("POLYGON") || wkt.startsWith("MULTIPOLYGON"), wkt)
    val reArea = Seq(wkt).toDF("w")
      .select(SpatialOps.ringsArea(SpatialOps.wktRings(col("w")))).head().getDouble(0)
    assert(rows.getDouble(1) > 0.0)
    assert(math.abs(reArea - rows.getDouble(1)) <=
      4 * math.ulp(math.max(1.0, rows.getDouble(1))),
      s"re-parsed tiling area $reArea vs kernel ${rows.getDouble(1)}")
    // self-intersecting clip ring: the ear scan must fail loudly
    val e = intercept[Exception] {
      Seq((arrowHole, "POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))")).toDF("g", "c")
        .select(ClipExprs.clipRingsGeneralCol(SpatialOps.wktRings(col("g")),
          element_at(SpatialOps.wktRings(col("c")), 1))).collect()
    }
    assert(e.getMessage.contains("no ear") || e.getMessage.contains("zero area"),
      e.getMessage)
  }

  test("box difference: emitted strip fold is BITWISE the measure; diff + clip == subject") {
    // subject area once (the kernel cross fold on the parsed rings)
    val subjRings = Seq(arrowHole).toDF("g")
      .select(SpatialOps.wktRings(col("g"))).head()
      .getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    val subjArea = kernelAreaOf(subjRings)
    for (i <- -1 to 6; j <- -1 to 7) {
      val (x0, y0, x1, y1) = (i - 0.5, j - 0.75, i + 2.25, j + 1.5)
      val row = Seq(arrowHole).toDF("g")
        .select(
          ClipExprs.clipAreaBoxComplementCol(SpatialOps.wktRings(col("g")),
            SpatialOps.bbox(lit(x0), lit(y0), lit(x1), lit(y1))).as("d"),
          ClipExprs.clipRingsBoxComplementCol(SpatialOps.wktRings(col("g")),
            SpatialOps.bbox(lit(x0), lit(y0), lit(x1), lit(y1))).as("pieces"),
          ClipExprs.clipArea(SpatialOps.wktRings(col("g")),
            SpatialOps.bbox(lit(x0), lit(y0), lit(x1), lit(y1))).as("c"))
        .head()
      val pieces = row.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](1)
      assert(pieces.length == 8, "4 strips x 2 subject rings, empties kept")
      // per-strip fold in strip order: |sum of the strip's ring crosses|/2
      val emittedDiff = pieces.grouped(2).map(chunk => kernelAreaOf(chunk)).sum
      assert(row.getDouble(0) == emittedDiff,
        s"box ($x0,$y0,$x1,$y1): measure ${row.getDouble(0)} vs emitted fold $emittedDiff")
      // the partition identity: difference + intersection == subject
      val total = row.getDouble(0) + row.getDouble(2)
      assert(math.abs(total - subjArea) <= 8 * math.ulp(math.max(1.0, subjArea)),
        s"box ($x0,$y0,$x1,$y1): diff ${row.getDouble(0)} + clip ${row.getDouble(2)} != $subjArea")
    }
  }

  test("box difference: WKT front door + SQL surface match the Column forms") {
    Seq(arrowHole).toDF("g").createOrReplaceTempView("diffspec")
    val viaSql = spark.sql(
      """SELECT st_rings_wkt_auto(st_difference_box_geom(st_rings(g), named_struct(
        |  'xmin', CAST(1.0 AS DOUBLE), 'ymin', CAST(1.0 AS DOUBLE),
        |  'xmax', CAST(3.0 AS DOUBLE), 'ymax', CAST(3.0 AS DOUBLE)))) AS w,
        |  st_difference_box_area(st_rings(g), named_struct(
        |  'xmin', CAST(1.0 AS DOUBLE), 'ymin', CAST(1.0 AS DOUBLE),
        |  'xmax', CAST(3.0 AS DOUBLE), 'ymax', CAST(3.0 AS DOUBLE))) AS a
        |FROM diffspec""".stripMargin).head()
    val viaCol = Seq(arrowHole).toDF("g").select(
      SpatialOps.wktDifferenceBox(col("g"),
        SpatialOps.bbox(lit(1.0), lit(1.0), lit(3.0), lit(3.0))).as("w"),
      ClipExprs.clipAreaBoxComplementCol(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(1.0), lit(1.0), lit(3.0), lit(3.0))).as("a")).head()
    assert(viaSql.getString(0) == viaCol.getString(0))
    assert(viaSql.getDouble(1) == viaCol.getDouble(1))
    // re-parsing the emitted WKT measures the same difference (ulp-close
    // Column re-fold)
    val reArea = Seq(viaCol.getString(0)).toDF("w")
      .select(SpatialOps.ringsArea(SpatialOps.wktRings(col("w")))).head().getDouble(0)
    assert(math.abs(reArea - viaCol.getDouble(1)) <=
      4 * math.ulp(math.max(1.0, viaCol.getDouble(1))))
    // box fully containing the subject -> empty difference
    val empty = Seq(arrowHole).toDF("g")
      .select(SpatialOps.wktDifferenceBox(col("g"),
        SpatialOps.bbox(lit(-50.0), lit(-50.0), lit(50.0), lit(50.0)))).head().getString(0)
    assert(empty == "POLYGON EMPTY")
    // inverted box fail-closed
    val e = intercept[Exception] {
      Seq(arrowHole).toDF("g")
        .select(ClipExprs.clipRingsBoxComplementCol(SpatialOps.wktRings(col("g")),
          SpatialOps.bbox(lit(5.0), lit(0.0), lit(1.0), lit(4.0)))).collect()
    }
    assert(e.getMessage.contains("inverted clip box"), e.getMessage)
  }
}
