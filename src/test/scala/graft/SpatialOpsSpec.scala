package graft

import graft.functions.{CosineSimExpr, SpatialOps, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpatialOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("affine world<->pixel mapping round-trips cell centers (J6)") {
    // origin (1000, 2000), 10m pixels
    val df = Seq((0, 0), (3, 7), (99, 42)).toDF("r", "c")
    val out = df.select(
      SpatialOps.cellCenterX($"c", lit(1000.0), lit(10.0)).as("x"),
      SpatialOps.cellCenterY($"r", lit(2000.0), lit(10.0)).as("y"),
      $"r", $"c")
      .withColumn("r2", SpatialOps.pixelRowOf($"y", lit(2000.0), lit(10.0)))
      .withColumn("c2", SpatialOps.pixelColOf($"x", lit(1000.0), lit(10.0)))
    assert(out.filter($"r" =!= $"r2" || $"c" =!= $"c2").count() == 0)
  }

  test("bbox intersects/contains predicates (J6)") {
    val a = SpatialOps.bbox(lit(0), lit(0), lit(10), lit(10))
    val cases = Seq(
      (5.0, 5.0, 15.0, 15.0, true),   // overlap
      (10.0, 10.0, 20.0, 20.0, true), // touch at corner
      (11.0, 0.0, 20.0, 10.0, false)  // disjoint in x
    ).toDF("xmin", "ymin", "xmax", "ymax", "expect")
    val got = cases.withColumn("got",
      SpatialOps.bboxIntersects(a, SpatialOps.bbox($"xmin", $"ymin", $"xmax", $"ymax")))
    assert(got.filter($"got" =!= $"expect").count() == 0)
    val pts = Seq((5.0, 5.0, true), (10.0, 10.0, true), (10.1, 5.0, false)).toDF("x", "y", "e")
    assert(pts.withColumn("g", SpatialOps.bboxContainsPoint(a, $"x", $"y"))
      .filter($"g" =!= $"e").count() == 0)
  }

  test("wktEnvelope extracts the coordinate envelope from polygonize WKT") {
    val df = Seq("POLYGON ((0 0, 3 0, 3 2, 0 2, 0 0))").toDF("wkt")
    val env = df.select(SpatialOps.wktEnvelope($"wkt").as("e")).select("e.*").collect()(0)
    assert(env.getDouble(0) == 0.0 && env.getDouble(1) == 0.0)
    assert(env.getDouble(2) == 3.0 && env.getDouble(3) == 2.0)
  }

  test("joinPointsToGrid lands points in their cells via equi-join (J6)") {
    val grid = (for { r <- 0 until 4; c <- 0 until 4 } yield (r, c, r * 4 + c))
      .toDF("px_row", "px_col", "cell_val")
    // 10m cells, origin (0, 40): point (15, 35) → col 1, row 0
    val pts = Seq((15.0, 35.0, "a"), (39.9, 0.1, "b")).toDF("x", "y", "name")
    val out = SpatialOps.joinPointsToGrid(pts, grid, "x", "y", 0.0, 40.0, 10.0, 10.0)
      .select("name", "px_row", "px_col").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(out("a") == (0, 1))
    assert(out("b") == (3, 3))
  }

  test("wkt measures: rectangle area/perimeter/centroid/npoints") {
    val df = Seq(
      "POLYGON ((2 3, 6 3, 6 8, 2 8, 2 3))",          // 4x5 rect at (2,3)
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"       // 10x10 at origin
    ).toDF("wkt")
    val got = df.select(
      SpatialOps.wktArea($"wkt").as("a"),
      SpatialOps.wktPerimeter($"wkt").as("p"),
      SpatialOps.wktCentroid($"wkt").getField("x").as("cx"),
      SpatialOps.wktCentroid($"wkt").getField("y").as("cy"),
      SpatialOps.wktNumPoints($"wkt").as("n")).collect()
    assert(got(0).getDouble(0) == 20.0 && got(0).getDouble(1) == 18.0)
    assert(got(0).getDouble(2) == 4.0 && got(0).getDouble(3) == 5.5 && got(0).getInt(4) == 5)
    assert(got(1).getDouble(0) == 100.0 && got(1).getDouble(1) == 40.0)
    assert(got(1).getDouble(2) == 5.0 && got(1).getDouble(3) == 5.0)
  }

  test("wkt measures: polygon with hole (convention-oriented rings)") {
    // 10x10 CCW exterior, 2x2 CW hole at (4,4): area 100-4, perimeter 40+8
    val wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 4 6, 6 6, 6 4, 4 4))"
    val got = spark.range(1).select(
      SpatialOps.wktArea(lit(wkt)).as("a"),
      SpatialOps.wktPerimeter(lit(wkt)).as("p"),
      SpatialOps.wktCentroid(lit(wkt)).getField("x").as("cx"),
      SpatialOps.wktCentroid(lit(wkt)).getField("y").as("cy"),
      SpatialOps.wktNumPoints(lit(wkt)).as("n")).collect()(0)
    assert(got.getDouble(0) == 96.0)
    assert(got.getDouble(1) == 48.0)
    assert(got.getDouble(2) == 5.0 && got.getDouble(3) == 5.0) // symmetric hole
    assert(got.getInt(4) == 10)
  }

  test("wkt measures: triangle (non-axis-aligned edge, CW orientation)") {
    // CW triangle: signed area negative, abs() recovers 6; hypotenuse 5
    val wkt = "POLYGON ((0 0, 0 3, 4 0, 0 0))"
    val got = spark.range(1).select(
      SpatialOps.wktArea(lit(wkt)).as("a"),
      SpatialOps.wktPerimeter(lit(wkt)).as("p")).collect()(0)
    assert(got.getDouble(0) == 6.0)
    assert(got.getDouble(1) == 12.0)
  }

  test("geodesic measures: band-quad area is the exact spherical band, holes subtract") {
    import spark.implicits._
    val R = SpatialOps.Wgs84AuthalicRadius
    val d2r = math.Pi / 180.0
    // a parallel/meridian-bounded quad: C-D area == R²·Δλ·(sinφ2 − sinφ1)
    def quad(l1: Double, p1: Double, l2: Double, p2: Double) =
      s"POLYGON (($l1 $p1, $l2 $p1, $l2 $p2, $l1 $p2, $l1 $p1))"
    val df = Seq(
      (1L, quad(10.0, 0.0, 11.0, 1.0)),   // equatorial 1°×1°
      (2L, quad(-96.0, 40.0, -95.0, 41.0)) // mid-latitude
    ).toDF("id", "geom")
    val got = df.select($"id", SpatialOps.wktAreaGeodesic($"geom").as("a"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def band(l1: Double, p1: Double, l2: Double, p2: Double) =
      R * R * (l2 - l1) * d2r * (math.sin(p2 * d2r) - math.sin(p1 * d2r))
    assert(math.abs(got(1L) - band(10, 0, 11, 1)) / band(10, 0, 11, 1) < 1e-12)
    assert(math.abs(got(2L) - band(-96, 40, -95, 41)) / band(-96, 40, -95, 41) < 1e-12)
    // the mid-latitude band is visibly smaller than the equatorial one —
    // the cos(lat) effect planar shoelace misses entirely
    assert(got(2L) < got(1L) * 0.8)
    // hole subtracts: outer CCW quad minus an inner CW quad
    val holed = "POLYGON ((10.0 0.0, 11.0 0.0, 11.0 1.0, 10.0 1.0, 10.0 0.0), " +
      "(10.2 0.2, 10.2 0.8, 10.8 0.8, 10.8 0.2, 10.2 0.2))"
    val ha = df.sparkSession.range(1).select(
      SpatialOps.wktAreaGeodesic(lit(holed))).head().getDouble(0)
    val expect = band(10, 0, 11, 1) - band(10.2, 0.2, 10.8, 0.8)
    assert(math.abs(ha - expect) / expect < 1e-12)
  }

  test("geodesic perimeter: meridian and equator arcs are exact great-circle arcs") {
    import spark.implicits._
    val R = SpatialOps.Wgs84AuthalicRadius
    val d2r = math.Pi / 180.0
    // thin meridian-ish quad 2° tall at lon 5: the two meridian edges are
    // each exactly R·Δφ; parallel edges at φ=0 and 2 are R·Δλ·cosφ-ish
    // (haversine is exact for any great circle; parallels at φ≠0 are NOT
    // great circles, so measure a quad on the equator edge instead)
    val df = Seq((1L, "POLYGON ((5.0 0.0, 6.0 0.0, 6.0 2.0, 5.0 2.0, 5.0 0.0))"))
      .toDF("id", "geom")
    val p = df.select(SpatialOps.wktPerimeterGeodesic($"geom")).head().getDouble(0)
    // equator edge: R·1°; meridian edges: R·2° each; top edge at φ=2°:
    // haversine chord of the parallel — compute it directly
    val topH = {
      val phi = 2.0 * d2r
      2 * R * math.asin(math.sqrt(
        math.cos(phi) * math.cos(phi) * math.pow(math.sin(0.5 * d2r), 2)))
    }
    val expect = R * 1.0 * d2r + 2 * R * 2.0 * d2r + topH
    assert(math.abs(p - expect) / expect < 1e-12, s"got $p want $expect")
  }

  test("ellipsoidal measures: zone quad exact, visibly off-authalic, holes subtract (r13)") {
    import spark.implicits._
    val e2 = { val f = 1.0 / 298.257223563; f * (2 - f) }
    val e = math.sqrt(e2)
    val a = 6378137.0
    val b2 = a * a * (1 - e2)
    val k = math.Pi / 180.0
    def F(phi: Double) = {
      val s = math.sin(phi)
      s / (1 - e2 * s * s) + math.log((1 + e * s) / (1 - e * s)) / (2 * e)
    }
    def quad(l1: Double, p1: Double, l2: Double, p2: Double) =
      s"POLYGON (($l1 $p1, $l2 $p1, $l2 $p2, $l1 $p2, $l1 $p1))"
    val df = Seq((1L, quad(10.0, 40.0, 11.0, 41.0))).toDF("id", "geom")
    val got = df.select(
      SpatialOps.wktAreaEllipsoidal($"geom").as("ae"),
      SpatialOps.wktAreaGeodesic($"geom").as("as"),
      SpatialOps.wktPerimeterEllipsoidal($"geom").as("pe")).head()
    // the zone closed form is exact for parallel/meridian quads
    val zone = (11.0 - 10.0) * k * (b2 / 2) * (F(41 * k) - F(40 * k))
    assert(math.abs(got.getDouble(0) - zone) / zone < 1e-12,
      s"${got.getDouble(0)} vs $zone")
    // the authalic-sphere form differs by the documented ~0.1%-scale gap
    val rel = math.abs(got.getDouble(0) - got.getDouble(1)) / got.getDouble(0)
    assert(rel > 1e-5 && rel < 3e-3, s"authalic gap $rel")
    // perimeter: meridian edges are M(fm)*dphi, parallels N(f)*cos(f)*dlam
    def nrad(phi: Double) = a / math.sqrt(1 - e2 * math.pow(math.sin(phi), 2))
    def mrad(phi: Double) = {
      val w2 = 1 - e2 * math.pow(math.sin(phi), 2)
      a * (1 - e2) / (w2 * math.sqrt(w2))
    }
    val want = nrad(40 * k) * math.cos(40 * k) * k +
      nrad(41 * k) * math.cos(41 * k) * k + 2 * mrad(40.5 * k) * k
    assert(math.abs(got.getDouble(2) - want) / want < 1e-12,
      s"${got.getDouble(2)} vs $want")
    // holes subtract (signed per ring under the orientation convention)
    val holed = "POLYGON ((10.0 40.0, 11.0 40.0, 11.0 41.0, 10.0 41.0, 10.0 40.0), " +
      "(10.2 40.2, 10.2 40.8, 10.8 40.8, 10.8 40.2, 10.2 40.2))"
    val ha = spark.range(1).select(SpatialOps.wktAreaEllipsoidal(lit(holed))).head().getDouble(0)
    val expect = zone - 0.6 * k * (b2 / 2) * (F(40.8 * k) - F(40.2 * k))
    assert(math.abs(ha - expect) / expect < 1e-12)
  }

  test("reprojectWkt: geographic->UTM round trip is the identity to sub-mm") {
    import spark.implicits._
    import graft.operators.Regrid
    val df = Seq(
      (1L, "POINT (139.7 35.67)"),
      (2L, "LINESTRING (139.68 35.66, 139.71 35.69)"),
      (3L, "POLYGON ((139.68 35.66, 139.72 35.66, 139.72 35.7, 139.68 35.7, 139.68 35.66), " +
        "(139.69 35.67, 139.69 35.68, 139.7 35.68, 139.7 35.67, 139.69 35.67))")
    ).toDF("id", "geom")
    val fwd = Regrid.UtmFromGeographic(54)
    val there = df.withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd))
    // projected coordinates are UTM-plausible metres
    val pt = there.filter($"id" === 1).head().getString(1)
    val Array(e, n) = pt.stripPrefix("POINT (").stripSuffix(")").split(" ").map(_.toDouble)
    assert(e > 100000 && e < 900000 && n > 3900000 && n < 4000000, pt)
    val back = there.withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd.inverse))
      .orderBy("id").collect().map(_.getString(1))
    val orig = df.orderBy("id").collect().map(_.getString(1))
    val numRe = "-?\\d+(?:\\.\\d+)?(?:[Ee]-?\\d+)?"
    def coords(w: String): Seq[Double] =
      numRe.r.findAllIn(w).map(_.toDouble).toSeq
    back.zip(orig).foreach { case (b, o) =>
      // same structure
      assert(b.replaceAll(numRe, "#") == o.replaceAll(numRe, "#"))
      coords(b).zip(coords(o)).foreach { case (cb, co) =>
        assert(math.abs(cb - co) < 1e-8, s"$b vs $o") // ~1 mm in degrees
      }
    }
    // MULTI* round-trip preserves the grouping structure exactly
    val multis = Seq(
      (1L, "MULTIPOLYGON (((139.68 35.66, 139.72 35.66, 139.72 35.7, 139.68 35.66), " +
        "(139.69 35.67, 139.7 35.68, 139.69 35.68, 139.69 35.67)), " +
        "((139.73 35.71, 139.74 35.71, 139.74 35.72, 139.73 35.71)))"),
      (2L, "MULTILINESTRING ((139.68 35.66, 139.7 35.68), (139.71 35.69, 139.72 35.7))")
    ).toDF("id", "geom")
    val mBack = multis
      .withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd))
      .withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd.inverse))
      .orderBy("id").collect().map(_.getString(1))
    val mOrig = multis.orderBy("id").collect().map(_.getString(1))
    mBack.zip(mOrig).foreach { case (bk, o) =>
      assert(bk.replaceAll(numRe, "#") == o.replaceAll(numRe, "#"), s"structure: $bk vs $o")
      coords(bk).zip(coords(o)).foreach { case (cb, co) =>
        assert(math.abs(cb - co) < 1e-8, s"$bk vs $o")
      }
    }
    // unsupported type rejects loudly
    val err = intercept[Exception] {
      Seq((1L, "GEOMETRYCOLLECTION (POINT (0 0))")).toDF("id", "geom")
        .select(SpatialOps.reprojectWkt($"geom", fwd)).collect()
    }
    assert(err.getMessage.contains("unsupported WKT type"))
    // NULL propagates
    val n0 = Seq((1L, null: String)).toDF("id", "geom")
      .select(SpatialOps.reprojectWkt($"geom", fwd)).head()
    assert(n0.isNullAt(0))
  }

  test("reprojectWkt MULTIPOINT: both spellings parse, emit is canonical, measures degrade right") {
    import spark.implicits._
    import graft.operators.Regrid
    val fwd = Regrid.UtmFromGeographic(54)
    val df = Seq(
      (1L, "MULTIPOINT (139.68 35.66, 139.71 35.69)"),          // bare
      (2L, "MULTIPOINT ((139.68 35.66), (139.71 35.69))")       // parenthesized
    ).toDF("id", "geom")
    val proj = df.withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd))
      .orderBy("id").collect().map(_.getString(1))
    // the two spellings carry the same coordinates → identical emit
    assert(proj(0) == proj(1), s"${proj(0)} vs ${proj(1)}")
    assert(proj(0).startsWith("MULTIPOINT ((") && proj(0).contains("), ("))
    // each point projects exactly like a standalone POINT
    val singles = Seq((1L, "POINT (139.68 35.66)"), (2L, "POINT (139.71 35.69)"))
      .toDF("id", "geom")
      .withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd))
      .orderBy("id").collect().map(_.getString(1).stripPrefix("POINT (").stripSuffix(")"))
    assert(proj(0) == s"MULTIPOINT ((${singles(0)}), (${singles(1)}))")
    // round trip is the identity to ~1 mm
    val back = df.limit(1)
      .withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd))
      .withColumn("geom", SpatialOps.reprojectWkt($"geom", fwd.inverse))
      .head().getString(1)
    val numRe = "-?\\d+(?:\\.\\d+)?(?:[Ee]-?\\d+)?"
    numRe.r.findAllIn(back).map(_.toDouble).toSeq
      .zip(Seq(139.68, 35.66, 139.71, 35.69)).foreach { case (b, o) =>
        assert(math.abs(b - o) < 1e-8, back)
      }
    // measures on the canonical form: single-point groups → zero
    // area/perimeter, numPoints counts the points
    val m = Seq(("MULTIPOINT ((1.0 2.0), (3.0 4.0), (5.0 6.0))"))
      .toDF("geom")
      .select(SpatialOps.wktArea($"geom"), SpatialOps.wktPerimeter($"geom"),
        SpatialOps.wktNumPoints($"geom")).head()
    assert(m.getDouble(0) == 0.0 && m.getDouble(1) == 0.0 && m.getInt(2) == 3)
  }

  test("measures accept MULTIPOLYGON: flat ring extraction, holes subtract, grouping-free") {
    import spark.implicits._
    // two CCW squares (2x2 and 1x1) with a CW 1x1 hole in the first:
    // net planar area = 4 - 1 + 1 = 4; perimeter = 8 + 4 + 4 = 16
    val mp = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0), " +
      "(0.5 0.5, 0.5 1.5, 1.5 1.5, 1.5 0.5, 0.5 0.5)), " +
      "((5 5, 6 5, 6 6, 5 6, 5 5)))"
    val r = spark.range(1).select(
      SpatialOps.wktArea(lit(mp)).as("a"),
      SpatialOps.wktPerimeter(lit(mp)).as("p"),
      SpatialOps.wktNumPoints(lit(mp)).as("n")).head()
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 16.0)
    assert(r.getInt(2) == 15)
  }

  test("reprojectFeatures dispatches from WKT CRS strings (datum shift moves ~360 m)") {
    import spark.implicits._
    val wgs = "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]"
    val tokyo = "GEOGCS[\"GCS_Tokyo\",DATUM[\"D_Tokyo\",SPHEROID[\"Bessel_1841\"," +
      "6377397.155,299.1528128]],PRIMEM[\"Greenwich\",0.0],UNIT[\"Degree\",0.0174532925199433]]"
    val df = Seq((1L, "POINT (139.7 35.67)")).toDF("id", "geom")
    val shifted = SpatialOps.reprojectFeatures(df, "geom", wgs, tokyo).head().getString(1)
    val Array(lon, lat) = shifted.stripPrefix("POINT (").stripSuffix(")")
      .split(" ").map(_.toDouble)
    // the published Tokyo shift moves coordinates ~11.6 arcsec (≈360 m)
    assert(math.abs(lon - 139.7) * 3600 > 5 && math.abs(lon - 139.7) * 3600 < 20, s"$lon")
    assert(math.abs(lat - 35.67) * 3600 > 5 && math.abs(lat - 35.67) * 3600 < 20, s"$lat")
  }

  test("cosine_sim is callable from SQL via GraftExtensions") {
    val vecs = Seq((Array(1.0f, 0.0f), Array(0.6f, 0.8f))).toDF("a", "b")
    vecs.createOrReplaceTempView("v_ext")
    val r = spark.sql("SELECT cosine_sim(a, b) AS c FROM v_ext").as[Double].head()
    assert(math.abs(r - 0.6) < 1e-6)
  }

  test("graft_geo_area / graft_geo_perimeter are callable from SQL") {
    import spark.implicits._
    val R = SpatialOps.Wgs84AuthalicRadius
    val d2r = math.Pi / 180.0
    Seq(("POLYGON ((10.0 0.0, 11.0 0.0, 11.0 1.0, 10.0 1.0, 10.0 0.0))"))
      .toDF("geom").createOrReplaceTempView("v_geo")
    val row = spark.sql(
      "SELECT graft_geo_area(geom) AS a, graft_geo_perimeter(geom) AS p FROM v_geo").head()
    val band = R * R * 1.0 * d2r * (math.sin(1.0 * d2r) - 0.0)
    assert(math.abs(row.getDouble(0) - band) / band < 1e-12)
    assert(row.getDouble(1) > 0)
  }

  test("CosineSimExpr matches the HOF cosine bit-for-bit and handles zero norms") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (Array(1.5f, -2.5f, 0.5f), Array(-1.0f, 0.25f, 8.0f))
    ).toDF("a", "b")
    val out = vecs.select(
      CosineSimExpr.cosineSim($"a", $"b").as("fused"),
      VectorOps.cosine($"a", $"b").as("hof")).collect()
    out.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getDouble(0) == r.getDouble(1)) // exact: same fold order
    }
    assert(out(1).isNullAt(0)) // zero norm → NULL
  }

  test("reprojectWkt rejects EMPTY geometries with the descriptive error") {
    import spark.implicits._
    import graft.operators.Regrid
    val fwd = Regrid.UtmFromGeographic(54)
    for (w <- Seq("MULTIPOINT EMPTY", "POINT EMPTY", "polygon empty")) {
      val err = intercept[Exception] {
        Seq((1L, w)).toDF("id", "geom")
          .select(SpatialOps.reprojectWkt($"geom", fwd)).collect()
      }
      assert(err.getMessage.contains("EMPTY geometry"), s"$w: ${err.getMessage}")
    }
  }

  test("point-in-polygon: crossing parity, holes, on-edge closed, concave, MULTIPOLYGON") {
    import spark.implicits._
    // concave arrow (notch at top center) with a square hole at (0.5,0.5)
    val arrow = "POLYGON ((0 0, 4 0, 4 4, 2 2, 0 4, 0 0), " +
      "(0.5 0.5, 0.5 1.5, 1.5 1.5, 1.5 0.5, 0.5 0.5))"
    val cases = Seq(
      (3.0, 0.5, true, "plain interior"),
      (1.0, 1.0, false, "inside the hole"),
      (0.5, 1.0, true, "on the hole boundary (closed)"),
      (2.0, 3.0, false, "in the concave notch (bbox would say yes)"),
      (0.0, 0.0, true, "on a vertex"),
      (2.0, 2.0, true, "on the concave vertex"),
      (4.0, 2.0, true, "on the right edge"),
      (1.0, 0.0, true, "on the bottom edge"),
      (3.0, 3.0, true, "exactly on the notch diagonal"),
      (-1.0, 1.0, false, "outside left"),
      (5.0, 5.0, false, "outside entirely"))
    val df = cases.toDF("x", "y", "expect", "label")
      .withColumn("got", SpatialOps.wktContainsPoint(lit(arrow), $"x", $"y"))
    val bad = df.filter($"got" =!= $"expect").collect()
    assert(bad.isEmpty, bad.map(_.getString(3)).mkString(", "))
    // MULTIPOLYGON: in either disjoint part = contained; between parts = not
    val mp = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))"
    val mpCases = Seq(
      (1.0, 1.0, true), (6.0, 6.0, true), (3.5, 3.5, false), (2.0, 2.0, true))
      .toDF("x", "y", "expect")
      .withColumn("got", SpatialOps.wktContainsPoint(lit(mp), $"x", $"y"))
    assert(mpCases.filter($"got" =!= $"expect").count() == 0)
  }

  test("polygon overlap: cross, touch, containment, notch-disjoint, holes, MULTIPOLYGON") {
    import spark.implicits._
    val arrow = "POLYGON ((0 0, 4 0, 4 4, 2 2, 0 4, 0 0))"
    def diamond(cx: Double, cy: Double, r: Double) =
      s"POLYGON (($cx ${cy - r}, ${cx + r} $cy, $cx ${cy + r}, ${cx - r} $cy, $cx ${cy - r}))"
    val cases = Seq(
      (diamond(3, 1, 0.5), true, "diamond fully inside arrow wing"),
      (diamond(2, 0.5, 10), true, "arrow fully inside big diamond"),
      (diamond(4, 0, 1), true, "edges properly cross at the corner"),
      (diamond(5, 2, 1), true, "touch at single point (4,2) - closed"),
      // bboxes overlap (notch region) but true geometries are disjoint:
      // the refine case bbox-exact joins get wrong
      (diamond(2, 3.4, 0.4), false, "in the concave notch: bbox hits, geometry misses"),
      (diamond(10, 10, 1), false, "fully disjoint"))
    val got = cases.toDF("b", "expect", "label")
      .withColumn("got", SpatialOps.wktIntersects(lit(arrow), $"b"))
    val bad = got.filter($"got" =!= $"expect").collect()
    assert(bad.isEmpty, bad.map(_.getString(2)).mkString(", "))
    // holes: B entirely inside A's hole = disjoint; B straddling the hole
    // boundary = intersecting (edge test catches it)
    val holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))"
    val holeCases = Seq(
      ("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))", false, "inside the hole"),
      ("POLYGON ((2 2, 6 2, 6 4, 2 4, 2 2))", true, "straddles the hole boundary"),
      ("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", true, "in the solid annulus"))
      .toDF("b", "expect", "label")
      .withColumn("got", SpatialOps.wktIntersects(lit(holed), $"b"))
    val badH = holeCases.filter($"got" =!= $"expect").collect()
    assert(badH.isEmpty, badH.map(_.getString(2)).mkString(", "))
    // MULTIPOLYGON: candidate overlaps only the SECOND part; first-vertex
    // representative still correct because the edge test fires
    val mp = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 8 5, 8 8, 5 8, 5 5)))"
    val gotMp = spark.range(1).select(
      SpatialOps.wktIntersects(lit(mp), lit("POLYGON ((6 6, 7 6, 7 7, 6 7, 6 6))")).as("inside2nd"),
      SpatialOps.wktIntersects(lit(mp), lit("POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))")).as("between"))
      .head()
    assert(gotMp.getBoolean(0) && !gotMp.getBoolean(1))
  }

  test("ST_DWithin: region distance semantics incl. holes; codegen == HOF (r13)") {
    import spark.implicits._
    import graft.functions.GeomPredExprs
    val arrow = "POLYGON ((0 0, 4 0, 4 4, 2 2, 0 4, 0 0), " +
      "(0.5 0.5, 0.5 1.5, 1.5 1.5, 1.5 0.5, 0.5 0.5))"
    val cases = Seq(
      (3.0, 0.5, 0.5, true, "interior: distance 0 regardless of d"),
      (1.0, 0.0, 0.0, true, "on the boundary at d = 0 (closed)"),
      (-1.0, 1.0, 1.0, true, "outside, exactly at distance d (closed)"),
      (-1.0, 1.0, 0.5, false, "outside, beyond d"),
      (5.5, 2.0, 1.5, true, "off the right edge within 1.5"),
      (1.0, 1.0, 0.25, false, "inside the hole, 0.5 from its ring: beyond 0.25"),
      (1.0, 1.0, 0.5, true, "inside the hole, exactly 0.5 from its ring"),
      (2.0, 3.5, 0.5, false, "in the notch, > d above the diagonal"),
      (2.0, 2.5, 0.5, true, "in the notch, within d of the concave vertex region"))
    val df = cases.toDF("x", "y", "d", "expect", "label")
      .withColumn("r", SpatialOps.wktRings(lit(arrow)))
      .select($"label", $"expect",
        SpatialOps.ringsWithinDist($"r", $"x", $"y", $"d").as("hof"),
        GeomPredExprs.withinDistCol($"r", $"x", $"y", $"d").as("gen"))
    val bad = df.filter($"hof" =!= $"expect" || $"gen" =!= $"expect").collect()
    assert(bad.isEmpty, bad.map(_.getString(0)).mkString(", "))
    // randomized sweep: codegen distance decisions == HOF bit-for-bit
    val probes = (1 to 300).map { j =>
      val h = (j * 69069L + 11) & 0x7fffffffL
      ((h % 25).toDouble * 0.25 - 1.0, ((h / 25) % 25).toDouble * 0.25 - 1.0,
        0.25 + (h % 7).toDouble * 0.25)
    }
    val sweep = probes.toDF("x", "y", "d")
      .withColumn("r", SpatialOps.wktRings(lit(arrow)))
      .select(SpatialOps.ringsWithinDist($"r", $"x", $"y", $"d").as("hof"),
        GeomPredExprs.withinDistCol($"r", $"x", $"y", $"d").as("gen"),
        SpatialOps.ringsRegionDistSq($"r", $"x", $"y").as("dhof"),
        GeomPredExprs.regionDistSqCol($"r", $"x", $"y").as("dgen"))
    assert(sweep.filter($"hof" =!= $"gen").count() == 0)
    assert(sweep.filter($"gen").count() > 0 && sweep.filter(!$"gen").count() > 0)
    // the distance VALUE form agrees bit-for-bit too (0 inside the region)
    assert(sweep.filter($"dhof" =!= $"dgen").count() == 0)
    assert(sweep.filter($"dgen" === 0.0).count() > 0 &&
      sweep.filter($"dgen" > 0.0).count() > 0)
  }

  test("GeomPredExprs codegen == HOF algebra bit-for-bit; fail-closed nulls (r13)") {
    import spark.implicits._
    import graft.functions.GeomPredExprs
    // randomized arrows (concave + hole) x probe grid: the codegen kernel
    // must agree with the Column HOF on EVERY decision, boundary included
    val polys = (1 to 60).map { i =>
      val h = (i * 2654435761L + 17) & 0x7fffffffL
      val x0 = (h % 50).toDouble; val y0 = ((h / 50) % 40).toDouble
      val w = 4.0 + (h % 5); val ht = 4.0 + (h % 7)
      s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + ht}, " +
        s"${x0 + w / 2} ${y0 + ht / 2}, $x0 ${y0 + ht}, $x0 $y0), " +
        s"(${x0 + 0.5} ${y0 + 0.5}, ${x0 + 0.5} ${y0 + 1.5}, " +
        s"${x0 + 1.5} ${y0 + 1.5}, ${x0 + 1.5} ${y0 + 0.5}, ${x0 + 0.5} ${y0 + 0.5}))"
    }
    val probes = (1 to 40).map { j =>
      val h = (j * 69069L + 3) & 0x7fffffffL
      ((h % 110).toDouble * 0.5, ((h / 110) % 90).toDouble * 0.5)
    }
    val pip = polys.flatMap(p => probes.map { case (x, y) => (p, x, y) })
      .toDF("wkt", "x", "y")
      .withColumn("r", SpatialOps.wktRings($"wkt"))
      .select(
        GeomPredExprs.pointInRings($"r", $"x", $"y").as("gen"),
        SpatialOps.ringsContainPoint($"r", $"x", $"y").as("hof"))
    assert(pip.filter($"gen" =!= $"hof").count() == 0)
    assert(pip.filter($"gen").count() > 0 && pip.filter(!$"gen").count() > 0)
    // polygon-overlap: arrows x diamonds, same bit-for-bit contract
    val diamonds = (1 to 40).map { j =>
      val h = (j * 40503L + 7) & 0x7fffffffL
      val cx = (h % 52).toDouble + 2; val cy = ((h / 52) % 42).toDouble + 2
      val r = 1.0 + (h % 3) * 0.5
      s"POLYGON (($cx ${cy - r}, ${cx + r} $cy, $cx ${cy + r}, ${cx - r} $cy, $cx ${cy - r}))"
    }
    val ovl = polys.take(30).flatMap(a => diamonds.map(b => (a, b)))
      .toDF("wa", "wb")
      .select(SpatialOps.wktRings($"wa").as("ra"), SpatialOps.wktRings($"wb").as("rb"))
      .select(
        GeomPredExprs.ringsIntersect($"ra", $"rb").as("gen"),
        SpatialOps.ringsIntersectPolys($"ra", $"rb").as("hof"))
    assert(ovl.filter($"gen" =!= $"hof").count() == 0)
    assert(ovl.filter($"gen").count() > 0 && ovl.filter(!$"gen").count() > 0)
    // documented delta: empty rings are FALSE in the codegen form (the
    // HOF form null-poisons); NULL input still propagates
    val empty = spark.sql("SELECT CAST(array() AS array<array<struct<x double, y double>>>) AS r")
    val er = empty.select(GeomPredExprs.pointInRings($"r", lit(1.0), lit(1.0)),
      GeomPredExprs.ringsIntersect($"r", $"r")).head()
    assert(!er.getBoolean(0) && !er.getBoolean(1))
    val nr = spark.sql("SELECT CAST(NULL AS array<array<struct<x double, y double>>>) AS r")
      .select(GeomPredExprs.pointInRings($"r", lit(1.0), lit(1.0))).head()
    assert(nr.isNullAt(0))
    // fail closed on null coordinates (never a silent 0.0 read)
    val bad = spark.sql(
      "SELECT array(array(named_struct('x', CAST(NULL AS DOUBLE), 'y', 1.0d), " +
        "named_struct('x', 2.0d, 'y', 2.0d))) AS r")
    val e = intercept[Exception] {
      bad.select(GeomPredExprs.pointInRings($"r", lit(1.0), lit(1.0))).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("null coordinate") ||
      e.getCause != null && e.getCause.getMessage.contains("null coordinate"),
      String.valueOf(e.getMessage))
    // swapped field NAMES reject at analysis — eval reads positionally,
    // so accepting shape alone would silently transpose coordinates
    val swapped = spark.sql(
      "SELECT array(array(named_struct('y', 1.0d, 'x', 2.0d))) AS r")
    val eSwap = intercept[Exception] {
      swapped.select(GeomPredExprs.pointInRings($"r", lit(1.0), lit(1.0))).collect()
    }
    assert(String.valueOf(eSwap.getMessage).contains("point_in_rings") ||
      String.valueOf(eSwap.getMessage).contains("DATATYPE_MISMATCH"),
      String.valueOf(eSwap.getMessage))
  }

  test("collectionMembers: flat explode, one surface, EMPTY countable, nested rejects") {
    import spark.implicits._
    def members(w: String): Seq[String] =
      Seq(w).toDF("g").select(SpatialOps.collectionMembers(col("g")).as("m"))
        .collect()(0).getSeq[String](0)
    // heterogeneous collection splits on member keywords only
    assert(members("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (3 4, 5 6), " +
      "POLYGON ((0 0, 1 0, 1 1, 0 0)), MULTIPOINT ((7 8), (9 10)))") ==
      Seq("POINT (1 2)", "LINESTRING (3 4, 5 6)",
        "POLYGON ((0 0, 1 0, 1 1, 0 0))", "MULTIPOINT ((7 8), (9 10))"))
    // plain geometry = a one-member surface
    assert(members("POINT (3 4)") == Seq("POINT (3 4)"))
    // EMPTY collection = zero members (countable, never a throw)
    assert(members("GEOMETRYCOLLECTION EMPTY") == Seq())
    // nested collections reject descriptively
    val e = intercept[Exception] { members(
      "GEOMETRYCOLLECTION (POINT (1 2), GEOMETRYCOLLECTION (POINT (3 4)))") }
    assert(e.getMessage.contains("nested GEOMETRYCOLLECTION"), e.getMessage)
    // members feed the existing measures directly
    val n = Seq("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (3 4, 5 6, 7 8))")
      .toDF("g")
      .select(explode(SpatialOps.collectionMembers(col("g"))).as("m"))
      .select(SpatialOps.wktNumPoints(col("m")).cast("long").as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(n == Seq(1L, 3L))
  }

  test("collectionLeaves: nested flatten, leaf order, nested EMPTY, depth cap, fail-closed") {
    import spark.implicits._
    def leaves(w: String): Seq[String] =
      Seq(w).toDF("g").select(SpatialOps.collectionLeaves(col("g")).as("m"))
        .collect()(0).getSeq[String](0)
    // nested collections flatten depth-first in textual order
    assert(leaves("GEOMETRYCOLLECTION (POINT (1 2), GEOMETRYCOLLECTION (" +
      "LINESTRING (3 4, 5 6), POINT (7 8)), POLYGON ((0 0, 1 0, 1 1, 0 0)))") ==
      Seq("POINT (1 2)", "LINESTRING (3 4, 5 6)", "POINT (7 8)",
        "POLYGON ((0 0, 1 0, 1 1, 0 0))"))
    // depth-3 chain
    assert(leaves("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (" +
      "GEOMETRYCOLLECTION (POINT (1 2))))") == Seq("POINT (1 2)"))
    // flat inputs agree with collectionMembers: one surface, EMPTY countable
    assert(leaves("POINT (3 4)") == Seq("POINT (3 4)"))
    assert(leaves("GEOMETRYCOLLECTION EMPTY") == Seq())
    assert(leaves("GEOMETRYCOLLECTION ( )") == Seq())
    assert(leaves("geometrycollection (point (1 2))") == Seq("point (1 2)"))
    // nested EMPTY contributes zero leaves and shifts later siblings left
    assert(leaves("GEOMETRYCOLLECTION (POINT (1 2), GEOMETRYCOLLECTION EMPTY, " +
      "MULTIPOINT ((3 4), (5 6)))") ==
      Seq("POINT (1 2)", "MULTIPOINT ((3 4), (5 6))"))
    // depth cap rejects instead of overflowing the stack
    val deep = "GEOMETRYCOLLECTION (" * 40 + "POINT (1 2)" + ")" * 40
    val eDeep = intercept[Exception] { leaves(deep) }
    assert(eDeep.getMessage.contains("nesting exceeds depth"), eDeep.getMessage)
    // a legitimate depth well under the cap still parses
    val ok16 = "GEOMETRYCOLLECTION (" * 16 + "POINT (1 2)" + ")" * 16
    assert(leaves(ok16) == Seq("POINT (1 2)"))
    // fail-closed parse: unbalanced parens, trailing garbage, 3D, no body
    for ((bad, frag) <- Seq(
        ("GEOMETRYCOLLECTION (POINT (1 2)", "unbalanced"),
        ("GEOMETRYCOLLECTION (POINT (1 2))) ", "content after close"),
        ("GEOMETRYCOLLECTION (POINT (1 2)) junk", "content after close"),
        ("GEOMETRYCOLLECTION Z (POINT Z (1 2 3))", "2D only"),
        ("GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4))", "2D only"),
        ("GEOMETRYCOLLECTION", "no body"),
        // stray/double commas silently shifting leaf indices would
        // re-key downstream joins — reject (r12 self-review)
        ("GEOMETRYCOLLECTION (POINT (1 2),)", "empty member"),
        ("GEOMETRYCOLLECTION (POINT (1 2),, MULTIPOINT ((3 4), (5 6)))", "empty member"),
        ("", "empty WKT"),
        ("   ", "empty WKT"))) {
      val e = intercept[Exception] { leaves(bad) }
      assert(e.getMessage.contains(frag), s"$bad: ${e.getMessage}")
    }
    // NULL propagates
    val r = Seq[(Long, String)]((1L, null)).toDF("id", "g")
      .select(SpatialOps.collectionLeaves(col("g"))).collect()(0)
    assert(r.isNullAt(0))
    // leaves feed the measures (depth-2 member measured like a flat one)
    val n = Seq("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (LINESTRING (3 4, 5 6, 7 8)))")
      .toDF("g")
      .select(explode(SpatialOps.collectionLeaves(col("g"))).as("m"))
      .select(SpatialOps.wktNumPoints(col("m")).cast("long").as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(n == Seq(3L))
  }

  test("pointDistGeodesic: closed-form anchors and perimeter consistency") {
    val r = SpatialOps.Wgs84AuthalicRadius
    def dist(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
      Seq((lon1, lat1, lon2, lat2)).toDF("a", "b", "c", "d")
        .select(SpatialOps.pointDistGeodesic($"a", $"b", $"c", $"d")).head.getDouble(0)
    // 1° of longitude along the equator = 2πR/360 exactly
    assert(math.abs(dist(0, 0, 1, 0) - 2 * math.Pi * r / 360) < 1e-6)
    // 1° of latitude along any meridian = the same arc on a sphere
    assert(math.abs(dist(20, 10, 20, 11) - 2 * math.Pi * r / 360) < 1e-6)
    // pole-to-pole = half circumference; zero distance; symmetry
    assert(math.abs(dist(0, -90, 0, 90) - math.Pi * r) < 1e-6)
    assert(dist(5, 5, 5, 5) == 0.0)
    assert(dist(3, 4, 7, 9) == dist(7, 9, 3, 4))
    // consistency: a 2-point "ring" walked out and back equals 2× the
    // point distance through the ringsPerimeterGeodesic fold
    val viaRings = Seq("LINESTRING (3 4, 7 9, 3 4)").toDF("g")
      .select(SpatialOps.wktPerimeterGeodesic($"g")).head.getDouble(0)
    assert(math.abs(viaRings - 2 * dist(3, 4, 7, 9)) < 1e-9)
  }

  test("centroid kernel: closed forms, hole shift, orientation invariance, degenerate reject") {
    import graft.functions.CentroidExprs
    def cOf(wkt: String): (Double, Double) = {
      val r = Seq(wkt).toDF("g")
        .select(CentroidExprs.centroidCol(SpatialOps.wktRings($"g"))).head.getStruct(0)
      (r.getDouble(0), r.getDouble(1))
    }
    // rectangle: exact center
    assert(cOf("POLYGON ((2 3, 6 3, 6 5, 2 5, 2 3))") == ((4.0, 4.0)))
    // right triangle (0,0)-(3,0)-(0,3): centroid (1,1) exactly
    assert(cOf("POLYGON ((0 0, 3 0, 0 3, 0 0))") == ((1.0, 1.0)))
    // square with an off-center hole: centroid = (A1·c1 − A2·c2)/(A1−A2)
    // square [0,4]^2 (A 16, c (2,2)); hole [2.5,3.5]^2 (A 1, c (3,3))
    // → ((16·2 − 1·3)/15, same y) = (29/15, 29/15)
    val (hx, hy) = cOf(
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (2.5 2.5, 2.5 3.5, 3.5 3.5, 3.5 2.5, 2.5 2.5))")
    assert(math.abs(hx - 29.0 / 15.0) < 1e-12 && math.abs(hy - 29.0 / 15.0) < 1e-12)
    // globally reversed polygon: numerator and denominator both negate →
    // BITWISE the same quotient
    val fwd = cOf("POLYGON ((1 1, 5 2, 4 6, 0 5, 1 1))")
    val rev = cOf("POLYGON ((1 1, 0 5, 4 6, 5 2, 1 1))")
    assert(fwd == rev)
    // the Column ringsCentroid (different fold grouping) is ulp-close
    val both = Seq("POLYGON ((1 1, 5 2, 4 6, 0 5, 1 1))").toDF("g")
      .select(CentroidExprs.centroidCol(SpatialOps.wktRings($"g")).as("k"),
        SpatialOps.ringsCentroid(SpatialOps.wktRings($"g")).as("c")).head
    val (kx, cx2) = (both.getStruct(0).getDouble(0), both.getStruct(1).getDouble(0))
    assert(math.abs(kx - cx2) <= 2 * math.ulp(math.max(1.0, math.abs(kx))))
    // zero-signed-area → loud reject
    val e = intercept[Exception](cOf("POLYGON ((0 0, 2 0, 4 0, 0 0))"))
    assert(e.getMessage.contains("no centroid"), e.getMessage)
    // SQL surface
    Seq("POLYGON ((2 3, 6 3, 6 5, 2 5, 2 3))").toDF("g").createOrReplaceTempView("censpec")
    val viaSql = spark.sql(
      "SELECT st_centroid(st_rings(g)) AS c FROM censpec").head.getStruct(0)
    assert((viaSql.getDouble(0), viaSql.getDouble(1)) == ((4.0, 4.0)))
  }

  test("clipSegmentsBox: branch coverage + independent membership-sampling check") {
    def clipOf(path: Seq[(Double, Double)], box: (Double, Double, Double, Double))
        : Seq[(Int, Double, Double, Double, Double)] = {
      val pts = array(path.map { case (x, y) =>
        struct(lit(x).as("x"), lit(y).as("y")) }: _*)
      Seq(1).toDF("one")
        .select(SpatialOps.clipSegmentsBox(pts,
          SpatialOps.bbox(lit(box._1), lit(box._2), lit(box._3), lit(box._4))).as("s"))
        .head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    }
    val box = (2.0, 1.0, 7.0, 5.0)
    // fully inside: kept verbatim (bitwise endpoints)
    assert(clipOf(Seq((3, 2), (6, 4)), box) == Seq((0, 3.0, 2.0, 6.0, 4.0)))
    // fully outside beyond a slab: dropped
    assert(clipOf(Seq((0, 6), (1, 8)), box).isEmpty)
    // crossing: exits on walls
    assert(clipOf(Seq((0, 3), (9, 3)), box) == Seq((0, 2.0, 3.0, 7.0, 3.0)))
    // vertical inside the x-slab: clipped by y only (d=0 inside branch)
    assert(clipOf(Seq((4, -2), (4, 9)), box) == Seq((0, 4.0, 1.0, 4.0, 5.0)))
    // vertical outside the x-slab: dropped (d=0 reject branch)
    assert(clipOf(Seq((8, 0), (8, 9)), box).isEmpty)
    // corner touch: zero-length kept (it is geometry)
    val touch = clipOf(Seq((1, 0), (3, 2)), (3.0, 2.0, 7.0, 5.0))
    assert(touch == Seq((0, 3.0, 2.0, 3.0, 2.0)))
    // a segmentless path (one point) is empty, not an error (the
    // sequence(1,0) descending trap — r16b review)
    assert(clipOf(Seq((3, 2)), box).isEmpty)
    // multi-segment: seg_i preserves input positions, dropped segments gap
    val multi = clipOf(Seq((0, 3), (9, 3), (9, 9), (4, 3)), box)
    assert(multi.map(_._1) == Seq(0, 2))
    // independent check: membership sampling — a dense t-grid's in-box
    // samples must all land inside [t0,t1] of the kept sub-segment (or
    // none kept), and vice versa up to grid resolution
    val rnd = new scala.util.Random(20260816)
    for (_ <- 1 to 60) {
      val p = (rnd.nextDouble() * 10 - 1, rnd.nextDouble() * 8 - 1)
      val q = (rnd.nextDouble() * 10 - 1, rnd.nextDouble() * 8 - 1)
      val kept = clipOf(Seq(p, q), box)
      val samples = (0 to 200).map(_ / 200.0).filter { t =>
        val x = p._1 + t * (q._1 - p._1)
        val y = p._2 + t * (q._2 - p._2)
        x >= box._1 && x <= box._3 && y >= box._2 && y <= box._4
      }
      if (kept.isEmpty) {
        // no sub-segment: at most a grazing sample band narrower than the grid
        assert(samples.size <= 1, s"$p -> $q: dropped but ${samples.size} in-box samples")
      } else {
        val (_, ax, ay, bx, by) = kept.head
        // every in-box sample lies within the kept sub-segment's span
        val (lx, hx) = (math.min(ax, bx) - 1e-9, math.max(ax, bx) + 1e-9)
        val (ly, hy) = (math.min(ay, by) - 1e-9, math.max(ay, by) + 1e-9)
        samples.foreach { t =>
          val x = p._1 + t * (q._1 - p._1)
          val y = p._2 + t * (q._2 - p._2)
          assert(x >= lx && x <= hx && y >= ly && y <= hy,
            s"$p -> $q: sample t=$t ($x,$y) outside kept [$ax,$ay]..[$bx,$by]")
        }
        // kept endpoints are themselves in the box (within ulps)
        assert(ax >= box._1 - 1e-12 && ax <= box._3 + 1e-12 &&
          ay >= box._2 - 1e-12 && ay <= box._4 + 1e-12)
        assert(bx >= box._1 - 1e-12 && bx <= box._3 + 1e-12 &&
          by >= box._2 - 1e-12 && by <= box._4 + 1e-12)
      }
    }
    // SQL surface
    val viaSqlPath = spark.sql(
      """SELECT st_clip_path_box(
        |  array(named_struct('x', CAST(0 AS DOUBLE), 'y', CAST(3 AS DOUBLE)),
        |        named_struct('x', CAST(9 AS DOUBLE), 'y', CAST(3 AS DOUBLE))),
        |  named_struct('xmin', CAST(2 AS DOUBLE), 'ymin', CAST(1 AS DOUBLE),
        |               'xmax', CAST(7 AS DOUBLE), 'ymax', CAST(5 AS DOUBLE))) AS s""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(viaSqlPath.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(3))) == Seq((0, 2.0, 7.0)))
  }

  test("convexHull: closed forms, strictness, order contract, randomized membership reference") {
    import graft.functions.ConvexHullExprs
    def hullOf(pts: Seq[(Double, Double)]): Seq[(Double, Double)] = {
      val arr = array(pts.map { case (x, y) =>
        struct(lit(x).as("x"), lit(y).as("y")) }: _*)
      Seq(1).toDF("one").select(ConvexHullExprs.convexHullCol(arr)).head
        .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getDouble(0), r.getDouble(1)))
    }
    // square + interior + duplicate: the four corners, CCW from lex-min,
    // closed
    assert(hullOf(Seq((0, 0), (4, 0), (4, 4), (0, 4), (2, 2), (4, 0))) ==
      Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)))
    // STRICT: a collinear boundary midpoint is dropped
    assert(hullOf(Seq((0, 0), (2, 0), (4, 0), (4, 4), (0, 4))) ==
      Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)))
    // input order irrelevant (the collect_list contract)
    assert(hullOf(Seq((4, 4), (2, 2), (0, 4), (4, 0), (0, 0))) ==
      hullOf(Seq((0, 0), (4, 0), (4, 4), (0, 4), (2, 2))))
    // all collinear → loud reject
    val e = intercept[Exception](hullOf(Seq((0, 0), (1, 1), (2, 2), (3, 3))))
    assert(e.getMessage.contains("collinear"), e.getMessage)
    val e2 = intercept[Exception](hullOf(Seq((1, 1), (1, 1), (2, 2))))
    assert(e2.getMessage.contains(">= 3 distinct"), e2.getMessage)
    // randomized integer clouds vs an independent membership reference:
    // v is a hull vertex iff v is NOT inside-or-on the hull of the others
    // (checked against every triangle and every collinear-between segment)
    val rnd = new scala.util.Random(20260817)
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    for (trial <- 1 to 40) {
      val pts = Seq.fill(6 + rnd.nextInt(12))(
        (rnd.nextInt(12).toDouble, rnd.nextInt(10).toDouble)).distinct
      val spread = pts.map(_._1).distinct.size > 1 && pts.map(_._2).distinct.size > 1 &&
        pts.combinations(3).exists(t => cross(t(0), t(1), t(2)) != 0.0)
      if (pts.size >= 3 && spread) {
        val ring = hullOf(pts)
        assert(ring.head == ring.last, s"trial $trial: ring not closed")
        val verts = ring.dropRight(1)
        // CCW strict corners: every consecutive triple turns strictly left
        val n = verts.length
        for (i <- 0 until n) {
          val t = cross(verts(i), verts((i + 1) % n), verts((i + 2) % n))
          assert(t > 0, s"trial $trial: non-left turn $t at $i in $ring")
        }
        // starts at the lexicographic minimum
        assert(verts.head == verts.min, s"trial $trial: start not lex-min")
        // membership reference
        def insideOrOn(p: (Double, Double), others: Seq[(Double, Double)]): Boolean = {
          val tri = others.combinations(3).exists { t =>
            val s1 = cross(t(0), t(1), p); val s2 = cross(t(1), t(2), p)
            val s3 = cross(t(2), t(0), p)
            val w = cross(t(0), t(1), t(2))
            w != 0.0 && (if (w > 0) s1 >= 0 && s2 >= 0 && s3 >= 0
                         else s1 <= 0 && s2 <= 0 && s3 <= 0)
          }
          val seg = others.combinations(2).exists { s =>
            cross(s(0), s(1), p) == 0.0 &&
              p._1 >= math.min(s(0)._1, s(1)._1) && p._1 <= math.max(s(0)._1, s(1)._1) &&
              p._2 >= math.min(s(0)._2, s(1)._2) && p._2 <= math.max(s(0)._2, s(1)._2)
          }
          tri || seg
        }
        pts.foreach { p =>
          val expectVertex = !insideOrOn(p, pts.filterNot(_ == p))
          assert(verts.contains(p) == expectVertex,
            s"trial $trial: $p vertex=${verts.contains(p)} expected=$expectVertex in $pts")
        }
      }
    }
    // SQL surface
    val viaSql = spark.sql(
      """SELECT st_convex_hull(array(
        |  named_struct('x', CAST(0 AS DOUBLE), 'y', CAST(0 AS DOUBLE)),
        |  named_struct('x', CAST(4 AS DOUBLE), 'y', CAST(0 AS DOUBLE)),
        |  named_struct('x', CAST(4 AS DOUBLE), 'y', CAST(4 AS DOUBLE)),
        |  named_struct('x', CAST(1 AS DOUBLE), 'y', CAST(2 AS DOUBLE)))) AS h""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    // (1,2) is left of the (0,0)->(4,4) diagonal, so it IS a hull corner
    assert(viaSql.map(r => (r.getDouble(0), r.getDouble(1))) ==
      Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (1.0, 2.0), (0.0, 0.0)))
  }

  test("hull metrics composition: constructed ring feeds the measure kernels exactly") {
    import graft.functions.{CentroidExprs, ConvexHullExprs}
    // square cloud with interior noise: hull = the 4x4 square
    val pts = Seq((0, 0), (4, 0), (4, 4), (0, 4), (1, 1), (2, 3), (3, 2))
    val arr = array(pts.map { case (x, y) =>
      struct(lit(x.toDouble).as("x"), lit(y.toDouble).as("y")) }: _*)
    val row = Seq(1).toDF("one")
      .withColumn("ring", ConvexHullExprs.convexHullCol(arr))
      .select(
        SpatialOps.ringsArea(array(col("ring"))).as("a"),
        CentroidExprs.centroidCol(array(col("ring"))).as("c"),
        aggregate(sequence(lit(1), size(col("ring")) - 1), lit(0.0), (acc, i) =>
          acc + sqrt(
            (element_at(col("ring"), i + 1).getField("x") - element_at(col("ring"), i).getField("x")) *
              (element_at(col("ring"), i + 1).getField("x") - element_at(col("ring"), i).getField("x")) +
              (element_at(col("ring"), i + 1).getField("y") - element_at(col("ring"), i).getField("y")) *
                (element_at(col("ring"), i + 1).getField("y") - element_at(col("ring"), i).getField("y")))).as("p"))
      .head()
    assert(row.getDouble(0) == 16.0)
    assert((row.getStruct(1).getDouble(0), row.getStruct(1).getDouble(1)) == ((2.0, 2.0)))
    assert(row.getDouble(2) == 16.0)
  }

  test("mbrArea: rotated square halves its bbox; axis-aligned equals it; fail-closed") {
    import graft.functions.ConvexHullExprs
    def ringOf(pts: Seq[(Double, Double)]) = array((pts :+ pts.head).map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y")) }: _*)
    def mbrOf(pts: Seq[(Double, Double)]): Double =
      Seq(1).toDF("one").select(ConvexHullExprs.mbrAreaCol(ringOf(pts))).head.getDouble(0)
    // 45-degree square: bbox 16, mbr flush with an edge = 8
    assert(mbrOf(Seq((0, 2), (2, 0), (4, 2), (2, 4))) == 8.0)
    // axis-aligned rectangle: mbr == bbox == 8
    assert(mbrOf(Seq((0, 0), (4, 0), (4, 2), (0, 2))) == 8.0)
    // triangle (0,0)(4,0)(0,3): min rect is edge-flush; candidates are
    // 12 (both legs) and (Δdot·Δcross)/25 = (25·12)/25 = 12 on the
    // hypotenuse — all 12
    assert(mbrOf(Seq((0, 0), (4, 0), (0, 3))) == 12.0)
    // open ring rejects
    val e = intercept[Exception] {
      Seq(1).toDF("one").select(ConvexHullExprs.mbrAreaCol(array(
        struct(lit(0.0).as("x"), lit(0.0).as("y")),
        struct(lit(4.0).as("x"), lit(0.0).as("y")),
        struct(lit(4.0).as("x"), lit(2.0).as("y")),
        struct(lit(0.0).as("x"), lit(2.0).as("y"))))).collect()
    }
    assert(e.getMessage.contains("closed"), e.getMessage)
    // SQL surface + hull composition
    val viaSql = spark.sql(
      """SELECT st_min_bbox_area(st_convex_hull(array(
        |  named_struct('x', CAST(0 AS DOUBLE), 'y', CAST(2 AS DOUBLE)),
        |  named_struct('x', CAST(2 AS DOUBLE), 'y', CAST(0 AS DOUBLE)),
        |  named_struct('x', CAST(4 AS DOUBLE), 'y', CAST(2 AS DOUBLE)),
        |  named_struct('x', CAST(2 AS DOUBLE), 'y', CAST(4 AS DOUBLE)),
        |  named_struct('x', CAST(2 AS DOUBLE), 'y', CAST(2 AS DOUBLE))))) AS a""".stripMargin)
      .head.getDouble(0)
    assert(viaSql == 8.0)
  }
}
