package graft

import graft.functions.{RingsWkt, SpatialOps}
import graft.operators.CoverageArea
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WktEmitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ringsOf(polys: Seq[(Double, Double, Double, Double)]) = {
    val rows = polys.zipWithIndex.map { case ((x0, y0, x1, y1), i) => (i, x0, y0, x1, y1) }
    rows.toDF("i", "x0", "y0", "x1", "y1")
      .withColumn("rings", array(array(
        struct(col("x0").as("x"), col("y0").as("y")),
        struct(col("x1").as("x"), col("y0").as("y")),
        struct(col("x1").as("x"), col("y1").as("y")),
        struct(col("x0").as("x"), col("y1").as("y")),
        struct(col("x0").as("x"), col("y0").as("y")))))
      .withColumn("g", lit(1L)).select("g", "rings")
  }

  test("auto emitter: disconnected dissolve -> MULTIPOLYGON, frame -> POLYGON with hole") {
    val two = CoverageArea.unionGeometry(
      ringsOf(Seq((0, 0, 2, 2), (5, 5, 7, 7))), "rings", Seq("g"))
    val wkt2 = two.select(RingsWkt.ringsToWktAuto(col("rings"))).head().getString(0)
    assert(wkt2.startsWith("MULTIPOLYGON ("), wkt2)
    // re-parsed area survives (wktRings flattens the member grouping,
    // exactly right for measures)
    val back = two.select(SpatialOps.ringsArea(SpatialOps.wktRings(
      RingsWkt.ringsToWktAuto(col("rings")))).as("a"), col("union_area")).head()
    assert(back.getDouble(0) == back.getDouble(1))
    val frame = CoverageArea.unionGeometry(
      ringsOf(Seq((0, 0, 6, 1), (0, 5, 6, 6), (0, 0, 1, 6), (5, 0, 6, 6))), "rings", Seq("g"))
    val wktF = frame.select(RingsWkt.ringsToWktAuto(col("rings"))).head().getString(0)
    assert(wktF.startsWith("POLYGON (("), wktF)
    assert(wktF.count(_ == '(') == 3, s"one outer + one hole expected: $wktF")
    val backF = frame.select(SpatialOps.ringsArea(SpatialOps.wktRings(
      RingsWkt.ringsToWktAuto(col("rings")))).as("a"), col("union_area")).head()
    assert(backF.getDouble(0) == backF.getDouble(1))
  }

  test("auto emitter: hole nesting picks the containing outer; orphan hole fails loudly") {
    // two separate outers, one hole inside the SECOND: the hole must
    // nest under its container in the MULTIPOLYGON spelling
    def pt(x: Double, y: Double) = struct(lit(x).as("x"), lit(y).as("y"))
    def ringCcw(x0: Double, y0: Double, x1: Double, y1: Double) =
      array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1), pt(x0, y0))
    def ringCw(x0: Double, y0: Double, x1: Double, y1: Double) =
      array(pt(x0, y0), pt(x0, y1), pt(x1, y1), pt(x1, y0), pt(x0, y0))
    val wkt = Seq(1).toDF("i").select(RingsWkt.ringsToWktAuto(array(
      ringCcw(0, 0, 2, 2), ringCcw(10, 10, 20, 20), ringCw(12, 12, 14, 14))))
      .head().getString(0)
    assert(wkt == "MULTIPOLYGON (((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0)), " +
      "((10.0 10.0, 20.0 10.0, 20.0 20.0, 10.0 20.0, 10.0 10.0), " +
      "(12.0 12.0, 12.0 14.0, 14.0 14.0, 14.0 12.0, 12.0 12.0)))", wkt)
    // orphan hole (inside no outer) must fail, not silently re-parent
    val e = intercept[Exception](Seq(1).toDF("i").select(RingsWkt.ringsToWktAuto(array(
      ringCcw(0, 0, 2, 2), ringCw(5, 5, 6, 6)))).collect())
    assert(e.getMessage.contains("no outer ring") || e.getMessage.contains("malformed"))
    // all-empty -> POLYGON EMPTY
    val empty = Seq(1).toDF("i").select(RingsWkt.ringsToWktAuto(
      filter(array(ringCcw(0, 0, 1, 1)), _ => lit(false)))).head().getString(0)
    assert(empty == "POLYGON EMPTY")
  }

  test("auto emitter: island-in-a-lake nests the pond under the ISLAND; slivers drop") {
    def pt(x: Double, y: Double) = struct(lit(x).as("x"), lit(y).as("y"))
    def ringCcw(x0: Double, y0: Double, x1: Double, y1: Double) =
      array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1), pt(x0, y0))
    def ringCw(x0: Double, y0: Double, x1: Double, y1: Double) =
      array(pt(x0, y0), pt(x0, y1), pt(x1, y1), pt(x1, y0), pt(x0, y0))
    // landmass [0,20]² with lake hole [2,18]², island [5,15]² with pond
    // hole [8,12]² — the pond's smallest container is the ISLAND, but
    // the landmass contains it too (single-ring even-odd): first-match
    // assignment parented it wrong (r16 review finding)
    val wkt = Seq(1).toDF("i").select(RingsWkt.ringsToWktAuto(array(
      ringCcw(0, 0, 20, 20), ringCw(2, 2, 18, 18),
      ringCcw(5, 5, 15, 15), ringCw(8, 8, 12, 12)))).head().getString(0)
    assert(wkt == "MULTIPOLYGON (((0.0 0.0, 20.0 0.0, 20.0 20.0, 0.0 20.0, 0.0 0.0), " +
      "(2.0 2.0, 2.0 18.0, 18.0 18.0, 18.0 2.0, 2.0 2.0)), " +
      "((5.0 5.0, 15.0 5.0, 15.0 15.0, 5.0 15.0, 5.0 5.0), " +
      "(8.0 8.0, 8.0 12.0, 12.0 12.0, 12.0 8.0, 8.0 8.0)))", wkt)
    // re-parsed area: 400 - 256 + 100 - 16
    val a = Seq(wkt).toDF("g").select(SpatialOps.wktArea(col("g"))).head().getDouble(0)
    assert(a == 400.0 - 256.0 + 100.0 - 16.0)
    // a zero-signed-area sliver (the S-H degenerate-bridge class) is
    // dropped, never emitted as a spurious member
    val sliver = array(pt(30.0, 0.0), pt(34.0, 0.0), pt(30.0, 0.0))
    val w2 = Seq(1).toDF("i").select(RingsWkt.ringsToWktAuto(array(
      ringCcw(0, 0, 2, 2), sliver))).head().getString(0)
    assert(w2 == "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))", w2)
    val w3 = Seq(1).toDF("i").select(RingsWkt.ringsToWktAuto(array(sliver)))
      .head().getString(0)
    assert(w3 == "POLYGON EMPTY")
  }

  test("buffer front door rejects multi-ring WKT loudly; tiled dissolve keeps degenerate groups") {
    val e = intercept[Exception](Seq(
      "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))").toDF("g")
      .select(SpatialOps.wktBufferConvex(col("g"), lit(1.0))).collect())
    assert(e.getMessage.contains("single-ring"), e.getMessage)
    // a group whose rows all carry empty ring lists survives the tiled
    // path as one null-cell row at area 0 (matching unionAreaByCell)
    val deg = Seq((7L, 0)).toDF("g", "m")
      .withColumn("rings",
        filter(array(array(struct(lit(0.0).as("x"), lit(0.0).as("y")))), _ => lit(false)))
      .select("g", "rings")
    val rows = CoverageArea.unionGeometryByCell(deg, "rings", Seq("g"), cellSize = 8.0).collect()
    assert(rows.length == 1 && rows(0).isNullAt(1) && rows(0).getDouble(4) == 0.0)
  }

  test("WKT front doors: clip/simplify/buffer round-trip as WKT; SQL surface") {
    val arrow = "POLYGON ((0 0, 6 0, 6 8, 3 4, 0 8, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))"
    val r = Seq(arrow).toDF("g").select(
      SpatialOps.wktArea(SpatialOps.wktClipToBox(col("g"),
        SpatialOps.bbox(lit(0.5), lit(0.5), lit(5.0), lit(5.0)))).as("clip_a"),
      graft.functions.ClipExprs.clipArea(SpatialOps.wktRings(col("g")),
        SpatialOps.bbox(lit(0.5), lit(0.5), lit(5.0), lit(5.0))).as("want_a"),
      SpatialOps.wktSimplify(lit("POLYGON ((0 0, 4 0.25, 8 0, 8 8, 0 8, 0 0))"),
        lit(1.0)).as("simp"),
      SpatialOps.wktBufferConvex(lit("POLYGON ((2 3, 6 3, 6 7, 2 7, 2 3))"),
        lit(1.5)).as("buf")).head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 2 * math.ulp(r.getDouble(1)))
    assert(r.getString(2) == "POLYGON ((0.0 0.0, 8.0 0.0, 8.0 8.0, 0.0 8.0, 0.0 0.0))")
    assert(r.getString(3) == "POLYGON ((0.5 1.5, 7.5 1.5, 7.5 8.5, 0.5 8.5, 0.5 1.5))")
    val viaSql = spark.sql(
      """SELECT st_simplify_wkt('POLYGON ((0 0, 4 0.25, 8 0, 8 8, 0 8, 0 0))', CAST(1.0 AS DOUBLE)),
        |  st_buffer_convex_wkt('POLYGON ((2 3, 6 3, 6 7, 2 7, 2 3))', CAST(1.5 AS DOUBLE)),
        |  st_rings_wkt_auto(st_rings('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))""".stripMargin)
      .head()
    assert(viaSql.getString(0) == r.getString(2))
    assert(viaSql.getString(1) == r.getString(3))
    assert(viaSql.getString(2).startsWith("POLYGON (("))
  }

  // ---- r17 single-pass emit kernels ≡ the pre-r17 Column chains ----
  // (guide §4: the chains ran `transform` HOF lambdas interpreted per
  // vertex; the kernels must reproduce every BYTE, including the
  // null-skipping of concat_ws/array_join and the "()" null-ring render)

  /** A gnarly emit domain: parsed g13-style quads with long-mantissa
    * doubles, plus a null ring, an empty ring, a null-x point, a null
    * point element, and negative/exponent-notation coordinates.
    */
  private def emitDomain = {
    val quads = spark.range(500).toDF("pk").select(col("pk"),
      (lit(-96.0) + (col("pk") % 50).cast("double") * lit(0.01)).as("x0"),
      (lit(30.0) + (col("pk") % 40).cast("double") * lit(0.01)).as("y0"))
      .withColumn("x1", col("x0") + lit(0.013))
      .withColumn("y1", col("y0") + lit(1.0e-7))
    def p(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.as("x"), y.as("y"))
    val ring = array(p(col("x0"), col("y0")), p(col("x1"), col("y0")),
      p(col("x1"), col("y1")), p(col("x0"), col("y1")), p(col("x0"), col("y0")))
    val nullRing = lit(null).cast("array<struct<x:double,y:double>>")
    val emptyRing = filter(ring, _ => lit(false))
    val nullX = array(p(lit(null).cast("double"), col("y0")), p(col("x1"), col("y1")))
    val nullPt = transform(ring, pt =>
      when(pt.getField("x") > lit(-90.0), pt)) // some elements -> null
    quads.withColumn("rings", array(ring, nullRing, emptyRing, nullX, nullPt,
      array(p(-col("x0") * lit(1.0e9), col("y0") / lit(3.0)))))
  }

  test("r17 emit kernels reproduce the Column chains byte-for-byte") {
    val df = emitDomain.select(
      SpatialOps.ringsToWkt(col("rings")).as("poly_k"),
      WktChains.ringsToWktChain(col("rings")).as("poly_c"),
      graft.functions.WktEmit.body(col("rings")).as("body_k"),
      WktChains.ringsToWktBodyChain(col("rings")).as("body_c"),
      // getItem, not element_at: ElementAt-over-CreateArray trips a stock
      // Spark codegen fallback (undeclared isNull var) that would bury the
      // kernel's own codegen in noise — unrelated to what's gated here
      graft.functions.WktEmit.mpoints(col("rings").getItem(0)).as("mp_k"),
      concat_ws(", ", transform(col("rings").getItem(0), pt => concat(lit("("),
        pt.getField("x").cast("string"), lit(" "),
        pt.getField("y").cast("string"), lit(")")))).as("mp_c"))
    assert(df.filter(not(col("poly_k") <=> col("poly_c"))).count() == 0)
    assert(df.filter(not(col("body_k") <=> col("body_c"))).count() == 0)
    assert(df.filter(not(col("mp_k") <=> col("mp_c"))).count() == 0)
    // the null-ring/empty-ring "()" render and null-point skip really hit
    val one = df.head()
    assert(one.getString(2).contains(", (), (), ("), one.getString(2))
    // all-empty/null rings -> POLYGON EMPTY through the kernel too
    val empty = emitDomain.select(SpatialOps.ringsToWkt(
      slice(col("rings"), 2, 2)).as("w")).head().getString(0)
    assert(empty == "POLYGON EMPTY")
    // NULL input column: polygon propagates NULL, body/mpoints give ""
    val nulls = spark.range(1).select(
      SpatialOps.ringsToWkt(lit(null).cast(
        "array<array<struct<x:double,y:double>>>")).as("p"),
      graft.functions.WktEmit.body(lit(null).cast(
        "array<array<struct<x:double,y:double>>>")).as("b"),
      graft.functions.WktEmit.mpoints(lit(null).cast(
        "array<struct<x:double,y:double>>")).as("m")).head()
    assert(nulls.isNullAt(0) && nulls.getString(1) == "" && nulls.getString(2) == "")
  }

  test("r17 parse kernel ≡ the regex+HOF chain on a fuzz domain (incl. malformed)") {
    // well-formed engine WKT (long-mantissa doubles) + every malformed
    // class the chain's operators have defined behavior for: empty and
    // nested groups, tab/multi-space runs, missing/extra tokens, Java
    // special literals, hex floats, trailing d/f, empty segments, no
    // parens at all, EMPTY spellings, unicode
    val wkts = Seq(
      "POLYGON ((-95.98 30.11, -95.967 30.11, -95.967 30.1100001, -95.98 30.11))",
      "MULTIPOLYGON (((0.1 0.2, 3.4E-5 4e9)), ((5 6, 7 8), (9 10, 11 12)))",
      "LINESTRING (210590.34672052012 3322575.9044110756, 1.0E-322 -0.0)",
      "POINT (1.5 2.5)", "MULTIPOINT ((1 2), (3 4))", "MULTIPOINT (1 2, 3 4)",
      "()", "(())", "(a(1 2)b)", "((1 2, 3 4))", "POLYGON EMPTY", "no parens",
      "(\t1.5\t2.5)", "(1.5   2.5,   ,  3 4 5 , 6)", "( , ,1 2, )",
      "(inf -inf, Infinity -Infinity, NaN nan, +inf -INF)",
      "(1e99 -1.2E-3, 5d 5f, 0x1.8p1 2, ++1 2, . ., 1. .5)",
      "(1)", "(1 )", "( 1 2 )", "(1,2)", "(1 2", "1 2)", "))((", "((",
      "(é 1, 2 3)", "(𝟙 2, 3 4)", "", "   ")
    val df = wkts.toDF("w").union(Seq.fill(1)(null.asInstanceOf[String]).toDF("w"))
      .select(col("w"),
        SpatialOps.wktRings(col("w")).as("rings_k"),
        WktChains.wktRingsChain(col("w")).as("rings_c"),
        WktChains.ringPtsChain(col("w")).as("pts_c"),
        graft.functions.WktParse.ptsCol(col("w")).as("pts_k"))
    val bad = df.filter(not(col("rings_k") <=> col("rings_c")) ||
      not(col("pts_k") <=> col("pts_c"))).select("w").collect()
    assert(bad.isEmpty, bad.map(_.getString(0)).mkString(" | "))
    // and the parse really yields data on the well-formed rows
    assert(df.filter(size(flatten(col("rings_k"))) > 0).count() >= 8)
  }

  test("r17 TM forward kernel ≡ the HOF Column algebra, bitwise, all TM dispatches") {
    import graft.operators.Regrid._
    val rings = emitDomain.select(col("pk"), col("rings"))
    def hof(t: Transform2D) = transform(col("rings"), r => transform(r, pt => {
      val (x, y) = t(pt.getField("x"), pt.getField("y"))
      struct(x.as("x"), y.as("y"))
    }))
    // the three dispatches reprojectWkt kernelizes: UTM north (g13/g13b),
    // UTM south, and the general TmParams (nonzero lat0, GRS80)
    val cases = Seq[(Transform2D, graft.operators.Regrid.TmParams)](
      (UtmFromGeographic(15), TmParams(-93.0)),
      (UtmFromGeographic(15, southern = true),
        TmParams(-93.0, falseNorthing = 1.0e7)),
      (TransverseMercatorFromGeographic(TmParams(-93.0, lat0Deg = 30.0,
        k0 = 0.99987, falseEasting = 304800.0, falseNorthing = 1.0e5,
        a = 6378137.0, e2 = 0.0066943800229034)),
        TmParams(-93.0, lat0Deg = 30.0, k0 = 0.99987, falseEasting = 304800.0,
          falseNorthing = 1.0e5, a = 6378137.0, e2 = 0.0066943800229034)))
    for ((t, p) <- cases) {
      // compare via the emitted WKT body so double FORMATTING is gated too
      val d = rings.select(
        graft.functions.WktEmit.body(
          graft.functions.TmForward.col(col("rings"), p)).as("k"),
        WktChains.ringsToWktBodyChain(hof(t)).as("c"))
      assert(d.filter(not(col("k") <=> col("c"))).count() == 0, s"$t")
    }
  }

  test("GeoParquet writes a MULTIPOLYGON dissolve and re-ingests its area bitwise") {
    val dir = java.nio.file.Files.createTempDirectory("wktemit").toString + "/store"
    val dissolved = CoverageArea.unionGeometry(
      ringsOf(Seq((0, 0, 2, 2), (5, 5, 7, 7), (1, 1, 3, 2))), "rings", Seq("g"))
      .select(col("g").as("fid").cast("long").as("fid"),
        RingsWkt.ringsToWktAuto(col("rings")).as("geom"), col("union_area"))
    graft.operators.GeoParquet.writeGeoParquet(dissolved.select("fid", "geom"), dir)
    val back = graft.operators.GeoParquet.readGeoParquet(spark, dir)
      .select(col("fid"), SpatialOps.wktArea(col("geom")).as("a"))
      .join(dissolved.select(col("fid"), col("union_area")), "fid").head()
    assert(back.getDouble(1) == back.getDouble(2),
      "re-ingested MULTIPOLYGON area must equal the dissolve's union area")
  }
}

/** The pre-kernel Column-chain spellings of the WKT parse and emit paths
  * (regex + interpreted HOF lambdas per vertex, a UTF8String allocation per
  * concat node) — kept only as WktEmitSpec's byte-equality references for
  * the `WktParse` / `WktEmit` kernels that replaced them in SpatialOps.
  */
object WktChains {

  /** [[SpatialOps.wktRings]]'s per-group point parse (`WktParse.ptsCol`). */
  def ringPtsChain(r: Column): Column =
    transform(filter(split(r, ","), s => trim(s) =!= ""), p => struct(
      element_at(split(trim(p), " +"), 1).cast("double").as("x"),
      element_at(split(trim(p), " +"), 2).cast("double").as("y")))

  /** [[SpatialOps.wktRings]]. */
  def wktRingsChain(wkt: Column): Column =
    transform(
      regexp_extract_all(wkt, lit("\\(([^()]+)\\)"), lit(1)),
      r => ringPtsChain(r))

  /** [[SpatialOps.ringsToWkt]]. */
  def ringsToWktChain(rings: Column): Column = {
    val nonEmpty = filter(rings, r => size(r) > 0)
    when(size(nonEmpty) === 0, lit("POLYGON EMPTY")).otherwise(
      concat(lit("POLYGON ("),
        array_join(transform(nonEmpty, r =>
          concat(lit("("),
            array_join(transform(r, p =>
              concat(p.getField("x").cast("string"), lit(" "),
                p.getField("y").cast("string"))), ", "),
            lit(")"))), ", "),
        lit(")")))
  }

  /** `WktEmit.body`: rings → the WKT body `((x y, …), (…))`. */
  def ringsToWktBodyChain(rings: Column): Column =
    concat_ws(", ", transform(rings, r => concat(lit("("),
      concat_ws(", ", transform(r, p => concat(
        p.getField("x").cast("string"), lit(" "), p.getField("y").cast("string")))),
      lit(")"))))
}
