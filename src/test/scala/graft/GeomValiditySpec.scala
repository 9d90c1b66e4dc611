package graft

import graft.functions.{GeomValidity, SpatialOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeomValiditySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def simpleOf(wkt: String): Boolean =
    Seq(wkt).toDF("g")
      .select(GeomValidity.ringIsSimpleCol(
        element_at(SpatialOps.wktRings(col("g")), 1)).as("s"))
      .head().getBoolean(0)

  test("valid rings: convex, concave, collinear-continuation, large vertex count") {
    assert(simpleOf("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    // the j23 dart (concave, reflex notch)
    assert(simpleOf("POLYGON ((5 7, 3 3, 5 4, 7 3, 5 7))"))
    // collinear but FORWARD vertices are legal (redundant, not a spike)
    assert(simpleOf("POLYGON ((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))"))
    // a 40-gon star stays simple
    val pts = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40
      val rr = if (i % 2 == 0) 10.0 else 4.0
      s"${rr * math.cos(a)} ${rr * math.sin(a)}"
    }
    assert(simpleOf(s"POLYGON ((${pts.mkString(", ")}, ${pts.head}))"))
  }

  test("invalid rings: bowtie, spike, pinch, vertex-on-edge touch, edge overlap") {
    // self-crossing quad
    assert(!simpleOf("POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))"))
    // collinear double-back (spike)
    assert(!simpleOf("POLYGON ((0 0, 4 0, 2 0, 2 4, 0 0))"))
    // figure-eight pinch (repeated vertex)
    assert(!simpleOf("POLYGON ((2 2, 0 0, 4 0, 2 2, 4 4, 0 4, 2 2))"))
    // a vertex touching a non-adjacent edge's interior
    assert(!simpleOf("POLYGON ((0 0, 4 0, 4 4, 2 0, 0 4, 0 0))"))
    // two non-adjacent edges overlapping collinearly
    assert(!simpleOf("POLYGON ((0 0, 4 0, 4 2, 3 0, 1 0, 1 2, 0 2, 0 0))"))
  }

  test("structural rejects: unclosed, too short, zero-length edge") {
    def viaArray(points: Seq[(Double, Double)]): Boolean =
      Seq(1).toDF("i")
        .select(GeomValidity.ringIsSimpleCol(array(points.map { case (x, y) =>
          struct(lit(x).as("x"), lit(y).as("y")) }: _*)).as("s"))
        .head().getBoolean(0)
    assert(!viaArray(Seq((0, 0), (4, 0), (4, 4), (0, 4)))) // unclosed
    assert(!viaArray(Seq((0, 0), (4, 0), (0, 0))))         // 2 distinct pts
    assert(!viaArray(Seq((0, 0), (4, 0), (4, 0), (4, 4), (0, 0)))) // zero edge
  }

  test("null handling: null ring is null; null point throws (malformed data)") {
    val nulls = Seq(1).toDF("i")
      .select(GeomValidity.ringIsSimpleCol(
        lit(null).cast("array<struct<x:double,y:double>>")).as("s"))
      .head()
    assert(nulls.isNullAt(0))
    val e = intercept[Exception](
      Seq(1).toDF("i")
        .select(GeomValidity.ringIsSimpleCol(array(
          struct(lit(0.0).as("x"), lit(0.0).as("y")),
          struct(lit(null).cast("double").as("x"), lit(1.0).as("y")),
          struct(lit(0.0).as("x"), lit(0.0).as("y")))).as("s"))
        .head())
    assert(e.getMessage.contains("null coordinate"))
  }

  private def validOf(wkt: String): Boolean =
    Seq(wkt).toDF("g")
      .select(GeomValidity.polygonIsValidCol(SpatialOps.wktRings(col("g"))).as("s"))
      .head().getBoolean(0)

  test("polygon validity: proper holes valid; winding, containment, nesting, overlap enforced") {
    // WKT holes below are CW (opposite the CCW outer) unless stated
    assert(validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"))
    // two disjoint holes
    assert(validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(1 1, 1 3, 3 3, 3 1, 1 1), (5 5, 5 7, 7 7, 7 5, 5 5))"))
    // hole wound LIKE the outer (storage-convention violation)
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"))
    // hole straddling the outer boundary
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (6 3, 6 5, 10 5, 10 3, 6 3))"))
    // hole entirely outside
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (10 1, 10 3, 12 3, 12 1, 10 1))"))
    // overlapping holes
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(1 1, 1 4, 4 4, 4 1, 1 1), (3 3, 3 6, 6 6, 6 3, 3 3))"))
    // nested holes (no edge crossing)
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(1 1, 1 6, 6 6, 6 1, 1 1), (2 2, 2 3, 3 3, 3 2, 2 2))"))
    // bowtie outer
    assert(!validOf("POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))"))
    // hole TOUCHING the outer at one point is legal (the OGC rule)
    assert(validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (0 4, 2 6, 2 2, 0 4))"))
    // hole sharing a SEGMENT with the outer is not
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (0 2, 0 6, 2 6, 2 2, 0 2))"))
    // all hole vertices ON the outer boundary: fail closed
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (0 0, 0 8, 8 8, 8 0, 0 0))"))
  }

  test("interior connectivity: touch chains that close a loop disconnect; stars do not") {
    // ONE hole touching the outer at TWO distinct points splits the
    // interior (left lobe / right lobe): invalid
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (4 0, 2 4, 4 8, 6 4, 4 0))"))
    // two holes chaining wall -> center -> wall: each touch individually
    // legal, the chain walls off top from bottom: invalid
    assert(!validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(0 4, 2 5, 4 4, 2 3, 0 4), (4 4, 6 5, 8 4, 6 3, 4 4))"))
    // two holes touching EACH OTHER at two distinct points pinch off the
    // lens between them (hB's top path sags strictly below hA's lower
    // boundary except at the shared endpoints): invalid
    assert(!validOf("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), " +
      "(2 5, 4 7, 6 5, 4 4, 2 5), (2 5, 4 3, 6 5, 4 1, 2 5))"))
    // THREE rings sharing ONE point (two holes tangent to the wall at
    // the same point) form a star, the interior connects around it:
    // valid — the reason the graph is bipartite on points, not
    // rings-only (rings-only would call this a cycle and over-reject)
    assert(validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(0 4, 2 6, 2 5, 0 4), (0 4, 2 3, 2 2, 0 4))"))
    // a hole touching the outer once AND another interior hole once
    // (an open chain, no loop): valid
    assert(validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(0 4, 2 5, 2 3, 0 4), (2 4, 4 5, 4 3, 2 4))"))
    // two interior holes meeting only at one interior point: valid
    assert(validOf("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), " +
      "(4 4, 2 3, 2 5, 4 4), (4 4, 6 5, 6 3, 4 4))"))
  }

  test("SQL surface matches the Column form; predicate gates the clip contract") {
    Seq(("POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))", false),
        ("POLYGON ((5 7, 3 3, 5 4, 7 3, 5 7))", true))
      .toDF("g", "want").createOrReplaceTempView("valfix")
    val rows = spark.sql(
      "SELECT st_is_simple_ring(element_at(st_rings(g), 1)) AS got, want FROM valfix")
      .collect()
    rows.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1)))
    // the enforcement pattern: filter invalid rings BEFORE the clip
    // kernel — the bowtie that would poison clip_area_general becomes a
    // countable reject instead
    val census = spark.sql(
      """SELECT st_is_simple_ring(element_at(st_rings(g), 1)) AS ok, count(*) AS n
        |FROM valfix GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(census.map(r => (r.getBoolean(0), r.getLong(1))).toSeq ==
      Seq((false, 1L), (true, 1L)))
  }
}
