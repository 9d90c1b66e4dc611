package graft

import graft.functions.{BufferExprs, SimplifyExprs, SpatialOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BufferSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bufOf(wkt: String, d: Double): Seq[(Double, Double)] =
    Seq(wkt).toDF("g")
      .select(BufferExprs.bufferConvexCol(
        element_at(SpatialOps.wktRings(col("g")), 1), lit(d)).as("r"))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(p => (p.getDouble(0), p.getDouble(1)))

  test("axis-aligned square: miter corners move exactly (±d, ±d); d=0 is the identity") {
    val sq = "POLYGON ((2 3, 6 3, 6 7, 2 7, 2 3))" // CCW, sides 4 (sqrt(16) exact)
    assert(bufOf(sq, 1.5) ==
      Seq((0.5, 1.5), (7.5, 1.5), (7.5, 8.5), (0.5, 8.5), (0.5, 1.5)))
    assert(bufOf(sq, 0.0) ==
      Seq((2.0, 3.0), (6.0, 3.0), (6.0, 7.0), (2.0, 7.0), (2.0, 3.0)))
    // CW winding buffers OUTWARD too (the normal sign flips with the winding)
    val cw = "POLYGON ((2 3, 2 7, 6 7, 6 3, 2 3))"
    assert(bufOf(cw, 1.0) ==
      Seq((1.0, 2.0), (1.0, 8.0), (7.0, 8.0), (7.0, 2.0), (1.0, 2.0)))
  }

  test("diamond: buffered ring is the diamond grown by d·√2 along the axes (semantic)") {
    val got = bufOf("POLYGON ((5 2, 8 5, 5 8, 2 5, 5 2))", 1.0) // r = 3
    val g = math.sqrt(2.0) // miter extension at a 90° diamond corner
    val want = Seq((5.0, 2 - g), (8 + g, 5.0), (5.0, 8 + g), (2 - g, 5.0), (5.0, 2 - g))
    got.zip(want).foreach { case ((gx, gy), (wx, wy)) =>
      assert(math.abs(gx - wx) < 1e-12 && math.abs(gy - wy) < 1e-12, s"$got vs $want")
    }
    // area closed form: grown diamond radius r' = r + d√2 → 2r'²
    val area = Seq("POLYGON ((5 2, 8 5, 5 8, 2 5, 5 2))").toDF("g")
      .select(SpatialOps.ringsArea(array(BufferExprs.bufferConvexCol(
        element_at(SpatialOps.wktRings(col("g")), 1), lit(1.0)))))
      .head().getDouble(0)
    assert(math.abs(area - 2.0 * math.pow(3 + math.sqrt(2.0), 2)) < 1e-9)
  }

  test("property: every original vertex stays inside the buffered ring; area grows") {
    val rnd = new scala.util.Random(7)
    for (t <- 0 until 20) {
      // convex polygon: k points on a circle (strictly convex by construction)
      val k = 4 + rnd.nextInt(5)
      val pts = (0 until k).map { i =>
        val a = 2 * math.Pi * i / k + 0.1 * t
        (10 + 6 * math.cos(a), 10 + 6 * math.sin(a))
      }
      val wkt = "POLYGON ((" + (pts :+ pts.head)
        .map { case (x, y) => s"$x $y" }.mkString(", ") + "))"
      val buffered = bufOf(wkt, 0.5)
      // containment via the engine's own even-odd test on the buffered ring
      def bpts = buffered.map { case (x, y) =>
        struct(lit(x).as("x"), lit(y).as("y")) }
      pts.foreach { case (px, py) =>
        val inside = Seq(1).toDF("i").select(
          graft.functions.GeomPredExprs.pointInRings(
            array(array(bpts: _*)), lit(px), lit(py))).head().getBoolean(0)
        assert(inside, s"trial $t: original vertex ($px,$py) escaped the buffer")
      }
      val a0 = Seq(wkt).toDF("g")
        .select(SpatialOps.ringsArea(SpatialOps.wktRings(col("g")))).head().getDouble(0)
      val a1 = Seq(wkt).toDF("g").select(SpatialOps.ringsArea(array(
        BufferExprs.bufferConvexCol(
          element_at(SpatialOps.wktRings(col("g")), 1), lit(0.5))))).head().getDouble(0)
      assert(a1 > a0, s"trial $t: buffer must grow area: $a0 -> $a1")
    }
  }

  test("fail-closed: reflex ring, collinear run, negative d, unclosed; simplify composes") {
    val dart = "POLYGON ((3 5, 1 1, 3 2, 5 1, 3 5))"
    val e1 = intercept[Exception](bufOf(dart, 0.5))
    assert(e1.getMessage.contains("not convex"))
    val collin = "POLYGON ((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))"
    val e2 = intercept[Exception](bufOf(collin, 0.5))
    assert(e2.getMessage.contains("simplify"))
    val e3 = intercept[Exception](bufOf("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", -1.0))
    assert(e3.getMessage.contains(">= 0"))
    // the documented pipeline: simplify drops the collinear vertex, then buffer
    val viaPipeline = Seq(collin).toDF("g").select(BufferExprs.bufferConvexCol(
      SimplifyExprs.simplifyRingCol(
        element_at(SpatialOps.wktRings(col("g")), 1), lit(0.0)), lit(1.0)).as("r"))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(p => (p.getDouble(0), p.getDouble(1)))
    assert(viaPipeline ==
      Seq((-1.0, -1.0), (5.0, -1.0), (5.0, 5.0), (-1.0, 5.0), (-1.0, -1.0)))
  }

  test("SQL surface matches the Column form") {
    Seq("POLYGON ((2 3, 6 3, 6 7, 2 7, 2 3))").toDF("g").createOrReplaceTempView("buffix")
    val viaSql = spark.sql(
      "SELECT st_buffer_convex(element_at(st_rings(g), 1), CAST(1.5 AS DOUBLE))[0] FROM buffix")
      .head().getStruct(0)
    assert(viaSql.getDouble(0) == 0.5 && viaSql.getDouble(1) == 1.5)
  }
}
