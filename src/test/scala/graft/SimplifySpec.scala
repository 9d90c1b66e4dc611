package graft

import graft.functions.{SimplifyExprs, SpatialOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimplifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive recursive Douglas–Peucker with the SAME determinism contract
    * (first strict max, squared point-to-line, point-to-anchor on
    * coincident endpoints) — the independent reference the kernel's
    * iterative stack must reproduce index-for-index. */
  private def reference(xs: Array[Double], ys: Array[Double], eps: Double): Seq[Int] = {
    def span(lo: Int, hi: Int): Seq[Int] =
      if (hi - lo < 2) Seq.empty
      else {
        val dx = xs(hi) - xs(lo); val dy = ys(hi) - ys(lo)
        val len2 = dx * dx + dy * dy
        var best = -1; var bestD = eps * eps
        for (i <- lo + 1 until hi) {
          val d2 =
            if (len2 == 0.0) {
              val px = xs(i) - xs(lo); val py = ys(i) - ys(lo)
              px * px + py * py
            } else {
              val c = dx * (ys(i) - ys(lo)) - dy * (xs(i) - xs(lo))
              c * c / len2
            }
          if (d2 > bestD) { bestD = d2; best = i }
        }
        if (best < 0) Seq.empty
        else span(lo, best) ++ Seq(best) ++ span(best, hi)
      }
    if (xs.length <= 2) xs.indices.toSeq
    else Seq(0) ++ span(0, xs.length - 1) ++ Seq(xs.length - 1)
  }

  test("kernel indices match the recursive reference on 60 random closed rings") {
    val rnd = new scala.util.Random(41)
    for (t <- 0 until 60) {
      val n = 5 + rnd.nextInt(30)
      val xs = new Array[Double](n + 1)
      val ys = new Array[Double](n + 1)
      for (i <- 0 until n) {
        val a = 2 * math.Pi * i / n
        val r = 5.0 + rnd.nextInt(40) * 0.25
        xs(i) = math.rint(r * math.cos(a) * 4) / 4
        ys(i) = math.rint(r * math.sin(a) * 4) / 4
      }
      xs(n) = xs(0); ys(n) = ys(0)
      for (eps <- Seq(0.0, 0.5, 2.0, 8.0)) {
        val got = SimplifyExprs.simplifyIndices(xs, ys, eps).toSeq
        val want = reference(xs, ys, eps)
        assert(got == want, s"trial $t eps $eps: $got vs $want")
      }
    }
  }

  private def simpOf(wkt: String, eps: Double): Seq[(Double, Double)] =
    Seq(wkt).toDF("g")
      .select(SimplifyExprs.simplifyRingCol(
        element_at(SpatialOps.wktRings(col("g")), 1), lit(eps)).as("r"))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(p => (p.getDouble(0), p.getDouble(1)))

  test("closed forms: bump below/above tolerance, collinear run collapses, eps=0 keeps all") {
    val bumped = "POLYGON ((0 0, 4 0.25, 8 0, 8 8, 0 8, 0 0))"
    assert(simpOf(bumped, 1.0) ==
      Seq((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)))
    val tall = "POLYGON ((0 0, 4 3, 8 0, 8 8, 0 8, 0 0))"
    assert(simpOf(tall, 1.0) ==
      Seq((0.0, 0.0), (4.0, 3.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)))
    // collinear stepping stones on an edge vanish at any positive eps
    val collin = "POLYGON ((0 0, 2 0, 5 0, 8 0, 8 8, 0 8, 0 0))"
    assert(simpOf(collin, 0.1) ==
      Seq((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)))
    // eps = 0: strict > keeps only deviation > 0, so exact-collinear
    // points still drop but nothing else does
    assert(simpOf(tall, 0.0).length == 6)
  }

  test("idempotence and output closure") {
    val zig = "POLYGON ((0 0, 1 0.4, 2 -0.3, 3 0.5, 4 0, 4 4, 0 4, 0 0))"
    val once = simpOf(zig, 0.6)
    assert(once.head == once.last, "simplified ring must stay closed")
    // simplify(simplify(r)) == simplify(r): kept vertices survive a re-run
    val df = Seq(zig).toDF("g")
      .select(SimplifyExprs.simplifyRingCol(
        element_at(SpatialOps.wktRings(col("g")), 1), lit(0.6)).as("r1"))
      .select(col("r1"), SimplifyExprs.simplifyRingCol(col("r1"), lit(0.6)).as("r2"))
      .head()
    assert(df.getSeq[org.apache.spark.sql.Row](0) == df.getSeq[org.apache.spark.sql.Row](1))
  }

  test("fail-closed: negative eps, null coordinate; SQL surface matches the Column form") {
    val e = intercept[Exception](simpOf("POLYGON ((0 0, 1 1, 2 0, 0 0))", -1.0))
    assert(e.getMessage.contains(">= 0"))
    val e2 = intercept[Exception](
      Seq(1).toDF("i").select(SimplifyExprs.simplifyRingCol(array(
        struct(lit(0.0).as("x"), lit(0.0).as("y")),
        struct(lit(null).cast("double").as("x"), lit(1.0).as("y")),
        struct(lit(0.0).as("x"), lit(0.0).as("y"))), lit(1.0))).collect())
    assert(e2.getMessage.contains("null coordinate"))
    Seq("POLYGON ((0 0, 4 0.25, 8 0, 8 8, 0 8, 0 0))").toDF("g")
      .createOrReplaceTempView("simpfix")
    val viaSql = spark.sql(
      "SELECT size(st_simplify_ring(element_at(st_rings(g), 1), CAST(1.0 AS DOUBLE))) FROM simpfix")
      .head().getInt(0)
    assert(viaSql == 5)
  }
}
