package graft

import graft.operators.Composite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture B1 (FIXTURES.md): multi-scene pixel table with planted cases —
  * all-null pixel, tie in max score, NaN-skipping median semantics
  * (feature_stacking.py:131-138, 162-165).
  */
class CompositeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (scene_id, px, B1, ndvi)
  private def scenes = Seq(
    (1L, 1, Some(10.0), Some(0.5)),
    (2L, 1, Some(20.0), Some(0.9)),
    (3L, 1, Some(30.0), Some(0.9)), // tie on ndvi with scene 2
    (1L, 2, None: Option[Double], Some(0.1)),
    (2L, 2, Some(4.0), Some(0.2)),
    (1L, 3, None: Option[Double], None: Option[Double]), // all-null pixel
    (2L, 3, None: Option[Double], None: Option[Double])
  ).toDF("scene_id", "px", "B1", "ndvi")

  test("medianComposite skips NULLs like np.nanmedian (A1)") {
    val out = Composite.medianComposite(scenes, Seq("px"), Seq("B1"))
      .orderBy("px").collect()
    assert(out(0).getDouble(1) == 20.0)       // median of 10,20,30
    assert(out(1).getDouble(1) == 4.0)        // null skipped → median of {4}
    assert(out(2).isNullAt(1))                // all-null stays null
  }

  test("argmaxComposite keeps max-score vector; ties → lowest scene_id (A2)") {
    val out = Composite.argmaxComposite(scenes, Seq("px"), "scene_id", "ndvi", Seq("B1"))
      .orderBy("px").collect()
    // px=1: scenes 2 and 3 tie at 0.9 → scene 2 (first-wins, feature_stacking.py:162)
    assert(out(0).getLong(1) == 2L && out(0).getDouble(3) == 20.0)
    // px=2: scene 2 wins on score
    assert(out(1).getLong(1) == 2L && out(1).getDouble(3) == 4.0)
    // px=3 dropped entirely (no non-null score)
    assert(out.length == 2)
  }

  test("argmaxComposite == window-rank formulation (W3 equivalence)") {
    val viaAgg = Composite.argmaxComposite(scenes, Seq("px"), "scene_id", "ndvi", Seq("B1"))
      .select("px", "scene_id").orderBy("px")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("px").orderBy(col("ndvi").desc, col("scene_id").asc)
    val viaWin = scenes.filter(col("ndvi").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("px", "scene_id").orderBy("px")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(viaAgg == viaWin)
  }

  test("median is permutation-invariant in scene order (property, SURVEY §5.4)") {
    val shuffled = scenes.orderBy(rand(42))
    val a = Composite.medianComposite(scenes, Seq("px"), Seq("B1"))
      .orderBy("px").collect().map(_.toSeq).toSeq
    val b = Composite.medianComposite(shuffled, Seq("px"), Seq("B1"))
      .orderBy("px").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("withStretch joins per-group cuts back and bounds output (A4/M8)") {
    val df = (1 to 100).map(i => ("t1", i.toDouble)).toDF("tile", "v")
    val out = Composite.withStretch(df, Seq("tile"), Seq("v"))
    val vals = out.select("v_8bit").as[Double].collect()
    assert(vals.forall(v => v >= 0.0 && v <= 255.0))
    assert(vals.min == 0.0 && vals.max == 255.0) // 2%/98% cuts saturate tails
  }
}
