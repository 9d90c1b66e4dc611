package graft

import graft.functions.ScalarOps
import graft.operators.{Composite, Halo, Segmentation, TilePca}
import graft.pipeline.Stages
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass stage plans against the per-composite / per-channel
  * formulations they replaced (kept here as references), plus pass counts
  * that pin the single evaluation: scans of the input relation in the
  * executed plan, and tile-kernel runs per tile.
  */
class StagePassesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val bands = Seq("B4", "B6", "B8")
  private val monthly = Seq(4, 7)
  private val winter = Seq(12, 1)

  /** Stage 0 as separate composites: one median aggregation per month,
    * one argmax aggregation for winter, band-concat outer joins.
    */
  private def featureStackPerComposite(scenes: DataFrame, bands: Seq[String],
      monthlyMonths: Seq[Int], winterMonths: Seq[Int]): DataFrame = {
    val px = Seq("px_row", "px_col")
    val indexed = Stages.withIndices(Stages.normalizeScenes(scenes, bands))
    val perMonth = monthlyMonths.map { m =>
      Composite.medianComposite(indexed.filter(col("month") === m), px, Seq("ndvi"))
        .withColumnRenamed("ndvi", s"ndvi_m$m")
    }
    val win = Composite
      .argmaxComposite(indexed.filter(col("month").isin(winterMonths: _*)),
        px, "scene_id", "ndvi", bands)
      .select(px.map(col) ++ bands.map(b => col(b).as(s"win_$b")): _*)
    (perMonth :+ win).reduceLeft((a, b) => a.join(b, px, "outer"))
  }

  /** The stretch one channel at a time: an aggregation and a broadcast
    * join per channel.
    */
  private def stretchPerChannel(df: DataFrame, key: Seq[String], cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val cuts = d.groupBy(key.map(col): _*)
        .agg(percentile(col(c), lit(0.02)).as("cut_lo"), percentile(col(c), lit(0.98)).as("cut_hi"))
      d.join(broadcast(cuts), key)
        .withColumn(s"${c}_8bit", ScalarOps.stretch8bit(col(c), col("cut_lo"), col("cut_hi")))
        .drop("cut_lo", "cut_hi")
    }

  /** Same columns (names, types, order) and the same rows, value for value. */
  private def assertSameFrame(got: DataFrame, want: DataFrame, key: String*): Unit = {
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    def rows(df: DataFrame) = df.orderBy(key.map(col): _*).collect().map(_.toSeq).toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) => assert(a == b) }
  }

  private def scene(id: Long, month: Int, r: Int, c: Int, b4: Float, b6: Float, b8: Float,
      clear: Boolean = true) = (id, month, r, c, b4, b6, b8, clear)
  private def sceneFrame(rows: Seq[(Long, Int, Int, Int, Float, Float, Float, Boolean)]) =
    rows.toDF("scene_id", "month", "px_row", "px_col", "B4", "B6", "B8", "udm2_clear")

  private def stack(rows: Seq[(Long, Int, Int, Int, Float, Float, Float, Boolean)]) =
    Stages.featureStack(sceneFrame(rows), bands, monthly, winter)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap

  test("featureStack: a pixel whose only rows are winter rows with NULL NDVI is absent") {
    val out = stack(Seq(
      scene(3, 12, 0, 0, 30f, 10f, 100f, clear = false),
      scene(4, 1, 0, 0, 30f, 10f, -9999f),
      scene(1, 4, 0, 1, 30f, 10f, 100f)))
    assert(out.keySet == Set((0, 1)))
  }

  test("featureStack: monthly rows with all-NULL NDVI keep the pixel, median NULL") {
    val out = stack(Seq(
      scene(1, 4, 0, 0, 30f, 10f, -9999f),
      scene(2, 4, 0, 0, 30f, 10f, 100f, clear = false)))
    val r = out((0, 0))
    assert(r.isNullAt(r.fieldIndex("ndvi_m4")) && r.isNullAt(r.fieldIndex("ndvi_m7")))
    assert(r.isNullAt(r.fieldIndex("win_B4")))
  }

  test("featureStack: on an NDVI tie the lower scene_id wins the winter composite") {
    val out = stack(Seq(
      scene(9, 1, 0, 0, 40f, 10f, 100f),
      scene(3, 12, 0, 0, 30f, 10f, 100f),
      scene(5, 12, 0, 0, 50f, 10f, 100f)))
    assert(out((0, 0)).getAs[Float]("win_B4") == 30f)
  }

  test("featureStack: months in neither list are ignored") {
    val out = stack(Seq(
      scene(1, 4, 0, 0, 30f, 50f, 10f),  // month 4: low NDVI
      scene(2, 5, 0, 0, 30f, 10f, 100f), // month 5: higher NDVI, no list
      scene(2, 5, 0, 1, 30f, 10f, 100f)))
    assert(out.keySet == Set((0, 0)))
    val r = out((0, 0))
    assert(r.getAs[Double]("ndvi_m4") < 0.0 && r.isNullAt(r.fieldIndex("win_B4")))
  }

  test("featureStack equals the per-composite formulation (random scenes with NULLs)") {
    val rnd = new scala.util.Random(17)
    val rows = for {
      id <- 1L to 7L
      r <- 0 until 6
      c <- 0 until 6
      if rnd.nextDouble() < 0.8
    } yield {
      val month = Seq(4, 7, 12, 1, 5)((id % 5).toInt)
      def v = if (rnd.nextDouble() < 0.1) -9999f else (rnd.nextInt(20) * 10).toFloat
      scene(id, month, r, c, v, v, v, clear = rnd.nextDouble() < 0.85)
    }
    val scenes = sceneFrame(rows)
    assertSameFrame(Stages.featureStack(scenes, bands, monthly, winter),
      featureStackPerComposite(scenes, bands, monthly, winter), "px_row", "px_col")
  }

  test("multi-channel withStretch equals the per-channel stretch (NULLs, several tiles)") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 300).map { i =>
      def v = if (rnd.nextDouble() < 0.15) None else Some(rnd.nextGaussian() * 40)
      (i % 3, i / 3 % 2, i, v, v, if (i % 3 == 2) None else v)
    }.toDF("tx", "ty", "id", "a", "b", "c")
    assertSameFrame(Composite.withStretch(df, Seq("tx", "ty"), Seq("a", "b", "c")),
      stretchPerChannel(df, Seq("tx", "ty"), Seq("a", "b", "c")), "id")
  }

  test("prepareSegmentationFeatures equals the per-channel formulation") {
    val px = (for { r <- 0 until 24; c <- 0 until 24 } yield
      (r, c, ((r * 7 + c * 3) % 50).toFloat, ((r * c) % 31).toFloat))
      .toDF("px_row", "px_col", "F1", "F2")
    val key = Seq("seg_tile_x", "seg_tile_y")
    val withTile = px
      .withColumn("seg_tile_x", floor(col("px_col") / 16).cast("int"))
      .withColumn("seg_tile_y", floor(col("px_row") / 16).cast("int"))
    val reference = stretchPerChannel(TilePca.withPca1(withTile, key, Seq("F1", "F2")),
      key, Seq("F1", "F2", "pca1")).drop(key: _*)
    assertSameFrame(Stages.prepareSegmentationFeatures(px, Seq("F1", "F2"), tileSize = 16),
      reference, "px_row", "px_col")
  }

  /** File scans of `input` in `df`'s executed plan, after running it. */
  private def inputScans(df: DataFrame, input: String): Int = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(input)) => s
    }.size
  }

  private def parquetOf(df: DataFrame, name: String): (DataFrame, String) = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString + "/in"
    df.write.parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  test("featureStack scans its input once") {
    val rows = for { id <- 1L to 4L; r <- 0 until 8; c <- 0 until 8 } yield
      scene(id, Seq(4, 7, 12, 1)(id.toInt - 1), r, c, 30f, 10f + r, 100f + c)
    val (in, dir) = parquetOf(sceneFrame(rows), "graft_fs_scan")
    assert(inputScans(Stages.featureStack(in, bands, monthly, winter), dir) == 1)
  }

  test("prepareSegmentationFeatures scans its input at most three times") {
    val px = (for { r <- 0 until 32; c <- 0 until 32 } yield
      (r, c, ((r * 7 + c) % 50).toFloat, ((r * c) % 31).toFloat, (r + c).toFloat))
      .toDF("px_row", "px_col", "F1", "F2", "F3")
    val (in, dir) = parquetOf(px, "graft_seg_scan")
    val scans = inputScans(Stages.prepareSegmentationFeatures(in, Seq("F1", "F2", "F3"), 16), dir)
    assert(scans <= 3, s"$scans scans of the input")
  }

  test("segmentTiles runs the tile kernel once per tile") {
    // Counted on the test side from stage metrics: every run of the kernel
    // (the mapPartitions in Segmentation.scala) over a tile reads that
    // tile's rows, core and halo, from the tile shuffle; a stage that
    // reads the kernel's stored output reads none of them.
    val kernelRows = new java.util.concurrent.atomic.AtomicLong
    val drained = new java.util.concurrent.CountDownLatch(1)
    val marker = "stage-passes-drain"
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.callSite.startsWith("mapPartitions at Segmentation.scala")))
          kernelRows.addAndGet(e.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    val grid = (for { r <- 0 until 16; c <- 0 until 16 } yield
      (r, c, if (c < 8) 0.0f else 100.0f)).toDF("px_row", "px_col", "B1")
    val tileRows = Halo.withHalo(grid, "px_row", "px_col", 8, 8, 2).count()
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = Segmentation.segmentTiles(grid, Seq("B1"), tileH = 8, tileW = 8, pad = 2,
        scale = 10.0, minSize = 2).collect()
      // listener events arrive in order: once a later job's end is seen,
      // every stage of segmentTiles has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val tiles = out.map(r => (r.getAs[Int]("tile_x"), r.getAs[Int]("tile_y"))).distinct
      assert(tiles.length == 4 && out.length == 256)
      assert(kernelRows.get == tileRows, s"kernel read ${kernelRows.get} rows of $tileRows tile rows")
    } finally sc.removeSparkListener(listener)
  }
}
