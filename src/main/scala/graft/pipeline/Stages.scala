package graft.pipeline

import graft.functions.ScalarOps
import graft.operators.{Composite, MlOps, Regrid, Segmentation, TilePca}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's four pipeline stages re-expressed as composable
  * DataFrame jobs (SURVEY.md §3 lifecycles, §7 step 8).
  *
  * Data model: scenes/stacks are tall pixel tables (SURVEY.md §7 design
  * stance) — `scene_id, month, px_row, px_col, B1..Bn, udm2_clear` — not
  * rasters; tiling is partitioning, not windowing. Each stage is
  * DataFrame-in/DataFrame-out so the whole pipeline is one lazy Catalyst
  * plan unless checkpointed through parquet via `runIfMissing`.
  *
  * Passes: `featureStack` scans its input once (one aggregation);
  * `prepareSegmentationFeatures` three times (PCA moments, stretch cuts,
  * output). Two stages do eager work when called: `classifyPixels`
  * trains its per-combo models (training columns persisted for the
  * training, released before it returns), and `segment` runs the tile
  * kernel once, into a persisted RDD that the returned frame reads (its
  * blocks outlive the call, until that frame is garbage-collected).
  */
object Stages {

  /** S8 — skip-if-exists orchestration (feature_stacking.py:261-262,318:
    * recompute only when the output is missing). Parquet `_SUCCESS` marker
    * is the completion token; partial writes are rerun.
    */
  def runIfMissing(spark: SparkSession, path: String)(job: => DataFrame): DataFrame = {
    val success = new java.io.File(path, "_SUCCESS")
    if (!success.exists()) {
      job.write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  // ---------- Stage 0 — feature stacking (feature_stacking.py) ----------

  /** Normalize a raw scene table at the scan boundary: sentinel/NaN → NULL
    * (P3), quality-masked pixels nulled (J5's udm2 sidecar applied as a
    * boolean column — the join by filename happened at load).
    */
  def normalizeScenes(scenes: DataFrame, bands: Seq[String]): DataFrame = {
    val masked = bands.foldLeft(scenes) { (df, b) =>
      df.withColumn(b,
        when(col("udm2_clear"), ScalarOps.nullifNoData(col(b))).otherwise(lit(null)))
    }
    masked.drop("udm2_clear")
  }

  /** P5 — attach NDVI/NDWI index columns (feature_stacking.py:253-278;
    * band roles follow the reference: nir=B8, red=B6, green=B4 of the
    * 8-band PlanetScope layout).
    */
  def withIndices(df: DataFrame, nir: String = "B8", red: String = "B6",
      green: String = "B4"): DataFrame =
    df.withColumn("ndvi", ScalarOps.normalizedDiff(col(nir), col(red)))
      .withColumn("ndwi", ScalarOps.normalizedDiff(col(green), col(nir)))

  /** Stage-0 step 2 — align an auxiliary raster (DEM, mask, prior-year
    * scene) onto the master grid BEFORE stacking (feature_stacking.py:
    * 316-320 DEM bilinear, :340-345 scenes/masks). The aux raster lives on
    * its own affine grid; after alignment its `valueCols` ride the master
    * pixel key and band-concat join like any other band.
    */
  def alignAux(
      master: DataFrame,
      aux: DataFrame,
      masterGrid: Regrid.GridDef,
      auxGrid: Regrid.GridDef,
      valueCols: Seq[String],
      bilinear: Boolean = false): DataFrame =
    if (bilinear) Regrid.regridBilinear(master, aux, masterGrid, auxGrid, valueCols)
    else Regrid.regridNearest(master, aux, masterGrid, auxGrid, valueCols)

  /** Stage-0 composite: per-month median NDVI bands + winter max-NDVI
    * band composite, one stack row per pixel (§3.1 steps 4-6). One scan
    * and ONE aggregation keyed by pixel compute every composite, each
    * restricted to its months by a `when` inside the aggregate — the
    * reference's one-sweep-per-window loop (feature_stacking.py:106-167),
    * with no per-composite aggregation and no band-concat join.
    *
    * Rows: a pixel is kept when it has a row in a monthly month (its
    * median may be NULL) or a winter row with non-NULL NDVI — the row set
    * of a band-concat outer join of the separate composites.
    */
  def featureStack(
      scenes: DataFrame,
      bands: Seq[String],
      monthlyMonths: Seq[Int],
      winterMonths: Seq[Int]): DataFrame = {
    val px = Seq("px_row", "px_col")
    val indexed = withIndices(normalizeScenes(scenes, bands))
      .filter(col("month").isin(monthlyMonths ++ winterMonths: _*))
    val inMonthly = col("month").isin(monthlyMonths: _*)
    val stacked = indexed.groupBy(px.map(col): _*).agg(
      // pixel has a monthly row: the monthly side's row set
      max(inMonthly).as("__monthly"),
      // monthly median-NDVI layers, one column per month (A1)
      monthlyMonths.map(m =>
        Composite.median(when(col("month") === m, col("ndvi"))).as(s"ndvi_m$m")) :+
        // winter argmax composite: full band vector at max NDVI (A2)
        Composite.argmax("scene_id", "ndvi", bands,
          where = col("month").isin(winterMonths: _*)).as("__win"): _*)
    stacked
      .filter(col("__monthly") || col("__win").isNotNull)
      .select(px.map(col) ++ monthlyMonths.map(m => col(s"ndvi_m$m")) ++
        bands.map(b => col("__win").getField(b).as(s"win_$b")): _*)
  }

  // ---------- Stage 1 — pixel classification (pixel_classifier_stream.py) ----------

  /** Route pixels to per-combo RF models, classify, apply rule rewrites
    * (J4 + M1 + P8). Rows with no valid band are dropped (the reference's
    * all-NaN skip, :131).
    */
  def classifyPixels(
      stack: DataFrame,
      training: DataFrame,
      bandCols: Seq[String],
      labelCol: String = "label"): DataFrame = {
    val valid = stack.filter(ScalarOps.anyValid(bandCols.map(col)))
    val classified = MlOps.dispatchByCombo(training, valid, bandCols, labelCol)
    classified.withColumn("pred_label",
      ScalarOps.ruleRewrite(col("pred_label"), col("confidence")))
  }

  // ---------- Stage 2 — segmentation (image_segmentation.py) ----------

  /** The reference's segmentation feature stack (image_segmentation.py:
    * 55-96): NDVI-style indices + per-tile PCA first component + 8-bit
    * percentile stretch of every channel, all before the gaussian+felz
    * kernel. Tiles here are derived from pixel coords (`tileSize`); the
    * PCA is the moments+power-iteration operator (A8), the stretch the
    * two-pass percentile cuts of every channel, pca1 included (A4/M8) —
    * one aggregation each, one broadcast join back each. The input is
    * scanned three times: the moments, the cuts and the output pass (the
    * moments' broadcast is reused by the later two).
    *
    * Returns the frame with `<band>_8bit` columns (stretched originals +
    * stretched pca1) ready for `segment`.
    */
  def prepareSegmentationFeatures(
      pixels: DataFrame,
      bands: Seq[String],
      tileSize: Int = 4096): DataFrame = {
    val withTile = pixels
      .withColumn("seg_tile_x", floor(col("px_col") / tileSize).cast("int"))
      .withColumn("seg_tile_y", floor(col("px_row") / tileSize).cast("int"))
    val tileKey = Seq("seg_tile_x", "seg_tile_y")
    val withPca = TilePca.withPca1(withTile, tileKey, bands)
    Composite.withStretch(withPca, tileKey, bands :+ "pca1")
      .drop(tileKey: _*)
  }

  /** Halo'd felzenszwalb over tiles + polygonize; see Segmentation. */
  def segment(
      stack: DataFrame,
      featureCols: Seq[String],
      tileSize: Int = 4096,
      pad: Int = 256): DataFrame =
    Segmentation.segmentTiles(stack, featureCols,
      tileH = tileSize, tileW = tileSize, pad = pad)

  def polygons(segments: DataFrame): DataFrame =
    Segmentation.polygonize(segments.select("px_row", "px_col", "seg_id"))

  // ---------- Stage 3 — object classification (object_classifier.py) ----------

  /** Per-segment feature extraction: band means + the reference's shape
    * features computed from the cell set (object_classifier.py:49-68's
    * cached features, derived relationally instead of from geometry files).
    */
  def segmentFeatures(pixels: DataFrame, segments: DataFrame,
      bandCols: Seq[String]): DataFrame = {
    val joined = pixels.join(segments, Seq("px_row", "px_col"))
    joined
      .groupBy("seg_id")
      .agg(
        count(lit(1)).as("n_px"),
        Seq(
          (max("px_row") - min("px_row") + 1).as("height"),
          (max("px_col") - min("px_col") + 1).as("width")) ++
          bandCols.map(b => avg(col(b)).as(s"mean_$b")): _*)
      .withColumn("rectangularity", col("n_px") / (col("height") * col("width")))
      .withColumn("elongation",
        greatest(col("height"), col("width")) / least(col("height"), col("width")))
  }

  /** J2 — dual-model classification with lookup-first fallback. */
  def classifyObjects(
      features: DataFrame,
      lookup: DataFrame,
      backup: PipelineModel): DataFrame =
    MlOps.withFallback(features, lookup, backup, "seg_id")
      .withColumnRenamed("final_pred", "PredClass")
}
