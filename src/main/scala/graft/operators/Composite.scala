package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage-0 compositing operators (SURVEY.md §2.3 A1/A2/A3).
  *
  * The reference composites K monthly scenes per pixel:
  *   - median composite: `np.nanmedian(stack, axis=0)` per pixel/band
  *     (feature_stacking.py:131-138)
  *   - max-NDVI composite: keep the whole band vector of the scene whose
  *     NDVI is maximal for that pixel (feature_stacking.py:140-167, the
  *     running-max update at :162-165).
  *
  * Spark-first formulation: the scene stack is a tall pixel table
  * (scene_id, pixel key..., B1..Bn) and compositing is ONE hash aggregation
  * keyed by pixel — a single shuffle regardless of scene count, with
  * map-side partial aggregation. At 100 TB this is the shape you want:
  * no per-scene passes (the reference loops scenes), no windowing. The
  * aggregates are also `Column` builders ([[median]], [[argmax]]), so
  * `Stages.featureStack` computes every monthly median and the winter
  * argmax in that one aggregation instead of one per composite.
  *
  * NULL discipline: inputs are normalized (NoData→NULL) at scan boundary
  * (ScalarOps.nullifNoData); built-in `percentile`/`max_by` skip NULLs,
  * which matches the reference's NaN-skipping semantics exactly.
  */
object Composite {

  /** A1 — the exact NaN(NULL)-skipping median of one value column, as an
    * aggregate `Column`. `percentile(col, 0.5)` is Spark's exact
    * interpolated percentile — same definition as DuckDB
    * `median`/`quantile_cont` (SURVEY.md §7 hard part b). Wrap the value in
    * `when(cond, v)` to take the median over a subset of a group's rows in
    * the same aggregation as other composites (rows outside the subset
    * are NULL and skipped).
    */
  def median(value: Column): Column = percentile(value, lit(0.5))

  /** A1 — median composite per pixel for each band. */
  def medianComposite(scenes: DataFrame, pixelKey: Seq[String], bands: Seq[String]): DataFrame =
    scenes
      .groupBy(pixelKey.map(col): _*)
      .agg(
        median(col(bands.head)).as(bands.head),
        bands.tail.map(b => median(col(b)).as(b)): _*)

  /** A2 — the argmax aggregate as a `Column`: max of a (score, −scene_id,
    * bands...) struct over the rows where `where` holds and the score is
    * non-NULL; NULL when no row qualifies. Deterministic tiebreak: higher
    * score wins, then LOWER scene_id (the reference's first-scene-wins `>`
    * comparison, feature_stacking.py:162-163, made explicit — SURVEY.md
    * §7 hard part c). One single-pass `max` (partial-aggregated map-side),
    * cheaper than the window-rank formulation (no sort, no second pass).
    * The winner's fields are `s` (score), `negScene` and the bands by name.
    */
  def argmax(
      sceneIdCol: String,
      scoreCol: String,
      bands: Seq[String],
      where: Column = lit(true)): Column = {
    val packed = struct(
      (col(scoreCol).as("s") +:
        (lit(0L) - col(sceneIdCol)).as("negScene") +:
        bands.map(col)): _*)
    max(when(where && col(scoreCol).isNotNull, packed))
  }

  /** A2 — argmax composite: the full band vector of the scene with maximal
    * `scoreCol` per pixel; pixels with no non-NULL score are dropped.
    */
  def argmaxComposite(
      scenes: DataFrame,
      pixelKey: Seq[String],
      sceneIdCol: String,
      scoreCol: String,
      bands: Seq[String]): DataFrame =
    scenes
      .filter(col(scoreCol).isNotNull)
      .groupBy(pixelKey.map(col): _*)
      .agg(argmax(sceneIdCol, scoreCol, bands).as("best"))
      .select((pixelKey.map(col) :+
        (lit(0L) - col("best.negScene")).as(sceneIdCol) :+
        col("best.s").as(scoreCol)) ++
        bands.map(b => col(s"best.$b").as(b)): _*)

  /** A4/M8 — 2%/98% contrast stretch of every `valueCols` channel per
    * group (image_segmentation.py:43-51), appending `<c>_8bit`. Two-pass:
    * ONE aggregation computes the cuts of all channels (one
    * `percentile(c, array(lo, hi))` per channel), ONE broadcast join
    * brings them back. The cuts table is tiny (one row per tile), so the
    * join back is a broadcast, never a shuffle of the big side.
    */
  def withStretch(
      df: DataFrame,
      groupKey: Seq[String],
      valueCols: Seq[String],
      lo: Double = 0.02,
      hi: Double = 0.98): DataFrame = {
    require(valueCols.nonEmpty, "withStretch needs at least one channel")
    val cutCol = valueCols.map(c => c -> s"__cuts_$c").toMap
    val cuts = df.groupBy(groupKey.map(col): _*)
      .agg(
        percentile(col(valueCols.head), array(lit(lo), lit(hi))).as(cutCol(valueCols.head)),
        valueCols.tail.map(c => percentile(col(c), array(lit(lo), lit(hi))).as(cutCol(c))): _*)
    valueCols
      .foldLeft(df.join(broadcast(cuts), groupKey)) { (out, c) =>
        val cut = col(cutCol(c))
        out.withColumn(s"${c}_8bit", graft.functions.ScalarOps.stretch8bit(
          col(c), element_at(cut, 1), element_at(cut, 2)))
      }
      .drop(valueCols.map(cutCol): _*)
  }
}
