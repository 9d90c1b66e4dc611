package perfbench

import java.nio.file.{Files, Path}

import graft.operators.{GeoParquet, MlOps, RasterBridge, Regrid, Tiff}
import graft.pipeline.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `lulc_pipeline`: the reference's stages 0→3 chained over seeded
  * multi-scene 8-band LZW BigTIFFs with UDM2 masks, every stage
  * materialized to parquet and the object classes sunk as GeoParquet.
  */
object Lulc {
  val Bands: Seq[String] = (1 to 8).map(b => s"B$b")
  /** (file stem, month): two monthly-median scenes, two winter scenes. */
  val Scenes = Seq("s1_m04" -> 4, "s2_m07" -> 7, "s3_m12" -> 12, "s4_m01" -> 1)
  val Monthly = Seq(4, 7)
  val Winter = Seq(12, 1)
  val StackBands: Seq[String] = Seq("ndvi_m4", "ndvi_m7") ++ Bands.map("win_" + _)
  val SegBands = Seq("win_B2", "win_B4", "win_B8")
  val Classes = 5
  val NoData = -9999.0f

  /** Raster geometry. Tile:halo is 16:1 and tile:block 4:1, the
    * reference's 4096/256/1024 scaled down (BASELINE.md).
    */
  final case class Shape(tile: Int, tilesX: Int, tilesY: Int) {
    val halo: Int = tile / 16
    val block: Int = tile / 4
    val width: Int = tile * tilesX
    val height: Int = tile * tilesY
    /** Rows entering the tile kernel per core pixel, from the geometry:
      * each tile's halo'd window clipped to the raster.
      */
    def haloRatio: Double = {
      val rows = for (ty <- 0 until tilesY; tx <- 0 until tilesX) yield {
        val w = math.min(width, (tx + 1) * tile + halo) - math.max(0, tx * tile - halo)
        val h = math.min(height, (ty + 1) * tile + halo) - math.max(0, ty * tile - halo)
        w.toLong * h
      }
      rows.sum.toDouble / (width.toLong * height)
    }
  }
  object Shape {
    val main: Shape = Shape(tile = 64, tilesX = 2, tilesY = 2)
  }

  /** splitmix64 of a key: the generator's only randomness. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def unit(seed: Long, a: Long, b: Long, c: Long, d: Long): Double =
    (mix(mix(mix(mix(seed) + a) + b) + c + d * 0x632BE59BD9B4E019L) >>> 11) / (1L << 53).toDouble

  /** Write the scenes, masks and training labels for `seed`. Land cover
    * is a Voronoi map of seeded sites, one class each; each class has an
    * 8-band signature, scaled per season, plus per-pixel noise. Clouds
    * (UDM2 not clear) are two discs in the first monthly scene and two in
    * the first winter scene; the second winter scene is clear, so the
    * stack has two null patterns (all bands, or all but `ndvi_m4`) and
    * `dispatchByCombo` trains two models. About 2% of pixels carry a
    * training label.
    */
  def generate(dir: Path, seed: Long, s: Shape): Map[String, Any] = {
    val scenesDir = dir.resolve("scenes"); val masksDir = dir.resolve("udm2")
    val labelsDir = dir.resolve("labels")
    Seq(scenesDir, masksDir, labelsDir).foreach(Files.createDirectories(_))
    val nSites = 24
    val sites = (0 until nSites).map { i =>
      (unit(seed, 1, i, 0, 0) * s.height, unit(seed, 2, i, 0, 0) * s.width,
        1 + (unit(seed, 3, i, 0, 0) * Classes).toInt)
    }
    val cls = Array.tabulate(s.height, s.width) { (r, c) =>
      sites.minBy { case (sr, sc, _) => (sr - r) * (sr - r) + (sc - c) * (sc - c) }._3
    }
    // class signatures: water, forest, crop, urban, bare (B6 red, B8 nir)
    val sig = Array(
      Array(300, 400, 500, 450, 400, 300, 250, 150),
      Array(250, 350, 450, 600, 500, 300, 900, 2600),
      Array(350, 450, 600, 800, 700, 600, 1300, 2000),
      Array(900, 1000, 1100, 1150, 1200, 1250, 1300, 1400),
      Array(700, 800, 950, 1100, 1250, 1400, 1500, 1600))
    val grid = Some(Regrid.GridDef(381000.0, 3950000.0, 3.0, 3.0))
    var masked = 0L
    Scenes.zipWithIndex.foreach { case ((stem, month), si) =>
      val season = if (Winter.contains(month)) 0.6 else 1.0
      val clouds = if (si % 2 == 1) Seq.empty else (0 until 2).map { k =>
        (unit(seed, 10 + si, k, 0, 0) * s.height, unit(seed, 20 + si, k, 0, 0) * s.width,
          s.tile * (0.25 + 0.2 * unit(seed, 30 + si, k, 0, 0)))
      }
      def cloudy(r: Int, c: Int) =
        clouds.exists { case (cr, cc, rad) => (cr - r) * (cr - r) + (cc - c) * (cc - c) < rad * rad }
      val bytes = Tiff.synthMultibandTiff(s.width, s.height, s.block, s.block,
        littleEndian = true, tile = true, bands = 8, grid = grid, pad = NoData,
        lzw = true, bigTiff = true) { (b, r, c) =>
        val k = cls(r)(c) - 1
        val veg = if ((k == 1 || k == 2) && b >= 6) season else 1.0
        (sig(k)(b) * veg * (0.92 + 0.16 * unit(seed, 100 + si, b, r, c))).toFloat
      }
      Files.write(scenesDir.resolve(s"$stem.tif"), bytes)
      val mask = Tiff.synthTiff(s.width, s.height, s.block, s.block,
        littleEndian = true, tile = true, grid = grid, lzw = true, bigTiff = true) { (r, c) =>
        if (cloudy(r, c)) { masked += 1; 0.0f } else 1.0f
      }
      Files.write(masksDir.resolve(s"$stem.tif"), mask)
    }
    val labels = Tiff.synthMultibandTiff(s.width, s.height, s.block, s.block,
      littleEndian = true, tile = true, bands = 1, grid = grid, lzw = true, bigTiff = true,
      sampleBits = 32, sampleFormat = 2,
      intValues = (_, r, c) => if (unit(seed, 7, 0, r, c) < 0.02) cls(r)(c).toLong else 0L)(
      (_, _, _) => 0f)
    Files.write(labelsDir.resolve("labels.tif"), labels)
    Map("width" -> s.width, "height" -> s.height, "tile" -> s.tile, "halo" -> s.halo,
      "block" -> s.block, "scenes" -> Scenes.size, "bands" -> Bands.size,
      "masked_share" -> masked.toDouble / (Scenes.size.toLong * s.width * s.height))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
    }

  /** A directory of links to the generated inputs, per pass. */
  def linkInputs(src: Path, dst: Path): Path = {
    Seq("scenes", "udm2", "labels").foreach { sub =>
      val d = dst.resolve(sub)
      Files.createDirectories(d)
      val st = Files.list(src.resolve(sub))
      try st.forEach { f =>
        val l = d.resolve(f.getFileName)
        if (!Files.exists(l)) Files.createSymbolicLink(l, f)
      } finally st.close()
    }
    dst
  }

  /** One pass of stages 0→3 from the inputs under `in` into `out`. */
  def pipeline(spark: SparkSession, in: Path, out: Path, s: Shape, t: Tracer): Unit = {
    def path(n: String) = out.resolve(n).toString
    def read(n: String) = spark.read.parquet(path(n))
    def write(n: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(path(n))

    t.op("ingest") {
      val bands = RasterBridge.explodeBlocks(
          Tiff.readGeoTiffFiles(spark, in.resolve("scenes").toString),
          s.block, s.block, NoData, dropNodata = false)
        .groupBy("scene", "px_row", "px_col")
        .agg(max(when(col("band") === 0, col("value"))).as("B1"),
          Bands.indices.tail.map(b => max(when(col("band") === b, col("value"))).as(Bands(b))): _*)
      val clear = RasterBridge.explodeBlocks(
          Tiff.readGeoTiffFiles(spark, in.resolve("udm2").toString),
          s.block, s.block, NoData, dropNodata = false)
        .select(col("scene"), col("px_row"), col("px_col"), (col("value") === 1.0f).as("udm2_clear"))
      val scenes = bands.join(clear, Seq("scene", "px_row", "px_col"))
        .withColumn("month", regexp_extract(col("scene"), "_m([0-9]+)$", 1).cast("int"))
        .withColumn("scene_id", regexp_extract(col("scene"), "^s([0-9]+)_", 1).cast("long"))
        .drop("scene")
      val labels = RasterBridge.explodeBlocks(
          Tiff.readGeoTiffFiles(spark, in.resolve("labels").toString),
          s.block, s.block, 0.0f)
        .select(col("px_row"), col("px_col"), col("value").cast("int").as("label"))
      (scenes, labels)
    } { case (scenes, labels) => write("scenes")(scenes); write("labels")(labels) }

    t.op("featureStack")(Stages.featureStack(read("scenes"), Bands, Monthly, Winter))(write("stack"))

    t.op("classifyPixels") {
      val stack = read("stack")
      val training = stack.join(read("labels"), Seq("px_row", "px_col"))
      Stages.classifyPixels(stack, training, StackBands)
        .select("px_row", "px_col", "combo", "pred_label", "confidence")
    }(write("pixel_classes"))

    t.op("prepareSegmentationFeatures") {
      val px = read("stack").select(col("px_row") +: col("px_col") +:
        SegBands.map(b => coalesce(col(b), lit(0.0f)).as(b)): _*)
      Stages.prepareSegmentationFeatures(px, SegBands, s.tile)
        .select(col("px_row") +: col("px_col") +:
          (SegBands :+ "pca1").map(b => col(s"${b}_8bit").cast("float").as(s"${b}_8bit")): _*)
    }(write("seg_features"))

    t.op("segment") {
      Stages.segment(read("seg_features"), (SegBands :+ "pca1").map(_ + "_8bit"), s.tile, s.halo)
    }(write("segments"))

    t.op("polygons")(Stages.polygons(read("segments")))(write("polygons"))

    t.op("segmentFeatures") {
      Stages.segmentFeatures(read("stack"), read("segments").select("px_row", "px_col", "seg_id"),
        Bands.map("win_" + _))
    }(write("segment_features"))

    t.op("classifyObjects") {
      // main prediction: each segment's majority pixel class; one segment
      // in ten has none, so the backup model answers for it
      val votes = read("pixel_classes").join(read("segments"), Seq("px_row", "px_col"))
        .groupBy("seg_id", "pred_label").agg(count(lit(1)).as("n"))
      val lookup = votes
        .withColumn("rk", row_number().over(
          Window.partitionBy("seg_id").orderBy(col("n").desc, col("pred_label").asc)))
        .filter(col("rk") === 1 && col("seg_id") % 10 =!= 3)
        .select(col("seg_id"), col("pred_label").as("main_pred"))
      val feats = read("segment_features").na.fill(0.0)
      val featCols = Bands.map(b => s"mean_win_$b") ++ Seq("rectangularity", "elongation")
      val backup = MlOps.trainRf(feats.join(lookup, "seg_id"), featCols, "main_pred",
        numTrees = 10, maxDepth = 5)
      Stages.classifyObjects(feats, lookup, backup).select("seg_id", "PredClass")
    }(write("object_classes"))

    t.op("geoparquet") {
      read("object_classes").join(
        read("polygons").filter(col("part") === 0).select("seg_id", "wkt"), "seg_id")
    } { df => GeoParquet.writeGeoParquet(df, path("objects_geoparquet"), geomCol = "wkt") }
  }

  val StageFns = Seq("featureStack", "classifyPixels", "prepareSegmentationFeatures",
    "segment", "polygons", "segmentFeatures", "classifyObjects")
}

/** `hashes`: also hash every stage output, for the golden check. */
final class Lulc(seed: Long, work: Path, hashes: Boolean = false) extends Workload {
  import Lulc._

  private val input = work.resolve("input/lulc")
  private var shapeFacts: Map[String, Any] = Map.empty
  private val out = work.resolve("out")
  private var written = 0L
  private var combos = 0L
  private val stageHashes = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Generates the inputs; returns seconds taken. */
  def prepare(): Double = {
    val t0 = System.nanoTime()
    shapeFacts = generate(input, seed, Shape.main)
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass of the pipeline, reading its own links to the inputs and
    * writing its own outputs, timed cold as a batch job runs.
    */
  def run(spark: SparkSession, t: Tracer): Unit = {
    t.group("pass")(pipeline(spark, linkInputs(input, work.resolve("dirs/pass")), out, Shape.main, t))
    written = dirBytes(out)
  }

  /** Invariants of the timed pass's outputs, and per-stage hashes. */
  def check(spark: SparkSession): Seq[(String, Option[String])] = {
    def read(n: String) = spark.read.parquet(out.resolve(n).toString)
    def expect(op: String, ok: Boolean, msg: => String) = op -> (if (ok) None else Some(msg))
    val stack = read("stack")
    val px = read("pixel_classes")
    val segs = read("segments")
    val polys = read("polygons")
    val objs = read("object_classes")
    val nPixels = Shape.main.width.toLong * Shape.main.height
    // one aggregation per output where one will do: each action is a job
    val st = stack.agg(count(lit(1)),
      count(when(StackBands.map(col(_).isNotNull).reduce(_ || _), 1))).head()
    val (nStack, valid) = (st.getLong(0), st.getLong(1))
    val p = px.agg(count(lit(1)), countDistinct(col("px_row"), col("px_col")),
      countDistinct(col("combo"))).head()
    val (nPx, nPxDistinct) = (p.getLong(0), p.getLong(1))
    combos = p.getLong(2)
    val sg = segs.agg(count(lit(1)), count(col("seg_id")),
      countDistinct(col("px_row"), col("px_col")), countDistinct(col("seg_id"))).head()
    val (nSeg, nSegIdRows, nSegPx, nSegIds) = (sg.getLong(0), sg.getLong(1), sg.getLong(2), sg.getLong(3))
    val multiTile = segs.groupBy("seg_id")
      .agg(countDistinct(col("tile_x"), col("tile_y")).as("t")).filter(col("t") =!= 1).count()
    val cellMismatch = polys.groupBy("seg_id").agg(sum("n_cells").as("cells"))
      .join(segs.groupBy("seg_id").agg(count(lit(1)).as("px")), Seq("seg_id"), "full")
      .filter(col("cells").isNull || col("px").isNull || col("cells") =!= col("px")).count()
    val o = objs.agg(count(lit(1)), countDistinct(col("seg_id"))).head()
    val (nObj, nObjIds) = (o.getLong(0), o.getLong(1))
    def h(df: DataFrame, key: String*) =
      Hash.md5(df.orderBy(key.map(col): _*).collect().mkString("\n"))
    if (hashes) {
      stageHashes("stack") = h(stack, "px_row", "px_col")
      stageHashes("pixel_classes") = h(px, "px_row", "px_col")
      stageHashes("segments") = h(segs, "px_row", "px_col")
      stageHashes("polygons") = h(polys, "seg_id", "part")
      stageHashes("object_classes") = h(objs, "seg_id")
    }
    Seq(
      expect("featureStack", nStack == nPixels, s"stack has $nStack rows, raster $nPixels"),
      expect("classifyPixels", nPx == valid && nPxDistinct == nPx,
        s"$nPx classified rows ($nPxDistinct distinct) for $valid valid pixels"),
      expect("segment", nSeg == nPixels && nSegPx == nSeg && nSegIdRows == nSeg && multiTile == 0,
        s"$nSeg segment rows ($nSegIdRows with an id), $nSegPx distinct pixels of $nPixels, " +
          s"$multiTile ids in several tiles"),
      expect("polygons", cellMismatch == 0, s"$cellMismatch segments whose polygon cells differ"),
      expect("classifyObjects", nObj == nSegIds && nObjIds == nObj,
        s"$nObj object rows ($nObjIds distinct) for $nSegIds segments"))
  }

  override def bytesWritten: Long = written
  override def bytesIn: Long = dirBytes(input)

  override def layerMetrics(tracer: Tracer): Seq[(String, Double)] = {
    val leaf = tracer.leafSpans
    def of(n: String) = leaf.filter(_.name == n)
    StageFns.flatMap { f =>
      val sp = of(f)
      Seq(s"stages.$f.construct_s" -> sp.map(_.constructNs / 1e9).sum,
        s"stages.$f.exec_s" -> sp.map(x => x.wallS - x.constructNs / 1e9).sum,
        s"stages.$f.shuffle_bytes" -> sp.map(_.c.shuffleWriteBytes.toDouble).sum,
        s"stages.$f.rows_out" -> sp.map(_.c.outputRecords.toDouble).sum)
    } ++ Seq(
      "stages.segment.halo_ratio" -> Shape.main.haloRatio,
      "operators.tiff.decode_s" -> of("ingest").map(_.wallS).sum,
      "operators.tiff.bytes_in" -> dirBytes(input).toDouble * of("ingest").size,
      "operators.geoparquet.write_s" -> of("geoparquet").map(_.wallS).sum,
      "operators.geoparquet.bytes" -> of("geoparquet").map(_.c.outputBytes.toDouble).sum)
  }

  override def facts: Map[String, Any] = shapeFacts ++ Map(
    "null_pattern_combos" -> combos,
    "halo_ratio_computed" -> Shape.main.haloRatio,
    "input_bytes" -> dirBytes(input), "hashes" -> stageHashes.toMap)
}
