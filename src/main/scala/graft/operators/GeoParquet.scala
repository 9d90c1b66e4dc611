package graft.operators

import graft.functions.SpatialOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import scala.util.control.NonFatal

/** GeoParquet interop — the `geo` parquet file-metadata contract that
  * makes the engine's vector frames readable as SPATIAL data by
  * geopandas/GDAL/DuckDB-spatial, and their GeoParquet artifacts
  * ingestable here. The reference's vector artifacts are its stage-2/3
  * outputs (image_segmentation.py:153-162, object_classifier.py:193-213
  * write per-tile vector files); its published approach line pairs them
  * with "Parquet/GeoParquet" storage — this operator is the
  * parquet-native half next to the GPKG/SHP codecs.
  *
  * Write: WKT geometry column → WKB binary (the GeoParquet 1.0 encoding)
  * via the engine's own WKB bridge, in a normal distributed parquet write
  * that also gathers the file-level bbox + geometry_types (an accumulator
  * — no separate stats pass over the input), then a per-file footer
  * rewrite appending the `geo` key-value entry
  * (parquet-mr `ParquetFileWriter.appendFile` — row groups are copied
  * byte-for-byte, only the footer changes). The rewrite runs ON THE
  * EXECUTORS (one task per part-file), so a 100 TB store never routes
  * bytes through the driver; the driver sees only file names.
  *
  * Read: the `geo` footer of one part-file names the primary geometry
  * column and its encoding (driver-side, one footer — O(KB)); the scan
  * itself is a normal distributed parquet read with WKB → WKT decoded
  * per row. Files without `geo` metadata reject descriptively — reading
  * a plain parquet store as spatial would silently fabricate geometry
  * semantics.
  */
object GeoParquet {

  /** WKT type word (upper case) → its GeoParquet `geometry_types`
    * spelling: the six simple-features types the spec admits.
    */
  private val GeometryTypes = Map(
    "POINT" -> "Point", "LINESTRING" -> "LineString", "POLYGON" -> "Polygon",
    "MULTIPOINT" -> "MultiPoint", "MULTILINESTRING" -> "MultiLineString",
    "MULTIPOLYGON" -> "MultiPolygon")

  /** GeoParquet 1.0.0 `geo` metadata JSON (hand-emitted — keys ordered,
    * all strings escaped; the repo's Verify JSON rules).
    */
  private def geoJson(
      geomCol: String,
      geometryTypes: Seq[String],
      bbox: Option[(Double, Double, Double, Double)],
      crsProjjson: Option[String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val types = geometryTypes.sorted.map(q).mkString("[", ",", "]")
    val bb = bbox.map { case (x0, y0, x1, y1) => s""","bbox":[$x0,$y0,$x1,$y1]""" }
      .getOrElse("")
    // crs is PROJJSON per spec; absent/null means OGC:CRS84 — the caller
    // passes a ready PROJJSON document verbatim (building PROJJSON from
    // WKT is out of scope; null is the spec's documented default)
    val crs = crsProjjson.map(j => s""","crs":$j""").getOrElse(""","crs":null""")
    s"""{"version":"1.0.0","primary_column":${q(geomCol)},"columns":{${q(geomCol)}:{"encoding":"WKB","geometry_types":$types$bb$crs}}}"""
  }

  /** WKB bytes → WKT string as a column (null-propagating). */
  private[graft] def wkbToWktCol(wkb: Column): Column = {
    val f = udf((b: Array[Byte]) => if (b == null) null else GeoPackage.wkbToWkt(b, 0))
    f(wkb)
  }

  /** Write `df` as GeoParquet: `geomCol` (WKT strings) becomes a WKB
    * binary column and every part-file footer carries the `geo` entry.
    * `df` is evaluated once: the stats (bbox + geometry_types) are
    * gathered by the write itself and read once it has finished. A
    * geometry type outside the six GeoParquet types fails the write task
    * with an IllegalArgumentException (the cause of the write's
    * SparkException). Like any failed overwrite, a failed write leaves
    * `path` cleared: a store that was there before is gone.
    */
  def writeGeoParquet(
      df: DataFrame,
      path: String,
      geomCol: String = "geom",
      crsProjjson: Option[String] = None,
      /** CRS as WKT1/WKT2 text (a `.prj` string): emitted as PROJJSON
        * through the engine's own CRS front door (r11 — projected-CRS
        * stores stop defaulting to null/CRS84). A ready `crsProjjson`
        * document wins when both are given.
        */
      crsWkt: Option[String] = None): Unit = {
    require(df.schema(geomCol).dataType == StringType,
      s"$geomCol must be WKT strings, got ${df.schema(geomCol).dataType.simpleString}")
    val crsJson = crsProjjson.orElse(crsWkt.map(CrsWkt.toProjjson))
    // The stats ride the write: the WKT→WKB conversion also feeds each
    // row's envelope and type word into an accumulator, so `df` is
    // evaluated once. (Not `Dataset.observe`: on Spark 4.1 it leaves a
    // non-serializable ObservationManager on the session, and an RF
    // model's training summary carries the session into inference tasks —
    // m1_rf_classify failed "Task not serializable" after a write.) The type
    // word is taken as written and upper-cased on the driver: Spark's
    // `upper` goes through ICU case mapping, whose first use in a JVM is a
    // costly class init.
    //
    // Fail-closed: a type word outside the six spec types must not reach
    // geometry_types in a non-spec spelling — readers key dispatch on
    // these strings — so it fails the row. A value whose first word the
    // regex couldn't extract (empty) is left to the WKB encoder.
    val stats = new GeoStats
    df.sparkSession.sparkContext.register(stats)
    val toWkb = udf { (wkt: String, x0: java.lang.Double, y0: java.lang.Double,
        x1: java.lang.Double, y1: java.lang.Double, word: String) =>
      if (word != null && word.nonEmpty && !GeometryTypes.keys.exists(_.equalsIgnoreCase(word)))
        throw new IllegalArgumentException(
          s"$geomCol carries WKT type '${word.toUpperCase(java.util.Locale.ROOT)}' — " +
            "GeoParquet geometry_types admits only the six simple-features types")
      stats.add(GeoStats.Obs(Array(x0, y0, x1, y1), word))
      if (wkt == null) null else GeoPackage.wktToWkb(wkt)
    }
    val env = SpatialOps.wktEnvelope(col(geomCol))
    df.withColumn(geomCol, toWkb(col(geomCol),
        env.getField("xmin"), env.getField("ymin"), env.getField("xmax"), env.getField("ymax"),
        regexp_extract(col(geomCol), "^\\s*([A-Za-z]+)", 1)))
      .write.mode("overwrite").parquet(path)
    val bbox = stats.extremes match {
      case Array(Some(x0), Some(y0), Some(x1), Some(y1)) => Some((x0, y0, x1, y1))
      case _ => None
    }
    // WKT words → the spec spellings (every word passed the check above)
    val types = stats.words.toSeq.filter(_.nonEmpty)
      .map(w => GeometryTypes(w.toUpperCase(java.util.Locale.ROOT))).distinct
    val json = geoJson(geomCol, types, bbox, crsJson)
    // footer rewrite, one executor task per part-file (Hadoop FS listing —
    // the store can live on HDFS/S3, not just a local directory)
    val spark = df.sparkSession
    val files = partFiles(path)
    spark.sparkContext.parallelize(files, math.max(1, files.size))
      .foreach(f => addGeoFooter(f, json))
  }

  /** Data part-files of a parquet store directory (names only — O(files)
    * driver memory, never file contents).
    */
  private def partFiles(path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString).sorted
  }

  /** Rewrite one parquet file appending the `geo` key-value footer entry.
    * Row groups are copied untouched (`appendFile`); Spark's own schema
    * entry is preserved so `spark.read.parquet` sees the identical frame.
    */
  private[graft] def addGeoFooter(file: String, json: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new Path(file)
    val in = HadoopInputFile.fromPath(p, conf)
    val (schema, kv) = {
      val r = ParquetFileReader.open(in)
      try {
        val m = r.getFooter.getFileMetaData
        (m.getSchema, new java.util.HashMap[String, String](m.getKeyValueMetaData))
      } finally r.close()
    }
    kv.put("geo", json)
    val fs = p.getFileSystem(conf)
    val tmp = new Path(file + ".geo.tmp")
    try {
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf), schema,
        ParquetFileWriter.Mode.OVERWRITE, 128L * 1024 * 1024, 8 * 1024 * 1024)
      w.start()
      w.appendFile(in)
      w.end(kv)
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case NonFatal(_) => }
        throw e
    }
    // Swap via rename-aside (never delete-then-rename): a crash at any
    // point leaves a COMPLETE file at a deterministic path — the original
    // at `file`, or mid-swap at `file + ".geo.old"`, or post-swap the
    // rewrite at `file` — so recovery is a rename, never a data loss
    // (delete-then-rename had a window where the only copy was the .tmp).
    val old = new Path(file + ".geo.old")
    if (fs.exists(old)) fs.delete(old, false)
    require(fs.rename(p, old), s"footer rewrite: cannot park original $file")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // roll back: original returns to its path
      throw new IllegalStateException(s"footer rewrite swap failed for $file")
    }
    fs.delete(old, false)
  }

  /** The `geo` footer JSON of a GeoParquet store (first part-file), or
    * None when the store carries no GeoParquet metadata.
    */
  def geoMetadata(path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    partFiles(path).headOption.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try Option(r.getFooter.getFileMetaData.getKeyValueMetaData.get("geo"))
      finally r.close()
    }
  }

  /** Read a GeoParquet store: recognizes the `geo` footer, decodes the
    * primary WKB geometry column back to the engine's WKT spelling.
    * Fails closed on plain parquet (no `geo` entry) and on non-WKB
    * encodings.
    */
  def readGeoParquet(spark: SparkSession, path: String): DataFrame = {
    val json = geoMetadata(path).getOrElse(throw new IllegalArgumentException(
      s"$path carries no GeoParquet 'geo' footer metadata — read it as plain " +
        "parquet, or write it through writeGeoParquet"))
    val primary = "\"primary_column\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"malformed geo metadata (no primary_column): ${json.take(200)}"))
    val enc = ("\"" + java.util.regex.Pattern.quote(primary) +
      "\"\\s*:\\s*\\{[^}]*\"encoding\"\\s*:\\s*\"([^\"]+)\"").r
      .findFirstMatchIn(json).map(_.group(1))
    require(enc.contains("WKB"),
      s"geometry encoding ${enc.getOrElse("<missing>")} unsupported (WKB only)")
    val df = spark.read.parquet(path)
    require(df.schema(primary).dataType == BinaryType,
      s"primary geometry column $primary is ${df.schema(primary).dataType.simpleString}, not binary WKB")
    df.withColumn(primary, wkbToWktCol(col(primary)))
  }
}

/** Accumulated GeoParquet stats of a write: per-axis envelope extremes
  * (xmin, ymin, xmax, ymax — NULL envelopes skipped, as SQL `min`/`max`
  * skip them) and the distinct WKT type words. Merging is min/max/union,
  * which is idempotent, so a retried or speculative task's updates change
  * nothing.
  */
private[operators] final class GeoStats
    extends org.apache.spark.util.AccumulatorV2[GeoStats.Obs, GeoStats] {
  var extremes: Array[Option[Double]] = Array.fill(4)(None)
  var words: Set[String] = Set.empty

  // NaN orders above every value, as in Spark SQL
  private def include(i: Int, v: Double): Unit = {
    val keep = extremes(i).exists { cur =>
      val c = java.lang.Double.compare(v, cur)
      if (i < 2) c >= 0 else c <= 0
    }
    if (!keep) extremes(i) = Some(v)
  }

  override def isZero: Boolean = extremes.forall(_.isEmpty) && words.isEmpty
  override def copy(): GeoStats = {
    val c = new GeoStats
    c.extremes = extremes.clone(); c.words = words
    c
  }
  override def reset(): Unit = { extremes = Array.fill(4)(None); words = Set.empty }
  override def add(o: GeoStats.Obs): Unit = {
    var i = 0
    while (i < 4) { if (o.env(i) != null) include(i, o.env(i).doubleValue); i += 1 }
    if (o.word != null) words += o.word
  }
  override def merge(other: org.apache.spark.util.AccumulatorV2[GeoStats.Obs, GeoStats]): Unit = {
    val o = other.value
    (0 until 4).foreach(i => o.extremes(i).foreach(include(i, _)))
    words ++= o.words
  }
  override def value: GeoStats = this
}

private[operators] object GeoStats {
  /** One row: its envelope (xmin, ymin, xmax, ymax; entries may be NULL)
    * and its WKT type word (NULL for a NULL geometry).
    */
  final case class Obs(env: Array[java.lang.Double], word: String)
}
