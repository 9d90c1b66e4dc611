package graft

import graft.operators.GeoParquet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoParquetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def features = Seq(
    (1L, "POINT (3.5 -2.25)", "a"),
    (2L, "LINESTRING (0 0, 4.5 1.25, 6 -3)", "b"),
    (3L, "POLYGON ((0 0, 10 0, 10 5, 0 5, 0 0), (2 1, 3 1, 3 2, 2 2, 2 1))", "c"),
    (4L, null.asInstanceOf[String], "d")
  ).toDF("fid", "geom", "tag")

  test("roundtrip: write -> read is the identity on WKT + attributes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gpq").toString + "/store"
    GeoParquet.writeGeoParquet(features, dir, geomCol = "geom")
    val back = GeoParquet.readGeoParquet(spark, dir)
      .select("fid", "geom", "tag").orderBy("fid").collect()
    val want = features.orderBy("fid").collect()
    assert(back.length == want.length)
    back.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      // canonical WKT spelling comes back: doubles re-print shortest-form
      if (w.isNullAt(1)) assert(g.isNullAt(1))
      else {
        val norm = "(-?\\d+(?:\\.\\d+)?)".r
        def nums(s: String) = norm.findAllIn(s).map(_.toDouble).toSeq
        assert(nums(g.getString(1)) == nums(w.getString(1)), g.getString(1))
        assert(g.getString(1).takeWhile(_ != ' ') == w.getString(1).takeWhile(_ != ' '))
      }
      assert(g.getString(2) == w.getString(2))
    }
  }

  test("external shape: the geo footer entry is spec-shaped JSON on every part-file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gpq2").toString + "/store"
    GeoParquet.writeGeoParquet(features.repartition(3), dir, geomCol = "geom")
    val json = GeoParquet.geoMetadata(dir).get
    // the exact keys geopandas/GDAL look for
    assert(json.contains("\"version\":\"1.0.0\""))
    assert(json.contains("\"primary_column\":\"geom\""))
    assert(json.contains("\"encoding\":\"WKB\""))
    assert(json.contains("\"geometry_types\":[\"LineString\",\"Point\",\"Polygon\"]"))
    assert(json.contains("\"crs\":null"))
    // bbox spans all features: x in [0,10], y in [-3,5]
    assert(json.contains("\"bbox\":[0.0,-3.0,10.0,5.0]"), json)
    // EVERY part-file footer carries it (a reader may open any file first)
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(parts.length > 1) // repartition(3) with 4 rows → >1 part
    parts.foreach { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try {
        val kv = r.getFooter.getFileMetaData.getKeyValueMetaData
        assert(kv.get("geo") == json, f.getName)
        // Spark's own schema entry survives the footer rewrite
        assert(kv.containsKey("org.apache.spark.sql.parquet.row.metadata"), f.getName)
      } finally r.close()
    }
    // the store is still plain-parquet readable, geometry as binary WKB
    val raw = spark.read.parquet(dir)
    assert(raw.schema("geom").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(raw.count() == 4)
  }

  test("PROJJSON from WKT: projected/geographic CRS footers parse as spec-shaped documents") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    // WKT1 State Plane (ftUS LCC) — the documented interop hazard case
    val spPrj = """PROJCS["NAD83 / Texas Central (ftUS)",GEOGCS["NAD83",""" +
      """DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,298.257222101]],""" +
      """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
      """PROJECTION["Lambert_Conformal_Conic_2SP"],""" +
      """PARAMETER["standard_parallel_1",31.88333333333333],""" +
      """PARAMETER["standard_parallel_2",30.11666666666667],""" +
      """PARAMETER["latitude_of_origin",29.66666666666667],""" +
      """PARAMETER["central_meridian",-100.3333333333333],""" +
      """PARAMETER["false_easting",2296583.333333333],""" +
      """PARAMETER["false_northing",9842500],""" +
      """UNIT["US survey foot",0.3048006096012192]]"""
    val json = operators.CrsWkt.toProjjson(spPrj)
    val doc = mapper.readTree(json) // must be well-formed JSON
    assert(doc.get("type").asText == "ProjectedCRS")
    assert(doc.get("base_crs").get("datum").get("ellipsoid")
      .get("inverse_flattening").asDouble == 298.257222101)
    val conv = doc.get("conversion")
    assert(conv.get("method").get("id").get("code").asInt == 9802)
    val params = (0 until conv.get("parameters").size())
      .map(conv.get("parameters").get)
      .map(p => p.get("name").asText -> p.get("value").asDouble).toMap
    assert(params("Latitude of 1st standard parallel") == 31.88333333333333)
    // linear parameters are emitted in METRES (ftUS value × factor)
    assert(math.abs(params("Easting at false origin") -
      2296583.333333333 * 0.3048006096012192) < 1e-6)
    // the axis unit keeps the declared ftUS
    val unit = doc.get("coordinate_system").get("axis").get(0).get("unit")
    assert(unit.get("name").asText == "US survey foot")
    // geographic WKT1 emits a GeographicCRS
    val geog = mapper.readTree(operators.CrsWkt.toProjjson(
      """GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],""" +
        """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]"""))
    assert(geog.get("type").asText == "GeographicCRS")
    assert(geog.get("datum").get("name").asText == "WGS 1984")
    // the write path lands it in the footer
    val dir = java.nio.file.Files.createTempDirectory("graft_gpq6").toString + "/utm"
    GeoParquet.writeGeoParquet(features.limit(2), dir, "geom", crsWkt = Some(spPrj))
    val footer = GeoParquet.geoMetadata(dir).get
    val crsNode = mapper.readTree(footer).get("columns").get("geom").get("crs")
    assert(crsNode != null && !crsNode.isNull && crsNode.get("type").asText == "ProjectedCRS")
    // EPSG shorthand (r12): the parameter tree derives from the shipped
    // table's own parameterization — BYTE-IDENTICAL to the .prj path's
    // document for the same CRS
    val utm33Prj = """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",""" +
      """DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],""" +
      """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
      """PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],""" +
      """PARAMETER["central_meridian",15],PARAMETER["scale_factor",0.9996],""" +
      """PARAMETER["false_easting",500000],PARAMETER["false_northing",0],""" +
      """UNIT["metre",1]]"""
    assert(operators.CrsWkt.toProjjson("EPSG:32633") ==
      operators.CrsWkt.toProjjson(utm33Prj))
    // an out-of-table code still rejects descriptively
    val e = intercept[IllegalArgumentException](operators.CrsWkt.toProjjson("EPSG:27700"))
    assert(e.getMessage.contains("WKT"), e.getMessage)
  }

  test("crs passes through verbatim; plain parquet and non-WKB fail closed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gpq3").toString + "/store"
    val projjson = """{"type":"GeographicCRS","name":"WGS 84"}"""
    GeoParquet.writeGeoParquet(features.limit(1), dir, "geom", Some(projjson))
    assert(GeoParquet.geoMetadata(dir).get.contains(s""""crs":$projjson"""))
    // plain parquet rejects descriptively
    val plain = java.nio.file.Files.createTempDirectory("graft_gpq4").toString + "/p"
    features.limit(1).write.parquet(plain)
    val e = intercept[IllegalArgumentException](GeoParquet.readGeoParquet(spark, plain))
    assert(e.getMessage.contains("no GeoParquet"), e.getMessage)
    // a geo footer naming a non-binary column rejects descriptively
    val bad = java.nio.file.Files.createTempDirectory("graft_gpq5").toString + "/b"
    features.limit(1).write.parquet(bad)
    val badJson = """{"version":"1.0.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","geometry_types":[],"crs":null}}}"""
    new java.io.File(bad).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => GeoParquet.addGeoFooter(f.getAbsolutePath, badJson))
    val e2 = intercept[IllegalArgumentException](GeoParquet.readGeoParquet(spark, bad))
    assert(e2.getMessage.contains("not binary WKB"), e2.getMessage)
  }

  test("stats ride the write: input evaluated once, any-case type words, fail-closed types") {
    // every input row is evaluated once: the bbox/types are observed on
    // the write itself, not gathered by a separate pass
    val evals = spark.sparkContext.longAccumulator("gpq_evals")
    val touch = udf { (s: String) => evals.add(1); s }.asNondeterministic()
    val dir = java.nio.file.Files.createTempDirectory("graft_gpq7").toString + "/store"
    GeoParquet.writeGeoParquet(features.withColumn("geom", touch(col("geom"))), dir, "geom")
    assert(evals.sum == 4)
    assert(GeoParquet.geoMetadata(dir).get.contains("\"bbox\":[0.0,-3.0,10.0,5.0]"))
    // type words in any case map to the spec spellings
    val mixed = Seq((1L, "point (1 2)"), (2L, "Point (3 4)"), (3L, "LineString (0 0, 1 1)"))
      .toDF("fid", "geom")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_gpq8").toString + "/store"
    GeoParquet.writeGeoParquet(mixed, dir2, "geom")
    assert(GeoParquet.geoMetadata(dir2).get
      .contains("\"geometry_types\":[\"LineString\",\"Point\"]"))
    // an empty frame writes a store with no bbox and no types
    val dir3 = java.nio.file.Files.createTempDirectory("graft_gpq9").toString + "/store"
    GeoParquet.writeGeoParquet(features.limit(0), dir3, "geom")
    val empty = GeoParquet.geoMetadata(dir3).getOrElse("")
    assert(empty.contains("\"geometry_types\":[]") && !empty.contains("bbox"), empty)
    // a word outside the six types fails the write with the type named;
    // the overwrite has cleared the store that was at the path before
    val dir4 = java.nio.file.Files.createTempDirectory("graft_gpq10").toString + "/store"
    GeoParquet.writeGeoParquet(mixed, dir4, "geom")
    assert(GeoParquet.geoMetadata(dir4).isDefined)
    // (read from parquet: over a local frame the optimizer would evaluate
    // the conversion while planning, before the write clears the path)
    val badDir = java.nio.file.Files.createTempDirectory("graft_gpq11").toString + "/in"
    Seq((1L, "POINT (1 2)"), (2L, "triangle ((0 0, 1 0, 0 1, 0 0))")).toDF("fid", "geom")
      .write.parquet(badDir)
    val bad = spark.read.parquet(badDir)
    val e = intercept[Exception](GeoParquet.writeGeoParquet(bad, dir4, "geom"))
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i }
    assert(cause.exists(_.getMessage.contains("geom carries WKT type 'TRIANGLE'")), e)
    val left = Option(new java.io.File(dir4).list()).getOrElse(Array.empty[String])
    assert(!left.exists(_.endsWith(".parquet")), left.mkString(","))
  }

  test("all six geometry types round-trip through writeGeoParquet; both MULTIPOINT spellings") {
    val six = Seq(
      (1L, "POINT (3.5 -2.25)"),
      (2L, "LINESTRING (0.0 0.0, 4.5 1.25, 6.0 -3.0)"),
      (3L, "POLYGON ((0.0 0.0, 10.0 0.0, 10.0 5.0, 0.0 0.0), (2.0 1.0, 3.0 1.0, 3.0 2.0, 2.0 1.0))"),
      (4L, "MULTIPOINT ((1.0 2.0), (3.0 4.0))"),
      (5L, "MULTIPOINT (5.0 6.0, -7.5 8.25)"),
      (6L, "MULTILINESTRING ((0.0 0.0, 1.0 1.0), (2.0 2.0, 3.0 1.0, 4.0 4.0))"),
      (7L, "MULTIPOLYGON (((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0)), " +
        "((5.0 5.0, 9.0 5.0, 9.0 9.0, 5.0 5.0), (6.0 6.0, 7.0 6.0, 7.0 7.0, 6.0 6.0)))"))
    val dir = java.nio.file.Files.createTempDirectory("graft_gpq12").toString + "/store"
    GeoParquet.writeGeoParquet(six.toDF("fid", "geom"), dir, "geom")
    val back = GeoParquet.readGeoParquet(spark, dir).orderBy("fid")
      .select("geom").as[String].collect().toSeq
    // the bare MULTIPOINT spelling comes back parenthesized (canonical)
    assert(back == six.map(_._2).updated(4, "MULTIPOINT ((5.0 6.0), (-7.5 8.25))"))
    assert(GeoParquet.geoMetadata(dir).get.contains("\"geometry_types\":[\"LineString\"," +
      "\"MultiLineString\",\"MultiPoint\",\"MultiPolygon\",\"Point\",\"Polygon\"]"))
    assert(GeoParquet.geoMetadata(dir).get.contains("\"bbox\":[-7.5,-3.0,10.0,9.0]"))
  }
}
