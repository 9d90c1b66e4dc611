package graft

import graft.operators.GeoPackage
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GeoPackage reader invariants (object_classifier.py:193-213 interchange
  * shape): the synth writer and the SQLite b-tree walker must agree, the
  * geometry blobs must decode to WKT, and the many-files path must scale
  * by file.
  */
class GeoPackageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def feats(n: Int, offset: Int = 0) = (0 until n).map { i =>
    val x = (i + offset).toDouble
    val ring = Seq((x, 0.0), (x + 1.0, 0.0), (x + 1.0, 1.0), (x, 1.0), (x, 0.0))
    (i.toLong + 1, GeoPackage.gpkgPolygonBlob(ring), s"f$i", i * 0.5)
  }

  test("single-leaf round trip: schema, rowid alias, WKT decode") {
    val gpkg = GeoPackage.synthGpkg("layer_a", feats(5))
    assert(GeoPackage.layersOf(gpkg) == Seq("layer_a"))
    val df = GeoPackage.readLayer(spark, gpkg, "layer_a")
    assert(df.schema.fieldNames.toSeq == Seq("fid", "geom", "name", "value"))
    val rows = df.orderBy("fid").collect()
    assert(rows.length == 5)
    assert(rows(0).getLong(0) == 1L) // fid via INTEGER PRIMARY KEY rowid alias
    assert(rows(0).getString(1) ==
      "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))")
    assert(rows(2).getString(2) == "f2" && rows(2).getDouble(3) == 1.0)
  }

  test("multi-leaf b-tree (interior page) reads back every feature") {
    val n = 120 // ~120-byte cells: forces several 4096-byte leaves
    val gpkg = GeoPackage.synthGpkg("big", feats(n))
    val df = GeoPackage.readLayer(spark, gpkg, "big")
    assert(df.count() == n)
    assert(df.agg(min("fid"), max("fid")).head() ==
      org.apache.spark.sql.Row(1L, n.toLong))
    // spot-check a row from a non-first leaf
    val r77 = df.filter(col("fid") === 77).head()
    assert(r77.getString(2) == "f76" && r77.getDouble(3) == 76 * 0.5)
  }

  test("readLayerFiles: one task per file, union of all features") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gpkg").toString
    for (f <- 0 until 3) {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/tile_$f.gpkg"),
        GeoPackage.synthGpkg("tiles", feats(4, offset = 10 * f)))
    }
    val df = GeoPackage.readLayerFiles(spark, dir)
    assert(df.count() == 12)
    // per-tile x offsets survive: 3 distinct first-corner x values per fid 1
    val firsts = df.filter(col("fid") === 1).select("geom").as[String].collect()
    assert(firsts.toSet.size == 3)
  }

  // ---- the WRITE path (object_classifier.py:193-213 shape) ----

  test("writeLayer -> readLayer round-trips an arbitrary-schema frame") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("fid", LongType), StructField("geom", StringType),
      StructField("label", StringType), StructField("score", DoubleType),
      StructField("aux", LongType)))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(3L, "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 1.0, 0.0 0.0))", "water", 0.25, 7L),
        org.apache.spark.sql.Row(1L, "POINT (4.5 -1.25)", "tree", 0.5, null),
        org.apache.spark.sql.Row(2L, "LINESTRING (0.0 0.0, 1.5 2.5, 3.0 0.0)", null, 0.75, 9L)),
      schema)
    val bytes = GeoPackage.writeLayer(src, "classified", srsId = 4326)
    assert(GeoPackage.layersOf(bytes) == Seq("classified"))
    val back = GeoPackage.readLayer(spark, bytes, "classified")
    assert(back.schema.fieldNames.toSeq == Seq("fid", "geom", "label", "score", "aux"))
    val rows = back.orderBy("fid").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // sorted by fid
    assert(rows(0).getString(1) == "POINT (4.5 -1.25)")
    assert(rows(1).getString(1) == "LINESTRING (0.0 0.0, 1.5 2.5, 3.0 0.0)")
    assert(rows(2).getString(1) == "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 1.0, 0.0 0.0))")
    assert(rows(1).isNullAt(2) && rows(0).isNullAt(4))
    assert(rows(2).getString(2) == "water" && rows(2).getDouble(3) == 0.25)
  }

  test("writeLayer round-trips a polygon with a hole and a multi-page layer") {
    import spark.implicits._
    val hole = "POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 10.0, 0.0 0.0), " +
      "(2.0 2.0, 3.0 2.0, 3.0 3.0, 2.0 2.0))"
    val big = (1 to 150).map(i => (i.toLong, hole, s"f$i", i * 0.5))
      .toDF("fid", "geom", "name", "value")
    val bytes = GeoPackage.writeLayer(big, "seg")
    val back = GeoPackage.readLayer(spark, bytes, "seg")
    assert(back.count() == 150)
    assert(back.filter(col("fid") === 99).head().getString(1) == hole)
  }

  test("writeLayer round-trips all six geometry types; both MULTIPOINT spellings") {
    import spark.implicits._
    val six = Seq(
      "POINT (4.5 -1.25)",
      "LINESTRING (0.0 0.0, 1.5 2.5, 3.0 0.0)",
      "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 1.0, 0.0 0.0))",
      "MULTIPOINT ((1.0 2.0), (3.0 4.0))",
      "MULTILINESTRING ((0.0 0.0, 1.0 1.0), (2.0 2.0, 3.0 1.0, 4.0 4.0))",
      "MULTIPOLYGON (((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0)), " +
        "((5.0 5.0, 9.0 5.0, 9.0 9.0, 5.0 5.0), (6.0 6.0, 7.0 6.0, 7.0 7.0, 6.0 6.0)))",
      "MULTIPOINT (5.0 6.0, -7.5 8.25)")
    val src = six.zipWithIndex.map { case (g, i) => (i.toLong + 1, g) }.toDF("fid", "geom")
    val back = GeoPackage.readLayer(spark, GeoPackage.writeLayer(src, "six"), "six")
      .orderBy("fid").select("geom").as[String].collect().toSeq
    // the bare MULTIPOINT spelling comes back parenthesized (canonical)
    assert(back == six.updated(6, "MULTIPOINT ((5.0 6.0), (-7.5 8.25))"))
  }

  test("writeLayerFiles shards one file per key and reads back as a union") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gpkg_w").toString
    val src = (1 to 24).map { i =>
      (i.toLong, s"POINT (${i * 1.0} ${i * 2.0})", s"tile_${i % 3}", i * 0.25)
    }.toDF("fid", "geom", "tile", "score")
    GeoPackage.writeLayerFiles(src, dir, "pts", keyCol = "tile")
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("tile_0.gpkg", "tile_1.gpkg", "tile_2.gpkg"))
    val back = GeoPackage.readLayerFiles(spark, dir)
    assert(back.count() == 24)
    assert(back.select(org.apache.spark.sql.functions.sum("score")).head().getDouble(0)
      == (1 to 24).map(_ * 0.25).sum)
  }

  test("writer rejects unsupported shapes loudly") {
    import spark.implicits._
    val badGeom = Seq((1L, "CIRCLE (0 0, 5)", 1.0)).toDF("fid", "geom", "v")
    intercept[IllegalArgumentException](GeoPackage.writeLayer(badGeom, "l"))
    val badFid = Seq(("a", "POINT (0 0)", 1.0)).toDF("fid", "geom", "v")
    intercept[IllegalArgumentException](GeoPackage.writeLayer(badFid, "l"))
  }

  test("writeLayers: multi-layer file enumerates in order, each layer keeps its own schema") {
    import spark.implicits._
    val a = Seq((1L, "POINT (0 0)", 2.5), (2L, "POINT (1 2)", 3.5))
      .toDF("fid", "geom", "value")
    val b = Seq((1L, "LINESTRING (0 0, 3 4)", "x", 7L))
      .toDF("fid", "geom", "tag", "n")
    val gpkg = GeoPackage.writeLayers(Seq("jan" -> a, "feb" -> b))
    assert(GeoPackage.layersOf(gpkg) == Seq("jan", "feb"))
    val ra = GeoPackage.readLayer(spark, gpkg, "jan")
    assert(ra.schema.fieldNames.toSeq == Seq("fid", "geom", "value"))
    assert(ra.orderBy("fid").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "POINT (0.0 0.0)", 2.5), (2L, "POINT (1.0 2.0)", 3.5)))
    val rb = GeoPackage.readLayer(spark, gpkg, "feb")
    assert(rb.schema.fieldNames.toSeq == Seq("fid", "geom", "tag", "n"))
    assert(rb.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq ==
      Seq((1L, "LINESTRING (0.0 0.0, 3.0 4.0)", "x", 7L)))
    // duplicate layer names reject loudly
    val e = intercept[IllegalArgumentException](
      GeoPackage.writeLayers(Seq("jan" -> a, "jan" -> a)))
    assert(e.getMessage.contains("duplicate"))
  }

  test("non-SQLite payloads and missing layers fail loudly") {
    intercept[IllegalArgumentException] {
      GeoPackage.readLayer(spark, "not a database".getBytes("UTF-8"), "x")
    }
    val gpkg = GeoPackage.synthGpkg("real", feats(2))
    val e = intercept[IllegalArgumentException] {
      GeoPackage.readLayer(spark, gpkg, "ghost")
    }
    assert(e.getMessage.contains("ghost") && e.getMessage.contains("real"))
    assert(GeoPackage.layersOf(GeoPackage.synthGpkg("l", feats(1))) == Seq("l"))
  }
}
