package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geometry and vector I/O: WKT measures, regridding, geodesic and
  * ellipsoidal measures, geometry collections, GeoPackage, shapefile and
  * GeoParquet. */
object GeoQueries extends Family {

  /** s22b's store directory per sf-dir — the write is fixture setup,
    * memoized per JVM (the g11 pattern).
    */
  private val s22bDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  query("s6_vector_source") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        octet_length(col("text")).cast("long").as("text_bytes"))
      .orderBy("doc_id")
  }("SELECT doc_id, n_chars, CAST(strlen(text) AS BIGINT) AS text_bytes FROM documents ORDER BY doc_id")

  // WGS84 constants for the g23 oracle — ALIASES of the SpatialOps values
  // the Column algebra bakes in (one derivation; the oracle's
  // interpolated doubles can never silently desynchronize)
  private val EllE2: Double = graft.functions.SpatialOps.Wgs84E2

  private val EllE: Double = graft.functions.SpatialOps.Wgs84E

  private val EllB2: Double = graft.functions.SpatialOps.Wgs84B2

  private val EllK: Double = graft.functions.SpatialOps.Deg2Rad

  /** G23 — TRUE-ellipsoid area/perimeter (r12 verdict stretch 8): the
    * g13-family lon/lat quads through `wktAreaEllipsoidal` /
    * `wktPerimeterEllipsoidal`. The quads are parallel/meridian-bounded,
    * where the trapezoidal zone sum is EXACT (zone area =
    * Δλ·(b²/2)·(F(φ2)−F(φ1))), so the oracle evaluates the closed form.
    * Outputs are fixed-point floors (area at 16 m² spacing, perimeter at
    * 1 m) — cross-engine sin/ln drift is ≤ ~1e-13·value while the margin
    * scan (tools/g23_margin_scan.py) shows every row's distance to a
    * floor boundary is orders above it.
    */
  query("g23_ellipsoidal_measures") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-96.0) + (col("p_partkey") % 50).cast("double") * lit(0.01)).as("lon0"),
      (lit(30.0) + (col("p_size") % 40).cast("double") * lit(0.01)).as("lat0"),
      (lit(0.01) + (col("p_partkey") % 7).cast("double") * lit(0.001)).as("dx"),
      (lit(0.008) + (col("p_size") % 5).cast("double") * lit(0.001)).as("dy"))
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val wkt = concat(lit("POLYGON (("),
      pt(col("lon0"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0") + col("dy")), lit(", "),
      pt(col("lon0"), col("lat0") + col("dy")), lit(", "),
      pt(col("lon0"), col("lat0")), lit("))"))
    val g = graft.functions.SpatialOps
    base.withColumn("geom", wkt)
      .select(col("pk"),
        floor(g.wktAreaEllipsoidal(col("geom")) / lit(16.0)).cast("long").as("area_fp"),
        floor(g.wktPerimeterEllipsoidal(col("geom"))).cast("long").as("perim_fp"))
      .orderBy("pk")
  }(
    // g23: the exact ellipsoidal zone closed form — the engine's
    // trapezoidal edge sum collapses to Δλ·(b²/2)·(F(φ2)−F(φ1)) on
    // parallel/meridian quads; constants interpolated so both engines
    // bake the identical doubles; fixed-point floors (margins scanned).
    s"""WITH base AS (SELECT p_partkey AS pk,
       |  -96.0 + CAST(p_partkey % 50 AS DOUBLE) * 0.01 AS lon0,
       |  30.0 + CAST(p_size % 40 AS DOUBLE) * 0.01 AS lat0,
       |  0.01 + CAST(p_partkey % 7 AS DOUBLE) * 0.001 AS dx,
       |  0.008 + CAST(p_size % 5 AS DOUBLE) * 0.001 AS dy FROM part),
       |r AS (SELECT pk, lon0 * $EllK AS l1, (lon0 + dx) * $EllK AS l2,
       |  lat0 * $EllK AS f1, (lat0 + dy) * $EllK AS f2 FROM base),
       |z AS (SELECT pk, l1, l2, f1, f2,
       |  sin(f1) AS s1, sin(f2) AS s2, (f1 + f2) / 2 AS fm FROM r),
       |m AS (SELECT pk, l1, l2, f1, f2, s1, s2,
       |  s1 / (1 - $EllE2 * s1 * s1) + ln((1 + $EllE * s1) / (1 - $EllE * s1)) / ${2 * EllE} AS zf1,
       |  s2 / (1 - $EllE2 * s2 * s2) + ln((1 + $EllE * s2) / (1 - $EllE * s2)) / ${2 * EllE} AS zf2,
       |  1 - $EllE2 * sin(fm) * sin(fm) AS w2 FROM z)
       |SELECT pk,
       |  CAST(floor(abs((l2 - l1) * (zf2 - zf1)) * ${EllB2 / 2.0} / 16.0) AS BIGINT) AS area_fp,
       |  CAST(floor(
       |    (6378137.0 / sqrt(1 - $EllE2 * s1 * s1)) * cos(f1) * (l2 - l1)
       |    + (6378137.0 / sqrt(1 - $EllE2 * s2 * s2)) * cos(f2) * (l2 - l1)
       |    + 2 * ${6378137.0 * (1 - EllE2)} / (w2 * sqrt(w2)) * (f2 - f1)
       |  ) AS BIGINT) AS perim_fp
       |FROM m ORDER BY pk""".stripMargin)

  /** S13 — GeoPackage ingestion round trip: a real single-layer GPKG
    * (SQLite container: page-1 header, sqlite_master, feature b-tree,
    * gpkg_contents — synthesized by the writer the spec proves against
    * the parser) is read back through the actual b-tree walker; geometry
    * blobs (GP header + LE WKB polygons) decode to WKT. The oracle
    * regenerates fid/WKT/name/value closed-form, so any defect in varint,
    * serial-type, cell-pointer, rowid-alias, or WKB decoding breaks the
    * hash. Layer discovery goes through gpkg_contents, not a hardcoded
    * name.
    */
  query("s13_gpkg_roundtrip") { (s, d) =>
    val features = (0 until 40).map { i =>
      val x = (i % 7).toDouble; val y = (i % 5).toDouble
      val ring = Seq((x, y), (x + 1.5, y), (x + 1.5, y + 2.5), (x, y + 2.5), (x, y))
      (i.toLong + 1, operators.GeoPackage.gpkgPolygonBlob(ring),
        s"seg_${i % 3}", i * 0.25)
    }
    val gpkg = operators.GeoPackage.synthGpkg("segments", features)
    val layer = operators.GeoPackage.layersOf(gpkg).head
    operators.GeoPackage.readLayer(s, gpkg, layer)
      .orderBy("fid")
  }(
    // s13: regenerate the GPKG features closed-form — fid is the rowid
    // alias, geometry is the WKT of the synthesized rectangle ring.
    """WITH f AS (SELECT id, CAST(id % 7 AS DOUBLE) AS x, CAST(id % 5 AS DOUBLE) AS y
      |  FROM range(40) t(id))
      |SELECT id + 1 AS fid,
      |  'POLYGON ((' ||
      |    CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |    CAST(x + 1.5 AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |    CAST(x + 1.5 AS VARCHAR) || ' ' || CAST(y + 2.5 AS VARCHAR) || ', ' ||
      |    CAST(x AS VARCHAR) || ' ' || CAST(y + 2.5 AS VARCHAR) || ', ' ||
      |    CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || '))' AS geom,
      |  'seg_' || CAST(id % 3 AS VARCHAR) AS name,
      |  CAST(id * 0.25 AS DOUBLE) AS value
      |FROM f ORDER BY fid""".stripMargin)

  /** S13b — the GPKG WRITE path round-tripped both ways: a WKT frame with
    * mixed geometry types and NULLs flows through `GeoPackage.writeLayer`
    * (CREATE TABLE synthesis, WKT→WKB→GP blobs, fid-keyed b-tree) and
    * back through the engine's own reader — the reference's
    * `object_classifier.py:193-213` layer write made verifiable. The
    * oracle regenerates the canonical WKT spellings, so any asymmetry
    * between the WKT encoder and decoder breaks the hash.
    */
  query("s13b_gpkg_write") { (s, d) =>
    import s.implicits._
    val src = (0 until 50).map { i =>
      val x = (i % 7) * 0.75; val y = (i % 5) * 1.25
      val geom =
        if (i % 10 == 0) s"POINT ($x $y)"
        else s"POLYGON (($x $y, ${x + 1.5} $y, ${x + 1.5} ${y + 2.5}, $x ${y + 2.5}, $x $y))"
      (i.toLong + 1, geom, if (i % 6 == 0) null else s"c_${i % 4}", i * 0.25)
    }.toDF("fid", "geom", "name", "value")
    val gpkg = operators.GeoPackage.writeLayer(src, "classified", srsId = 4326)
    operators.GeoPackage.readLayer(s, gpkg,
        operators.GeoPackage.layersOf(gpkg).head)
      .orderBy("fid")
  }(
    // s13b: regenerate the canonical WKT the reader emits — write path
    // (WKT->WKB->GP blob->b-tree) must be invisible end to end.
    """WITH f AS (SELECT id, CAST(id % 7 AS DOUBLE) * 0.75 AS x,
      |    CAST(id % 5 AS DOUBLE) * 1.25 AS y FROM range(50) t(id))
      |SELECT id + 1 AS fid,
      |  CASE WHEN id % 10 = 0 THEN
      |    'POINT (' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')'
      |  ELSE
      |    'POLYGON ((' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |      CAST(x + 1.5 AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |      CAST(x + 1.5 AS VARCHAR) || ' ' || CAST(y + 2.5 AS VARCHAR) || ', ' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y + 2.5 AS VARCHAR) || ', ' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || '))'
      |  END AS geom,
      |  CASE WHEN id % 6 = 0 THEN NULL
      |       ELSE 'c_' || CAST(id % 4 AS VARCHAR) END AS name,
      |  CAST(id * 0.25 AS DOUBLE) AS value
      |FROM f ORDER BY fid""".stripMargin)

  /** S13c — GPKG MULTI-LAYER round trip: two month-keyed layers with
    * DIFFERENT schemas (July carries an extra score column) in ONE
    * container — the reference's layer-set shape
    * (object_classifier.py:193-213 writes one layer per month into the
    * same GPKG). `writeLayers` assembles one sqlite_master with three
    * table entries + a two-row gpkg_contents; `layersOf` enumerates;
    * `readLayer` recovers each layer's own CREATE TABLE schema. The
    * oracle regenerates both layers closed-form — layer discovery,
    * per-layer b-tree roots, and the schema split must all be exact.
    */
  query("s13c_gpkg_multilayer") { (s, d) =>
    import s.implicits._
    val jun = (0 until 30).map { i =>
      val x = (i % 6) * 1.25; val y = (i % 5) * 0.5
      (i.toLong + 1,
        s"POLYGON (($x $y, ${x + 2.0} $y, ${x + 2.0} ${y + 1.5}, $x ${y + 1.5}, $x $y))",
        s"c_${i % 3}", i * 0.5)
    }.toDF("fid", "geom", "name", "value")
    val jul = (0 until 25).map { i =>
      val x = (i % 7) * 0.75; val y = (i % 4) * 1.5
      val geom =
        if (i % 5 == 0) s"POINT ($x $y)"
        else s"POLYGON (($x $y, ${x + 1.0} $y, ${x + 1.0} ${y + 2.0}, $x ${y + 2.0}, $x $y))"
      (i.toLong + 1, geom, if (i % 7 == 0) null else s"c_${i % 4}", i * 0.25, i * 1.5 + 0.25)
    }.toDF("fid", "geom", "name", "value", "score")
    val gpkg = operators.GeoPackage.writeLayers(Seq(
      "segments_2021_06" -> jun, "segments_2021_07" -> jul))
    val layers = operators.GeoPackage.layersOf(gpkg)
    layers.map(l => operators.GeoPackage.readLayer(s, gpkg, l).withColumn("layer", lit(l)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .select("layer", "fid", "geom", "name", "value", "score")
      .orderBy("layer", "fid")
  }(
    // s13c: both layers regenerate closed-form; the multi-table master
    // page, the two-row gpkg_contents, and each layer's own schema must
    // be exactly recovered (June's missing score column reads NULL).
    """WITH jun AS (SELECT id, CAST(id % 6 AS DOUBLE) * 1.25 AS x,
      |    CAST(id % 5 AS DOUBLE) * 0.5 AS y FROM range(30) t(id)),
      |jul AS (SELECT id, CAST(id % 7 AS DOUBLE) * 0.75 AS x,
      |    CAST(id % 4 AS DOUBLE) * 1.5 AS y FROM range(25) t(id))
      |SELECT * FROM (
      |SELECT 'segments_2021_06' AS layer, id + 1 AS fid,
      |  'POLYGON ((' ||
      |    CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |    CAST(x + 2.0 AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |    CAST(x + 2.0 AS VARCHAR) || ' ' || CAST(y + 1.5 AS VARCHAR) || ', ' ||
      |    CAST(x AS VARCHAR) || ' ' || CAST(y + 1.5 AS VARCHAR) || ', ' ||
      |    CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || '))' AS geom,
      |  'c_' || CAST(id % 3 AS VARCHAR) AS name,
      |  CAST(id * 0.5 AS DOUBLE) AS value,
      |  CAST(NULL AS DOUBLE) AS score
      |FROM jun
      |UNION ALL
      |SELECT 'segments_2021_07', id + 1,
      |  CASE WHEN id % 5 = 0 THEN
      |    'POINT (' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')'
      |  ELSE
      |    'POLYGON ((' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |      CAST(x + 1.0 AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |      CAST(x + 1.0 AS VARCHAR) || ' ' || CAST(y + 2.0 AS VARCHAR) || ', ' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y + 2.0 AS VARCHAR) || ', ' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || '))'
      |  END,
      |  CASE WHEN id % 7 = 0 THEN NULL ELSE 'c_' || CAST(id % 4 AS VARCHAR) END,
      |  CAST(id * 0.25 AS DOUBLE),
      |  CAST(id * 1.5 + 0.25 AS DOUBLE)
      |FROM jul)
      |ORDER BY layer, fid""".stripMargin)

  /** S16 — shapefile ingest: the reference's per-tile segment vectors
    * (image_segmentation.py:153-162 writes .shp + .dbf with a DN column).
    * Synth both halves with the codec's own writers, read back through
    * the actual record walkers (mixed Point/Polygon shapes, typed dBase
    * attributes), and hash-check against closed-form regeneration — any
    * defect in record framing, part decoding, or fixed-width attribute
    * parsing breaks the hash.
    */
  query("s16_shapefile") { (s, d) =>
    val wkts = (0 until 40).map { i =>
      val x = (i % 7).toDouble; val y = (i % 5).toDouble
      if (i % 8 == 0) s"POINT ($x $y)"
      else s"POLYGON (($x $y, ${x + 1.5} $y, ${x + 1.5} ${y + 2.5}, $x ${y + 2.5}, $x $y))"
    }
    val shp = operators.Shapefile.synthShp(wkts)
    val dbf = operators.Shapefile.synthDbf(
      Seq(("DN", 'N', 8, 0), ("score", 'N', 10, 3)),
      (0 until 40).map(i => Seq[Any](i.toLong * 3, i * 0.125)))
    operators.Shapefile.readFeatures(s, shp, Some(dbf)).orderBy("rec_no")
  }(
    // s16: regenerate the canonical WKT + typed dBase attributes the
    // shapefile reader emits.
    """WITH f AS (SELECT id, CAST(id % 7 AS DOUBLE) AS x,
      |    CAST(id % 5 AS DOUBLE) AS y FROM range(40) t(id))
      |SELECT CAST(id + 1 AS INT) AS rec_no,
      |  CASE WHEN id % 8 = 0 THEN
      |    'POINT (' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')'
      |  ELSE
      |    'POLYGON ((' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |      CAST(x + 1.5 AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ', ' ||
      |      CAST(x + 1.5 AS VARCHAR) || ' ' || CAST(y + 2.5 AS VARCHAR) || ', ' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y + 2.5 AS VARCHAR) || ', ' ||
      |      CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || '))'
      |  END AS geom,
      |  id * 3 AS "DN",
      |  CAST(id * 0.125 AS DOUBLE) AS score
      |FROM f ORDER BY rec_no""".stripMargin)

  /** S16B — shapefile CRS sidecar round trip: `writeFeatureFiles` shards
    * per-tile .shp/.dbf/.prj triples (the reference writes a CRS with
    * every tile, image_segmentation.py:153-162), `readFeatureFiles`
    * surfaces the WKT CRS as a column and rejects mixed-CRS directories.
    * Output omits rec_no (per-file record order is not part of the
    * contract); the (geom, DN) pairing and the carried CRS are.
    */
  query("s16b_prj_roundtrip") { (s, d) =>
    import s.implicits._
    val crs = "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
      "SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]"
    val src = (0 until 36).map { i =>
      (s"tile_${i % 3}", s"POINT (${(i % 6).toDouble} ${(i % 4).toDouble})", i.toLong * 7)
    }.toDF("tile", "geom", "DN")
    val dir = java.nio.file.Files.createTempDirectory("graft_s16b").toString
    operators.Shapefile.writeFeatureFiles(src, dir, keyCol = "tile", crsWkt = Some(crs))
    operators.Shapefile.readFeatureFiles(s, dir)
      .select("geom", "DN", "crs")
      .orderBy("DN")
  }(
    // s16b: the sharded write -> read round trip regenerates from closed
    // forms; the CRS literal must survive the .prj sidecar byte-exactly.
    """SELECT 'POINT (' || CAST(id % 6 AS VARCHAR) || '.0 ' ||
      |    CAST(id % 4 AS VARCHAR) || '.0)' AS geom,
      |  CAST(id * 7 AS BIGINT) AS "DN",
      |  'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]' AS crs
      |FROM range(36) t(id) ORDER BY "DN"""".stripMargin)

  /** G1 — WKT geometry measures end-to-end: build a rectangle polygon per
    * order from integer-derived coords, then recover area / perimeter /
    * centroid / point count by PARSING the WKT back (SpatialOps shoelace
    * HOFs). The oracle computes the closed forms directly from the same
    * integers, so any parse or shoelace defect breaks the hash. All inputs
    * are small ints → every double op is exact.
    */
  query("g1_wkt_measures") { (s, d) =>
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      (col("o_orderkey") % 100).cast("double").as("x0"),
      (col("o_custkey") % 100).cast("double").as("y0"),
      (col("o_orderkey") % 7 + 1).cast("double").as("w"),
      (col("o_custkey") % 5 + 1).cast("double").as("h"))
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val wkt = concat(lit("POLYGON (("),
      concat_ws(", ",
        pt(col("x0"), col("y0")),
        pt(col("x0") + col("w"), col("y0")),
        pt(col("x0") + col("w"), col("y0") + col("h")),
        pt(col("x0"), col("y0") + col("h")),
        pt(col("x0"), col("y0"))),
      lit("))"))
    val g = graft.functions.SpatialOps
    // staged: parse rings ONCE, share one cross column between both
    // centroid coordinates (HOFs get no CSE — unstaged this plan parses
    // the WKT seven times per row)
    base.select(col("o_orderkey"), wkt.as("geom_wkt"))
      .select(col("o_orderkey"), g.wktRings(col("geom_wkt")).as("_rings"))
      .select(col("o_orderkey"), col("_rings"), g.ringsCross(col("_rings")).as("_cross"))
      .select(col("o_orderkey"),
        round(abs(col("_cross")) / 2, 6).as("area"),
        round(g.ringsPerimeter(col("_rings")), 6).as("perimeter"),
        round(g.ringsMoment(col("_rings"), "x") / (lit(3.0) * col("_cross")), 6).as("cx"),
        round(g.ringsMoment(col("_rings"), "y") / (lit(3.0) * col("_cross")), 6).as("cy"),
        g.ringsNumPoints(col("_rings")).cast("int").as("n_points"))
      .orderBy("o_orderkey")
  }(
    // closed forms of the rectangle the Spark side round-trips through WKT
    """WITH b AS (SELECT o_orderkey, CAST(o_orderkey % 100 AS DOUBLE) AS x0,
      |  CAST(o_custkey % 100 AS DOUBLE) AS y0,
      |  CAST(o_orderkey % 7 + 1 AS DOUBLE) AS w, CAST(o_custkey % 5 + 1 AS DOUBLE) AS h
      |  FROM orders)
      |SELECT o_orderkey, round(w * h, 6) AS area, round(2 * (w + h), 6) AS perimeter,
      |  round(x0 + w / 2, 6) AS cx, round(y0 + h / 2, 6) AS cy,
      |  CAST(5 AS INTEGER) AS n_points
      |FROM b ORDER BY o_orderkey""".stripMargin)

  /** G2 — nearest-neighbor grid alignment (feature_stacking.py:72-102, the
    * Resampling.nearest mask path at :345): a 16×16 master grid reads a
    * coarser 8×8 aux raster (2×2 cells, same extent) through the full
    * affine world↔pixel mapping. Integer-friendly geometry keeps every
    * double op exact; the oracle derives the same containing-cell keys
    * arithmetically.
    */
  query("g2_regrid_nearest") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 8).cast("int").as("px_row"),
        (col("p_size") % 8).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.regridNearest(master, aux,
      operators.Regrid.GridDef(0.0, 16.0, 1.0, 1.0),
      operators.Regrid.GridDef(0.0, 16.0, 2.0, 2.0), Seq("dem"))
      .orderBy("px_row", "px_col", "dem")
  }(
    // g2/g3 replicate the affine key derivation arithmetically: master cell
    // (r,c) center = (c+0.5, 15.5−r); under the 2×2 aux grid the containing
    // cell is (floor((r+0.5)/2), floor((c+0.5)/2)) and the bilinear
    // fractional offsets are exact quarters.
    """WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 8 AS INT) AS ar, CAST(p_size % 8 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac)
      |SELECT m.px_row, m.px_col, a.dem FROM master m LEFT JOIN aux a
      |  ON a.ar = CAST(floor((m.px_row + 0.5) / 2) AS INT)
      | AND a.ac = CAST(floor((m.px_col + 0.5) / 2) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin)

  /** G3 — bilinear grid alignment (the Resampling.bilinear DEM path,
    * feature_stacking.py:319): 4-tap weighted read of the coarse raster
    * with edge-tap renormalization. Aux values are integer counts and all
    * weights are exact binary quarters (fx, fy ∈ {0.25, 0.75}), so every
    * product and sum is exact and the cross-engine hash is bit-stable
    * without rounding.
    */
  query("g3_regrid_bilinear") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 8).cast("int").as("px_row"),
        (col("p_size") % 8).cast("int").as("px_col"))
      .agg(count(lit(1)).cast("double").as("nv"))
    operators.Regrid.regridBilinear(master, aux,
      operators.Regrid.GridDef(0.0, 16.0, 1.0, 1.0),
      operators.Regrid.GridDef(0.0, 16.0, 2.0, 2.0), Seq("nv"))
      .orderBy("px_row", "px_col", "nv")
  }("""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 8 AS INT) AS ar, CAST(p_size % 8 AS INT) AS ac,
      |    CAST(count(*) AS DOUBLE) AS nv FROM part GROUP BY ar, ac),
      |t AS (SELECT px_row, px_col,
      |    CAST(floor((px_row + 0.5) / 2 - 0.5) AS INT) AS r0,
      |    CAST(floor((px_col + 0.5) / 2 - 0.5) AS INT) AS c0,
      |    ((px_row + 0.5) / 2 - 0.5) - floor((px_row + 0.5) / 2 - 0.5) AS fy,
      |    ((px_col + 0.5) / 2 - 0.5) - floor((px_col + 0.5) / 2 - 0.5) AS fx
      |  FROM master),
      |taps AS (SELECT px_row, px_col, r0 + dr.d AS ar, c0 + dc.d AS ac,
      |    (CASE WHEN dc.d = 0 THEN 1 - fx ELSE fx END) *
      |    (CASE WHEN dr.d = 0 THEN 1 - fy ELSE fy END) AS w
      |  FROM t CROSS JOIN (VALUES (0), (1)) dr(d) CROSS JOIN (VALUES (0), (1)) dc(d))
      |SELECT px_row, px_col,
      |  sum(a.nv * w) / CASE WHEN sum(CASE WHEN a.nv IS NOT NULL THEN w END) > 0
      |    THEN sum(CASE WHEN a.nv IS NOT NULL THEN w END) END AS nv
      |FROM taps LEFT JOIN aux a ON a.ar = taps.ar AND a.ac = taps.ac
      |GROUP BY px_row, px_col
      |ORDER BY px_row, px_col, nv NULLS FIRST""".stripMargin)

  /** G4 — cubic-convolution grid alignment (the Resampling.cubic imagery
    * path, feature_stacking.py:343): 16 Catmull-Rom taps per master cell.
    * Same exactness argument as g3 — integer aux values, dyadic fractional
    * offsets (0.25/0.75) make every kernel weight, product, and sum exact
    * binary, so the hash is bit-stable without rounding.
    */
  query("g4_regrid_cubic") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 8).cast("int").as("px_row"),
        (col("p_size") % 8).cast("int").as("px_col"))
      .agg(count(lit(1)).cast("double").as("nv"))
    operators.Regrid.regridCubic(master, aux,
      operators.Regrid.GridDef(0.0, 16.0, 1.0, 1.0),
      operators.Regrid.GridDef(0.0, 16.0, 2.0, 2.0), Seq("nv"))
      .orderBy("px_row", "px_col", "nv")
  }(
    // g4: same derivation as g3 with the 4×4 Catmull-Rom tap set.
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
       |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
       |aux AS (SELECT CAST(p_partkey % 8 AS INT) AS ar, CAST(p_size % 8 AS INT) AS ac,
       |    CAST(count(*) AS DOUBLE) AS nv FROM part GROUP BY ar, ac),
       |t AS (SELECT px_row, px_col,
       |    CAST(floor((px_row + 0.5) / 2 - 0.5) AS INT) AS r0,
       |    CAST(floor((px_col + 0.5) / 2 - 0.5) AS INT) AS c0,
       |    ((px_row + 0.5) / 2 - 0.5) - floor((px_row + 0.5) / 2 - 0.5) AS fy,
       |    ((px_col + 0.5) / 2 - 0.5) - floor((px_col + 0.5) / 2 - 0.5) AS fx
       |  FROM master),
       |taps AS (SELECT px_row, px_col, r0 + dr.d AS ar, c0 + dc.d AS ac,
       |    ${sqlCubW("abs(fy - dr.d)")} * ${sqlCubW("abs(fx - dc.d)")} AS w
       |  FROM t CROSS JOIN (VALUES (-1), (0), (1), (2)) dr(d)
       |         CROSS JOIN (VALUES (-1), (0), (1), (2)) dc(d))
       |SELECT px_row, px_col,
       |  sum(a.nv * w) / CASE WHEN sum(CASE WHEN a.nv IS NOT NULL THEN w END) > 0
       |    THEN sum(CASE WHEN a.nv IS NOT NULL THEN w END) END AS nv
       |FROM taps LEFT JOIN aux a ON a.ar = taps.ar AND a.ac = taps.ac
       |GROUP BY px_row, px_col
       |ORDER BY px_row, px_col, nv NULLS FIRST""".stripMargin)

  /** G12 — GEODESIC measures: per-part lon/lat quadrilaterals (WKT built
    * in-plan, re-parsed by the measure — the round trip is part of the
    * check) scored with the Chamberlain–Duquette spherical-excess area
    * and great-circle haversine perimeter on the WGS84 authalic sphere.
    * The planar shoelace would be wrong by ~cos(38°)² ≈ 0.62 here — the
    * oracle evaluates the IDENTICAL closed form (interpolated R/Deg2Rad
    * constants, same left-assoc 4-term folds), fixed-pointed at 2^20.
    */
  query("g12_geodesic_measures") { (s, d) =>
    import graft.functions.SpatialOps
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-96.0) + (col("p_partkey") % 50).cast("double") * lit(0.01)).as("lon0"),
      (lit(30.0) + (col("p_size") % 40).cast("double") * lit(0.01)).as("lat0"),
      (lit(0.01) + (col("p_partkey") % 7).cast("double") * lit(0.001)).as("dx"),
      (lit(0.008) + (col("p_size") % 5).cast("double") * lit(0.001)).as("dy"))
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val wkt = concat(lit("POLYGON (("),
      pt(col("lon0"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0") + col("dy")), lit(", "),
      pt(col("lon0"), col("lat0") + col("dy")), lit(", "),
      pt(col("lon0"), col("lat0")), lit("))"))
    base.withColumn("geom", wkt)
      .select(col("pk"),
        floor(SpatialOps.wktAreaGeodesic(col("geom")) * lit(1048576.0))
          .cast("long").as("area_fp"),
        floor(SpatialOps.wktPerimeterGeodesic(col("geom")) * lit(1048576.0))
          .cast("long").as("perim_fp"))
      .orderBy("pk")
  } {
    // g12: the identical C-D spherical-excess and haversine folds with
    // interpolated R/Deg2Rad constants — 4 explicit left-assoc terms
    // mirror the engine's sequence-fold order; fixed-point 2^20.
    val rr2 = functions.SpatialOps.Wgs84AuthalicRadius *
      functions.SpatialOps.Wgs84AuthalicRadius / 2.0
    val r2 = 2.0 * functions.SpatialOps.Wgs84AuthalicRadius
    val d2r = math.Pi / 180.0
    def seg(xa: String, ya: String, xb: String, yb: String) =
      s"($xb * $d2r - $xa * $d2r) * (2.0 + sin($ya * $d2r) + sin($yb * $d2r))"
    def hav(xa: String, ya: String, xb: String, yb: String) =
      s"$r2 * asin(sqrt(sin(($yb * $d2r - $ya * $d2r) / 2.0) * " +
        s"sin(($yb * $d2r - $ya * $d2r) / 2.0) + cos($ya * $d2r) * cos($yb * $d2r) * " +
        s"sin(($xb * $d2r - $xa * $d2r) / 2.0) * sin(($xb * $d2r - $xa * $d2r) / 2.0)))"
    s"""WITH p AS (SELECT p_partkey AS pk,
      |    -96.0 + CAST(p_partkey % 50 AS DOUBLE) * 0.01 AS lon0,
      |    30.0 + CAST(p_size % 40 AS DOUBLE) * 0.01 AS lat0,
      |    0.01 + CAST(p_partkey % 7 AS DOUBLE) * 0.001 AS dx,
      |    0.008 + CAST(p_size % 5 AS DOUBLE) * 0.001 AS dy
      |  FROM part),
      |v AS (SELECT pk, lon0 AS x1, lat0 AS y1, lon0 + dx AS x2, lat0 AS y2,
      |    lon0 + dx AS x3, lat0 + dy AS y3, lon0 AS x4, lat0 + dy AS y4 FROM p)
      |SELECT pk,
      |  CAST(floor(abs((((${seg("x1", "y1", "x2", "y2")})
      |    + ${seg("x2", "y2", "x3", "y3")})
      |    + ${seg("x3", "y3", "x4", "y4")})
      |    + ${seg("x4", "y4", "x1", "y1")}) * $rr2 * 1048576.0) AS BIGINT) AS area_fp,
      |  CAST(floor((((${hav("x1", "y1", "x2", "y2")}
      |    + ${hav("x2", "y2", "x3", "y3")})
      |    + ${hav("x3", "y3", "x4", "y4")})
      |    + ${hav("x4", "y4", "x1", "y1")}) * 1048576.0) AS BIGINT) AS perim_fp
      |FROM v ORDER BY pk""".stripMargin
  }

  /** S22 — GeoParquet round trip (the parquet-native vector half next to
    * the GPKG/SHP codecs; reference anchor: the stage-2/3 vector
    * artifacts, image_segmentation.py:153-162 and
    * object_classifier.py:193-213, under the published
    * "Parquet/GeoParquet" storage line): part-derived POINT/LINESTRING/
    * POLYGON features → `writeGeoParquet` (WKT→WKB + `geo` footer on
    * every part-file) → `readGeoParquet` (footer-recognized, WKB→WKT) →
    * per-vertex census. The oracle regenerates every vertex from the
    * source definition — the container (WKB encode, footer rewrite,
    * decode) must be invisible. All coordinates sit on the 1/64 grid
    * exactly (pure binary-exact arithmetic, no transcendentals), so the
    * ×64 fixed point is deterministic on both engines.
    */
  /** s22/s22b's shared feature frame: mixed POINT/LINESTRING/POLYGON WKT
    * over dyadic 1/64-grid coordinates (binary-exact through the WKB
    * round trip).
    */
  private def s22Features(s: SparkSession, d: String): DataFrame = {
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (col("p_partkey") % 3).cast("int").as("kind"),
      ((col("p_partkey") % 50).cast("double") * lit(1.5) + lit(0.25)).as("x"),
      ((col("p_size") % 40).cast("double") * lit(0.75) + lit(0.125)).as("y"),
      (col("p_partkey") % 997).as("attr"))
    def n(c: Column) = c.cast("string")
    val wkt = when(col("kind") === 0,
        concat(lit("POINT ("), n(col("x")), lit(" "), n(col("y")), lit(")")))
      .when(col("kind") === 1,
        concat(lit("LINESTRING ("), n(col("x")), lit(" "), n(col("y")), lit(", "),
          n(col("x") + lit(2.0)), lit(" "), n(col("y") + lit(1.5)), lit(")")))
      .otherwise(
        concat(lit("POLYGON (("), n(col("x")), lit(" "), n(col("y")), lit(", "),
          n(col("x") + lit(2.5)), lit(" "), n(col("y")), lit(", "),
          n(col("x") + lit(2.5)), lit(" "), n(col("y") + lit(1.25)), lit(", "),
          n(col("x")), lit(" "), n(col("y") + lit(1.25)), lit(", "),
          n(col("x")), lit(" "), n(col("y")), lit("))")))
    base.withColumn("geom", wkt).select("pk", "attr", "geom")
  }

  /** The s22 family's fixed-point vertex explode (floor(v·64) on every
    * ring vertex — the container must be invisible in the hash).
    */
  private def s22Verts(back: DataFrame): DataFrame =
    back.select(col("store"), col("pk"), col("attr"),
        posexplode(flatten(functions.SpatialOps.wktRings(col("geom")))))
      .select(col("store"), col("pk"), col("attr"), col("pos").as("pt_idx"),
        floor(col("col").getField("x") * lit(64.0)).cast("long").as("x_fp"),
        floor(col("col").getField("y") * lit(64.0)).cast("long").as("y_fp"))
      .orderBy("store", "pk", "pt_idx")

  query("s22_geoparquet_roundtrip") { (s, d) =>
    val src = s22Features(s, d)
    val tmp = java.nio.file.Files.createTempDirectory("graft_s22").toString
    val dir = tmp + "/store"
    operators.GeoParquet.writeGeoParquet(src, dir, geomCol = "geom")
    // r11: a SECOND store written with a projected CRS (.prj WKT1 →
    // PROJJSON through the engine's CRS front door) — the footer must
    // carry a non-null `crs` a GeoParquet consumer would honor (reading
    // projected coordinates as lon/lat was the documented interop
    // hazard); same features, so the census doubles exactly
    val dir2 = tmp + "/store_utm"
    val utmPrj = """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",""" +
      """DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],""" +
      """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
      """PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],""" +
      """PARAMETER["central_meridian",15],PARAMETER["scale_factor",0.9996],""" +
      """PARAMETER["false_easting",500000],PARAMETER["false_northing",0],""" +
      """UNIT["metre",1]]"""
    operators.GeoParquet.writeGeoParquet(src, dir2, geomCol = "geom",
      crsWkt = Some(utmPrj))
    val crsJson = operators.GeoParquet.geoMetadata(dir2).getOrElse("")
    require(crsJson.contains("\"crs\":{") && crsJson.contains("ProjectedCRS") &&
      crsJson.contains("Transverse Mercator"),
      s"projected-CRS store footer lacks a PROJJSON crs: ${crsJson.take(200)}")
    val back = operators.GeoParquet.readGeoParquet(s, dir)
      .withColumn("store", lit(1))
      .unionByName(operators.GeoParquet.readGeoParquet(s, dir2)
        .withColumn("store", lit(2)))
    s22Verts(back)
  }(
    // s22: every vertex regenerated from the source definition — the
    // GeoParquet container (WKB encode, geo footer, decode) never reaches
    // the oracle; coordinates are binary-exact 1/64-grid doubles
    """WITH p AS (SELECT p_partkey AS pk, CAST(p_partkey % 3 AS INT) AS kind,
      |    CAST(p_partkey % 50 AS DOUBLE) * 1.5 + 0.25 AS x,
      |    CAST(p_size % 40 AS DOUBLE) * 0.75 + 0.125 AS y,
      |    p_partkey % 997 AS attr
      |  FROM part),
      |pts AS (SELECT pk, attr, i.idx AS pt_idx,
      |    CASE WHEN kind = 0 THEN x
      |         WHEN kind = 1 THEN CASE i.idx WHEN 0 THEN x ELSE x + 2.0 END
      |         ELSE CASE i.idx WHEN 1 THEN x + 2.5 WHEN 2 THEN x + 2.5 ELSE x END
      |    END AS px,
      |    CASE WHEN kind = 0 THEN y
      |         WHEN kind = 1 THEN CASE i.idx WHEN 0 THEN y ELSE y + 1.5 END
      |         ELSE CASE i.idx WHEN 2 THEN y + 1.25 WHEN 3 THEN y + 1.25 ELSE y END
      |    END AS py
      |  FROM p CROSS JOIN (VALUES (0), (1), (2), (3), (4)) i(idx)
      |  WHERE (kind = 0 AND i.idx < 1) OR (kind = 1 AND i.idx < 2) OR kind = 2)
      |SELECT s.store, pk, attr, pt_idx,
      |  CAST(floor(px * 64.0) AS BIGINT) AS x_fp,
      |  CAST(floor(py * 64.0) AS BIGINT) AS y_fp
      |FROM pts CROSS JOIN (VALUES (1), (2)) s(store)
      |ORDER BY s.store, pk, pt_idx""".stripMargin)

  /** S22B — the EPSG-SHORTHAND GeoParquet store (r12): the same features
    * written with `crsWkt = Some("EPSG:32633")`. The footer's PROJJSON
    * must be BYTE-IDENTICAL to what the equivalent `.prj` WKT path emits
    * (the parameter tree derives from the shorthand table's own
    * parameterization — r11 verdict missing-3: shorthand-dispatched
    * stores used to get a null footer CRS). Fixture setup memoized per
    * JVM like g11 (the store write is setup; repeat runs measure the
    * read + explode).
    */
  query("s22b_geoparquet_epsg") { (s, d) =>
    val utm33Prj = """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",""" +
      """DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],""" +
      """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],""" +
      """PROJECTION["Transverse_Mercator"],PARAMETER["latitude_of_origin",0],""" +
      """PARAMETER["central_meridian",15],PARAMETER["scale_factor",0.9996],""" +
      """PARAMETER["false_easting",500000],PARAMETER["false_northing",0],""" +
      """UNIT["metre",1]]"""
    val dir = s22bDirCache.computeIfAbsent(d, { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_s22b").toString + "/store"
      operators.GeoParquet.writeGeoParquet(s22Features(s, d), tmp, geomCol = "geom",
        crsWkt = Some("EPSG:32633"))
      tmp
    })
    val footer = operators.GeoParquet.geoMetadata(dir).getOrElse("")
    val expected = operators.CrsWkt.toProjjson(utm33Prj)
    require(footer.contains(s""""crs":$expected"""),
      s"EPSG-shorthand store footer CRS != the .prj path's document: " +
        s"${footer.take(300)}")
    s22Verts(operators.GeoParquet.readGeoParquet(s, dir).withColumn("store", lit(1)))
  }(
    // s22b: the same closed form, single store — the EPSG-shorthand
    // footer equality is REQUIREd inside the query (a mismatched or
    // null footer CRS kills every row, not just a side channel)
    """WITH p AS (SELECT p_partkey AS pk, CAST(p_partkey % 3 AS INT) AS kind,
      |    CAST(p_partkey % 50 AS DOUBLE) * 1.5 + 0.25 AS x,
      |    CAST(p_size % 40 AS DOUBLE) * 0.75 + 0.125 AS y,
      |    p_partkey % 997 AS attr
      |  FROM part),
      |pts AS (SELECT pk, attr, i.idx AS pt_idx,
      |    CASE WHEN kind = 0 THEN x
      |         WHEN kind = 1 THEN CASE i.idx WHEN 0 THEN x ELSE x + 2.0 END
      |         ELSE CASE i.idx WHEN 1 THEN x + 2.5 WHEN 2 THEN x + 2.5 ELSE x END
      |    END AS px,
      |    CASE WHEN kind = 0 THEN y
      |         WHEN kind = 1 THEN CASE i.idx WHEN 0 THEN y ELSE y + 1.5 END
      |         ELSE CASE i.idx WHEN 2 THEN y + 1.25 WHEN 3 THEN y + 1.25 ELSE y END
      |    END AS py
      |  FROM p CROSS JOIN (VALUES (0), (1), (2), (3), (4)) i(idx)
      |  WHERE (kind = 0 AND i.idx < 1) OR (kind = 1 AND i.idx < 2) OR kind = 2)
      |SELECT 1 AS store, pk, attr, pt_idx,
      |  CAST(floor(px * 64.0) AS BIGINT) AS x_fp,
      |  CAST(floor(py * 64.0) AS BIGINT) AS y_fp
      |FROM pts
      |ORDER BY pk, pt_idx""".stripMargin)

  /** G21 — GEOMETRYCOLLECTION census (r11: the last documented WKT-type
    * reject becomes a first-class surface): a mixed frame of plain
    * geometries, two collection shapes (heterogeneous members incl. a
    * MULTIPOINT), and `GEOMETRYCOLLECTION EMPTY`, exploded flat through
    * [[functions.SpatialOps.collectionMembers]] (plain geometries ride
    * the same surface as one-member collections; EMPTY surfaces as a
    * countable zero-member row). Per member: type word, point count, and
    * fixed-point envelope corners — all coordinates dyadic (1/64 grid),
    * the oracle regenerates every member from the kind formulas.
    */
  query("g21_geometrycollection") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (col("p_partkey") % 5).cast("int").as("kind"),
      ((col("p_partkey") % 50).cast("double") * lit(1.5) + lit(0.25)).as("x"),
      ((col("p_size") % 40).cast("double") * lit(0.75) + lit(0.125)).as("y"))
    def n(c: Column) = c.cast("string")
    val x = col("x"); val y = col("y")
    def pt(px: Column, py: Column) =
      concat(lit("POINT ("), n(px), lit(" "), n(py), lit(")"))
    val wkt = when(col("kind") === 0, pt(x, y))
      .when(col("kind") === 1, concat(lit("LINESTRING ("), n(x), lit(" "), n(y),
        lit(", "), n(x + 2.0), lit(" "), n(y + 1.5), lit(")")))
      .when(col("kind") === 2, concat(lit("GEOMETRYCOLLECTION ("), pt(x, y),
        lit(", LINESTRING ("), n(x + 1.0), lit(" "), n(y), lit(", "),
        n(x + 3.0), lit(" "), n(y + 0.5), lit("))")))
      .when(col("kind") === 3, concat(lit("GEOMETRYCOLLECTION (POLYGON (("),
        n(x), lit(" "), n(y), lit(", "), n(x + 2.0), lit(" "), n(y), lit(", "),
        n(x + 2.0), lit(" "), n(y + 1.0), lit(", "), n(x), lit(" "), n(y),
        lit(")), "), pt(x + 5.0, y + 2.0),
        lit(", MULTIPOINT (("), n(x + 6.0), lit(" "), n(y), lit("), ("),
        n(x + 7.0), lit(" "), n(y + 0.25), lit(")))")))
      .otherwise(lit("GEOMETRYCOLLECTION EMPTY"))
    base.withColumn("geom", wkt)
      .select(col("pk"), col("kind"),
        posexplode_outer(functions.SpatialOps.collectionMembers(col("geom"))))
      .select(col("pk"), col("kind"),
        coalesce(col("pos"), lit(-1)).cast("int").as("member_idx"),
        coalesce(upper(regexp_extract(col("col"), "^\\s*([A-Za-z]+)", 1)),
          lit("EMPTY")).as("mtype"),
        coalesce(functions.SpatialOps.wktNumPoints(col("col")).cast("long"),
          lit(0L)).as("n_pts"),
        coalesce(floor(functions.SpatialOps.wktEnvelope(col("col"))
          .getField("xmin") * lit(64.0)), lit(0.0)).cast("long").as("xmin_fp"),
        coalesce(floor(functions.SpatialOps.wktEnvelope(col("col"))
          .getField("ymax") * lit(64.0)), lit(0.0)).cast("long").as("ymax_fp"))
      .orderBy("pk", "member_idx")
  }(
    // g21: every member regenerated from the kind formulas — the
    // collection framing (lookahead member split, EMPTY handling, flat
    // explode) must be invisible; all coordinates dyadic, ×64 exact
    """WITH p AS (SELECT p_partkey AS pk, CAST(p_partkey % 5 AS INT) AS kind,
      |    CAST(p_partkey % 50 AS DOUBLE) * 1.5 + 0.25 AS x,
      |    CAST(p_size % 40 AS DOUBLE) * 0.75 + 0.125 AS y FROM part),
      |m AS (
      |  SELECT pk, kind, 0 AS member_idx, 'POINT' AS mtype, 1 AS n_pts,
      |      x AS xmin, y AS ymax FROM p WHERE kind = 0
      |  UNION ALL SELECT pk, kind, 0, 'LINESTRING', 2, x, y + 1.5 FROM p WHERE kind = 1
      |  UNION ALL SELECT pk, kind, 0, 'POINT', 1, x, y FROM p WHERE kind = 2
      |  UNION ALL SELECT pk, kind, 1, 'LINESTRING', 2, x + 1.0, y + 0.5 FROM p WHERE kind = 2
      |  UNION ALL SELECT pk, kind, 0, 'POLYGON', 4, x, y + 1.0 FROM p WHERE kind = 3
      |  UNION ALL SELECT pk, kind, 1, 'POINT', 1, x + 5.0, y + 2.0 FROM p WHERE kind = 3
      |  UNION ALL SELECT pk, kind, 2, 'MULTIPOINT', 2, x + 6.0, y + 0.25 FROM p WHERE kind = 3
      |  UNION ALL SELECT pk, kind, -1, 'EMPTY', 0, NULL, NULL FROM p WHERE kind = 4)
      |SELECT pk, kind, CAST(member_idx AS INT) AS member_idx, mtype,
      |  CAST(n_pts AS BIGINT) AS n_pts,
      |  CAST(coalesce(floor(xmin * 64.0), 0) AS BIGINT) AS xmin_fp,
      |  CAST(coalesce(floor(ymax * 64.0), 0) AS BIGINT) AS ymax_fp
      |FROM m ORDER BY pk, member_idx""".stripMargin)

  /** g22 — NESTED collections through [[functions.CollectionLeavesExpr]]
    * (r12): same fixture algebra as g21, but the collections nest — a
    * GC-in-GC with leaves either side (leaf order + index continuity), a
    * depth-3 chain around a POLYGON, and a nested `GEOMETRYCOLLECTION
    * EMPTY` sibling whose zero leaves must shift the MULTIPOINT's index
    * left. Every leaf's type/points/envelope regenerates closed-form, so
    * the depth walk (paren counter, not the flat lookahead) is the only
    * thing under test.
    */
  query("g22_nested_collection") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (col("p_partkey") % 5).cast("int").as("kind"),
      ((col("p_partkey") % 50).cast("double") * lit(1.5) + lit(0.25)).as("x"),
      ((col("p_size") % 40).cast("double") * lit(0.75) + lit(0.125)).as("y"))
    def n(c: Column) = c.cast("string")
    val x = col("x"); val y = col("y")
    def pt(px: Column, py: Column) =
      concat(lit("POINT ("), n(px), lit(" "), n(py), lit(")"))
    val wkt = when(col("kind") === 0, pt(x, y))
      .when(col("kind") === 1, concat(lit("GEOMETRYCOLLECTION ("), pt(x, y),
        lit(", GEOMETRYCOLLECTION (LINESTRING ("), n(x + 1.0), lit(" "), n(y),
        lit(", "), n(x + 3.0), lit(" "), n(y + 0.5), lit("), "),
        pt(x + 4.0, y + 2.0), lit("))")))
      .when(col("kind") === 2, concat(
        lit("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POLYGON (("),
        n(x), lit(" "), n(y), lit(", "), n(x + 2.0), lit(" "), n(y), lit(", "),
        n(x + 2.0), lit(" "), n(y + 1.0), lit(", "), n(x), lit(" "), n(y),
        lit(")))))")))
      .when(col("kind") === 3, concat(lit("GEOMETRYCOLLECTION ("), pt(x, y),
        lit(", GEOMETRYCOLLECTION EMPTY, MULTIPOINT (("), n(x + 6.0), lit(" "),
        n(y), lit("), ("), n(x + 7.0), lit(" "), n(y + 0.25), lit(")))")))
      .otherwise(lit("GEOMETRYCOLLECTION EMPTY"))
    base.withColumn("geom", wkt)
      .select(col("pk"), col("kind"),
        posexplode_outer(functions.SpatialOps.collectionLeaves(col("geom"))))
      .select(col("pk"), col("kind"),
        coalesce(col("pos"), lit(-1)).cast("int").as("member_idx"),
        coalesce(upper(regexp_extract(col("col"), "^\\s*([A-Za-z]+)", 1)),
          lit("EMPTY")).as("mtype"),
        coalesce(functions.SpatialOps.wktNumPoints(col("col")).cast("long"),
          lit(0L)).as("n_pts"),
        coalesce(floor(functions.SpatialOps.wktEnvelope(col("col"))
          .getField("xmin") * lit(64.0)), lit(0.0)).cast("long").as("xmin_fp"),
        coalesce(floor(functions.SpatialOps.wktEnvelope(col("col"))
          .getField("ymax") * lit(64.0)), lit(0.0)).cast("long").as("ymax_fp"))
      .orderBy("pk", "member_idx")
  }(
    // g22: the nested twin — every LEAF regenerated from the kind
    // formulas; the depth walk (GC-in-GC split, depth-3 chain, nested
    // EMPTY shifting later siblings' indices) must be invisible
    """WITH p AS (SELECT p_partkey AS pk, CAST(p_partkey % 5 AS INT) AS kind,
      |    CAST(p_partkey % 50 AS DOUBLE) * 1.5 + 0.25 AS x,
      |    CAST(p_size % 40 AS DOUBLE) * 0.75 + 0.125 AS y FROM part),
      |m AS (
      |  SELECT pk, kind, 0 AS member_idx, 'POINT' AS mtype, 1 AS n_pts,
      |      x AS xmin, y AS ymax FROM p WHERE kind = 0
      |  UNION ALL SELECT pk, kind, 0, 'POINT', 1, x, y FROM p WHERE kind = 1
      |  UNION ALL SELECT pk, kind, 1, 'LINESTRING', 2, x + 1.0, y + 0.5 FROM p WHERE kind = 1
      |  UNION ALL SELECT pk, kind, 2, 'POINT', 1, x + 4.0, y + 2.0 FROM p WHERE kind = 1
      |  UNION ALL SELECT pk, kind, 0, 'POLYGON', 4, x, y + 1.0 FROM p WHERE kind = 2
      |  UNION ALL SELECT pk, kind, 0, 'POINT', 1, x, y FROM p WHERE kind = 3
      |  UNION ALL SELECT pk, kind, 1, 'MULTIPOINT', 2, x + 6.0, y + 0.25 FROM p WHERE kind = 3
      |  UNION ALL SELECT pk, kind, -1, 'EMPTY', 0, NULL, NULL FROM p WHERE kind = 4)
      |SELECT pk, kind, CAST(member_idx AS INT) AS member_idx, mtype,
      |  CAST(n_pts AS BIGINT) AS n_pts,
      |  CAST(coalesce(floor(xmin * 64.0), 0) AS BIGINT) AS xmin_fp,
      |  CAST(coalesce(floor(ymax * 64.0), 0) AS BIGINT) AS ymax_fp
      |FROM m ORDER BY pk, member_idx""".stripMargin)

  /** Catmull-Rom (a=−0.5) cubic weight of a non-negative distance expr. */
  private def sqlCubW(t: String): String =
    s"(CASE WHEN $t <= 1 THEN (1.5*$t - 2.5)*$t*$t + 1 ELSE ((-0.5*$t + 2.5)*$t - 4)*$t + 2 END)"
}
