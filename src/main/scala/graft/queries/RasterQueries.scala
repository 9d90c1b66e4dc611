package graft
package queries

import org.apache.spark.sql.functions._

/** Raster I/O: TIFF, BigTIFF and GeoTIFF ingest (LZW, Deflate, PackBits,
  * predictors, JPEG-in-TIFF, multiband), block reads and the GeoTIFF sink. */
object RasterQueries extends Family {

  /** S25 — JPEG-in-TIFF ingest (compression 7, TIFF Tech Note 2: the
    * profile real aerial-imagery GeoTIFF archives ship — r12 verdict
    * missing-item 4). Two scenes through the strip walk: a 3-strip
    * grayscale file whose shared DQT/DHT live in the JPEGTables tag
    * (abbreviated strip streams; the last strip's 8-row JPEG crops to its
    * 4-row grid cell) and a self-contained single-strip YCbCr file
    * (tables inline, no 347). DC-only blocks keep the mm7 one-product
    * closed form, so the oracle regenerates every sample exactly — the
    * table splice, the strip walk, and the crop must all be invisible.
    */
  query("s25_jpeg_in_tiff") { (s, d) =>
    import s.implicits._
    val qG = Array.fill(64)(16)
    val gray = operators.Tiff.synthJpegTiff(20, 20, 1, 8, useJpegTables = true) { si =>
      operators.Jpeg.synthJpeg(20, 8, 1, Seq(qG)) { (_, by, bx) =>
        val nat = new Array[Int](64)
        nat(0) = ((si * 5 + by * 3 + bx) * 7) % 40 - 20
        nat
      }
    }
    val qY = Array.fill(64)(10); val qC = Array.fill(64)(12)
    val color = operators.Tiff.synthJpegTiff(16, 16, 3, 16, useJpegTables = false) { _ =>
      operators.Jpeg.synthJpeg(16, 16, 3, Seq(qY, qC)) { (ch, by, bx) =>
        val nat = new Array[Int](64)
        nat(0) = (ch * 11 + by + bx * 5) % 30 - 15
        nat
      }
    }
    def pixels(id: Long, bytes: Array[Byte], bh: Int, bw: Int) = {
      val blocks = operators.Tiff.tiffToBandBlocks(
        Seq((id, bytes)).toDF("scene_id", "bytes"))
      operators.RasterBridge.explodeBlocks(blocks, blockH = bh, blockW = bw,
          nodata = -9999f)
        .select(col("scene_id"), col("band"), col("px_row"), col("px_col"),
          col("value").cast("int").as("v"))
    }
    pixels(1L, gray, 8, 20).unionAll(pixels(2L, color, 16, 16))
      .orderBy("scene_id", "band", "px_row", "px_col")
  } {
    // s25: JPEG-in-TIFF — the mm7 DC-only closed form evaluated per strip
    // (scene 1: strip index enters the DC; the 3rd strip's 8-row JPEG is
    // cropped to 4 grid rows) and per channel (scene 2, YCbCr inline
    // tables); the table splice and strip walk must be invisible.
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    s"""SELECT CAST(1 AS BIGINT) AS scene_id, CAST(0 AS INT) AS band,
       |  CAST(id // 20 AS INT) AS px_row, CAST(id % 20 AS INT) AS px_col,
       |  CAST(LEAST(255, GREATEST(0, CAST(floor(
       |    $c0sq * CAST((((id // 20 // 8) * 5 + (id % 20) // 8) * 7 % 40 - 20) * 16 AS DOUBLE)
       |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT) AS v
       |FROM range(400) t(id)
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(id % 3 AS INT),
       |  CAST(id // 3 // 16 AS INT), CAST((id // 3) % 16 AS INT),
       |  CAST(LEAST(255, GREATEST(0, CAST(floor(
       |    $c0sq * CAST((((id % 3) * 11 + id // 3 // 16 // 8 + ((id // 3) % 16 // 8) * 5) % 30 - 15)
       |        * (CASE WHEN id % 3 = 0 THEN 10 ELSE 12 END) AS DOUBLE)
       |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT)
       |FROM range(768) t(id)
       |ORDER BY scene_id, band, px_row, px_col""".stripMargin
  }

  /** S9 — raster-block ingestion bridge, driver-checked: four synthetic
    * 16×16 float32 block blobs (GeoTIFF block layout: row-major,
    * nodata-padded) decode to pixel rows with global coordinates; the
    * oracle regenerates the same grid arithmetically. Any defect in the
    * byte layout, tile→global mapping, or nodata drop breaks the hash.
    */
  query("s9_raster_blocks") { (s, d) =>
    import s.implicits._
    val blocks = s.range(4).map { id =>
      val ty = (id / 2).toInt; val tx = (id % 2).toInt
      val buf = java.nio.ByteBuffer.allocate(4 * 256)
      for (lr <- 0 until 16; lc <- 0 until 16) {
        val r = ty * 16 + lr; val c = tx * 16 + lc
        val v = if ((r + c) % 7 == 0) -9999.0f else (r * 32 + c).toFloat
        buf.putFloat(4 * (lr * 16 + lc), v)
      }
      (ty, tx, 16, 16, buf.array())
    }.toDF("tile_y", "tile_x", "block_h", "block_w", "blob")
    operators.RasterBridge.explodeBlocks(blocks, blockH = 16, blockW = 16, nodata = -9999.0f)
      .select(col("px_row"), col("px_col"), col("value").cast("int").as("v"))
      .orderBy("px_row", "px_col")
  }(
    // s9: v = px_row·32 + px_col = the cell's linear index, nodata where
    // (row+col) % 7 = 0 — regenerate and filter.
    """SELECT CAST(id // 32 AS INT) AS px_row, CAST(id % 32 AS INT) AS px_col,
      |  CAST(id AS INT) AS v
      |FROM range(1024) t(id)
      |WHERE (id // 32 + id % 32) % 7 <> 0
      |ORDER BY px_row, px_col""".stripMargin)

  /** S17 — GDAL's float32 LZW write profile WITH the floating-point
    * predictor (`PREDICTOR=3`, TIFF TechNote 3): scene 1 a 2-band chunky
    * LE tiled BigTIFF, scene 2 a classic BE stripped single-band file with
    * a clipped last strip — byte-plane split + row differencing must be
    * exactly undone (and the BE-significance plane order means predictor
    * blocks skip the LE swap) or every pixel value breaks the hash.
    */
  query("s17_lzw_fp_predictor") { (s, d) =>
    import s.implicits._
    val chunky = operators.Tiff.synthMultibandTiff(
      40, 24, 16, 16, littleEndian = true, tile = true,
      bands = 2, planarConfig = 1, pad = -9999.0f,
      lzw = true, bigTiff = true, predictor = 3)(
      (b, r, c) => if ((b + r + c) % 7 == 0) -9999.0f
        else ((b * 3000 + r * 40 + c) % 1009).toFloat)
    val classic = operators.Tiff.synthTiff(
      36, 20, 36, 6, littleEndian = false, tile = false, pad = -9999.0f,
      lzw = true, predictor = 3)(
      (r, c) => if ((r * 2 + c) % 9 == 0) -9999.0f
        else (((r * 36 + c) * 11) % 499).toFloat)
    def pixels(sceneId: Long, bytes: Array[Byte], bh: Int, bw: Int) = {
      val blocks = operators.Tiff.tiffToBandBlocks(
        Seq((sceneId, bytes)).toDF("scene_id", "bytes"))
      operators.RasterBridge.explodeBlocks(blocks, blockH = bh, blockW = bw, nodata = -9999.0f)
        .select(col("scene_id"), col("band"), col("px_row"), col("px_col"),
          col("value").cast("int").as("v"))
    }
    pixels(1L, chunky, 16, 16).unionAll(pixels(2L, classic, 6, 36))
      .orderBy("scene_id", "band", "px_row", "px_col")
  }(
    // s17: predictor-3 containers regenerate from the same closed forms —
    // the byte-plane/differencing transform must be invisible.
    """SELECT CAST(1 AS BIGINT) AS scene_id, CAST(id // 960 AS INT) AS band,
      |  CAST((id % 960) // 40 AS INT) AS px_row, CAST(id % 40 AS INT) AS px_col,
      |  CAST((id // 960 * 3000 + ((id % 960) // 40) * 40 + id % 40) % 1009 AS INT) AS v
      |FROM range(1920) t(id)
      |WHERE (id // 960 + (id % 960) // 40 + id % 40) % 7 <> 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(0 AS INT),
      |  CAST(id // 36 AS INT), CAST(id % 36 AS INT),
      |  CAST(((id // 36 * 36 + id % 36) * 11) % 499 AS INT)
      |FROM range(720) t(id)
      |WHERE ((id // 36) * 2 + id % 36) % 9 <> 0
      |ORDER BY scene_id, band, px_row, px_col""".stripMargin)

  /** S18 — TIFF integer predictor (317=2, GDAL PREDICTOR=2) + integer
    * sample formats: the reference's stage-1 OUTPUT profile (int32 class
    * labels, LZW, pixel_classifier_stream.py:77-83). Two containers:
    * a 2-band chunky int32 LZW BigTIFF (LE, tiled, signed values incl.
    * negatives) and a classic uint16 LZW stripped file (BE, wrap-heavy
    * deltas exercising mod-2^16 differencing). Closed-form pixel oracle —
    * the differencing transform must be invisible in the hash.
    */
  query("s18_lzw_int_predictor") { (s, d) =>
    import s.implicits._
    val int32 = operators.Tiff.synthMultibandTiff(
      40, 24, 16, 16, littleEndian = true, tile = true,
      bands = 2, planarConfig = 1, lzw = true, bigTiff = true, predictor = 2,
      sampleBits = 32, sampleFormat = 2, intPad = -9999L,
      intValues = (b, r, c) => if ((b + r + c) % 7 == 0) -9999L
        else (b * 3000L + r * 40L + c) % 1009L - 500L)((_, _, _) => 0f)
    val uint16 = operators.Tiff.synthMultibandTiff(
      36, 20, 36, 6, littleEndian = false, tile = false,
      bands = 1, lzw = true, predictor = 2,
      sampleBits = 16, sampleFormat = 1, intPad = 65535L,
      intValues = (_, r, c) => if ((r * 2 + c) % 9 == 0) 65535L
        else (r * 36L + c) * 113L % 60001L)((_, _, _) => 0f)
    def pixels(sceneId: Long, bytes: Array[Byte], bh: Int, bw: Int, nodata: Float) = {
      val blocks = operators.Tiff.tiffToBandBlocks(
        Seq((sceneId, bytes)).toDF("scene_id", "bytes"))
      operators.RasterBridge.explodeBlocks(blocks, blockH = bh, blockW = bw, nodata = nodata)
        .select(col("scene_id"), col("band"), col("px_row"), col("px_col"),
          col("value").cast("int").as("v"))
    }
    pixels(1L, int32, 16, 16, -9999.0f).unionAll(pixels(2L, uint16, 6, 36, 65535.0f))
      .orderBy("scene_id", "band", "px_row", "px_col")
  }(
    // s18: integer-predictor containers regenerate from the same closed
    // forms — mod-2^bits horizontal differencing must be invisible.
    """SELECT CAST(1 AS BIGINT) AS scene_id, CAST(id // 960 AS INT) AS band,
      |  CAST((id % 960) // 40 AS INT) AS px_row, CAST(id % 40 AS INT) AS px_col,
      |  CAST((id // 960 * 3000 + ((id % 960) // 40) * 40 + id % 40) % 1009 - 500 AS INT) AS v
      |FROM range(1920) t(id)
      |WHERE (id // 960 + (id % 960) // 40 + id % 40) % 7 <> 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(0 AS INT),
      |  CAST(id // 36 AS INT), CAST(id % 36 AS INT),
      |  CAST((id // 36 * 36 + id % 36) * 113 % 60001 AS INT)
      |FROM range(720) t(id)
      |WHERE ((id // 36) * 2 + id % 36) % 9 <> 0
      |ORDER BY scene_id, band, px_row, px_col""".stripMargin)

  /** S19 — the remaining common TIFF codecs: DEFLATE (259=8, zlib — GDAL's
    * COMPRESSION=DEFLATE, routinely paired with PREDICTOR) and PACKBITS
    * (259=32773, the TIFF-6 byte RLE every scanner writes). Scene 1 is a
    * 2-band chunky int32 deflate BigTIFF WITH the horizontal-difference
    * predictor; scene 2 a classic BE uint8 PackBits stripped file whose
    * values mix long runs and literals so both packet kinds decode.
    * Closed-form pixel oracle — the codecs must be exactly invisible.
    */
  query("s19_deflate_packbits") { (s, d) =>
    import s.implicits._
    val deflate32 = operators.Tiff.synthMultibandTiff(
      40, 24, 16, 16, littleEndian = true, tile = true,
      bands = 2, planarConfig = 1, bigTiff = true, predictor = 2,
      sampleBits = 32, sampleFormat = 2, intPad = -9999L, compressionCode = 8,
      intValues = (b, r, c) => if ((b + r * 2 + c) % 11 == 0) -9999L
        else (b * 2777L + r * 40L + c) * 7L % 2003L - 1000L)((_, _, _) => 0f)
    val packbits8 = operators.Tiff.synthMultibandTiff(
      30, 16, 30, 4, littleEndian = false, tile = false,
      bands = 1, sampleBits = 8, sampleFormat = 1, intPad = 255L,
      compressionCode = 32773,
      intValues = (_, r, c) => if ((r + c * 3) % 13 == 0) 255L
        else if (c < 18) (r * 5L) % 250L else (r * 11L + c) % 250L)((_, _, _) => 0f)
    def pixels(sceneId: Long, bytes: Array[Byte], bh: Int, bw: Int, nodata: Float) = {
      val blocks = operators.Tiff.tiffToBandBlocks(
        Seq((sceneId, bytes)).toDF("scene_id", "bytes"))
      operators.RasterBridge.explodeBlocks(blocks, blockH = bh, blockW = bw, nodata = nodata)
        .select(col("scene_id"), col("band"), col("px_row"), col("px_col"),
          col("value").cast("int").as("v"))
    }
    pixels(1L, deflate32, 16, 16, -9999.0f).unionAll(pixels(2L, packbits8, 4, 30, 255.0f))
      .orderBy("scene_id", "band", "px_row", "px_col")
  }(
    // s19: Deflate and PackBits containers regenerate from the same
    // closed forms — both codecs (and the deflate-side predictor) must
    // be invisible in the hash.
    """SELECT CAST(1 AS BIGINT) AS scene_id, CAST(id // 960 AS INT) AS band,
      |  CAST((id % 960) // 40 AS INT) AS px_row, CAST(id % 40 AS INT) AS px_col,
      |  CAST((id // 960 * 2777 + ((id % 960) // 40) * 40 + id % 40) * 7 % 2003 - 1000 AS INT) AS v
      |FROM range(1920) t(id)
      |WHERE (id // 960 + ((id % 960) // 40) * 2 + id % 40) % 11 <> 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(0 AS INT),
      |  CAST(id // 30 AS INT), CAST(id % 30 AS INT),
      |  CAST(CASE WHEN id % 30 < 18 THEN (id // 30 * 5) % 250
      |       ELSE (id // 30 * 11 + id % 30) % 250 END AS INT)
      |FROM range(480) t(id)
      |WHERE (id // 30 + (id % 30) * 3) % 13 <> 0
      |ORDER BY scene_id, band, px_row, px_col""".stripMargin)

  /** MM5 — REAL TIFF header decode (the format every reference byte lives
    * in, feature_stacking.py:75-98): synthesize valid TIFFs from
    * integer-derived geometry — both byte orders, tiled AND stripped
    * layouts, GeoTIFF scale/tiepoint on every 5th file, BigTIFF container
    * on every 7th, LZW on every 11th (the reference's `bigtiff='YES',
    * compress='lzw'` profile) — parse them back with the actual IFD
    * walker, and hash-check the recovered metadata against the
    * closed-form oracle.
    */
  query("mm5_tiff_header") { (s, d) =>
    import s.implicits._
    val media = s.range(500).map { id =>
      val w = 16 + (id % 32).toInt
      val h = 16 + (id * 7 % 32).toInt
      val tiled = id % 2 == 0
      val grid =
        if (id % 5 == 0)
          Some(operators.Regrid.GridDef((id % 50).toDouble, (id % 40).toDouble + 0.5, 0.25, 0.5))
        else None
      val bytes = operators.Tiff.synthTiff(
        w, h, if (tiled) 16 else w, if (tiled) 16 else 8,
        littleEndian = id % 3 != 0, tile = tiled, grid = grid,
        lzw = id % 11 == 4, bigTiff = id % 7 == 3)(
        (r, c) => (r * w + c).toFloat)
      (id, bytes)
    }.toDF("media_id", "bytes")
    operators.Tiff.withTiffMeta(media)
      .select(col("media_id"),
        col("tiff_meta.width").as("width"),
        col("tiff_meta.height").as("height"),
        col("tiff_meta.bits_per_sample").as("bits_per_sample"),
        col("tiff_meta.sample_format").as("sample_format"),
        col("tiff_meta.n_bands").as("n_bands"),
        col("tiff_meta.planar_config").as("planar_config"),
        col("tiff_meta.compression").as("compression"),
        col("tiff_meta.tiled").as("tiled"),
        col("tiff_meta.block_w").as("block_w"),
        col("tiff_meta.block_h").as("block_h"),
        col("tiff_meta.n_blocks").as("n_blocks"),
        col("tiff_meta.byte_order").as("byte_order"),
        col("tiff_meta.is_big").as("is_big"),
        col("tiff_meta.px_w").as("px_w"),
        col("tiff_meta.px_h").as("px_h"),
        col("tiff_meta.origin_x").as("origin_x"),
        col("tiff_meta.origin_y").as("origin_y"))
      .orderBy("media_id")
  }(
    // mm5: every metadata field is integer-derived from the row id —
    // regenerate the closed forms.
    """SELECT id AS media_id,
      |  CAST(16 + id % 32 AS INTEGER) AS width,
      |  CAST(16 + (id * 7) % 32 AS INTEGER) AS height,
      |  CAST(32 AS INTEGER) AS bits_per_sample,
      |  CAST(3 AS INTEGER) AS sample_format,
      |  CAST(1 AS INTEGER) AS n_bands,
      |  CAST(1 AS INTEGER) AS planar_config,
      |  CAST(CASE WHEN id % 11 = 4 THEN 5 ELSE 1 END AS INTEGER) AS compression,
      |  (id % 2 = 0) AS tiled,
      |  CAST(CASE WHEN id % 2 = 0 THEN 16 ELSE 16 + id % 32 END AS INTEGER) AS block_w,
      |  CAST(CASE WHEN id % 2 = 0 THEN 16 ELSE 8 END AS INTEGER) AS block_h,
      |  CAST(CASE WHEN id % 2 = 0
      |    THEN ((16 + id % 32 + 15) // 16) * ((16 + (id * 7) % 32 + 15) // 16)
      |    ELSE (16 + (id * 7) % 32 + 7) // 8 END AS INTEGER) AS n_blocks,
      |  CASE WHEN id % 3 <> 0 THEN 'LE' ELSE 'BE' END AS byte_order,
      |  (id % 7 = 3) AS is_big,
      |  CASE WHEN id % 5 = 0 THEN 0.25 END AS px_w,
      |  CASE WHEN id % 5 = 0 THEN 0.5 END AS px_h,
      |  CASE WHEN id % 5 = 0 THEN CAST(id % 50 AS DOUBLE) END AS origin_x,
      |  CASE WHEN id % 5 = 0 THEN CAST(id % 40 AS DOUBLE) + 0.5 END AS origin_y
      |FROM range(500) t(id) ORDER BY media_id""".stripMargin)

  /** S12 — GeoTIFF ingestion end-to-end: a real uncompressed tiled
    * little-endian float32 GeoTIFF (synthesized by the same writer mm5
    * proves against the parser) flows through `tiffToBlocks` →
    * `explodeBlocks` into pixel rows — the reference's windowed
    * `src.read(window)` loop (feature_stacking.py:226-249) as one plan.
    * Value pattern and nodata drop mirror s9, so any defect in IFD
    * walking, tile addressing, byte-swap, or padding breaks the hash.
    */
  query("s12_geotiff_ingest") { (s, d) =>
    import s.implicits._
    val tiff = operators.Tiff.synthTiff(
      32, 32, 16, 16, littleEndian = true, tile = true,
      grid = Some(operators.Regrid.GridDef(0.0, 32.0, 1.0, 1.0)),
      pad = -9999.0f)(
      (r, c) => if ((r + c) % 7 == 0) -9999.0f else (r * 32 + c).toFloat)
    val media = Seq((1L, tiff)).toDF("scene_id", "bytes")
    val blocks = operators.Tiff.tiffToBlocks(media)
    operators.RasterBridge.explodeBlocks(blocks, blockH = 16, blockW = 16, nodata = -9999.0f)
      .select(col("px_row"), col("px_col"), col("value").cast("int").as("v"))
      .orderBy("px_row", "px_col")
  }(
    // s12: same grid regeneration as s9 — the TIFF container must be
    // invisible to the decoded pixel table.
    """SELECT CAST(id // 32 AS INT) AS px_row, CAST(id % 32 AS INT) AS px_col,
      |  CAST(id AS INT) AS v
      |FROM range(1024) t(id)
      |WHERE (id // 32 + id % 32) % 7 <> 0
      |ORDER BY px_row, px_col""".stripMargin)

  /** S14 — the reference's EXACT write profile ingested: `compress='lzw',
    * bigtiff='YES', tiled=True` (feature_stacking.py:226-233). Scene 1 is
    * a BigTIFF (magic 43, 8-byte offsets) with little-endian LZW 16×16
    * tiles; scene 2 a classic big-endian STRIPPED LZW file with a clipped
    * last strip. Both flow through the same `tiffToBlocks` →
    * `explodeBlocks` plan as s12, so any defect in BigTIFF IFD walking,
    * LZW code widths (9→10-bit early change crosses inside every 1 KiB+
    * block), byte order after decompression, or strip clipping breaks the
    * pixel hash.
    */
  query("s14_bigtiff_lzw") { (s, d) =>
    import s.implicits._
    val big = operators.Tiff.synthTiff(
      64, 64, 16, 16, littleEndian = true, tile = true,
      grid = Some(operators.Regrid.GridDef(0.0, 64.0, 1.0, 1.0)),
      pad = -9999.0f, lzw = true, bigTiff = true)(
      (r, c) => if ((r * 3 + c) % 11 == 0) -9999.0f else ((r * 64 + c) * 7 % 1000).toFloat)
    val classic = operators.Tiff.synthTiff(
      48, 44, 48, 8, littleEndian = false, tile = false,
      pad = -9999.0f, lzw = true)(
      (r, c) => if ((r + 2 * c) % 13 == 0) -9999.0f else ((r * 48 + c) * 13 % 997).toFloat)
    def pixels(sceneId: Long, bytes: Array[Byte], bh: Int, bw: Int) = {
      val blocks = operators.Tiff.tiffToBlocks(
        Seq((sceneId, bytes)).toDF("scene_id", "bytes"))
      operators.RasterBridge.explodeBlocks(blocks, blockH = bh, blockW = bw, nodata = -9999.0f)
        .select(col("scene_id"), col("px_row"), col("px_col"),
          col("value").cast("int").as("v"))
    }
    pixels(1L, big, 16, 16).unionAll(pixels(2L, classic, 8, 48))
      .orderBy("scene_id", "px_row", "px_col")
  }(
    // s14: the LZW/BigTIFF containers must be as invisible as s12's raw
    // one — same closed-form regeneration, two scenes.
    """SELECT CAST(1 AS BIGINT) AS scene_id,
      |  CAST(id // 64 AS INT) AS px_row, CAST(id % 64 AS INT) AS px_col,
      |  CAST((id * 7) % 1000 AS INT) AS v
      |FROM range(4096) t(id)
      |WHERE ((id // 64) * 3 + id % 64) % 11 <> 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 48 AS INT), CAST(id % 48 AS INT),
      |  CAST((id * 13) % 997 AS INT)
      |FROM range(2112) t(id)
      |WHERE (id // 48 + 2 * (id % 48)) % 13 <> 0
      |ORDER BY scene_id, px_row, px_col""".stripMargin)

  /** S15 — multi-band ingest, the reference's CENTRAL artifact shape: the
    * N-band stacked float32 raster (feature_stacking.py:219-251) read
    * band-wise (:114-115,150). Scene 1 is a chunky (pixel-interleaved)
    * classic LE tiled 3-band file; scene 2 a planar (plane-major) BE
    * BigTIFF LZW stripped 2-band file — both flow through
    * `tiffToBandBlocks` → `explodeBlocks`, the band column riding the
    * bridge as an ordinary pass-through. Any defect in SamplesPerPixel/
    * PlanarConfiguration handling, chunky de-interleave, plane-major
    * offset grouping, or per-band padding breaks the hash.
    */
  query("s15_multiband_tiff") { (s, d) =>
    import s.implicits._
    val chunky = operators.Tiff.synthMultibandTiff(
      20, 14, 8, 8, littleEndian = true, tile = true,
      bands = 3, planarConfig = 1, pad = -9999.0f)(
      (b, r, c) => if ((b + r + c) % 9 == 0) -9999.0f
        else ((b * 2000 + r * 20 + c) % 1777).toFloat)
    val planar = operators.Tiff.synthMultibandTiff(
      24, 10, 24, 4, littleEndian = false, tile = false,
      bands = 2, planarConfig = 2, pad = -9999.0f, lzw = true, bigTiff = true)(
      (b, r, c) => if ((b * 3 + r * 2 + c) % 11 == 0) -9999.0f
        else (((b * 5000 + r * 24 + c) * 7) % 997).toFloat)
    def pixels(sceneId: Long, bytes: Array[Byte], bh: Int, bw: Int) = {
      val blocks = operators.Tiff.tiffToBandBlocks(
        Seq((sceneId, bytes)).toDF("scene_id", "bytes"))
      operators.RasterBridge.explodeBlocks(blocks, blockH = bh, blockW = bw, nodata = -9999.0f)
        .select(col("scene_id"), col("band"), col("px_row"), col("px_col"),
          col("value").cast("int").as("v"))
    }
    pixels(1L, chunky, 8, 8).unionAll(pixels(2L, planar, 4, 24))
      .orderBy("scene_id", "band", "px_row", "px_col")
  }(
    // s15: both multi-band layouts regenerate from the same closed forms —
    // the chunky de-interleave and plane-major grouping must be invisible.
    """SELECT CAST(1 AS BIGINT) AS scene_id, CAST(id // 280 AS INT) AS band,
      |  CAST((id % 280) // 20 AS INT) AS px_row, CAST(id % 20 AS INT) AS px_col,
      |  CAST((id // 280 * 2000 + ((id % 280) // 20) * 20 + id % 20) % 1777 AS INT) AS v
      |FROM range(840) t(id)
      |WHERE (id // 280 + (id % 280) // 20 + id % 20) % 9 <> 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 240 AS INT),
      |  CAST((id % 240) // 24 AS INT), CAST(id % 24 AS INT),
      |  CAST(((id // 240 * 5000 + ((id % 240) // 24) * 24 + id % 24) * 7) % 997 AS INT)
      |FROM range(480) t(id)
      |WHERE (id // 240 * 3 + ((id % 240) // 24) * 2 + id % 24) % 11 <> 0
      |ORDER BY scene_id, band, px_row, px_col""".stripMargin)

  /** S20 — the GeoTIFF raster SINK end-to-end (the write half of the
    * reference's stage-0/1 contract, r8 verdict mandate 1): part-derived
    * pixels → `RasterBridge.packBlocks` → `Tiff.writeGeoTiffFiles` (the
    * reference's tiled-LZW-BigTIFF profile, one .tif per scene, written
    * from the executors) → re-ingest through the real source path
    * (`readGeoTiffFiles` ∘ `explodeBlocks`) → per-(scene, band) census.
    * The oracle computes the census from the SOURCE pixel definition in
    * DuckDB and never sees a TIFF byte — the container (pack, encode,
    * file sharding, decode) must be completely invisible. All values are
    * small integers, so float32 carries them exactly and the sums are
    * integer-exact cross-engine.
    */
  query("s20_geotiff_sink") { (s, d) =>
    import operators.{RasterBridge, Tiff}
    val px = Tables.part(s, d).select(
      concat(lit("sc"), (col("p_partkey") % 3).cast("string")).as("scene"),
      (floor(col("p_partkey") / lit(3.0)).cast("int") % 2).cast("int").as("band"),
      (floor(col("p_partkey") / lit(6.0)).cast("int") / 64).cast("int").as("px_row"),
      (floor(col("p_partkey") / lit(6.0)).cast("int") % 64).cast("int").as("px_col"),
      (col("p_partkey") % 997).cast("float").as("value"))
    val blocks = RasterBridge.packBlocks(px, 16, 16, Float.NaN,
      keyCols = Seq("scene", "band"))
      .withColumn("origin_x", lit(500000.0)).withColumn("origin_y", lit(4100000.0))
      .withColumn("px_w", lit(30.0)).withColumn("px_h", lit(30.0))
    val dir = java.nio.file.Files.createTempDirectory("graft_s20").toString
    Tiff.writeGeoTiffFiles(blocks, dir, sceneCol = "scene",
      compressionCode = 5, bigTiff = true) // feature_stacking.py:226-249 profile
    val back = RasterBridge.explodeBlocks(Tiff.readGeoTiffFiles(s, dir), 16, 16, Float.NaN)
    back.groupBy(col("scene"), col("band"))
      .agg(count(lit(1)).as("n_px"),
        sum(col("value").cast("long")).as("sum_v"),
        sum((col("px_row") * lit(131) + col("px_col")).cast("long")).as("coord_sum"))
      .orderBy("scene", "band")
  }(
    // s20: the census from the SOURCE pixel definition — the oracle never
    // sees a TIFF byte; pack → LZW-BigTIFF encode → per-scene files →
    // decode must be invisible
    """WITH px AS (SELECT
      |    'sc' || CAST(p_partkey % 3 AS VARCHAR) AS scene,
      |    CAST(CAST(floor(p_partkey / 3.0) AS INT) % 2 AS INT) AS band,
      |    CAST(floor(p_partkey / 6.0) AS INT) // 64 AS px_row,
      |    CAST(floor(p_partkey / 6.0) AS INT) % 64 AS px_col,
      |    p_partkey % 997 AS value
      |  FROM part)
      |SELECT scene, band, count(*) AS n_px,
      |  CAST(sum(CAST(value AS BIGINT)) AS BIGINT) AS sum_v,
      |  CAST(sum(CAST(px_row * 131 + px_col AS BIGINT)) AS BIGINT) AS coord_sum
      |FROM px GROUP BY scene, band ORDER BY scene, band""".stripMargin)
}
