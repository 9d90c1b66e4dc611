package graft
package queries

/** JPEG decoding: baseline, chroma-subsampled and progressive pixels, and
  * EXIF orientation. */
object JpegQueries extends Family {

  /** MM7 — baseline JPEG pixel decode (ITU-T T.81 SOF0): marker walk,
    * standard Annex-K Huffman entropy decode with byte unstuffing +
    * restart markers, dequantize, de-zigzag, separable float IDCT, level
    * shift — the last pixel format after TIFF and PNG. The fixture is
    * DC-only blocks (every AC term an exact 0.0 in the IDCT sum), so the
    * oracle evaluates the identical one-product closed form; the entropy
    * path (Huffman, stuffing, RST) must be invisible in the hash. The
    * grayscale image uses a restart interval so RST handling is hashed.
    */
  query("mm7_jpeg_pixels") { (s, d) =>
    import s.implicits._
    val qGray = Array.fill(64)(16)
    val gray = operators.Jpeg.synthJpeg(20, 12, 1, Seq(qGray), restartInterval = 2) {
      (_, by, bx) =>
        val nat = new Array[Int](64)
        nat(0) = ((by * 3 + bx) * 7) % 40 - 20
        nat
    }
    val qLum = Array.fill(64)(10); val qChr = Array.fill(64)(12)
    val color = operators.Jpeg.synthJpeg(16, 8, 3, Seq(qLum, qChr)) {
      (c, by, bx) =>
        val nat = new Array[Int](64)
        nat(0) = (c * 11 + by + bx * 5) % 30 - 15
        nat
    }
    operators.Jpeg.jpegToPixels(
        Seq((1L, gray), (2L, color)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  } {
    // mm7: DC-only baseline JPEG — the IDCT collapses to ONE product
    // chain per pixel (C0² · dc·q · 0.25, then round+clamp), evaluated
    // identically here; the entropy coding is invisible in the hash.
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    s"""SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 20 AS INT) AS px_row,
      |  CAST(id % 20 AS INT) AS px_col, CAST(0 AS INT) AS channel,
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST(((((id // 20 // 8) * 3 + (id % 20 // 8)) * 7) % 40 - 20) * 16 AS DOUBLE)
      |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT) AS value
      |FROM range(240) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 48 AS INT),
      |  CAST((id % 48) // 3 AS INT), CAST(id % 3 AS INT),
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST((((id % 3) * 11 + ((id % 48) // 3 // 8) * 5) % 30 - 15)
      |        * (CASE WHEN id % 3 = 0 THEN 10 ELSE 12 END) AS DOUBLE)
      |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT)
      |FROM range(384) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin
  }

  /** MM8 — CHROMA-SUBSAMPLED baseline JPEG (the profile virtually every
    * camera/web JPEG ships): a 4:2:0 image (Y 2×2 — MCU-interleaved scan
    * with restart markers crossing MCU boundaries) and a 4:2:2 image
    * (Y 2×1 — horizontal-only halving). DC-only blocks keep the mm7
    * closed-form oracle recipe; chroma planes decode at their own
    * resolution and box-upsample, so the oracle indexes chroma blocks at
    * (r/16, c/16) resp. (r/8, c/16) — the MCU interleave, per-plane
    * padding, and replication must all be exactly invisible.
    */
  query("mm8_jpeg_subsampled") { (s, d) =>
    import s.implicits._
    val qY = Array.fill(64)(16); val qC = Array.fill(64)(8)
    val j420 = operators.Jpeg.synthJpeg(24, 20, 3, Seq(qY, qC),
      restartInterval = 3, sampling = Seq((2, 2), (1, 1), (1, 1))) { (c, by, bx) =>
      val nat = new Array[Int](64)
      nat(0) = if (c == 0) ((by * 5 + bx * 3) % 48) - 24
        else ((c * 7 + by * 3 + bx * 5) % 30) - 15
      nat
    }
    val j422 = operators.Jpeg.synthJpeg(16, 10, 3, Seq(qY, qC),
      sampling = Seq((2, 1), (1, 1), (1, 1))) { (c, by, bx) =>
      val nat = new Array[Int](64)
      nat(0) = if (c == 0) ((by * 11 + bx) % 44) - 22
        else ((c * 9 + by * 7 + bx) % 26) - 13
      nat
    }
    operators.Jpeg.jpegToPixels(
        Seq((1L, j420), (2L, j422)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  } {
    // mm8: DC-only subsampled JPEG — same one-product closed form as mm7,
    // with chroma block indices at the SUBSAMPLED resolution (r//16, c//16
    // for 4:2:0; r//8, c//16 for 4:2:2): wrong upsampling or interleave
    // re-keys every chroma sample.
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    s"""SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 72 AS INT) AS px_row,
      |  CAST((id % 72) // 3 AS INT) AS px_col, CAST(id % 3 AS INT) AS channel,
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST(CASE WHEN id % 3 = 0
      |      THEN (((id // 72 // 8) * 5 + ((id % 72) // 3 // 8) * 3) % 48 - 24) * 16
      |      ELSE (((id % 3) * 7 + (id // 72 // 16) * 3 + ((id % 72) // 3 // 16) * 5) % 30 - 15) * 8
      |    END AS DOUBLE) * 0.25 + 128.0 + 0.5) AS INT))) AS INT) AS value
      |FROM range(1440) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 48 AS INT),
      |  CAST((id % 48) // 3 AS INT), CAST(id % 3 AS INT),
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST(CASE WHEN id % 3 = 0
      |      THEN (((id // 48 // 8) * 11 + ((id % 48) // 3 // 8)) % 44 - 22) * 16
      |      ELSE (((id % 3) * 9 + (id // 48 // 8) * 7 + ((id % 48) // 3 // 16)) % 26 - 13) * 8
      |    END AS DOUBLE) * 0.25 + 128.0 + 0.5) AS INT))) AS INT)
      |FROM range(480) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin
  }

  /** MM9 — PROGRESSIVE JPEG (SOF2): a grayscale image with DC successive
    * approximation (Al 1→0), split all-zero AC bands (EOB-run heavy) and
    * restart markers, plus a 4:2:0 color image with an interleaved DC
    * first scan + per-component AC scans + a DC refinement. DC-only
    * blocks keep the mm7 closed-form oracle recipe — the multi-scan
    * coefficient accumulation, successive-approximation shifts, EOB runs,
    * and the MCU-interleaved/non-interleaved block orders must all be
    * exactly invisible in the final pixels.
    */
  query("mm9_jpeg_progressive") { (s, d) =>
    import s.implicits._
    import operators.Jpeg.ScanSpec
    val qG = Array.fill(64)(16)
    val gray = operators.Jpeg.synthJpegProgressive(20, 12, 1, Seq(qG), Seq(
      ScanSpec(Seq(0), 0, 0, 0, 1),
      ScanSpec(Seq(0), 1, 20, 0, 0),
      ScanSpec(Seq(0), 0, 0, 1, 0),
      ScanSpec(Seq(0), 21, 63, 0, 0)), restartInterval = 2) { (_, by, bx) =>
      val nat = new Array[Int](64)
      nat(0) = ((by * 7 + bx * 3) % 50) - 25
      nat
    }
    val qY = Array.fill(64)(16); val qC = Array.fill(64)(8)
    val color = operators.Jpeg.synthJpegProgressive(24, 20, 3, Seq(qY, qC), Seq(
      ScanSpec(Seq(0, 1, 2), 0, 0, 0, 1),
      ScanSpec(Seq(0), 1, 63, 0, 0),
      ScanSpec(Seq(1), 1, 63, 0, 0),
      ScanSpec(Seq(2), 1, 63, 0, 0),
      ScanSpec(Seq(0, 1, 2), 0, 0, 1, 0)),
      sampling = Seq((2, 2), (1, 1), (1, 1))) { (c, by, bx) =>
      val nat = new Array[Int](64)
      nat(0) = if (c == 0) ((by * 5 + bx * 3) % 48) - 24
        else ((c * 7 + by * 3 + bx * 5) % 30) - 15
      nat
    }
    operators.Jpeg.jpegToPixels(
        Seq((1L, gray), (2L, color)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  } {
    // mm9: DC-only progressive JPEG — the coefficients reassembled across
    // scans equal the single-scan values, so the same one-product closed
    // form as mm7/mm8 applies (img2's blocks are mm8-img1's exactly).
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    s"""SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 20 AS INT) AS px_row,
      |  CAST(id % 20 AS INT) AS px_col, CAST(0 AS INT) AS channel,
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST((((id // 20 // 8) * 7 + (id % 20 // 8) * 3) % 50 - 25) * 16 AS DOUBLE)
      |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT) AS value
      |FROM range(240) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 72 AS INT),
      |  CAST((id % 72) // 3 AS INT), CAST(id % 3 AS INT),
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST(CASE WHEN id % 3 = 0
      |      THEN (((id // 72 // 8) * 5 + ((id % 72) // 3 // 8) * 3) % 48 - 24) * 16
      |      ELSE (((id % 3) * 7 + (id // 72 // 16) * 3 + ((id % 72) // 3 // 16) * 5) % 30 - 15) * 8
      |    END AS DOUBLE) * 0.25 + 128.0 + 0.5) AS INT))) AS INT)
      |FROM range(1440) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin
  }

  /** MM14 — EXIF orientation (the other documented-decision gap from the
    * r8 verdict): eight otherwise-identical DC-only grayscale JPEGs, one
    * per orientation 1..8, each carrying a real APP1 Exif segment (TIFF
    * IFD0 tag 274, read through the engine's own TIFF IFD walker),
    * decoded UPRIGHT via `jpegToPixelsUpright`. Orientations 5..8 swap
    * the axes; the oracle evaluates the mm7 closed form at the
    * per-orientation source coordinate — the coordinate remap must be
    * exactly the EXIF display transform.
    */
  query("mm14_exif_orientation") { (s, d) =>
    import s.implicits._
    val q = Array.fill(64)(16)
    val imgs = (1 to 8).map { o =>
      (o.toLong, operators.Jpeg.synthJpeg(16, 8, 1, Seq(q), exifOrientation = o) {
        (_, _, bx) =>
          val nat = new Array[Int](64)
          nat(0) = ((o * 7 + bx * 11) % 50) - 25
          nat
      })
    }
    operators.Jpeg.jpegToPixelsUpright(imgs.toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  } {
    // mm14: the mm7 closed form evaluated at the per-orientation SOURCE
    // coordinate (value depends only on the stored column's block index,
    // so each orientation is one coordinate substitution)
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    val parts = (1 to 8).map { o =>
      val ow = if (o >= 5) 8 else 16
      val oh = if (o >= 5) 16 else 8
      val cSrc = o match {
        case 1 | 4 => s"(id % $ow)"
        case 2 | 3 => s"(15 - id % $ow)"
        case 5 | 6 => s"(id // $ow)"
        case _ => s"(15 - id // $ow)"
      }
      s"""SELECT CAST($o AS BIGINT) AS img_id, CAST($o AS INT) AS orientation,
         |  CAST(id // $ow AS INT) AS px_row, CAST(id % $ow AS INT) AS px_col,
         |  CAST(0 AS INT) AS channel,
         |  CAST(LEAST(255, GREATEST(0, CAST(floor(
         |    $c0sq * CAST((($o * 7 + ($cSrc // 8) * 11) % 50 - 25) * 16 AS DOUBLE)
         |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT) AS value
         |FROM range(${ow * oh}) t(id)""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n",
      "\nORDER BY img_id, px_row, px_col, channel")
  }
}
