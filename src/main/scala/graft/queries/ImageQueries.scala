package graft
package queries

import org.apache.spark.sql.functions._

/** Image decoders: PNG, GIF and BMP pixels, resizing and
  * perceptual-hash near-duplicates. */
object ImageQueries extends Family {

  /** MM6 — FULL PNG pixel decode (inflate + the five row filters): a
    * grayscale and an RGBA frame, per-row filter types cycling through
    * None/Sub/Up/Average/Paeth so every filter participates, hash-checked
    * against closed-form pixel regeneration — the zlib stream and the
    * filter transforms must be exactly invisible.
    */
  query("mm6_png_pixels") { (s, d) =>
    import s.implicits._
    val gray = operators.MultimodalOps.synthPng(20, 14, 1, r => r % 5)(
      (r, c, _) => (r * 31 + c * 7) % 256)
    val rgba = operators.MultimodalOps.synthPng(16, 10, 4, r => (r + 2) % 5)(
      (r, c, ch) => (r * 17 + c * 5 + ch * 29) % 256)
    operators.MultimodalOps.pngToPixels(
        Seq((1L, gray), (2L, rgba)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  }(
    // mm6: PNG pixels regenerate from the closed forms — the zlib stream
    // and all five row filters must be invisible.
    """SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 20 AS INT) AS px_row,
      |  CAST(id % 20 AS INT) AS px_col, CAST(0 AS INT) AS channel,
      |  CAST((id // 20 * 31 + id % 20 * 7) % 256 AS INT) AS value
      |FROM range(280) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 64 AS INT),
      |  CAST((id % 64) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST((id // 64 * 17 + ((id % 64) // 4) * 5 + (id % 4) * 29) % 256 AS INT)
      |FROM range(640) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin)

  /** MM6B — the two remaining real-world PNG profiles: PALETTE (color
    * type 3 — the web-corpus staple; PLTE indices expand to RGB) and
    * 16-BIT grayscale (big-endian samples, filters striding 2 bytes).
    * Same closed-form regeneration oracle as mm6 — the palette
    * indirection and the BE sample assembly must be exactly invisible.
    */
  query("mm6b_png_palette16") { (s, d) =>
    import s.implicits._
    val palette = (0 until 7).map(i => ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256))
    val pal = operators.MultimodalOps.synthPngPalette(12, 9, palette, r => r % 5)(
      (r, c) => (r * 5 + c * 3) % 7)
    val gray16 = operators.MultimodalOps.synthPng(10, 8, 1, r => (r + 1) % 5, depth = 16)(
      (r, c, _) => (r * 4099 + c * 769) % 65536)
    // tRNS: per-entry alpha expands to RGBA; entry 3+ pads opaque (255)
    val palA = operators.MultimodalOps.synthPngPalette(8, 6,
      (0 until 5).map(i => ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256)),
      r => (r + 3) % 5, alpha = Seq(17, 200, 90))((r, c) => (r * 3 + c) % 5)
    operators.MultimodalOps.pngToPixels(
        Seq((1L, pal), (2L, gray16), (3L, palA)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  }(
    // mm6b: palette indices and 16-bit BE samples regenerate closed-form —
    // the PLTE indirection and the 2-byte assembly are invisible.
    """SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 36 AS INT) AS px_row,
      |  CAST((id % 36) // 3 AS INT) AS px_col, CAST(id % 3 AS INT) AS channel,
      |  CAST(CASE id % 3
      |    WHEN 0 THEN (((id // 36 * 5 + (id % 36) // 3 * 3) % 7) * 37) % 256
      |    WHEN 1 THEN (((id // 36 * 5 + (id % 36) // 3 * 3) % 7) * 59) % 256
      |    ELSE (((id // 36 * 5 + (id % 36) // 3 * 3) % 7) * 83) % 256
      |  END AS INT) AS value
      |FROM range(324) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 10 AS INT), CAST(id % 10 AS INT),
      |  CAST(0 AS INT),
      |  CAST((id // 10 * 4099 + id % 10 * 769) % 65536 AS INT)
      |FROM range(80) t(id)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(id // 32 AS INT),
      |  CAST((id % 32) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST(CASE id % 4
      |    WHEN 0 THEN (((id // 32 * 3 + (id % 32) // 4) % 5) * 37) % 256
      |    WHEN 1 THEN (((id // 32 * 3 + (id % 32) // 4) % 5) * 59) % 256
      |    WHEN 2 THEN (((id // 32 * 3 + (id % 32) // 4) % 5) * 83) % 256
      |    ELSE CASE (id // 32 * 3 + (id % 32) // 4) % 5
      |      WHEN 0 THEN 17 WHEN 1 THEN 200 WHEN 2 THEN 90 ELSE 255 END
      |  END AS INT) AS value
      |FROM range(192) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin)

  /** MM6D — packed PNG depths + transparent-color tRNS (r12; verdict
    * missing-2): a 2-bit packed PALETTE with per-entry alpha (the
    * favicon-era staple), a 1-bit gray with a transparent-color tRNS, a
    * 4-bit gray (non-byte-aligned rows through all five filters), and an
    * RGB-8 with a truecolor transparent color. Closed-form regeneration
    * oracle — the MSB-first bit unpacking, the 1-byte filter stride, and
    * the transparent-color match must all be invisible.
    */
  query("mm6d_png_packed_trns") { (s, d) =>
    import s.implicits._
    val palette = (0 until 4).map(i => ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256))
    val p2 = operators.MultimodalOps.synthPngPacked(11, 7, 2,
      palette = Some(palette), filterOf = r => r % 5, alpha = Seq(40, 220))(
      (r, c) => (r * 3 + c) % 4)
    val g1 = operators.MultimodalOps.synthPngPacked(13, 5, 1,
      filterOf = r => (r + 1) % 5, transparentGray = Some(1))((r, c) => (r + c) % 2)
    val g4 = operators.MultimodalOps.synthPngPacked(9, 6, 4,
      filterOf = r => (r + 2) % 5)((r, c) => (r * 5 + c * 3) % 16)
    val rgbT = operators.MultimodalOps.synthPng(8, 5, 3, r => r % 5,
      transparent = Some(Seq(29, 42, 55)))(
      (r, c, ch) => (r * 7 + c * 11 + ch * 13) % 256)
    operators.MultimodalOps.pngToPixels(
        Seq((1L, p2), (2L, g1), (3L, g4), (4L, rgbT)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  }(
    // mm6d: packed samples and transparent-color alphas regenerate
    // closed-form — bit unpacking, the 1-byte filter stride, and the
    // tRNS color match are invisible
    """SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 44 AS INT) AS px_row,
      |  CAST((id % 44) // 4 AS INT) AS px_col, CAST(id % 4 AS INT) AS channel,
      |  CAST(CASE id % 4
      |    WHEN 0 THEN (((id // 44 * 3 + (id % 44) // 4) % 4) * 37) % 256
      |    WHEN 1 THEN (((id // 44 * 3 + (id % 44) // 4) % 4) * 59) % 256
      |    WHEN 2 THEN (((id // 44 * 3 + (id % 44) // 4) % 4) * 83) % 256
      |    ELSE CASE (id // 44 * 3 + (id % 44) // 4) % 4
      |      WHEN 0 THEN 40 WHEN 1 THEN 220 ELSE 255 END
      |  END AS INT) AS value
      |FROM range(308) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 26 AS INT),
      |  CAST((id % 26) // 2 AS INT), CAST(id % 2 AS INT),
      |  CAST(CASE id % 2
      |    WHEN 0 THEN (id // 26 + (id % 26) // 2) % 2
      |    ELSE CASE (id // 26 + (id % 26) // 2) % 2 WHEN 1 THEN 0 ELSE 1 END
      |  END AS INT)
      |FROM range(130) t(id)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(id // 9 AS INT), CAST(id % 9 AS INT),
      |  CAST(0 AS INT), CAST((id // 9 * 5 + id % 9 * 3) % 16 AS INT)
      |FROM range(54) t(id)
      |UNION ALL
      |SELECT CAST(4 AS BIGINT), CAST(id // 32 AS INT),
      |  CAST((id % 32) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST(CASE WHEN id % 4 < 3
      |    THEN (id // 32 * 7 + (id % 32) // 4 * 11 + id % 4 * 13) % 256
      |    ELSE CASE WHEN id // 32 = 1 AND (id % 32) // 4 = 2 THEN 0 ELSE 255 END
      |  END AS INT)
      |FROM range(160) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin)

  /** MM6c — Adam7 INTERLACED PNG (r9: the last documented PNG gap): an
    * RGB-8 and a gray-16 image whose dimensions clip every pass stride,
    * written by the codec's own interlaced encoder and decoded through
    * the seven-pass scatter path. The oracle regenerates the pixels
    * closed-form — the interlace (pass splitting, per-pass filtering,
    * scatter) must be exactly invisible.
    */
  query("mm6c_png_adam7") { (s, d) =>
    import s.implicits._
    val rgb = operators.MultimodalOps.synthPng(13, 11, 3, r => r % 5,
      interlaced = true)((r, c, ch) => (r * 31 + c * 7 + ch * 11) % 256)
    val gray16 = operators.MultimodalOps.synthPng(9, 7, 1, r => (r + 2) % 5,
      depth = 16, interlaced = true)((r, c, _) => (r * 4099 + c * 769) % 65536)
    operators.MultimodalOps.pngToPixels(
        Seq((1L, rgb), (2L, gray16)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  }(
    // mm6c: Adam7 pixels regenerate closed-form — pass splitting,
    // per-pass filtering, and the seven-pass scatter are invisible
    """SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 39 AS INT) AS px_row,
      |  CAST((id % 39) // 3 AS INT) AS px_col, CAST(id % 3 AS INT) AS channel,
      |  CAST((id // 39 * 31 + (id % 39) // 3 * 7 + (id % 3) * 11) % 256 AS INT) AS value
      |FROM range(429) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 9 AS INT), CAST(id % 9 AS INT),
      |  CAST(0 AS INT),
      |  CAST((id // 9 * 4099 + id % 9 * 769) % 65536 AS INT)
      |FROM range(63) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin)

  /** MM11 — GIF89a decode (the remaining ubiquitous web-image container,
    * and the first MULTI-FRAME one): a full-screen frame off the global
    * palette plus an offset sub-rectangle frame with a LOCAL palette and
    * graphic-control transparency, both through the GIF LZW dialect
    * (LSB-first, growing code widths). Closed-form RGBA regeneration —
    * the LZW dictionary replay, sub-block reassembly, palette scoping,
    * and the transparent-index alpha must all be exact.
    */
  query("mm11_gif_frames") { (s, d) =>
    import s.implicits._
    val global = (0 until 6).map(i => ((i * 41) % 256, (i * 73) % 256, (i * 97) % 256))
    val local = (0 until 4).map(i => ((i * 29 + 5) % 256, (i * 53 + 11) % 256, (i * 89 + 17) % 256))
    val gif = operators.Gif.synthGif(14, 10, global, Seq(
      operators.Gif.FrameSpec(0, 0, 14, 10)((r, c) => (r * 7 + c * 3) % 6),
      operators.Gif.FrameSpec(3, 2, 8, 5, localPalette = Some(local),
        transparentIdx = Some(2), delayCs = 45)((r, c) => (r + c * 2) % 4),
      // r10: an INTERLACED frame (odd height so all four passes have
      // uneven strides) — the 8/8/4/2 row scatter must be invisible:
      // the oracle regenerates the same closed form as a sequential frame
      operators.Gif.FrameSpec(1, 1, 11, 9, interlaced = true, delayCs = 7)(
        (r, c) => (r * 5 + c) % 6)))
    operators.Gif.gifToFrames(Seq((1L, gif)).toDF("media_id", "bytes"))
      .orderBy("frame_idx", "px_row", "px_col", "channel")
  }(
    // mm11: both frames' RGBA regenerate closed-form (global vs local
    // palette, transparent index -> alpha 0) — the LZW replay and the
    // container walk are invisible.
    """SELECT CAST(1 AS BIGINT) AS media_id, CAST(0 AS INT) AS frame_idx,
      |  CAST(0 AS INT) AS frame_left, CAST(0 AS INT) AS frame_top,
      |  CAST(0 AS INT) AS duration_ms,
      |  CAST(id // 56 AS INT) AS px_row, CAST((id % 56) // 4 AS INT) AS px_col,
      |  CAST(id % 4 AS INT) AS channel,
      |  CAST(CASE id % 4
      |    WHEN 0 THEN (((id // 56 * 7 + (id % 56) // 4 * 3) % 6) * 41) % 256
      |    WHEN 1 THEN (((id // 56 * 7 + (id % 56) // 4 * 3) % 6) * 73) % 256
      |    WHEN 2 THEN (((id // 56 * 7 + (id % 56) // 4 * 3) % 6) * 97) % 256
      |    ELSE 255 END AS INT) AS value
      |FROM range(560) t(id)
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(1 AS INT), CAST(3 AS INT), CAST(2 AS INT),
      |  CAST(450 AS INT),
      |  CAST(id // 32 AS INT), CAST((id % 32) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST(CASE id % 4
      |    WHEN 0 THEN (((id // 32 + (id % 32) // 4 * 2) % 4) * 29 + 5) % 256
      |    WHEN 1 THEN (((id // 32 + (id % 32) // 4 * 2) % 4) * 53 + 11) % 256
      |    WHEN 2 THEN (((id // 32 + (id % 32) // 4 * 2) % 4) * 89 + 17) % 256
      |    ELSE CASE WHEN (id // 32 + (id % 32) // 4 * 2) % 4 = 2
      |         THEN 0 ELSE 255 END
      |  END AS INT)
      |FROM range(160) t(id)
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT),
      |  CAST(70 AS INT),
      |  CAST(id // 44 AS INT), CAST((id % 44) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST(CASE id % 4
      |    WHEN 0 THEN (((id // 44 * 5 + (id % 44) // 4) % 6) * 41) % 256
      |    WHEN 1 THEN (((id // 44 * 5 + (id % 44) // 4) % 6) * 73) % 256
      |    WHEN 2 THEN (((id // 44 * 5 + (id % 44) // 4) % 6) * 97) % 256
      |    ELSE 255 END AS INT)
      |FROM range(396) t(id)
      |ORDER BY frame_idx, px_row, px_col, channel""".stripMargin)

  /** MM12 — BMP pixel decode (mm3 proved the header walk): 24-bit
    * bottom-up, 8-bit palette top-down (negative height), and 32-bit
    * BGRA — row padding, the BGR→RGB swap, palette-quad expansion, and
    * both row orders hash-checked against closed-form regeneration.
    */
  query("mm12_bmp_pixels") { (s, d) =>
    import s.implicits._
    val bgr24 = operators.MultimodalOps.synthBmp(9, 6, 3)(
      (r, c, ch) => (r * 37 + c * 11 + ch * 71 + 3) % 256)
    val pal = (0 until 5).map(i => ((i * 31 + 2) % 256, (i * 57 + 4) % 256, (i * 91 + 8) % 256))
    val idx8 = operators.MultimodalOps.synthBmp(7, 5, 1, palette = pal, topDown = true)(
      (r, c, _) => (r * 2 + c) % 5)
    val bgra32 = operators.MultimodalOps.synthBmp(5, 4, 4)(
      (r, c, ch) => (r * 19 + c * 23 + ch * 41 + 9) % 256)
    operators.MultimodalOps.bmpToPixels(
        Seq((1L, bgr24), (2L, idx8), (3L, bgra32)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  }(
    // mm12: BMP values regenerate closed-form — padding, BGR swap, row
    // order, and palette quads are invisible.
    """SELECT CAST(1 AS BIGINT) AS img_id, CAST(id // 27 AS INT) AS px_row,
      |  CAST((id % 27) // 3 AS INT) AS px_col, CAST(id % 3 AS INT) AS channel,
      |  CAST((id // 27 * 37 + (id % 27) // 3 * 11 + id % 3 * 71 + 3) % 256 AS INT) AS value
      |FROM range(162) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 21 AS INT),
      |  CAST((id % 21) // 3 AS INT), CAST(id % 3 AS INT),
      |  CAST(CASE id % 3
      |    WHEN 0 THEN ((id // 21 * 2 + (id % 21) // 3) % 5 * 31 + 2) % 256
      |    WHEN 1 THEN ((id // 21 * 2 + (id % 21) // 3) % 5 * 57 + 4) % 256
      |    ELSE ((id // 21 * 2 + (id % 21) // 3) % 5 * 91 + 8) % 256 END AS INT)
      |FROM range(105) t(id)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(id // 20 AS INT),
      |  CAST((id % 20) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST((id // 20 * 19 + (id % 20) // 4 * 23 + id % 4 * 41 + 9) % 256 AS INT)
      |FROM range(80) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin)

  /** MM17 — REAL pixel resize (r10: the thumbnail half the resize stub
    * deferred): a decoded PNG through `resizePixels` with both kernels —
    * bilinear 9×6→4×3 (fractional x-ratio 2.25 exercises interpolation,
    * integral y-ratio hits exact centers) and nearest 9×6→5×2. The
    * bilinear sum is assembled in a fixed order (per-tap slots), so the
    * doubles are bit-deterministic and the oracle mirrors the identical
    * +,*,/ chain — raw-double hashable (no transcendentals anywhere).
    */
  query("mm17_pixel_resize") { (s, d) =>
    import s.implicits._
    val png = operators.MultimodalOps.synthPng(9, 6, 3, _ => 0)(
      (r, c, ch) => (r * 23 + c * 31 + ch * 41 + 7) % 256)
    val px = operators.MultimodalOps.pngToPixels(Seq((1L, png)).toDF("img_id", "bytes"))
    val bil = operators.MultimodalOps.resizePixels(px, 9, 6, 4, 3, "bilinear")
      .withColumn("kind", lit("bilinear"))
    val nn = operators.MultimodalOps.resizePixels(px, 9, 6, 5, 2, "nearest")
      .withColumn("kind", lit("nearest"))
      .withColumn("value", col("value").cast("double"))
    bil.unionByName(nn)
      .select("img_id", "kind", "px_row", "px_col", "channel", "value")
      .orderBy("kind", "px_row", "px_col", "channel")
  } {
    // mm17: the identical half-pixel mapping, clamps, and FIXED-order
    // tap sum evaluated in DuckDB over the closed-form source pixels —
    // pure +,*,/ both engines, so raw doubles hash
    val rxB = 9.0 / 4; val ryB = 6.0 / 3
    val rxN = 9.0 / 5; val ryN = 6.0 / 2
    def sv(r: String, c: String, ch: String) =
      s"CAST(($r * 23 + $c * 31 + $ch * 41 + 7) % 256 AS DOUBLE)"
    s"""WITH bd AS (SELECT id // 12 AS r, (id % 12) // 3 AS c, id % 3 AS ch
      |  FROM range(36) t(id)),
      |b1 AS (SELECT r, c, ch,
      |    (CAST(c AS DOUBLE) + 0.5) * $rxB - 0.5 AS u,
      |    (CAST(r AS DOUBLE) + 0.5) * $ryB - 0.5 AS v FROM bd),
      |b2 AS (SELECT r, c, ch, u, v,
      |    CAST(floor(u) AS INT) AS c0, CAST(floor(v) AS INT) AS r0,
      |    u - floor(u) AS fx, v - floor(v) AS fy FROM b1),
      |b3 AS (SELECT r, c, ch, fx, fy,
      |    LEAST(GREATEST(r0 + 0, 0), 5) AS sr0, LEAST(GREATEST(r0 + 1, 0), 5) AS sr1,
      |    LEAST(GREATEST(c0 + 0, 0), 8) AS sc0, LEAST(GREATEST(c0 + 1, 0), 8) AS sc1
      |  FROM b2),
      |bil AS (SELECT CAST(1 AS BIGINT) AS img_id, 'bilinear' AS kind,
      |    CAST(r AS INT) AS px_row, CAST(c AS INT) AS px_col,
      |    CAST(ch AS INT) AS channel,
      |    ((${sv("sr0", "sc0", "ch")} * ((1.0 - fy) * (1.0 - fx))
      |      + ${sv("sr0", "sc1", "ch")} * ((1.0 - fy) * fx))
      |      + ${sv("sr1", "sc0", "ch")} * (fy * (1.0 - fx)))
      |      + ${sv("sr1", "sc1", "ch")} * (fy * fx) AS value
      |  FROM b3),
      |nd AS (SELECT id // 15 AS r, (id % 15) // 3 AS c, id % 3 AS ch
      |  FROM range(30) t(id)),
      |nn AS (SELECT CAST(1 AS BIGINT) AS img_id, 'nearest' AS kind,
      |    CAST(r AS INT) AS px_row, CAST(c AS INT) AS px_col,
      |    CAST(ch AS INT) AS channel,
      |    ${sv(
             "LEAST(GREATEST(CAST(floor((CAST(r AS DOUBLE) + 0.5) * " + ryN + " - 0.5 + 0.5) AS INT), 0), 5)",
             "LEAST(GREATEST(CAST(floor((CAST(c AS DOUBLE) + 0.5) * " + rxN + " - 0.5 + 0.5) AS INT), 0), 8)",
             "ch")} AS value
      |  FROM nd)
      |SELECT * FROM bil UNION ALL SELECT * FROM nn
      |ORDER BY kind, px_row, px_col, channel""".stripMargin
  }

  /** E15 — perceptual-hash IMAGE near-dup pairs (r10b: the pixel-space
    * sibling of e14's text simhash): 24 synthetic 16×12 RGB images in 4
    * pattern groups (members differ by one noised source pixel), hashed
    * by `perceptualHash` (luma → bilinear 8×8 → integer mean-threshold
    * bits) and paired by `phashNearDupPairs` (4-band pigeonhole,
    * Hamming ≤ 3). The oracle BRUTE-FORCES all pairs over hashes it
    * derives from the same closed-form pixels — the banding is proven
    * lossless (the e14 oracle shape), and the whole chain is exact
    * dyadic arithmetic (resize weights ∈ {0.25, 0.5, 0.75}; integer
    * thresholding), so no margin scan is needed.
    */
  query("e15_phash_neardup") { (s, d) =>
    import s.implicits._
    val px = (for {
      i <- 0 until 24; r <- 0 until 12; c <- 0 until 16; ch <- 0 until 3
    } yield {
      val g = i % 4
      val high = (r / 3 + c / 2 + g) % 2 == 0
      val v = ch match {
        case 0 => ((g * 31 + r * 3 + c * 5) % 40) + (if (high) 150 else 10)
        case 1 => if (high) 250 else 20
        case _ => if (r == (i * 5) % 12 && c == (i * 7) % 16 && i / 4 > 0) 200 else 30
      }
      (i.toLong, r, c, ch, v)
    }).toDF("img_id", "px_row", "px_col", "channel", "value")
    val hashes = operators.MultimodalOps.perceptualHash(px, 16, 12)
    operators.MultimodalOps.phashNearDupPairs(hashes, maxHamming = 3)
      .orderBy("a", "b")
  } {
    // e15: hashes derived from the same closed-form pixels (luma →
    // mirrored bilinear 8×8 → integer mean threshold → shifted bit
    // packs), then ALL pairs brute-forced — DuckDB does the O(n²) work
    // the banding avoids, proving it lossless; exact dyadic arithmetic
    // end to end
    // luma at source pixel (rr, cc) of image i — mirrors the fixture
    def lum(rr: String, cc: String) = {
      val high = s"((($rr) // 3 + ($cc) // 2 + i % 4) % 2 = 0)"
      val rch = s"((i % 4) * 31 + ($rr) * 3 + ($cc) * 5) % 40 + (CASE WHEN $high THEN 150 ELSE 10 END)"
      val gch = s"(CASE WHEN $high THEN 250 ELSE 20 END)"
      val bch = s"(CASE WHEN ($rr) = (i * 5) % 12 AND ($cc) = (i * 7) % 16 AND i // 4 > 0 THEN 200 ELSE 30 END)"
      s"(2 * ($rch) + 5 * $gch + $bch)"
    }
    s"""WITH cell AS (SELECT i.i, id // 8 AS r, id % 8 AS c
      |  FROM (SELECT unnest(generate_series(0, 23)) AS i) i
      |  CROSS JOIN range(64) t(id)),
      |st AS (SELECT i, r, c,
      |    (CAST(c AS DOUBLE) + 0.5) * ${16.0 / 8} - 0.5 AS u,
      |    (CAST(r AS DOUBLE) + 0.5) * ${12.0 / 8} - 0.5 AS v FROM cell),
      |st2 AS (SELECT i, r, c,
      |    CAST(floor(u) AS INT) AS c0, CAST(floor(v) AS INT) AS r0,
      |    u - floor(u) AS fx, v - floor(v) AS fy FROM st),
      |st3 AS (SELECT i, r, c, fx, fy,
      |    LEAST(GREATEST(r0 + 0, 0), 11) AS sr0, LEAST(GREATEST(r0 + 1, 0), 11) AS sr1,
      |    LEAST(GREATEST(c0 + 0, 0), 15) AS sc0, LEAST(GREATEST(c0 + 1, 0), 15) AS sc1
      |  FROM st2),
      |cells AS (SELECT i, r, c,
      |    ((CAST(${lum("sr0", "sc0")} AS DOUBLE) * ((1.0 - fy) * (1.0 - fx))
      |      + CAST(${lum("sr0", "sc1")} AS DOUBLE) * ((1.0 - fy) * fx))
      |      + CAST(${lum("sr1", "sc0")} AS DOUBLE) * (fy * (1.0 - fx)))
      |      + CAST(${lum("sr1", "sc1")} AS DOUBLE) * (fy * fx) AS val
      |  FROM st3),
      |fp AS (SELECT i, r, c, CAST(floor(val * 1048576.0) AS BIGINT) AS fp
      |  FROM cells),
      |tot AS (SELECT i, CAST(sum(fp) AS BIGINT) AS tot FROM fp GROUP BY i),
      |bits AS (SELECT f.i, f.r * 8 + f.c AS idx, f.fp * 64 > t.tot AS onb
      |  FROM fp f JOIN tot t ON f.i = t.i),
      |h AS (SELECT i,
      |    CAST(coalesce(sum(CASE WHEN onb AND idx < 32
      |      THEN (CAST(1 AS BIGINT) << CAST(idx AS INT)) END), 0) AS BIGINT) AS lo,
      |    CAST(coalesce(sum(CASE WHEN onb AND idx >= 32
      |      THEN (CAST(1 AS BIGINT) << CAST(idx - 32 AS INT)) END), 0) AS BIGINT) AS hi
      |  FROM bits GROUP BY i)
      |SELECT x.i AS a, y.i AS b,
      |  CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS hamming
      |FROM h x JOIN h y ON x.i < y.i
      |WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 3
      |ORDER BY a, b""".stripMargin
  }
}
