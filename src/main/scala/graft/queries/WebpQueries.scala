package graft
package queries

import org.apache.spark.sql.functions._

/** WebP (lossless, lossy, alpha, animation) and the animated containers'
  * frame durations and canvas composition. */
object WebpQueries extends Family {

  /** MM16 — lossless WebP (VP8L, r10): three containers through the
    * from-scratch `Webp` codec in one plan — (1) a plain literal stream,
    * (2) the full feature stack (SUBTRACT_GREEN + a predictor transform
    * + color cache + a meta prefix image) over the SAME pixel formula,
    * and (3) a delta-coded 13-entry palette with sub-byte index
    * bundling. The oracle regenerates every RGBA value closed-form, so
    * the prefix coding, transforms, cache, and bundling must all be
    * invisible — and (2) sharing (1)'s formula proves the stacked
    * features change nothing but the bytes.
    */
  query("mm16_webp_lossless") { (s, d) =>
    import s.implicits._
    def pix(r: Int, c: Int): Int =
      (((r * 5 + c * 3 + 9) % 256) << 24) | (((r * 31 + c * 7) % 256) << 16) |
        (((r * 13 + c * 17 + 5) % 256) << 8) | ((r * 3 + c * 29 + 11) % 256)
    val plain = operators.Webp.synthWebpLossless(9, 5, pix)
    val stacked = operators.Webp.synthWebpLossless(8, 6, pix,
      subtractGreen = true, predictorMode = Some(7), cacheBits = 4,
      metaBits = Some(2))
    val pal = (0 until 13).map(i =>
      (((i * 37 + 100) % 256) << 24) | (((i * 59) % 256) << 16) |
        (((i * 83 + 7) % 256) << 8) | ((i * 29 + 3) % 256))
    val paletted = operators.Webp.synthWebpPalette(10, 4, pal,
      (r, c) => (r * 7 + c * 5) % 13)
    operators.Webp.webpToPixels(
        Seq((1L, plain), (2L, stacked), (3L, paletted)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  } {
    // mm16: every RGBA value regenerates closed-form — the VP8L prefix
    // coding, transforms, color cache, and palette bundling never reach
    // the oracle; files 1 and 2 share one formula (stacked features are
    // bytes-only)
    def file(img: Int, w: Int, rv: String, gv: String, bv: String, av: String) =
      s"""SELECT CAST($img AS BIGINT) AS img_id,
         |  CAST(id // ${w * 4} AS INT) AS px_row,
         |  CAST((id % ${w * 4}) // 4 AS INT) AS px_col,
         |  CAST(id % 4 AS INT) AS channel,
         |  CAST(CASE id % 4 WHEN 0 THEN $rv WHEN 1 THEN $gv
         |    WHEN 2 THEN $bv ELSE $av END AS INT) AS value""".stripMargin
    val r1 = "(id // 36)"; val c1 = "((id % 36) // 4)"
    val r2 = "(id // 32)"; val c2 = "((id % 32) // 4)"
    def rgba(r: String, c: String) = (
      s"($r * 31 + $c * 7) % 256", s"($r * 13 + $c * 17 + 5) % 256",
      s"($r * 3 + $c * 29 + 11) % 256", s"($r * 5 + $c * 3 + 9) % 256")
    val (ra, ga, ba, aa) = rgba(r1, c1)
    val (rb, gb, bb, ab) = rgba(r2, c2)
    s"""${file(1, 9, ra, ga, ba, aa)}
      |FROM range(180) t(id)
      |UNION ALL
      |${file(2, 8, rb, gb, bb, ab)}
      |FROM range(192) t(id)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(id // 40 AS INT),
      |  CAST((id % 40) // 4 AS INT), CAST(id % 4 AS INT),
      |  CAST(CASE id % 4
      |    WHEN 0 THEN (((id // 40) * 7 + ((id % 40) // 4) * 5) % 13 * 59) % 256
      |    WHEN 1 THEN (((id // 40) * 7 + ((id % 40) // 4) * 5) % 13 * 83 + 7) % 256
      |    WHEN 2 THEN (((id // 40) * 7 + ((id % 40) // 4) * 5) % 13 * 29 + 3) % 256
      |    ELSE (((id // 40) * 7 + ((id % 40) // 4) * 5) % 13 * 37 + 100) % 256
      |  END AS INT)
      |FROM range(160) t(id)
      |ORDER BY img_id, px_row, px_col, channel""".stripMargin
  }

  /** MM18 — ANIMATED lossless WebP (r10b: VP8X + ANIM + ANMF frames,
    * each a full VP8L payload): three offset frames with distinct
    * durations through `webpToFrames` — the gifToFrames shape for the
    * web's other animation container. The oracle regenerates every
    * frame's RGBA closed-form with the per-frame source shift; the ANMF
    * framing (halved offsets, minus-one dims, 24-bit durations) must be
    * invisible.
    */
  query("mm18_webp_anim") { (s, d) =>
    import s.implicits._
    def pix(dr: Int, dc: Int)(r: Int, c: Int): Int = {
      val rr = r + dr; val cc = c + dc
      (((rr * 5 + cc * 3 + 9) % 256) << 24) | (((rr * 31 + cc * 7) % 256) << 16) |
        (((rr * 13 + cc * 17 + 5) % 256) << 8) | ((rr * 3 + cc * 29 + 11) % 256)
    }
    val anim = operators.Webp.synthWebpAnim(14, 10, Seq(
      (0, 0, 14, 10, 33, pix(0, 0)),
      (4, 2, 7, 5, 47, pix(2, 3)),
      (8, 6, 5, 3, 55, pix(5, 1))))
    operators.Webp.webpToFrames(Seq((1L, anim)).toDF("media_id", "bytes"))
      .orderBy("frame_idx", "px_row", "px_col", "channel")
  } {
    // mm18: every frame's RGBA regenerates closed-form at the
    // per-frame source shift — the ANMF container framing is invisible
    def frame(idx: Int, left: Int, top: Int, w: Int, h: Int, dur: Int,
        dr: Int, dc: Int) = {
      val r = s"(id // ${w * 4} + $dr)"; val c = s"((id % ${w * 4}) // 4 + $dc)"
      s"""SELECT CAST(1 AS BIGINT) AS media_id, CAST($idx AS INT) AS frame_idx,
         |  CAST($left AS INT) AS frame_left, CAST($top AS INT) AS frame_top,
         |  CAST($dur AS INT) AS duration_ms,
         |  CAST(id // ${w * 4} AS INT) AS px_row,
         |  CAST((id % ${w * 4}) // 4 AS INT) AS px_col,
         |  CAST(id % 4 AS INT) AS channel,
         |  CAST(CASE id % 4
         |    WHEN 0 THEN ($r * 31 + $c * 7) % 256
         |    WHEN 1 THEN ($r * 13 + $c * 17 + 5) % 256
         |    WHEN 2 THEN ($r * 3 + $c * 29 + 11) % 256
         |    ELSE ($r * 5 + $c * 3 + 9) % 256 END AS INT) AS value
         |FROM range(${w * h * 4}) t(id)""".stripMargin
    }
    Seq(frame(0, 0, 0, 14, 10, 33, 0, 0), frame(1, 4, 2, 7, 5, 47, 2, 3),
      frame(2, 8, 6, 5, 3, 55, 5, 1))
      .mkString("", "\nUNION ALL\n",
        "\nORDER BY frame_idx, px_row, px_col, channel")
  }

  // mm19 fixture parameters, shared between the query and its oracle:
  // per-MB quantizer-level Y2-DC values (file 1: flat MBs via DC/H/V/TM
  // prediction + one skipped MB, spanning token categories cat2/3/5/6 and
  // both signs) and file 2's Y2-DC + per-block AC pairs (column stripes
  // through the exact integer IDCT). qi=0: y2dcQ=8, yacQ=4, uvdcQ=4.
  private val Mm19Vy = Array(16, 8, -40, 70, 30, 0)

  private val Mm19Vu = Array(12, -6, 20, -18, 9, 0)

  private val Mm19Vv = Array(-10, 15, -25, 22, -12, 0)

  private val Mm19W2 = Array(10, 0, 24, -16, 33, 5)

  private val Mm19A2 = Array(6, 14, -9, 20, 3, -30)

  /** MM19 — LOSSY WebP (VP8 intra keyframe, r11): two files through the
    * from-scratch [[operators.Vp8]] decoder in one plan. File 1 (48x32):
    * six flat macroblocks — DC/H/H/V/TM modes + one SKIPPED MB — whose
    * Y2-DC and chroma-DC coefficients span token categories 2/3/5/6 and
    * both signs; every pixel is an integer closed form (prediction
    * prefix sums + the (v*q+3)>>3 / +4>>3 transform chain). File 2
    * (41x21, crop on both axes): per-block AC coefficients at position 1
    * make column stripes through the exact integer IDCT (20091/35468
    * multipliers). The oracle regenerates every RGBA value from the same
    * fixture literals through the identical integer arithmetic incl. the
    * reference decoder's fixed-point BT.601 YUV→RGB — the bool coder,
    * token trees, dequant, WHT/DCT, and prediction must all be
    * invisible. (Conformance vs the reference decoder itself — real
    * encodes, prob updates, segmentation, loop filter — is Vp8Spec.)
    */
  query("mm19_webp_lossy") { (s, d) =>
    import s.implicits._
    def y2of(v: Int) = { val a = new Array[Int](16); a(0) = v; a }
    def uvOf(v: Int) = Array.tabulate(4)(_ => { val a = new Array[Int](16); a(0) = v; a })
    val modes1 = Array(0, 2, 2, 1, 3, 1) // DC, H, H, V, TM, V(skip)
    val f1 = operators.Vp8.encodeKeyframe(48, 32, 0, 0, (0 until 6).map { i =>
      if (i == 5) operators.Vp8.MbSpec(yMode = modes1(i), uvMode = modes1(i), skip = true)
      else operators.Vp8.MbSpec(yMode = modes1(i), uvMode = modes1(i),
        y2 = y2of(Mm19Vy(i)), u = uvOf(Mm19Vu(i)), v = uvOf(Mm19Vv(i)))
    })
    val modes2 = Array(0, 2, 2, 1, 1, 1) // DC, H, H, V, V, V
    val f2 = operators.Vp8.encodeKeyframe(41, 21, 0, 0, (0 until 6).map { i =>
      operators.Vp8.MbSpec(yMode = modes2(i), uvMode = modes2(i),
        y2 = y2of(Mm19W2(i)),
        y = Array.fill(16) { val a = new Array[Int](16); a(1) = Mm19A2(i); a })
    })
    operators.Webp.webpToPixels(Seq((1L, f1), (2L, f2)).toDF("img_id", "bytes"))
      .orderBy("img_id", "px_row", "px_col", "channel")
  } {
    // mm19: every RGBA value regenerates from the fixture's quantizer-
    // level coefficient literals through the IDENTICAL integer chains —
    // dequant ((v*8+3)>>3 Y2-WHT fold, +4>>3 IDCT DC), the 20091/35468
    // IDCT stripe terms, prediction prefix sums (DC/H/V/TM + skip), and
    // the reference decoder's fixed-point BT.601 YUV→RGB — so the bool
    // coder, token trees, and bitstream framing must be invisible
    def dY(v: Int) = s"floor((floor(($v*8+3)/8.0)+4)/8.0)"
    def dUV(v: Int) = s"floor(($v*4+4)/8.0)"
    // file 1 per-MB flat constants: prediction prefix sums (modes
    // DC,H,H,V,TM,V-skipped on a 3x2 grid)
    def consts(vs: Array[Int], d: Int => String): Array[String] = {
      val c = new Array[String](6)
      c(0) = s"(128 + ${d(vs(0))})"
      c(1) = s"(${c(0)} + ${d(vs(1))})"
      c(2) = s"(${c(1)} + ${d(vs(2))})"
      c(3) = s"(${c(0)} + ${d(vs(3))})"
      c(4) = s"(${c(3)} + ${c(1)} - ${c(0)} + ${d(vs(4))})" // TM = L+A-AL
      c(5) = c(2) // skipped V_PRED copies the MB above
      c
    }
    val cy = consts(Mm19Vy, dY)
    val cu = consts(Mm19Vu, dUV)
    val cvv = consts(Mm19Vv, dUV)
    def mbCase(cs: Array[String]) =
      "CASE (r//16)*3 + (c//16) " +
        (0 until 6).map(i => s"WHEN $i THEN ${cs(i)}").mkString(" ") + " END"
    // file 2: AC-at-position-1 column stripes through the exact IDCT
    def stripe(w: Int, a: Int, k: Int): String = {
      val aq = a * 4 // yacQ = 4 at qi 0
      val d = s"floor(($w*8+3)/8.0)"
      val t20 = s"floor(($aq*20091)/65536.0)"
      val t35 = s"floor(($aq*35468)/65536.0)"
      k match {
        case 0 => s"floor(($d + $aq + $t20 + 4)/8.0)"
        case 1 => s"floor(($d + $t35 + 4)/8.0)"
        case 2 => s"floor(($d - ($t35) + 4)/8.0)"
        case _ => s"floor(($d - ($aq) - ($t20) + 4)/8.0)"
      }
    }
    // row 0 H_PRED stacks the LEFT MB's column-15 stripe (k=3); row 1
    // V_PRED stacks on the same column class
    val v2 = Array.ofDim[String](6, 4)
    for (k <- 0 until 4) {
      v2(0)(k) = s"(128 + ${stripe(Mm19W2(0), Mm19A2(0), k)})"
      v2(1)(k) = s"(128 + ${stripe(Mm19W2(0), Mm19A2(0), 3)} + ${stripe(Mm19W2(1), Mm19A2(1), k)})"
      v2(2)(k) = s"(128 + ${stripe(Mm19W2(0), Mm19A2(0), 3)} + ${stripe(Mm19W2(1), Mm19A2(1), 3)} + ${stripe(Mm19W2(2), Mm19A2(2), k)})"
      v2(3)(k) = s"(${v2(0)(k)} + ${stripe(Mm19W2(3), Mm19A2(3), k)})"
      v2(4)(k) = s"(${v2(1)(k)} + ${stripe(Mm19W2(4), Mm19A2(4), k)})"
      v2(5)(k) = s"(${v2(2)(k)} + ${stripe(Mm19W2(5), Mm19A2(5), k)})"
    }
    val mbCase2 =
      "CASE ((r//16)*3 + (c//16))*4 + (c%4) " +
        (for (m <- 0 until 6; k <- 0 until 4)
          yield s"WHEN ${m * 4 + k} THEN ${v2(m)(k)}").mkString(" ") + " END"
    // the reference decoder's integer YUV→RGB: MultHi = (v*coeff)>>8,
    // 6-bit fixed point with saturation
    // NB: DuckDB's // on DOUBLE operands (floor() yields DOUBLE) is
    // plain division, and CAST rounds half-even — floor() explicitly
    def clip6(x: String) =
      s"CASE WHEN ($x) < 0 THEN 0 WHEN ($x) > 16383 THEN 255 ELSE CAST(floor(($x) / 64.0) AS INT) END"
    def rgba = {
      val my = "floor(yv*19077/256.0)"
      s"""CAST(CASE ch
         |    WHEN 3 THEN 255
         |    WHEN 0 THEN ${clip6(s"$my + floor(vv*26149/256.0) - 14234")}
         |    WHEN 1 THEN ${clip6(s"$my - floor(uv*6419/256.0) - floor(vv*13320/256.0) + 8708")}
         |    ELSE ${clip6(s"$my + floor(uv*33050/256.0) - 17685")} END AS INT)""".stripMargin
    }
    s"""WITH g1 AS (SELECT CAST(id // ${48 * 4} AS INT) AS r,
       |    CAST((id % ${48 * 4}) // 4 AS INT) AS c, CAST(id % 4 AS INT) AS ch
       |  FROM range(${48 * 32 * 4}) t(id)),
       |p1 AS (SELECT r, c, ch, ${mbCase(cy)} AS yv,
       |    ${mbCase(cu)} AS uv, ${mbCase(cvv)} AS vv FROM g1),
       |f1 AS (SELECT CAST(1 AS BIGINT) AS img_id, r AS px_row, c AS px_col,
       |    ch AS channel, $rgba AS value FROM p1),
       |g2 AS (SELECT CAST(id // ${41 * 4} AS INT) AS r,
       |    CAST((id % ${41 * 4}) // 4 AS INT) AS c, CAST(id % 4 AS INT) AS ch
       |  FROM range(${41 * 21 * 4}) t(id)),
       |p2 AS (SELECT r, c, ch, $mbCase2 AS yv,
       |    CAST(128 AS INT) AS uv, CAST(128 AS INT) AS vv FROM g2),
       |f2 AS (SELECT CAST(2 AS BIGINT) AS img_id, r AS px_row, c AS px_col,
       |    ch AS channel, $rgba AS value FROM p2)
       |SELECT * FROM f1 UNION ALL SELECT * FROM f2
       |ORDER BY img_id, px_row, px_col, channel""".stripMargin
  }

  // mm21 fixture parameters (shared with the oracle): per-MB Y2/U/V DC
  // quantizer values for a 2x1-MB lossy still (DC then H prediction)
  private val Mm21Vy = Array(16, 40)

  private val Mm21Vu = Array(8, -12)

  private val Mm21Vv = Array(20, 6)

  /** MM21 — lossy WebP WITH an ALPHA PLANE (VP8X + ALPH + VP8, r11: the
    * layout every transparent crawl WebP ships, a reject until now): a
    * flat 2-MB lossy still whose ALPH chunk carries a GRADIENT-filtered
    * raw plane — the decoder's unfilter must invert it exactly, so
    * decoded alpha has the literal fixture formula as its closed form
    * while RGB rides the mm19 integer chain. (Method-1/VP8L-compressed
    * alpha is conformance-tested bit-exact against the reference decoder
    * in WebpSpec.)
    */
  query("mm21_webp_alpha") { (s, d) =>
    import s.implicits._
    def y2of(v: Int) = { val a = new Array[Int](16); a(0) = v; a }
    def uvOf(v: Int) = Array.tabulate(4)(_ => { val a = new Array[Int](16); a(0) = v; a })
    val lossy = operators.Vp8.encodeKeyframe(32, 16, 0, 0, (0 until 2).map { i =>
      operators.Vp8.MbSpec(yMode = if (i == 0) 0 else 2, uvMode = if (i == 0) 0 else 2,
        y2 = y2of(Mm21Vy(i)), u = uvOf(Mm21Vu(i)), v = uvOf(Mm21Vv(i)))
    })
    val file = operators.Webp.synthWebpLossyAlpha(lossy,
      (r, c) => (r * 13 + c * 7 + 5) % 256, filterM = 3)
    operators.Webp.webpToPixels(Seq((1L, file)).toDF("img_id", "bytes"))
      .orderBy("px_row", "px_col", "channel")
  } {
    // mm21: RGB regenerates through the mm19 integer chains from the
    // per-MB DC literals (DC then H prediction = a running sum); ALPHA
    // regenerates as the literal fixture formula — the gradient filter,
    // the ALPH framing, and the plane merge must all be invisible
    def dY(v: Int) = s"floor((floor(($v*8+3)/8.0)+4)/8.0)"
    def dUV(v: Int) = s"floor(($v*4+4)/8.0)"
    val cy = Array(s"(128 + ${dY(Mm21Vy(0))})",
      s"(128 + ${dY(Mm21Vy(0))} + ${dY(Mm21Vy(1))})")
    val cu = Array(s"(128 + ${dUV(Mm21Vu(0))})",
      s"(128 + ${dUV(Mm21Vu(0))} + ${dUV(Mm21Vu(1))})")
    val cvv = Array(s"(128 + ${dUV(Mm21Vv(0))})",
      s"(128 + ${dUV(Mm21Vv(0))} + ${dUV(Mm21Vv(1))})")
    def mbCase(cs: Array[String]) =
      s"CASE c // 16 WHEN 0 THEN ${cs(0)} ELSE ${cs(1)} END"
    def clip6(x: String) =
      s"CASE WHEN ($x) < 0 THEN 0 WHEN ($x) > 16383 THEN 255 ELSE CAST(floor(($x) / 64.0) AS INT) END"
    val my = "floor(yv*19077/256.0)"
    s"""WITH g AS (SELECT CAST(id // ${32 * 4} AS INT) AS r,
       |    CAST((id % ${32 * 4}) // 4 AS INT) AS c, CAST(id % 4 AS INT) AS ch
       |  FROM range(${32 * 16 * 4}) t(id)),
       |p AS (SELECT r, c, ch, ${mbCase(cy)} AS yv,
       |    ${mbCase(cu)} AS uv, ${mbCase(cvv)} AS vv FROM g)
       |SELECT CAST(1 AS BIGINT) AS img_id, r AS px_row, c AS px_col,
       |  ch AS channel,
       |  CAST(CASE ch
       |    WHEN 3 THEN (r*13 + c*7 + 5) % 256
       |    WHEN 0 THEN ${clip6(s"$my + floor(vv*26149/256.0) - 14234")}
       |    WHEN 1 THEN ${clip6(s"$my - floor(uv*6419/256.0) - floor(vv*13320/256.0) + 8708")}
       |    ELSE ${clip6(s"$my + floor(uv*33050/256.0) - 17685")} END AS INT) AS value
       |FROM p ORDER BY px_row, px_col, channel""".stripMargin
  }

  /** MM22 — animation CANVAS COMPOSITION (r12; the r11 verdict's
    * missing-1): both animated containers decoded to full-canvas
    * composed snapshots via the shared Canvas kernel. The WebP exercises
    * blend (alpha-checkerboard partial rect merges with the canvas),
    * NO-blend (a rect with transparent pixels OVERWRITES — punches
    * holes), and dispose-to-background (the rect clears before the next
    * frame); the GIF exercises binary-alpha painting, disposal 3
    * (restore-to-previous un-draws a frame) and disposal 2 (restore-to-
    * background clears a rect). All alphas ∈ {0,255} so every composed
    * pixel regenerates closed-form in the oracle (fractional blending is
    * proven in WebpSpec against the exact integer `over` rule); frame
    * durations ride through composition untouched.
    */
  query("mm22_composed_frames") { (s, d) =>
    import s.implicits._
    def argb(a: Int, r: Int, g: Int, b: Int) = (a << 24) | (r << 16) | (g << 8) | b
    // 8x6 canvas: f0 full opaque base; f1 4x2@(2,2) alpha-checkerboard,
    // BLEND; f2 2x4@(4,0) transparent lower half, NO-blend + dispose-bg;
    // f3 2x2@(0,0) opaque, blend
    val f0 = operators.Webp.synthWebpLossless(8, 6, (r, c) =>
      argb(255, (r * 31 + c * 7) % 256, (r * 13 + c * 17) % 256, (r * 29 + c * 3) % 256))
    val f1 = operators.Webp.synthWebpLossless(4, 2, (r, c) =>
      argb(if ((r + c) % 2 == 0) 255 else 0,
        (r * 41 + c * 5 + 9) % 256, (r * 11 + c * 23 + 4) % 256, (r * 17 + c * 13 + 2) % 256))
    val f2 = operators.Webp.synthWebpLossless(2, 4, (r, c) =>
      argb(if (r < 2) 255 else 0,
        (r * 7 + c * 11 + 100) % 256, (r * 19 + c * 3 + 50) % 256, (r * 23 + c * 29 + 25) % 256))
    val f3 = operators.Webp.synthWebpLossless(2, 2, (r, c) =>
      argb(255, (r * 3 + c + 200) % 256, (r * 5 + c * 7 + 150) % 256, (r + c * 11 + 90) % 256))
    val anim = operators.Webp.synthWebpAnimComposed(8, 6, Seq(
      operators.Webp.AnmfSpec(0, 0, 40, f0, blend = false),
      operators.Webp.AnmfSpec(2, 2, 30, f1),
      operators.Webp.AnmfSpec(4, 0, 20, f2, blend = false, disposeBg = true),
      operators.Webp.AnmfSpec(0, 0, 10, f3)))
    // 8x5 GIF: g0 full opaque; g1 4x3@(3,1) transparent-index holes +
    // disposal 3 (restore previous); g2 2x2@(0,0) + disposal 2 (restore
    // bg); g3 2x2@(6,3) opaque
    val pal = (0 until 6).map(i => ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256))
    val gif = operators.Gif.synthGif(8, 5, pal, Seq(
      operators.Gif.FrameSpec(0, 0, 8, 5)((r, c) => (r * 2 + c) % 6),
      operators.Gif.FrameSpec(3, 1, 4, 3, transparentIdx = Some(0),
        delayCs = 20, disposal = 3)((r, c) => (r + c) % 3),
      operators.Gif.FrameSpec(0, 0, 2, 2, delayCs = 10, disposal = 2)(
        (r, c) => (r + c) % 5 + 1),
      operators.Gif.FrameSpec(6, 3, 2, 2)((r, c) => (r * 2 + c) % 5 + 1)))
    operators.Gif.gifToComposedFrames(Seq((1L, gif)).toDF("media_id", "bytes"))
      .withColumn("kind", lit("gif"))
      .unionByName(operators.Webp.webpToComposedFrames(
          Seq((1L, anim)).toDF("media_id", "bytes"))
        .withColumn("kind", lit("webp")))
      .select(col("kind"), col("frame_idx"), col("duration_ms"),
        col("px_row"), col("px_col"), col("channel"), col("value"))
      .orderBy("kind", "frame_idx", "px_row", "px_col", "channel")
  } {
    // mm22: composed canvases regenerate closed-form — binary alphas
    // make every composed pixel a region CASE over the source formulas;
    // blend, no-blend hole-punching, dispose-to-background, restore-to-
    // previous, and duration carry-through must all be invisible
    def chan(rE: String, gE: String, bE: String, aE: String) =
      s"CASE ch WHEN 0 THEN $rE WHEN 1 THEN $gE WHEN 2 THEN $bE ELSE $aE END"
    val vF0 = chan("(r*31 + c*7) % 256", "(r*13 + c*17) % 256",
      "(r*29 + c*3) % 256", "255")
    val vF1 = chan("((r-2)*41 + (c-2)*5 + 9) % 256",
      "((r-2)*11 + (c-2)*23 + 4) % 256", "((r-2)*17 + (c-2)*13 + 2) % 256", "255")
    val vF2 = chan("(r*7 + (c-4)*11 + 100) % 256", "(r*19 + (c-4)*3 + 50) % 256",
      "(r*23 + (c-4)*29 + 25) % 256", "CASE WHEN r < 2 THEN 255 ELSE 0 END")
    val vF3 = chan("(r*3 + c + 200) % 256", "(r*5 + c*7 + 150) % 256",
      "(r + c*11 + 90) % 256", "255")
    val in1 = "(r BETWEEN 2 AND 3 AND c BETWEEN 2 AND 5 AND ((r-2)+(c-2)) % 2 = 0)"
    val in2 = "(c BETWEEN 4 AND 5 AND r BETWEEN 0 AND 3)"
    val wVal =
      s"""CASE f WHEN 0 THEN $vF0
         |  WHEN 1 THEN CASE WHEN $in1 THEN $vF1 ELSE $vF0 END
         |  WHEN 2 THEN CASE WHEN $in2 THEN $vF2 WHEN $in1 THEN $vF1 ELSE $vF0 END
         |  ELSE CASE WHEN r < 2 AND c < 2 THEN $vF3 WHEN $in2 THEN 0
         |    WHEN $in1 THEN $vF1 ELSE $vF0 END END""".stripMargin
    def palv(idx: String) = chan(s"(($idx)*37) % 256", s"(($idx)*59) % 256",
      s"(($idx)*83) % 256", "255")
    val vG0 = palv("(r*2 + c) % 6")
    val vG1 = palv("((r-1) + (c-3)) % 3")
    val vG2 = palv("(r + c) % 5 + 1")
    val vG3 = palv("((r-3)*2 + (c-6)) % 5 + 1")
    val ing1 = "(r BETWEEN 1 AND 3 AND c BETWEEN 3 AND 6 AND ((r-1)+(c-3)) % 3 <> 0)"
    val ing2 = "(r BETWEEN 0 AND 1 AND c BETWEEN 0 AND 1)"
    val ing3 = "(r BETWEEN 3 AND 4 AND c BETWEEN 6 AND 7)"
    val gVal =
      s"""CASE f WHEN 0 THEN $vG0
         |  WHEN 1 THEN CASE WHEN $ing1 THEN $vG1 ELSE $vG0 END
         |  WHEN 2 THEN CASE WHEN $ing2 THEN $vG2 ELSE $vG0 END
         |  ELSE CASE WHEN $ing2 THEN 0 WHEN $ing3 THEN $vG3 ELSE $vG0 END END""".stripMargin
    s"""WITH wg AS (SELECT f.f AS f, CAST((id // 4) // 8 AS INT) AS r,
       |    CAST((id // 4) % 8 AS INT) AS c, CAST(id % 4 AS INT) AS ch
       |  FROM range(192) t(id) CROSS JOIN (VALUES (0), (1), (2), (3)) f(f)),
       |wq AS (SELECT 'webp' AS kind, CAST(f AS INT) AS frame_idx,
       |  CAST(CASE f WHEN 0 THEN 40 WHEN 1 THEN 30 WHEN 2 THEN 20 ELSE 10 END AS INT) AS duration_ms,
       |  r AS px_row, c AS px_col, ch AS channel,
       |  CAST($wVal AS INT) AS value FROM wg),
       |gg AS (SELECT f.f AS f, CAST((id // 4) // 8 AS INT) AS r,
       |    CAST((id // 4) % 8 AS INT) AS c, CAST(id % 4 AS INT) AS ch
       |  FROM range(160) t(id) CROSS JOIN (VALUES (0), (1), (2), (3)) f(f)),
       |gq AS (SELECT 'gif' AS kind, CAST(f AS INT) AS frame_idx,
       |  CAST(CASE f WHEN 1 THEN 200 WHEN 2 THEN 100 ELSE 0 END AS INT) AS duration_ms,
       |  r AS px_row, c AS px_col, ch AS channel,
       |  CAST($gVal AS INT) AS value FROM gg)
       |SELECT * FROM gq UNION ALL SELECT * FROM wq
       |ORDER BY kind, frame_idx, px_row, px_col, channel""".stripMargin
  }

  /** MM20 — video-duration rollup over BOTH animated containers (r11):
    * a delayed multi-frame GIF (centisecond GCE delays — new frame
    * timing surface) and an animated WebP MIXING a lossless VP8L frame
    * with a LOSSY VP8 frame in one ANIM (real encoders emit exactly
    * this), exploded to frames and rolled up per media: frame count,
    * total duration, value census. The oracle regenerates every frame's
    * pixels closed-form (palette formulas for GIF, the pix formula for
    * VP8L, the mm19 integer chain for the VP8 frame) and re-aggregates —
    * so timing metadata AND the mixed-codec frame routing are invisible.
    */
  query("mm20_frame_durations") { (s, d) =>
    import s.implicits._
    val pal = (0 until 5).map(i => ((i * 41) % 256, (i * 73) % 256, (i * 97) % 256))
    val gif = operators.Gif.synthGif(12, 8, pal, Seq(
      operators.Gif.FrameSpec(0, 0, 12, 8, delayCs = 12)((r, c) => (r * 3 + c) % 5),
      operators.Gif.FrameSpec(2, 1, 6, 4)((r, c) => (r + c) % 5),
      operators.Gif.FrameSpec(4, 3, 5, 3, delayCs = 30)((r, c) => (r * 2 + c) % 5)))
    def pix(r: Int, c: Int): Int =
      (((r * 5 + c * 3 + 9) % 256) << 24) | (((r * 31 + c * 7) % 256) << 16) |
        (((r * 13 + c * 17 + 5) % 256) << 8) | ((r * 3 + c * 29 + 11) % 256)
    val lossless = operators.Webp.synthWebpLossless(10, 6, pix)
    val lossy = operators.Vp8.encodeKeyframe(16, 16, 0, 0, Seq(
      operators.Vp8.MbSpec(yMode = 0, uvMode = 0,
        y2 = { val a = new Array[Int](16); a(0) = 24; a })))
    val anim = operators.Webp.synthWebpAnimFiles(20, 16, Seq(
      (0, 0, 33, lossless), (4, 2, 55, lossy)))
    val frames = operators.Gif.gifToFrames(Seq((1L, gif)).toDF("media_id", "bytes"))
      .unionByName(operators.Webp.webpToFrames(
        Seq((2L, anim)).toDF("media_id", "bytes")))
    frames.groupBy(col("media_id"), col("frame_idx"))
      .agg(min(col("duration_ms")).as("dur"),
        count(lit(1)).as("nv"), sum(col("value").cast("long")).as("sv"))
      .groupBy("media_id")
      .agg(count(lit(1)).cast("long").as("n_frames"),
        sum(col("dur")).cast("long").as("total_ms"),
        sum(col("nv")).as("n_values"), sum(col("sv")).as("sum_values"))
      .orderBy("media_id")
  } {
    // mm20: every frame's pixels regenerate closed-form (GIF palette
    // formulas, the VP8L pix formula, the mm19 integer chain for the
    // LOSSY ANMF frame) and re-aggregate — frame timing metadata and the
    // mixed-codec routing must be invisible
    def gifFrame(fi: Int, dur: Int, w: Int, h: Int, idxExpr: String) =
      s"""SELECT 1 AS media_id, $fi AS fi, $dur AS dur,
         |  CAST(CASE id % 4
         |    WHEN 0 THEN (($idxExpr) * 41) % 256
         |    WHEN 1 THEN (($idxExpr) * 73) % 256
         |    WHEN 2 THEN (($idxExpr) * 97) % 256
         |    ELSE 255 END AS BIGINT) AS v
         |FROM range(${w * h * 4}) t(id)""".stripMargin
    val f0 = gifFrame(0, 120, 12, 8, "((id//4)//12 * 3 + (id//4)%12) % 5")
    val f1 = gifFrame(1, 0, 6, 4, "((id//4)//6 + (id//4)%6) % 5")
    val f2 = gifFrame(2, 300, 5, 3, "((id//4)//5 * 2 + (id//4)%5) % 5")
    val r = "((id//4)//10)"; val c = "((id//4)%10)"
    val wl =
      s"""SELECT 2, 0, 33, CAST(CASE id % 4
         |    WHEN 0 THEN ($r*31 + $c*7) % 256
         |    WHEN 1 THEN ($r*13 + $c*17 + 5) % 256
         |    WHEN 2 THEN ($r*3 + $c*29 + 11) % 256
         |    ELSE ($r*5 + $c*3 + 9) % 256 END AS BIGINT)
         |FROM range(${10 * 6 * 4}) t(id)""".stripMargin
    val yv = "(128 + CAST(floor((floor((24*8+3)/8.0)+4)/8.0) AS INT))"
    val my = s"floor($yv*19077/256.0)"
    def clip6(x: String) =
      s"CASE WHEN ($x) < 0 THEN 0 WHEN ($x) > 16383 THEN 255 ELSE CAST(floor(($x)/64.0) AS INT) END"
    val rC = clip6(s"$my + floor(128*26149/256.0) - 14234")
    val gC = clip6(s"$my - floor(128*6419/256.0) - floor(128*13320/256.0) + 8708")
    val bC = clip6(s"$my + floor(128*33050/256.0) - 17685")
    val lo =
      s"""SELECT 2, 1, 55, CAST(CASE id % 4
         |    WHEN 0 THEN $rC WHEN 1 THEN $gC WHEN 2 THEN $bC
         |    ELSE 255 END AS BIGINT)
         |FROM range(${16 * 16 * 4}) t(id)""".stripMargin
    s"""WITH v(media_id, fi, dur, v) AS (
       |${Seq(f0, f1, f2, wl, lo).mkString("\nUNION ALL\n")}),
       |pf AS (SELECT media_id, fi, MIN(dur) AS dur, COUNT(*) AS nv,
       |    SUM(v) AS sv FROM v GROUP BY media_id, fi)
       |SELECT CAST(media_id AS BIGINT) AS media_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(SUM(dur) AS BIGINT) AS total_ms,
       |  CAST(SUM(nv) AS BIGINT) AS n_values,
       |  CAST(SUM(sv) AS BIGINT) AS sum_values
       |FROM pf GROUP BY media_id ORDER BY media_id""".stripMargin
  }
}
