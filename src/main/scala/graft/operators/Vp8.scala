package graft.operators

/** VP8 (lossy WebP) INTRA KEYFRAME codec — every lossy still image is a
  * single keyframe, so this is exactly the still-image subset of VP8
  * (RFC 6386, "VP8 Data Format and Decoding Guide"): the boolean
  * arithmetic coder (§7), keyframe header (§9), intra mode trees (§11),
  * token/coefficient decoding (§13), dequantization + inverse DCT/WHT
  * (§14), the normal and simple loop filters (§15), and all twenty
  * intra predictors (§12). Inter frames (golden/altref, MVs) are out of
  * scope by design — a WebP still never contains them; animated lossy
  * frames keep rejecting countably.
  *
  * Reference anchor: the crawl-side image modality next to
  * PNG/JPEG/GIF/BMP (the reference pipeline's ingest reads crawl image
  * corpora); most real-crawl WebP is lossy VP8, which rounds 1-10
  * counted but could not decode (Webp.scala:14-18 scope note).
  *
  * Conformance: Vp8Spec decodes fixtures produced by the REAL libwebp
  * encoder (default config: 4 segments, loop filter on, dynamic token
  * probability updates) and requires bit-exact equality with libwebp's
  * own YUV420 output (tools/vp8_fixtures.py) — verifying the constant
  * tables (Vp8Tables, extracted from the spec via
  * tools/vp8_tables_extract.py), the bool decoder, trees, dequant,
  * transforms, predictors, segmentation, and the loop filter against
  * the reference implementation.
  *
  * The encode half ([[encodeKeyframe]]) exists for fixtures/oracles
  * (the synthWebpLossless doctrine): default probabilities, one token
  * partition, caller-chosen modes and QUANTIZED coefficient values, so
  * decoded pixels have integer closed forms an oracle can regenerate.
  *
  * Fail-closed doctrine: malformed containers reject with
  * IllegalArgumentException; the bool decoder feeds zeros past the
  * partition end (the spec's own convention — real streams rely on it),
  * so structural bounds (14-bit dims, partition extents, the 2^28-pixel
  * allocation guard) do the rejecting, never an array escape
  * (CodecFuzzSpec).
  */
object Vp8 {

  // ---- boolean arithmetic decoder (RFC 6386 §7.3) ----

  /** Reads bools from [start, end); past `end` it feeds zero bytes (the
    * spec convention — up to 7 bits of the last byte may be padding).
    */
  private[operators] final class BoolDecoder(
      bytes: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var range = 255
    private var value = (nextByte() << 8) | nextByte()
    private var bitCount = 0
    private def nextByte(): Int =
      if (pos < end) { val b = bytes(pos) & 0xff; pos += 1; b } else 0
    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      val ret =
        if (value >= bigSplit) { range -= split; value -= bigSplit; 1 }
        else { range = split; 0 }
      while (range < 128) {
        value <<= 1; range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }
    /** n-bit literal, MSB first (§7.4 "flag/literal": uniform prob). */
    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }
    /** Literal magnitude then sign bit (§9.3 delta syntax). */
    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (bool(128) == 1) -v else v
    }
    def flag: Boolean = bool(128) == 1
    /** Generic tree read (§8.2): positive entries are child offsets,
      * zero/negative are leaves (value = -entry). `probs(i >> 1)`.
      */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int): Int = {
      var i = t(bool(probs(probOff)))
      while (i > 0) i = t(i + bool(probs(probOff + (i >> 1))))
      -i
    }
  }

  // ---- boolean arithmetic encoder (RFC 6386 §7.4-8.3, fixtures) ----

  private[operators] final class BoolEncoder {
    private val out = new java.io.ByteArrayOutputStream()
    private var range = 255
    private var bottom = 0L // uint32 semantics
    private var bitCount = 24
    def bool(bit: Int, prob: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      if (bottom > 0xffffffffL) { carry(); bottom &= 0xffffffffL }
      while (range < 128) {
        range <<= 1
        if ((bottom & (1L << 31)) != 0) carry() // detect carry
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out.write(((bottom >> 24) & 0xff).toInt)
          bottom &= 0xffffffL
          bitCount = 8
        }
      }
    }
    private def carry(): Unit = {
      // propagate +1 through the already-emitted bytes (RFC §7.4
      // add_one_to_output): trailing 255s roll to 0
      val b = out.toByteArray
      var i = b.length - 1
      while (i >= 0 && (b(i) & 0xff) == 255) { b(i) = 0; i -= 1 }
      require(i >= 0, "bool encoder carry past stream start")
      b(i) = ((b(i) & 0xff) + 1).toByte
      out.reset(); out.write(b, 0, b.length)
    }
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool((v >> i) & 1, 128); i -= 1 }
    }
    def signedLiteral(v: Int, n: Int): Unit = {
      literal(math.abs(v), n); bool(if (v < 0) 1 else 0, 128)
    }
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, leaf: Int): Unit = {
      // find the root→leaf path (trees are tiny), then emit branch bits
      def walk(pos: Int, path: List[(Int, Int)]): Option[List[(Int, Int)]] = {
        def side(c: Int, bit: Int): Option[List[(Int, Int)]] =
          if (c <= 0) { if (-c == leaf) Some((pos >> 1, bit) :: path) else None }
          else walk(c, (pos >> 1, bit) :: path)
        side(t(pos), 0).orElse(side(t(pos + 1), 1))
      }
      val path = walk(0, Nil).getOrElse(
        throw new IllegalArgumentException(s"leaf $leaf not in tree")).reverse
      path.foreach { case (node, bit) => bool(bit, probs(probOff + node)) }
    }
    def toBytes: Array[Byte] = {
      // flush (RFC §8.3): propagate the final carry, then pad out 32 bits
      var c = bitCount
      var v = bottom
      if ((v & (1L << (32 - c))) != 0) carry()
      v = (v << (c & 7)) & 0xffffffffL
      c >>= 3
      while (c > 0) { v = (v << 8) & 0xffffffffL; c -= 1 }
      var i = 0
      while (i < 4) {
        out.write(((v >> 24) & 0xff).toInt)
        v = (v << 8) & 0xffffffffL
        i += 1
      }
      out.toByteArray
    }
  }

  // ---- trees + small constant tables (RFC 6386 §8.2, 11, 13.2) ----

  // y modes: DC=0 V=1 H=2 TM=3 B_PRED=4
  private val KfYModeTree = Array(-4, 2, 4, 6, 0, -1, -2, -3)
  private val KfYModeProbs = Array(145, 156, 163, 128)
  private val UvModeTree = Array(0, 2, -1, 4, -2, -3)
  private val KfUvModeProbs = Array(142, 114, 183)
  // b modes: DC=0 TM=1 VE=2 HE=3 RD=4 VR=5 LD=6 VL=7 HD=8 HU=9 — the
  // numbering kfBModeProbs is indexed by (the reference decoder's enum;
  // it differs from the RFC's listing order in slots 4-6)
  private val BModeTree = Array(
    0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -4, -5, -6, 14, -7, 16, -8, -9)
  private val SegTree = Array(2, 4, 0, -1, -2, -3)
  private[operators] val Bands =
    Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7, 0)
  private[operators] val Zigzag =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  // token categories (§13.2): extra-bit probs + value bases
  private val Cat1 = Array(159)
  private val Cat2 = Array(165, 145)
  private val Cat3 = Array(173, 148, 140)
  private val Cat4 = Array(176, 155, 140, 135)
  private val Cat5 = Array(180, 157, 141, 134, 130)
  private val Cat6 = Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129)
  private val Cats = Array(Cat3, Cat4, Cat5, Cat6)

  // ---- header state ----

  private final class Header {
    var width = 0; var height = 0
    var segEnabled = false
    var segUpdateMap = false
    var segAbsolute = false
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    var filterType = 0 // 0 = normal, 1 = simple
    var filterLevel = 0
    var sharpness = 0
    var lfDeltaEnabled = false
    val refLfDeltas = new Array[Int](4)
    val modeLfDeltas = new Array[Int](4)
    var yAcQi = 0
    var yDcDelta = 0; var y2DcDelta = 0; var y2AcDelta = 0
    var uvDcDelta = 0; var uvAcDelta = 0
    var useSkip = false
    var skipProb = 0
    var coeffProbs: Array[Int] = null // 1056, possibly updated
  }

  private final class MbInfo {
    var segment = 0
    var skip = false
    var yMode = 0 // 0..3 or 4 = B_PRED
    var uvMode = 0
    val bModes = new Array[Int](16)
    var hasCoeffs = false // any nonzero coefficient (the loop filter's input)
  }

  // ---- dequantization (RFC 6386 §14.1) ----

  private def clamp127(q: Int): Int = if (q < 0) 0 else if (q > 127) 127 else q

  /** (y1dc, y1ac, y2dc, y2ac, uvdc, uvac) for one segment. */
  private def quantsFor(h: Header, segment: Int): Array[Int] = {
    val base =
      if (!h.segEnabled) h.yAcQi
      else if (h.segAbsolute) h.segQuant(segment)
      else h.yAcQi + h.segQuant(segment)
    val q = clamp127(base)
    val dc = Vp8Tables.dcQLookup
    val ac = Vp8Tables.acQLookup
    val y2ac = math.max(8, ac(clamp127(q + h.y2AcDelta)) * 155 / 100)
    val uvdc = math.min(132, dc(clamp127(q + h.uvDcDelta)))
    Array(
      dc(clamp127(q + h.yDcDelta)), ac(q),
      dc(clamp127(q + h.y2DcDelta)) * 2, y2ac,
      uvdc, ac(clamp127(q + h.uvAcDelta)))
  }

  // ---- inverse transforms (RFC 6386 §14.3-14.4) ----

  /** 4x4 inverse DCT, in place over a 16-int natural-order block. */
  private def idct4x4(b: Array[Int], off: Int): Unit = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val i0 = b(off + i); val i4 = b(off + i + 4)
      val i8 = b(off + i + 8); val i12 = b(off + i + 12)
      val a1 = i0 + i8
      val b1 = i0 - i8
      val c1 = ((i4 * 35468) >> 16) - (i12 + ((i12 * 20091) >> 16))
      val d1 = (i4 + ((i4 * 20091) >> 16)) + ((i12 * 35468) >> 16)
      t(i) = a1 + d1; t(i + 12) = a1 - d1
      t(i + 4) = b1 + c1; t(i + 8) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val r = i * 4
      val i0 = t(r); val i1 = t(r + 1); val i2 = t(r + 2); val i3 = t(r + 3)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = ((i1 * 35468) >> 16) - (i3 + ((i3 * 20091) >> 16))
      val d1 = (i1 + ((i1 * 20091) >> 16)) + ((i3 * 35468) >> 16)
      b(off + r) = (a1 + d1 + 4) >> 3
      b(off + r + 3) = (a1 - d1 + 4) >> 3
      b(off + r + 1) = (b1 + c1 + 4) >> 3
      b(off + r + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
  }

  /** 4x4 inverse Walsh-Hadamard (Y2), input natural order, outputs the
    * 16 per-block DC values.
    */
  private def iwht4x4(in: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    val out = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = in(i) + in(i + 12)
      val b1 = in(i + 4) + in(i + 8)
      val c1 = in(i + 4) - in(i + 8)
      val d1 = in(i) - in(i + 12)
      t(i) = a1 + b1; t(i + 4) = c1 + d1
      t(i + 8) = a1 - b1; t(i + 12) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val r = i * 4
      val a1 = t(r) + t(r + 3)
      val b1 = t(r + 1) + t(r + 2)
      val c1 = t(r + 1) - t(r + 2)
      val d1 = t(r) - t(r + 3)
      out(r) = (a1 + b1 + 3) >> 3
      out(r + 1) = (c1 + d1 + 3) >> 3
      out(r + 2) = (a1 - b1 + 3) >> 3
      out(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
    out
  }

  // ---- token / coefficient decoding (RFC 6386 §13.3) ----

  /** Decode one block's coefficients into `out` (natural order, already
    * dequantized with (dcQ, acQ)). Returns the end position (EOB) — the
    * block "has coefficients" iff the return exceeds `first`. Mirrors
    * the reference decoder's loop structure exactly (EOB is NOT
    * re-checked immediately after a zero token).
    */
  private def getCoeffs(bd: BoolDecoder, probs: Array[Int], typ: Int,
      ctx0: Int, first: Int, dcQ: Int, acQ: Int,
      out: Array[Int], outOff: Int): Int = {
    var n = first
    var p = ((typ * 8 + Bands(n)) * 3 + ctx0) * 11
    while (n < 16) {
      if (bd.bool(probs(p)) == 0) return n // EOB
      var zeroLoop = true
      while (zeroLoop) {
        if (bd.bool(probs(p + 1)) == 1) zeroLoop = false
        else {
          n += 1
          if (n == 16) return 16
          p = ((typ * 8 + Bands(n)) * 3 + 0) * 11
        }
      }
      // nonzero value
      var v = 0
      var nextCtx = 2
      if (bd.bool(probs(p + 2)) == 0) { v = 1; nextCtx = 1 }
      else {
        if (bd.bool(probs(p + 3)) == 0) {
          v = if (bd.bool(probs(p + 4)) == 0) 2
          else 3 + bd.bool(probs(p + 5))
        } else {
          if (bd.bool(probs(p + 6)) == 0) {
            v = if (bd.bool(probs(p + 7)) == 0) 5 + bd.bool(Cat1(0))
            else {
              val hi = bd.bool(Cat2(0)); val lo = bd.bool(Cat2(1))
              7 + 2 * hi + lo
            }
          } else {
            val bit1 = bd.bool(probs(p + 8))
            val bit0 = bd.bool(probs(p + 9 + bit1))
            val cat = 2 * bit1 + bit0
            val tab = Cats(cat)
            var x = 0
            var k = 0
            while (k < tab.length) { x = (x << 1) | bd.bool(tab(k)); k += 1 }
            v = x + 3 + (8 << cat)
          }
        }
      }
      val signed = if (bd.bool(128) == 1) -v else v
      out(outOff + Zigzag(n)) = signed * (if (n > 0) acQ else dcQ)
      n += 1
      if (n == 16) return 16
      p = ((typ * 8 + Bands(n)) * 3 + nextCtx) * 11
    }
    16
  }

  // ---- intra prediction (RFC 6386 §12) ----

  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** Whole-block (16x16 luma / 8x8 chroma) prediction into `plane`. */
  private def predictBlock(plane: Array[Int], stride: Int,
      x0: Int, y0: Int, size: Int, mode: Int,
      hasAbove: Boolean, hasLeft: Boolean): Unit = {
    @inline def above(c: Int): Int = if (hasAbove) plane((y0 - 1) * stride + x0 + c) else 127
    @inline def left(r: Int): Int = if (hasLeft) plane((y0 + r) * stride + x0 - 1) else 129
    val aboveLeft =
      if (!hasAbove) 127
      else if (!hasLeft) 129
      else plane((y0 - 1) * stride + x0 - 1)
    mode match {
      case 0 => // DC: availability-dependent (unlike the 4x4 DC)
        var dc = 0
        if (hasAbove && hasLeft) {
          var i = 0
          while (i < size) { dc += above(i) + left(i); i += 1 }
          dc = (dc + size) / (2 * size)
        } else if (hasAbove) {
          var i = 0
          while (i < size) { dc += above(i); i += 1 }
          dc = (dc + size / 2) / size
        } else if (hasLeft) {
          var i = 0
          while (i < size) { dc += left(i); i += 1 }
          dc = (dc + size / 2) / size
        } else dc = 128
        var r = 0
        while (r < size) {
          var c = 0
          while (c < size) { plane((y0 + r) * stride + x0 + c) = dc; c += 1 }
          r += 1
        }
      case 1 => // V
        var r = 0
        while (r < size) {
          var c = 0
          while (c < size) { plane((y0 + r) * stride + x0 + c) = above(c); c += 1 }
          r += 1
        }
      case 2 => // H
        var r = 0
        while (r < size) {
          val l = left(r)
          var c = 0
          while (c < size) { plane((y0 + r) * stride + x0 + c) = l; c += 1 }
          r += 1
        }
      case 3 => // TM
        var r = 0
        while (r < size) {
          val l = left(r)
          var c = 0
          while (c < size) {
            plane((y0 + r) * stride + x0 + c) = clip255(l + above(c) - aboveLeft)
            c += 1
          }
          r += 1
        }
      case other => throw new IllegalArgumentException(s"16x16/chroma mode $other")
    }
  }

  /** One 4x4 B_PRED subblock prediction. `ar` = the 4 above-right
    * pixels (already resolved per the MB-edge rules by the caller).
    */
  private def predictB(plane: Array[Int], stride: Int, x0: Int, y0: Int,
      mode: Int, ar: Array[Int], mbY: Int, mbX: Int): Unit = {
    @inline def set(c: Int, r: Int, v: Int): Unit =
      plane((y0 + r) * stride + x0 + c) = v
    // edge conventions: row -1 is 127 above the frame, col -1 is 129
    // left of it, above-left 127 on the top row / 129 on the left edge
    val topRow = y0 == 0
    val leftCol = x0 == 0
    @inline def a(c: Int): Int =
      if (c >= 4) ar(c - 4)
      else if (topRow) 127
      else plane((y0 - 1) * stride + x0 + c)
    @inline def l(r: Int): Int =
      if (leftCol) 129 else plane((y0 + r) * stride + x0 - 1)
    val p =
      if (topRow) 127
      else if (leftCol) 129
      else plane((y0 - 1) * stride + x0 - 1)
    mode match {
      case 0 => // B_DC: always 4 above + 4 left
        var dc = 4
        var i = 0
        while (i < 4) { dc += a(i) + l(i); i += 1 }
        dc >>= 3
        var r = 0
        while (r < 4) { var c = 0; while (c < 4) { set(c, r, dc); c += 1 }; r += 1 }
      case 1 => // B_TM
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { set(c, r, clip255(l(r) + a(c) - p)); c += 1 }
          r += 1
        }
      case 2 => // B_VE (filtered vertical)
        val v0 = avg3(p, a(0), a(1)); val v1 = avg3(a(0), a(1), a(2))
        val v2 = avg3(a(1), a(2), a(3)); val v3 = avg3(a(2), a(3), a(4))
        var r = 0
        while (r < 4) { set(0, r, v0); set(1, r, v1); set(2, r, v2); set(3, r, v3); r += 1 }
      case 3 => // B_HE (filtered horizontal)
        val h0 = avg3(p, l(0), l(1)); val h1 = avg3(l(0), l(1), l(2))
        val h2 = avg3(l(1), l(2), l(3)); val h3 = avg3(l(2), l(3), l(3))
        var c = 0
        while (c < 4) { set(c, 0, h0); set(c, 1, h1); set(c, 2, h2); set(c, 3, h3); c += 1 }
      case 6 => // B_LD (down-left)
        val e = Array(a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7))
        set(0, 0, avg3(e(0), e(1), e(2)))
        set(1, 0, avg3(e(1), e(2), e(3))); set(0, 1, avg3(e(1), e(2), e(3)))
        set(2, 0, avg3(e(2), e(3), e(4))); set(1, 1, avg3(e(2), e(3), e(4))); set(0, 2, avg3(e(2), e(3), e(4)))
        set(3, 0, avg3(e(3), e(4), e(5))); set(2, 1, avg3(e(3), e(4), e(5))); set(1, 2, avg3(e(3), e(4), e(5))); set(0, 3, avg3(e(3), e(4), e(5)))
        set(3, 1, avg3(e(4), e(5), e(6))); set(2, 2, avg3(e(4), e(5), e(6))); set(1, 3, avg3(e(4), e(5), e(6)))
        set(3, 2, avg3(e(5), e(6), e(7))); set(2, 3, avg3(e(5), e(6), e(7)))
        set(3, 3, avg3(e(6), e(7), e(7)))
      case 4 => // B_RD (down-right)
        val i0 = l(0); val j = l(1); val k = l(2); val lw = l(3)
        val a0 = a(0); val b0 = a(1); val c0 = a(2); val d0 = a(3)
        set(0, 3, avg3(j, k, lw))
        set(1, 3, avg3(i0, j, k)); set(0, 2, avg3(i0, j, k))
        set(2, 3, avg3(p, i0, j)); set(1, 2, avg3(p, i0, j)); set(0, 1, avg3(p, i0, j))
        set(3, 3, avg3(a0, p, i0)); set(2, 2, avg3(a0, p, i0)); set(1, 1, avg3(a0, p, i0)); set(0, 0, avg3(a0, p, i0))
        set(3, 2, avg3(b0, a0, p)); set(2, 1, avg3(b0, a0, p)); set(1, 0, avg3(b0, a0, p))
        set(3, 1, avg3(c0, b0, a0)); set(2, 0, avg3(c0, b0, a0))
        set(3, 0, avg3(d0, c0, b0))
      case 5 => // B_VR (vertical-right)
        val i0 = l(0); val j = l(1); val k = l(2)
        val a0 = a(0); val b0 = a(1); val c0 = a(2); val d0 = a(3)
        set(0, 0, avg2(p, a0)); set(1, 2, avg2(p, a0))
        set(1, 0, avg2(a0, b0)); set(2, 2, avg2(a0, b0))
        set(2, 0, avg2(b0, c0)); set(3, 2, avg2(b0, c0))
        set(3, 0, avg2(c0, d0))
        set(0, 3, avg3(k, j, i0))
        set(0, 2, avg3(j, i0, p))
        set(0, 1, avg3(i0, p, a0)); set(1, 3, avg3(i0, p, a0))
        set(1, 1, avg3(p, a0, b0)); set(2, 3, avg3(p, a0, b0))
        set(2, 1, avg3(a0, b0, c0)); set(3, 3, avg3(a0, b0, c0))
        set(3, 1, avg3(b0, c0, d0))
      case 7 => // B_VL (vertical-left)
        val a0 = a(0); val b0 = a(1); val c0 = a(2); val d0 = a(3)
        val e0 = a(4); val f0 = a(5); val g0 = a(6); val h0 = a(7)
        set(0, 0, avg2(a0, b0))
        set(1, 0, avg2(b0, c0)); set(0, 2, avg2(b0, c0))
        set(2, 0, avg2(c0, d0)); set(1, 2, avg2(c0, d0))
        set(3, 0, avg2(d0, e0)); set(2, 2, avg2(d0, e0))
        set(0, 1, avg3(a0, b0, c0))
        set(1, 1, avg3(b0, c0, d0)); set(0, 3, avg3(b0, c0, d0))
        set(2, 1, avg3(c0, d0, e0)); set(1, 3, avg3(c0, d0, e0))
        set(3, 1, avg3(d0, e0, f0)); set(2, 3, avg3(d0, e0, f0))
        set(3, 2, avg3(e0, f0, g0))
        set(3, 3, avg3(f0, g0, h0))
      case 8 => // B_HD (horizontal-down)
        val i0 = l(0); val j = l(1); val k = l(2); val lw = l(3)
        val a0 = a(0); val b0 = a(1); val c0 = a(2)
        set(0, 0, avg2(i0, p)); set(2, 1, avg2(i0, p))
        set(0, 1, avg2(j, i0)); set(2, 2, avg2(j, i0))
        set(0, 2, avg2(k, j)); set(2, 3, avg2(k, j))
        set(0, 3, avg2(lw, k))
        set(3, 0, avg3(a0, b0, c0))
        set(2, 0, avg3(p, a0, b0))
        set(1, 0, avg3(i0, p, a0)); set(3, 1, avg3(i0, p, a0))
        set(1, 1, avg3(p, i0, j)); set(3, 2, avg3(p, i0, j))
        set(1, 2, avg3(i0, j, k)); set(3, 3, avg3(i0, j, k))
        set(1, 3, avg3(j, k, lw))
      case 9 => // B_HU (horizontal-up)
        val i0 = l(0); val j = l(1); val k = l(2); val lw = l(3)
        set(0, 0, avg2(i0, j))
        set(2, 0, avg2(j, k)); set(0, 1, avg2(j, k))
        set(2, 1, avg2(k, lw)); set(0, 2, avg2(k, lw))
        set(1, 0, avg3(i0, j, k))
        set(3, 0, avg3(j, k, lw)); set(1, 1, avg3(j, k, lw))
        set(3, 1, avg3(k, lw, lw)); set(1, 2, avg3(k, lw, lw))
        set(3, 2, lw); set(2, 2, lw)
        set(0, 3, lw); set(1, 3, lw); set(2, 3, lw); set(3, 3, lw)
      case other => throw new IllegalArgumentException(s"b mode $other")
    }
  }

  // ---- loop filter (RFC 6386 §15) ----

  @inline private def c128(v: Int): Int =
    if (v < -128) -128 else if (v > 127) 127 else v
  @inline private def s2u(v: Int): Int = c128(v) + 128

  /** Normal-filter mask (§15.2 filter_yes), on unsigned pixel values. */
  @inline private def filterYes(i: Int, e: Int,
      p3: Int, p2: Int, p1: Int, p0: Int, q0: Int, q1: Int, q2: Int, q3: Int): Boolean =
    math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= e &&
      math.abs(p3 - p2) <= i && math.abs(p2 - p1) <= i && math.abs(p1 - p0) <= i &&
      math.abs(q3 - q2) <= i && math.abs(q2 - q1) <= i && math.abs(q1 - q0) <= i

  @inline private def isHev(t: Int, p1: Int, p0: Int, q0: Int, q1: Int): Boolean =
    math.abs(p1 - p0) > t || math.abs(q1 - q0) > t

  /** One 8-pixel segment across an edge: `at(k)`/`put(k, v)` address
    * p3..q3 as k = -4..3. Applies the normal sub-block or MB-edge
    * filter (§15.2/§15.3).
    */
  private def filterSegment(interior: Int, edge: Int, hevT: Int, mbEdge: Boolean,
      at: Int => Int, put: (Int, Int) => Unit): Unit = {
    val up3 = at(-4); val up2 = at(-3); val up1 = at(-2); val up0 = at(-1)
    val uq0 = at(0); val uq1 = at(1); val uq2 = at(2); val uq3 = at(3)
    if (!filterYes(interior, edge, up3, up2, up1, up0, uq0, uq1, uq2, uq3)) return
    val p2 = up2 - 128; val p1 = up1 - 128; val p0 = up0 - 128
    val q0 = uq0 - 128; val q1 = uq1 - 128; val q2 = uq2 - 128
    val hev = isHev(hevT, up1, up0, uq0, uq1)
    def commonAdjust(useOuter: Boolean): Int = {
      val a = c128((if (useOuter) c128(p1 - q1) else 0) + 3 * (q0 - p0))
      val f1 = c128(a + 4) >> 3
      val f2 = c128(a + 3) >> 3
      put(0, s2u(q0 - f1))
      put(-1, s2u(p0 + f2))
      f1 // the p1/q1 outer adjust derives from Filter1, not the raw sum
    }
    if (!mbEdge) {
      val f1 = commonAdjust(hev)
      if (!hev) {
        val a = (f1 + 1) >> 1
        put(1, s2u(q1 - a))
        put(-2, s2u(p1 + a))
      }
    } else {
      if (!hev) {
        val w = c128(c128(p1 - q1) + 3 * (q0 - p0))
        var a = c128((27 * w + 63) >> 7)
        put(0, s2u(q0 - a)); put(-1, s2u(p0 + a))
        a = c128((18 * w + 63) >> 7)
        put(1, s2u(q1 - a)); put(-2, s2u(p1 + a))
        a = c128((9 * w + 63) >> 7)
        put(2, s2u(q2 - a)); put(-3, s2u(p2 + a))
      } else commonAdjust(useOuter = true)
    }
  }

  /** Simple-filter segment (§15.1): luma only, 4 pixels. */
  private def simpleSegment(edge: Int, at: Int => Int, put: (Int, Int) => Unit): Unit = {
    val up1 = at(-2); val up0 = at(-1); val uq0 = at(0); val uq1 = at(1)
    if (math.abs(up0 - uq0) * 2 + math.abs(up1 - uq1) / 2 > edge) return
    val p1 = up1 - 128; val p0 = up0 - 128
    val q0 = uq0 - 128; val q1 = uq1 - 128
    val a = c128(c128(p1 - q1) + 3 * (q0 - p0))
    val f1 = c128(a + 4) >> 3
    val f2 = c128(a + 3) >> 3
    put(0, s2u(q0 - f1))
    put(-1, s2u(p0 + f2))
  }

  // ---- decoded frame ----

  /** YUV420 planes (post loop filter), stride = mbW*16 (luma) and mbW*8
    * (chroma); `width`/`height` are the display crop.
    */
  final case class Vp8Frame(width: Int, height: Int,
      y: Array[Int], yStride: Int,
      u: Array[Int], v: Array[Int], uvStride: Int)

  private[graft] var debugDisableFilter = false // test-only bisection aid

  /** Decode one VP8 keyframe payload (`size` bytes at `from`). */
  def decodeFrame(bytes: Array[Byte], from: Int, size: Int): Vp8Frame = {
    require(size >= 10 && from >= 0 && from + size <= bytes.length,
      "VP8 payload truncated")
    // --- uncompressed frame tag (§9.1) ---
    val tag = (bytes(from) & 0xff) | ((bytes(from + 1) & 0xff) << 8) |
      ((bytes(from + 2) & 0xff) << 16)
    require((tag & 1) == 0, "VP8 inter frames are not decodable (stills are keyframes)")
    val version = (tag >> 1) & 7
    require(version <= 3, s"VP8 version $version reserved")
    val firstPartSize = tag >> 5
    require(bytes(from + 3) == 0x9d.toByte && bytes(from + 4) == 0x01.toByte &&
      bytes(from + 5) == 0x2a.toByte, "VP8 keyframe start code missing")
    val w16 = (bytes(from + 6) & 0xff) | ((bytes(from + 7) & 0xff) << 8)
    val h16 = (bytes(from + 8) & 0xff) | ((bytes(from + 9) & 0xff) << 8)
    val width = w16 & 0x3fff
    val height = h16 & 0x3fff
    require(width > 0 && height > 0, "VP8 zero dimension")
    // Allocation guard: a lossy frame's decode footprint is three int
    // planes (+ the caller's ARGB) ≈ 10 bytes/pixel, so 2^26 pixels
    // (67 MP — far beyond any real crawl still) bounds one task at
    // ~650 MB. Conformant-but-larger geometry rejects DESCRIPTIVELY
    // instead of OOM-killing the executor (resource guard, not a
    // plausibility claim).
    require(width.toLong * height <= (1L << 26),
      s"VP8 geometry ${width}x$height exceeds the 2^26-pixel allocation guard")
    val partBase = from + 10
    require(firstPartSize > 0 && partBase + firstPartSize <= from + size,
      "VP8 first partition overruns the payload")
    val bd = new BoolDecoder(bytes, partBase, partBase + firstPartSize)

    // --- frame header (§9.2-9.10) ---
    val h = new Header
    h.width = width; h.height = height
    bd.literal(1) // color space
    bd.literal(1) // clamping type
    h.segEnabled = bd.flag
    if (h.segEnabled) {
      h.segUpdateMap = bd.flag
      val updateData = bd.flag
      if (updateData) {
        h.segAbsolute = bd.flag
        var i = 0
        while (i < 4) { if (bd.flag) h.segQuant(i) = bd.signedLiteral(7); i += 1 }
        i = 0
        while (i < 4) { if (bd.flag) h.segFilter(i) = bd.signedLiteral(6); i += 1 }
      }
      if (h.segUpdateMap) {
        var i = 0
        while (i < 3) {
          h.segTreeProbs(i) = if (bd.flag) bd.literal(8) else 255
          i += 1
        }
      }
    }
    h.filterType = bd.literal(1)
    h.filterLevel = bd.literal(6)
    h.sharpness = bd.literal(3)
    h.lfDeltaEnabled = bd.flag
    if (h.lfDeltaEnabled && bd.flag) { // mode_ref_lf_delta_update
      var i = 0
      while (i < 4) { if (bd.flag) h.refLfDeltas(i) = bd.signedLiteral(6); i += 1 }
      i = 0
      while (i < 4) { if (bd.flag) h.modeLfDeltas(i) = bd.signedLiteral(6); i += 1 }
    }
    val log2Parts = bd.literal(2)
    val nParts = 1 << log2Parts
    h.yAcQi = bd.literal(7)
    h.yDcDelta = if (bd.flag) bd.signedLiteral(4) else 0
    h.y2DcDelta = if (bd.flag) bd.signedLiteral(4) else 0
    h.y2AcDelta = if (bd.flag) bd.signedLiteral(4) else 0
    h.uvDcDelta = if (bd.flag) bd.signedLiteral(4) else 0
    h.uvAcDelta = if (bd.flag) bd.signedLiteral(4) else 0
    bd.literal(1) // refresh_entropy_probs (irrelevant for a still)
    // token probability updates (§13.4)
    h.coeffProbs = Vp8Tables.coeffProbs.clone()
    var i = 0
    while (i < 1056) {
      if (bd.bool(Vp8Tables.coeffUpdateProbs(i)) == 1)
        h.coeffProbs(i) = bd.literal(8)
      i += 1
    }
    h.useSkip = bd.flag
    if (h.useSkip) h.skipProb = bd.literal(8)

    // --- token partitions (§9.5): sizes trail the first partition ---
    val mbW = (width + 15) >> 4
    val mbH = (height + 15) >> 4
    val sizesAt = partBase + firstPartSize
    require(sizesAt + 3 * (nParts - 1) <= from + size,
      "VP8 token partition size table overruns the payload")
    val partStart = new Array[Int](nParts)
    val partEnd = new Array[Int](nParts)
    var off = sizesAt + 3 * (nParts - 1)
    var p = 0
    while (p < nParts) {
      val sz =
        if (p == nParts - 1) from + size - off
        else (bytes(sizesAt + 3 * p) & 0xff) | ((bytes(sizesAt + 3 * p + 1) & 0xff) << 8) |
          ((bytes(sizesAt + 3 * p + 2) & 0xff) << 16)
      require(sz >= 0 && off + sz <= from + size,
        s"VP8 token partition $p overruns the payload")
      partStart(p) = off; partEnd(p) = off + sz
      off += sz
      p += 1
    }
    val tokenBd = Array.tabulate(nParts)(k =>
      new BoolDecoder(bytes, partStart(k), partEnd(k)))

    // --- pass 1: per-MB modes from the first partition (§11) ---
    val mbs = Array.fill(mbW * mbH)(new MbInfo)
    // b-mode context rows: above[mbW*4], left[4]
    val aboveB = Array.fill(mbW * 4)(0)
    val leftB = new Array[Int](4)
    var mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(leftB, 0)
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbs(mby * mbW + mbx)
        if (h.segEnabled && h.segUpdateMap)
          mb.segment = bd.tree(SegTree, h.segTreeProbs, 0)
        if (h.useSkip) mb.skip = bd.bool(h.skipProb) == 1
        mb.yMode = bd.tree(KfYModeTree, KfYModeProbs, 0)
        if (mb.yMode == 4) { // B_PRED: 16 sub-modes with (above, left) ctx
          var sb = 0
          while (sb < 16) {
            val r = sb >> 2; val c = sb & 3
            val a = if (r == 0) aboveB(mbx * 4 + c) else mb.bModes((r - 1) * 4 + c)
            val l = if (c == 0) leftB(r) else mb.bModes(r * 4 + c - 1)
            val m = bd.tree(BModeTree, Vp8Tables.kfBModeProbs, (a * 10 + l) * 9)
            mb.bModes(sb) = m
            if (c == 3) leftB(r) = m
            if (r == 3) aboveB(mbx * 4 + c) = m
            sb += 1
          }
        } else {
          // 16x16 modes imply fixed b-mode contexts (§11.3)
          val implied = mb.yMode match {
            case 0 => 0 // DC -> B_DC
            case 1 => 2 // V  -> B_VE
            case 2 => 3 // H  -> B_HE
            case _ => 1 // TM -> B_TM
          }
          var k = 0
          while (k < 4) { aboveB(mbx * 4 + k) = implied; leftB(k) = implied; k += 1 }
        }
        mb.uvMode = bd.tree(UvModeTree, KfUvModeProbs, 0)
        mbx += 1
      }
      mby += 1
    }

    // --- pass 2: residuals + reconstruction, fused in raster order ---
    // Residual decode and prediction+transform reconstruction both walk
    // MBs in raster order, so they fuse into ONE pass: each MB's
    // dequantized coefficients live only for its own reconstruction
    // (retaining 1.5 KB × every MB made a hostile max-geometry frame
    // cost gigabytes — the review's OOM finding).
    val yStride = mbW * 16
    val uvStride = mbW * 8
    val yPlane = new Array[Int](yStride * mbH * 16)
    val uPlane = new Array[Int](uvStride * mbH * 8)
    val vPlane = new Array[Int](uvStride * mbH * 8)
    val blk = new Array[Int](16)
    val coeffs = new Array[Int](24 * 16) // per-MB scratch, reused
    // nz contexts: above per-MB (4 y, 2 u, 2 v, 1 y2), left per-row
    val aboveNz = Array.ofDim[Int](mbW, 9)
    val leftNz = new Array[Int](9)
    mby = 0
    while (mby < mbH) {
      val tbd = tokenBd(mby & (nParts - 1))
      java.util.Arrays.fill(leftNz, 0)
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbs(mby * mbW + mbx)
        val aNz = aboveNz(mbx)
        val q = quantsFor(h, mb.segment)
        var decoded = false
        if (mb.skip) {
          java.util.Arrays.fill(leftNz, 0, 8, 0)
          java.util.Arrays.fill(aNz, 0, 8, 0)
          if (mb.yMode != 4) { leftNz(8) = 0; aNz(8) = 0 }
          mb.hasCoeffs = false
        } else {
          java.util.Arrays.fill(coeffs, 0)
          decoded = true
          var any = false
          var first = 0
          var yType = 3
          if (mb.yMode != 4) { // Y2 block (type 1)
            val y2 = new Array[Int](16)
            val ctx = aNz(8) + leftNz(8)
            val nz = getCoeffs(tbd, h.coeffProbs, 1, ctx, 0, q(2), q(3), y2, 0)
            val flag = if (nz > 0) 1 else 0
            aNz(8) = flag; leftNz(8) = flag
            if (flag == 1) any = true
            val dcs = iwht4x4(y2)
            var k = 0
            while (k < 16) { coeffs(k * 16) = dcs(k); k += 1 }
            first = 1
            yType = 0
          }
          // 16 luma blocks
          var r = 0
          while (r < 4) {
            var l = leftNz(r)
            var c = 0
            while (c < 4) {
              val ctx = l + aNz(c)
              val blk = r * 4 + c
              // preserve the Y2-injected DC (getCoeffs never writes
              // position 0 when first = 1)
              val nz = getCoeffs(tbd, h.coeffProbs, yType, ctx, first,
                q(0), q(1), coeffs, blk * 16)
              l = if (nz > first) 1 else 0
              aNz(c) = l
              if (l == 1) any = true
              c += 1
            }
            leftNz(r) = l
            r += 1
          }
          // 4 + 4 chroma blocks (type 2)
          var pl = 0
          while (pl < 2) { // 0 = U, 1 = V
            var rr = 0
            while (rr < 2) {
              var l = leftNz(4 + pl * 2 + rr)
              var cc = 0
              while (cc < 2) {
                val ctx = l + aNz(4 + pl * 2 + cc)
                val blk = 16 + pl * 4 + rr * 2 + cc
                val nz = getCoeffs(tbd, h.coeffProbs, 2, ctx, 0,
                  q(4), q(5), coeffs, blk * 16)
                l = if (nz > 0) 1 else 0
                aNz(4 + pl * 2 + cc) = l
                if (l == 1) any = true
                cc += 1
              }
              leftNz(4 + pl * 2 + rr) = l
              rr += 1
            }
            pl += 1
          }
          mb.hasCoeffs = any
        }
        // reconstruction (prediction + transforms), unfiltered — uses
        // only already-reconstructed raster-order neighbors
        val hasAbove = mby > 0
        val hasLeft = mbx > 0
        val yx = mbx * 16; val yy = mby * 16
        if (mb.yMode != 4) {
          predictBlock(yPlane, yStride, yx, yy, 16, mb.yMode, hasAbove, hasLeft)
          if (decoded) {
            var sb = 0
            while (sb < 16) {
              addResidual(yPlane, yStride, yx + (sb & 3) * 4, yy + (sb >> 2) * 4,
                coeffs, sb * 16, blk)
              sb += 1
            }
          }
        } else {
          // B_PRED: MB-level above-right, then per-subblock predict+add
          val mbAr = new Array[Int](4)
          if (mby == 0) java.util.Arrays.fill(mbAr, 127)
          else if (mbx == mbW - 1) {
            val v = yPlane((yy - 1) * yStride + yx + 15)
            java.util.Arrays.fill(mbAr, v)
          } else {
            var k = 0
            while (k < 4) { mbAr(k) = yPlane((yy - 1) * yStride + yx + 16 + k); k += 1 }
          }
          var sb = 0
          while (sb < 16) {
            val r = sb >> 2; val c = sb & 3
            val bx = yx + c * 4; val by = yy + r * 4
            val ar =
              if (c == 3) mbAr
              else if (r == 0 && mby == 0) Array(127, 127, 127, 127)
              else Array(
                yPlane((by - 1) * yStride + bx + 4),
                yPlane((by - 1) * yStride + bx + 5),
                yPlane((by - 1) * yStride + bx + 6),
                yPlane((by - 1) * yStride + bx + 7))
            predictB(yPlane, yStride, bx, by, mb.bModes(sb), ar, mby, mbx)
            if (decoded)
              addResidual(yPlane, yStride, bx, by, coeffs, sb * 16, blk)
            sb += 1
          }
        }
        // chroma
        val ux = mbx * 8; val uy = mby * 8
        predictBlock(uPlane, uvStride, ux, uy, 8, mb.uvMode, hasAbove, hasLeft)
        predictBlock(vPlane, uvStride, ux, uy, 8, mb.uvMode, hasAbove, hasLeft)
        if (decoded) {
          var sb = 0
          while (sb < 4) {
            val bx = ux + (sb & 1) * 4; val by = uy + (sb >> 1) * 4
            addResidual(uPlane, uvStride, bx, by, coeffs, (16 + sb) * 16, blk)
            addResidual(vPlane, uvStride, bx, by, coeffs, (20 + sb) * 16, blk)
            sb += 1
          }
        }
        mbx += 1
      }
      mby += 1
    }

    // --- pass 4: loop filter, in place, raster MB order (§15) ---
    if (h.filterLevel > 0 && !debugDisableFilter) {
      mby = 0
      while (mby < mbH) {
        var mbx = 0
        while (mbx < mbW) {
          val mb = mbs(mby * mbW + mbx)
          var level =
            if (!h.segEnabled) h.filterLevel
            else if (h.segAbsolute) h.segFilter(mb.segment)
            else h.filterLevel + h.segFilter(mb.segment)
          if (h.lfDeltaEnabled) {
            level += h.refLfDeltas(0) // keyframes: every MB is INTRA
            if (mb.yMode == 4) level += h.modeLfDeltas(0) // B_PRED
          }
          level = math.max(0, math.min(63, level))
          if (level > 0) {
            var interior = level
            if (h.sharpness > 0) {
              interior >>= (if (h.sharpness > 4) 2 else 1)
              if (interior > 9 - h.sharpness) interior = 9 - h.sharpness
            }
            if (interior < 1) interior = 1
            val hevT = if (level >= 40) 2 else if (level >= 15) 1 else 0
            val edgeMb = (level + 2) * 2 + interior
            val edgeSb = level * 2 + interior
            val inner = mb.yMode == 4 || mb.hasCoeffs
            filterMb(h.filterType, yPlane, yStride, uPlane, vPlane, uvStride,
              mbx, mby, interior, edgeMb, edgeSb, hevT, inner)
          }
          mbx += 1
        }
        mby += 1
      }
    }
    Vp8Frame(width, height, yPlane, yStride, uPlane, vPlane, uvStride)
  }

  /** idct the 16 dequantized coefficients at `off` and add to the 4x4
    * block at (x0, y0), clamping to 0..255. `tmp` is a 16-int scratch.
    */
  private def addResidual(plane: Array[Int], stride: Int, x0: Int, y0: Int,
      coeffs: Array[Int], off: Int, tmp: Array[Int]): Unit = {
    var allZero = true
    var k = 0
    while (k < 16) { tmp(k) = coeffs(off + k); if (tmp(k) != 0) allZero = false; k += 1 }
    if (allZero) return
    idct4x4(tmp, 0)
    var r = 0
    while (r < 4) {
      var c = 0
      while (c < 4) {
        val p = (y0 + r) * stride + x0 + c
        plane(p) = clip255(plane(p) + tmp(r * 4 + c))
        c += 1
      }
      r += 1
    }
  }

  /** All edges of one MB (§15.1 order: left MB edge, inner vertical,
    * top MB edge, inner horizontal), normal or simple filter.
    */
  private def filterMb(filterType: Int,
      y: Array[Int], ys: Int, u: Array[Int], v: Array[Int], uvs: Int,
      mbx: Int, mby: Int, interior: Int, edgeMb: Int, edgeSb: Int, hevT: Int,
      inner: Boolean): Unit = {
    val yx = mbx * 16; val yy = mby * 16
    val ux = mbx * 8; val uy = mby * 8
    def vSeg(plane: Array[Int], stride: Int, col: Int, row: Int): (Int => Int, (Int, Int) => Unit) =
      (k => plane(row * stride + col + k), (k, p) => plane(row * stride + col + k) = p)
    def hSeg(plane: Array[Int], stride: Int, col: Int, row: Int): (Int => Int, (Int, Int) => Unit) =
      (k => plane((row + k) * stride + col), (k, p) => plane((row + k) * stride + col) = p)
    def edgeV(plane: Array[Int], stride: Int, x: Int, y0: Int, n: Int, e: Int, mbE: Boolean): Unit = {
      var r = 0
      while (r < n) {
        val (at, put) = vSeg(plane, stride, x, y0 + r)
        if (filterType == 0) filterSegment(interior, e, hevT, mbE, at, put)
        else simpleSegment(e, at, put)
        r += 1
      }
    }
    def edgeH(plane: Array[Int], stride: Int, x0: Int, yr: Int, n: Int, e: Int, mbE: Boolean): Unit = {
      var c = 0
      while (c < n) {
        val (at, put) = hSeg(plane, stride, x0 + c, yr)
        if (filterType == 0) filterSegment(interior, e, hevT, mbE, at, put)
        else simpleSegment(e, at, put)
        c += 1
      }
    }
    val simple = filterType == 1
    if (mbx > 0) {
      edgeV(y, ys, yx, yy, 16, edgeMb, mbE = true)
      if (!simple) { edgeV(u, uvs, ux, uy, 8, edgeMb, mbE = true); edgeV(v, uvs, ux, uy, 8, edgeMb, mbE = true) }
    }
    if (inner) {
      edgeV(y, ys, yx + 4, yy, 16, edgeSb, mbE = false)
      edgeV(y, ys, yx + 8, yy, 16, edgeSb, mbE = false)
      edgeV(y, ys, yx + 12, yy, 16, edgeSb, mbE = false)
      if (!simple) { edgeV(u, uvs, ux + 4, uy, 8, edgeSb, mbE = false); edgeV(v, uvs, ux + 4, uy, 8, edgeSb, mbE = false) }
    }
    if (mby > 0) {
      edgeH(y, ys, yx, yy, 16, edgeMb, mbE = true)
      if (!simple) { edgeH(u, uvs, ux, uy, 8, edgeMb, mbE = true); edgeH(v, uvs, ux, uy, 8, edgeMb, mbE = true) }
    }
    if (inner) {
      edgeH(y, ys, yx, yy + 4, 16, edgeSb, mbE = false)
      edgeH(y, ys, yx, yy + 8, 16, edgeSb, mbE = false)
      edgeH(y, ys, yx, yy + 12, 16, edgeSb, mbE = false)
      if (!simple) { edgeH(u, uvs, ux, uy + 4, 8, edgeSb, mbE = false); edgeH(v, uvs, ux, uy + 4, 8, edgeSb, mbE = false) }
    }
  }

  // ---- YUV420 → packed ARGB (libwebp's -nofancy integer transform) ----

  /** BT.601 full-swing integer conversion, the exact fixed-point
    * arithmetic the reference decoder uses ((v*coeff)>>8 "MultHi"
    * scheme, final >>6 with saturation): deterministic, closed-form in
    * SQL. Chroma is upsampled nearest (each 2x2 shares its u,v).
    */
  def yuvToArgb(f: Vp8Frame): Array[Int] = {
    @inline def multHi(v: Int, coeff: Int): Int = (v * coeff) >> 8
    @inline def clip6(v: Int): Int =
      if ((v & ~((256 << 6) - 1)) == 0) v >> 6 else if (v < 0) 0 else 255
    val out = new Array[Int](f.width * f.height)
    var r = 0
    while (r < f.height) {
      var c = 0
      while (c < f.width) {
        val yv = f.y(r * f.yStride + c)
        val uv = f.u((r >> 1) * f.uvStride + (c >> 1))
        val vv = f.v((r >> 1) * f.uvStride + (c >> 1))
        val luma = multHi(yv, 19077)
        val red = clip6(luma + multHi(vv, 26149) - 14234)
        val green = clip6(luma - multHi(uv, 6419) - multHi(vv, 13320) + 8708)
        val blue = clip6(luma + multHi(uv, 33050) - 17685)
        out(r * f.width + c) = 0xff000000 | (red << 16) | (green << 8) | blue
        c += 1
      }
      r += 1
    }
    out
  }

  /** Container-level helper: decode a lossy WebP still to (w, h, ARGB). */
  def decodeToArgb(bytes: Array[Byte], from: Int, size: Int): (Int, Int, Array[Int]) = {
    val f = decodeFrame(bytes, from, size)
    (f.width, f.height, yuvToArgb(f))
  }

  // ---- encode half (fixtures/oracles — the synthWebpLossless doctrine) ----

  /** One macroblock of fixture input: modes + QUANTIZED coefficient
    * values (natural order; the encoder zigzags and the decoder's
    * dequant multiplies them back, so decoded pixels are integer
    * closed forms of these values). For non-B_PRED modes `y2` carries
    * the 16 second-order values and each `y` block's position 0 is
    * ignored (its DC comes from Y2); for B_PRED `y2` is ignored.
    * A `skip=true` MB must have all-zero coefficients.
    */
  final case class MbSpec(
      yMode: Int, // 0=DC 1=V 2=H 3=TM 4=B_PRED
      uvMode: Int, // 0=DC 1=V 2=H 3=TM
      bModes: Array[Int] = null, // 16, B_PRED only
      y2: Array[Int] = new Array[Int](16),
      y: Array[Array[Int]] = Array.fill(16)(new Array[Int](16)),
      u: Array[Array[Int]] = Array.fill(4)(new Array[Int](16)),
      v: Array[Array[Int]] = Array.fill(4)(new Array[Int](16)),
      skip: Boolean = false)

  /** Encode one block's quantizer-level values (natural order) with the
    * default probabilities, mirroring [[getCoeffs]]'s loop structure
    * (including the no-EOB-after-zero rule). Returns whether the block
    * counts as non-zero for the context chain (any value at ≥ first).
    */
  private def putCoeffs(be: BoolEncoder, probs: Array[Int], typ: Int,
      ctx0: Int, first: Int, vals: Array[Int]): Boolean = {
    val vz = new Array[Int](16)
    var k = 0
    while (k < 16) { vz(k) = vals(Zigzag(k)); k += 1 }
    var last = -1
    k = 15
    while (k >= first && last < 0) { if (vz(k) != 0) last = k; k -= 1 }
    var n = first
    var p = ((typ * 8 + Bands(n)) * 3 + ctx0) * 11
    if (last < first) { be.bool(0, probs(p)); return false }
    var done = false
    while (!done) {
      be.bool(1, probs(p)) // not EOB
      // zero run (decoder: first zero read with inherited ctx, rest ctx 0)
      while (vz(n) == 0) {
        be.bool(0, probs(p + 1))
        n += 1
        p = ((typ * 8 + Bands(n)) * 3 + 0) * 11
      }
      be.bool(1, probs(p + 1)) // nonzero follows
      val v = math.abs(vz(n))
      val nextCtx = if (v == 1) 1 else 2
      if (v == 1) be.bool(0, probs(p + 2))
      else {
        be.bool(1, probs(p + 2))
        if (v <= 4) {
          be.bool(0, probs(p + 3))
          if (v == 2) be.bool(0, probs(p + 4))
          else { be.bool(1, probs(p + 4)); be.bool(v - 3, probs(p + 5)) }
        } else {
          be.bool(1, probs(p + 3))
          if (v <= 10) {
            be.bool(0, probs(p + 6))
            if (v <= 6) { be.bool(0, probs(p + 7)); be.bool(v - 5, Cat1(0)) }
            else {
              be.bool(1, probs(p + 7))
              val x = v - 7
              be.bool((x >> 1) & 1, Cat2(0)); be.bool(x & 1, Cat2(1))
            }
          } else {
            be.bool(1, probs(p + 6))
            val cat =
              if (v <= 18) 0 else if (v <= 34) 1 else if (v <= 66) 2 else 3
            require(v <= 2048 + 66, s"coefficient value $v out of cat6 range")
            be.bool(cat >> 1, probs(p + 8))
            be.bool(cat & 1, probs(p + 9 + (cat >> 1)))
            val tab = Cats(cat)
            val x = v - (3 + (8 << cat))
            var b = tab.length - 1
            var i = 0
            while (i < tab.length) { be.bool((x >> b) & 1, tab(i)); b -= 1; i += 1 }
          }
        }
      }
      be.bool(if (vz(n) < 0) 1 else 0, 128) // sign
      n += 1
      if (n == 16) done = true
      else {
        p = ((typ * 8 + Bands(n)) * 3 + nextCtx) * 11
        if (n > last) { be.bool(0, probs(p)); done = true }
      }
    }
    true
  }

  /** Minimal VP8 keyframe encoder for fixtures: default probabilities
    * (no updates), no segmentation, one token partition, normal filter
    * at `filterLevel` (0 disables), base quantizer `qIndex` with no
    * per-plane deltas, skip signalling enabled. Returns a complete
    * RIFF/WEBP container with one `VP8 ` chunk.
    */
  def encodeKeyframe(w: Int, h: Int, qIndex: Int, filterLevel: Int,
      mbSpecs: Seq[MbSpec]): Array[Byte] = {
    require(w >= 1 && h >= 1 && w <= 16383 && h <= 16383, s"bad dims ${w}x$h")
    require(qIndex >= 0 && qIndex <= 127, s"quant index $qIndex")
    require(filterLevel >= 0 && filterLevel <= 63, s"filter level $filterLevel")
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    require(mbSpecs.length == mbW * mbH,
      s"need ${mbW * mbH} MB specs for ${w}x$h, got ${mbSpecs.length}")
    val skipProb = 200
    // --- first partition: header + modes ---
    val be = new BoolEncoder
    be.literal(0, 1) // color space
    be.literal(0, 1) // clamping
    be.bool(0, 128) // segmentation off
    be.literal(0, 1) // filter type: normal
    be.literal(filterLevel, 6)
    be.literal(0, 3) // sharpness
    be.bool(0, 128) // lf deltas off
    be.literal(0, 2) // one token partition
    be.literal(qIndex, 7)
    var i = 0
    while (i < 5) { be.bool(0, 128); i += 1 } // no quant deltas
    be.literal(1, 1) // refresh entropy probs
    i = 0
    while (i < 1056) { be.bool(0, Vp8Tables.coeffUpdateProbs(i)); i += 1 }
    be.bool(1, 128) // mb_no_coeff_skip on
    be.literal(skipProb, 8)
    // per-MB modes, mirroring the decoder's b-mode context rows
    val aboveB = new Array[Int](mbW * 4)
    val leftB = new Array[Int](4)
    var mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(leftB, 0)
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbSpecs(mby * mbW + mbx)
        be.bool(if (mb.skip) 1 else 0, skipProb)
        be.tree(KfYModeTree, KfYModeProbs, 0, mb.yMode)
        if (mb.yMode == 4) {
          require(mb.bModes != null && mb.bModes.length == 16, "B_PRED needs 16 bModes")
          var sb = 0
          while (sb < 16) {
            val r = sb >> 2; val c = sb & 3
            val a = if (r == 0) aboveB(mbx * 4 + c) else mb.bModes((r - 1) * 4 + c)
            val l = if (c == 0) leftB(r) else mb.bModes(r * 4 + c - 1)
            be.tree(BModeTree, Vp8Tables.kfBModeProbs, (a * 10 + l) * 9, mb.bModes(sb))
            if (c == 3) leftB(r) = mb.bModes(sb)
            if (r == 3) aboveB(mbx * 4 + c) = mb.bModes(sb)
            sb += 1
          }
        } else {
          val implied = mb.yMode match {
            case 0 => 0; case 1 => 2; case 2 => 3; case _ => 1
          }
          var k = 0
          while (k < 4) { aboveB(mbx * 4 + k) = implied; leftB(k) = implied; k += 1 }
        }
        be.tree(UvModeTree, KfUvModeProbs, 0, mb.uvMode)
        mbx += 1
      }
      mby += 1
    }
    val firstPart = be.toBytes

    // --- token partition, mirroring the decoder's nz contexts ---
    val te = new BoolEncoder
    val probs = Vp8Tables.coeffProbs
    val aboveNz = Array.ofDim[Int](mbW, 9)
    val leftNz = new Array[Int](9)
    mby = 0
    while (mby < mbH) {
      java.util.Arrays.fill(leftNz, 0)
      var mbx = 0
      while (mbx < mbW) {
        val mb = mbSpecs(mby * mbW + mbx)
        val aNz = aboveNz(mbx)
        if (mb.skip) {
          require(mb.y2.forall(_ == 0) && mb.y.forall(_.forall(_ == 0)) &&
            mb.u.forall(_.forall(_ == 0)) && mb.v.forall(_.forall(_ == 0)),
            "a skipped MB must carry no coefficients")
          java.util.Arrays.fill(leftNz, 0, 8, 0)
          java.util.Arrays.fill(aNz, 0, 8, 0)
          if (mb.yMode != 4) { leftNz(8) = 0; aNz(8) = 0 }
        } else {
          var first = 0
          var yType = 3
          if (mb.yMode != 4) {
            val ctx = aNz(8) + leftNz(8)
            val flag = if (putCoeffs(te, probs, 1, ctx, 0, mb.y2)) 1 else 0
            aNz(8) = flag; leftNz(8) = flag
            first = 1; yType = 0
          }
          var r = 0
          while (r < 4) {
            var l = leftNz(r)
            var c = 0
            while (c < 4) {
              val ctx = l + aNz(c)
              l = if (putCoeffs(te, probs, yType, ctx, first, mb.y(r * 4 + c))) 1 else 0
              aNz(c) = l
              c += 1
            }
            leftNz(r) = l
            r += 1
          }
          var pl = 0
          while (pl < 2) {
            val blocks = if (pl == 0) mb.u else mb.v
            var rr = 0
            while (rr < 2) {
              var l = leftNz(4 + pl * 2 + rr)
              var cc = 0
              while (cc < 2) {
                val ctx = l + aNz(4 + pl * 2 + cc)
                l = if (putCoeffs(te, probs, 2, ctx, 0, blocks(rr * 2 + cc))) 1 else 0
                aNz(4 + pl * 2 + cc) = l
                cc += 1
              }
              leftNz(4 + pl * 2 + rr) = l
              rr += 1
            }
            pl += 1
          }
        }
        mbx += 1
      }
      mby += 1
    }
    val tokens = te.toBytes

    // --- assemble: frame tag + start code + dims + partitions ---
    val payload = new java.io.ByteArrayOutputStream()
    require(firstPart.length < (1 << 19),
      s"first partition ${firstPart.length} bytes exceeds the 19-bit size field")
    val tag = (firstPart.length << 5) | (1 << 4) | 0 // show_frame, keyframe
    payload.write(tag & 0xff); payload.write((tag >> 8) & 0xff)
    payload.write((tag >> 16) & 0xff)
    payload.write(0x9d); payload.write(0x01); payload.write(0x2a)
    payload.write(w & 0xff); payload.write((w >> 8) & 0x3f)
    payload.write(h & 0xff); payload.write((h >> 8) & 0x3f)
    payload.write(firstPart)
    payload.write(tokens)
    val vp8 = payload.toByteArray
    // RIFF wrap
    val out = new java.io.ByteArrayOutputStream()
    def tag4(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    val chunk = vp8.length + (vp8.length & 1)
    tag4("RIFF"); le32(4 + 8 + chunk); tag4("WEBP")
    tag4("VP8 "); le32(vp8.length); out.write(vp8)
    if ((vp8.length & 1) == 1) out.write(0)
    out.toByteArray
  }

}
