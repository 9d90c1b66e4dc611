package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** JPEG (ITU-T T.81) codec from the public spec — the last pixel-format
  * gap after TIFF and PNG: marker walk, canonical Huffman entropy decode
  * with byte unstuffing and restart markers, dequantize + de-zigzag,
  * separable float IDCT, level shift. Covers BOTH Huffman DCT modes real
  * files ship: baseline sequential (SOF0) and progressive (SOF2 —
  * spectral selection, successive approximation with Annex-G
  * correction-bit refinement, EOB runs).
  *
  * Scope (everything else FAILS CLOSED, the Tiff/Png doctrine):
  *   - SOF0 baseline + SOF2 progressive; extended sequential (SOF1),
  *     arithmetic coding, and hierarchical modes are rejected
  *   - 8-bit precision, 8-bit quantization tables (Pq=0)
  *   - 1 component (grayscale, 1×1) or 3 components with per-axis
  *     sampling factors of 1 or 2 — covering 4:4:4, 4:2:2, 4:4:0 and
  *     the ubiquitous 4:2:0; chroma planes decode at their own
  *     resolution and upsample by pixel replication (box — libjpeg's
  *     non-fancy mode); 3×/4× factors (legal, unseen in practice) reject
  *   - output is the RAW component plane values (Y, or Y/Cb/Cr
  *     channel-interleaved) — color-space conversion is a separate
  *     concern, exactly as TIFF bands are returned unconverted
  *
  * Determinism: the IDCT is the direct separable double-precision sum
  * with a precomputed cosine table; for DC-only blocks every AC term is
  * an exact 0.0, so the pixel value is one float product chain both
  * engines replicate literally (the mm6/g6 oracle recipe). Reference:
  * the multimodal ingest surface, SURVEY.md §2.6 (stub decode →
  * real decode), image containers as opaque binary columns.
  */
object Jpeg {

  // ---- shared constants ----

  /** zigzag index -> natural (row-major) index */
  val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** C(0) = 1/sqrt(2) — the DCT normalization for u = 0. */
  val C0: Double = 1.0 / math.sqrt(2.0)

  private val cosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  // Standard Huffman tables from T.81 Annex K.3 (the tables every
  // baseline encoder ships): (bits[1..16], values)
  private val StdDcLumBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcLumVals = (0 to 11).toArray
  private val StdDcChrBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val StdDcChrVals = (0 to 11).toArray
  private val StdAcLumBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val StdAcLumVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val StdAcChrBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val StdAcChrVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  // Progressive AC scans additionally emit EOBn symbols (0x10..0xE0),
  // which the baseline Annex-K tables do not define — real progressive
  // encoders ship custom DHTs. This synthetic table assigns every symbol
  // a progressive scan can emit (EOB0..EOB14, ZRL, and (r,s) for
  // s = 1..10) a flat 8-bit canonical code: valid (176 < 255 codes, no
  // all-ones), trivially decodable, compression-irrelevant for fixtures.
  private val ProgAcVals: Array[Int] =
    ((0 to 14).map(_ << 4) ++ Seq(0xf0) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray
  private val ProgAcBits: Array[Int] = {
    val b = new Array[Int](17); b(8) = ProgAcVals.length; b
  }

  // ---- canonical Huffman (T.81 Annex C) ----

  /** Decode-side canonical table: per code length, the first code value
    * and the index of its first symbol.
    */
  private final class HuffDecode(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l)
        k += bits(l)
        maxCode(l) = if (bits(l) > 0) code - 1 else -1
        code <<= 1
      }
    }
    def symbol(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
    def hasLen(len: Int): Boolean = maxCode(len) >= 0
  }

  /** Encode-side canonical table: symbol -> (code, length). */
  private final class HuffEncode(bits: Array[Int], vals: Array[Int]) {
    val codeOf = new java.util.HashMap[Int, (Int, Int)]()
    locally {
      var code = 0; var k = 0
      for (l <- 1 to 16) {
        var i = 0
        while (i < bits(l)) {
          codeOf.put(vals(k), (code, l)); code += 1; k += 1; i += 1
        }
        code <<= 1
      }
    }
  }

  // ---- decode ----

  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    def align(): Unit = { bitBuf = 0; bitCnt = 0 }
    /** next entropy bit; handles 0xFF00 stuffing; stops at markers */
    def bit(): Int = {
      if (bitCnt == 0) {
        require(pos < data.length, "entropy stream ran out")
        val b = data(pos) & 0xff; pos += 1
        if (b == 0xff) {
          require(pos < data.length, "truncated after 0xFF")
          val m = data(pos) & 0xff
          if (m == 0x00) { pos += 1 } // stuffed data byte
          else if (m >= 0xd0 && m <= 0xd7) {
            // An RST during refill means the current interval's entropy
            // data over-ran into the marker — only a malformed stream gets
            // here (well-formed intervals end on pad bits BEFORE the
            // marker, consumed via restart()). Fail closed rather than
            // splice the next interval's bytes into this one.
            throw new IllegalArgumentException(
              f"RST marker 0xFF$m%02X inside an entropy-coded interval (corrupt stream)")
          } else throw new IllegalArgumentException(
            f"unexpected marker 0xFF$m%02X inside entropy data")
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    def huff(t: HuffDecode): Int = {
      var code = bit(); var len = 1
      while (!(t.hasLen(len) && code <= t.maxCode(len))) {
        require(len < 16, "invalid Huffman code")
        code = (code << 1) | bit(); len += 1
      }
      t.symbol(len, code)
    }
    /** consume an expected RSTn between intervals */
    def restart(): Unit = {
      align()
      require(pos + 1 < data.length && (data(pos) & 0xff) == 0xff, "expected RST marker")
      val m = data(pos + 1) & 0xff
      require(m >= 0xd0 && m <= 0xd7, f"expected RSTn, got 0xFF$m%02X")
      pos += 2
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** zigzag position of each natural (row-major) index — Zigzag's inverse. */
  private val NatToZig: Array[Int] = {
    val inv = new Array[Int](64)
    for (z <- 0 until 64) inv(Zigzag(z)) = z
    inv
  }

  /** Decode a baseline (SOF0) or PROGRESSIVE (SOF2) JPEG to (width,
    * height, channels, row-major channel-interleaved raw component
    * bytes) — Y for grayscale, Y/Cb/Cr (unconverted) for color.
    *
    * Architecture: every scan decodes RAW coefficients into a
    * per-component MCU-padded coefficient store; dequantize + IDCT +
    * level shift + box upsample run ONCE after EOI. Baseline is the
    * degenerate single-scan case, so both modes share one reconstruction
    * path — which makes the progressive mode directly testable: the same
    * final coefficients MUST produce bit-identical pixels through either
    * coding (JpegSpec asserts it). Progressive scans cover the T.81
    * surface real encoders emit: interleaved DC scans, single-component
    * spectral AC bands, successive approximation (DC bit refinement; AC
    * first + correction-bit refinement per Annex G), EOB runs, and
    * restart markers in every scan kind.
    */
  def decodeJpegPixels(bytes: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "not a JPEG (missing SOI)")
    var pos = 2
    val qt = new Array[Array[Int]](4)
    val dcTbl = new Array[HuffDecode](4)
    val acTbl = new Array[HuffDecode](4)
    var w = 0; var h = 0; var ncomp = 0
    var compQ: Array[Int] = null
    var compId: Array[Int] = null
    var compSampH: Array[Int] = null
    var compSampV: Array[Int] = null
    var dcPred: Array[Int] = null
    var restartInterval = 0
    var sofSeen = false
    var scanSeen = false
    var progressive = false
    var maxH = 0; var maxV = 0; var mcusX = 0; var mcusY = 0
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var coefs: Array[Array[Int]] = null // RAW (undequantized) coefficients

    def be16(o: Int) = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)

    /** Decode one scan's entropy data; returns the position just past it. */
    def decodeScan(seg: Int, entropyStart: Int): Int = {
      val ns = bytes(seg) & 0xff
      require(ns >= 1 && ns <= ncomp, s"bad scan component count $ns")
      val scanComp = new Array[Int](ns)
      val scanDc = new Array[Int](ns)
      val scanAc = new Array[Int](ns)
      for (i <- 0 until ns) {
        val cid = bytes(seg + 1 + 2 * i) & 0xff
        val ti = compId.indexOf(cid)
        require(ti >= 0, s"SOS references unknown component $cid")
        scanComp(i) = ti
        scanDc(i) = (bytes(seg + 2 + 2 * i) & 0xff) >> 4
        scanAc(i) = bytes(seg + 2 + 2 * i) & 0x0f
      }
      val ss = bytes(seg + 1 + 2 * ns) & 0xff
      val se = bytes(seg + 2 + 2 * ns) & 0xff
      val ahAl = bytes(seg + 3 + 2 * ns) & 0xff
      val ah = ahAl >> 4; val al = ahAl & 0x0f
      if (!progressive) {
        require(ns == ncomp, "partial scans unsupported in baseline")
        require(ss == 0 && se == 63 && ah == 0 && al == 0,
          "baseline scan must cover spectral band 0..63 at full precision")
      } else {
        if (ss == 0) require(se == 0, "progressive DC scan must have Se=0")
        else {
          require(ns == 1, "progressive AC scans are single-component (T.81)")
          require(se >= ss && se <= 63, s"bad spectral band $ss..$se")
        }
        require(al <= 13 && (ah == 0 || ah == al + 1),
          s"bad successive approximation Ah=$ah Al=$al")
      }
      // a scan referencing a DHT slot that was never defined — or a slot
      // id beyond the 4-slot space — must reject descriptively, not
      // NullPointerException/ArrayIndexOutOfBounds at the first huff()
      // call (progressive DC refinement reads raw bits — no table
      // needed; AC scans never touch the DC table)
      for (i <- 0 until ns) {
        require(scanDc(i) < 4 && scanAc(i) < 4,
          s"Huffman table id ${math.max(scanDc(i), scanAc(i))} out of range (0..3)")
        if (!progressive || (ss == 0 && ah == 0))
          require(dcTbl(scanDc(i)) != null, s"missing DC Huffman table ${scanDc(i)}")
        if (!progressive || ss > 0)
          require(acTbl(scanAc(i)) != null, s"missing AC Huffman table ${scanAc(i)}")
      }
      val rd = new BitReader(bytes, entropyStart)
      java.util.Arrays.fill(dcPred, 0)
      var eobrun = 0

      def baselineBlock(i: Int, ci: Int, off: Int): Unit = {
        val s = rd.huff(dcTbl(scanDc(i)))
        dcPred(ci) += extend(rd.bits(s), s)
        coefs(ci)(off) = dcPred(ci)
        var k = 1
        while (k < 64) {
          val rs = rd.huff(acTbl(scanAc(i)))
          val r = rs >> 4; val sz = rs & 0x0f
          if (sz == 0) {
            if (r == 15) { // ZRL
              k += 16
              // fail closed on corrupt entropy data: a ZRL that advances
              // past the block end would truncate silently
              require(k <= 64, "ZRL run overflows the block")
            }
            else k = 64 // EOB
          } else {
            k += r
            require(k < 64, "AC run overflows the block")
            coefs(ci)(off + Zigzag(k)) = extend(rd.bits(sz), sz)
            k += 1
          }
        }
      }

      def dcFirst(i: Int, ci: Int, off: Int): Unit = {
        val s = rd.huff(dcTbl(scanDc(i)))
        dcPred(ci) += extend(rd.bits(s), s)
        coefs(ci)(off) = dcPred(ci) << al
      }

      def dcRefine(ci: Int, off: Int): Unit =
        if (rd.bit() == 1) coefs(ci)(off) |= (1 << al)

      def acFirst(i: Int, ci: Int, off: Int): Unit = {
        if (eobrun > 0) { eobrun -= 1; return }
        var k = ss
        while (k <= se) {
          val rs = rd.huff(acTbl(scanAc(i)))
          val r = rs >> 4; val sz = rs & 0x0f
          if (sz == 0) {
            if (r < 15) { // EOBn: run of 2^r + bits(r) blocks (incl. this one)
              eobrun = 1 << r
              if (r > 0) eobrun += rd.bits(r)
              eobrun -= 1
              k = se + 1
            } else {
              k += 16 // ZRL within the band
              require(k <= se + 1, "ZRL run overflows the spectral band")
            }
          } else {
            k += r
            require(k <= se, "AC run overflows the spectral band")
            coefs(ci)(off + Zigzag(k)) = extend(rd.bits(sz), sz) << al
            k += 1
          }
        }
      }

      // Annex G.1.2.3 correction-bit refinement (the jdphuff-shaped walk:
      // every nonzero-history coefficient passed over reads one bit).
      def acRefine(i: Int, ci: Int, off: Int): Unit = {
        val p1 = 1 << al; val m1 = -1 << al
        val c = coefs(ci)
        var k = ss
        if (eobrun == 0) {
          var inBand = true
          while (k <= se && inBand) {
            val rs = rd.huff(acTbl(scanAc(i)))
            var r = rs >> 4; val sz = rs & 0x0f
            var newVal = 0
            if (sz == 0) {
              if (r < 15) {
                eobrun = 1 << r
                if (r > 0) eobrun += rd.bits(r)
                inBand = false // fall through to the EOB correction sweep
              }
              // r == 15: ZRL — skip 16 zero-history positions below
            } else {
              require(sz == 1, "AC refinement magnitude must be 1")
              newVal = if (rd.bit() == 1) p1 else m1
            }
            if (inBand) {
              var placed = false
              while (k <= se && !placed) {
                val idx = off + Zigzag(k)
                if (c(idx) != 0) {
                  if (rd.bit() == 1 && (c(idx) & p1) == 0) {
                    if (c(idx) >= 0) c(idx) += p1 else c(idx) += m1
                  }
                } else {
                  if (r == 0) {
                    if (sz != 0) c(idx) = newVal
                    placed = true
                  } else r -= 1
                }
                k += 1
              }
              require(placed || k > se, "refinement run overflows the band")
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) { // EOB: correction bits only
            val idx = off + Zigzag(k)
            if (c(idx) != 0) {
              if (rd.bit() == 1 && (c(idx) & p1) == 0) {
                if (c(idx) >= 0) c(idx) += p1 else c(idx) += m1
              }
            }
            k += 1
          }
          eobrun -= 1
        }
      }

      def decodeUnit(i: Int, ci: Int, off: Int): Unit =
        if (!progressive) baselineBlock(i, ci, off)
        else if (ss == 0) { if (ah == 0) dcFirst(i, ci, off) else dcRefine(ci, off) }
        else { if (ah == 0) acFirst(i, ci, off) else acRefine(i, ci, off) }

      def maybeRestart(unit: Int): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          rd.restart()
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }

      if (ns > 1) {
        // interleaved: MCU order (baseline full scans; progressive DC scans)
        require(ns == ncomp, "partial interleaved scans unsupported")
        var mcu = 0
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            maybeRestart(mcu)
            var i = 0
            while (i < ns) {
              val ci = scanComp(i)
              var bv = 0
              while (bv < compSampV(ci)) {
                var bh2 = 0
                while (bh2 < compSampH(ci)) {
                  val by = my * compSampV(ci) + bv
                  val bx = mx * compSampH(ci) + bh2
                  decodeUnit(i, ci, (by * blocksW(ci) + bx) * 64)
                  bh2 += 1
                }
                bv += 1
              }
              i += 1
            }
            mcu += 1
            mx += 1
          }
          my += 1
        }
      } else {
        // non-interleaved: the component's OWN block dims (T.81 A.2.2 —
        // ceil of the component size, NOT the MCU-padded grid)
        val ci = scanComp(0)
        val compW = (w * compSampH(ci) + maxH - 1) / maxH
        val compH2 = (h * compSampV(ci) + maxV - 1) / maxV
        val wB = (compW + 7) / 8; val hB = (compH2 + 7) / 8
        var unit = 0
        var by = 0
        while (by < hB) {
          var bx = 0
          while (bx < wB) {
            maybeRestart(unit)
            decodeUnit(0, ci, (by * blocksW(ci) + bx) * 64)
            unit += 1
            bx += 1
          }
          by += 1
        }
      }
      rd.pos
    }

    var done = false
    while (!done) {
      require(pos + 2 <= bytes.length, "truncated before EOI")
      require((bytes(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val m = bytes(pos + 1) & 0xff
      if (m == 0xd9) { done = true; pos += 2 } // EOI
      else {
        require(pos + 4 <= bytes.length, "truncated segment header")
        val len = be16(pos + 2)
        require(len >= 2 && pos + 2 + len <= bytes.length,
          f"segment 0xFF$m%02X overruns the file")
        val seg = pos + 4
        var nextPos = pos + 2 + len
        m match {
          case 0xdb => // DQT
            var o = seg
            while (o < pos + 2 + len) {
              val pq = (bytes(o) & 0xff) >> 4; val tq = bytes(o) & 0x0f
              require(pq == 0, "16-bit quantization tables unsupported")
              require(tq < 4, s"quantization table id $tq out of range (0..3)")
              require(o + 65 <= pos + 2 + len, "DQT overruns its segment")
              qt(tq) = Array.tabulate(64)(i => bytes(o + 1 + i) & 0xff)
              o += 65
            }
          case 0xc4 => // DHT
            var o = seg
            while (o < pos + 2 + len) {
              val tc = (bytes(o) & 0xff) >> 4; val th = bytes(o) & 0x0f
              require(tc < 2 && th < 4, s"DHT class $tc / id $th out of range")
              require(o + 17 <= pos + 2 + len, "DHT overruns its segment")
              val bits = new Array[Int](17)
              var total = 0
              for (l <- 1 to 16) { bits(l) = bytes(o + l) & 0xff; total += bits(l) }
              require(o + 17 + total <= pos + 2 + len, "DHT values overrun the segment")
              val vals = Array.tabulate(total)(i => bytes(o + 17 + i) & 0xff)
              val t = new HuffDecode(bits, vals)
              if (tc == 0) dcTbl(th) = t else acTbl(th) = t
              o += 17 + total
            }
          case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
            require(!sofSeen, "multiple SOF segments")
            progressive = m == 0xc2
            require((bytes(seg) & 0xff) == 8, "only 8-bit precision supported")
            h = be16(seg + 1); w = be16(seg + 3)
            ncomp = bytes(seg + 5) & 0xff
            require(ncomp == 1 || ncomp == 3, s"$ncomp components unsupported (1 or 3)")
            compId = new Array[Int](ncomp); compQ = new Array[Int](ncomp)
            compSampH = new Array[Int](ncomp); compSampV = new Array[Int](ncomp)
            dcPred = new Array[Int](ncomp)
            for (i <- 0 until ncomp) {
              compId(i) = bytes(seg + 6 + 3 * i) & 0xff
              val hv = bytes(seg + 7 + 3 * i) & 0xff
              val sh = hv >> 4; val sv = hv & 0x0f
              // 1x1 and 2x-factor layouts cover 4:4:4 / 4:2:2 / 4:4:0 /
              // 4:2:0 — everything a camera/web JPEG ships; 3x and 4x
              // factors (legal but unseen in practice) fail closed
              require(sh >= 1 && sh <= 2 && sv >= 1 && sv <= 2,
                f"sampling factor ${sh}x$sv unsupported (1 or 2 per axis)")
              if (ncomp == 1)
                require(hv == 0x11, "grayscale must be 1x1 sampled")
              compSampH(i) = sh; compSampV(i) = sv
              compQ(i) = bytes(seg + 8 + 3 * i) & 0xff
              require(compQ(i) < 4, s"quantization table id ${compQ(i)} out of range (0..3)")
            }
            maxH = compSampH.max; maxV = compSampV.max
            mcusX = (w + 8 * maxH - 1) / (8 * maxH)
            mcusY = (h + 8 * maxV - 1) / (8 * maxV)
            blocksW = Array.tabulate(ncomp)(i => mcusX * compSampH(i))
            blocksH = Array.tabulate(ncomp)(i => mcusY * compSampV(i))
            coefs = Array.tabulate(ncomp)(i => new Array[Int](blocksW(i) * blocksH(i) * 64))
            sofSeen = true
          case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            throw new IllegalArgumentException(
              f"SOF 0xFF$m%02X unsupported (baseline SOF0 and progressive SOF2)")
          case 0xdd => restartInterval = be16(seg)
          case 0xda => // SOS
            require(sofSeen, "SOS before SOF")
            nextPos = decodeScan(seg, pos + 2 + len)
            scanSeen = true
          case _ => // APPn, COM, others: skip
        }
        pos = nextPos
      }
    }
    require(sofSeen && w > 0 && h > 0, "no SOF frame before EOI")
    // fail closed on a scan-less file (e.g. a download truncated after the
    // headers then re-terminated): without this, every coefficient stays 0
    // and the image silently decodes to flat mid-gray
    require(scanSeen, "no SOS scan before EOI")

    // ---- shared reconstruction: dequantize + IDCT + clamp per plane,
    // then box-upsample to full-resolution channel-interleaved output ----
    val planeW = Array.tabulate(ncomp)(i => blocksW(i) * 8)
    val planes = Array.tabulate(ncomp)(i => new Array[Byte](blocksW(i) * blocksH(i) * 64))
    val pix = Array.ofDim[Double](8, 8)
    var ci = 0
    while (ci < ncomp) {
      val q = qt(compQ(ci))
      require(q != null, s"missing quant table ${compQ(ci)}")
      val c = coefs(ci)
      val pw = planeW(ci)
      var by = 0
      while (by < blocksH(ci)) {
        var bx = 0
        while (bx < blocksW(ci)) {
          val off = (by * blocksW(ci) + bx) * 64
          // IDCT (direct separable double sum; DC-only blocks stay exact)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              var sum = 0.0
              var v = 0
              while (v < 8) {
                var u = 0
                while (u < 8) {
                  val f = c(off + v * 8 + u) * q(NatToZig(v * 8 + u))
                  if (f != 0) {
                    val cu = if (u == 0) C0 else 1.0
                    val cv = if (v == 0) C0 else 1.0
                    sum += cu * cv * f.toDouble * cosT(x)(u) * cosT(y)(v)
                  }
                  u += 1
                }
                v += 1
              }
              pix(y)(x) = sum * 0.25
              x += 1
            }
            y += 1
          }
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val p = Math.round(pix(yy)(xx) + 128.0).toInt
              planes(ci)((by * 8 + yy) * pw + bx * 8 + xx) =
                math.max(0, math.min(255, p)).toByte
              xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    val out = new Array[Byte](w * h * ncomp)
    ci = 0
    while (ci < ncomp) {
      val pw = planeW(ci)
      val sh = compSampH(ci); val sv = compSampV(ci)
      var r = 0
      while (r < h) {
        val pr = r * sv / maxV
        var c = 0
        while (c < w) {
          out((r * w + c) * ncomp + ci) = planes(ci)(pr * pw + c * sh / maxH)
          c += 1
        }
        r += 1
      }
      ci += 1
    }
    (w, h, ncomp, out)
  }

  // ---- encode (tests/oracles — the synthPng pattern) ----

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >> i) & 1); cnt += 1
        if (cnt == 8) {
          out.write(buf)
          if (buf == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (cnt > 0) { // pad with 1s (spec convention)
      buf = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
      out.write(buf)
      if (buf == 0xff) out.write(0x00)
      buf = 0; cnt = 0
    }
  }

  private def category(v: Int): Int = {
    var s = 0; var a = math.abs(v)
    while (a > 0) { a >>= 1; s += 1 }
    s
  }

  /** Build a baseline JPEG from QUANTIZED coefficients (natural order,
    * 64 per block) via `coefOf(comp, blockRow, blockCol)` — block indices
    * are in the COMPONENT's own plane (padded to whole MCUs). Standard
    * Annex K Huffman tables; `quant` are the 8-bit quantization tables
    * in zigzag order (table 0 for component 0, table 1 for 1/2).
    * `restartInterval` > 0 emits DRI + RSTn markers (counted in MCUs).
    * `sampling` gives per-component (h, v) factors (empty = all 1×1);
    * blocks are MCU-interleaved per T.81 A.2.3.
    */
  // ---- EXIF orientation (APP1 "Exif\0\0" → TIFF IFD0, tag 274) ----

  /** The camera orientation from the JPEG's Exif segment: 1..8 per the
    * EXIF spec (1 = upright; 2/4 mirror, 3 = 180°, 5/7 transpose,
    * 6/8 = 90°/270°), 1 when there is no Exif segment or no orientation
    * tag — the documented decision for the web-scrape reality: absent
    * metadata means upright, but a PRESENT-and-malformed Exif TIFF or an
    * out-of-range value rejects loudly (a silently-dropped rotation
    * re-keys every pixel of a portrait photo).
    */
  def exifOrientation(bytes: Array[Byte]): Int = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "not a JPEG (missing SOI)")
    def be16(o: Int) = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    var pos = 2
    while (pos + 2 <= bytes.length) {
      require((bytes(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val m = bytes(pos + 1) & 0xff
      // Exif must precede the scan; stop at SOS/EOI
      if (m == 0xd9 || m == 0xda) return 1
      require(pos + 4 <= bytes.length, "truncated segment header")
      val len = be16(pos + 2)
      require(len >= 2 && pos + 2 + len <= bytes.length,
        f"segment 0xFF$m%02X overruns the file")
      if (m == 0xe1 && len >= 10 &&
          new String(bytes, pos + 4, 4, "US-ASCII") == "Exif" &&
          bytes(pos + 8) == 0 && bytes(pos + 9) == 0) {
        val body = java.util.Arrays.copyOfRange(bytes, pos + 10, pos + 2 + len)
        val o = Tiff.ifdScalarStrict(body, 274).map(_.toInt).getOrElse(1)
        require(o >= 1 && o <= 8, s"EXIF orientation $o out of range (1..8)")
        return o
      }
      pos += 2 + len
    }
    1
  }

  /** Remap channel-interleaved pixels to the upright frame for an EXIF
    * orientation: returns (upright width, upright height, pixels).
    * Orientations 5..8 swap the axes. Pure index algebra — the decoded
    * samples are untouched.
    */
  def applyOrientation(w: Int, h: Int, ch: Int, px: Array[Byte],
      orientation: Int): (Int, Int, Array[Byte]) = {
    require(orientation >= 1 && orientation <= 8, s"bad orientation $orientation")
    if (orientation == 1) return (w, h, px)
    val swap = orientation >= 5
    val (ow, oh) = if (swap) (h, w) else (w, h)
    val out = new Array[Byte](px.length)
    var rp = 0
    while (rp < oh) {
      var cp = 0
      while (cp < ow) {
        // source (r, c) whose sample displays at upright (rp, cp)
        val (r, c) = orientation match {
          case 2 => (rp, w - 1 - cp)
          case 3 => (h - 1 - rp, w - 1 - cp)
          case 4 => (h - 1 - rp, cp)
          case 5 => (cp, rp)
          case 6 => (h - 1 - cp, rp)
          case 7 => (h - 1 - cp, w - 1 - rp)
          case _ => (cp, w - 1 - rp) // 8
        }
        var k = 0
        while (k < ch) {
          out((rp * ow + cp) * ch + k) = px((r * w + c) * ch + k)
          k += 1
        }
        cp += 1
      }
      rp += 1
    }
    (ow, oh, out)
  }

  /** Split a full JPEG stream into (tables, abbreviated) per TIFF Tech
    * Note 2: tables = SOI + every DQT/DHT segment + EOI (the JPEGTables
    * tag's datastream); abbreviated = SOI + every other segment through
    * EOI (what a compression-7 strip stores). Marker-space walk only —
    * entropy data is reachable solely through SOS, which never moves to
    * the tables stream, so the remainder from the first SOS copies whole.
    */
  def splitTables(bytes: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "not a JPEG (missing SOI)")
    val tables = new java.io.ByteArrayOutputStream()
    val rest = new java.io.ByteArrayOutputStream()
    for (o <- Seq(tables, rest)) { o.write(0xff); o.write(0xd8) }
    var pos = 2
    var done = false
    while (!done) {
      require(pos + 2 <= bytes.length, "truncated JPEG while splitting tables")
      require((bytes(pos) & 0xff) == 0xff,
        f"expected a marker at $pos, got 0x${bytes(pos) & 0xff}%02x")
      // T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a marker
      // code — without the skip, FF FF DB would read DQT's first length
      // byte as the marker and a garbage length after it
      while (pos + 1 < bytes.length && (bytes(pos + 1) & 0xff) == 0xff) pos += 1
      require(pos + 2 <= bytes.length, "truncated JPEG while splitting tables")
      val m = bytes(pos + 1) & 0xff
      if (m == 0xd9 || m == 0xda) { // EOI, or SOS + entropy + trailer
        rest.write(bytes, pos, bytes.length - pos)
        done = true
      } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        // standalone markers (TEM / RSTn) carry no length field and are
        // illegal in pre-SOS marker space — reject rather than read a
        // bogus length out of whatever follows
        throw new IllegalArgumentException(
          f"standalone marker 0x$m%02x before SOS while splitting tables")
      } else {
        require(pos + 4 <= bytes.length, "truncated segment header")
        val len = ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
        require(pos + 2 + len <= bytes.length, "segment past EOF")
        val dst = if (m == 0xdb || m == 0xc4) tables else rest // DQT/DHT
        dst.write(bytes, pos, 2 + len)
        pos += 2 + len
      }
    }
    tables.write(0xff); tables.write(0xd9)
    (tables.toByteArray, rest.toByteArray)
  }

  /** [[jpegToPixels]] in the UPRIGHT frame: the Exif orientation (tag
    * 274) is applied to the emitted coordinates and surfaced as an
    * `orientation` column — what a training pipeline actually wants from
    * a web-scraped corpus, where ~all portrait photos carry 6 or 8.
    */
  def jpegToPixelsUpright(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol,
      StructField("orientation", IntegerType, nullable = false) +:
        MultimodalOps.PixelFields) { payload =>
      val o = exifOrientation(payload)
      val (w0, h0, ch, px0) = decodeJpegPixels(payload)
      val (w, h, px) = applyOrientation(w0, h0, ch, px0, o)
      for (row <- (0 until h).iterator; c <- 0 until w; k <- 0 until ch)
        yield Seq[Any](o, row, c, k, px((row * w + c) * ch + k) & 0xff)
    }

  /** Minimal valid APP1 Exif segment carrying only orientation: the
    * "Exif\0\0" preamble + a little-endian TIFF header + a one-entry
    * IFD0 (tag 274, SHORT).
    */
  private def exifApp1(orientation: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 2 + 6 + 26)
    b.put(0xff.toByte).put(0xe1.toByte)
    b.putShort((2 + 6 + 26).toShort) // segment length (excl. the marker)
    b.put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8) // TIFF header
    b.putShort(1) // one IFD entry
    b.putShort(274).putShort(3).putInt(1).putShort(orientation.toShort).putShort(0)
    b.putInt(0) // next-IFD terminator
    b.array()
  }

  def synthJpeg(
      width: Int, height: Int, components: Int,
      quant: Seq[Array[Int]],
      restartInterval: Int = 0,
      sampling: Seq[(Int, Int)] = Nil,
      exifOrientation: Int = 0)(coefOf: (Int, Int, Int) => Array[Int]): Array[Byte] = {
    require(components == 1 || components == 3, "1 or 3 components")
    require(quant.nonEmpty && quant.forall(_.length == 64), "need 64-entry zigzag quant tables")
    val samp = if (sampling.isEmpty) Seq.fill(components)((1, 1)) else sampling
    require(samp.length == components, "one (h,v) sampling pair per component")
    require(samp.forall { case (sh, sv) => sh >= 1 && sh <= 2 && sv >= 1 && sv <= 2 },
      "sampling factors must be 1 or 2")
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    marker(0xd8) // SOI
    if (exifOrientation != 0) {
      require(exifOrientation >= 1 && exifOrientation <= 8,
        s"bad EXIF orientation $exifOrientation")
      out.write(exifApp1(exifOrientation), 0, 2 + 2 + 6 + 26)
    }
    // DQT
    for ((q, ti) <- quant.zipWithIndex) {
      marker(0xdb); be16(2 + 65)
      out.write(ti)
      q.foreach(out.write)
    }
    // DHT: 4 standard tables
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); be16(2 + 1 + 16 + vals.length)
      out.write((tc << 4) | th)
      for (l <- 1 to 16) out.write(bits(l))
      vals.foreach(out.write)
    }
    dht(0, 0, StdDcLumBits, StdDcLumVals)
    dht(1, 0, StdAcLumBits, StdAcLumVals)
    if (components == 3) {
      dht(0, 1, StdDcChrBits, StdDcChrVals)
      dht(1, 1, StdAcChrBits, StdAcChrVals)
    }
    if (restartInterval > 0) { marker(0xdd); be16(4); be16(restartInterval) }
    // SOF0
    marker(0xc0); be16(8 + 3 * components)
    out.write(8); be16(height); be16(width); out.write(components)
    for (c <- 0 until components) {
      out.write(c + 1)
      out.write((samp(c)._1 << 4) | samp(c)._2)
      out.write(math.min(c, quant.length - 1))
    }
    // SOS
    marker(0xda); be16(6 + 2 * components)
    out.write(components)
    for (c <- 0 until components) {
      val t = if (c == 0) 0 else 1
      out.write(c + 1); out.write((t << 4) | t)
    }
    out.write(0); out.write(63); out.write(0)
    // entropy data
    val dcEnc = Array(new HuffEncode(StdDcLumBits, StdDcLumVals),
      new HuffEncode(StdDcChrBits, StdDcChrVals))
    val acEnc = Array(new HuffEncode(StdAcLumBits, StdAcLumVals),
      new HuffEncode(StdAcChrBits, StdAcChrVals))
    val maxH = samp.map(_._1).max; val maxV = samp.map(_._2).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    var wtr = new BitWriter(out)
    val dcPred = new Array[Int](components)
    var mcu = 0
    var rstIdx = 0
    for (my <- 0 until mcusY; mx <- 0 until mcusX) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        wtr.flush()
        marker(0xd0 + (rstIdx % 8)); rstIdx += 1
        wtr = new BitWriter(out)
        java.util.Arrays.fill(dcPred, 0)
      }
      for {
        c <- 0 until components
        bv <- 0 until samp(c)._2
        bh2 <- 0 until samp(c)._1
      } {
        val ti = if (c == 0) 0 else 1
        val nat = coefOf(c, my * samp(c)._2 + bv, mx * samp(c)._1 + bh2)
        require(nat.length == 64, "coefOf must return 64 naturals")
        val zz = Array.tabulate(64)(i => nat(Zigzag(i)))
        // DC
        val diff = zz(0) - dcPred(c); dcPred(c) = zz(0)
        val s = category(diff)
        val (dc, dl) = dcEnc(ti).codeOf.get(s)
        wtr.put(dc, dl)
        if (s > 0) wtr.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        // AC
        var k = 1
        while (k < 64) {
          var run = 0
          while (k < 64 && zz(k) == 0) { k += 1; run += 1 }
          if (k == 64) {
            val (c0, l0) = acEnc(ti).codeOf.get(0x00) // EOB
            wtr.put(c0, l0)
          } else {
            while (run >= 16) {
              val (cz, lz) = acEnc(ti).codeOf.get(0xf0) // ZRL
              wtr.put(cz, lz); run -= 16
            }
            val sz = category(zz(k))
            val (ca, la) = acEnc(ti).codeOf.get((run << 4) | sz)
            wtr.put(ca, la)
            wtr.put(if (zz(k) < 0) zz(k) + (1 << sz) - 1 else zz(k), sz)
            k += 1
          }
        }
      }
      mcu += 1
    }
    wtr.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** One progressive scan's script entry: which components (indices into
    * 0 until `components`), the spectral band [ss, se], and the
    * successive-approximation pair (ah, al). DC scans have ss = se = 0
    * and may interleave several components; AC scans are one component.
    */
  final case class ScanSpec(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int)

  /** Build a PROGRESSIVE (SOF2) JPEG from the same quantized-coefficient
    * contract as [[synthJpeg]], coded by the given scan script — the
    * encode half needed to test the progressive decode path (spectral
    * selection, DC/AC successive approximation with correction bits, EOB
    * runs, per-scan restart markers; T.81 Annex G). The coefficient
    * function gives FINAL values; each scan transmits its band at its
    * precision, so decoding all scans reconstructs them exactly and the
    * pixels must equal the baseline encoding's (JpegSpec asserts this).
    */
  def synthJpegProgressive(
      width: Int, height: Int, components: Int,
      quant: Seq[Array[Int]],
      scans: Seq[ScanSpec],
      restartInterval: Int = 0,
      sampling: Seq[(Int, Int)] = Nil)(coefOf: (Int, Int, Int) => Array[Int]): Array[Byte] = {
    require(components == 1 || components == 3, "1 or 3 components")
    require(quant.nonEmpty && quant.forall(_.length == 64), "need 64-entry zigzag quant tables")
    val samp = if (sampling.isEmpty) Seq.fill(components)((1, 1)) else sampling
    require(samp.length == components, "one (h,v) sampling pair per component")
    val maxH = samp.map(_._1).max; val maxV = samp.map(_._2).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    // materialize every (MCU-padded) block's final coefficients up front
    val blocksW = Array.tabulate(components)(i => mcusX * samp(i)._1)
    val blocksH = Array.tabulate(components)(i => mcusY * samp(i)._2)
    val blocks = Array.tabulate(components) { ci =>
      Array.tabulate(blocksH(ci), blocksW(ci)) { (by, bx) =>
        val nat = coefOf(ci, by, bx)
        require(nat.length == 64, "coefOf must return 64 naturals")
        nat
      }
    }

    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    marker(0xd8) // SOI
    for ((q, ti) <- quant.zipWithIndex) {
      marker(0xdb); be16(2 + 65); out.write(ti); q.foreach(out.write)
    }
    def dht(tc: Int, th: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); be16(2 + 1 + 16 + vals.length)
      out.write((tc << 4) | th)
      for (l <- 1 to 16) out.write(bits(l))
      vals.foreach(out.write)
    }
    dht(0, 0, StdDcLumBits, StdDcLumVals)
    dht(1, 0, ProgAcBits, ProgAcVals)
    if (components == 3) {
      dht(0, 1, StdDcChrBits, StdDcChrVals)
      dht(1, 1, ProgAcBits, ProgAcVals)
    }
    if (restartInterval > 0) { marker(0xdd); be16(4); be16(restartInterval) }
    marker(0xc2) // SOF2 progressive
    be16(8 + 3 * components)
    out.write(8); be16(height); be16(width); out.write(components)
    for (c <- 0 until components) {
      out.write(c + 1)
      out.write((samp(c)._1 << 4) | samp(c)._2)
      out.write(math.min(c, quant.length - 1))
    }
    val dcEnc = Array(new HuffEncode(StdDcLumBits, StdDcLumVals),
      new HuffEncode(StdDcChrBits, StdDcChrVals))
    val acEnc = Array(new HuffEncode(ProgAcBits, ProgAcVals),
      new HuffEncode(ProgAcBits, ProgAcVals))

    for (scan <- scans) {
      val ScanSpec(comps, ss, se, ah, al) = scan
      require(comps.nonEmpty && comps.forall(c => c >= 0 && c < components),
        s"bad scan components $comps")
      if (ss == 0) require(se == 0, "DC scan must have se=0")
      else require(comps.length == 1 && se >= ss && se <= 63, "AC scans are single-component")
      marker(0xda); be16(6 + 2 * comps.length)
      out.write(comps.length)
      for (c <- comps) {
        val ti = if (c == 0) 0 else 1
        out.write(c + 1); out.write((ti << 4) | ti)
      }
      out.write(ss); out.write(se); out.write((ah << 4) | al)

      var wtr = new BitWriter(out)
      val dcPred = new Array[Int](components)
      var eobrun = 0
      val pending = scala.collection.mutable.ArrayBuffer.empty[Int] // correction bits riding the EOB run
      def emitSym(ti: Int, sym: Int, ac: Boolean): Unit = {
        val (code, len) = (if (ac) acEnc(ti) else dcEnc(ti)).codeOf.get(sym)
        wtr.put(code, len)
      }
      def flushEob(ti: Int): Unit = if (eobrun > 0) {
        var n = 0
        while ((eobrun >> n) > 1) n += 1
        emitSym(ti, n << 4, ac = true)
        if (n > 0) wtr.put(eobrun & ((1 << n) - 1), n)
        eobrun = 0
        pending.foreach(b => wtr.put(b, 1))
        pending.clear()
      }
      def pointT(v: Int): Int = if (v >= 0) v >> al else -((-v) >> al)

      def encodeDcFirst(ci: Int, nat: Array[Int]): Unit = {
        val ti = if (ci == 0) 0 else 1
        val v = nat(0) >> al // arithmetic shift (T.81 DC point transform)
        val diff = v - dcPred(ci); dcPred(ci) = v
        val s = category(diff)
        emitSym(ti, s, ac = false)
        if (s > 0) wtr.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      }
      def encodeDcRefine(nat: Array[Int]): Unit =
        wtr.put((nat(0) >> al) & 1, 1)
      def encodeAcFirst(ci: Int, nat: Array[Int]): Unit = {
        val ti = if (ci == 0) 0 else 1
        var lastNz = se
        while (lastNz >= ss && pointT(nat(Zigzag(lastNz))) == 0) lastNz -= 1
        if (lastNz < ss) {
          eobrun += 1
          if (eobrun == 0x7fff) flushEob(ti)
          return
        }
        flushEob(ti)
        var r = 0
        var k = ss
        while (k <= lastNz) {
          val v = pointT(nat(Zigzag(k)))
          if (v == 0) r += 1
          else {
            while (r > 15) { emitSym(ti, 0xf0, ac = true); r -= 16 }
            val s = category(v)
            emitSym(ti, (r << 4) | s, ac = true)
            wtr.put(if (v < 0) v + (1 << s) - 1 else v, s)
            r = 0
          }
          k += 1
        }
        if (lastNz < se) {
          eobrun += 1
          if (eobrun == 0x7fff) flushEob(ti)
        }
      }
      // Annex G refinement: newly-significant coefficients code (run, 1)
      // + sign; already-significant ones ride as buffered correction bits
      // emitted after the next symbol (or with the EOB run).
      def encodeAcRefine(ci: Int, nat: Array[Int]): Unit = {
        val ti = if (ci == 0) 0 else 1
        val av = Array.tabulate(se + 1)(k => if (k < ss) 0 else math.abs(pointT(nat(Zigzag(k)))))
        var eobPos = ss - 1
        for (k <- ss to se) if (av(k) == 1) eobPos = k
        var r = 0
        val br = scala.collection.mutable.ArrayBuffer.empty[Int]
        var k = ss
        while (k <= se) {
          val t = av(k)
          if (t == 0) r += 1
          else {
            while (r > 15 && k <= eobPos) {
              flushEob(ti)
              emitSym(ti, 0xf0, ac = true)
              r -= 16
              br.foreach(b => wtr.put(b, 1)); br.clear()
            }
            if (t > 1) br += (t & 1) // already significant: correction bit
            else {
              flushEob(ti)
              emitSym(ti, (r << 4) | 1, ac = true)
              wtr.put(if (nat(Zigzag(k)) < 0) 0 else 1, 1)
              br.foreach(b => wtr.put(b, 1)); br.clear()
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || br.nonEmpty) {
          eobrun += 1
          pending ++= br
          if (eobrun == 0x7fff || pending.length > 900) flushEob(ti)
        }
      }
      def encodeUnit(ci: Int, by: Int, bx: Int): Unit = {
        val nat = blocks(ci)(by)(bx)
        if (ss == 0) { if (ah == 0) encodeDcFirst(ci, nat) else encodeDcRefine(nat) }
        else { if (ah == 0) encodeAcFirst(ci, nat) else encodeAcRefine(ci, nat) }
      }

      var rstIdx = 0
      def restartBoundary(unit: Int): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          flushEob(if (comps.head == 0) 0 else 1)
          wtr.flush()
          marker(0xd0 + (rstIdx % 8)); rstIdx += 1
          wtr = new BitWriter(out)
          java.util.Arrays.fill(dcPred, 0)
        }

      if (comps.length > 1) {
        var mcu = 0
        for (my <- 0 until mcusY; mx <- 0 until mcusX) {
          restartBoundary(mcu)
          for {
            ci <- comps
            bv <- 0 until samp(ci)._2
            bh2 <- 0 until samp(ci)._1
          } encodeUnit(ci, my * samp(ci)._2 + bv, mx * samp(ci)._1 + bh2)
          mcu += 1
        }
      } else {
        val ci = comps.head
        val compW = (width * samp(ci)._1 + maxH - 1) / maxH
        val compH = (height * samp(ci)._2 + maxV - 1) / maxV
        val wB = (compW + 7) / 8; val hB = (compH + 7) / 8
        var unit = 0
        for (by <- 0 until hB; bx <- 0 until wB) {
          restartBoundary(unit)
          encodeUnit(ci, by, bx)
          unit += 1
        }
      }
      flushEob(if (comps.head == 0) 0 else 1)
      wtr.flush()
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** JPEG binary column → raw component pixel rows (pass-through columns
    * preserved; one row per (px_row, px_col, channel)). Generator shape
    * like pngToPixels/tiffToBlocks: flatMap, zero shuffle.
    */
  def jpegToPixels(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, MultimodalOps.PixelFields) { payload =>
      val (w, h, ch, px) = decodeJpegPixels(payload)
      for (row <- (0 until h).iterator; c <- 0 until w; k <- 0 until ch)
        yield Seq[Any](row, c, k, px((row * w + c) * ch + k) & 0xff)
    }
}
