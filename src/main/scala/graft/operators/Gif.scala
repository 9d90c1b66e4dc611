package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** GIF87a/89a codec from the public spec — the web-corpus image
  * container next to PNG/JPEG/TIFF/BMP, and the engine's first
  * MULTI-FRAME one (every animated GIF is a tiny video): logical screen
  * descriptor, global/local color tables, graphic-control transparency,
  * and the GIF variant of LZW (LSB-first bit packing inside ≤255-byte
  * sub-blocks, variable code width to 12 bits, clear/EOI codes — note
  * TIFF's LZW is MSB-first WITH early code-width change; the two
  * dialects share nothing but the dictionary idea).
  *
  * Scope (fail closed, the Tiff/Png/Jpeg doctrine): missing color
  * tables, palette-overflow indices, and truncated streams reject
  * loudly; interlaced frames DECODE since r10 (the 8/8/4/2 4-pass row
  * scatter, undone after the LZW stage — mm6c's Adam7 sibling). Frames
  * decode to their OWN rectangles as RGBA (transparent index → alpha 0)
  * with their GCE disposal method; [[composeFrames]] (r12) honors
  * disposal to emit full-canvas snapshots — what a renderer shows —
  * while `gifToFrames` keeps the raw per-frame payloads.
  *
  * Scale shape: one file decodes inside one task (`gifToFrames` is a
  * generator-shaped flatMap, zero shuffle); corpora parallelize by FILE.
  */
object Gif {

  /** One decoded frame: its rectangle within the logical screen and
    * row-major RGBA samples (4 ints per pixel).
    */
  final case class Frame(left: Int, top: Int, w: Int, h: Int, rgba: Array[Int],
      /** GCE delay in MILLISECONDS (stored centiseconds x 10); 0 when the
        * frame carries no graphic-control extension (r11 — the frame
        * timing a video-duration rollup reads).
        */
      delayMs: Int = 0,
      /** GCE disposal method (r12 — composition): 0/1 leave the canvas,
        * 2 restore the frame's rect to background (transparent), 3
        * restore the whole canvas to its pre-frame state.
        */
      disposal: Int = 0)

  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  // ---- GIF-dialect LZW ----

  /** Decode GIF LZW (already de-sub-blocked) to exactly `maxOut` index
    * bytes. LSB-first bit order; width grows when the dictionary reaches
    * 2^width (NO early change — the TIFF dialect's off-by-one twin).
    */
  private[graft] def lzwDecodeGif(data: Array[Byte], minCodeSize: Int,
      maxOut: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8, s"bad LZW min code size $minCodeSize")
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = eoi + 1 // next code value to assign
    var width = minCodeSize + 1
    val out = new Array[Byte](maxOut)
    var o = 0
    var bitPos = 0
    def readCode(): Int = {
      var v = 0
      var i = 0
      while (i < width) {
        val byteAt = bitPos >> 3
        require(byteAt < data.length, "GIF LZW stream ran out")
        v |= ((data(byteAt) >> (bitPos & 7)) & 1) << i
        bitPos += 1
        i += 1
      }
      v
    }
    def stringOf(code: Int): Array[Byte] = {
      var n = 1; var c = code
      while (c >= clear) { n += 1; c = prefix(c) }
      val s = new Array[Byte](n)
      var i = n - 1; c = code
      while (c >= clear) { s(i) = suffix(c); i -= 1; c = prefix(c) }
      s(0) = c.toByte
      s
    }
    var prev = -1
    while (o < maxOut) {
      val code = readCode()
      if (code == clear) {
        dictSize = eoi + 1
        width = minCodeSize + 1
        prev = -1
      } else if (code == eoi) {
        throw new IllegalArgumentException(
          s"GIF LZW EOI after $o of $maxOut pixels")
      } else if (prev < 0) {
        require(code < clear, s"first code after clear must be a root, got $code")
        require(o < maxOut, "GIF LZW output overruns the frame")
        out(o) = code.toByte; o += 1
        prev = code
      } else {
        require(code <= dictSize, s"LZW code $code beyond dictionary $dictSize")
        // code == dictSize is the KwKwK case: prev's string + its first byte
        val s =
          if (code < dictSize) stringOf(code)
          else { val p = stringOf(prev); p :+ p(0) }
        require(o + s.length <= maxOut, "GIF LZW output overruns the frame")
        System.arraycopy(s, 0, out, o, s.length)
        o += s.length
        if (dictSize < 4096) {
          prefix(dictSize) = prev
          suffix(dictSize) = s(0)
          dictSize += 1
          if (dictSize == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    // strict tail: the stream must close with EOI (fail closed on
    // truncation or trailing garbage masquerading as pixels); clear
    // codes may precede it (an empty frame is clear+EOI)
    var tail = readCode()
    while (tail == clear) { width = minCodeSize + 1; tail = readCode() }
    require(tail == eoi, "GIF LZW stream does not end with EOI")
    out
  }

  /** Encode index bytes as GIF LZW (LSB-first, dictionary growth to 12
    * bits with a clear-code reset at capacity) — the fixture writer.
    */
  private[graft] def lzwEncodeGif(in: Array[Byte], minCodeSize: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8, s"bad LZW min code size $minCodeSize")
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var accBits = 0
    var width = minCodeSize + 1
    def write(code: Int): Unit = {
      acc |= code.toLong << accBits
      accBits += width
      while (accBits >= 8) {
        out.write((acc & 0xff).toInt)
        acc >>= 8; accBits -= 8
      }
    }
    val dict = scala.collection.mutable.LongMap.empty[Int]
    var nextCode = eoi + 1
    def resetDict(): Unit = { dict.clear(); nextCode = eoi + 1 }
    write(clear)
    var omega = -1
    var i = 0
    while (i < in.length) {
      val k = in(i) & 0xff
      if (omega < 0) omega = k
      else {
        val key = (omega.toLong << 8) | k
        val hit = dict.getOrElse(key, -1)
        if (hit >= 0) omega = hit
        else {
          write(omega)
          if (nextCode < 4096) {
            dict.put(key, nextCode)
            nextCode += 1
            if (nextCode == (1 << width) + 1 && width < 12) width += 1
          } else { // dictionary full: clear and restart
            write(clear)
            width = minCodeSize + 1
            resetDict()
          }
          omega = k
        }
      }
      i += 1
    }
    if (omega >= 0) {
      write(omega)
      // the decoder adds one more dictionary entry after this final code
      // (possibly crossing a width boundary) — mirror its bump before the
      // EOI, or the tail desyncs exactly at power-of-two dictionary sizes
      if (nextCode == (1 << width) && width < 12) width += 1
    }
    write(eoi)
    if (accBits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  // ---- container walk ----

  /** Decode every frame of a GIF87a/89a payload: (screenW, screenH,
    * frames). Transparent pixels (89a graphic-control) get alpha 0.
    */
  def decodeGifFrames(bytes: Array[Byte]): (Int, Int, Seq[Frame]) = {
    require(bytes.length >= 13, "not a GIF (too short)")
    val sig = new String(bytes, 0, 6, "US-ASCII")
    require(sig == "GIF87a" || sig == "GIF89a", s"not a GIF (signature '$sig')")
    val screenW = u16le(bytes, 6)
    val screenH = u16le(bytes, 8)
    val lsdPacked = bytes(10) & 0xff
    var pos = 13
    def colorTable(sizeBits: Int): Array[Byte] = {
      val n = 3 * (1 << (sizeBits + 1))
      require(pos + n <= bytes.length, "color table overruns the file")
      val t = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n
      t
    }
    val globalTable =
      if ((lsdPacked & 0x80) != 0) colorTable(lsdPacked & 0x07) else null
    var transparentIdx = -1
    var delayCs = 0
    var disposal = 0
    val frames = scala.collection.mutable.ArrayBuffer.empty[Frame]
    var done = false
    while (!done) {
      require(pos < bytes.length, "truncated before trailer")
      (bytes(pos) & 0xff) match {
        case 0x3b => done = true // trailer
        case 0x21 => // extension: label + sub-blocks
          require(pos + 2 <= bytes.length, "truncated extension")
          val label = bytes(pos + 1) & 0xff
          pos += 2
          if (label == 0xf9) { // graphic control
            // 6 bytes follow: size, packed, 2×delay, transparent index,
            // terminator — a file truncated inside the GCE body must fail
            // closed, not throw ArrayIndexOutOfBoundsException
            require(pos + 6 <= bytes.length, "truncated graphic control extension")
            require((bytes(pos) & 0xff) == 4, "bad GCE block size")
            val packed = bytes(pos + 1) & 0xff
            transparentIdx = if ((packed & 1) != 0) bytes(pos + 4) & 0xff else -1
            delayCs = u16le(bytes, pos + 2) // centiseconds, LE
            disposal = (packed >> 2) & 7 // r12: 0/1 none, 2 bg, 3 previous
            pos += 5
            require((bytes(pos) & 0xff) == 0, "GCE missing terminator")
            pos += 1
          } else { // skip any other extension's sub-blocks
            require(pos < bytes.length, "truncated after extension label")
            var n = bytes(pos) & 0xff
            while (n != 0) {
              pos += 1 + n
              require(pos < bytes.length, "extension overruns the file")
              n = bytes(pos) & 0xff
            }
            pos += 1
          }
        case 0x2c => // image descriptor
          require(pos + 10 <= bytes.length, "truncated image descriptor")
          val left = u16le(bytes, pos + 1)
          val top = u16le(bytes, pos + 3)
          val w = u16le(bytes, pos + 5)
          val h = u16le(bytes, pos + 7)
          val packed = bytes(pos + 9) & 0xff
          pos += 10
          val interlaced = (packed & 0x40) != 0
          val table =
            if ((packed & 0x80) != 0) colorTable(packed & 0x07) else globalTable
          require(table != null, "frame has neither local nor global color table")
          // geometry must be bounded BEFORE it sizes the pixel buffer
          // (65535 x 65535 would overflow w*h into a negative allocation)
          require(w > 0 && h > 0 && w.toLong * h <= (1L << 24),
            s"implausible GIF frame geometry ${w}x$h")
          require(pos < bytes.length, "truncated before LZW data")
          val minCodeSize = bytes(pos) & 0xff
          pos += 1
          // concatenate the ≤255-byte data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          require(pos < bytes.length, "truncated before image data")
          var n = bytes(pos) & 0xff
          while (n != 0) {
            require(pos + 1 + n <= bytes.length, "image data overruns the file")
            data.write(bytes, pos + 1, n)
            pos += 1 + n
            require(pos < bytes.length, "image data overruns the file")
            n = bytes(pos) & 0xff
          }
          pos += 1
          val seqIdx = lzwDecodeGif(data.toByteArray, minCodeSize, w * h)
          // interlaced frames store rows in 4-pass order (8/8/4/2-row
          // strides — the GIF87a scatter, same family as PNG's Adam7):
          // stored row s is DISPLAY row interlaceOrder(h)(s)
          val idx = if (!interlaced) seqIdx else {
            val order = interlaceOrder(h)
            val out = new Array[Byte](w * h)
            var s = 0
            while (s < h) {
              System.arraycopy(seqIdx, s * w, out, order(s) * w, w)
              s += 1
            }
            out
          }
          val entries = table.length / 3
          val rgba = new Array[Int](w * h * 4)
          var i = 0
          while (i < w * h) {
            val e = idx(i) & 0xff
            require(e < entries, s"palette index $e outside the $entries-entry table")
            rgba(i * 4) = table(e * 3) & 0xff
            rgba(i * 4 + 1) = table(e * 3 + 1) & 0xff
            rgba(i * 4 + 2) = table(e * 3 + 2) & 0xff
            rgba(i * 4 + 3) = if (e == transparentIdx) 0 else 255
            i += 1
          }
          frames += Frame(left, top, w, h, rgba, delayCs * 10, disposal)
          // GCE applies to the next image only
          transparentIdx = -1; delayCs = 0; disposal = 0
        case other =>
          throw new IllegalArgumentException(f"unknown GIF block 0x$other%02X")
      }
    }
    (screenW, screenH, frames.toSeq)
  }

  // ---- synth writer (the encode half, for tests/oracles) ----

  /** GIF 4-pass interlace: display rows in stored order (pass 1 rows
    * 0,8,16…, pass 2 rows 4,12…, pass 3 rows 2,6,10…, pass 4 odd rows).
    */
  private[operators] def interlaceOrder(h: Int): Array[Int] = {
    val starts = Array(0, 4, 2, 1); val steps = Array(8, 8, 4, 2)
    val out = new Array[Int](h); var k = 0
    var p = 0
    while (p < 4) {
      var r = starts(p)
      while (r < h) { out(k) = r; k += 1; r += steps(p) }
      p += 1
    }
    out
  }

  /** One frame's inputs: rectangle, optional local palette, optional
    * transparent index (emits an 89a graphic-control extension),
    * interlace flag (rows stored in the 4-pass scatter order), and the
    * per-pixel palette index function.
    */
  final case class FrameSpec(left: Int, top: Int, w: Int, h: Int,
      localPalette: Option[Seq[(Int, Int, Int)]] = None,
      transparentIdx: Option[Int] = None,
      interlaced: Boolean = false,
      /** GCE delay in centiseconds (the stored unit); emits a GCE when
        * nonzero even without transparency. */
      delayCs: Int = 0,
      /** GCE disposal method (0 none, 2 restore-to-background, 3
        * restore-to-previous); emits a GCE when nonzero (r12).
        */
      disposal: Int = 0)(val idxOf: (Int, Int) => Int)

  def synthGif(screenW: Int, screenH: Int,
      globalPalette: Seq[(Int, Int, Int)],
      frames: Seq[FrameSpec]): Array[Byte] = {
    def tableBits(n: Int): Int = {
      require(n >= 2 && n <= 256, s"palette size $n out of range")
      var b = 0
      while ((1 << (b + 1)) < n) b += 1
      b // table holds 2^(b+1) entries
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(screenW); le16(screenH)
    val gBits = tableBits(globalPalette.length)
    out.write(0x80 | gBits) // global table present
    out.write(0); out.write(0) // bg index, aspect
    def writeTable(p: Seq[(Int, Int, Int)], bits: Int): Unit = {
      p.foreach { case (r, g, b) => out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff) }
      for (_ <- p.length until (1 << (bits + 1))) { out.write(0); out.write(0); out.write(0) }
    }
    writeTable(globalPalette, gBits)
    for (f <- frames) {
      if (f.transparentIdx.isDefined || f.delayCs != 0 || f.disposal != 0) {
        require(f.delayCs >= 0 && f.delayCs <= 0xffff, s"delay ${f.delayCs}cs")
        require(f.disposal >= 0 && f.disposal <= 3, s"disposal ${f.disposal}")
        out.write(0x21); out.write(0xf9); out.write(4)
        // packed: disposal in bits 2-4, transparency flag in bit 0
        out.write(((f.disposal & 7) << 2) |
          (if (f.transparentIdx.isDefined) 1 else 0))
        out.write(f.delayCs & 0xff); out.write((f.delayCs >> 8) & 0xff)
        out.write(f.transparentIdx.getOrElse(0))
        out.write(0) // terminator
      }
      out.write(0x2c)
      le16(f.left); le16(f.top); le16(f.w); le16(f.h)
      val palette = f.localPalette.getOrElse(globalPalette)
      val iFlag = if (f.interlaced) 0x40 else 0
      f.localPalette match {
        case Some(p) =>
          val b = tableBits(p.length)
          out.write(0x80 | iFlag | b)
          writeTable(p, b)
        case None => out.write(iFlag)
      }
      // stored row s carries display row rows(s) (identity when not
      // interlaced; the 4-pass scatter when it is)
      val rows = if (f.interlaced) interlaceOrder(f.h) else Array.range(0, f.h)
      val idx = new Array[Byte](f.w * f.h)
      for (s <- 0 until f.h; c <- 0 until f.w) {
        val i = f.idxOf(rows(s), c)
        require(i >= 0 && i < palette.length, s"index $i outside the palette")
        idx(s * f.w + c) = i.toByte
      }
      val minCodeSize = math.max(2, tableBits(palette.length) + 1)
      out.write(minCodeSize)
      val lzw = lzwEncodeGif(idx, minCodeSize)
      var o = 0
      while (o < lzw.length) {
        val n = math.min(255, lzw.length - o)
        out.write(n)
        out.write(lzw, o, n)
        o += n
      }
      out.write(0) // data terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** GIF binary column → per-frame RGBA pixel rows (pass-through columns
    * preserved): one row per (frame_idx, px_row, px_col, channel) in
    * frame-local coordinates, with the frame's screen offset carried as
    * columns — the video-modality frame explosion with a REAL codec
    * (flatMap, zero shuffle).
    */
  def gifToFrames(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_left", IntegerType, nullable = false),
      StructField("frame_top", IntegerType, nullable = false),
      StructField("duration_ms", IntegerType, nullable = false)) ++
        MultimodalOps.PixelFields) { payload =>
      val (_, _, frames) = decodeGifFrames(payload)
      for {
        (f, fi) <- frames.iterator.zipWithIndex
        row <- 0 until f.h
        c <- 0 until f.w
        k <- 0 until 4
      } yield Seq[Any](fi, f.left, f.top, f.delayMs, row, c, k,
        f.rgba((row * f.w + c) * 4 + k))
    }

  /** Decoded GIF frames → full-canvas composed snapshots (r12): GIF
    * painting is binary-alpha blending (transparent-index pixels leave
    * the canvas), disposal 2 clears the frame's rect, disposal 3
    * restores the pre-frame canvas — the shared [[Canvas]] kernel.
    * Result: one full-screen RGBA frame per input frame (per-channel
    * ints, the [[Frame]] layout), delays preserved.
    */
  def composeFrames(screenW: Int, screenH: Int,
      frames: Seq[Frame]): Seq[Frame] = {
    val layers = frames.map { f =>
      // the decoder stores the raw 3-bit GCE field; 4-7 are undefined
      // by the spec (4 is a known off-by-one for 'restore previous' in
      // buggy encoders) — composing them as 'none' would silently keep
      // pixels a conforming renderer restores, so reject (fail closed;
      // r12 self-review)
      require(f.disposal >= 0 && f.disposal <= 3,
        s"undefined GIF disposal method ${f.disposal} (spec defines 0-3)")
      val packed = new Array[Int](f.w * f.h)
      var i = 0
      while (i < packed.length) {
        packed(i) = (f.rgba(i * 4 + 3) << 24) | (f.rgba(i * 4) << 16) |
          (f.rgba(i * 4 + 1) << 8) | f.rgba(i * 4 + 2)
        i += 1
      }
      Canvas.Layer(f.left, f.top, f.w, f.h, packed, blend = true,
        disposeBg = f.disposal == 2, restorePrev = f.disposal == 3)
    }
    Canvas.compose(screenW, screenH, layers).zip(frames).map { case (px, f) =>
      val rgba = new Array[Int](px.length * 4)
      var i = 0
      while (i < px.length) {
        rgba(i * 4) = (px(i) >> 16) & 0xff
        rgba(i * 4 + 1) = (px(i) >> 8) & 0xff
        rgba(i * 4 + 2) = px(i) & 0xff
        rgba(i * 4 + 3) = px(i) >>> 24
        i += 1
      }
      Frame(0, 0, screenW, screenH, rgba, f.delayMs, 0)
    }
  }

  /** GIF binary column → per-frame COMPOSED full-canvas RGBA pixel rows
    * ([[gifToFrames]]' sibling; same one-file-one-task generator shape,
    * zero shuffle).
    */
  def gifToComposedFrames(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("duration_ms", IntegerType, nullable = false)) ++
        MultimodalOps.PixelFields) { payload =>
      val (sw, sh, frames) = decodeGifFrames(payload)
      for {
        (f, fi) <- composeFrames(sw, sh, frames).iterator.zipWithIndex
        row <- 0 until f.h
        c <- 0 until f.w
        k <- 0 until 4
      } yield Seq[Any](fi, f.delayMs, row, c, k,
        f.rgba((row * f.w + c) * 4 + k))
    }
}
