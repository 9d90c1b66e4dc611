package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Multimodal column operators (extension surface E3/"multimodal" of
  * BASELINE.json; SURVEY.md §2.6 E1-E4 family).
  *
  * Media (image/audio/video) are opaque `binary` columns with a typed
  * metadata struct. The Spark-side plumbing — schemas, partition-mapped
  * batch decode, generator-shaped frame explosion, embedding hand-off to
  * the Similarity operators — is real and tested; ONLY the codec kernels
  * are stubs (this container ships no image/audio libraries). Every stub
  * is deterministic (md5-derived from the bytes) and clearly marked
  * `STUB:`, so swapping in a real decoder changes one function per op and
  * nothing about the distributed shape.
  *
  * Scale shape: decode/extract run as `mapPartitions` over the binary
  * column — one task per partition, no shuffle; frame sampling is a
  * flatMap (rows out ≥ rows in, still shuffle-free); embeddings feed the
  * LSH/top-k path (Similarity) unchanged.
  */
object MultimodalOps {

  val metaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("format", StringType)))

  private def md5hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    d.map("%02x".format(_)).mkString
  }

  private def hexInt(hex: String, from: Int, len: Int): Int =
    java.lang.Long.parseLong(hex.substring(from, from + len), 16).toInt

  /** STUB: deterministic fake image decode — metadata derived from the md5
    * of the payload (a real build calls the codec here). The derivation is
    * pure SQL-expressible arithmetic so the oracle can verify the plumbing
    * end-to-end: width = 16 + h[0:4] % 2048, height = 16 + h[4:8] % 2048,
    * channels = 1 + h[8:9] % 4, n_frames = 1 + h[9:12] % 240.
    */
  def stubDecodeMeta(bytes: Array[Byte], format: String): Row = {
    val h = md5hex(bytes)
    Row(16 + hexInt(h, 0, 4) % 2048, 16 + hexInt(h, 4, 4) % 2048,
      1 + hexInt(h, 8, 1) % 4, 1 + hexInt(h, 9, 3) % 240, format)
  }

  /** STUB: deterministic fake feature extraction — `dim` floats in [-0.5,
    * 0.5) seeded from md5(i + "|" + payload). A real build runs the model
    * forward pass here; the batch shape (one call per row, vectorizable
    * per partition) is what matters.
    */
  def stubEmbed(bytes: Array[Byte], dim: Int): Array[Float] = {
    (0 until dim).map { i =>
      val h = md5hex((i + "|").getBytes("UTF-8") ++ bytes)
      (hexInt(h, 0, 4).toFloat / 65536.0f) - 0.5f
    }.toArray
  }

  // ---- real header parsing (PNG IHDR / BMP DIB) ----

  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** REAL header decode for PNG (IHDR: width/height big-endian at 16/20,
    * color type at 25 → channel count) and BMP (BITMAPINFOHEADER: width/
    * height little-endian at 18/22, bit count at 28). Anything else falls
    * back to the deterministic md5 stub, so mixed media tables and the
    * mm1/mm2 plumbing checks keep working unchanged. The BMP sniff demands
    * a known DIB header size and NUL padding so text that merely starts
    * with "BM" cannot false-positive.
    */
  def decodeHeaderMeta(bytes: Array[Byte], fallbackFormat: String): Row = {
    if (bytes.length >= 26 && bytes.take(8).sameElements(PngSig) &&
        new String(bytes.slice(12, 16), "US-ASCII") == "IHDR") {
      val channels = bytes(25).toInt match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolor + alpha
        case _ => 0
      }
      Row(beInt(bytes, 16), beInt(bytes, 20), channels, 1, "png")
    } else if (bytes.length >= 30 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte &&
        Set(40, 108, 124)(leInt(bytes, 14)) && leShort(bytes, 26) == 1 &&
        Set(1, 4, 8, 16, 24, 32)(leShort(bytes, 28))) {
      val bpp = leShort(bytes, 28)
      Row(leInt(bytes, 18), math.abs(leInt(bytes, 22)), math.max(1, bpp / 8), 1, "bmp")
    } else stubDecodeMeta(bytes, fallbackFormat)
  }

  /** Minimal valid PNG header bytes (signature + IHDR, zero CRC): the
    * encode half of the bridge, used to stage synthetic real-format media
    * in tests and oracles. `alpha` picks color type 6 (RGBA) vs 2 (RGB).
    */
  def synthPngHeader(width: Int, height: Int, alpha: Boolean): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + 4 + 4 + 13 + 4)
    out.put(PngSig)
    out.putInt(13).put("IHDR".getBytes("US-ASCII"))
    out.putInt(width).putInt(height)
    out.put(8.toByte).put((if (alpha) 6 else 2).toByte)
    out.put(0.toByte).put(0.toByte).put(0.toByte)
    out.putInt(0) // CRC not validated by the parser
    out.array()
  }

  /** Minimal valid BMP header bytes (BITMAPFILEHEADER + BITMAPINFOHEADER). */
  def synthBmpHeader(width: Int, height: Int, bpp: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(54).putShort(0).putShort(0).putInt(54) // size, reserved, data offset
    out.putInt(40).putInt(width).putInt(height)
    out.putShort(1).putShort(bpp.toShort)
    out.array()
  }

  /** Attach decoded metadata to a media table (idCol, bytesCol binary).
    * Partition-mapped: the decode runs inside one task per partition with
    * no shuffle; output schema is the typed meta struct. Real PNG/BMP
    * headers are parsed; other payloads get the deterministic stub.
    */
  def withDecodedMeta(media: DataFrame, bytesCol: String = "bytes",
      formatCol: String = "format"): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields :+ StructField("meta", metaSchema))
    val bytesIdx = media.schema.fieldIndex(bytesCol)
    val fmtIdx = media.schema.fieldIndex(formatCol)
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeHeaderMeta(r.getAs[Array[Byte]](bytesIdx), r.getString(fmtIdx))
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ---- PNG IDAT pixel decode (full-frame, 8-bit gray/RGB/±alpha) ----

  /** FULL PNG pixel decode — the image modality's first full-frame codec
    * next to TIFF (mm3 parses headers only): chunk walk (IHDR/PLTE/IDAT/
    * IEND, ancillary chunks skipped), zlib-inflate of the concatenated
    * IDAT stream (JDK Inflater — zlib is in the PNG spec), then the five
    * per-row filters (None/Sub/Up/Average/Paeth) undone exactly (the
    * filters operate on BYTES with a bpp stride, so 16-bit rows reuse the
    * identical pass).
    *
    * Scope: bit depths 8 and 16 (16-bit samples are big-endian per spec)
    * for color types 0/2/4/6 (gray, RGB, gray+alpha, RGBA), PLUS the
    * packed 1/2/4-bit depths for gray and palette (r12 — favicon-era and
    * palette-packed web-corpus staples; MSB-first bit unpacking feeds
    * the same filter machinery with the spec's 1-byte stride). Palette
    * (type 3) PLTE indices expand to RGB output channels (RGBA when a
    * tRNS per-entry alpha table is present; entries past it are opaque
    * per spec). Gray/truecolor tRNS (r12) is transparent-COLOR
    * semantics: matching pixels get alpha 0, output gains an alpha
    * channel. Adam7 interlace (r9) decodes for every supported depth/
    * color type: the seven independently-filtered sub-images de-filter
    * separately and scatter onto the full frame. FAIL CLOSED: 16-bit
    * palettes, tRNS on alpha-bearing types, packed multi-channel
    * depths, and out-of-range palette indices reject loudly.
    * Returns (width, height, out_channels, row-major channel-interleaved
    * sample values at the STORED depth — 0..2^d-1 packed, 0..255 at
    * depth 8, 0..65535 at depth 16).
    */
  def decodePngPixels(bytes: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    require(bytes.length >= 8 && bytes.take(8).sameElements(PngSig), "not a PNG")
    var off = 8
    var w = 0; var h = 0; var rawCh = 0; var depth = 0; var ct = 0
    var interlace = 0
    var plte: Array[Byte] = null
    var trns: Array[Byte] = null
    var seenIhdr = false; var done = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!done && off + 8 <= bytes.length) {
      val len = beInt(bytes, off)
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      require(len >= 0 && off + 12 + len <= bytes.length, s"chunk $typ overruns the file")
      typ match {
        case "IHDR" =>
          require(len == 13, "bad IHDR length")
          w = beInt(bytes, off + 8); h = beInt(bytes, off + 12)
          // bound the geometry BEFORE it sizes any allocation: a corrupt
          // dimension field must reject, not NegativeArraySize/OOM
          require(w > 0 && h > 0 && w <= (1 << 20) && h <= (1 << 20) &&
            w.toLong * h <= (1L << 26),
            s"implausible PNG geometry ${w}x$h")
          depth = bytes(off + 16).toInt
          ct = bytes(off + 17).toInt
          rawCh = ct match {
            case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
            case other => throw new IllegalArgumentException(
              s"color type $other unsupported (0/2/3/4/6)")
          }
          // packed 1/2/4-bit depths (r12) are valid for gray + palette
          // only, per spec; multi-channel types need whole bytes
          require(depth == 8 || depth == 16 ||
            ((depth == 1 || depth == 2 || depth == 4) && (ct == 0 || ct == 3)),
            s"bit depth $depth invalid for color type $ct")
          require(!(ct == 3 && depth == 16), "16-bit palette PNG is not valid")
          require(bytes(off + 18) == 0 && bytes(off + 19) == 0,
            "nonstandard compression/filter method")
          interlace = bytes(off + 20).toInt
          require(interlace == 0 || interlace == 1,
            s"interlace method $interlace invalid (0 none, 1 Adam7)")
          seenIhdr = true
        case "PLTE" =>
          require(len > 0 && len % 3 == 0 && len <= 768, s"bad PLTE length $len")
          plte = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
        case "tRNS" =>
          trns = java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + len)
        case "IDAT" => idat.write(bytes, off + 8, len)
        case "IEND" => done = true
        case _ => // ancillary chunk — skip
      }
      off += 12 + len
    }
    require(seenIhdr && w > 0 && h > 0, "missing or empty IHDR")
    require(idat.size > 0, "no IDAT data")
    if (ct == 3) {
      require(plte != null, "palette PNG (color type 3) missing its PLTE chunk")
      if (trns != null) require(trns.length <= plte.length / 3,
        s"tRNS has ${trns.length} entries but the palette only ${plte.length / 3}")
    } else if (trns != null) {
      // gray/truecolor tRNS (r12) is a single TRANSPARENT COLOR: pixels
      // matching it get alpha 0, the output gains an alpha channel.
      // Alpha-bearing types (4/6) must not carry tRNS, per spec.
      require(ct == 0 || ct == 2,
        s"tRNS on color type $ct is invalid (alpha channel already present)")
      require(trns.length == (if (ct == 0) 2 else 6),
        s"tRNS length ${trns.length} wrong for color type $ct")
    }
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    // packed depths (1/2/4): pixels share bytes MSB-first, the filter
    // byte-stride is 1 (spec: "bpp is rounded up to one"); row length is
    // ceil(w·depth/8). Depths 8/16 keep the whole-byte geometry.
    val packed = depth < 8
    val bpp = if (packed) 1 else rawCh * (depth / 8)
    def prowBytes(pw: Int): Int =
      if (packed) (pw * depth + 7) / 8 else pw * bpp
    val rowBytes = prowBytes(w)
    // Adam7 (interlace 1): seven independently-FILTERED sub-images
    // concatenated in the one zlib stream, pass p covering the pixels at
    // (y0 + r·dy, x0 + c·dx); empty passes contribute no scanlines at
    // all (spec). interlace 0 is the single full-frame "pass".
    val passes: Seq[(Int, Int, Int, Int, Int, Int)] =
      if (interlace == 0) Seq((0, 0, 1, 1, w, h))
      else Adam7Passes.map { case (x0, y0, dx, dy) =>
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
        (x0, y0, dx, dy, pw, ph)
      }.filter(p => p._5 > 0 && p._6 > 0)
    val raw = new Array[Byte](
      passes.map { case (_, _, _, _, pw, ph) => (prowBytes(pw) + 1) * ph }.sum)
    var got = 0
    while (got < raw.length && !inflater.finished()) {
      val n = inflater.inflate(raw, got, raw.length - got)
      // zero progress = truncation or a preset-dictionary stream — fail
      // loudly instead of spinning
      if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
        throw new IllegalArgumentException(
          if (inflater.needsDictionary()) "IDAT requires a preset dictionary (invalid PNG)"
          else "truncated IDAT stream")
      got += n
    }
    inflater.end()
    require(got == raw.length, s"IDAT inflates to $got bytes, expected ${raw.length}")
    val out = new Array[Byte](if (packed) 0 else rowBytes * h)
    // packed path: sub-image pixels aren't byte-aligned, so each pass
    // unpacks its bits (MSB-first within each byte, per spec) to sample
    // values BEFORE scattering — rawCh is 1 for both packed types
    val packedSamples = if (packed) new Array[Int](w * h) else null
    var from = 0
    passes.foreach { case (x0, y0, dx, dy, pw, ph) =>
      val prow = prowBytes(pw)
      val sub = unfilterRows(raw, from, prow, ph, bpp)
      from += (prow + 1) * ph
      if (packed) {
        val mask = (1 << depth) - 1
        var r = 0
        while (r < ph) {
          var c = 0
          while (c < pw) {
            val bitPos = c * depth
            val v = (sub(r * prow + (bitPos >> 3)) >> (8 - depth - (bitPos & 7))) & mask
            packedSamples((y0 + r * dy) * w + (x0 + c * dx)) = v
            c += 1
          }
          r += 1
        }
      } else if (interlace == 0) System.arraycopy(sub, 0, out, 0, sub.length)
      else { // scatter the de-filtered sub-image onto the full frame
        var r = 0
        while (r < ph) {
          var c = 0
          while (c < pw) {
            System.arraycopy(sub, (r * pw + c) * bpp,
              out, ((y0 + r * dy) * w + (x0 + c * dx)) * bpp, bpp)
            c += 1
          }
          r += 1
        }
      }
    }
    // bytes → sample values (palette expansion / 16-bit BE assembly).
    // A palette tRNS chunk adds per-entry alpha: output becomes RGBA
    // (entries past the tRNS table are fully opaque, per spec).
    if (ct == 3) {
      val outCh = if (trns != null) 4 else 3
      val vals = new Array[Int](w * h * outCh)
      var i = 0
      while (i < w * h) {
        val idx = if (packed) packedSamples(i) else out(i) & 0xff
        require(idx * 3 + 2 < plte.length,
          s"palette index $idx out of range (${plte.length / 3} entries)")
        vals(i * outCh) = plte(idx * 3) & 0xff
        vals(i * outCh + 1) = plte(idx * 3 + 1) & 0xff
        vals(i * outCh + 2) = plte(idx * 3 + 2) & 0xff
        if (outCh == 4)
          vals(i * 4 + 3) = if (idx < trns.length) trns(idx) & 0xff else 255
        i += 1
      }
      return (w, h, outCh, vals)
    }
    val vals: Array[Int] =
      if (packed) packedSamples
      else if (depth == 8) out.map(_ & 0xff)
      else {
        val v = new Array[Int](w * h * rawCh)
        var i = 0
        while (i < v.length) {
          v(i) = ((out(2 * i) & 0xff) << 8) | (out(2 * i + 1) & 0xff)
          i += 1
        }
        v
      }
    if (trns == null) (w, h, rawCh, vals)
    else {
      // gray/truecolor transparent color (r12): matching pixels get
      // alpha 0, everything else the depth's max sample — output gains
      // an alpha channel (G→GA, RGB→RGBA), samples stay at stored depth.
      // The 2-byte-per-channel tRNS fields use their LOW bits at depths
      // < 16, per spec.
      val maxV = (1 << depth) - 1
      val outCh = rawCh + 1
      val withA = new Array[Int](w * h * outCh)
      def tv(k: Int): Int =
        (((trns(2 * k) & 0xff) << 8) | (trns(2 * k + 1) & 0xff)) &
          (if (depth == 16) 0xffff else maxV)
      var i = 0
      while (i < w * h) {
        var transparent = true
        var k = 0
        while (k < rawCh) {
          val s = vals(i * rawCh + k)
          withA(i * outCh + k) = s
          if (s != tv(k)) transparent = false
          k += 1
        }
        withA(i * outCh + rawCh) = if (transparent) 0 else maxV
        i += 1
      }
      (w, h, outCh, withA)
    }
  }

  /** Filter raw pixel BYTES into PNG scanlines (per-row filter types from
    * `filterOf`, prediction stride `bpp`) and deflate — shared by the
    * depth-8, depth-16, and palette synth writers.
    */
  /** The seven Adam7 passes as (x origin, y origin, x stride, y stride). */
  private val Adam7Passes: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Undo PNG row filters over one (sub-)image whose filtered scanlines
    * start at `raw(from)`: `height` rows of `rowBytes` bytes each, byte
    * prediction stride `bpp`. Shared by the full-frame path and each
    * Adam7 pass (the spec filters every pass independently).
    */
  private def unfilterRows(raw: Array[Byte], from: Int, rowBytes: Int,
      height: Int, bpp: Int): Array[Byte] = {
    val out = new Array[Byte](rowBytes * height)
    var r = 0
    while (r < height) {
      val ft = raw(from + r * (rowBytes + 1)) & 0xff
      val src = from + r * (rowBytes + 1) + 1
      val dst = r * rowBytes
      var i = 0
      while (i < rowBytes) {
        val x = raw(src + i) & 0xff
        val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0 // left
        val b = if (r > 0) out(dst - rowBytes + i) & 0xff else 0 // up
        val c = if (r > 0 && i >= bpp) out(dst - rowBytes + i - bpp) & 0xff else 0
        val rec = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case other => throw new IllegalArgumentException(s"unknown row filter $other")
        }
        out(dst + i) = (rec & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  /** Apply per-row filters (types from `filterOf`) to raw pixel bytes —
    * the encode half of [[unfilterRows]], one (sub-)image at a time.
    */
  private def filterRows(px: Array[Byte], rowBytes: Int, height: Int,
      bpp: Int, filterOf: Int => Int): Array[Byte] = {
    val raw = new Array[Byte]((rowBytes + 1) * height)
    for (r <- 0 until height) {
      val ft = filterOf(r) % 5
      raw(r * (rowBytes + 1)) = ft.toByte
      for (i <- 0 until rowBytes) {
        val x = px(r * rowBytes + i) & 0xff
        val a = if (i >= bpp) px(r * rowBytes + i - bpp) & 0xff else 0
        val b = if (r > 0) px((r - 1) * rowBytes + i) & 0xff else 0
        val c0 = if (r > 0 && i >= bpp) px((r - 1) * rowBytes + i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ =>
            val p = a + b - c0
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c0)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c0
        }
        raw(r * (rowBytes + 1) + 1 + i) = ((x - pred) & 0xff).toByte
      }
    }
    raw
  }

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) comp.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    comp.toByteArray
  }

  private def filterAndDeflate(px: Array[Byte], rowBytes: Int, height: Int,
      bpp: Int, filterOf: Int => Int): Array[Byte] =
    deflateBytes(filterRows(px, rowBytes, height, bpp, filterOf))

  private def assemblePng(width: Int, height: Int, depth: Int, colorType: Int,
      plte: Option[Array[Byte]], idat: Array[Byte],
      trns: Option[Array[Byte]],
      interlaced: Boolean = false): Array[Byte] = {
    val plteLen = plte.map(12 + _.length).getOrElse(0)
    val trnsLen = trns.map(12 + _.length).getOrElse(0)
    val out = java.nio.ByteBuffer.allocate(8 + 25 + plteLen + trnsLen + 12 + idat.length + 12)
    out.put(PngSig)
    out.putInt(13).put("IHDR".getBytes("US-ASCII"))
    out.putInt(width).putInt(height)
    out.put(depth.toByte).put(colorType.toByte)
    out.put(0.toByte).put(0.toByte).put(if (interlaced) 1.toByte else 0.toByte)
    out.putInt(0)
    plte.foreach { p =>
      out.putInt(p.length).put("PLTE".getBytes("US-ASCII")).put(p).putInt(0)
    }
    trns.foreach { t =>
      out.putInt(t.length).put("tRNS".getBytes("US-ASCII")).put(t).putInt(0)
    }
    out.putInt(idat.length).put("IDAT".getBytes("US-ASCII")).put(idat).putInt(0)
    out.putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0)
    out.array()
  }

  /** The encode half (tests/oracles — the mm3 pattern): a valid
    * single-IDAT PNG with per-row filter types from `filterOf` (0..4),
    * zlib-deflated scanlines. `depth` 8 or 16 (16-bit samples big-endian;
    * `values` then returns 0..65535). CRCs are zero — the decoder
    * validates structure, not checksums.
    */
  def synthPng(width: Int, height: Int, channels: Int,
      filterOf: Int => Int = _ % 5, depth: Int = 8,
      interlaced: Boolean = false,
      /** gray/truecolor transparent COLOR (one value per channel, at the
        * stored depth) → a 2-bytes-per-channel tRNS chunk (r12).
        */
      transparent: Option[Seq[Int]] = None)(
      values: (Int, Int, Int) => Int): Array[Byte] = {
    require(Set(1, 2, 3, 4)(channels), s"bad channel count $channels")
    require(depth == 8 || depth == 16, s"bad depth $depth")
    transparent.foreach { t =>
      require(channels == 1 || channels == 3,
        "a transparent color needs an alpha-free type (gray or RGB)")
      require(t.length == channels, s"transparent color has ${t.length} " +
        s"values for $channels channels")
    }
    val colorType = channels match { case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6 }
    val sampleBytes = depth / 8
    val bpp = channels * sampleBytes
    val rowBytes = width * bpp
    val px = new Array[Byte](rowBytes * height)
    for (r <- 0 until height; c <- 0 until width; ch <- 0 until channels) {
      val v = values(r, c, ch)
      val base = r * rowBytes + (c * channels + ch) * sampleBytes
      if (depth == 8) px(base) = (v & 0xff).toByte
      else { px(base) = ((v >> 8) & 0xff).toByte; px(base + 1) = (v & 0xff).toByte }
    }
    val idat =
      if (!interlaced) filterAndDeflate(px, rowBytes, height, bpp, filterOf)
      else {
        // gather each Adam7 pass's pixels, filter the pass independently
        // (its own row 0 — no inter-pass prediction), one zlib stream
        val scanlines = new java.io.ByteArrayOutputStream()
        Adam7Passes.foreach { case (x0, y0, dx, dy) =>
          val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
          val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
          if (pw > 0 && ph > 0) {
            val sub = new Array[Byte](pw * ph * bpp)
            for (r <- 0 until ph; c <- 0 until pw)
              System.arraycopy(px, ((y0 + r * dy) * width + (x0 + c * dx)) * bpp,
                sub, (r * pw + c) * bpp, bpp)
            scanlines.write(filterRows(sub, pw * bpp, ph, bpp, filterOf))
          }
        }
        deflateBytes(scanlines.toByteArray)
      }
    assemblePng(width, height, depth, colorType, None, idat,
      trns = transparent.map(_.flatMap(v =>
        Seq(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)).toArray),
      interlaced = interlaced)
  }

  /** Packed-depth (1/2/4 bit) synth — gray (color type 0) or palette
    * (type 3) when `palette` is given: pixels pack MSB-first into
    * scanline bytes (the spec's 1-byte filter stride), `valueOf(r, c)`
    * the per-pixel sample/index. `alpha` (palette) → per-entry tRNS;
    * `transparentGray` (gray) → a transparent-color tRNS (r12).
    */
  def synthPngPacked(width: Int, height: Int, depth: Int,
      palette: Option[Seq[(Int, Int, Int)]] = None,
      filterOf: Int => Int = _ % 5, alpha: Seq[Int] = Nil,
      transparentGray: Option[Int] = None)(
      valueOf: (Int, Int) => Int): Array[Byte] = {
    require(depth == 1 || depth == 2 || depth == 4, s"bad packed depth $depth")
    val maxV = (1 << depth) - 1
    val rowBytes = (width * depth + 7) / 8
    val px = new Array[Byte](rowBytes * height)
    for (r <- 0 until height; c <- 0 until width) {
      val v = valueOf(r, c)
      require(v >= 0 && v <= maxV, s"sample $v exceeds the depth-$depth range")
      palette.foreach(p => require(v < p.length, s"index $v outside the palette"))
      val bitPos = c * depth
      val at = r * rowBytes + (bitPos >> 3)
      px(at) = (px(at) | (v << (8 - depth - (bitPos & 7)))).toByte
    }
    val idat = filterAndDeflate(px, rowBytes, height, 1, filterOf)
    palette match {
      case Some(p) =>
        require(p.nonEmpty && p.length <= (1 << depth),
          s"palette size ${p.length} exceeds depth-$depth addressing")
        require(alpha.length <= p.length, "more tRNS entries than palette entries")
        require(transparentGray.isEmpty, "transparentGray is the GRAY spelling")
        val plte = p.flatMap { case (r, g, b) =>
          Seq((r & 0xff).toByte, (g & 0xff).toByte, (b & 0xff).toByte)
        }.toArray
        assemblePng(width, height, depth, 3, Some(plte), idat,
          trns = if (alpha.isEmpty) None
            else Some(alpha.map(a => (a & 0xff).toByte).toArray))
      case None =>
        require(alpha.isEmpty, "per-entry alpha is the PALETTE spelling")
        assemblePng(width, height, depth, 0, None, idat,
          trns = transparentGray.map(tv =>
            Array(((tv >> 8) & 0xff).toByte, (tv & 0xff).toByte)))
    }
  }

  /** Palette (color type 3, depth 8) synth: `palette` RGB entries become
    * the PLTE chunk; `idxOf(r, c)` the per-pixel index bytes. `alpha`
    * (possibly shorter than the palette) becomes a tRNS chunk.
    */
  def synthPngPalette(width: Int, height: Int, palette: Seq[(Int, Int, Int)],
      filterOf: Int => Int = _ % 5, alpha: Seq[Int] = Nil)(
      idxOf: (Int, Int) => Int): Array[Byte] = {
    require(palette.nonEmpty && palette.length <= 256, s"bad palette size ${palette.length}")
    require(alpha.length <= palette.length, "more tRNS entries than palette entries")
    val plte = palette.flatMap { case (r, g, b) =>
      Seq((r & 0xff).toByte, (g & 0xff).toByte, (b & 0xff).toByte)
    }.toArray
    val px = new Array[Byte](width * height)
    for (r <- 0 until height; c <- 0 until width) {
      val i = idxOf(r, c)
      require(i >= 0 && i < palette.length, s"index $i outside the palette")
      px(r * width + c) = i.toByte
    }
    assemblePng(width, height, 8, 3, Some(plte),
      filterAndDeflate(px, width, height, 1, filterOf),
      trns = if (alpha.isEmpty) None else Some(alpha.map(a => (a & 0xff).toByte).toArray))
  }

  // ---- BMP pixel decode (BI_RGB 8-bit palette / 24 / 32) ----

  /** REAL BMP pixel decode (BITMAPINFOHEADER, BI_RGB): 8-bit palette
    * (BGRA quads → RGB expansion), 24-bit BGR, and 32-bit BGRA rows, with
    * the spec's 4-byte row padding and bottom-up (positive height) or
    * top-down (negative height) row order. RLE compressions, 1/4/16-bit
    * depths, and V4/V5 headers beyond plain BI_RGB fail closed. Returns
    * (width, height, channels, row-major interleaved values) — RGB for
    * 8/24-bit, RGBA for 32-bit.
    */
  def decodeBmpPixels(bytes: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    require(bytes.length >= 54 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      "not a BMP")
    val dataOff = leInt(bytes, 10)
    val dibSize = leInt(bytes, 14)
    require(dibSize >= 40, s"DIB header size $dibSize unsupported (BITMAPINFOHEADER+)")
    val w = leInt(bytes, 18)
    val hRaw = leInt(bytes, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    require(w > 0 && h > 0 && w < (1 << 20) && h < (1 << 20), s"bad geometry ${w}x$hRaw")
    require(leShort(bytes, 26) == 1, "planes must be 1")
    val bpp = leShort(bytes, 28)
    require(bpp == 8 || bpp == 24 || bpp == 32,
      s"bits per pixel $bpp unsupported (8 palette / 24 / 32)")
    require(leInt(bytes, 30) == 0, "only uncompressed BI_RGB decodes")
    val palette: Array[Byte] =
      if (bpp == 8) {
        val used = leInt(bytes, 46)
        val n = if (used == 0) 256 else used
        require(n > 0 && n <= 256, s"bad palette size $n")
        val at = 14 + dibSize
        require(at + 4 * n <= bytes.length, "palette overruns the file")
        java.util.Arrays.copyOfRange(bytes, at, at + 4 * n)
      } else null
    val rowBytes = ((w * bpp / 8) + 3) & ~3 // rows pad to 4 bytes
    // dataOff must point PAST the headers and palette — a malformed offset
    // into the header (e.g. 0) would silently decode header/palette bytes
    // as pixels instead of failing closed
    require(dataOff >= 14 + dibSize + (if (palette == null) 0 else palette.length),
      s"pixel data offset $dataOff points inside the header")
    require(dataOff.toLong + rowBytes.toLong * h <= bytes.length,
      "pixel data overruns the file")
    val outCh = if (bpp == 32) 4 else 3
    val vals = new Array[Int](w * h * outCh)
    var r = 0
    while (r < h) {
      val srcRow = dataOff + (if (topDown) r else h - 1 - r) * rowBytes
      var c = 0
      while (c < w) {
        val o = (r * w + c) * outCh
        bpp match {
          case 8 =>
            val idx = bytes(srcRow + c) & 0xff
            require(idx * 4 + 2 < palette.length,
              s"palette index $idx outside the ${palette.length / 4}-entry table")
            vals(o) = palette(idx * 4 + 2) & 0xff // quads are B,G,R,reserved
            vals(o + 1) = palette(idx * 4 + 1) & 0xff
            vals(o + 2) = palette(idx * 4) & 0xff
          case 24 =>
            val p = srcRow + c * 3
            vals(o) = bytes(p + 2) & 0xff
            vals(o + 1) = bytes(p + 1) & 0xff
            vals(o + 2) = bytes(p) & 0xff
          case 32 =>
            val p = srcRow + c * 4
            vals(o) = bytes(p + 2) & 0xff
            vals(o + 1) = bytes(p + 1) & 0xff
            vals(o + 2) = bytes(p) & 0xff
            vals(o + 3) = bytes(p + 3) & 0xff
        }
        c += 1
      }
      r += 1
    }
    (w, h, outCh, vals)
  }

  /** The encode half: a valid BI_RGB BMP. `channels` 3 (24-bit BGR) or 4
    * (32-bit BGRA); `palette` non-empty writes an 8-bit indexed file and
    * `values(r, c, 0)` is then the palette index. Negative-height
    * (top-down) layout when `topDown`.
    */
  def synthBmp(width: Int, height: Int, channels: Int,
      palette: Seq[(Int, Int, Int)] = Nil, topDown: Boolean = false)(
      values: (Int, Int, Int) => Int): Array[Byte] = {
    val bpp = if (palette.nonEmpty) 8 else channels * 8
    require(bpp == 8 || bpp == 24 || bpp == 32, s"bad layout")
    require(palette.length <= 256, "palette too large")
    val rowBytes = ((width * bpp / 8) + 3) & ~3
    val dataOff = 54 + 4 * palette.length
    val size = dataOff + rowBytes * height
    val out = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(dataOff)
    out.putInt(40).putInt(width).putInt(if (topDown) -height else height)
    out.putShort(1).putShort(bpp.toShort).putInt(0).putInt(rowBytes * height)
    out.putInt(2835).putInt(2835).putInt(palette.length).putInt(0)
    palette.foreach { case (r, g, b) =>
      out.put((b & 0xff).toByte).put((g & 0xff).toByte).put((r & 0xff).toByte).put(0.toByte)
    }
    for (r <- 0 until height) {
      val gr = if (topDown) r else height - 1 - r
      var written = 0
      for (c <- 0 until width) {
        if (palette.nonEmpty) {
          val i = values(gr, c, 0)
          require(i >= 0 && i < palette.length, s"index $i outside the palette")
          out.put(i.toByte); written += 1
        } else {
          out.put((values(gr, c, 2) & 0xff).toByte) // B
            .put((values(gr, c, 1) & 0xff).toByte) // G
            .put((values(gr, c, 0) & 0xff).toByte) // R
          written += 3
          if (channels == 4) { out.put((values(gr, c, 3) & 0xff).toByte); written += 1 }
        }
      }
      while (written < rowBytes) { out.put(0.toByte); written += 1 }
    }
    out.array()
  }

  /** BMP binary column → pixel rows (the pngToPixels shape: flatMap,
    * zero shuffle; RGB(A) values regardless of the file's BGR layout).
    */
  def bmpToPixels(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, PixelFields) { payload =>
      val (w, h, ch, px) = decodeBmpPixels(payload)
      for (row <- (0 until h).iterator; c <- 0 until w; k <- 0 until ch)
        yield Seq[Any](row, c, k, px((row * w + c) * ch + k))
    }

  /** PNG binary column → pixel rows (pass-through columns preserved;
    * one row per (px_row, px_col, channel) with the 0..255 value).
    * Generator shape like [[Tiff.tiffToBlocks]]: flatMap, zero shuffle.
    */
  def pngToPixels(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, PixelFields) { payload =>
      val (w, h, ch, px) = decodePngPixels(payload)
      for (row <- (0 until h).iterator; c <- 0 until w; k <- 0 until ch)
        yield Seq[Any](row, c, k, px((row * w + c) * ch + k))
    }

  /** Container format from magic bytes — the crawl-side dispatch key for
    * [[mediaCensusWithRejects]]. Recognizes every container the engine
    * decodes (png/jpeg/gif/bmp/wav/tiff/webp/avi) plus the crawl staples
    * recognized-but-undecoded — mp3 (ID3v2 tag or MPEG frame sync), flac
    * (stream marker), and apng (r13: a PNG whose acTL chunk precedes the
    * first IDAT, per the APNG spec) — so a census COUNTS them by name
    * rather than lumping them into "unknown"; anything else is "unknown".
    */
  def sniffFormat(b: Array[Byte]): String = {
    def ascii(off: Int, s: String) = b.length >= off + s.length &&
      s.indices.forall(i => b(off + i) == s(i).toByte)
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && ascii(1, "PNG")) {
      // APNG sniff: walk the chunk directory until acTL (→ apng), the
      // first IDAT/IEND (→ plain png), or any malformed length (→ png;
      // the decoder then rejects that file with its own message). The
      // walk is bounds-checked against untrusted lengths.
      var off = 8
      var kind = "png"
      var walking = true
      while (walking && off + 8 <= b.length) {
        val len = ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
          ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
        val typ = new String(b, off + 4, 4, "US-ASCII")
        if (typ == "acTL") { kind = "apng"; walking = false }
        else if (typ == "IDAT" || typ == "IEND") walking = false
        else if (off + 12L + len > b.length) walking = false
        else off += 12 + len.toInt
      }
      kind
    }
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (ascii(0, "GIF8")) "gif"
    else if (ascii(0, "RIFF") && ascii(8, "WAVE")) "wav"
    else if (ascii(0, "RIFF") && ascii(8, "WEBP")) "webp"
    else if (ascii(0, "RIFF") && ascii(8, "AVI ")) "avi"
    else if (ascii(0, "BM")) "bmp"
    // crawl audio staples: recognized so the rejects census counts them BY
    // NAME ("N mp3 skipped") instead of "unknown", even before any decode
    // exists. MP3 = ID3v2 tag, or a bare MPEG frame sync (11 set bits,
    // non-reserved version, non-zero layer — checked to keep random binary
    // from sniffing as mp3). FLAC = the fLaC stream marker.
    else if (ascii(0, "ID3")) "mp3"
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0 &&
      ((b(1) >> 3) & 3) != 1 && ((b(1) >> 1) & 3) != 0) "mp3"
    else if (ascii(0, "fLaC")) "flac"
    else if (b.length >= 4 && ((b(0) == 'I' && b(1) == 'I') || (b(0) == 'M' && b(1) == 'M'))) {
      val magic = if (b(0) == 'I') (b(2) & 0xff) | ((b(3) & 0xff) << 8)
        else ((b(2) & 0xff) << 8) | (b(3) & 0xff)
      if (magic == 42 || magic == 43) "tiff" else "unknown"
    }
    else "unknown"
  }

  /** Per-FILE integer-value census with rejects surfaced as ROWS — the
    * operability contract a 100 TB crawl needs: unsupported or corrupt
    * files become countable `(ok = false, reject_reason)` rows instead of
    * dropped rows or dead tasks, so a curation run can report "N WebP
    * skipped, M truncated JPEGs" from the same plan that censuses the
    * decodable majority. Dispatch is by [[sniffFormat]] magic; decode
    * failures keep the codec's own descriptive message.
    *
    * Census semantics per format (documented, closed-form oracle-able):
    * png/bmp = channel values; jpeg = decoded component bytes; gif = RGBA
    * values across frames; wav = integer PCM samples (IEEE-float WAV
    * rejects with the PCM router's message — its samples have no integer
    * census; use `wavFloatToSamples`); tiff = stored float32 samples
    * including block padding, rejected when any sample is non-integral;
    * webp = RGBA values (lossless VP8L AND lossy VP8 keyframes with
    * ALPH alpha planes, via [[Webp]]/[[Vp8]] — r11); avi rejects toward
    * `aviToFrames` (frames, not scalars); unknown magic rejects
    * descriptively.
    *
    * Output suffix: (format, n_values, sum_value, ok, reject_reason).
    * Same scale shape as every codec surface: flatMap, one task per
    * file, zero shuffle, ONE row out per file.
    */
  def mediaCensusWithRejects(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("format", StringType, nullable = false),
      StructField("n_values", LongType, nullable = true),
      StructField("sum_value", LongType, nullable = true),
      StructField("ok", BooleanType, nullable = false),
      StructField("reject_reason", StringType, nullable = true))) { payload =>
      val fmt = sniffFormat(payload)
      try {
        val (n, sum) = fmt match {
          case "png" =>
            val (_, _, _, px) = decodePngPixels(payload)
            (px.length.toLong, px.foldLeft(0L)(_ + _))
          case "bmp" =>
            val (_, _, _, px) = decodeBmpPixels(payload)
            (px.length.toLong, px.foldLeft(0L)(_ + _))
          case "jpeg" =>
            val (_, _, _, px) = Jpeg.decodeJpegPixels(payload)
            (px.length.toLong, px.foldLeft(0L)((acc, b) => acc + (b & 0xff)))
          case "gif" =>
            val (_, _, frames) = Gif.decodeGifFrames(payload)
            frames.foldLeft((0L, 0L)) { case ((n0, s0), f) =>
              (n0 + f.rgba.length, s0 + f.rgba.foldLeft(0L)(_ + _))
            }
          case "wav" =>
            val (_, _, _, samples) = decodeWavSamples(payload)
            (samples.length.toLong, samples.foldLeft(0L)(_ + _))
          case "tiff" =>
            var n = 0L; var s = 0L
            Tiff.blocksOf(payload).foreach { case (_, _, _, _, blob) =>
              var i = 0
              while (i < blob.length) {
                val v = java.lang.Float.intBitsToFloat(
                  ((blob(i) & 0xff) << 24) | ((blob(i + 1) & 0xff) << 16) |
                    ((blob(i + 2) & 0xff) << 8) | (blob(i + 3) & 0xff))
                require(v == math.rint(v),
                  s"non-integral float sample $v has no integer census")
                n += 1; s += v.toLong
                i += 4
              }
            }
            (n, s)
          case "webp" =>
            // lossless (VP8L) since r10 incl. ANIMATED frames; lossy VP8
            // keyframes + ALPH alpha planes since r11 — corrupt or
            // unsupported layouts reject with the walk's own message
            val (_, _, frames) = Webp.decodeWebpFrames(payload)
            frames.foldLeft((0L, 0L)) { case ((n0, s0), f) =>
              (n0 + f.argb.length.toLong * 4, s0 + f.argb.foldLeft(0L) { (acc, p) =>
                acc + ((p >>> 24) & 0xff) + ((p >> 16) & 0xff) +
                  ((p >> 8) & 0xff) + (p & 0xff)
              })
            }
          case "avi" => throw new IllegalArgumentException(
            "AVI carries video frames, not a scalar census — route through aviToFrames")
          case "mp3" => throw new IllegalArgumentException(
            "mp3 recognized but no decoder exists — counted, not decoded")
          case "flac" => throw new IllegalArgumentException(
            "flac recognized but no decoder exists — counted, not decoded")
          case "apng" => throw new IllegalArgumentException(
            "APNG recognized but undecoded: no reference encoder exists in " +
              "this environment to conform a decoder against (the mp3 " +
              "stance) — counted, not decoded")
          case _ => throw new IllegalArgumentException(
            s"unrecognized container magic (${payload.take(4).map(b => f"${b & 0xff}%02x").mkString(" ")})")
        }
        Iterator.single(Seq[Any](fmt, n, sum, true, null))
      } catch {
        case e: IllegalArgumentException =>
          Iterator.single(Seq[Any](fmt, null, null, false,
            s"${e.getMessage}"))
        case e: java.util.zip.DataFormatException =>
          Iterator.single(Seq[Any](fmt, null, null, false,
            s"corrupt compressed stream: ${e.getMessage}"))
      }
    }

  /** The (px_row, px_col, channel, value) suffix every full-frame pixel
    * decoder emits.
    */
  private[operators] val PixelFields: Seq[StructField] = Seq(
    StructField("px_row", IntegerType, nullable = false),
    StructField("px_col", IntegerType, nullable = false),
    StructField("channel", IntegerType, nullable = false),
    StructField("value", IntegerType, nullable = false))

  // ---- real audio header parsing (WAV: RIFF / fmt / data) ----

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_us", LongType)))

  private def asciiAt(b: Array[Byte], off: Int, len: Int): String =
    new String(b.slice(off, off + len), "US-ASCII")

  /** Minimal canonical WAV header (RIFF + 16-byte PCM fmt + data chunk
    * declaration, 44 bytes, no payload — the parser reads declared sizes).
    */
  def synthWavHeader(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nFrames: Long): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataSize = nFrames * blockAlign
    require(dataSize <= Int.MaxValue, s"data chunk overflows RIFF32: $dataSize")
    val out = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize.toInt)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize.toInt)
    out.array()
  }

  /** RIFF/WAVE chunk walk → (format tag, channels, rate, block align,
    * bits, data offset, data length). None for anything that is not a
    * WAVE with a well-formed fmt chunk ahead of its data chunk; unknown
    * chunks (fact, LIST, cue, …) skip with RIFF word alignment — real
    * float and extensible WAVs carry them.
    */
  private def wavLayout(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 12 || asciiAt(bytes, 0, 4) != "RIFF" ||
        asciiAt(bytes, 8, 4) != "WAVE") return None
    var pos = 12
    var fmt: Option[(Int, Int, Int, Int, Int)] = None
    while (pos + 8 <= bytes.length) {
      val id = asciiAt(bytes, pos, 4)
      // RIFF sizes are UNSIGNED 32-bit (a 3 GB data chunk is legal); all
      // arithmetic stays in Long so a huge declared length can neither
      // wrap a bounds check nor drive `pos` negative
      val len = leInt(bytes, pos + 4).toLong & 0xffffffffL
      if (id == "data") {
        // the DECLARED size is the contract (header-only fixtures carry
        // no payload; the sample decoders bounds-check what they read)
        return fmt.map { case (tag, ch, rate, ba, bits) =>
          (tag, ch, rate, ba, bits, pos + 8, len)
        }
      }
      // chunks we must walk PAST need their payload present
      if (pos.toLong + 8 + len > bytes.length) return None
      if (id == "fmt ") {
        if (len < 16) return None
        fmt = Some((leShort(bytes, pos + 8), leShort(bytes, pos + 10),
          leInt(bytes, pos + 12), leShort(bytes, pos + 20), leShort(bytes, pos + 22)))
      }
      pos = (pos.toLong + 8 + len + (len % 2)).toInt // word-aligned; fits: ≤ length
    }
    None
  }

  /** REAL header decode for PCM and IEEE-float WAV (the audio modality's
    * mm3): walks the RIFF chunks (fact/LIST/cue skip), accepts format
    * tag 1 (integer PCM) and tag 3 (IEEE float — the ML-corpus staple),
    * derives frame count from the data size and block align, duration in
    * µs by integer division. Returns null (→ NULL struct) for anything
    * that doesn't parse — fail-closed, no stub: audio consumers branch
    * on parse success, they don't get fabricated rates.
    */
  def decodeWavMeta(bytes: Array[Byte]): Row = {
    wavLayout(bytes) match {
      case Some((tag, channels, rate, blockAlign, bits, _, dataLen))
          if (tag == 1 || tag == 3) && rate > 0 && blockAlign > 0 =>
        val nFrames = dataLen / blockAlign
        Row(rate, channels, bits, nFrames, nFrames * 1000000L / rate)
      case _ => null
    }
  }

  /** Canonical PCM WAV with an actual sample payload — the encode half
    * for [[decodeWavSamples]] fixtures: `sample(frame, channel)` returns
    * the integer sample (unsigned 0..255 at 8 bits; signed two's
    * complement at 16/24/32, little-endian per spec).
    */
  def synthWavPcm(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nFrames: Int)(sample: (Int, Int) => Int): Array[Byte] = {
    require(Set(8, 16, 24, 32)(bitsPerSample), s"bad bits $bitsPerSample")
    val header = synthWavHeader(sampleRate, channels, bitsPerSample, nFrames.toLong)
    val bps = bitsPerSample / 8
    val buf = java.nio.ByteBuffer.allocate(header.length + nFrames * channels * bps)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(header)
    for (f <- 0 until nFrames; ch <- 0 until channels) {
      val v = sample(f, ch)
      bitsPerSample match {
        case 8 => buf.put((v & 0xff).toByte)
        case 16 => buf.putShort(v.toShort)
        case 24 =>
          buf.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
            .put(((v >> 16) & 0xff).toByte)
        case 32 => buf.putInt(v)
      }
    }
    buf.array()
  }

  /** REAL PCM sample decode — the audio modality's pixel-level codec
    * next to mm4's header parse: canonical PCM WAV payload → (rate,
    * channels, bits, frame-major channel-interleaved Int samples).
    * 8-bit samples are UNSIGNED 0..255, 16/24/32-bit are signed
    * little-endian two's complement (the spec's exact rules). Fails
    * closed on anything `decodeWavMeta` rejects or a truncated payload.
    */
  def decodeWavSamples(bytes: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    val layout = wavLayout(bytes)
    require(layout.isDefined, "not a RIFF/WAVE payload")
    val (tag, channels, rate, blockAlign, bits, dataOff, dataLen) = layout.get
    require(tag == 1, s"format tag $tag is not integer PCM — float WAV decodes " +
      "through decodeWavFloatSamples")
    require(rate > 0 && blockAlign > 0, "malformed fmt chunk")
    require(Set(8, 16, 24, 32)(bits), s"bits per sample $bits unsupported")
    val bps = bits / 8
    // frame count divides by the DECLARED blockAlign but the loop below
    // reads at channels·bps stride — a file where the two disagree would
    // silently decode a wrong sample count instead of failing closed
    require(blockAlign == channels * bps,
      s"blockAlign $blockAlign != channels $channels x $bps bytes/sample")
    val nL = dataLen / blockAlign * channels
    require(dataOff.toLong + nL * bps <= bytes.length, "truncated PCM payload")
    val n = nL.toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val off = dataOff + i * bps
      out(i) = bits match {
        case 8 => bytes(off) & 0xff
        case 16 => (bytes(off) & 0xff) | (bytes(off + 1) << 8) // sign-extends
        case 24 => (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
          (bytes(off + 2) << 16)
        case 32 => leInt(bytes, off)
      }
      i += 1
    }
    (rate, channels, bits, out)
  }

  /** IEEE-float WAV (format tag 3, 32-bit — the ML audio-corpus staple;
    * librosa/soundfile write it by default for float arrays): frame-major
    * channel-interleaved little-endian float32 samples. A `fact` chunk,
    * when present, rides the generic chunk walk. Fails closed on integer
    * PCM (route through [[decodeWavSamples]]) and 64-bit float.
    */
  def decodeWavFloatSamples(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val layout = wavLayout(bytes)
    require(layout.isDefined, "not a RIFF/WAVE payload")
    val (tag, channels, rate, blockAlign, bits, dataOff, dataLen) = layout.get
    require(tag == 3, s"format tag $tag is not IEEE float (PCM decodes " +
      "through decodeWavSamples)")
    require(bits == 32, s"float WAV bits $bits unsupported (32 only)")
    require(rate > 0 && blockAlign > 0, "malformed fmt chunk")
    require(blockAlign == channels * 4,
      s"blockAlign $blockAlign != channels $channels x 4 bytes/sample")
    val nL = dataLen / blockAlign * channels
    require(dataOff.toLong + nL * 4 <= bytes.length, "truncated float payload")
    val n = nL.toInt
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = java.lang.Float.intBitsToFloat(leInt(bytes, dataOff + i * 4))
      i += 1
    }
    (rate, channels, out)
  }

  /** Float WAV with a real payload (the encode half for fixtures/oracles):
    * format tag 3, 18-byte fmt (cbSize 0) + fact chunk + data — the exact
    * layout soundfile/libsndfile emit.
    */
  def synthWavFloat(sampleRate: Int, channels: Int, nFrames: Int)(
      sample: (Int, Int) => Float): Array[Byte] = {
    val blockAlign = channels * 4
    val dataSize = nFrames * blockAlign
    val total = 12 + (8 + 18) + (8 + 4) + (8 + dataSize)
    val out = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(total - 8).put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(18)
      .putShort(3).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort)
      .putShort(32).putShort(0) // cbSize = 0
    out.put("fact".getBytes("US-ASCII")).putInt(4).putInt(nFrames)
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    for (f <- 0 until nFrames; ch <- 0 until channels) out.putFloat(sample(f, ch))
    out.array()
  }

  /** Float-WAV twin of [[wavToSamples]]: one row per (frame_idx, channel),
    * FloatType values. Generator shape, zero shuffle, file = parallelism
    * unit.
    */
  def wavFloatToSamples(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("channel", IntegerType, nullable = false),
      StructField("value", FloatType, nullable = false))) { payload =>
      val (_, ch, samples) = decodeWavFloatSamples(payload)
      // Seq[Any]: a bare Seq(Int, Int, Float) unifies to Seq[Float] and
      // silently widens the indices (weak conformance)
      samples.indices.iterator.map(i => Seq[Any](i / ch, i % ch, samples(i)))
    }

  /** WAV binary column → PCM sample rows (pass-through columns preserved;
    * one row per (frame_idx, channel)). Generator shape like pngToPixels:
    * flatMap, zero shuffle — at 100 TB the parallelism unit is the FILE,
    * exactly how audio corpora shard.
    */
  def wavToSamples(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("channel", IntegerType, nullable = false),
      StructField("value", IntegerType, nullable = false))) { payload =>
      val (_, ch, _, samples) = decodeWavSamples(payload)
      samples.indices.iterator.map(i => Seq[Any](i / ch, i % ch, samples(i)))
    }

  /** STFT band energies over decoded PCM samples — the audio
    * FEATURE-EXTRACT step (r10b): the fixed-point relational DFT the
    * audio modality needs next to the image codecs' pixel paths
    * (spectral features are what audio curation filters on — silence,
    * bandwidth, tonality). Input: `wavToSamples`' shape (keyCols…,
    * frame_idx, channel, value). Output: one row per (keyCols…,
    * channel, frame, band) with 2^20 fixed-point DFT sums and the
    * band's energy:
    *
    *   sc_fp = Σ_n floor(x_n · cos(2π·band·n/frameSize) · 2^20)
    *   ss_fp = Σ_n floor(x_n · sin(…) · 2^20)    (n = sample − frame·hop)
    *   energy = (sc_fp/2^20)² + (ss_fp/2^20)²
    *
    * The per-term floor makes every accumulation integer-exact (the
    * emb1/lm1 recipe), so the sums — and the energy derived from them —
    * are deterministic under any partitioning and engine-identical when
    * an oracle mirrors the same chain (au1's margin scan proves the
    * fixture sits off the floor boundaries).
    *
    * Scale shape: each sample lands in ≤ ceil(frameSize/hop) frames ×
    * nBands rows (documented inflation), then ONE map-side-combinable
    * aggregation — no window, no driver. Trailing partial frames emit
    * with the samples they have (the caller filters on n_samples if it
    * wants full frames only).
    */
  def stftBandEnergy(
      samples: DataFrame,
      frameSize: Int, hop: Int, nBands: Int,
      keyCols: Seq[String] = Seq("media_id"),
      idxCol: String = "frame_idx",
      valueCol: String = "value"): DataFrame = {
    require(frameSize > 0 && hop > 0 && hop <= frameSize,
      s"bad STFT geometry frame=$frameSize hop=$hop")
    require(nBands >= 1 && nBands <= frameSize, s"bands $nBands out of range")
    val w0 = 2.0 * math.Pi / frameSize
    val i = col(idxCol).cast("long")
    val fLo = greatest(lit(0L),
      floor((i - lit(frameSize.toLong)) / lit(hop.toLong)).cast("long") + lit(1L))
    val fHi = floor(i / lit(hop.toLong)).cast("long")
    val exploded = samples
      .withColumn("frame", explode(sequence(fLo, fHi)))
      .withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
      .withColumn("__n", i - col("frame") * lit(hop.toLong))
      .withColumn("__theta",
        lit(w0) * (col("band").cast("double") * col("__n").cast("double")))
    val x = col(valueCol).cast("double")
    exploded
      .withColumn("__c", floor(x * cos(col("__theta")) * lit(1048576.0)).cast("long"))
      .withColumn("__s", floor(x * sin(col("__theta")) * lit(1048576.0)).cast("long"))
      .groupBy((keyCols.map(col) :+ col("channel") :+ col("frame") :+ col("band")): _*)
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__c")).as("sc_fp"), sum(col("__s")).as("ss_fp"))
      .withColumn("energy",
        (col("sc_fp").cast("double") / lit(1048576.0)) *
          (col("sc_fp").cast("double") / lit(1048576.0)) +
          (col("ss_fp").cast("double") / lit(1048576.0)) *
            (col("ss_fp").cast("double") / lit(1048576.0)))
  }

  /** Average-hash (aHash) perceptual image fingerprint — the IMAGE
    * near-dup key a multimodal crawl dedups on (the pixel-space sibling
    * of text simhash / embedding RHP-LSH): integer luma (2R + 5G + B)
    * per source pixel → bilinear 8×8 thumbnail via [[resizePixels]] →
    * 2^20 fixed-point cells → each bit = cell ABOVE the 64-cell mean,
    * compared in INTEGER space (cell·64 > Σcells — no division, no
    * float compare, bit-deterministic) → two 32-bit halves
    * (`phash_lo` = cells 0..31 row-major, `phash_hi` = 32..63), packed
    * with shifts so no pow touches the path.
    *
    * Scale shape: one keyed aggregation (luma), the resize joins, one
    * keyed window + aggregation — all key-partitioned, nothing global.
    */
  def perceptualHash(
      pixels: DataFrame,
      srcW: Int, srcH: Int,
      keyCols: Seq[String] = Seq("img_id")): DataFrame = {
    val luma = pixels
      .groupBy((keyCols.map(col) :+ col("px_row") :+ col("px_col")): _*)
      .agg(sum(when(col("channel") === 0, col("value") * 2)
        .when(col("channel") === 1, col("value") * 5)
        .when(col("channel") === 2, col("value"))).as("value"))
    val cells = resizePixels(luma, srcW, srcH, 8, 8, "bilinear", keyCols)
      .withColumn("__fp", floor(col("value") * lit(1048576.0)).cast("long"))
    val withSum = cells.withColumn("__tot",
      sum(col("__fp")).over(Window.partitionBy(keyCols.map(col): _*)))
      .withColumn("__bit", (col("px_row") * 8 + col("px_col")).cast("int"))
      .withColumn("__on", col("__fp") * 64 > col("__tot"))
    withSum.groupBy(keyCols.map(col): _*)
      .agg(
        coalesce(sum(when(col("__on") && col("__bit") < 32,
          expr("shiftleft(CAST(1 AS BIGINT), __bit)"))), lit(0L)).as("phash_lo"),
        coalesce(sum(when(col("__on") && col("__bit") >= 32,
          expr("shiftleft(CAST(1 AS BIGINT), __bit - 32)"))), lit(0L)).as("phash_hi"))
  }

  /** Hamming-radius IMAGE near-dup pairs over [[perceptualHash]] output
    * by pigeonhole banding (the e14 shape: maxHamming+1 equal bands ⇒ a
    * pair within the radius shares at least one band exactly — zero
    * false negatives): equi-join per band, verify with
    * bit_count(xor) over both halves. `maxHamming` must be 2^k − 1
    * (bands then align to the 32-bit halves). Output (a, b, hamming),
    * a < b.
    */
  def phashNearDupPairs(
      hashes: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "img_id"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64 &&
      ((maxHamming + 1) & maxHamming) == 0,
      s"maxHamming must be 2^k - 1 (0, 1, 3, 7, 15, 31), got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands
    val bands = (0 until nBands).map { b =>
      val off = b * width
      val half = if (off < 32) col("phash_lo") else col("phash_hi")
      val lo = off % 32
      val bits =
        if (width >= 32) half // one band per half
        else pmod(shiftright(half, lo), lit(1L << width))
      struct(lit(b).as("band"), bits.as("bits"))
    }
    val exploded = hashes.select(col(idCol), col("phash_lo"), col("phash_hi"),
        explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("phash_lo"), col("phash_hi"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    exploded.select(col(idCol).as("a"), col("phash_lo").as("lo_a"),
        col("phash_hi").as("hi_a"), col("band"), col("bits"))
      .join(exploded.select(col(idCol).as("b"), col("phash_lo").as("lo_b"),
        col("phash_hi").as("hi_b"), col("band"), col("bits")),
        Seq("band", "bits"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(expr("lo_a ^ lo_b")) + bit_count(expr("hi_a ^ hi_b")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Audio twin of `withDecodedMeta`: partition-mapped WAV header decode,
    * no shuffle, typed `audio_meta` struct (NULL when the payload is not
    * canonical PCM WAV).
    */
  def withAudioMeta(media: DataFrame, bytesCol: String = "bytes"): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields :+
      StructField("audio_meta", audioMetaSchema))
    val bytesIdx = media.schema.fieldIndex(bytesCol)
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq :+ decodeWavMeta(r.getAs[Array[Byte]](bytesIdx))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ---- real video container parsing (AVI: RIFF 'AVI ' / hdrl / movi) ----
  //
  // MJPEG-in-AVI makes `sampleFrames` a real codec path: the RIFF walk is
  // the WAV machinery's sibling, and each '00dc' chunk is a complete JPEG
  // that [[Jpeg.decodeJpegPixels]] already decodes. Fail-closed doctrine:
  // any stream that is not a single MJPG video stream rejects loudly
  // (cinepak/DIB/audio would otherwise fabricate frames).

  /** Assemble an MJPEG AVI container around complete per-frame JPEG
    * payloads (the encode half for fixtures/oracles — the synthWavPcm
    * pattern): RIFF('AVI ') → LIST(hdrl: avih + LIST(strl: strh'vids'/
    * 'MJPG' + strf BITMAPINFOHEADER)) → LIST(movi: '00dc' chunks, even-
    * padded per RIFF).
    */
  def synthAviMjpeg(width: Int, height: Int, usecPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty, "an AVI needs at least one frame")
    require(usecPerFrame > 0, s"bad frame duration $usecPerFrame")
    frames.foreach(f => require(f.length >= 2 &&
      (f(0) & 0xff) == 0xff && (f(1) & 0xff) == 0xd8,
      "every MJPEG frame must be a complete JPEG (SOI missing)"))
    def chunk(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length % 2 // RIFF chunks are word-aligned
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      b.array()
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("LIST".getBytes("US-ASCII")).putInt(4 + payload.length)
        .put(listType.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val maxFrame = frames.map(_.length).max
    val avih = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(usecPerFrame).putInt(0).putInt(0).putInt(0)
      .putInt(frames.length).putInt(0).putInt(1).putInt(maxFrame)
      .putInt(width).putInt(height) // + 16 reserved zero bytes
    val strh = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strh.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(usecPerFrame).putInt(1000000) // scale/rate = frame duration
      .putInt(0).putInt(frames.length).putInt(maxFrame).putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
    val strf = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .put("MJPG".getBytes("US-ASCII")).putInt(width * height * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val hdrl = list("hdrl", chunk("avih", avih.array()) ++
      list("strl", chunk("strh", strh.array()) ++ chunk("strf", strf.array())))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val out = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body)
    out.array()
  }

  /** REAL MJPEG-AVI decode: walk RIFF → hdrl (geometry + the fail-closed
    * single-MJPG-stream check) → movi ('00dc'/'00db' frame chunks, in
    * stream order) → (width, height, usec_per_frame, JPEG payloads).
    * Truncation anywhere, a non-MJPG codec, multiple streams, or a frame
    * count disagreeing with the header all reject with descriptive
    * errors (the Gif bounds-check lesson applied from the start).
    */
  def aviMjpegFrames(bytes: Array[Byte]): (Int, Int, Int, Seq[Array[Byte]]) = {
    require(bytes != null && bytes.length >= 12 &&
      asciiAt(bytes, 0, 4) == "RIFF" && asciiAt(bytes, 8, 4) == "AVI ",
      "not a RIFF AVI container")
    val riffEnd = math.min(bytes.length.toLong, 8L + (leInt(bytes, 4).toLong & 0xffffffffL)).toInt
    var width = -1; var height = -1; var usec = -1; var total = -1
    var streams = -1; var vidsMjpg = false
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walkHdrl(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val cc = asciiAt(bytes, pos, 4)
        val sz = leInt(bytes, pos + 4)
        require(sz >= 0 && pos + 8 + sz <= to, s"hdrl chunk '$cc' overruns the list")
        if (cc == "avih") {
          require(sz >= 40, s"avih too short ($sz)")
          val p = pos + 8 // payload start (past the chunk header)
          usec = leInt(bytes, p)
          total = leInt(bytes, p + 16)
          streams = leInt(bytes, p + 24)
          width = leInt(bytes, p + 32)
          height = leInt(bytes, p + 36)
        } else if (cc == "LIST" && sz >= 4 && asciiAt(bytes, pos + 8, 4) == "strl") {
          // first chunk inside strl is strh
          val sPos = pos + 12
          require(sPos + 8 <= to && asciiAt(bytes, sPos, 4) == "strh",
            "strl list does not start with strh")
          val sSz = leInt(bytes, sPos + 4)
          require(sSz >= 8 && sPos + 8 + sSz <= to, "strh overruns the list")
          val fccType = asciiAt(bytes, sPos + 8, 4)
          val handler = asciiAt(bytes, sPos + 12, 4)
          require(fccType == "vids",
            s"stream type '$fccType' unsupported (MJPEG video only)")
          require(handler == "MJPG" || handler == "mjpg",
            s"video codec '$handler' unsupported (MJPG only — no fabricated frames)")
          vidsMjpg = true
        }
        pos += 8 + sz + (sz % 2)
      }
    }
    def walkMovi(from: Int, to: Int): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val cc = asciiAt(bytes, pos, 4)
        val sz = leInt(bytes, pos + 4)
        require(sz >= 0 && pos + 8 + sz <= to, s"movi chunk '$cc' overruns the list")
        if (cc == "00dc" || cc == "00db") {
          val f = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + sz)
          require(f.length >= 2 && (f(0) & 0xff) == 0xff && (f(1) & 0xff) == 0xd8,
            s"movi frame ${frames.length} is not a JPEG (no SOI)")
          frames += f
        } else require(cc == "JUNK",
          s"movi chunk '$cc' unsupported (single MJPEG video stream only)")
        pos += 8 + sz + (sz % 2)
      }
    }
    var pos = 12
    while (pos + 8 <= riffEnd) {
      val cc = asciiAt(bytes, pos, 4)
      val sz = leInt(bytes, pos + 4)
      require(sz >= 0 && pos + 8 + sz <= riffEnd, s"chunk '$cc' overruns the file")
      if (cc == "LIST") {
        require(sz >= 4, "LIST chunk too short")
        asciiAt(bytes, pos + 8, 4) match {
          case "hdrl" => walkHdrl(pos + 12, pos + 8 + sz)
          case "movi" => walkMovi(pos + 12, pos + 8 + sz)
          case _ => // INFO etc.: ignorable metadata lists
        }
      } else require(cc == "idx1" || cc == "JUNK",
        s"top-level chunk '$cc' unsupported")
      pos += 8 + sz + (sz % 2)
    }
    require(width > 0 && height > 0 && usec > 0, "missing or malformed avih header")
    require(streams == 1, s"AVI carries $streams streams (single MJPEG stream only)")
    require(vidsMjpg, "no MJPG video stream declared in hdrl")
    require(frames.length == total,
      s"movi holds ${frames.length} frames, header declares $total")
    (width, height, usec, frames.toSeq)
  }

  /** AVI binary column → one row per frame (pass-through columns
    * preserved): frame_idx, frame_us (presentation time), frame (the
    * complete JPEG payload — feed to [[Jpeg.jpegToPixels]]). Generator
    * shape: flatMap, zero shuffle; corpora parallelize by FILE. This
    * turns [[sampleFrames]]' synthetic explosion into a real codec path —
    * `aviToFrames(df).filter($"frame_idx" % stride === 0)` is frame
    * sampling over real video bytes.
    */
  def aviToFrames(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_us", LongType, nullable = false),
      StructField("frame", BinaryType, nullable = false))) { payload =>
      val (_, _, usec, frames) = aviMjpegFrames(payload)
      frames.iterator.zipWithIndex.map { case (f, i) =>
        Seq[Any](i, i.toLong * usec, f)
      }
    }

  /** REAL pixel resize over decoded image tables — the thumbnail /
    * model-input-normalization step a multimodal corpus runs after
    * decode (r10: upgrades the metadata stub below to actual pixels).
    * Input is the codecs' common tall shape (keyCols…, px_row, px_col,
    * channel, value) with DENSE per-image coverage; output is the same
    * shape on the dstW×dstH grid. Center mapping is the standard
    * half-pixel convention (align_corners = false), edges replicate
    * (coordinates clamp).
    *
    * Kernels: "nearest" — one equi-join, value passthrough;
    * "bilinear" — 4 taps exploded then re-joined, each dst pixel's sum
    * assembled in a FIXED order (per-tap conditional max, then
    * ((t0+t1)+t2)+t3) so the float result is bit-deterministic under any
    * partitioning — the same +,*,/ chain evaluates identically in DuckDB,
    * which is what lets mm17 hash raw doubles cross-engine.
    *
    * Scale shape: per-image work is a key-partitioned equi-join (keys ×
    * src coords), zero driver involvement; the 4× tap inflation is the
    * only overhead — identical to `Regrid.regridBilinear`'s plan, keyed.
    */
  def resizePixels(
      pixels: DataFrame,
      srcW: Int, srcH: Int, dstW: Int, dstH: Int,
      kernel: String = "bilinear",
      keyCols: Seq[String] = Seq("img_id"),
      rowCol: String = "px_row", colCol: String = "px_col",
      valueCol: String = "value"): DataFrame = {
    require(srcW > 0 && srcH > 0 && dstW > 0 && dstH > 0,
      s"bad resize geometry ${srcW}x$srcH -> ${dstW}x$dstH")
    val rx = srcW.toDouble / dstW
    val ry = srcH.toDouble / dstH
    val keys = pixels.select(keyCols.map(col): _*).distinct()
    val grid = keys
      .withColumn(rowCol, explode(sequence(lit(0), lit(dstH - 1))))
      .withColumn(colCol, explode(sequence(lit(0), lit(dstW - 1))))
    val u = (col(colCol).cast("double") + lit(0.5)) * lit(rx) - lit(0.5)
    val v = (col(rowCol).cast("double") + lit(0.5)) * lit(ry) - lit(0.5)
    def clampC(c: org.apache.spark.sql.Column, hi: Int) = least(greatest(c, lit(0)), lit(hi))
    val srcSide = pixels
      .withColumnRenamed(rowCol, "__sr").withColumnRenamed(colCol, "__sc")
    kernel match {
      case "nearest" =>
        grid
          .withColumn("__sr", clampC(floor(v + lit(0.5)).cast("int"), srcH - 1))
          .withColumn("__sc", clampC(floor(u + lit(0.5)).cast("int"), srcW - 1))
          .join(srcSide, keyCols :+ "__sr" :+ "__sc")
          .drop("__sr", "__sc")
      case "bilinear" =>
        val staged = grid
          .withColumn("__c0", floor(u).cast("int"))
          .withColumn("__r0", floor(v).cast("int"))
          .withColumn("__fx", u - floor(u))
          .withColumn("__fy", v - floor(v))
        val taps = for { dr <- 0 to 1; dc <- 0 to 1 } yield {
          val w = (if (dr == 0) lit(1.0) - col("__fy") else col("__fy")) *
            (if (dc == 0) lit(1.0) - col("__fx") else col("__fx"))
          struct(lit(dr * 2 + dc).as("__tap"),
            clampC(col("__r0") + dr, srcH - 1).as("__sr"),
            clampC(col("__c0") + dc, srcW - 1).as("__sc"), w.as("__w"))
        }
        val exploded = staged
          .withColumn("__t", explode(array(taps: _*)))
          .select((keyCols.map(col) :+ col(rowCol) :+ col(colCol)) ++
            Seq(col("__t.__tap").as("__tap"), col("__t.__sr").as("__sr"),
              col("__t.__sc").as("__sc"), col("__t.__w").as("__w")): _*)
        val joined = exploded.join(srcSide, keyCols :+ "__sr" :+ "__sc")
        val passCols = srcSide.columns.toSeq
          .filterNot(c => (keyCols :+ "__sr" :+ "__sc" :+ valueCol).contains(c))
        // one conditional slot per tap, then a FIXED-order sum — a plain
        // sum() would accumulate in partition order and lose bit
        // determinism (the stat1 lesson)
        val slots = (0 to 3).map(k =>
          max(when(col("__tap") === k,
            col(valueCol).cast("double") * col("__w"))).as(s"__t$k"))
        joined
          .groupBy((keyCols.map(col) :+ col(rowCol) :+ col(colCol)) ++
            passCols.map(col): _*)
          .agg(slots.head, slots.tail: _*)
          .withColumn(valueCol,
            ((col("__t0") + col("__t1")) + col("__t2")) + col("__t3"))
          .drop("__t0", "__t1", "__t2", "__t3")
      case other =>
        throw new IllegalArgumentException(
          s"resize kernel '$other' (nearest | bilinear)")
    }
  }

  /** STUB-backed resize metadata: recomputes the meta struct for a
    * target box preserving aspect ratio ([[resizePixels]] is the pixel
    * half).
    */
  def withResizedMeta(decoded: DataFrame, maxSide: Int): DataFrame =
    decoded
      .withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("meta.width"), col("meta.height"))))
      .withColumn("resized_meta", struct(
        (col("meta.width") * col("scale")).cast("int").as("width"),
        (col("meta.height") * col("scale")).cast("int").as("height"),
        col("meta.channels").as("channels"),
        col("meta.n_frames").as("n_frames"),
        col("meta.format").as("format")))
      .drop("scale")

  /** Generator-shaped frame sampling: one row per sampled frame index
    * (every `stride`-th frame of n_frames). The frame payload decode is the
    * STUB boundary; the explosion shape is the real operator (M7's
    * one-in-many-out analog for video).
    */
  def sampleFrames(decoded: DataFrame, stride: Int, idCol: String = "media_id"): DataFrame =
    decoded.select(col(idCol), col("meta"),
      explode(sequence(lit(0), col("meta.n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Attach a STUB embedding column sized `dim`, ready for Similarity
    * (bruteForceTopK / lshTopK) — the multimodal→vector hand-off.
    */
  def withEmbedding(media: DataFrame, dim: Int, bytesCol: String = "bytes"): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields :+
      StructField("embedding", ArrayType(FloatType)))
    val bytesIdx = media.schema.fieldIndex(bytesCol)
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq :+ stubEmbed(r.getAs[Array[Byte]](bytesIdx), dim).toSeq))
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
