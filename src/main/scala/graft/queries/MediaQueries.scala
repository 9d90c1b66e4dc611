package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Media I/O: binary and header metadata, audio, video, CSV and JSONL round
  * trips, archives and tensor shards, and the census over every decoder. */
object MediaQueries extends Family {
  import Helpers._

  /** PIPE5 — the MULTIMODAL surface composed in ONE plan: six real
    * containers (palette PNG, baseline JPEG, animated-GIF frame, BMP,
    * PCM WAV, float32 GeoTIFF) each decoded by its own codec, reduced to
    * per-kind sample censuses, and unioned — the "mixed media lake"
    * census a training-data pipeline runs before deciding what to keep.
    * Every codec's closed form re-aggregates in the oracle, so a defect
    * in ANY of the six decoders breaks the hash.
    */
  query("pipe5_media_census") { (s, d) =>
    import s.implicits._
    def census(kind: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n"), sum(col("value").cast("long")).as("sum_v"),
          min(col("value").cast("int")).as("min_v"), max(col("value").cast("int")).as("max_v"))
        .select(lit(kind).as("kind"), col("n"), col("sum_v"), col("min_v"), col("max_v"))
    val png = operators.MultimodalOps.synthPngPalette(12, 9,
      (0 until 7).map(i => ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256)), r => r % 5)(
      (r, c) => (r * 5 + c * 3) % 7)
    val jpg = operators.Jpeg.synthJpeg(20, 12, 1, Seq(Array.fill(64)(16)), restartInterval = 2) {
      (_, by, bx) =>
        val nat = new Array[Int](64)
        nat(0) = ((by * 3 + bx) * 7) % 40 - 20
        nat
    }
    val gif = operators.Gif.synthGif(14, 10,
      (0 until 6).map(i => ((i * 41) % 256, (i * 73) % 256, (i * 97) % 256)),
      Seq(operators.Gif.FrameSpec(0, 0, 14, 10)((r, c) => (r * 7 + c * 3) % 6)))
    val bmp = operators.MultimodalOps.synthBmp(9, 6, 3)(
      (r, c, ch) => (r * 37 + c * 11 + ch * 71 + 3) % 256)
    val wav = operators.MultimodalOps.synthWavPcm(44100, 2, 16, 30)(
      (f, ch) => ((f * 773 + ch * 331) % 65536) - 32768)
    val tif = operators.Tiff.synthTiff(16, 8, 16, 8, littleEndian = true, tile = true)(
      (r, c) => ((r * 13 + c) % 97).toFloat)
    val tifPx = operators.RasterBridge.explodeBlocks(
      operators.Tiff.tiffToBlocks(Seq((1L, tif)).toDF("scene_id", "bytes")),
      blockH = 8, blockW = 16, nodata = -9999.0f)
      .select(col("value").cast("int").as("value"))
    // r10: the REJECTS census — a mixed crawl bag (2 decodable files + 6
    // unsupported/corrupt ones) through `mediaCensusWithRejects`, so the
    // same plan reports skip counts per container format instead of
    // relying on exceptions (the 100 TB operability contract). sum_v for
    // a bag row is the count of decoded values (0 for rejects — kept
    // NULL-free so the census stays integer-typed cross-engine).
    val webp = "RIFF".getBytes("US-ASCII") ++ Array[Byte](20, 0, 0, 0) ++
      "WEBPVP8 ".getBytes("US-ASCII") ++ Array.fill[Byte](12)(7)
    val gifT = operators.Gif.synthGif(6, 4, // truncated stream (interlace
      (0 until 4).map(i => (i * 50, i * 60, i * 70)), // decodes since r10)
      Seq(operators.Gif.FrameSpec(0, 0, 6, 4)((r, c) => (r + c) % 4)))
      .dropRight(10)
    val bmpRle = operators.MultimodalOps.synthBmp(5, 4, 3)((r, c, ch) => r + c + ch)
    bmpRle(30) = 1 // BI_RLE8
    // r10b: a DECODABLE lossless WebP rides next to the lossy reject —
    // the census reports both ('z_webp_ok' and 'z_webp_rej')
    val webpOk = operators.Webp.synthWebpLossless(6, 4, (r, c) =>
      (((r * 11 + c * 7 + 5) % 256) << 24) | (((r * 31 + c) % 256) << 16) |
        (((r + c * 13) % 256) << 8) | ((r * 3 + c * 17) % 256))
    // r12: crawl-audio staples recognized BY NAME — an ID3v2-tagged MP3
    // and a fLaC stream reject countably ("1 mp3 skipped") instead of
    // sinking into the unknown bucket (VERDICT r11 missing-4)
    val mp3 = "ID3".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 0, 0, 10) ++ Array.fill[Byte](10)(0)
    val flac = "fLaC".getBytes("US-ASCII") ++ Array.fill[Byte](8)(0)
    // r13: APNG recognized BY NAME (acTL chunk before the first IDAT) —
    // the environment ships no reference encoder to conform a decoder
    // against (no PIL/ffmpeg/magick; the JDK cannot write APNG), so per
    // the conformance law it rejects countably like mp3/flac (decision
    // note in NOTES_BUILDER r13). The fixture is a valid PNG stream with
    // a correctly-CRC'd acTL spliced after IHDR (signature+IHDR = 33 B).
    val apng = {
      val base = operators.MultimodalOps.synthPng(6, 4, 1, _ => 0)(
        (r, c, _) => (r * 7 + c) % 256)
      val data = Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) // 1 frame, loop forever
      val crc = new java.util.zip.CRC32()
      crc.update("acTL".getBytes("US-ASCII")); crc.update(data)
      val v = crc.getValue
      base.take(33) ++ Array[Byte](0, 0, 0, 8) ++
        "acTL".getBytes("US-ASCII") ++ data ++
        Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte) ++
        base.drop(33)
    }
    val bag = Seq((1L, png), (2L, webp), (3L, gifT), (4L, bmpRle),
      (5L, wav), (6L, Array[Byte](1, 2, 3, 4, 5)), (7L, webpOk),
      (8L, mp3), (9L, flac), (10L, apng))
      .toDF("media_id", "bytes")
    val bagRows = operators.MultimodalOps.mediaCensusWithRejects(bag)
      .groupBy(col("format"), col("ok"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("n_values"), lit(0L))).as("sum_v"))
      .select(concat(lit("z_"), col("format"),
          when(col("ok"), lit("_ok")).otherwise(lit("_rej"))).as("kind"),
        col("n"), col("sum_v"),
        lit(0).as("min_v"), lit(0).as("max_v"))
    census("bmp", operators.MultimodalOps.bmpToPixels(Seq((1L, bmp)).toDF("img_id", "bytes")))
      .unionAll(census("gif", operators.Gif.gifToFrames(Seq((1L, gif)).toDF("media_id", "bytes"))))
      .unionAll(census("jpeg", operators.Jpeg.jpegToPixels(Seq((1L, jpg)).toDF("img_id", "bytes"))))
      .unionAll(census("png", operators.MultimodalOps.pngToPixels(Seq((1L, png)).toDF("img_id", "bytes"))))
      .unionAll(census("tiff", tifPx))
      .unionAll(census("wav", operators.MultimodalOps.wavToSamples(Seq((1L, wav)).toDF("media_id", "bytes"))))
      .unionAll(bagRows)
      .orderBy("kind")
  } {
    // pipe5: each codec's closed form re-aggregated to its census — a
    // defect in any of the six decoders shifts a sum.
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    def census(kind: String, n: Int, v: String) =
      s"""SELECT '$kind' AS kind, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(min(v) AS INT) AS min_v, CAST(max(v) AS INT) AS max_v
        |FROM (SELECT $v AS v FROM range($n) t(id))""".stripMargin
    Seq(
      census("bmp", 162,
        "(id // 27 * 37 + (id % 27) // 3 * 11 + id % 3 * 71 + 3) % 256"),
      census("gif", 560,
        """CASE id % 4
          |    WHEN 0 THEN (((id // 56 * 7 + (id % 56) // 4 * 3) % 6) * 41) % 256
          |    WHEN 1 THEN (((id // 56 * 7 + (id % 56) // 4 * 3) % 6) * 73) % 256
          |    WHEN 2 THEN (((id // 56 * 7 + (id % 56) // 4 * 3) % 6) * 97) % 256
          |    ELSE 255 END""".stripMargin),
      census("jpeg", 240,
        s"""LEAST(255, GREATEST(0, CAST(floor(
          |    $c0sq * CAST(((((id // 20 // 8) * 3 + (id % 20 // 8)) * 7) % 40 - 20) * 16 AS DOUBLE)
          |      * 0.25 + 128.0 + 0.5) AS INT)))""".stripMargin),
      census("png", 324,
        """CASE id % 3
          |    WHEN 0 THEN (((id // 36 * 5 + (id % 36) // 3 * 3) % 7) * 37) % 256
          |    WHEN 1 THEN (((id // 36 * 5 + (id % 36) // 3 * 3) % 7) * 59) % 256
          |    ELSE (((id // 36 * 5 + (id % 36) // 3 * 3) % 7) * 83) % 256 END""".stripMargin),
      census("tiff", 128, "(id // 16 * 13 + id % 16) % 97"),
      census("wav", 60, "(id // 2 * 773 + id % 2 * 331) % 65536 - 32768"),
      // the rejects-census bag: per-(format, ok) file counts with the
      // decoded-value totals for the ok files — all literals, because
      // the bag's composition IS the contract (7 rejects incl. the
      // named mp3/flac/apng skips, 2 ok)
      """SELECT kind, CAST(n AS BIGINT) AS n, CAST(sum_v AS BIGINT) AS sum_v,
        |  CAST(0 AS INT) AS min_v, CAST(0 AS INT) AS max_v
        |FROM (VALUES ('z_apng_rej', 1, 0), ('z_bmp_rej', 1, 0),
        |  ('z_flac_rej', 1, 0),
        |  ('z_gif_rej', 1, 0), ('z_mp3_rej', 1, 0),
        |  ('z_png_ok', 1, 324), ('z_unknown_rej', 1, 0),
        |  ('z_wav_ok', 1, 60), ('z_webp_ok', 1, 96),
        |  ('z_webp_rej', 1, 0)) t(kind, n, sum_v)""".stripMargin
    ).mkString("", "\nUNION ALL\n", "\nORDER BY kind")
  }

  query("mm1_binary_meta") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_md5"))
      .orderBy("doc_id")
  }("SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5 FROM documents ORDER BY doc_id")

  /** MM2 — multimodal decode plumbing over binary payloads: documents.text
    * as bytes → partition-mapped stub decode → typed metadata + frame
    * sampling. The stub's md5 derivation is SQL-expressible, so the oracle
    * verifies the whole distributed path, not just row counts.
    */
  query("mm2_decode_meta") { (s, d) =>
    val media = Tables.documents(s, d)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("bytes"),
        lit("img").as("format"))
    val decoded = operators.MultimodalOps.withDecodedMeta(media)
    val frames = operators.MultimodalOps.sampleFrames(decoded, stride = 4)
      .groupBy("media_id").agg(count(lit(1)).as("n_sampled"))
    decoded
      .select(col("media_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("meta.channels").as("channels"),
        col("meta.n_frames").as("n_frames"))
      .join(frames, Seq("media_id"))
      .orderBy("media_id")
  }(s"""WITH t AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
       |SELECT media_id,
       |  CAST(16 + ${sqlHexVal("substr(h,1,4)", 4)} % 2048 AS INTEGER) AS width,
       |  CAST(16 + ${sqlHexVal("substr(h,5,4)", 4)} % 2048 AS INTEGER) AS height,
       |  CAST(1 + ${sqlHexVal("substr(h,9,1)", 1)} % 4 AS INTEGER) AS channels,
       |  CAST(1 + ${sqlHexVal("substr(h,10,3)", 3)} % 240 AS INTEGER) AS n_frames,
       |  CAST((${sqlHexVal("substr(h,10,3)", 3)} % 240) // 4 + 1 AS BIGINT) AS n_sampled
       |FROM t ORDER BY media_id""".stripMargin)

  /** MM3 — REAL format decode: synthesize valid PNG (RGBA) / BMP (24-bit)
    * header bytes from integer-derived dims, parse them back with the
    * actual header parsers (big-endian IHDR, little-endian DIB — no stub
    * on this path), and hash-check the recovered dims/channels/format
    * against the closed-form oracle.
    */
  query("mm3_header_decode") { (s, d) =>
    import s.implicits._
    val media = s.range(500).map { id =>
      val w = 16 + (id % 100).toInt
      val h = 16 + (id * 7 % 100).toInt
      val bytes =
        if (id % 2 == 0) operators.MultimodalOps.synthPngHeader(w, h, alpha = true)
        else operators.MultimodalOps.synthBmpHeader(w, h, bpp = 24)
      (id, "raw", bytes)
    }.toDF("media_id", "format", "bytes")
    operators.MultimodalOps.withDecodedMeta(media)
      .select(col("media_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("meta.channels").as("channels"),
        col("meta.format").as("detected_format"))
      .orderBy("media_id")
  }(
    // mm3: the header round-trip is the identity on the generated dims.
    """SELECT id AS media_id,
      |  CAST(16 + id % 100 AS INTEGER) AS width,
      |  CAST(16 + (id * 7) % 100 AS INTEGER) AS height,
      |  CAST(CASE WHEN id % 2 = 0 THEN 4 ELSE 3 END AS INTEGER) AS channels,
      |  CASE WHEN id % 2 = 0 THEN 'png' ELSE 'bmp' END AS detected_format
      |FROM range(500) t(id) ORDER BY media_id""".stripMargin)

  /** MM4 — REAL audio header decode: synthesize canonical 44-byte PCM WAV
    * headers from integer-derived params, parse them back with the actual
    * RIFF parser (little-endian fmt/data chunks, frame count from declared
    * data size / block align, integer-µs duration), hash-check the
    * round-trip.
    */
  query("mm4_wav_header") { (s, d) =>
    import s.implicits._
    val media = s.range(500).map { id =>
      val rate = 8000 * (1 + (id % 5).toInt)
      val ch = 1 + (id % 2).toInt
      val bits = 8 * (1 + (id % 3).toInt)
      val n = 1000L + id % 1000
      (id, operators.MultimodalOps.synthWavHeader(rate, ch, bits, n))
    }.toDF("media_id", "bytes")
    operators.MultimodalOps.withAudioMeta(media)
      .select(col("media_id"),
        col("audio_meta.sample_rate").as("sample_rate"),
        col("audio_meta.channels").as("channels"),
        col("audio_meta.bits_per_sample").as("bits_per_sample"),
        col("audio_meta.n_frames").as("n_frames"),
        col("audio_meta.duration_us").as("duration_us"))
      .orderBy("media_id")
  }(
    // mm4: the WAV round-trip is the identity on the generated params;
    // duration is integer division (both engines floor on positives).
    """SELECT id AS media_id,
      |  CAST(8000 * (1 + id % 5) AS INTEGER) AS sample_rate,
      |  CAST(1 + id % 2 AS INTEGER) AS channels,
      |  CAST(8 * (1 + id % 3) AS INTEGER) AS bits_per_sample,
      |  CAST(1000 + id % 1000 AS BIGINT) AS n_frames,
      |  CAST((1000 + id % 1000) * 1000000 // (8000 * (1 + id % 5)) AS BIGINT) AS duration_us
      |FROM range(500) t(id) ORDER BY media_id""".stripMargin)

  /** MM10 — REAL PCM WAV sample decode (the audio modality's pixel-level
    * codec; mm4 proved the header walk): 16-bit stereo, 8-bit unsigned
    * mono, and 24-bit mono payloads synthesized by the codec's own
    * writer, decoded back through the little-endian sign-extension rules,
    * hash-checked against closed-form regeneration — channel
    * de-interleaving and every sample width must be exact.
    */
  query("mm10_wav_samples") { (s, d) =>
    import s.implicits._
    val w1 = operators.MultimodalOps.synthWavPcm(44100, 2, 16, 30)(
      (f, ch) => ((f * 773 + ch * 331) % 65536) - 32768)
    val w2 = operators.MultimodalOps.synthWavPcm(8000, 1, 8, 40)(
      (f, _) => (f * 37) % 256)
    val w3 = operators.MultimodalOps.synthWavPcm(48000, 1, 24, 20)(
      (f, _) => ((f * 524287) % 16777216) - 8388608)
    operators.MultimodalOps.wavToSamples(
        Seq((1L, w1), (2L, w2), (3L, w3)).toDF("media_id", "bytes"))
      .orderBy("media_id", "frame_idx", "channel")
  }(
    // mm10: PCM samples regenerate closed-form — the interleave and the
    // per-width sign rules (8u / 16s / 24s LE) must be exact.
    """SELECT CAST(1 AS BIGINT) AS media_id, CAST(id // 2 AS INT) AS frame_idx,
      |  CAST(id % 2 AS INT) AS channel,
      |  CAST((id // 2 * 773 + id % 2 * 331) % 65536 - 32768 AS INT) AS value
      |FROM range(60) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id AS INT), CAST(0 AS INT),
      |  CAST((id * 37) % 256 AS INT)
      |FROM range(40) t(id)
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(id AS INT), CAST(0 AS INT),
      |  CAST((id * 524287) % 16777216 - 8388608 AS INT)
      |FROM range(20) t(id)
      |ORDER BY media_id, frame_idx, channel""".stripMargin)

  /** MM13 — a REAL video container (r8 verdict stretch item): MJPEG-in-AVI
    * sampled through the RIFF walk + the engine's own JPEG decoder. Two
    * synth AVIs — 4 grayscale frames and 2 color 4:2:0 frames, every
    * frame a complete DC-only baseline JPEG — decode via `aviToFrames` ∘
    * `jpegToPixels`; the mm7/mm8 closed-form oracle extends with a frame
    * dimension (and the container's per-frame presentation time). The
    * RIFF framing, hdrl stream checks, and chunk padding must be
    * invisible in the pixels.
    */
  query("mm13_avi_mjpeg") { (s, d) =>
    import s.implicits._
    val qG = Array.fill(64)(16)
    val gFrames = (0 until 4).map { f =>
      operators.Jpeg.synthJpeg(16, 8, 1, Seq(qG)) { (_, _, bx) =>
        val nat = new Array[Int](64)
        nat(0) = ((f * 13 + bx * 7) % 50) - 25
        nat
      }
    }
    val avi1 = operators.MultimodalOps.synthAviMjpeg(16, 8, 40000, gFrames)
    val qY = Array.fill(64)(16); val qC = Array.fill(64)(8)
    val cFrames = (0 until 2).map { f =>
      operators.Jpeg.synthJpeg(24, 20, 3, Seq(qY, qC),
        sampling = Seq((2, 2), (1, 1), (1, 1))) { (c, by, bx) =>
        val nat = new Array[Int](64)
        nat(0) = if (c == 0) ((f * 9 + by * 5 + bx * 3) % 48) - 24
          else ((c * 7 + f * 5 + by * 3 + bx * 5) % 30) - 15
        nat
      }
    }
    val avi2 = operators.MultimodalOps.synthAviMjpeg(24, 20, 33333, cFrames)
    val frames = operators.MultimodalOps.aviToFrames(
      Seq((1L, avi1), (2L, avi2)).toDF("media_id", "bytes"))
    operators.Jpeg.jpegToPixels(frames, bytesCol = "frame")
      .orderBy("media_id", "frame_idx", "px_row", "px_col", "channel")
  } {
    // mm13: the mm7/mm8 DC-only closed form extended with a frame
    // dimension + the container's presentation times (frame_idx · usec)
    val c0sq = operators.Jpeg.C0 * operators.Jpeg.C0
    s"""SELECT CAST(1 AS BIGINT) AS media_id, CAST(id // 128 AS INT) AS frame_idx,
      |  CAST((id // 128) * 40000 AS BIGINT) AS frame_us,
      |  CAST((id % 128) // 16 AS INT) AS px_row, CAST(id % 16 AS INT) AS px_col,
      |  CAST(0 AS INT) AS channel,
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST((((id // 128) * 13 + ((id % 16) // 8) * 7) % 50 - 25) * 16 AS DOUBLE)
      |      * 0.25 + 128.0 + 0.5) AS INT))) AS INT) AS value
      |FROM range(512) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id // 1440 AS INT),
      |  CAST((id // 1440) * 33333 AS BIGINT),
      |  CAST((id % 1440) // 72 AS INT), CAST(((id % 1440) % 72) // 3 AS INT),
      |  CAST(id % 3 AS INT),
      |  CAST(LEAST(255, GREATEST(0, CAST(floor(
      |    $c0sq * CAST(CASE WHEN id % 3 = 0
      |      THEN (((id // 1440) * 9 + ((id % 1440) // 72 // 8) * 5
      |        + (((id % 1440) % 72) // 3 // 8) * 3) % 48 - 24) * 16
      |      ELSE (((id % 3) * 7 + (id // 1440) * 5 + ((id % 1440) // 72 // 16) * 3
      |        + (((id % 1440) % 72) // 3 // 16) * 5) % 30 - 15) * 8
      |    END AS DOUBLE) * 0.25 + 128.0 + 0.5) AS INT))) AS INT)
      |FROM range(2880) t(id)
      |ORDER BY media_id, frame_idx, px_row, px_col, channel""".stripMargin
  }

  /** MM15 — IEEE-FLOAT WAV (format tag 3, the layout soundfile/librosa
    * write for float audio): stereo and mono payloads with the 18-byte
    * fmt + fact chunks riding the generic RIFF walk, decoded to exact
    * float32 samples. Sample values are dyadic rationals (k/64), so the
    * float32 payload and the oracle's double arithmetic are the same
    * numbers — the chunk walk and bit reassembly must be invisible.
    */
  query("mm15_wav_float") { (s, d) =>
    import s.implicits._
    val stereo = operators.MultimodalOps.synthWavFloat(44100, 2, 30)(
      (f, ch) => (f * 37 + ch * 11 - 50) / 64.0f)
    val mono = operators.MultimodalOps.synthWavFloat(16000, 1, 25)(
      (f, _) => (f * f - 300) / 64.0f)
    operators.MultimodalOps.wavFloatToSamples(
        Seq((1L, stereo), (2L, mono)).toDF("media_id", "bytes"))
      .orderBy("media_id", "frame_idx", "channel")
  }(
    // mm15: dyadic-rational float samples regenerate exactly in double
    // arithmetic (k/64 is the same number in float32 and float64)
    """SELECT CAST(1 AS BIGINT) AS media_id, CAST(id // 2 AS INT) AS frame_idx,
      |  CAST(id % 2 AS INT) AS channel,
      |  CAST(((id // 2) * 37 + (id % 2) * 11 - 50) AS DOUBLE) / 64.0 AS value
      |FROM range(60) t(id)
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(id AS INT), CAST(0 AS INT),
      |  CAST(id * id - 300 AS DOUBLE) / 64.0
      |FROM range(25) t(id)
      |ORDER BY media_id, frame_idx, channel""".stripMargin)

  /** AU1 — STFT band energies over a decoded stereo PCM WAV (the audio
    * feature-extract step, r10b): the full codec → samples →
    * `stftBandEnergy` chain (frame 17, hop 9 → overlapping frames, 4
    * bands; the PRIME frame size keeps every nonzero θ off the π/2
    * multiples where sin rounds to exactly 1.0 and a 1-ULP drift would
    * flip a floor). The oracle regenerates the samples closed-form and mirrors
    * the fixed-point DFT chain exactly (per-term floor ⇒ integer sums ⇒
    * identical energies); tools/au1_margin_scan.py proves every term
    * sits ≥ 2.5e-4 (×2^20 grid) from a floor boundary vs the proven
    * ≤1-ULP cos/sin cross-engine drift.
    */
  query("au1_stft_energy") { (s, d) =>
    import s.implicits._
    val wav = operators.MultimodalOps.synthWavPcm(8000, 2, 16, 48)(
      (f, ch) => ((f * 37 + ch * 19) % 200) - 100)
    val samples = operators.MultimodalOps.wavToSamples(
      Seq((1L, wav)).toDF("media_id", "bytes"))
    operators.MultimodalOps.stftBandEnergy(samples, 17, 9, 4)
      .orderBy("channel", "frame", "band")
  } {
    // au1: samples regenerate closed-form, frames via the identical
    // floor-division bounds, and the DFT chain mirrors term by term —
    // per-term floor makes the sums integer-exact (HUGEINT cast back!),
    // the energies derive from identical bigints
    val w0 = 2.0 * math.Pi / 17
    s"""WITH s AS (SELECT id // 2 AS i, CAST(id % 2 AS INT) AS ch,
      |    ((id // 2) * 37 + (id % 2) * 19) % 200 - 100 AS x
      |  FROM range(96) t(id)),
      |fr AS (SELECT i, ch, x, f.frame
      |  FROM s CROSS JOIN LATERAL (SELECT unnest(generate_series(
      |    GREATEST(CAST(0 AS BIGINT), CAST(floor((i - 17) / 9) AS BIGINT) + 1),
      |    CAST(floor(i / 9) AS BIGINT))) AS frame) f),
      |t1 AS (SELECT ch, frame, b.band, i - frame * 9 AS n, x
      |  FROM fr CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b),
      |t2 AS (SELECT ch, frame, CAST(band AS INT) AS band,
      |    CAST(floor(CAST(x AS DOUBLE)
      |      * cos($w0 * (CAST(band AS DOUBLE) * CAST(n AS DOUBLE)))
      |      * 1048576.0) AS BIGINT) AS c,
      |    CAST(floor(CAST(x AS DOUBLE)
      |      * sin($w0 * (CAST(band AS DOUBLE) * CAST(n AS DOUBLE)))
      |      * 1048576.0) AS BIGINT) AS sgn
      |  FROM t1),
      |agg AS (SELECT ch AS channel, frame, band, count(*) AS n_terms,
      |    CAST(sum(c) AS BIGINT) AS sc_fp, CAST(sum(sgn) AS BIGINT) AS ss_fp
      |  FROM t2 GROUP BY ch, frame, band)
      |SELECT CAST(1 AS BIGINT) AS media_id, channel, frame, band, n_terms,
      |  sc_fp, ss_fp,
      |  (CAST(sc_fp AS DOUBLE) / 1048576.0) * (CAST(sc_fp AS DOUBLE) / 1048576.0)
      |    + (CAST(ss_fp AS DOUBLE) / 1048576.0) * (CAST(ss_fp AS DOUBLE) / 1048576.0)
      |    AS energy
      |FROM agg ORDER BY channel, frame, band""".stripMargin
  }

  /** s10 — text-format sink round trip: the per-source census written as
    * CSV (header, explicit schema on read-back) must survive the
    * serialize/parse cycle bit-for-bit — the interchange-format story
    * next to the parquet sinks (s5) and binary bridges (s9).
    */
  query("s10_csv_roundtrip") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/census"
    Tables.documents(s, d)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true")
      .schema("source STRING, lang STRING, n BIGINT, sum_chars BIGINT")
      .csv(out)
      .orderBy("source", "lang")
  }(
    // s10: the CSV write/read must be value-transparent, so the oracle is
    // the census computed straight from the source table.
    """SELECT source, lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin)

  /** S21 — WEBDATASET shard ingest (r9): two ustar shards, each holding
    * per-sample PNG + TXT members (the multimodal-corpus shipping
    * convention — one tar per shard, one member per modality), exploded
    * by `Tar.tarToFiles` and routed by modality key in ONE plan: PNGs
    * through the real PNG decoder to a pixel census, text to a byte
    * census. The oracle regenerates both censuses from the member
    * generators — the tar container (headers, checksums, 512-padding,
    * zero-length members) must be invisible.
    */
  query("s21_webdataset_shards") { (s, d) =>
    import s.implicits._
    def shard(sh: Int, n: Int): Array[Byte] = operators.Tar.synthTar(
      (0 until n).flatMap { i =>
        val png = operators.MultimodalOps.synthPng(6, 4, 3, r => (r + i) % 5)(
          (r, c, ch) => (sh * 7 + i * 13 + r * 31 + c * 7 + ch * 11) % 256)
        val txt = s"sample $sh-$i " + ("x" * ((i * 11 + sh) % 40))
        Seq((f"$i%04d.png", png), (f"$i%04d.txt", txt.getBytes("UTF-8")))
      })
    val files = operators.Tar.tarToFiles(
      Seq((1L, shard(1, 5)), (2L, shard(2, 7))).toDF("shard_id", "bytes"))
    val pngCensus = operators.MultimodalOps.pngToPixels(
        files.filter(col("ext") === "png")
          .select(col("shard_id"), col("bytes")))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("long")).as("total"))
      .withColumn("kind", lit("png"))
    val txtCensus = files.filter(col("ext") === "txt")
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n"), sum(length(col("bytes")).cast("long")).as("total"))
      .withColumn("kind", lit("txt"))
    pngCensus.unionByName(txtCensus)
      .select("shard_id", "kind", "n", "total").orderBy("shard_id", "kind")
  }(
    // s21: both censuses regenerate from the member generators — the tar
    // container (headers, checksums, padding) never reaches the oracle.
    // Shard 1: 5 samples, shard 2: 7; each PNG is 6x4x3 = 72 values of
    // (sh*7 + i*13 + r*31 + c*7 + ch*11) % 256; each TXT is
    // 11 + (i*11 + sh) % 40 bytes.
    """WITH png AS (
      |  SELECT 1 AS shard_id, id FROM range(360) t(id)
      |  UNION ALL SELECT 2, id FROM range(504) t(id)),
      |px AS (SELECT shard_id,
      |    (shard_id * 7 + (id // 72) * 13 + ((id % 72) // 18) * 31
      |      + (((id % 72) % 18) // 3) * 7 + (id % 3) * 11) % 256 AS v
      |  FROM png),
      |txt AS (
      |  SELECT 1 AS shard_id, id FROM range(5) t(id)
      |  UNION ALL SELECT 2, id FROM range(7) t(id))
      |SELECT shard_id, 'png' AS kind, count(*) AS n,
      |  CAST(sum(CAST(v AS BIGINT)) AS BIGINT) AS total
      |FROM px GROUP BY shard_id
      |UNION ALL
      |SELECT shard_id, 'txt', count(*),
      |  CAST(sum(CAST(11 + (id * 11 + shard_id) % 40 AS BIGINT)) AS BIGINT)
      |FROM txt GROUP BY shard_id
      |ORDER BY shard_id, kind""".stripMargin)

  /** S23 — zip shard ingest (the OTHER container corpora ship in besides
    * tar; [[operators.Zip]] walks EOCD → central directory → local
    * headers, stored AND deflate members in one shard, CRC-verified).
    * Census proves exact member payloads through both methods: per
    * (shard, modality) count, byte length, and a full ASCII-code
    * checksum of every decoded character — the container (headers,
    * deflate streams, CRCs, padding) is invisible to the oracle, which
    * regenerates the member texts from their definitions.
    */
  query("s23_zip_shards") { (s, d) =>
    import s.implicits._
    def shard(sh: Int, n: Int, z64: Boolean = false): Array[Byte] =
      operators.Zip.synthZip(
        (0 until n).flatMap { i =>
          val txt = s"zip sample $sh-$i " + ("y" * ((i * 13 + sh * 3) % 50))
          val jsn = s"""{"id":$i,"shard":$sh,"pad":"${"z" * ((i * 7 + sh) % 30)}"}"""
          Seq((f"$i%04d.txt", txt.getBytes("UTF-8")), (f"$i%04d.json", jsn.getBytes("UTF-8")))
        },
        deflate = _.endsWith(".txt"), // mixed methods inside one shard
        forceZip64 = z64)
    // shard 3 (r11) ships the ZIP64 layout — masked EOCD + EOCD64 record
    // + per-member 0x0001 extras — over the same member formula, so the
    // 64-bit directory walk must be invisible to the census
    val files = operators.Zip.zipToFiles(
      Seq((1, shard(1, 6)), (2, shard(2, 9)), (3, shard(3, 7, z64 = true)))
        .toDF("shard_id", "bytes"))
    files.select(col("shard_id"), col("ext"), col("bytes").cast("string").as("txt"))
      .withColumn("ascii_sum", expr(
        "aggregate(sequence(1, length(txt)), 0L, (a, i) -> a + ascii(substring(txt, i, 1)))"))
      .groupBy("shard_id", "ext")
      .agg(count(lit(1)).as("n"), sum(length(col("txt")).cast("long")).as("sum_len"),
        sum(col("ascii_sum")).as("ascii_sum"))
      .orderBy("shard_id", "ext")
  }(
    // s23: both member texts regenerate from their definitions — the zip
    // container (local headers, central directory, deflate streams, CRCs)
    // never reaches the oracle. Shard 1: 6 samples, shard 2: 9; each
    // sample has one deflated .txt and one stored .json member; the
    // ascii_sum column is a full per-character checksum of every decoded
    // payload, proving exact content through BOTH methods. Shard 3 (r11)
    // carries the same formula through the ZIP64 layout — identical
    // regeneration, the 64-bit directory is invisible.
    """WITH samp AS (
      |  SELECT 1 AS shard_id, CAST(id AS INT) AS i FROM range(6) t(id)
      |  UNION ALL SELECT 2, CAST(id AS INT) FROM range(9) t(id)
      |  UNION ALL SELECT 3, CAST(id AS INT) FROM range(7) t(id)),
      |m AS (
      |  SELECT shard_id, 'txt' AS ext,
      |    'zip sample ' || CAST(shard_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
      |      || ' ' || repeat('y', (i * 13 + shard_id * 3) % 50) AS s
      |  FROM samp
      |  UNION ALL
      |  SELECT shard_id, 'json',
      |    '{"id":' || CAST(i AS VARCHAR) || ',"shard":' || CAST(shard_id AS VARCHAR)
      |      || ',"pad":"' || repeat('z', (i * 7 + shard_id) % 30) || '"}'
      |  FROM samp)
      |SELECT shard_id, ext, count(*) AS n,
      |  CAST(sum(length(s)) AS BIGINT) AS sum_len,
      |  CAST(sum(list_sum(list_transform(generate_series(1, length(s)),
      |    i -> ascii(substr(s, i, 1))))) AS BIGINT) AS ascii_sum
      |FROM m GROUP BY shard_id, ext ORDER BY shard_id, ext""".stripMargin)

  /** S24 — NPZ tensor bundles end to end: part-derived tensors (six
    * dtypes across the whole supported descr set) → `.npy` encode →
    * zip-bundled `.npz` shards → [[operators.Npy.npzToValues]] decode →
    * per-tensor census (count, fixed-point value sum, order-weighted
    * checksum proving C-order element positions). The oracle regenerates
    * every element from the source definition — npy headers, zip
    * directory, and deflate streams are invisible. Float values are
    * exact multiples of 1/8 (f4-representable), so floor(v*64) is
    * deterministic on both engines; the one-tensor-per-key-run build is
    * the documented memory floor (the GPKG/GeoTIFF-sink doctrine).
    */
  query("s24_npz_tensors") { (s, d) =>
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val parts = Tables.part(s, d).select(
      (col("p_partkey") % 6).cast("int").as("tid"), col("p_partkey").as("pk"))
    val grouped = parts.groupBy("tid").agg(sort_array(collect_list(col("pk"))).as("pks"))
    val npyRdd = grouped.rdd.flatMap { r =>
      val tid = r.getInt(0)
      val pks = r.getSeq[Long](1)
      val bytes = tid match {
        case 0 => operators.Npy.synthNpy("<f4", Seq(pks.length),
          doubles = pks.map(pk => (pk % 9973) * 0.25).toArray)
        case 1 => operators.Npy.synthNpy("<f8", Seq(pks.length),
          doubles = pks.map(pk => (pk % 9973) * 0.125).toArray)
        case 2 => operators.Npy.synthNpy("<i2", Seq(pks.length),
          longs = pks.map(pk => pk % 32768 - 16384).toArray)
        case 3 => operators.Npy.synthNpy("<i4", Seq(pks.length),
          longs = pks.map(pk => pk % 1000003).toArray)
        case 4 => operators.Npy.synthNpy("<i8", Seq(pks.length),
          longs = pks.map(pk => (pk % 9973) * 1000000007L).toArray)
        case _ => operators.Npy.synthNpy("|u1", Seq(pks.length),
          longs = pks.map(pk => pk % 256).toArray)
      }
      // r11: t6 re-spells t2's values as a 2-D FORTRAN-order v2-header
      // tensor (even-truncated so the shape is rectangular) — decode
      // surfaces C order either way, so the oracle's idx/value mapping is
      // identical; the column-major buffer and 4-byte header must be
      // invisible
      val extra = if (tid != 2) Nil else {
        val m = pks.length - (pks.length % 2)
        List(Row(0, "t6", operators.Npy.synthNpy("<i2", Seq(2, m / 2),
          longs = pks.take(m).map(pk => pk % 32768 - 16384).toArray,
          fortranOrder = true, version = 2)))
      }
      Row(tid % 2, s"t$tid", bytes) :: extra
    }
    val npyDf = s.createDataFrame(npyRdd, StructType(Seq(
      StructField("shard_id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("npy", BinaryType, nullable = false))))
    val bundles = npyDf.groupBy("shard_id")
      .agg(sort_array(collect_list(struct(col("name"), col("npy")))).as("members"))
    val npzRdd = bundles.rdd.map { r =>
      val members = r.getSeq[Row](1).map(m =>
        (m.getString(0) + ".npy", m.getAs[Array[Byte]](1)))
      Row(r.getInt(0), operators.Zip.synthZip(members))
    }
    val npzDf = s.createDataFrame(npzRdd, StructType(Seq(
      StructField("shard_id", IntegerType, nullable = false),
      StructField("bytes", BinaryType, nullable = false))))
    operators.Npy.npzToValues(npzDf)
      .withColumn("value_fp", when(col("value_l").isNotNull, col("value_l"))
        .otherwise(floor(col("value_d") * 64).cast("long")))
      .groupBy("shard_id", "tensor", "dtype")
      .agg(count(lit(1)).as("n"), sum(col("value_fp")).as("sum_fp"),
        sum(((col("elem_idx") + 1) * col("value_fp")) % 1000000007L).as("ord_fp"))
      .orderBy("tensor")
  }(
    // s24: every tensor element regenerated from the source definition —
    // npy headers, the zip central directory, and deflate streams never
    // reach the oracle. Element order inside each tensor is ascending
    // p_partkey (the build sorts before encoding), so ROW_NUMBER mirrors
    // elem_idx; float tensors hold exact multiples of 1/8, making
    // floor(v*64) engine-deterministic (the g15/g16 fixed-point rule).
    """WITH t AS (SELECT p_partkey AS pk, CAST(p_partkey % 6 AS INT) AS tid FROM part),
      |o AS (SELECT tid, pk,
      |    ROW_NUMBER() OVER (PARTITION BY tid ORDER BY pk) - 1 AS idx FROM t),
      |v AS (SELECT tid, idx,
      |    CASE tid
      |      WHEN 0 THEN CAST(floor(CAST(pk % 9973 AS DOUBLE) * 0.25 * 64) AS BIGINT)
      |      WHEN 1 THEN CAST(floor(CAST(pk % 9973 AS DOUBLE) * 0.125 * 64) AS BIGINT)
      |      WHEN 2 THEN pk % 32768 - 16384
      |      WHEN 3 THEN pk % 1000003
      |      WHEN 4 THEN (pk % 9973) * 1000000007
      |      ELSE pk % 256 END AS vfp
      |  FROM o),
      |-- t6 (r11): t2's values through the fortran-order v2 spelling,
      |-- even-truncated to a (2, m/2) shape — decode surfaces C order,
      |-- so idx/value regeneration is IDENTICAL to t2's prefix
      |v6 AS (SELECT 6 AS tid, idx, vfp FROM (
      |    SELECT idx, vfp, COUNT(*) OVER () AS cnt FROM v WHERE tid = 2) z
      |  WHERE idx < 2 * (cnt // 2)),
      |allv AS (SELECT * FROM v UNION ALL SELECT * FROM v6)
      |SELECT CAST(CASE WHEN tid = 6 THEN 0 ELSE tid % 2 END AS INT) AS shard_id,
      |  't' || CAST(tid AS VARCHAR) AS tensor,
      |  CASE tid WHEN 0 THEN '<f4' WHEN 1 THEN '<f8' WHEN 2 THEN '<i2'
      |    WHEN 3 THEN '<i4' WHEN 4 THEN '<i8' WHEN 6 THEN '<i2'
      |    ELSE '|u1' END AS dtype,
      |  count(*) AS n, CAST(sum(vfp) AS BIGINT) AS sum_fp,
      |  CAST(sum(((idx + 1) * vfp) % 1000000007) AS BIGINT) AS ord_fp
      |FROM allv GROUP BY tid ORDER BY tensor""".stripMargin)

  /** s11 — JSONL round trip (the interchange format every curation
    * pipeline speaks): documents are written as JSON lines and read back
    * under an explicit schema; the oracle aggregates the parquet source
    * directly, so a hash match proves the write→read cycle is lossless
    * (md5 over the round-tripped text included).
    */
  query("s11_jsonl_roundtrip") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    Tables.documents(s, d)
      .select("doc_id", "lang", "source", "n_chars", "text")
      .coalesce(4).write.mode("overwrite").json(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .json(out)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(md5(col("text"))).as("min_text_md5"))
      .orderBy("lang", "source")
  }(
    // s11: the oracle never sees the JSON — it aggregates the parquet
    // source, so a hash match (md5 of the round-tripped text included)
    // proves the JSONL write→read cycle lossless.
    """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(md5(text)) AS min_text_md5
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)
}
