package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** USTAR (POSIX tar) shard codec — the container format multimodal
  * training corpora actually ship in (the "webdataset" convention: one
  * tar shard holds thousands of samples, each sample a basename with one
  * member per modality — `0001.jpg`, `0001.txt`, `0001.json`). The
  * reference's corpus is a directory of per-scene files
  * (feature_stacking.py:67-70 globs them); at 100 TB the same corpus
  * arrives as tar shards, and the shard — not the member — is the
  * parallelism unit, exactly like the engine's other per-file codecs:
  * `tarToFiles` is a generator-shaped flatMap (zero shuffle, one task
  * per shard) whose output feeds any of the member codecs
  * ([[Jpeg.jpegToPixels]], [[MultimodalOps.pngToPixels]], text ops, …).
  *
  * Implemented from the public POSIX.1-1988 ustar layout: 512-byte
  * headers (NUL-terminated octal size/mtime fields, additive checksum
  * over the header with the checksum field blanked), data rounded up to
  * 512-byte blocks, two zero blocks at the end. Fail-closed doctrine:
  * bad magic, a checksum mismatch, a truncated member, or any typeflag
  * other than regular file / directory rejects loudly — links and
  * device nodes have no meaning in a data shard and silently skipping
  * them would undercount samples.
  */
object Tar {

  private val BlockSize = 512

  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    // skip leading spaces/NULs; stop at the first space/NUL terminator
    while (i < end && (b(i) == ' '.toByte || b(i) == 0)) i += 1
    var v = 0L
    while (i < end && b(i) != 0 && b(i) != ' '.toByte) {
      val c = b(i) - '0'
      require(c >= 0 && c <= 7, s"non-octal digit in numeric field at $i")
      v = v * 8 + c
      i += 1
    }
    v
  }

  private def asciiZ(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && b(end) != 0) end += 1
    new String(b, off, end - off, "US-ASCII")
  }

  /** Walk a ustar shard → (member name, payload) for every regular file,
    * in archive order. Directories are structural and skipped; anything
    * else fails closed.
    */
  def tarEntries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    require(bytes != null && bytes.length >= 2 * BlockSize &&
      bytes.length % BlockSize == 0,
      s"not a tar archive (length ${if (bytes == null) -1 else bytes.length} " +
        "is not a positive multiple of 512)")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    var off = 0
    var done = false
    while (!done) {
      require(off + BlockSize <= bytes.length, "truncated before the end-of-archive blocks")
      if ((0 until BlockSize).forall(i => bytes(off + i) == 0)) done = true // zero block
      else {
        val magic = new String(bytes, off + 257, 5, "US-ASCII")
        require(magic == "ustar", s"bad ustar magic '$magic' at $off")
        // additive checksum over the header with the checksum field blanked
        var sum = 0L
        var i = 0
        while (i < BlockSize) {
          sum += (if (i >= 148 && i < 156) ' '.toByte else bytes(off + i)) & 0xff
          i += 1
        }
        val stored = octal(bytes, off + 148, 8)
        require(sum == stored, s"header checksum $sum != stored $stored at $off")
        val prefix = asciiZ(bytes, off + 345, 155)
        val name0 = asciiZ(bytes, off, 100)
        val name = if (prefix.isEmpty) name0 else s"$prefix/$name0"
        val size = octal(bytes, off + 124, 12)
        require(size >= 0 && size <= Int.MaxValue, s"bad member size $size")
        val dataBlocks = ((size + BlockSize - 1) / BlockSize).toInt
        require(off + BlockSize + dataBlocks * BlockSize <= bytes.length,
          s"member '$name' ($size bytes) overruns the archive")
        val tf = bytes(off + 156)
        if (tf == '0'.toByte || tf == 0) // regular file (old tar spells it NUL)
          out += name -> java.util.Arrays.copyOfRange(
            bytes, off + BlockSize, off + BlockSize + size.toInt)
        else if (tf == '5'.toByte) { // directory: structural, no payload
          require(size == 0, s"directory '$name' with nonzero size $size")
        } else throw new IllegalArgumentException(
          s"member '$name' has typeflag '${tf.toChar}' — only regular files and " +
            "directories belong in a data shard (links/devices fail closed)")
        off += BlockSize + dataBlocks * BlockSize
      }
    }
    out.toSeq
  }

  /** Assemble a valid ustar shard (the encode half for fixtures/oracles —
    * the synthWavPcm pattern): regular-file members with correct octal
    * fields and checksums, 512-padded data, two trailing zero blocks.
    */
  def synthTar(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val total = entries.map { case (_, d) =>
      BlockSize + ((d.length + BlockSize - 1) / BlockSize) * BlockSize
    }.sum + 2 * BlockSize
    val out = new Array[Byte](total)
    var off = 0
    entries.foreach { case (name, data) =>
      require(name.nonEmpty && name.getBytes("US-ASCII").length <= 100,
        s"member name '$name' too long (ustar name field is 100 bytes)")
      val h = out // write header fields in place
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, off, nb.length)
      def putOctal(fieldOff: Int, width: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (width - 1 - s.length)) + s // NUL-terminated
        System.arraycopy(padded.getBytes("US-ASCII"), 0, h, off + fieldOff, width - 1)
      }
      putOctal(100, 8, 420 /* 0644 */)
      putOctal(108, 8, 0)
      putOctal(116, 8, 0)
      putOctal(124, 12, data.length.toLong)
      putOctal(136, 12, 0) // mtime: fixed epoch keeps shards deterministic
      h(off + 156) = '0'.toByte
      System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, off + 257, 5)
      h(off + 263) = '0'.toByte; h(off + 264) = '0'.toByte // version "00"
      // checksum: blanks while summing, then octal + NUL + space
      java.util.Arrays.fill(h, off + 148, off + 156, ' '.toByte)
      var sum = 0L
      for (i <- 0 until BlockSize) sum += h(off + i) & 0xff
      val cs = java.lang.Long.toOctalString(sum)
      val csPadded = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csPadded.getBytes("US-ASCII"), 0, h, off + 148, 6)
      h(off + 154) = 0; h(off + 155) = ' '.toByte
      System.arraycopy(data, 0, out, off + BlockSize, data.length)
      off += BlockSize + ((data.length + BlockSize - 1) / BlockSize) * BlockSize
    }
    out // trailing blocks are already zero
  }

  /** Tar binary column → one row per regular-file member (pass-through
    * columns preserved): member_idx (archive order), name, ext (the
    * lowercased final suffix — the webdataset modality key), bytes.
    * Generator shape: flatMap, zero shuffle; a corpus of shards
    * parallelizes by SHARD, each task exploding its members for the
    * per-modality codecs downstream.
    */
  def tarToFiles(media: DataFrame, bytesCol: String = "bytes"): DataFrame =
    MediaExplode.explode(media, bytesCol, Seq(
      StructField("member_idx", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("ext", StringType, nullable = false),
      StructField("bytes", BinaryType, nullable = false))) { payload =>
      tarEntries(payload).iterator.zipWithIndex.map { case ((name, data), i) =>
        val dot = name.lastIndexOf('.')
        val ext = if (dot < 0) "" else name.substring(dot + 1).toLowerCase
        Seq[Any](i, name, ext, data)
      }
    }
}
