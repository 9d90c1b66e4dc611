package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal single-layer GeoPackage (SQLite container) vector reader — the
  * interchange format the reference STREAMS its classified features into
  * (object_classifier.py:193-213 appends per-batch features to a GPKG
  * layer; image_segmentation.py:153-162 writes per-tile vector files).
  * `GeoSink` covers the engine's native WKT-parquet layout; this closes
  * the round-trip so reference-shaped artifacts can be ingested.
  *
  * Implemented from the public SQLite 3 file format and OGC GeoPackage
  * spec: page-1 header, table b-tree walk (leaf 0x0D and interior 0x05
  * pages), record varint/serial-type decode, `gpkg_contents` layer
  * discovery, GP-header geometry blobs, WKB Point/LineString/Polygon →
  * WKT. No SQLite library — pure byte arithmetic, executor-safe.
  *
  * Scale shape: a SQLite file is NOT splittable (one b-tree, one blob) —
  * parallelism comes from MANY files, exactly how the reference shards
  * vectors per tile. `readLayerFiles` maps one task per file via the
  * binaryFile source; per-file decode is pure CPU. Typed columns come
  * from the layer's declared CREATE TABLE schema (SQLite affinity
  * rules); geometry columns surface as WKT so the SpatialOps surface
  * (wktRings / envelopes / spatial joins) composes directly.
  */
object GeoPackage {

  // ---- varint / byte helpers ----

  private def u16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** SQLite varint: big-endian 7-bit groups, 9th byte uses all 8 bits.
    * Returns (value, bytesRead).
    */
  private def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      require(off + i < b.length, "varint runs past the end of the file")
      val x = b(off + i)
      v = (v << 7) | (x & 0x7fL)
      i += 1
      if ((x & 0x80) == 0) return (v, i)
    }
    require(off + 8 < b.length, "varint runs past the end of the file")
    ((v << 8) | (b(off + 8) & 0xffL), 9)
  }

  /** One decoded table row: rowid + column values (serial-type decoded). */
  private final case class Rec(rowid: Long, values: IndexedSeq[Any])

  private def decodeRecord(payload: Array[Byte], rowid: Long): Rec = {
    val (hdrLen, n0) = varint(payload, 0)
    require(hdrLen >= n0 && hdrLen <= payload.length,
      s"record header length $hdrLen outside the ${payload.length}-byte payload")
    var hOff = n0
    val types = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (hOff < hdrLen) {
      val (t, n) = varint(payload, hOff)
      types += t; hOff += n
    }
    var bOff = hdrLen.toInt
    // declared serial-type widths must fit the payload body — a corrupt
    // header would otherwise read (or String-construct) past the array
    def bodyTake(n: Int): Int = {
      require(n >= 0 && bOff + n <= payload.length,
        s"serial value of $n bytes at $bOff overruns the ${payload.length}-byte record")
      val at = bOff; bOff += n; at
    }
    val values = types.map { t =>
      def intN(n: Int): Long = {
        val at = bodyTake(n)
        var v: Long = payload(at).toLong // sign-extend first byte
        for (i <- 1 until n) v = (v << 8) | (payload(at + i) & 0xffL)
        v
      }
      t match {
        case 0 => null
        case 1 => intN(1)
        case 2 => intN(2)
        case 3 => intN(3)
        case 4 => intN(4)
        case 5 => intN(6)
        case 6 => intN(8)
        case 7 => val v = java.lang.Double.longBitsToDouble(intN(8)); v
        case 8 => 0L
        case 9 => 1L
        case t if t >= 12 && t % 2 == 0 =>
          val len = ((t - 12) / 2).toInt
          val at = bodyTake(len)
          java.util.Arrays.copyOfRange(payload, at, at + len)
        case t if t >= 13 =>
          val len = ((t - 13) / 2).toInt
          val at = bodyTake(len)
          new String(payload, at, len, "UTF-8")
        case other => throw new IllegalArgumentException(s"serial type $other")
      }
    }
    Rec(rowid, values.toIndexedSeq)
  }

  /** Walk a table b-tree from `rootPage` (1-based), yielding decoded rows.
    * Overflow pages are out of scope (fail loudly if a cell spills).
    */
  private def tableRows(db: Array[Byte], pageSize: Int, rootPage: Int,
      depth: Int = 0): Seq[Rec] = {
    // corrupt page numbers / self-referencing interior pages must reject,
    // not index past the file or recurse forever
    require(depth < 32, "b-tree deeper than 32 levels — cyclic or corrupt")
    require(rootPage >= 1 && rootPage.toLong * pageSize <= db.length,
      s"page $rootPage outside the ${db.length}-byte file")
    val pageOff = (rootPage - 1) * pageSize
    val hdrOff = if (rootPage == 1) pageOff + 100 else pageOff
    require(hdrOff + 12 <= db.length, "page header runs past the end of the file")
    val pageType = db(hdrOff) & 0xff
    val nCells = u16(db, hdrOff + 3)
    pageType match {
      case 0x0d => // leaf
        require(hdrOff + 8 + 2 * nCells <= db.length,
          "cell pointer array runs past the end of the file")
        (0 until nCells).flatMap { i =>
          val cellOff = pageOff + u16(db, hdrOff + 8 + 2 * i)
          val (payloadLen, n1) = varint(db, cellOff)
          val (rowid, n2) = varint(db, cellOff + n1)
          val maxLocal = pageSize - 35 // usable - 35: the no-overflow bound
          require(payloadLen <= maxLocal,
            s"cell payload $payloadLen spills to overflow pages (unsupported)")
          require(payloadLen >= 0 &&
            cellOff.toLong + n1 + n2 + payloadLen <= db.length,
            s"cell payload at $cellOff+$payloadLen runs past the end of the file")
          val payload = java.util.Arrays.copyOfRange(
            db, cellOff + n1 + n2, cellOff + n1 + n2 + payloadLen.toInt)
          Seq(decodeRecord(payload, rowid))
        }
      case 0x05 => // interior: left-child pointers + rightmost pointer
        require(hdrOff + 12 + 2 * nCells <= db.length,
          "cell pointer array runs past the end of the file")
        val kids = (0 until nCells).map { i =>
          val cellOff = pageOff + u16(db, hdrOff + 12 + 2 * i)
          require(cellOff + 4 <= db.length, "child pointer runs past the end of the file")
          u32(db, cellOff).toInt
        } :+ u32(db, hdrOff + 8).toInt
        kids.flatMap(tableRows(db, pageSize, _, depth + 1))
      case other =>
        throw new IllegalArgumentException(f"not a table b-tree page: type 0x$other%02x")
    }
  }

  private final case class Master(name: String, rootPage: Int, sql: String)

  private def parseDb(bytes: Array[Byte]): (Int, Seq[Master]) = {
    require(bytes.length >= 100 &&
      new String(bytes, 0, 16, "US-ASCII") == "SQLite format 3\u0000",
      "not a SQLite 3 file")
    val pageSize = { val p = u16(bytes, 16); if (p == 1) 65536 else p }
    val master = tableRows(bytes, pageSize, 1).collect {
      case Rec(_, Seq("table", name: String, _, root: Long, sql: String)) =>
        Master(name, root.toInt, sql)
    }
    (pageSize, master)
  }

  /** Column (name, declared type) pairs from a CREATE TABLE statement —
    * enough SQL parsing for GPKG-shaped schemas (no constraints beyond
    * column-level keywords, which are skipped).
    */
  private def columnsOf(sql: String): Seq[(String, String)] = {
    val body = sql.substring(sql.indexOf('(') + 1, sql.lastIndexOf(')'))
    body.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .filterNot(c => c.toUpperCase.startsWith("PRIMARY KEY") ||
        c.toUpperCase.startsWith("FOREIGN KEY") || c.toUpperCase.startsWith("UNIQUE") ||
        c.toUpperCase.startsWith("CONSTRAINT") || c.toUpperCase.startsWith("CHECK"))
      .map { c =>
        val parts = c.split("\\s+")
        (parts(0).stripPrefix("\"").stripSuffix("\""),
          if (parts.length > 1) parts(1).toUpperCase else "")
      }
  }

  private val GeomTypes = Set(
    "GEOMETRY", "POINT", "LINESTRING", "POLYGON",
    "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON")

  /** SQLite type affinity → Spark type; geometry declared types → WKT string. */
  private def sparkTypeOf(decl: String): DataType = {
    val d = decl.toUpperCase
    if (GeomTypes(d)) StringType // decoded to WKT
    else if (d.contains("INT")) LongType
    else if (d.contains("REAL") || d.contains("FLOA") || d.contains("DOUB")) DoubleType
    else if (d.contains("BLOB") || d.isEmpty) BinaryType
    else StringType
  }

  // ---- GPKG geometry blob (GP header + WKB) → WKT ----

  private[graft] def wkbToWkt(b: Array[Byte], off0: Int): String =
    wkbParse(b, off0)._1

  /** Cursor parser: one walk yields both the WKT text and the byte
    * count consumed (nested Multi* members advance the parent cursor
    * with no second parse). MULTIPOINT members print parenthesized,
    * `MULTIPOINT ((1 2), (3 4))`, the spelling the engine's WKT emitters
    * use. */
  private def wkbParse(b: Array[Byte], off0: Int): (String, Int) = {
    var off = off0
    val le = b(off) == 1; off += 1
    def rd32(): Long = {
      val v = if (le) (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
      else u32(b, off)
      off += 4; v
    }
    def rdD(): Double = {
      var bits = 0L
      for (i <- 0 until 8) {
        val byte = b(off + (if (le) i else 7 - i)) & 0xffL
        bits |= byte << (8 * i)
      }
      off += 8
      java.lang.Double.longBitsToDouble(bits)
    }
    def pt(): String = { val x = rdD(); val y = rdD(); s"$x $y" }
    def ring(): String = {
      val n = rd32().toInt
      (0 until n).map(_ => pt()).mkString("(", ", ", ")")
    }
    def members(kind: String): String =
      (0 until rd32().toInt).map { _ =>
        val (sub, consumed) = wkbParse(b, off)
        require(sub.startsWith(kind + " "), s"MULTI$kind member is not a ${kind.toLowerCase}: $sub")
        off += consumed
        sub.stripPrefix(kind + " ")
      }.mkString("(", ", ", ")")
    val wkt = rd32() match {
      case 1 => s"POINT (${pt()})"
      case 2 => s"LINESTRING ${ring()}"
      case 3 =>
        val nRings = rd32().toInt
        s"POLYGON ${(0 until nRings).map(_ => ring()).mkString("(", ", ", ")")}"
      // Multi* geometries: each member is a COMPLETE nested WKB geometry
      // (its own byte-order byte + type word), per the WKB spec
      case 4 => s"MULTIPOINT ${members("POINT")}"
      case 5 => s"MULTILINESTRING ${members("LINESTRING")}"
      case 6 => s"MULTIPOLYGON ${members("POLYGON")}"
      case other => throw new IllegalArgumentException(s"WKB type $other unsupported")
    }
    (wkt, off - off0)
  }

  /** GPKG geometry blob: 'GP' magic, version, flags (bit 0 header byte
    * order — irrelevant for the fields we read; bits 1-3 envelope shape),
    * srs_id, optional envelope, WKB.
    */
  private def gpkgGeomToWkt(b: Array[Byte]): String = {
    require(b.length >= 8 && b(0) == 'G'.toByte && b(1) == 'P'.toByte,
      "not a GPKG geometry blob")
    val flags = b(3) & 0xff
    val envSize = ((flags >> 1) & 0x7) match {
      case 0 => 0
      case 1 => 32
      case 2 | 3 => 48
      case 4 => 64
      case other => throw new IllegalArgumentException(s"envelope code $other")
    }
    wkbToWkt(b, 8 + envSize)
  }

  /** Feature-layer names registered in gpkg_contents. */
  def layersOf(bytes: Array[Byte]): Seq[String] = {
    val (pageSize, master) = parseDb(bytes)
    master.find(_.name == "gpkg_contents") match {
      case None => Nil
      case Some(m) =>
        val cols = columnsOf(m.sql).map(_._1)
        val tIdx = cols.indexOf("table_name")
        val dIdx = cols.indexOf("data_type")
        require(tIdx >= 0 && dIdx >= 0,
          s"gpkg_contents lacks table_name/data_type columns: ${cols.mkString(", ")}")
        val rows = tableRows(bytes, pageSize, m.rootPage)
        rows.foreach(r => require(r.values.length > math.max(tIdx, dIdx),
          s"gpkg_contents row has ${r.values.length} values, schema declares ${cols.length}"))
        rows.filter(r => r.values(dIdx) == "features")
          .map(_.values(tIdx).asInstanceOf[String])
    }
  }

  /** Decode one layer of one GPKG byte payload into (schema, rows). The
    * declared INTEGER PRIMARY KEY column reads back through the rowid
    * (SQLite stores it as NULL in the record — the alias rule).
    */
  private def decodeLayer(bytes: Array[Byte], layer: String): (StructType, Seq[Row]) = {
    val (pageSize, master) = parseDb(bytes)
    val m = master.find(_.name == layer).getOrElse(
      throw new IllegalArgumentException(
        s"layer '$layer' not in ${master.map(_.name).mkString(", ")}"))
    val cols = columnsOf(m.sql)
    val schema = StructType(cols.map { case (n, t) => StructField(n, sparkTypeOf(t)) })
    val geomIdx = cols.zipWithIndex.collect {
      case ((_, t), i) if GeomTypes(t.toUpperCase) => i
    }.toSet
    val pkIdx = cols.indexWhere { case (_, t) => t.contains("INT") }
    val rows = tableRows(bytes, pageSize, m.rootPage).map { rec =>
      val vals = rec.values.zipWithIndex.map {
        case (null, i) if i == pkIdx => rec.rowid // INTEGER PRIMARY KEY alias
        case (b: Array[Byte], i) if geomIdx(i) => gpkgGeomToWkt(b)
        case (v, _) => v
      }
      // tolerate column-count drift (ALTER TABLE ADD COLUMN appends)
      Row.fromSeq(vals.padTo(cols.length, null).take(cols.length))
    }
    (schema, rows)
  }

  /** One in-memory GPKG payload → DataFrame (driver decode, small files —
    * the test/round-trip path).
    */
  def readLayer(spark: SparkSession, bytes: Array[Byte], layer: String): DataFrame = {
    val (schema, rows) = decodeLayer(bytes, layer)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Directory of .gpkg files → one DataFrame (schema taken from the
    * first file; one task per file — the per-tile sharding the reference
    * writes). `layer` defaults to each file's first gpkg_contents entry.
    */
  def readLayerFiles(
      spark: SparkSession,
      path: String,
      layer: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val files = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
    val first = files.limit(1).collect()
    require(first.nonEmpty, s"no files under $path")
    val firstBytes = first(0).getAs[Array[Byte]]("content")
    val layerName = layer.orElse(layersOf(firstBytes).headOption).getOrElse(
      throw new IllegalArgumentException("no feature layer registered in gpkg_contents"))
    val schema = decodeLayer(firstBytes, layerName)._1
    val rdd = files.select("content").rdd.flatMap { r =>
      decodeLayer(r.getAs[Array[Byte]](0), layerName)._2
    }
    spark.createDataFrame(rdd, schema)
  }

  // ---- synth writer (the encode half, for tests/oracles — mm3 pattern) ----

  /** SQLite varint encoding. */
  private def putVarint(v: Long): Array[Byte] = {
    require(v >= 0, "negative varints unsupported in writer")
    if (v == 0) return Array(0.toByte)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    while (x > 0) { groups += (x & 0x7f).toByte; x >>= 7 }
    val out = groups.reverse.toArray
    for (i <- 0 until out.length - 1) out(i) = (out(i) | 0x80).toByte
    out
  }

  /** Serialize one record (serial-type header + body). Values: null,
    * Long, Double, String, Array[Byte].
    */
  private def record(values: Seq[Any]): Array[Byte] = {
    val parts = values.map {
      case null => (Array(0.toByte), Array.empty[Byte])
      case v: Long => (putVarint(6), { // always int64: simple + valid
        val b = java.nio.ByteBuffer.allocate(8); b.putLong(v); b.array()
      })
      case v: Double => (putVarint(7), {
        val b = java.nio.ByteBuffer.allocate(8); b.putDouble(v); b.array()
      })
      case v: String =>
        val bytes = v.getBytes("UTF-8")
        (putVarint(13 + 2L * bytes.length), bytes)
      case v: Array[Byte] => (putVarint(12 + 2L * v.length), v)
      case other => throw new IllegalArgumentException(s"unsupported value $other")
    }
    val typesLen = parts.map(_._1.length).sum
    // header length varint counts itself; one byte suffices here
    val hdr = putVarint(typesLen + 1)
    require(hdr.length == 1, "header too long for the minimal writer")
    hdr ++ parts.flatMap(_._1) ++ parts.flatMap(_._2)
  }

  /** One leaf table b-tree page from (rowid, record) cells. */
  private def leafPage(pageSize: Int, page1: Boolean,
      cells: Seq[(Long, Array[Byte])]): Array[Byte] = {
    val out = new Array[Byte](pageSize)
    val hdrOff = if (page1) 100 else 0
    out(hdrOff) = 0x0d
    out(hdrOff + 3) = (cells.length >> 8).toByte
    out(hdrOff + 4) = (cells.length & 0xff).toByte
    var content = pageSize
    val ptrs = scala.collection.mutable.ArrayBuffer.empty[Int]
    cells.foreach { case (rowid, rec) =>
      val cell = putVarint(rec.length) ++ putVarint(rowid) ++ rec
      content -= cell.length
      System.arraycopy(cell, 0, out, content, cell.length)
      ptrs += content
    }
    require(content >= hdrOff + 8 + 2 * cells.length, "page overflow: too many features")
    out(hdrOff + 5) = (content >> 8).toByte
    out(hdrOff + 6) = (content & 0xff).toByte
    ptrs.zipWithIndex.foreach { case (p, i) =>
      out(hdrOff + 8 + 2 * i) = (p >> 8).toByte
      out(hdrOff + 8 + 2 * i + 1) = (p & 0xff).toByte
    }
    out
  }

  /** Wrap raw WKB in a GPKG geometry blob (GP header, v0, LE, no envelope). */
  private def gpkgBlobOfWkb(wkb: Array[Byte], srsId: Int): Array[Byte] = {
    val gp = java.nio.ByteBuffer.allocate(8 + wkb.length)
    gp.put('G'.toByte).put('P'.toByte).put(0.toByte).put(1.toByte) // v0, LE, no env
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(srsId)
    gp.put(wkb)
    gp.array()
  }

  /** GPKG geometry blob wrapping a little-endian WKB polygon (one ring). */
  def gpkgPolygonBlob(ringPts: Seq[(Double, Double)], srsId: Int = 0): Array[Byte] = {
    val wkb = java.nio.ByteBuffer
      .allocate(1 + 4 + 4 + 4 + 16 * ringPts.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wkb.put(1.toByte).putInt(3).putInt(1).putInt(ringPts.length)
    ringPts.foreach { case (x, y) => wkb.putDouble(x).putDouble(y) }
    gpkgBlobOfWkb(wkb.array(), srsId)
  }

  /** WKT → little-endian WKB, for the six simple-features types — the
    * encode half of [[wkbToWkt]] (the write path the reference exercises,
    * object_classifier.py:193-213). Round-trip contract: wkbToWkt ∘
    * wktToWkb is the identity on the engine's canonical WKT spelling.
    * MULTIPOINT takes both spellings, `(1 2, 3 4)` and `((1 2), (3 4))`.
    */
  private[graft] def wktToWkb(wkt: String): Array[Byte] = {
    val s = wkt.trim
    val open = s.indexOf('(')
    require(open > 0, s"not WKT: $wkt")
    val kind = s.substring(0, open).trim.toUpperCase
    val body = s.substring(open, s.lastIndexOf(')') + 1)
    def pts(group: String): Seq[(Double, Double)] =
      group.split(',').toSeq.map { p =>
        val nums = p.trim.split("\\s+")
        require(nums.length == 2, s"bad WKT coordinate '$p'")
        (nums(0).toDouble, nums(1).toDouble)
      }
    // the top-level groups of "(g1, g2, …)", each without its own
    // enclosing parentheses (nested ones kept): ring lists of a POLYGON,
    // member bodies of a MULTILINESTRING/MULTIPOLYGON
    def groups(b: String): Seq[String] = {
      val inner = b.trim.stripPrefix("(").stripSuffix(")")
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0; val cur = new StringBuilder
      inner.foreach {
        case '(' => if (depth > 0) cur += '('; depth += 1
        case ')' => depth -= 1; if (depth == 0) { out += cur.toString; cur.clear() } else cur += ')'
        case c if depth > 0 => cur += c
        case _ => // separators between groups
      }
      out.toSeq
    }
    def buf(cap: Int) = java.nio.ByteBuffer.allocate(cap)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).put(1.toByte)
    def point(x: Double, y: Double) = buf(1 + 4 + 16).putInt(1).putDouble(x).putDouble(y).array()
    def line(ps: Seq[(Double, Double)]) = {
      val b = buf(1 + 4 + 4 + 16 * ps.length).putInt(2).putInt(ps.length)
      ps.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
      b.array()
    }
    // Multi*: a count, then each member as a complete nested WKB geometry
    def multi(code: Int, parts: Seq[Array[Byte]]) = {
      require(parts.nonEmpty, s"empty $kind body: $wkt")
      val b = buf(1 + 4 + 4 + parts.map(_.length).sum).putInt(code).putInt(parts.length)
      parts.foreach(b.put)
      b.array()
    }
    kind match {
      case "POINT" =>
        val Seq((x, y)) = pts(body.stripPrefix("(").stripSuffix(")"))
        point(x, y)
      case "LINESTRING" => line(pts(body.stripPrefix("(").stripSuffix(")")))
      case "POLYGON" =>
        val rs = groups(body).map(pts)
        val b = buf(1 + 4 + 4 + rs.map(4 + 16 * _.length).sum).putInt(3).putInt(rs.length)
        rs.foreach { r =>
          b.putInt(r.length)
          r.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
        }
        b.array()
      case "MULTIPOINT" => multi(4, pts(body.filterNot("()".contains(_))).map { case (x, y) => point(x, y) })
      case "MULTILINESTRING" => multi(5, groups(body).map(g => line(pts(g))))
      case "MULTIPOLYGON" => multi(6, groups(body).map(m => wktToWkb(s"POLYGON ($m)")))
      case other => throw new IllegalArgumentException(s"WKT type $other unsupported")
    }
  }

  /** One interior table b-tree page: (childPage, maxRowidInChild) cells
    * plus the rightmost child pointer at header offset 8.
    */
  private def interiorPage(pageSize: Int,
      children: Seq[(Int, Long)], rightmost: Int): Array[Byte] = {
    val out = new Array[Byte](pageSize)
    out(0) = 0x05
    out(3) = (children.length >> 8).toByte
    out(4) = (children.length & 0xff).toByte
    out(8) = (rightmost >> 24).toByte; out(9) = (rightmost >> 16).toByte
    out(10) = (rightmost >> 8).toByte; out(11) = (rightmost & 0xff).toByte
    var content = pageSize
    children.zipWithIndex.foreach { case ((child, key), i) =>
      val cell = Array((child >> 24).toByte, (child >> 16).toByte,
        (child >> 8).toByte, (child & 0xff).toByte) ++ putVarint(key)
      content -= cell.length
      System.arraycopy(cell, 0, out, content, cell.length)
      out(12 + 2 * i) = (content >> 8).toByte
      out(12 + 2 * i + 1) = (content & 0xff).toByte
    }
    require(content >= 12 + 2 * children.length, "interior page overflow")
    out(5) = (content >> 8).toByte
    out(6) = (content & 0xff).toByte
    out
  }

  /** One layer's inputs to the file assembler: name, CREATE TABLE sql,
    * srs id, and (rowid, serialized record) cells in ASCENDING rowid
    * order (b-tree key order).
    */
  private final case class LayerDef(name: String, sql: String, srsId: Int,
      cells: Seq[(Long, Array[Byte])])

  /** Assemble a GPKG file from one or MORE feature layers: page 1 =
    * sqlite_master (one entry per layer table + gpkg_contents), then each
    * layer's feature b-tree — one leaf when the cells fit, else paginated
    * leaves under an interior root (so big fixtures exercise the reader's
    * interior walk) — then gpkg_contents with one `features` row per
    * layer (the reference's month-keyed layer sets,
    * object_classifier.py:193-213, live several-to-a-file).
    */
  private def buildGpkgFile(layers: Seq[LayerDef]): Array[Byte] = {
    require(layers.nonEmpty, "need at least one layer")
    require(layers.map(_.name).distinct.length == layers.length,
      s"duplicate layer names: ${layers.map(_.name).mkString(", ")}")
    val pageSize = 4096
    // pages(i) is file page i+1; slot 0 reserved for page 1 (master)
    val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]](null)

    /** Append a table's pages; returns its root page number. */
    def writeTable(cells: Seq[(Long, Array[Byte])]): Int = {
      def cellLen(c: (Long, Array[Byte])): Int =
        putVarint(c._2.length).length + putVarint(c._1).length + c._2.length
      // greedy split into leaves that respect header + pointer array space
      val leaves = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])])
      var used = 8
      cells.foreach { c =>
        val extra = cellLen(c) + 2
        if (used + extra > pageSize && leaves.last.nonEmpty) {
          leaves += scala.collection.mutable.ArrayBuffer.empty; used = 8
        }
        leaves.last += c; used += extra
      }
      val leafPageNos = leaves.map { ls =>
        pages += leafPage(pageSize, page1 = false, ls.toSeq)
        pages.length
      }
      if (leafPageNos.length == 1) leafPageNos.head
      else {
        val keyed = leafPageNos.zip(leaves.map(_.last._1)) // (page, max rowid)
        pages += interiorPage(pageSize, keyed.init.toSeq, keyed.last._1)
        pages.length
      }
    }

    val roots = layers.map(l => l -> writeTable(l.cells))
    val contentsRoot = writeTable(layers.zipWithIndex.map { case (l, i) =>
      (i + 1).toLong -> record(Seq(l.name, "features", l.name, l.srsId.toLong))
    })

    val contentsSql = "CREATE TABLE gpkg_contents (table_name TEXT, " +
      "data_type TEXT, identifier TEXT, srs_id INTEGER)"
    pages(0) = leafPage(pageSize, page1 = true,
      roots.zipWithIndex.map { case ((l, root), i) =>
        (i + 1).toLong -> record(Seq("table", l.name, l.name, root.toLong, l.sql))
      } :+ ((layers.length + 1).toLong -> record(Seq("table", "gpkg_contents",
        "gpkg_contents", contentsRoot.toLong, contentsSql))))

    val db = pages.toArray.flatten
    // 100-byte file header over page 1's start
    val h = java.nio.ByteBuffer.wrap(db)
    h.put("SQLite format 3\u0000".getBytes("US-ASCII"))
    h.putShort(16, pageSize.toShort)
    db(18) = 1; db(19) = 1 // file format write/read version
    db(21) = 64; db(22) = 32; db(23) = 32 // payload fractions (fixed by spec)
    h.putInt(28, pages.length) // page count
    h.putInt(44, 1) // schema format 1
    h.putInt(56, 1) // UTF-8
    h.putInt(68, 0x47504b47) // application_id "GPKG"
    db
  }

  /** Minimal valid single-layer GPKG bytes with the reference's
    * classified-polygon shape (fid, geomBlob, name, value)
    * (object_classifier.py:193-213). Feature rowids must be ascending.
    */
  def synthGpkg(layer: String,
      features: Seq[(Long, Array[Byte], String, Double)]): Array[Byte] =
    buildGpkgFile(Seq(LayerDef(layer,
      s"CREATE TABLE $layer (fid INTEGER PRIMARY KEY, " +
        "geom POLYGON, name TEXT, value REAL)",
      srsId = 0,
      features.map { case (fid, geom, name, value) =>
        // INTEGER PRIMARY KEY alias rule: fid stored as NULL, rowid carries it
        fid -> record(Seq(null, geom, name, value))
      })))

  /** Declared SQLite type for a Spark field (the writer half of
    * [[sparkTypeOf]] - chosen so read-after-write recovers the same Spark
    * schema).
    */
  private def declTypeOf(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case StringType => "TEXT"
    case BinaryType => "BLOB"
    case other => throw new IllegalArgumentException(
      s"GPKG writer: unsupported column type $other")
  }

  /** Serialize a whole DataFrame as one single-layer GPKG file - the
    * reference's WRITE path (object_classifier.py:193-213 streams
    * classified features into a GPKG layer). `geomCol` must hold WKT
    * (POINT/LINESTRING/POLYGON, encoded as GP blobs); `fidCol` must be
    * integral and unique and becomes the layer's INTEGER PRIMARY KEY
    * (rows are sorted by it - the b-tree key order). Driver-side by
    * design: ONE SQLite file is one unsplittable b-tree; the scale path
    * is [[writeLayerFiles]] (many files, executor-side).
    */
  def writeLayer(df: DataFrame, layer: String,
      geomCol: String = "geom", fidCol: String = "fid",
      srsId: Int = 0): Array[Byte] =
    layerBytes(df.schema, df.collect().toIndexedSeq, layer, geomCol, fidCol, srsId)

  /** MULTI-layer write: one GPKG file holding several feature layers —
    * the reference's month-keyed layer sets (object_classifier.py:193-213
    * writes one layer per month into the same container). Layers may have
    * different schemas; each is enumerable via [[layersOf]] and readable
    * by name via [[readLayer]]. Driver-side like [[writeLayer]] (one
    * SQLite b-tree per file); shard across MANY files via
    * [[writeLayerFiles]] for the 100 TB shape.
    */
  def writeLayers(layers: Seq[(String, DataFrame)],
      geomCol: String = "geom", fidCol: String = "fid",
      srsId: Int = 0): Array[Byte] =
    buildGpkgFile(layers.map { case (name, df) =>
      layerDefOf(df.schema, df.collect().toIndexedSeq, name, geomCol, fidCol, srsId)
    })

  /** The executor-safe core of [[writeLayer]] (pure bytes from rows). */
  private def layerBytes(schema: StructType, rows: Seq[Row], layer: String,
      geomCol: String, fidCol: String, srsId: Int): Array[Byte] =
    buildGpkgFile(Seq(layerDefOf(schema, rows, layer, geomCol, fidCol, srsId)))

  private def layerDefOf(schema: StructType, rows: Seq[Row], layer: String,
      geomCol: String, fidCol: String, srsId: Int): LayerDef = {
    val fidIdx = schema.fieldIndex(fidCol)
    val geomIdx = schema.fieldIndex(geomCol)
    require(schema(geomIdx).dataType == StringType,
      s"geometry column '$geomCol' must be WKT strings")
    // fid leads (INTEGER PRIMARY KEY), remaining columns keep their order
    val rest = schema.fields.indices.filterNot(_ == fidIdx)
    val layerSql = s"CREATE TABLE $layer (${schema(fidIdx).name} INTEGER PRIMARY KEY, " +
      rest.map { i =>
        val f = schema(i)
        val decl = if (i == geomIdx) "GEOMETRY" else declTypeOf(f.dataType)
        s"${f.name} $decl"
      }.mkString(", ") + ")"
    def fidOf(r: Row): Long = r.get(fidIdx) match {
      case v: Long => v
      case v: Int => v.toLong
      case v: Short => v.toLong
      case other => throw new IllegalArgumentException(s"fid must be integral, got $other")
    }
    val cells = rows.sortBy(fidOf).map { r =>
      val vals: Seq[Any] = null +: rest.map { i => // leading null = fid alias rule
        if (r.isNullAt(i)) null
        else if (i == geomIdx) gpkgBlobOfWkb(wktToWkb(r.getString(i)), srsId)
        else r.get(i) match {
          case v: Long => v
          case v: Int => v.toLong
          case v: Short => v.toLong
          case v: Byte => v.toLong
          case v: Double => v
          case v: Float => v.toDouble
          case v: String => v
          case v: Array[Byte] => v
          case other => throw new IllegalArgumentException(s"unsupported value $other")
        }
      }
      fidOf(r) -> record(vals)
    }
    LayerDef(layer, layerSql, srsId, cells)
  }

  /** Distributed GPKG sink: one `.gpkg` file per `keyCol` value under
    * `dir` - the reference's per-tile vector sharding
    * (image_segmentation.py:153-162) as a Spark job. A SQLite file is one
    * b-tree (not splittable), so the 100 TB shape is MANY files: keys are
    * hash-shuffled across executors, each task serializes its keys' files
    * locally and in parallel; nothing rides the driver.
    */
  def writeLayerFiles(df: DataFrame, dir: String, layer: String,
      keyCol: String, geomCol: String = "geom", fidCol: String = "fid",
      srsId: Int = 0): Unit = {
    val schema = df.schema
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    KeyedFileSink.foreachKeyRun(df, keyCol) { (key, rows) =>
      val bytes = layerBytes(schema, rows, layer, geomCol, fidCol, srsId)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"${KeyedFileSink.safeName(key)}.gpkg"), bytes)
    }
  }
}
