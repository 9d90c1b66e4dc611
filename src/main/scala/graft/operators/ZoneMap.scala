package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max data skipping ("zone maps") for plain parquet
  * directories — the metastore-free analog of Iceberg/Delta file statistics,
  * and the unpartitioned-file complement of directory partition pruning
  * (s5) and the IVF index's partition-filter probes.
  *
  * Scale shape: the index has ONE ROW PER FILE — at 100 TB / 128 MB files
  * that is ~800k tiny rows, safely collectible on the driver (it is the
  * same cardinality every metastore-backed planner materializes to plan a
  * scan). `build` is a single distributed pass over the data; `prunedRead`
  * collects only the MATCHING file names and hands Spark an explicit file
  * list, so the skipped files are never opened — not even their footers.
  *
  * The payoff requires files with tight value ranges: write sorted or
  * range-repartitioned by the skip column (see zm1: `repartitionByRange`
  * on ship date → a 3-month predicate opens ~1/8 of the files).
  *
  * Reference analog: the tiled GeoTIFF layout (feature_stacking.py:227-229)
  * reads only the blocks a window touches; zone maps are the columnar
  * equivalent for value predicates instead of spatial windows.
  */
object ZoneMap {

  /** Per-file row count plus min/max for each of `cols`. Output columns:
    * `file`, `n_rows`, `<c>_min`, `<c>_max`. min/max ignore NULLs (SQL
    * semantics) — a file whose column is all-NULL gets NULL bounds, which
    * `prune` treats as "cannot match a range predicate" (correct: NULL
    * never satisfies one).
    *
    * r17: the index is built from the PARQUET FOOTERS, not a data scan —
    * every footer already carries exact per-chunk row counts and min/max,
    * so the build costs one metadata read per file instead of decoding
    * the data it just wrote (at 100 TB: ~800k footer reads vs a full
    * corpus pass). Columns whose footer stats are not provably exact
    * fall back — per column, all files — to the original scan aggregate:
    *   - INT96 timestamps carry no stats at all (the reason the session
    *     writes TIMESTAMP_MICROS now);
    *   - string/binary chunk stats can be truncated by writer config and
    *     the Statistics API does not expose exactness;
    *   - float/double stats silently skip NaNs (Spark's max would be NaN)
    *     and old writers order ±0.0 wrong;
    *   - partition columns live in directory names, not footers.
    * ZoneMapSpec gates footer-build ≡ scan-build on mixed fixtures.
    */
  def build(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to index")
    val full = spark.read.parquet(dir)
    val fields = full.schema
    val footer = try buildFromFooters(spark, dir, cols, fields)
    catch { case scala.util.control.NonFatal(_) => None }
    footer.getOrElse(buildByScan(full, cols))
  }

  /** The original one-pass scan aggregate — the fallback path and the
    * equivalence oracle for the footer build (ZoneMapSpec).
    */
  private[graft] def buildByScan(full: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    full.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Footer-stats build. Returns None when no requested column can be
    * served from footers (the all-fallback case — then the plain scan is
    * strictly simpler). Columns that cannot be served exactly are scanned
    * (one pass, only those columns, collected: one row per file) and
    * joined back on the file name — `input_file_name()` and
    * `FileStatus.getPath.toUri.toString` render identically (probed: both
    * `file:///...`). When the scanned file set differs from the footer
    * listing's, this returns None and the caller scans every column.
    */
  private def buildFromFooters(
      spark: SparkSession,
      dir: String,
      cols: Seq[String],
      fields: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val hconf = spark.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(hconf)
    // the same leaf set Spark's scan uses: recursive, skip hidden files
    // and hidden directories (_metadata, .crc, _SUCCESS)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) leaves(s.getPath) else Seq(s)
      }
    val files = leaves(base)
    if (files.isEmpty) return None
    // one footer read per file, bounded thread pool (metadata-only I/O)
    case class FileStats(
        uri: String, nRows: Long,
        bounds: Map[String, Option[(Any, Any)]], // col -> None=all-null
        failed: Set[String])
    val perFile: Seq[FileStats] = boundedMap(files, math.min(16, math.max(1, files.size))) { st =>
      import scala.jdk.CollectionConverters._
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
      try {
        val md = rdr.getFooter
        val blocks = md.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        val schema = md.getFileMetaData.getSchema
        var bounds = Map.empty[String, Option[(Any, Any)]]
        var failed = Set.empty[String]
        for (c <- cols) {
          footerBounds(c, fields, schema, blocks) match {
            case Some(b) => bounds += (c -> b)
            case None => failed += c
          }
        }
        FileStats(st.getPath.toUri.toString, nRows, bounds, failed)
      } finally rdr.close()
    }
    val failedCols = perFile.iterator.flatMap(_.failed).toSet
    val servedCols = cols.filterNot(failedCols)
    if (servedCols.isEmpty) return None
    // zero-row files produce no group under the scan build; mirror that
    val live = perFile.filter(_.nRows > 0L)
    val footerSchema = StructType(
      StructField("file", StringType, nullable = false) +:
        StructField("n_rows", LongType, nullable = false) +:
        servedCols.flatMap { c =>
          val dt = fields(c).dataType
          Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt))
        })
    val rows = live.map { f =>
      org.apache.spark.sql.Row.fromSeq(
        f.uri +: f.nRows +: servedCols.flatMap { c =>
          f.bounds(c) match {
            case Some((mn, mx)) => Seq(mn, mx)
            case None => Seq(null, null)
          }
        })
    }
    val footerDf = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), footerSchema)
    val joined =
      if (failedCols.isEmpty) footerDf
      else {
        val fallbackAggs = cols.filter(failedCols).flatMap(c =>
          Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
        val scanned = spark.read.parquet(dir)
          .groupBy(input_file_name().as("file"))
          .agg(fallbackAggs.head, fallbackAggs.tail: _*)
        // one row per file, like the index itself. The join matches two
        // renderings of each path and the two listings' rules for hidden
        // files; where they disagree a file would silently drop out of the
        // index, so any difference in the file sets falls back to the scan
        val scannedRows = scanned.collect()
        if (scannedRows.map(_.getString(0)).toSet != live.map(_.uri).toSet) return None
        footerDf.join(spark.createDataFrame(
          java.util.Arrays.asList(scannedRows: _*), scanned.schema), Seq("file"))
      }
    // canonical column order regardless of which side served each column
    Some(joined.select(col("file") +: col("n_rows") +:
      cols.flatMap(c => Seq(col(s"${c}_min"), col(s"${c}_max"))): _*))
  }

  /** `f` over `items` on a pool of `threads`, results in input order. When
    * a call throws, the calls still running are interrupted and those not
    * started are dropped (`shutdownNow`) before the failure propagates, so
    * no reader outlives the call.
    */
  private[graft] def boundedMap[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    var done = false
    try {
      val tasks = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(a)
      }))
      val out = tasks.map(_.get())
      done = true
      out
    } finally if (done) pool.shutdown() else pool.shutdownNow()
  }

  /** Exact bounds for one column of one file from its footer, or None if
    * the footer cannot prove them (missing/unsupported/inexact stats).
    * Some(None) = the column is all-NULL in this file (NULL bounds).
    */
  private def footerBounds(
      colName: String,
      fields: org.apache.spark.sql.types.StructType,
      schema: org.apache.parquet.schema.MessageType,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData])
      : Option[Option[(Any, Any)]] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    if (!fields.fieldNames.contains(colName)) return None
    val sparkType = fields(colName).dataType
    if (!schema.containsField(colName)) return None // partition/absent col
    val pt = schema.getType(Seq(colName): _*)
    if (!pt.isPrimitive) return None
    val prim = pt.asPrimitiveType()
    // (parquet primitive+annotation, spark type) pairs whose chunk stats
    // are exact by construction; everything else scans
    def tsUnitOk(u: LogicalTypeAnnotation.TimeUnit) =
      u == LogicalTypeAnnotation.TimeUnit.MICROS ||
        u == LogicalTypeAnnotation.TimeUnit.MILLIS
    val supported = (prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation,
        sparkType) match {
      case (INT64, a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation,
          TimestampType) => a.isAdjustedToUTC && tsUnitOk(a.getUnit)
      case (INT64, a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation,
          TimestampNTZType) => !a.isAdjustedToUTC && tsUnitOk(a.getUnit)
      case (INT64, _, LongType) => true
      case (INT32, _, IntegerType | ShortType | ByteType | DateType) => true
      case _ => false
    }
    if (!supported) return None
    def convert(v: Any): Any = (sparkType, v) match {
      case (TimestampType, l: java.lang.Long) =>
        val micros = prim.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if a.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            java.lang.Math.multiplyExact(l.longValue(), 1000L)
          case _ => l.longValue()
        }
        org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(micros)
      case (TimestampNTZType, l: java.lang.Long) =>
        val micros = prim.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if a.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            java.lang.Math.multiplyExact(l.longValue(), 1000L)
          case _ => l.longValue()
        }
        org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToLocalDateTime(micros)
      case (DateType, i: java.lang.Integer) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
      case (ShortType, i: java.lang.Integer) => i.shortValue()
      case (ByteType, i: java.lang.Integer) => i.byteValue()
      case (_, x) => x
    }
    var mn: Any = null
    var mx: Any = null
    for (b <- blocks) {
      if (b.getRowCount > 0L) {
        val chunk = b.getColumns.asScala.find(c =>
          c.getPath.size() == 1 && c.getPath.toDotString == colName)
          .getOrElse(return None)
        val st = chunk.getStatistics
        if (st == null) return None
        if (st.hasNonNullValue) {
          val bmin = st.genericGetMin.asInstanceOf[AnyRef]
          val bmax = st.genericGetMax.asInstanceOf[AnyRef]
          // `supported` pins INT64→LongStatistics / INT32→IntStatistics
          def lt(a: Any, bb: Any): Boolean = (a, bb) match {
            case (x: java.lang.Long, y: java.lang.Long) => x < y
            case (x: java.lang.Integer, y: java.lang.Integer) => x < y
            case _ => throw new IllegalStateException(
              s"unexpected stats value types: ${a.getClass} / ${bb.getClass}")
          }
          if (mn == null || lt(bmin, mn)) mn = bmin
          if (mx == null || lt(mx, bmax)) mx = bmax
        } else if (!(st.isNumNullsSet && st.getNumNulls == b.getRowCount)) {
          // cannot distinguish "no stats" from "all null": be exact, scan
          return None
        }
      }
    }
    if (mn == null) Some(None) else Some(Some((convert(mn), convert(mx))))
  }

  /** Files whose [min, max] interval intersects [lo, hi). NULL bounds
    * (all-NULL file) never intersect a range predicate.
    */
  def prune(index: DataFrame, colName: String, lo: Any, hi: Any): DataFrame =
    index.filter(col(s"${colName}_max") >= lit(lo) && col(s"${colName}_min") < lit(hi))

  /** Morton / Z-ORDER clustering write — the lakehouse `OPTIMIZE ZORDER
    * BY` as a plain parquet rewrite: each clustering column normalizes to
    * a `bits`-bit rank by its global [min, max] (ONE aggregate pass whose
    * bounds land in the plan as literals), the ranks bit-interleave into
    * one integer key, and the frame range-partitions + sorts by it. Files
    * then have tight ranges on EVERY clustering column at once, so a
    * multi-dimensional box predicate prunes to ~O(n^((k-1)/k)) of the
    * files where a single-column range layout prunes only its own
    * dimension. Scale shape: one agg + one shuffle-write pass — exactly
    * what a metastore OPTIMIZE job costs.
    */
  def writeZOrdered(df: DataFrame, dir: String, cols: Seq[String],
      nFiles: Int, bits: Int = 16): Unit = {
    require(cols.size >= 2,
      "z-ordering needs >= 2 columns (one column is a plain range layout)")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits($bits) x columns(${cols.size}) must fit a signed long")
    val k = cols.size
    writeCurveOrdered(df, dir, cols, nFiles, bits, "z-order") { ranks =>
      (0 until bits).flatMap { b =>
        ranks.zipWithIndex.map { case (r, i) =>
          shiftleft(shiftright(r, b).bitwiseAND(lit(1L)), b * k + i)
        }
      }.reduce(_.bitwiseOR(_))
    }
  }

  /** Shared curve-layout scaffolding: global-bounds rank normalization to
    * `bits`-bit integers (ONE aggregate pass whose bounds land in the
    * plan as literals), then range-partition + sort on the curve key the
    * caller builds from the ranks. Both curve writes differ ONLY in the
    * key expression — keep every shared fix (rank formula, NULL-bounds
    * rejects, the write tail) in one place.
    */
  private def writeCurveOrdered(df: DataFrame, dir: String, cols: Seq[String],
      nFiles: Int, bits: Int, what: String)(key: Seq[Column] => Column): Unit = {
    cols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"$what column '$c' must be numeric, got ${df.schema(c).dataType}")
    }
    val boundAggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(boundAggs.head, boundAggs.tail: _*).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
        s"$what column '$c' has NULL bounds — the input is empty or the " +
          "column is entirely NULL; nothing to cluster")
    }
    val maxRank = (1L << bits) - 1
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      val mn = bounds.getDouble(2 * i)
      val mx = bounds.getDouble(2 * i + 1)
      val span = if (mx > mn) mx - mn else 1.0 // constant column: rank 0
      least(lit(maxRank),
        floor((col(c).cast("double") - lit(mn)) / lit(span) * lit(maxRank + 1.0))
          .cast("long"))
    }
    df.withColumn("__ckey", key(ranks))
      .repartitionByRange(nFiles, col("__ckey"))
      .sortWithinPartitions("__ckey")
      .drop("__ckey")
      .write.mode("overwrite").parquet(dir)
  }

  /** HILBERT-curve clustering write — [[writeZOrdered]] with the
    * interleaved Morton key replaced by the Hilbert curve distance
    * ([[graft.functions.HilbertExprs]]): the same rank normalization and
    * range-partitioned sort, but consecutive keys are now ALWAYS
    * 4-adjacent cells, so a 2-D box decomposes into ~1.8x fewer
    * contiguous key ranges (HilbertSpec measures 25,544 vs 45,312 runs
    * over every 8x8 box of a 64x64 grid) — directly fewer files opened
    * per box predicate at any corpus size. Two dimensions only: that is
    * the curve with the adjacency theorem; for k>2 use writeZOrdered.
    * Scale shape identical to zo1: one bounds aggregate + one
    * shuffle-write pass.
    */
  def writeHilbertOrdered(df: DataFrame, dir: String, cols: Seq[String],
      nFiles: Int, bits: Int = 16): Unit = {
    require(cols.size == 2,
      s"hilbert ordering is 2-D (got ${cols.size} columns); use writeZOrdered for k != 2")
    require(bits >= 1 && bits <= 31, s"bits($bits) must be in [1,31]")
    writeCurveOrdered(df, dir, cols, nFiles, bits, "hilbert") { ranks =>
      graft.functions.HilbertExprs.indexCol(ranks(0), ranks(1), bits)
    }
  }


  /** Hilbert-KEYED layout over INTEGER CELL columns (values already in
    * [0, 2^bits) — the expression fail-closes on range): keeps the curve
    * distance as `keyName`, so reads can scan the CONTIGUOUS key ranges
    * [[graft.functions.HilbertExprs.boxRanges]] plans for a box — the
    * read path that actually cashes in the adjacency theorem
    * ([[writeHilbertOrdered]]'s rank-normalized variant only prunes
    * per-column, like Z-order). One shuffle-write pass, zone-mappable on
    * the key like any other column.
    */
  def writeHilbertCells(df: DataFrame, dir: String, xCol: String, yCol: String,
      bits: Int, nFiles: Int, keyName: String = "__hkey"): Unit = {
    require(bits >= 1 && bits <= 31, s"bits($bits) must be in [1,31]")
    val key = graft.functions.HilbertExprs.indexCol(
      col(xCol).cast("long"), col(yCol).cast("long"), bits)
    df.withColumn(keyName, key)
      .repartitionByRange(nFiles, col(keyName))
      .sortWithinPartitions(keyName)
      .write.mode("overwrite").parquet(dir)
    // advertise the layout so prunedReadBox can take the ranged-read
    // path without the caller knowing the store is curve-keyed
    writeHilbertLayout(df.sparkSession, dir,
      HilbertCellLayout(keyName, xCol, yCol, bits))
  }

  /** Sidecar a curve-keyed write leaves beside its files so READERS can
    * discover the layout: underscore-prefixed (Spark's parquet scan
    * ignores it, like _SUCCESS), tiny JSON, written/read through the
    * Hadoop FS API so the same path works on HDFS/S3 object stores.
    */
  val LayoutSidecar = "_graft_layout.json"

  final case class HilbertCellLayout(key: String, x: String, y: String, bits: Int)

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def writeHilbertLayout(spark: SparkSession, dir: String,
      layout: HilbertCellLayout): Unit = {
    require(!layout.key.contains("\"") && !layout.x.contains("\"") &&
      !layout.y.contains("\""), "layout column names must not contain quotes")
    val (fs, base) = fsFor(spark, dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(base, LayoutSidecar), true)
    try out.write(
      (s"""{"kind":"hilbert-cells","key":"${layout.key}","x":"${layout.x}",""" +
        s""""y":"${layout.y}","bits":${layout.bits}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readHilbertLayout(spark: SparkSession, dir: String): Option[HilbertCellLayout] = {
    val (fs, base) = fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(base, LayoutSidecar)
    if (!fs.exists(p)) return None
    // the ranged route is an OPTIMIZATION: an unreadable/corrupt sidecar
    // (checksum failure, truncated write) falls back to per-column
    // pruning rather than failing the read
    val txt =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => return None }
    def str(k: String) =
      ("\"" + k + "\"\\s*:\\s*\"([^\"]+)\"").r.findFirstMatchIn(txt).map(_.group(1))
    def num(k: String) =
      ("\"" + k + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toInt)
    for {
      kind <- str("kind") if kind == "hilbert-cells"
      key <- str("key")
      x <- str("x")
      y <- str("y")
      bits <- num("bits")
    } yield HilbertCellLayout(key, x, y, bits)
  }

  /** Read only the files whose key bounds intersect ANY of the given
    * half-open ranges, then apply the exact range residual — the
    * multi-range generalization of [[prunedRead]] serving
    * [[graft.functions.HilbertExprs.boxRanges]] output. Result ≡ full
    * read + the same residual, by construction.
    */
  def prunedReadRanges(
      spark: SparkSession,
      dir: String,
      index: DataFrame,
      keyCol: String,
      ranges: Seq[(Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "need at least one key range")
    val filePred = ranges.map { case (lo, hi) =>
      col(s"${keyCol}_max") >= lit(lo) && col(s"${keyCol}_min") < lit(hi)
    }.reduce(_ || _)
    val files = index.filter(filePred).select("file").collect().map(_.getString(0))
    val residual = ranges.map { case (lo, hi) =>
      col(keyCol) >= lit(lo) && col(keyCol) < lit(hi)
    }.reduce(_ || _)
    if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.option("basePath", dir)
      .parquet(files.toIndexedSeq: _*).filter(residual)
  }

  /** [[prunedRead]] for a MULTI-dimensional box: compose the per-column
    * file prunes, read the surviving files once, apply every residual.
    * The shape z-ordered layouts exist for — each extra dimension prunes
    * multiplicatively instead of not at all.
    *
    * When the store advertises a Hilbert-cell layout (the sidecar
    * [[writeHilbertCells]] leaves), the box over its (x, y) cell columns
    * routes through [[graft.functions.HilbertExprs.boxRanges]] instead:
    * files prune by CONTIGUOUS curve-key-range intersection — the read
    * path that cashes in the adjacency theorem (~1.8× fewer ranges than
    * Z-order, HilbertSpec's measurement), and it needs NO per-column
    * stats for x/y (the key's bounds subsume them; zo4's index carries
    * only the key). Falls back to per-column pruning when the sidecar is
    * absent, the index lacks the key's bounds, or the box bounds aren't
    * integral. Either path: result ≡ full read + the same residual.
    */
  def prunedReadBox(
      spark: SparkSession,
      dir: String,
      index: DataFrame,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    require(preds.nonEmpty, "need at least one predicate")
    val residual = preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) < lit(hi)
    }.reduce(_ && _)
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    val curveFiles: Option[Array[String]] =
      readHilbertLayout(spark, dir).flatMap { lay =>
        val px = preds.find(_._1 == lay.x)
        val py = preds.find(_._1 == lay.y)
        val hasKey = index.columns.contains(s"${lay.key}_min") &&
          index.columns.contains(s"${lay.key}_max")
        (px, py) match {
          case (Some((_, xl, xh)), Some((_, yl, yh))) if hasKey =>
            for {
              xlo <- longOf(xl); xhi <- longOf(xh)
              ylo <- longOf(yl); yhi <- longOf(yh)
            } yield {
              val maxCell = (1L << lay.bits) - 1
              val x0 = math.max(xlo, 0L); val x1 = math.min(xhi - 1, maxCell)
              val y0 = math.max(ylo, 0L); val y1 = math.min(yhi - 1, maxCell)
              if (x0 > x1 || y0 > y1) Array.empty[String]
              else {
                val ranges = graft.functions.HilbertExprs.boxRanges(
                  lay.bits, x0, y0, x1, y1)
                // box dims ride the key ranges; any OTHER predicate still
                // prunes per-column
                val others = preds.filterNot(p => p._1 == lay.x || p._1 == lay.y)
                val prunedIx = others.foldLeft(index) {
                  case (ix, (c, lo, hi)) => prune(ix, c, lo, hi)
                }
                val filePred = ranges.map { case (lo, hi) =>
                  col(s"${lay.key}_max") >= lit(lo) && col(s"${lay.key}_min") < lit(hi)
                }.reduce(_ || _)
                prunedIx.filter(filePred).select("file").collect().map(_.getString(0))
              }
            }
          case _ => None
        }
      }
    val files = curveFiles.getOrElse {
      val pruned = preds.foldLeft(index) { case (ix, (c, lo, hi)) => prune(ix, c, lo, hi) }
      pruned.select("file").collect().map(_.getString(0))
    }
    if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.option("basePath", dir)
      .parquet(files.toIndexedSeq: _*).filter(residual)
  }

  /** Read only the files the index cannot rule out for `lo <= c < hi`,
    * then apply the exact residual filter (zone maps prune files, they
    * don't evaluate predicates). Result ≡ full read + filter, by
    * construction; zm1 proves it under the DuckDB hash gate.
    */
  def prunedRead(
      spark: SparkSession,
      dir: String,
      index: DataFrame,
      colName: String,
      lo: Any,
      hi: Any): DataFrame = {
    val files = prune(index, colName, lo, hi)
      .select("file").collect().map(_.getString(0))
    val residual: Column = col(colName) >= lit(lo) && col(colName) < lit(hi)
    if (files.isEmpty)
      // keep the directory's schema without opening any data: an
      // always-false filter over the (footer-only) scan
      spark.read.parquet(dir).filter(lit(false))
    else
      // basePath keeps Spark's key=value partition-column inference for
      // explicit leaf-file reads — without it a partitioned layout would
      // return a DIFFERENT schema from the empty-files branch (and from
      // the contract's full read + filter)
      spark.read.option("basePath", dir)
        .parquet(files.toIndexedSeq: _*).filter(residual)
  }
}
