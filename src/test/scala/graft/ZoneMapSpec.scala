package graft

import graft.operators.ZoneMap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeRanged(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("zm_spec").toString
    val df = (1 to 4000).map(i => (i.toLong, i % 7, s"r$i")).toDF("k", "mod", "tag")
    df.repartitionByRange(8, col("k")).write.mode("overwrite").parquet(dir)
    (dir, df)
  }

  test("index has one row per file and counts/bounds cover the data") {
    val (dir, _) = writeRanged()
    val idx = ZoneMap.build(spark, dir, Seq("k")).collect()
    val nFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(idx.length == nFiles && nFiles == 8)
    assert(idx.map(_.getAs[Long]("n_rows")).sum == 4000L)
    assert(idx.map(_.getAs[Long]("k_min")).min == 1L)
    assert(idx.map(_.getAs[Long]("k_max")).max == 4000L)
  }

  test("a narrow range prunes most files; pruned read equals plain filter") {
    val (dir, _) = writeRanged()
    val idx = ZoneMap.build(spark, dir, Seq("k"))
    val kept = ZoneMap.prune(idx, "k", 1000L, 1500L).count()
    assert(kept < 8, s"expected pruning, kept all $kept files")
    val pruned = ZoneMap.prunedRead(spark, dir, idx, "k", 1000L, 1500L)
      .orderBy("k").collect().map(_.toSeq).toSeq
    val full = spark.read.parquet(dir).filter(col("k") >= 1000L && col("k") < 1500L)
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(pruned == full && full.size == 500)
  }

  test("range outside all bounds reads zero files but keeps the schema") {
    val (dir, _) = writeRanged()
    val idx = ZoneMap.build(spark, dir, Seq("k"))
    assert(ZoneMap.prune(idx, "k", 10000L, 20000L).count() == 0)
    val out = ZoneMap.prunedRead(spark, dir, idx, "k", 10000L, 20000L)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("k", "mod", "tag"))
  }

  test("z-order layout prunes a 2-D box on BOTH dimensions; result equals plain filter") {
    // a 64x64 integer grid: x and y independent, so a single-column range
    // layout gives the second dimension no file locality at all
    val df = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong, x * 64L + y)).toDF("x", "y", "payload")
    val zDir = java.nio.file.Files.createTempDirectory("zo_spec_z").toString
    ZoneMap.writeZOrdered(df, zDir, Seq("x", "y"), nFiles = 16)
    val rDir = java.nio.file.Files.createTempDirectory("zo_spec_r").toString
    df.repartitionByRange(16, col("x")).write.mode("overwrite").parquet(rDir)
    val box = Seq(("x", 8L, 24L), ("y", 8L, 24L)) // a 16x16 box = 1/16 of the data
    def prunedFiles(dir: String): Int = {
      val idx = ZoneMap.build(spark, dir, Seq("x", "y"))
      box.foldLeft(idx) { case (ix, (c, lo, hi)) => ZoneMap.prune(ix, c, lo, hi) }
        .count().toInt
    }
    val zFiles = prunedFiles(zDir)
    val rFiles = prunedFiles(rDir)
    // the x-range layout keeps ~hi-lo/4 of 16 files on x and NOTHING on y;
    // z-order must do at least as well and actually skip most files
    assert(zFiles > 0 && zFiles <= rFiles, s"z=$zFiles range=$rFiles")
    assert(zFiles < 16 / 2, s"z-order pruned only to $zFiles of 16 files")
    // correctness: pruned box read ≡ plain filter (both layouts)
    val want = df.filter(col("x").between(8, 23) && col("y").between(8, 23))
      .agg(sum("payload")).head().getLong(0)
    for (dir <- Seq(zDir, rDir)) {
      val idx = ZoneMap.build(spark, dir, Seq("x", "y"))
      val got = ZoneMap.prunedReadBox(spark, dir, idx, box)
        .agg(sum("payload")).head().getLong(0)
      assert(got == want, dir)
    }
    // guards: one column or a non-numeric column rejects
    intercept[IllegalArgumentException](
      ZoneMap.writeZOrdered(df, zDir, Seq("x"), 4))
    intercept[IllegalArgumentException](
      ZoneMap.writeZOrdered(df.withColumn("s", lit("a")), zDir, Seq("x", "s"), 4))
  }

  test("hilbert front door: sidecar routes prunedReadBox through ranged reads, fewer files opened") {
    val dir = java.nio.file.Files.createTempDirectory("zm_hfd").toString
    val df = (0 until 64 * 64).map(i => ((i % 64).toLong, (i / 64).toLong, i.toLong))
      .toDF("cx", "cy", "v")
    ZoneMap.writeHilbertCells(df, dir, "cx", "cy", bits = 6, nFiles = 24)
    // the write left a layout sidecar that round-trips
    val lay = ZoneMap.readHilbertLayout(spark, dir)
    assert(lay.contains(ZoneMap.HilbertCellLayout("__hkey", "cx", "cy", 6)))
    val preds = Seq[(String, Any, Any)](("cx", 8L, 24L), ("cy", 16L, 40L))
    // index carries ONLY the curve key -- per-column pruning could not
    // even run on it, the ranged route serves the box anyway
    val idxKey = ZoneMap.build(spark, dir, Seq("__hkey"))
    val got = ZoneMap.prunedReadBox(spark, dir, idxKey, preds)
    val expect = spark.read.parquet(dir)
      .filter(col("cx") >= 8 && col("cx") < 24 && col("cy") >= 16 && col("cy") < 40)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(got.select("v").collect().map(_.getLong(0)).toSet == expect)
    assert(expect.size == 16 * 24)
    // file-open count: the ranged route (what the front door took) vs
    // the per-column fallback (index stripped of the key bounds) -- the
    // adjacency payoff must show on the path users actually call. An
    // exhaustive 8x8-box scan over this fixture measured 92 strict wins,
    // 104 ties, 0 losses; (0,40) is a deterministic win (1 vs 2 files)
    val idxAll = ZoneMap.build(spark, dir, Seq("__hkey", "cx", "cy"))
    val winBox = Seq[(String, Any, Any)](("cx", 0L, 8L), ("cy", 40L, 48L))
    val curveOpened = ZoneMap.prunedReadBox(spark, dir, idxAll, winBox).inputFiles.length
    val perColOpened = ZoneMap.prunedReadBox(spark, dir,
      idxAll.drop("__hkey_min", "__hkey_max"), winBox).inputFiles.length
    assert(curveOpened > 0 && curveOpened < perColOpened,
      s"ranged route must open strictly fewer files: curve=$curveOpened percol=$perColOpened")
    // and across THIS test's main box it must never open more
    val c2 = ZoneMap.prunedReadBox(spark, dir, idxAll, preds).inputFiles.length
    val p2 = ZoneMap.prunedReadBox(spark, dir,
      idxAll.drop("__hkey_min", "__hkey_max"), preds).inputFiles.length
    assert(c2 <= p2, s"ranged route opened MORE files: curve=$c2 percol=$p2")
    // an out-of-domain box short-circuits to the empty frame, schema kept
    val empty = ZoneMap.prunedReadBox(spark, dir, idxKey,
      Seq[(String, Any, Any)](("cx", 100L, 90L), ("cy", 0L, 64L)))
    assert(empty.count() == 0 && empty.columns.contains("v"))
    // a corrupt sidecar silently falls back (the route is best-effort):
    // (a) unparseable content written through the FS, (b) a checksum
    // mismatch from a raw overwrite behind the Hadoop local FS's back
    ZoneMap.writeHilbertLayout(spark, dir, ZoneMap.HilbertCellLayout("x", "y", "z", 0)
      .copy(key = "{not json"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ZoneMap.LayoutSidecar),
      "{not json at all".getBytes("UTF-8"))
    assert(ZoneMap.readHilbertLayout(spark, dir).isEmpty)
    assert(ZoneMap.prunedReadBox(spark, dir, idxAll, preds)
      .select("v").collect().map(_.getLong(0)).toSet == expect)
    // restore for any later assertions
    ZoneMap.writeHilbertLayout(spark, dir, lay.get)
    // non-integral bounds fall back to per-column pruning (needs stats)
    val viaFallback = ZoneMap.prunedReadBox(spark, dir, idxAll,
      Seq[(String, Any, Any)](("cx", 8.0, 24.0), ("cy", 16.0, 40.0)))
    assert(viaFallback.select("v").collect().map(_.getLong(0)).toSet == expect)
  }

  test("footer-stats build equals the scan build on mixed fixtures") {
    // long / int / date / timestamp come from footers; string + double are
    // deliberate fallback columns (truncation / NaN-skipping hazards); one
    // file's `nv` column is all-NULL (NULL bounds on both paths)
    val dir = java.nio.file.Files.createTempDirectory("zm_foot").toString
    val rows = (1 to 300).map { i =>
      (i.toLong, i * 7 % 31,
        java.sql.Date.valueOf(java.time.LocalDate.of(1996, 1, 1).plusDays(i)),
        java.sql.Timestamp.valueOf(s"1996-0${i % 9 + 1}-0${i % 27 % 28 / 4 + 1} 00:00:0${i % 10}"),
        java.time.LocalDateTime.of(1996, i % 12 + 1, i % 28 + 1, i % 24, 0),
        s"tag$i", i * 0.5,
        if (i <= 150) java.lang.Long.valueOf(i.toLong) else null.asInstanceOf[java.lang.Long])
    }.toDF("k", "i", "dt", "ts", "tsn", "s", "dbl", "nv")
    rows.filter(col("k") <= 150).repartitionByRange(3, col("k"))
      .write.mode("overwrite").parquet(dir)
    // a second write appends a file whose nv is entirely NULL
    rows.filter(col("k") > 150).coalesce(1).write.mode("append").parquet(dir)
    val cols = Seq("k", "i", "dt", "ts", "tsn", "s", "dbl", "nv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq).toSeq
    val viaFooter = canon(ZoneMap.build(spark, dir, cols))
    val viaScan = canon(ZoneMap.buildByScan(spark.read.parquet(dir), cols))
    assert(viaFooter == viaScan)
    assert(viaFooter.size == 4)
    // INT96 timestamps carry no stats: the ts column must take the scan
    // fallback and still agree
    val dir96 = java.nio.file.Files.createTempDirectory("zm_foot96").toString
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      rows.repartitionByRange(2, col("k")).write.mode("overwrite").parquet(dir96)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    assert(canon(ZoneMap.build(spark, dir96, Seq("ts", "k"))) ==
      canon(ZoneMap.buildByScan(spark.read.parquet(dir96), Seq("ts", "k"))))
    // partition columns live in directory names, not footers — fallback
    val pdir = java.nio.file.Files.createTempDirectory("zm_footp").toString
    rows.filter(col("k") <= 150).coalesce(1).write.parquet(pdir + "/a=1")
    rows.filter(col("k") > 150).coalesce(1).write.parquet(pdir + "/a=2")
    assert(canon(ZoneMap.build(spark, pdir, Seq("k", "a"))) ==
      canon(ZoneMap.buildByScan(spark.read.parquet(pdir), Seq("k", "a"))))
  }

  test("a footer/scan file-set mismatch falls back to the scan build, never a partial index") {
    // Spark's file listing reads a root file named `_x=1.parquet` (a leading
    // underscore hides a file only without `=`); the footer listing skips
    // it. `s` is a fallback column, so the footer build joins on file names
    val dir = java.nio.file.Files.createTempDirectory("zm_guard").toString
    val df = (1 to 200).map(i => (i.toLong, s"tag$i")).toDF("k", "s")
    df.repartitionByRange(2, col("k")).write.mode("overwrite").parquet(dir)
    val other = java.nio.file.Files.createTempDirectory("zm_guard_src").toString
    (500 to 520).map(i => (i.toLong, s"tag$i")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(other)
    val part = new java.io.File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new java.io.File(dir, "_x=1.parquet").toPath)
    def canon(d: org.apache.spark.sql.DataFrame) = d.orderBy("file").collect().map(_.toSeq).toSeq
    val scan = canon(ZoneMap.buildByScan(spark.read.parquet(dir), Seq("k", "s")))
    assert(scan.size == 3, "the scan reads the underscore-equals file")
    assert(canon(ZoneMap.build(spark, dir, Seq("k", "s"))) == scan)
  }

  test("a failing footer read cancels the reads still running before it propagates") {
    val threads = 4
    val started = new java.util.concurrent.CountDownLatch(threads - 1)
    val interrupted = new java.util.concurrent.CountDownLatch(threads - 1)
    val e = intercept[java.util.concurrent.ExecutionException] {
      ZoneMap.boundedMap(0 until threads, threads) { i =>
        if (i == 0) {
          started.await(30, java.util.concurrent.TimeUnit.SECONDS)
          throw new java.io.IOException("corrupt footer")
        }
        started.countDown()
        try Thread.sleep(60000)
        catch { case _: InterruptedException => interrupted.countDown() }
        i
      }
    }
    assert(e.getCause.getMessage == "corrupt footer")
    assert(interrupted.await(10, java.util.concurrent.TimeUnit.SECONDS),
      s"${interrupted.getCount} reads still running after the failure")
    assert(ZoneMap.boundedMap(Seq(3, 1, 2), 2)(_ * 10) == Seq(30, 10, 20))
  }

  test("all-NULL files are skipped for range predicates (NULL never matches)") {
    val dir = java.nio.file.Files.createTempDirectory("zm_null").toString
    val some = Seq((1L, java.lang.Long.valueOf(5L)), (2L, java.lang.Long.valueOf(9L)))
      .toDF("id", "v")
    val nulls = Seq((3L, null.asInstanceOf[java.lang.Long])).toDF("id", "v")
    some.coalesce(1).write.parquet(dir + "/a=1")
    nulls.coalesce(1).write.parquet(dir + "/a=2")
    val idx = ZoneMap.build(spark, dir, Seq("v"))
    // the all-NULL file has NULL bounds and must not survive the prune
    val kept = ZoneMap.prune(idx, "v", 0L, 100L).collect().map(_.getString(0))
    assert(kept.length >= 1 && kept.forall(!_.contains("a=2")))
    val res = ZoneMap.prunedRead(spark, dir, idx, "v", 0L, 100L)
    // partitioned (key=value) layout: the inferred partition column must
    // survive the explicit-file read, matching the full-read schema
    assert(res.columns.toSeq == spark.read.parquet(dir).columns.toSeq)
    assert(res.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(res.select("a").distinct().as[Int].collect().toSeq == Seq(1))
  }
}
