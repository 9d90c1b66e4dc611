package graft

import graft.operators.Similarity
import graft.functions.{NearestCellsExpr, VectorOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.7f, 0.7f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("OrderedPairsExpr emits exactly the HOF flatten(transform(slice)) pairs (tfidf2 kernel)") {
    // the posting-list shape sparseTfidfPairs feeds it: sorted structs
    val lst = Seq(
      (1L, Seq((1L, 10L, "7"), (2L, 20L, "8"), (3L, 30L, "9"), (4L, 40L, "10"))),
      (2L, Seq((5L, 50L, "11"))),
      (3L, Seq.empty[(Long, Long, String)])
    ).toDF("term", "raw")
      .select(col("term"), expr(
        "transform(raw, x -> named_struct('d', x._1, 'w', x._2, 'nsq', CAST(x._3 AS DECIMAL(38,0))))"
      ).as("__lst"))
    val viaExpr = lst.select(col("term"), explode(
        graft.functions.OrderedPairsExpr.orderedPairs(col("__lst"))).as("pr"))
      .select(col("term"), col("pr.l.d").as("a"), col("pr.r.d").as("b"),
        (col("pr.l.w") * col("pr.r.w")).as("p"), col("pr.l.nsq").as("na"), col("pr.r.nsq").as("nb"))
    val viaHof = lst.select(col("term"), explode(flatten(
        transform(col("__lst"), (x, i) => transform(
          slice(col("__lst"), i + 2, size(col("__lst"))),
          y => struct(x.getField("d").as("a"), y.getField("d").as("b"),
            (x.getField("w") * y.getField("w")).as("p"),
            x.getField("nsq").as("na"), y.getField("nsq").as("nb")))))).as("pr"))
      .select(col("term"), col("pr.a").as("a"), col("pr.b").as("b"), col("pr.p").as("p"),
        col("pr.na").as("na"), col("pr.nb").as("nb"))
    val e = viaExpr.collect().map(_.toString).toSeq.sorted
    val h = viaHof.collect().map(_.toString).toSeq.sorted
    assert(e == h)
    assert(e.size == 6) // 4 choose 2; the 1- and 0-element lists emit none
    // emission ORDER is the flatten order too (not just the multiset)
    assert(viaExpr.filter(col("term") === 1).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("cosine matches hand-computed values (E2 kernel)") {
    val out = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(out((0L, 2L))) < 1e-12)
    assert(math.abs(out((0L, 3L)) + 1.0) < 1e-12)
    assert(out((0L, 1L)) > 0.99)
  }

  test("bruteForceTopK ranks by score desc with id tiebreak, excludes self (E2)") {
    val out = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 4L, 2L))
    assert(out.forall(_.getAs[Long]("query_id") == 0L))
    assert(!out.exists(_.getAs[Long]("neighbor_id") == 0L))
  }

  test("knnClassify takes the neighbor-label majority with a deterministic tie") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1),
      (11L, Array(0.95f, 0.05f), 1),
      (12L, Array(0.9f, 0.1f), 2),
      (13L, Array(0.0f, 1.0f), 3),
      (14L, Array(0.05f, 0.95f), 3)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, Array(0.99f, 0.01f)), (1L, Array(0.01f, 0.99f)))
      .toDF("vec_id", "embedding")
    // k=3: query 0's neighbors are 10/11/12 → labels 1,1,2 → majority 1;
    // query 1's are 13/14 + one x-cluster vector → labels 3,3,x → majority 3
    val out = Similarity.knnClassify(q, corpus, k = 3)
      .orderBy("query_id").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((0L, 1, 2L), (1L, 3, 2L)))
    // k=2 on query 0 → labels {1,1} still unanimous; force a 1-1 tie with
    // k=2 on a query equidistant-ish: labels 1 and 2 tie → smaller label wins
    val tie = Similarity.knnClassify(
        Seq((5L, Array(0.92f, 0.08f))).toDF("vec_id", "embedding"),
        corpus.filter(col("vec_id").isin(11L, 12L)), k = 2)
      .collect().head
    assert(tie.getInt(1) == 1 && tie.getLong(2) == 1L)
  }

  test("ivfTopK recalls the true neighbors on clustered data (E2 scale path)") {
    // two tight clusters far apart: IVF with nProbe=1 must stay in-cluster
    val rnd = new scala.util.Random(7)
    val data = (0 until 40).map { i =>
      val center = if (i < 20) Array(10.0f, 0.0f, 0.0f) else Array(0.0f, 10.0f, 0.0f)
      (i.toLong, center.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val queries = data.filter(col("vec_id").isin(0L, 25L))
    val brute = Similarity.bruteForceTopK(queries, data, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, data, k = 3, nLists = 2, nProbe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute) // perfect recall when clusters are well-separated
    // determinism across runs (seeded kmeans)
    val again = Similarity.ivfTopK(queries, data, k = 3, nLists = 2, nProbe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
  }

  test("ivfTopKWithCentroids: full probe == brute force; pruned stays in probed cells") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 60).map { i =>
      val center = Array.fill(3)(0.0f); center(i % 3) = 10.0f
      (i.toLong, center.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    // one representative per cluster as centroid (bring-your-own quantizer)
    val centroids = data.filter(col("vec_id") < 3)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val queries = data.filter(col("vec_id").isin(5L, 7L))
    val full = Similarity.ivfTopKWithCentroids(queries, data, centroids, k = 4, nProbe = 3)
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(queries, data, k = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute) // probing every cell is exhaustive
    // pruned: neighbors must come from the query's own cluster cell
    val pruned = Similarity.ivfTopKWithCentroids(queries, data, centroids, k = 4, nProbe = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.nonEmpty)
    pruned.foreach { case (q, n) => assert(q % 3 == n % 3, s"($q,$n) crossed clusters") }
  }

  // ---- the nearest-cell kernel against the window argmin it replaced ----

  /** The old formulation, kept as the oracle: broadcast cross join with
    * every centroid, then the `n` first rows of the (L2 distance, cell)
    * window per vector. */
  private def windowNearest(vectors: DataFrame, centroids: DataFrame, n: Int): Seq[(Long, Int)] = {
    val w = Window.partitionBy("vec_id").orderBy(col("cdist").asc, col("cell").asc)
    vectors.join(broadcast(centroids))
      .withColumn("cdist", VectorOps.l2Distance(col("embedding"), col("centroid")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
  }

  private def kernelNearest(vectors: DataFrame, centroids: DataFrame, n: Int): Seq[(Long, Int)] =
    vectors.select(col("vec_id"), explode(NearestCellsExpr.nearestCells(col("embedding"),
        Similarity.centroidTable(centroids), n)).as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted

  private def kernelFixture: (DataFrame, DataFrame, DataFrame) = {
    def f(x: Double) = java.lang.Float.valueOf(x.toFloat)
    val rnd = new scala.util.Random(23)
    val random = (0 until 40).map(i => Row(i.toLong, Seq.fill(3)(f(rnd.nextInt(9) * 0.5))))
    val special = Seq(
      Row(100L, Seq(f(1), f(0), f(0))),          // equidistant from cells 42 and -5
      Row(101L, Seq(f(Double.NaN), f(0), f(0))), // NaN component: every distance NaN
      Row(102L, null),                           // NULL embedding: every distance NULL
      Row(103L, Seq(f(1), null, f(0))),          // NULL component
      Row(104L, Seq(f(1), f(2))),                // shorter than the centroids
      Row(105L, Seq(f(0), f(0), f(0))))
    val vectors = spark.createDataFrame(java.util.Arrays.asList(random ++ special: _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
    // float centroids, cell ids unsorted, negative and far from 0..k-1
    val floatCents = Seq((42, Array(0f, 0f, 0f)), (-5, Array(2f, 0f, 0f)),
      (7, Array(0f, 3f, 0f)), (100, Array(2.5f, 2.5f, 2.5f))).toDF("cell", "centroid")
    // double centroids: a NULL component sorts its cell first for every
    // vector, a NaN component last
    val doubleCents = spark.createDataFrame(java.util.Arrays.asList(
        Row(6, Seq[Any](1.0, 1.0, 1.0)), Row(1, Seq[Any](0.0, 0.0, 0.0)),
        Row(4, Seq[Any](1.0, null, 0.0)), Row(9, Seq[Any](Double.NaN, 0.0, 0.0)),
        Row(2, Seq[Any](0.5, 0.5, 0.5))),
      StructType(Seq(StructField("cell", IntegerType),
        StructField("centroid", ArrayType(DoubleType)))))
    (vectors, floatCents, doubleCents)
  }

  test("nearest-cell kernel assigns the window argmin's cell: ties, NaN, NULL, float and double centroids") {
    val (vectors, floatCents, doubleCents) = kernelFixture
    for (cents <- Seq(floatCents, doubleCents)) {
      val oracle = windowNearest(vectors, cents, 1)
      assert(oracle.size == 46)
      assert(kernelNearest(vectors, cents, 1) == oracle)
      assert(Similarity.assignCells(vectors, cents).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted == oracle)
    }
    val byId = kernelNearest(vectors, floatCents, 1).toMap
    assert(byId(100L) == -5, "an exact tie goes to the lower cell")
    assert(Seq(101L, 102L, 103L, 104L).forall(byId(_) == -5), "NaN and NULL distances tie")
    // a NULL distance sorts first; where every distance is NULL the lowest cell wins
    assert(kernelNearest(vectors, doubleCents, 1).forall { case (id, cell) =>
      cell == (if (Set(102L, 103L, 104L)(id)) 1 else 4)
    })
    // from 105 the squared distances are 1 and 1 + 2^-52, whose square
    // roots are both 1.0: a tie, so the lower cell wins
    val sqrtTie = Seq((10, Array(1f, 0f, 0f)), (3, Array(1f, math.pow(2, -26).toFloat, 0f)))
      .toDF("cell", "centroid")
    assert(kernelNearest(vectors, sqrtTie, 1) == windowNearest(vectors, sqrtTie, 1))
    assert(kernelNearest(vectors, sqrtTie, 1).toMap.apply(105L) == 3)
    // interpreted eval takes the same kernel as the generated code
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(kernelNearest(vectors, floatCents, 2) == windowNearest(vectors, floatCents, 2))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nearest-cell kernel with n > 1 returns the window's probe set") {
    val (vectors, floatCents, doubleCents) = kernelFixture
    for (cents <- Seq(floatCents, doubleCents); n <- Seq(2, 3, 9)) {
      val oracle = windowNearest(vectors, cents, n)
      assert(oracle.size == 46 * math.min(n, cents.count().toInt))
      assert(kernelNearest(vectors, cents, n) == oracle, s"n = $n")
    }
  }

  test("the IVF fit is repeatable and independent of the corpus's partitioning") {
    val rnd = new scala.util.Random(17)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_fit").toString + "/corpus"
    (0L until 600L).map(i => (i, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding").repartition(5).write.parquet(dir)
    // 600 rows over a sample cap of 256 · 2: the hash order picks the sample
    def fit(corpus: DataFrame): (Seq[(Int, Seq[Int])], Seq[(Long, Int)]) = {
      val path = java.nio.file.Files.createTempDirectory("graft_ivf_fit_idx").toString
      Similarity.buildIvfIndex(corpus, path, nLists = 2)
      (spark.read.parquet(s"$path/centroids").collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))).toSeq.sortBy(_._1),
        spark.read.parquet(s"$path/cells").select("neighbor_id", "cell").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted)
    }
    val one = fit(spark.read.parquet(dir).coalesce(1))
    assert(one._1.map(_._1) == Seq(0, 1) && one._2.size == 600)
    assert(one._2.map(_._2).distinct.size == 2, "both cells hold vectors")
    assert(fit(spark.read.parquet(dir).coalesce(1)) == one)
    assert(fit(spark.read.parquet(dir).repartition(7)) == one)
  }

  test("ivfTopK over a 2k-row frame fires at most 8 Spark jobs") {
    val corpus = spark.range(2000).select(col("id").as("vec_id"),
      array((1 to 16).map(j => sin(col("id") * j).cast("float")): _*).as("embedding"))
    val sc = spark.sparkContext
    val group = "ivf-job-count"
    val marker = "ivf-job-count-drain"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val n = try Similarity.ivfTopK(corpus.filter(col("vec_id") % 20 === 0), corpus,
        k = 10, nLists = 16, nProbe = 4).collect().length
      finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(n > 0 && n <= 100 * 10)
      assert(jobs.get >= 1 && jobs.get <= 8, s"ivfTopK fired ${jobs.get} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("persisted IVF index matches the in-memory path and prunes at the source") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 5)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.buildIvfIndex(emb, path, nLists = 8)

    val indexed = Similarity.ivfTopKIndexed(queries, path, k = 5, nProbe = 2)
    val inMem = Similarity.ivfTopK(queries, emb, k = 5, nLists = 8, nProbe = 2)
    val a = indexed.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = inMem.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)

    // the probed cell set must reach the scan as a PARTITION filter —
    // only those cells' files are read
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && "cell#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"no partition pruning in:\n$plan")
  }

  test("quantize8: codes in range, reconstruction error within one scale step") {
    val rnd = new scala.util.Random(5)
    val df = ((0L until 20L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 4f - 2f))) :+
      (99L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"), col("embedding"),
        VectorOps.quantize8(col("embedding")).as("q"),
        VectorOps.quantize8Scale(col("embedding")).as("s"))
      .collect()
    rows.foreach { r =>
      val x = r.getSeq[Float](1)
      val q = r.getSeq[Long](2)
      val s = r.getDouble(3)
      assert(q.forall(c => c >= -127 && c <= 127))
      if (r.getAs[Long]("vec_id") == 99L) {
        assert(q.forall(_ == 0L) && s == 0.0)
      } else {
        // floor quantization: x' = q·s underestimates by < one step
        x.zip(q).foreach { case (xi, qi) =>
          assert(math.abs(xi - qi * s) <= s + 1e-12,
            s"$xi vs ${qi * s} (scale $s)")
        }
      }
    }
  }

  test("appendToIvfIndex: appended vectors findable, full probe stays exact, old files untouched") {
    val rnd = new scala.util.Random(11)
    val all = (0L until 60L).map { i =>
      (i, Array.fill(4)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val first = all.filter(col("vec_id") < 40)
    val rest = all.filter(col("vec_id") >= 40)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    Similarity.buildIvfIndex(first, dir, nLists = 4)
    val filesBefore = spark.read.parquet(s"$dir/cells").inputFiles.toSet
    Similarity.appendToIvfIndex(rest, dir)
    val filesAfter = spark.read.parquet(s"$dir/cells").inputFiles.toSet
    assert(filesBefore.subsetOf(filesAfter), "append must not rewrite existing cell files")
    // full probe over the appended index ≡ brute force over the full corpus
    val queries = all.filter(col("vec_id") < 5)
    val got = Similarity.ivfTopKIndexed(queries, dir, k = 3, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, all, k = 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    // appended ids actually live in the index and the stats see every row
    assert(spark.read.parquet(s"$dir/cells").filter(col("neighbor_id") >= 40).count() == 20)
    assert(Similarity.ivfCellStats(spark, dir).agg(sum("n")).as[Long].head() == 60)
  }

  test("groupCentroids is partitioning-invariant (fixed-point sums commute)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0L until 40L).map { i =>
      (i, (i % 3).toInt, Array.fill(5)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "label", "embedding")
    def centroids(d: org.apache.spark.sql.DataFrame) =
      Similarity.groupCentroids(d, "label", vecCol = "embedding")
        .orderBy("label").as[(Int, Seq[Double])].collect().toSeq
    val a = centroids(df)
    val b = centroids(df.repartition(7))
    val c = centroids(df.orderBy(org.apache.spark.sql.functions.col("vec_id").desc))
    assert(a == b && a == c) // bit-exact, not approximately equal
    // cohesion is a valid cosine
    val coh = Similarity.cohesionToCentroid(df, "label", vecCol = "embedding")
      .select("cohesion").as[Double].collect()
    assert(coh.length == 40 && coh.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("lshTopK returns same scores as brute force for candidates it keeps (E2 scale path)") {
    val brute = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, k = 4)
      .select("neighbor_id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.lshTopK(vecs.filter(col("vec_id") === 0), vecs, k = 4, bits = 2, dim = 3)
      .select("neighbor_id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, s) => assert(s == brute(id)) }
  }

  test("sparseTfidfPairs finds doc pairs sharing rare terms, skips df-capped terms") {
    val docs = Seq(
      (1L, "zeta kappa common common common"),
      (2L, "kappa zeta common common common"),  // same rare bag as 1, reordered
      (3L, "common common common other other"),
      (4L, "common other common other common")  // same rare bag as 3
    ).toDF("doc_id", "text")
    // unigram terms; df(common)=4 > cap → excluded from pairing entirely;
    // zeta/kappa (df 2) pair 1-2, other (df 2) pairs 3-4 — nothing else
    val out = Similarity.sparseTfidfPairs(docs, dfCap = 3, minCosine = 0.0, ngramK = 1)
      .orderBy("a", "b").collect()
    val pairs = out.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSeq
    assert(pairs == Seq((1L, 2L), (3L, 4L)), s"got $pairs")
    // identical rare vectors → cosine 1 (exact after round(6))
    val c12 = out.find(r => r.getAs[Long]("a") == 1L).get
    assert(c12.getAs[Long]("n_shared") == 2L)
    assert(c12.getAs[Double]("cosine") == 1.0)
    assert(out.find(r => r.getAs[Long]("a") == 3L).get.getAs[Double]("cosine") == 1.0)
  }

  test("sparseTfidfPairs cosine is bounded and pairs are canonical a<b") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Similarity.sparseTfidfPairs(docs, dfCap = 10, minCosine = 0.1, ngramK = 3)
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
      val c = r.getAs[Double]("cosine")
      assert(c >= 0.1 && c <= 1.000001, s"cosine out of range: $c")
    }
  }

  // ---- product quantization (PQ/ADC) ----

  private def pqCodebookOf(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("code"), col("embedding").as("__e"))
      .select(col("code"), posexplode(
        transform(sequence(lit(0), lit(7)),
          mm => slice(col("__e"), mm * 8 + 1, lit(8)))).as(Seq("m", "center")))
      .select("m", "code", "center")

  test("pqEncode: one code per (vector, subspace); codewords encode to themselves") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = pqCodebookOf(emb)
    val codes = Similarity.pqEncode(emb, cb, m = 8, dSub = 8)
    val n = emb.count()
    assert(codes.count() == n * 8)
    assert(codes.groupBy("neighbor_id", "m").count().filter(col("count") =!= 1).count() == 0)
    // a vector that IS codeword j must encode to j in every subspace
    val self = codes.filter(col("neighbor_id") < 8)
      .filter(col("code") =!= col("neighbor_id").cast("int"))
    assert(self.count() == 0)
  }

  test("ivfPqTopK: full probe equals plain PQ; pruned stays in probed cells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = pqCodebookOf(emb)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val q = emb.filter(col("vec_id") < 5)
    // probing every cell makes the coarse layer a no-op
    val full = Similarity.ivfPqTopK(q, emb, centroids, cb, k = 5, nProbe = 8, m = 8, dSub = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val plain = Similarity.pqTopKWithCodebook(q, emb, cb, k = 5, m = 8, dSub = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(full.toSeq == plain.toSeq)
    // pruned: every neighbor must sit in one of its query's probed cells
    val pruned = Similarity.ivfPqTopK(q, emb, centroids, cb, k = 5, nProbe = 2, m = 8, dSub = 8)
    val cellOf = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val joined = pruned.join(cellOf, Seq("neighbor_id"))
    assert(pruned.count() > 0 && pruned.count() <= 5 * 5)
    assert(joined.count() == pruned.count())
    // the code join must visit only probed-cell rows: the corpus code
    // table is restricted by a broadcast LEFT SEMI on cell BEFORE the
    // (cell, m, code) ADC lookup — e3b's PartitionFilters assertion, in
    // join form
    val plan = pruned.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[cell#\\d+[^\\]]*\\], \\[cell#\\d+[^\\]]*\\], LeftSemi".r
      .findFirstIn(plan).isDefined,
      s"no broadcast semi cell restriction on the code table in:\n$plan")
  }

  test("pqTopKWithCodebook: deterministic across partitionings, self-match is rank 1 neighborhood") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = pqCodebookOf(emb)
    val q = emb.filter(col("vec_id") < 6)
    val a = Similarity.pqTopKWithCodebook(q, emb, cb, k = 5, m = 8, dSub = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val b = Similarity.pqTopKWithCodebook(
        q.repartition(7), emb.repartition(5), cb, k = 5, m = 8, dSub = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq) // fixed-point ADC sums commute
    assert(a.length == 6 * 5)
    // ADC recall sanity: an exact duplicate of a query vector (same codes,
    // distance table identical) must appear before any differently-coded
    // vector — check adist is nonnegative and ranks are 1..5 per query
    a.groupBy(_.head).foreach { case (_, rows) =>
      assert(rows.map(_(3)).toSeq == (1 to 5).toSeq)
      rows.foreach(r => assert(r(2).asInstanceOf[Long] >= 0L))
    }
  }

  test("bm25TopK: hand-checked ranking, fixed-point ties, non-matching docs absent") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "apple apple banana"),       // tf(apple)=2, dl=3
      (2L, "apple cherry cherry date"), // tf(apple)=1, dl=4
      (3L, "banana date date date"),    // no 'apple'
      (4L, "kiwi kiwi kiwi")            // matches nothing
    ).toDF("doc_id", "text")
    val qs = Seq((10L, "apple"), (20L, "banana date")).toDF("query_id", "query_text")
    val out = Similarity.bm25TopK(docs, qs, k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // query 10: only docs 1,2 contain 'apple'; doc 1 has higher tf AND
    // shorter dl, so it must rank first; doc 4 must appear nowhere
    val q10 = out.filter(_._1 == 10L)
    assert(q10.map(x => (x._2, x._4)).toSeq == Seq((1L, 1), (2L, 2)))
    // query 20: docs 1 (banana), 3 (banana + 3x date), 2 (date)
    val q20 = out.filter(_._1 == 20L)
    assert(q20.head._2 == 3L) // both terms, high tf -> first
    assert(q20.map(_._2).toSet == Set(1L, 2L, 3L))
    assert(!out.exists(_._2 == 4L))
    // replicate doc 1's expected score for query 10 exactly (N=4, df=2)
    val (k1, b) = (1.2, 0.75)
    val avgdl = (3.0 + 4.0 + 4.0 + 3.0) / 4.0
    val idf = math.log(1.0 + (4.0 - 2.0 + 0.5) / (2.0 + 0.5))
    val c = idf * (2.0 * (k1 + 1.0)) / (2.0 + k1 * ((1.0 - b) + b * 3.0 / avgdl))
    assert(q10.head._3 == math.floor(c * 1048576.0).toLong)
  }

  test("seedKMeansFarthest matches a brute-force farthest-first reference") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(13)
    val pts = (0 until 60).map { i =>
      (i.toLong, Array.fill(3)((rnd.nextInt(40) * 0.25).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = Similarity.seedKMeansFarthest(df, k = 5)
      .orderBy("cell").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // reference: same traversal in plain Scala (exact doubles)
    val vs = pts.map { case (id, v) => (id, v.map(_.toDouble)) }
    def l2(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    var chosen = List(vs.minBy(_._1))
    while (chosen.length < 5) {
      val next = vs.maxBy { case (id, v) =>
        (chosen.map(c => l2(v, c._2)).min, -id) // max dist, then smallest id
      }
      chosen = chosen :+ next
    }
    assert(got == chosen.map(_._1).zipWithIndex.map { case (id, i) => (i, id) },
      s"got $got vs ${chosen.map(_._1)}")
    // the selected seeds are pairwise distinct and include the min id
    assert(got.map(_._2).distinct.length == 5 && got.head._2 == vs.map(_._1).min)
  }

  test("trainKMeans: R rounds are BITWISE the chained lloydRound; early stop is result-transparent") {
    import graft.operators.Similarity
    // 40 vectors in two obvious blobs + two stragglers so round 1 != round 2
    val pts = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(0.0f, 0.0f, 0.0f) else Array(8.0f, 8.0f, 0.0f)
      (i.toLong, Array(base(0) + (i % 5) * 0.1f, base(1) + (i % 7) * 0.1f, base(2)))
    }.toDF("vec_id", "embedding")
    val init = pts.filter(col("vec_id") < 2)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Long])] =
      df.select(col("cell").cast("int"), col("centroid").cast("array<double>"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits).toSeq))
        .toSeq.sortBy(_._1)
    // chained form: lloydRound o lloydRound o lloydRound
    val chain3 = Similarity.lloydRound(pts,
      Similarity.lloydRound(pts, Similarity.lloydRound(pts, init)))
    val (trained3, r3) = Similarity.trainKMeans(pts, init, maxRounds = 3)
    assert(key(trained3) == key(chain3),
      "trainKMeans(3) must be bitwise the 3-fold lloydRound chain")
    assert(r3 <= 3)
    // early stop: a large round budget lands on the fixed point — the
    // SAME table the budget-R chain produces (result transparency)
    val (trained20, r20) = Similarity.trainKMeans(pts, init, maxRounds = 20)
    assert(r20 < 20, s"two-blob fixture must converge well before 20 rounds, ran $r20")
    val fixedAgain = Similarity.lloydRound(pts, trained20)
    assert(key(fixedAgain) == key(trained20),
      "the converged table must be a fixed point of one more Lloyd round")
  }

  test("hardNegatives: full probe == brute-force per-class argmax; labels honored; margin exact") {
    val rnd = new scala.util.Random(29)
    val data = (0 until 60).map { i =>
      val center = Array.fill(3)(0.0f); center(i % 3) = 10.0f
      (i.toLong, center.map(v => v + rnd.nextFloat() * 0.3f), i % 4)
    }.toDF("vec_id", "embedding", "label")
    val centroids = data.filter(col("vec_id") < 3)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val queries = data.filter(col("vec_id").isin(5L, 7L, 11L))
    val got = Similarity.hardNegatives(queries, data, centroids, nProbe = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // brute-force reference: per query, argmax cosine among different /
    // same labels (score desc, id asc)
    val rows = data.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    for (q <- Seq(5L, 7L, 11L)) {
      val (_, qv, ql) = rows.find(_._1 == q).get
      def argmax(pred: Int => Boolean): Long =
        rows.filter(r => r._1 != q && pred(r._3))
          .map(r => (r._1, cos(qv, r._2)))
          .minBy { case (id, s) => (-s, id) }._1
      val (negId, negS, posId, posS, margin) = got(q)
      assert(negId == argmax(_ != ql), s"query $q hard negative")
      assert(posId == argmax(_ == ql), s"query $q positive")
      // labels honored by construction of the reference; margin consistent
      assert(math.abs((posS - negS) - margin) <= 2e-6, s"query $q margin")
      assert(rows.find(_._1 == negId).get._3 != ql)
      assert(rows.find(_._1 == posId).get._3 == ql)
    }
  }
}
