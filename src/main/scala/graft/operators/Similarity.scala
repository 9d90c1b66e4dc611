package graft.operators

import graft.functions.{CentroidTable, CosineSimExpr, NearestCellsExpr, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E2 — similarity search over embedding columns (SURVEY.md §2.6 E2).
  *
  * Two paths:
  *   - `bruteForceTopK`: exact cosine top-k. The query side is broadcast
  *     (queries ≪ corpus), so the corpus is scanned exactly once with no
  *     shuffle of the big side; top-k is a per-query window over the
  *     (|Q|·k)-sized candidate set. Right shape for "few queries, huge
  *     corpus" — the common retrieval-eval pattern.
  *   - `lshTopK`: random-hyperplane LSH bucketing; only same-bucket pairs
  *     are scored. Turns O(|Q|·|C|) into O(Σ per-bucket products) — the
  *     100 TB scale path, trading recall for a bounded candidate set.
  *
  * Determinism: ranking orders by (score DESC, corpus id ASC) so ties are
  * stable (SURVEY.md §7 hard part c).
  */
object Similarity {

  /** Rank the per-query top-k: first prune to k rows per query with the
    * custom TopKPerKey operator (bounded heaps, O(n log k), shuffles at
    * most k rows per query per partition — never the full scored set),
    * then number the ≤ k·|Q| survivors with an ordinary window (trivially
    * cheap at that size).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val pruned = graft.plans.TopK.perKey(scored, Seq(col("query_id")),
      Seq(col("score").desc, col("neighbor_id").asc), k)
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id").asc)
    pruned
      .withColumn("rank", row_number().over(w))
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Exact top-k neighbors for each query vector. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_emb"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", CosineSimExpr.cosineSim(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** Per-dimension corpus statistics over an embedding column — the
    * feature-scaling table (min/max for clamps, mean for centering) a
    * normalization pass needs. Mean via the fixed-point trick
    * (floor(v·2^20) is exact on IEEE floats, integer sums commute →
    * bit-identical under any partitioning); one posexplode + one
    * dimension-keyed aggregation, rows out = dim count.
    */
  def dimStats(
      vecs: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    vecs.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim"), col("__v").cast("double").as("__v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min(col("__v")).as("vmin"),
        max(col("__v")).as("vmax"),
        sum(floor(col("__v") * lit(1048576L)).cast("long")).as("sum_fp"))

  /** k-NN majority-vote classification over the embedding space — the
    * label-propagation consumer of the top-k kernel (weak-label transfer
    * from a labeled corpus to unlabeled queries in a training-data
    * pipeline). Majority with deterministic tiebreak (votes DESC, label
    * ASC); scale shape = bruteForceTopK's (k·queries rows out of the
    * scoring join) + one vocabulary-sized vote agg.
    */
  def knnClassify(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val nn = bruteForceTopK(queries, corpus, k, idCol, vecCol)
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("__lbl"))
    nn.join(corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__lbl")),
        Seq("neighbor_id"))
      .groupBy("query_id", "__lbl")
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__lbl").as("pred_label"), col("votes"))
  }

  /** The IVF coarse quantizer, fitted on the driver from a bounded
    * sample. One job collects the training sample: at most
    * `256 · nLists` finite vectors (no NULL, NaN or infinite component;
    * 256 points per centroid is FAISS's default cap), the ones with the
    * smallest `xxhash64(id, seed)`, ties broken by id — so the sample,
    * and the fit, are the same for any partitioning of the corpus. The
    * driver then runs `maxIter` Lloyd rounds over it in double precision:
    * the first `nLists` sample vectors in hash order are the initial
    * centroids (a deterministic random init), each point goes to the
    * centroid with the smallest in-order squared-L2 fold (ties to the
    * lower cell), and a cell left empty keeps its centroid. The result
    * is rounded to float, the type of the persisted sidecar, so the
    * table a build assigns with is the table an append or a probe reads
    * back. Cells are 0 until min(nLists, sample size).
    */
  private def fitIndex(
      corpus: DataFrame,
      nLists: Int,
      idCol: String,
      vecCol: String,
      seed: Long,
      maxIter: Int): CentroidTable = {
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    // |x| < ∞ is NULL for a NULL vector or component and false for NaN
    // (Spark orders NaN above ∞) or ±∞: only finite vectors train
    val pts = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .where(forall(col("__v"), x => abs(x) < lit(Double.PositiveInfinity)))
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(256 * nLists)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(pts.map(_.length).distinct.length <= 1, "IVF training vectors differ in length")
    val k = math.min(nLists, pts.length)
    val cent = pts.take(k).map(_.clone)
    def sqDist(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val dim = if (k == 0) 0 else pts(0).length
    for (_ <- 0 until maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      for (p <- pts) {
        var c = 0
        var dc = sqDist(p, cent(0))
        for (j <- 1 until k) {
          val dj = sqDist(p, cent(j))
          if (dj < dc) { c = j; dc = dj }
        }
        for (i <- 0 until dim) sums(c)(i) += p(i)
        counts(c) += 1
      }
      for (c <- 0 until k if counts(c) > 0) cent(c) = sums(c).map(_ / counts(c))
    }
    new CentroidTable(Array.range(0, k), cent.map(_.map(_.toFloat.toDouble)))
  }

  /** A caller's centroid frame (cell INT, centroid ARRAY of float or
    * double) collected once to the driver: at most nLists rows of
    * metadata, the same collect [[trainKMeans]] makes each round.
    */
  private[graft] def centroidTable(centroidDf: DataFrame): CentroidTable = {
    require(centroidDf.schema("cell").dataType == org.apache.spark.sql.types.IntegerType,
      s"a centroid table's cell must be INT, got ${centroidDf.schema("cell").dataType}")
    val rows = centroidDf
      .select(col("cell"), col("centroid").cast("array<double>"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0), "a centroid table's cell ids must not be NULL")
        val v = if (r.isNullAt(1)) null else r.getSeq[Any](1)
        (r.getInt(0),
          if (v == null || v.contains(null)) null else v.map(_.asInstanceOf[Double]).toArray)
      }
      .sortBy(_._1)
    new CentroidTable(rows.map(_._1), rows.map(_._2))
  }

  /** Route each query to its nProbe nearest cells: one map over the
    * queries exploding [[NearestCellsExpr]]'s nProbe cells. */
  private def probesOf(
      queries: DataFrame,
      table: CentroidTable,
      nProbe: Int,
      idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("q_emb"),
      explode(NearestCellsExpr.nearestCells(col(vecCol), table, nProbe)).as("cell"))

  private def scoreAndRank(indexed: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = indexed
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", CosineSimExpr.cosineSim(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN: partition the corpus into `nLists` cells
    * with the driver-fitted quantizer of [[fitIndex]], then search only
    * each query's `nProbe` nearest cells. The 100 TB shape: the fit reads
    * a bounded sample, the corpus is assigned to cells by one map (no
    * shuffle), and probes touch nProbe/nLists of the data. Complements
    * `lshTopK` (hash-based) with the geometry-aware variant.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nLists: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      maxIter: Int = 5): DataFrame = {
    val table = fitIndex(corpus, nLists, idCol, vecCol, seed, maxIter)
    scoreAndRank(assignToCentroids(corpus, table, idCol, vecCol),
      probesOf(queries, table, nProbe, idCol, vecCol), k)
  }

  /** Assign each vector to its nearest centroid — [[NearestCellsExpr]]
    * with n = 1, one map over the input; the order (L2 distance, then
    * cell) is the window argmin's, so ties go to the lower cell. The
    * quantizer step shared by every IVF path and incremental append.
    * An empty table assigns nothing.
    */
  private def assignToCentroids(
      vectors: DataFrame,
      table: CentroidTable,
      idCol: String,
      vecCol: String): DataFrame = {
    val assigned = vectors.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_emb"),
      NearestCellsExpr.nearestCells(col(vecCol), table, 1).getItem(0).as("cell"))
    if (table.isEmpty) assigned.where(lit(false)) else assigned
  }

  /** IVF ANN with CALLER-PROVIDED centroids — the bring-your-own-quantizer
    * path (pretrained centroids, product-quantizer codebooks, or any
    * deterministic cell seeding). `centroidDf` must carry (cell INT,
    * centroid ARRAY<FLOAT|DOUBLE>) and is collected once; assignment is
    * nearest-centroid with a deterministic tie-break, so given fixed
    * centroids the PRUNED result is fully deterministic — which is what
    * makes nProbe < nLists oracle-checkable (e3c), not just the
    * full-probe identity (e3b). Same scale shape as [[ivfTopK]]: corpus
    * and queries each one map, probes touch ~nProbe/nLists of the data.
    */
  def ivfTopKWithCentroids(
      queries: DataFrame,
      corpus: DataFrame,
      centroidDf: DataFrame,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val table = centroidTable(centroidDf)
    scoreAndRank(assignToCentroids(corpus, table, idCol, vecCol),
      probesOf(queries, table, nProbe, idCol, vecCol), k)
  }

  /** Hard-negative mining for contrastive training (r16): per probe
    * vector, the most-similar corpus vector with a DIFFERENT label (the
    * hard negative) beside the most-similar SAME-label vector (the
    * positive), both searched through the IVF probe shape
    * (bring-your-own centroids — the e3c/e3f contract), with the margin
    * pos − neg. One corpus scan with the nearest-cell map + a per-query
    * window — the ANN scale path, not the all-pairs scorer.
    * Queries lacking a candidate of either class inside their probed
    * cells DROP (inner join) — widen nProbe to recover them; rows whose
    * label is NULL join neither class (three-valued logic, documented).
    * Query labels come from the QUERIES frame itself (new probe vectors
    * carry their own labels — the natural contrastive-training shape;
    * a corpus-only lookup would silently drop ids absent from the
    * corpus — r16b review).
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      centroidDf: DataFrame,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val table = centroidTable(centroidDf)
    val indexed = assignToCentroids(corpus, table, idCol, vecCol)
    val probes = probesOf(queries, table, nProbe, idCol, vecCol)
    val scored = indexed
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", CosineSimExpr.cosineSim(col("q_emb"), col("c_emb")))
      .join(queries.select(col(idCol).as("query_id"), col(labelCol).as("__ql")),
        Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl")),
        Seq("neighbor_id"))
      .withColumn("__neg", col("__nl") =!= col("__ql"))
    val w = Window.partitionBy(col("query_id"), col("__neg"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    val best = scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val neg = best.filter(col("__neg"))
      .select(col("query_id"), col("neighbor_id").as("hard_neg_id"), col("score").as("__ns"))
    val pos = best.filter(!col("__neg"))
      .select(col("query_id"), col("neighbor_id").as("pos_id"), col("score").as("__ps"))
    neg.join(pos, Seq("query_id"))
      .select(col("query_id"), col("hard_neg_id"), round(col("__ns"), 6).as("neg_score"),
        col("pos_id"), round(col("__ps"), 6).as("pos_score"),
        round(col("__ps") - col("__ns"), 6).as("margin"))
  }

  /** Persist an IVF index: the cell-assigned corpus as parquet
    * PARTITIONED BY cell plus the fitted centroid sidecar (cell INT,
    * centroid ARRAY<FLOAT>). Build once, query many times — the write
    * repartitions by cell so each cell is one compact file set.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      path: String,
      nLists: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      maxIter: Int = 5): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val table = fitIndex(corpus, nLists, idCol, vecCol, seed, maxIter)
    assignToCentroids(corpus, table, idCol, vecCol)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    table.cells.toSeq.zip(table.centroids.toSeq.map(_.map(_.toFloat).toSeq))
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append new vectors to a persisted IVF index WITHOUT refitting: each
    * vector is assigned to its nearest EXISTING centroid (the nearest-cell
    * map, deterministic tie-break on cell id) and appended into the
    * cell partition layout — existing files are never rewritten. This is
    * the incremental-ingest path at corpus scale: centroids only
    * partition space, so assignment quality degrades slowly as the
    * distribution drifts; monitor `ivfCellStats` skew to decide when a
    * rebuild pays for itself.
    */
  def appendToIvfIndex(
      newVectors: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val table = centroidTable(newVectors.sparkSession.read.parquet(s"$path/centroids"))
    assignToCentroids(newVectors, table, idCol, vecCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Per-cell row counts of a persisted index — the skew monitor for the
    * append path (one aggregation over the cell partition column).
    */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cells")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy("cell")

  /** ANN against a persisted index with SOURCE-LEVEL pruning: the probed
    * cell set (≤ nLists values — index metadata, driver-safe) becomes a
    * partition filter, so only the probed cells' FILES are read. At 100 TB
    * this is the difference between scanning the corpus per query batch
    * and reading ~nProbe/nLists of it from disk.
    */
  def ivfTopKIndexed(
      queries: DataFrame,
      indexPath: String,
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val table = centroidTable(spark.read.parquet(s"$indexPath/centroids"))
    val probes = probesOf(queries, table, nProbe, idCol, vecCol)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
    val indexed = spark.read.parquet(s"$indexPath/cells")
      .where(col("cell").isin(cells.map(Integer.valueOf): _*))
    scoreAndRank(indexed, probes, k)
  }

  /** Per-group embedding centroids with FIXED-POINT accumulators: each
    * component is scaled by 2^`shift` (a power-of-two multiply — exact in
    * IEEE arithmetic, never rounds), floored to a BIGINT, and summed as
    * integers. Integer sums commute, so the distributed centroid is
    * bit-identical regardless of partitioning, task order, or retries —
    * the float-sum nondeterminism that makes naive distributed mean-vector
    * jobs unreproducible (and would break the t2 hash gate) is designed
    * out. Precision loss is 2^-shift per component, far below float32's
    * own noise for shift=20.
    *
    * Shape: posexplode → groupBy(group, pos) integer agg → collect the
    * (pos, mean) pairs back into an ordered array. Two shuffles, both on
    * small keys; the collect_list is bounded by `dim`.
    */
  def groupCentroids(
      emb: DataFrame,
      groupCol: String,
      shift: Int = 20,
      vecCol: String = "embedding"): DataFrame = {
    val scale = (1L << shift).toDouble
    emb
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col(groupCol), col("__pos"),
        floor(col("__x").cast("double") * lit(scale)).cast("long").as("__qx"))
      .groupBy(col(groupCol), col("__pos"))
      .agg(sum("__qx").as("__s"), count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__s"), col("__n")))),
        e => e.getField("__s").cast("double") / lit(scale) /
          e.getField("__n").cast("double")).as("centroid"))
  }

  /** Public cell assignment against a centroid table (cell INT, centroid
    * ARRAY), collected once — nearest-centroid argmin with the
    * deterministic tie-break. Returns (idCol, cell).
    */
  def assignCells(
      corpus: DataFrame,
      centroidDf: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignToCentroids(corpus, centroidTable(centroidDf), idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("cell"))

  /** [[assignCells]] keeping the vector column — consumers that need the
    * embedding alongside the cell (semanticDedup's pairwise step) read it
    * straight off the assignment instead of re-joining the corpus.
    */
  def assignCellsKeepVec(
      corpus: DataFrame,
      centroidDf: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignToCentroids(corpus, centroidTable(centroidDf), idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("c_emb").as(vecCol), col("cell"))

  /** ONE Lloyd's k-means round as a verifiable relational job: assign
    * every vector to its nearest centroid (the nearest-cell map over the
    * collected table, deterministic tie-break), then recompute each cell's
    * centroid with the FIXED-POINT mean ([[groupCentroids]] — integer sums
    * commute, so the new centroid table is bit-identical under any
    * partitioning and in the oracle). Iterating this is distributed
    * k-means training whose whole trajectory is engine-exact — the
    * distributed counterpart of the sample fit on the driver that
    * [[fitIndex]] uses where only behavior, not bits, matters.
    */
  def lloydRound(
      corpus: DataFrame,
      centroidDf: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = assignToCentroids(corpus, centroidTable(centroidDf), idCol, vecCol)
    groupCentroids(assigned.select(col("cell"), col("c_emb").as(vecCol)), "cell",
        vecCol = vecCol)
      .select(col("cell"), col("centroid"))
  }

  /** MULTI-ROUND Lloyd k-means TRAINING (the r15 verdict's item 4 — the
    * loop that makes km1's one exact round an end-to-end, engine-
    * deterministic clustering story): iterate [[lloydRound]] up to
    * `maxRounds`, materializing each round's ≤k-row centroid table on
    * the driver (k·dim doubles — the adjudicated metadata-collect
    * class; Spark ML's own KMeans collects exactly this per iteration)
    * and re-seeding the next round from a LOCAL relation, so every
    * round's plan is one corpus scan + the nearest-cell map + one
    * integer-fixed-point aggregation and the lineage stays FLAT at any
    * round count. The whole trajectory is engine-exact: integer
    * centroid sums commute (bit-identical under any partitioning), the
    * argmin tie-break is total, and the collected doubles are re-seeded
    * verbatim — so round R of this loop is BITWISE the R-fold
    * `lloydRound` chain (spec-gated) and a DuckDB oracle can unroll the
    * trajectory as CTE levels (km2).
    *
    * EARLY STOP is result-transparent: when a round reproduces the
    * previous centroid table bitwise (compared on `doubleToLongBits`),
    * the assignment map is at a FIXED POINT — every further round is
    * identical — so stopping cannot change the answer (the BPE
    * checkpoint-transparency discipline; spec-gated). Returns the final
    * centroid table and the number of rounds actually run.
    *
    * The output (cell INT, centroid ARRAY) is exactly the
    * caller-provided-quantizer contract of [[ivfTopKWithCentroids]]
    * (e3c), [[graft.operators.Dedup.semanticDedup]] (e16), and
    * [[assignCells]] — train here, quantize there, every step
    * engine-deterministic.
    */
  def trainKMeans(
      corpus: DataFrame,
      initCentroids: DataFrame,
      maxRounds: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = corpus.sparkSession
    import spark.implicits._
    def collectCentroids(df: DataFrame): Seq[(Int, Seq[Double])] =
      df.select(col("cell").cast("int"), col("centroid").cast("array<double>"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toSeq.sortBy(_._1)
    def bits(c: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Long])] =
      c.map { case (k, v) => (k, v.map(java.lang.Double.doubleToLongBits)) }
    var cur = collectCentroids(lloydRound(corpus, initCentroids, idCol, vecCol))
    var rounds = 1
    var converged = false
    while (rounds < maxRounds && !converged) {
      val next = collectCentroids(lloydRound(corpus, cur.toDF("cell", "centroid"),
        idCol, vecCol))
      if (bits(next) == bits(cur)) converged = true // fixed point: rounds..maxRounds identical
      else { cur = next; rounds += 1 }
    }
    (cur.toDF("cell", "centroid"), rounds)
  }

  /** DETERMINISTIC k-means seeding — farthest-first traversal (Gonzalez
    * 1985, the deterministic counterpart of k-means++'s random D²
    * sampling): seed 0 is the MINIMUM-id vector (a total anchor, no
    * randomness), and each further seed is the corpus argmax of the
    * minimum L2 distance to the chosen set, ties broken by smallest id —
    * every selection a global sort-limit-1 (TakeOrderedAndProject, k−1
    * corpus scans), the chosen vectors collected as k·dim metadata and
    * re-broadcast as literals. Completes the engine-owned clustering
    * chain: seed here → [[trainKMeans]] → [[ivfTopKWithCentroids]] /
    * semanticDedup, every step deterministic and oracle-replayable
    * (km3 unrolls the selection trajectory as CTE levels).
    *
    * Output: (cell = selection index, seed_id, centroid ARRAY<DOUBLE>).
    */
  def seedKMeansFarthest(
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val first = base.orderBy(col("__id").asc).limit(1).collect()(0)
    var seeds = List((first.getLong(0), first.getSeq[Double](1)))
    while (seeds.length < k) {
      val dmin = seeds
        .map(s => VectorOps.l2Distance(col("__v"), lit(s._2.toArray)))
        .reduce(least(_, _))
      val next = base.select(col("__id"), col("__v"), dmin.as("__d"))
        .orderBy(col("__d").desc, col("__id").asc).limit(1).collect()(0)
      seeds = seeds :+ ((next.getLong(0), next.getSeq[Double](1)))
    }
    seeds.zipWithIndex
      .map { case ((id, v), i) => (i, id, v) }
      .toDF("cell", "seed_id", "centroid")
  }

  /** Cluster-cohesion score: each vector's cosine to its group centroid
    * (in-order fold dot product — oracle-exact given the fixed-point
    * centroid). The centroid table is tiny (one row per group) → AQE
    * broadcasts it; the corpus is never shuffled.
    */
  def cohesionToCentroid(
      emb: DataFrame,
      groupCol: String,
      shift: Int = 20,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb
      .join(groupCentroids(emb, groupCol, shift, vecCol), Seq(groupCol))
      .select(col(idCol), col(groupCol),
        round(VectorOps.cosine(col(vecCol), col("centroid")), 6).as("cohesion"))

  /** Approximate top-k via random-hyperplane LSH: candidates share a bucket. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val bucket = (v: org.apache.spark.sql.Column) => VectorOps.rhpBucket(v, bits, dim)
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_emb"), bucket(col(vecCol)).as("bucket"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_emb"), bucket(col(vecCol)).as("bucket"))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", CosineSimExpr.cosineSim(col("q_emb"), col("c_emb")))
    rankTopK(scored, k)
  }

  /** BM25 ranked retrieval: score every document against a (small) query
    * set and keep the per-query top-k — the lexical retrieval kernel under
    * RAG corpus construction and eval-set mining (Robertson/Zaragoza's
    * Okapi BM25 in the Lucene formulation, idf = ln(1 + (N−df+0.5)/(df+0.5)),
    * which is nonnegative for every df).
    *
    * Scale shape (the "few queries, 100 TB corpus" pattern): the corpus is
    * tokenized ONCE; raw term occurrences are restricted to the query
    * vocabulary with a BROADCAST semi join BEFORE any aggregation, so the
    * only rows that ever shuffle are occurrences of query terms (a
    * vanishing fraction of the corpus). Document frequencies come from
    * that restricted posting table (restriction is on TERM, so per-term
    * doc counts are unchanged). Ranking rides the TopKPerKey kernel —
    * bounded heaps, at most k rows per query per partition shuffle.
    *
    * Determinism: each per-term contribution is fixed-pointed
    * (floor(x·2^20) as BIGINT, the lm1 pattern) so the per-(query, doc)
    * sum is an integer aggregation — commutative under any partitioning
    * and bit-identical in a SQL oracle. Ties rank by doc id ascending.
    */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame, // (query_id, query_text)
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    import graft.functions.TextOps
    val spread = Partitioning.spread(docs)
    // corpus scalars: doc count and total token count are integer-exact;
    // avgdl is the single double division both engines replicate
    val stats = spread.agg(
      count(lit(1)).as("__n_docs"),
      sum(size(TextOps.tokens(col(textCol))).cast("long")).as("__tot_tokens"))
    // query vocabulary, deduped per query (qtf is not BM25-weighted here)
    val qTerms = queries.select(col(queryIdCol).as("query_id"),
      explode(TextOps.tokens(col(queryTextCol))).as("__term")).distinct()
    val qVocab = qTerms.select("__term").distinct()
    // occurrences of query terms only — broadcast restriction BEFORE the
    // tf aggregation, so non-query terms never reach an exchange
    val occ = spread
      .select(col(idCol), size(TextOps.tokens(col(textCol))).cast("long").as("__dl"),
        explode(TextOps.tokens(col(textCol))).as("__term"))
      .join(broadcast(qVocab), Seq("__term"))
    val tf = occ.groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))
    val df = tf.groupBy("__term").agg(count(lit(1)).as("__df"))
    val contrib = tf
      .join(broadcast(df), Seq("__term"))
      .join(broadcast(qTerms), Seq("__term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf", log(lit(1.0) +
        (col("__n_docs").cast("double") - col("__df").cast("double") + lit(0.5)) /
          (col("__df").cast("double") + lit(0.5))))
      .withColumn("__contrib_fp", floor(
        col("__idf") * (col("__tf").cast("double") * lit(k1 + 1.0)) /
          (col("__tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) *
            col("__dl").cast("double") /
            (col("__tot_tokens").cast("double") / col("__n_docs").cast("double"))))
          * lit(1048576.0)).cast("long"))
    val scored = contrib.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__contrib_fp")).as("score"))
      .withColumnRenamed(idCol, "neighbor_id")
    rankTopK(scored, k)
  }

  /** Sparse TF-IDF document-pair similarity via posting-list pair
    * enumeration — the lexical twin of the dense embedding paths: two
    * documents are similar when they share RARE terms, scored by the
    * cosine of their tf·idf vectors restricted to rare terms
    * (2 <= df <= `dfCap`; df=1 terms pair with nothing, frequent terms
    * are stopword-like noise AND the quadratic blowup, so the cap is
    * both the semantic and the scale knob — document it as such).
    *
    * Scale shape: pairs are enumerated INSIDE per-term posting lists
    * (groupBy term → sorted (doc,w) list, bounded at `dfCap` entries →
    * ≤ dfCap² pairs per term), so the corpus is never self-joined and no
    * subtree is built twice: per-doc norms ride along as a window column
    * computed before grouping. Weights are 2^20 fixed-point BIGINTs
    * (tf · floor(ln(N/df)·2^20)) so every sum is exact integer
    * arithmetic and the final cosine is a single correctly-rounded
    * divide — bit-identical across engines.
    *
    * Output: (a, b, n_shared, cosine) for pairs with rounded cosine >=
    * `minCosine`, a < b.
    */
  def sparseTfidfPairs(
      docs: DataFrame,
      dfCap: Int = 50,
      minCosine: Double = 0.3,
      ngramK: Int = 1,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.functions.TextOps
    import org.apache.spark.sql.types.DecimalType
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    val D38 = DecimalType(38, 0)
    // terms are ngramK-token shingles: word n-grams keep the feature
    // space sparse when the unigram vocabulary is small, the standard
    // lexical near-dup feature choice
    val docTerm = Partitioning.spread(docs)
      .select(col(idCol),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), ngramK)).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val weighted = docTerm
      // df as a TERM-PARTITIONED window instead of a second aggregation +
      // join: the tokenize→shingle→explode subtree (the query's CPU bulk)
      // is referenced ONCE, where the join form evaluated it twice (no
      // exchange reuse fires across the differently-keyed aggregations —
      // measured GEN=3 evaluations in the joined plan, 1 here)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .filter(col("df").between(2, dfCap))
      .crossJoin(broadcast(nDocs))
      .withColumn("__w", col("tf") *
        floor(log(col("n_docs").cast("double") / col("df")) * (1L << 20)).cast("long"))
      // rare-subspace norm² per doc as a window: no second aggregation
      // subtree, no join — the posting list carries it into each pair
      .withColumn("__nsq", sum((col("__w") * col("__w")).cast(D38))
        .over(Window.partitionBy(col(idCol))))
    val postings = weighted
      .groupBy("term")
      .agg(sort_array(collect_list(struct(col(idCol).as("d"), col("__w").as("w"),
        col("__nsq").as("nsq")))).as("__lst"))
    // r16: pair enumeration as one codegen kernel
    // ([[graft.functions.OrderedPairsExpr]]) instead of the interpreted
    // flatten(transform(…, transform(slice(…)))) HOF tree — same pair
    // multiset and order (l = the sort_array-earlier posting, r = later),
    // same l.w*r.w multiply, so the grouped sums are bit-identical;
    // measured +1.8 s of this query's 2.9 s warm was the HOF enumeration
    val pairs = postings.select(explode(
        graft.functions.OrderedPairsExpr.orderedPairs(col("__lst"))).as("pr"))
      .select(col("pr.l.d").as("a"), col("pr.r.d").as("b"),
        (col("pr.l.w") * col("pr.r.w")).as("__p"),
        col("pr.l.nsq").as("__na"), col("pr.r.nsq").as("__nb"))
    pairs
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared"),
        sum(col("__p").cast(D38)).as("__dot"),
        max(col("__na")).as("__na"), max(col("__nb")).as("__nb"))
      .withColumn("cosine", round(col("__dot").cast("double") /
        (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6))
      .filter(col("cosine") >= minCosine)
      .select("a", "b", "n_shared", "cosine")
  }

  // ---- product quantization (PQ/ADC — the compressed-domain ANN path) ----

  /** PQ encode: each vector becomes `m` codewords, one per `dSub`-dim
    * subspace — nearest codebook center per subspace, deterministic
    * tie-break on code. `codebook` carries (m INT, code INT, center
    * ARRAY<FLOAT> of dSub) and is CALLER-PROVIDED (the e3c
    * bring-your-own-quantizer pattern, which is what makes the compressed
    * ranking oracle-checkable). Output is the relational PQ index:
    * (neighbor_id, m, code) rows — |corpus|·m rows of three ints, the
    * ~(dim·4 bytes → m bytes)-per-vector compression that lets a 100 TB
    * embedding corpus fit hot storage.
    *
    * Scale shape: codebook broadcast (m·k tiny rows), corpus scanned
    * once; the argmin is a window over (vector, subspace) — partitioned,
    * never global.
    */
  def pqEncode(
      corpus: DataFrame,
      codebook: DataFrame,
      m: Int,
      dSub: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val sub = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__e"))
      .select(col("neighbor_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          mm => slice(col("__e"), mm * dSub + 1, lit(dSub)))).as(Seq("m", "__sub")))
    val w = Window.partitionBy("neighbor_id", "m").orderBy(col("__d").asc, col("code").asc)
    sub.join(broadcast(codebook), Seq("m"))
      .withColumn("__d", VectorOps.l2DistanceSq(col("__sub"), col("center")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select("neighbor_id", "m", "code")
  }

  /** PQ top-k by asymmetric distance computation (ADC): queries stay
    * full-precision; per query a (subspace, code) → distance lookup table
    * is built against the codebook, and each encoded corpus vector's
    * approximate distance is the sum of its m table entries — O(m) per
    * candidate instead of O(dim), on codes instead of floats (the public
    * Jégou/Douze/Schmid PQ recipe). Table entries are FIXED-POINT
    * (floor(d²·2^20) BIGINT): integer sums commute, so the ranking is
    * bit-identical under any partitioning and in the oracle — the same
    * determinism trick as the fixed-point centroids.
    *
    * Scale shape: the ADC table (|Q|·m·k rows) is broadcast; the PQ index
    * is scanned once; the per-(query, neighbor) sum is a map-side-
    * combinable aggregation; top-k rides the bounded-heap kernel.
    */
  /** Per-query (subspace, code) → fixed-point distance lookup table. */
  private def adcTable(
      queries: DataFrame,
      codebook: DataFrame,
      m: Int,
      dSub: Int,
      idCol: String,
      vecCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"))
      .select(col("query_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          mm => slice(col("__q"), mm * dSub + 1, lit(dSub)))).as(Seq("m", "__qsub")))
      .join(codebook, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        floor(VectorOps.l2DistanceSq(col("__qsub"), col("center")) * lit(1048576L))
          .cast("long").as("__dfp"))

  /** Sum each candidate's m table entries and rank ascending. `scoredIn`
    * is (.. join of code rows with table rows ..) holding query_id,
    * neighbor_id, __dfp.
    */
  private def rankAdc(scoredIn: DataFrame, m: Int, k: Int): DataFrame = {
    val scored = scoredIn
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("__dfp")).as("adist"), count(lit(1)).as("__nm"))
    // every subspace must contribute exactly once — a lost code would
    // silently shrink the distance and float a bad neighbor to the top
    val full = scored.filter(col("__nm") === m).drop("__nm")
    val pruned = graft.plans.TopK.perKey(full, Seq(col("query_id")),
      Seq(col("adist").asc, col("neighbor_id").asc), k)
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    pruned
      .withColumn("rank", row_number().over(w))
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  def pqTopKWithCodebook(
      queries: DataFrame,
      corpus: DataFrame,
      codebook: DataFrame,
      k: Int,
      m: Int,
      dSub: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val codes = pqEncode(corpus, codebook, m, dSub, idCol, vecCol)
    val qtbl = adcTable(queries, codebook, m, dSub, idCol, vecCol)
    rankAdc(codes.join(broadcast(qtbl), Seq("m", "code")), m, k)
  }

  /** IVF+PQ: the full FAISS-style recipe — coarse quantizer (IVF cells,
    * caller-provided centroids as in e3c) restricts the candidate set to
    * each query's nProbe cells, and the FINE ranking inside those cells
    * runs on PQ codes via fixed-point ADC. At 100 TB both layers compound:
    * probes touch ~nProbe/nLists of the corpus, and what IS touched is
    * scanned as m-byte codes, not dim·4-byte floats. The probed-cell
    * restriction rides the broadcast ADC table (query table rows expanded
    * by probed cell → the (cell, m, code) equi-join visits only
    * probed-cell code rows); everything stays deterministic, so the pruned
    * compressed ranking is oracle-checkable end to end.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroidDf: DataFrame,
      codebook: DataFrame,
      k: Int,
      nProbe: Int,
      m: Int,
      dSub: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val table = centroidTable(centroidDf)
    val cells = assignToCentroids(corpus, table, idCol, vecCol)
      .select("neighbor_id", "cell")
    val probes = probesOf(queries, table, nProbe, idCol, vecCol)
      .select("query_id", "cell")
    // Restrict the code table to PROBED cells before the wide
    // (cell, m, code) ADC lookup: a broadcast LEFT SEMI on the distinct
    // probed-cell set (≤ nLists values) drops every unprobed cell's code
    // rows at the scan side — the visible plan form of "touch only
    // nProbe/nLists of the corpus" (the e3b partition filter's in-memory
    // twin; SimilaritySpec asserts this join shape).
    val probedCells = probes.select("cell").distinct()
    val cellCodes = pqEncode(corpus, codebook, m, dSub, idCol, vecCol)
      .join(cells, Seq("neighbor_id"))
      .join(broadcast(probedCells), Seq("cell"), "left_semi")
    val qtbl = adcTable(queries, codebook, m, dSub, idCol, vecCol)
      .join(probes, Seq("query_id")) // expand by probed cell: |Q|·nProbe·m·k rows
    rankAdc(cellCodes.join(broadcast(qtbl), Seq("cell", "m", "code")), m, k)
  }
}
