package graft.operators

import graft.functions.ScalarOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ML-shaped operators (SURVEY.md §2.6 M1-M4, J2, J4).
  *
  * The reference trains/loads sklearn RandomForests (100 trees, depth 20,
  * seed 42 — object_classifier.py:121-124) and runs them three ways:
  *   - batch inference with probability → argmax label + confidence
  *     (pixel_classifier_stream.py:144-151) → M1
  *   - one model per null-pattern combo, rows routed to their combo's model
  *     (pixel_classifier_stream.py:96-136) → J4 dispatch
  *   - dual main/backup model with lookup-first fallback
  *     (object_classifier.py:133-177) → J2
  *
  * Spark-first: Spark ML Pipelines (VectorAssembler + RandomForestClassifier).
  * Inference is a model transform — executors apply the broadcast model
  * per partition; no driver loops, no collect. Per-combo dispatch filters
  * the frame per combo (the Spark analog of the reference's 15-model
  * batches) and unions the results — each branch is a pure map of the
  * apply frame, so nothing shuffles. Training is eager: Spark ML's fit
  * reads its input several times (label range, split sampling, bagging),
  * so fit inputs are persisted for the duration of the fit and released
  * before the call returns.
  */
object MlOps {

  val DefaultTrees = 100
  val DefaultDepth = 20
  val DefaultSeed = 42L

  /** M2/M4 — assemble features and train an RF (reference hyperparams).
    * The fit reads its input four to five times (label range, first row,
    * split sampling, bagging), so the columns it reads are persisted for
    * the fit — the upstream plan runs once — and released before
    * returning.
    */
  def trainRf(
      df: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      numTrees: Int = DefaultTrees,
      maxDepth: Int = DefaultDepth,
      seed: Long = DefaultSeed): PipelineModel = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .setHandleInvalid("keep")
    val rf = new RandomForestClassifier()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setNumTrees(numTrees).setMaxDepth(math.min(maxDepth, 30)).setSeed(seed)
      .setProbabilityCol("probability")
    // exactly the columns the fit reads, in the frame's order: the
    // projection an unpersisted fit prunes its input to, so the rows
    // reach the fit in the same partitions (a round-robin repartition
    // below it deals rows out by their projected bytes)
    val input = df.select(df.columns
      .filter(c => c == labelCol || featureCols.contains(c)).map(col).toIndexedSeq: _*)
      .persist()
    try new Pipeline().setStages(Array(assembler, rf)).fit(input)
    finally input.unpersist()
  }

  /** S7 — model artifact store: persist/load pipelines keyed by a stable
    * content key (the reference pickles RFs under md5'd combo keys,
    * pixel_classifier_stream.py:45-55; joblib main/backup pairs,
    * object_classifier.py:39-40). Spark ML's save/load is the native
    * registry: one directory per key, overwrite-idempotent.
    */
  def saveModel(model: PipelineModel, registryDir: String, key: String): String = {
    val path = s"$registryDir/${stableFileKey(key)}"
    model.write.overwrite().save(path)
    path
  }

  def loadModel(registryDir: String, key: String): PipelineModel =
    PipelineModel.load(s"$registryDir/${stableFileKey(key)}")

  def modelExists(spark: org.apache.spark.sql.SparkSession, registryDir: String, key: String): Boolean =
    new java.io.File(s"$registryDir/${stableFileKey(key)}").exists()

  /** Long keys collapse to md5 exactly like the reference's cache keys. */
  private def stableFileKey(key: String): String =
    if (key.length > 100)
      java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    else key.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** M3 — the reference's training-set filter: labels in (0, maxLabel],
    * NULL features imputed to 0 (object_classifier.py:109-111).
    */
  def trainingFilter(df: DataFrame, labelCol: String, featureCols: Seq[String],
      maxLabel: Int = 255): DataFrame =
    df.filter(col(labelCol) > 0 && col(labelCol) <= maxLabel)
      .na.fill(0.0, featureCols)

  /** M1 — batch inference: adds pred_label (int) and confidence (max class
    * probability), the argmax+conf pair of pixel_classifier_stream.py:144-151.
    */
  def classify(model: PipelineModel, df: DataFrame,
      predCol: String = "pred_label", confCol: String = "confidence"): DataFrame =
    model.transform(df)
      .withColumn(predCol, col("prediction").cast("int"))
      .withColumn(confCol, array_max(vector_to_array(col("probability"))))
      .drop("features", "rawPrediction", "probability", "prediction")

  /** M1+P8 — inference followed by the reference's rule rewrites
    * (solar-confidence and shadow reclassification).
    */
  def classifyWithRules(model: PipelineModel, df: DataFrame): DataFrame = {
    val out = classify(model, df)
    out.withColumn("pred_label",
      ScalarOps.ruleRewrite(col("pred_label"), col("confidence")))
  }

  /** Fixed-point scale for frozen leaf probabilities: 2^40 (dyadic, so
    * `p · 2^40` is an exact IEEE multiply before the rint).
    */
  val RuleProbScale: Long = 1L << 40

  /** M1-freeze — export a BINARY RF as a table of leaf decision rules:
    * one row per (tree, leaf) with the leaf's feature BOX (every root-to-
    * leaf path over continuous splits intersects to `lo < f ≤ hi` per
    * feature; ±1e18 sentinels stand for unbounded) and its class-1
    * probability as a fixed-point integer. This is the reference's
    * frozen-model shape (pickled RFs loaded for streaming inference,
    * pixel_classifier_stream.py:45-55, :144-151) made ENGINE-NEUTRAL:
    * any SQL engine can replay inference from the table — per row, each
    * tree contributes exactly one leaf's p1, vote = Σ p1 vs Σ p0 — and
    * integer fixed-point sums commute, so the replay is bit-identical
    * under any partitioning or engine.
    *
    * The leaf probability is recovered from the public (impurity,
    * prediction) pair — binary gini g = 2·p1·(1−p1) inverts to
    * p1 = (1 ± √(1−2g))/2, the branch picked by the argmax prediction —
    * because Spark ML keeps the raw class counts private[ml].
    */
  def forestRules(model: PipelineModel, featureCols: Seq[String]): DataFrame = {
    import org.apache.spark.ml.classification.RandomForestClassificationModel
    import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
    import org.apache.spark.sql.types._
    val rf = model.stages.collectFirst { case m: RandomForestClassificationModel => m }
      .getOrElse(throw new IllegalArgumentException("no RF stage in pipeline"))
    require(rf.numClasses == 2, s"forestRules freezes binary RFs, got ${rf.numClasses} classes")
    val nf = featureCols.length
    val rows = rf.trees.zipWithIndex.flatMap { case (tree, ti) =>
      var leafId = -1
      def walk(node: Node, lo: Array[Double], hi: Array[Double]): Seq[org.apache.spark.sql.Row] =
        node match {
          case n: InternalNode => n.split match {
            case s: ContinuousSplit =>
              val f = s.featureIndex
              val hiL = hi.clone(); hiL(f) = math.min(hi(f), s.threshold)
              val loR = lo.clone(); loR(f) = math.max(lo(f), s.threshold)
              walk(n.leftChild, lo, hiL) ++ walk(n.rightChild, loR, hi)
            case other => throw new IllegalArgumentException(
              s"only continuous splits freeze to boxes, got ${other.getClass.getSimpleName}")
          }
          case l: LeafNode =>
            val disc = math.sqrt(math.max(0.0, 1.0 - 2.0 * l.impurity))
            val p1 = if (l.prediction == 1.0) (1.0 + disc) / 2 else (1.0 - disc) / 2
            leafId += 1
            Seq(org.apache.spark.sql.Row.fromSeq(
              Seq(ti, leafId) ++ (0 until nf).flatMap(i => Seq(lo(i), hi(i))) :+
                math.rint(p1 * RuleProbScale).toLong))
        }
      walk(tree.rootNode, Array.fill(nf)(-1e18), Array.fill(nf)(1e18))
    }
    val schema = StructType(
      Seq(StructField("tree_id", IntegerType, nullable = false),
        StructField("leaf_id", IntegerType, nullable = false)) ++
        featureCols.flatMap(c => Seq(
          StructField(s"${c}_lo", DoubleType, nullable = false),
          StructField(s"${c}_hi", DoubleType, nullable = false))) :+
        StructField("p1_fp", LongType, nullable = false))
    val spark = org.apache.spark.sql.SparkSession.active
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Replay frozen-forest inference from a rules table (the output of
    * [[forestRules]], typically re-read from its parquet artifact): the
    * DRIVER-COLLECTED rules are bounded (trees × leaves rows — index
    * metadata, the IVF-probe-cells pattern) and scoring is a pure
    * map-only projection: no join, no shuffle, nothing but the scan — the
    * right 100 TB inference shape. Adds `predCol` = argmax of summed
    * fixed-point votes (ties → class 0, Spark's argmax-first convention).
    *
    * The leaf boxes of one tree partition feature space by recursive
    * binary splits, so the DECISION TREE is recoverable from the flat box
    * table: at each step some (feature, threshold) cleanly separates the
    * boxes (the original split), and descending it costs depth ≈ log₂
    * comparisons per tree instead of leaves × features box tests (for a
    * 64-leaf 3-feature tree: ~6 vs ~384 per row — measured 2× on the m1b
    * census, and the generated code shrinks the same way). Rows outside
    * the root box or with a NULL feature score 0 votes for the tree,
    * exactly like the flat conjunction chain they replace (guarded once
    * per tree, not per leaf). Box sets that don't reconstruct (foreign
    * rules tables) fall back to the flat chain per subset.
    */
  def classifyFromRules(
      rules: DataFrame,
      df: DataFrame,
      featureCols: Seq[String],
      predCol: String = "pred_label"): DataFrame = {
    val pred = rulesPrediction(rules, featureCols)
    df.withColumn(predCol, pred)
  }

  /** The frozen forest's prediction as a bare Column (the dispatchable
    * form [[classifyFromRulesBatched]] composes per model key).
    */
  def rulesPrediction(rules: DataFrame, featureCols: Seq[String]): Column = {
    val collected = rules.collect()
    require(collected.nonEmpty, "empty rules table")
    val nTrees = collected.map(_.getInt(0)).distinct.length
    val loIdx = featureCols.map(c => rules.schema.fieldIndex(s"${c}_lo"))
    val hiIdx = featureCols.map(c => rules.schema.fieldIndex(s"${c}_hi"))
    val pIdx = rules.schema.fieldIndex("p1_fp")
    type Leaf = org.apache.spark.sql.Row
    // exact flat replay of a leaf subset — the base/fallback form
    def flatChain(leaves: Seq[Leaf]): Column = {
      val cases = leaves.map { r =>
        val conj = featureCols.zipWithIndex.map { case (c, i) =>
          col(c) > lit(r.getDouble(loIdx(i))) && col(c) <= lit(r.getDouble(hiIdx(i)))
        }.reduce(_ && _)
        (conj, r.getLong(pIdx))
      }
      cases.tail.foldLeft(when(cases.head._1, lit(cases.head._2))) {
        case (acc, (c, p)) => acc.when(c, lit(p))
      }.otherwise(lit(0L))
    }
    // recover a split: a (feature, threshold) with every box fully on one
    // side and both sides nonempty; descend left when x <= t (the Spark ML
    // ContinuousSplit convention forestRules flattened)
    def descend(leaves: Seq[Leaf]): Column =
      if (leaves.length == 1) lit(leaves.head.getLong(pIdx))
      else {
        val split = featureCols.indices.iterator.flatMap { i =>
          leaves.iterator.map(_.getDouble(hiIdx(i))).filter(_ < 1e18).distinct
            .map(t => (i, t))
        }.find { case (i, t) =>
          val (l, r) = leaves.partition(_.getDouble(hiIdx(i)) <= t)
          l.nonEmpty && r.nonEmpty && r.forall(_.getDouble(loIdx(i)) >= t)
        }
        split match {
          case Some((i, t)) =>
            val (l, r) = leaves.partition(_.getDouble(hiIdx(i)) <= t)
            when(col(featureCols(i)) <= lit(t), descend(l)).otherwise(descend(r))
          case None => flatChain(leaves) // not a binary-split box set
        }
      }
    val treeExprs = collected.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, leaves) =>
      // one root-box + non-null guard per tree replaces the per-leaf
      // conjunctions: NULL or out-of-root-box features → condition is
      // null/false → 0 votes, identical to the flat chain
      val rootGuard = featureCols.zipWithIndex.map { case (c, i) =>
        val lo = leaves.map(_.getDouble(loIdx(i))).min
        val hi = leaves.map(_.getDouble(hiIdx(i))).max
        col(c) > lit(lo) && col(c) <= lit(hi)
      }.reduce(_ && _)
      when(rootGuard, descend(leaves.toSeq)).otherwise(lit(0L))
    }
    val votes1 = treeExprs.reduce(_ + _)
    when(votes1 * 2 > lit(nTrees * RuleProbScale), 1).otherwise(0).cast("int")
  }

  /** J4 at model-BATCH scale (pixel_classifier_stream.py:90-96's
    * memory-bounded loop made a plan shape): score rows against K frozen
    * rules tables dispatched by an integer key in batches of `batchSize`.
    * Each batch compiles ONE plan holding only its own models' vote
    * expressions — the reference bounds resident models exactly this way
    * — the batches partition the dispatched key space (every row with a
    * model scores exactly once; keys with no model drop, the reference's
    * unrouted-combo behavior), and the batch union is deterministic
    * (keys ascending). Scale shape: B map-only passes over the input, no
    * join, no shuffle — per-pass codegen stays bounded at batchSize
    * dispatch arms no matter how many models exist.
    */
  def classifyFromRulesBatched(
      rulesByKey: Seq[(Int, DataFrame)],
      df: DataFrame,
      keyCol: String,
      featureCols: Seq[String],
      batchSize: Int = 8,
      predCol: String = "pred_label"): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(rulesByKey.nonEmpty, "no models to dispatch")
    val keys = rulesByKey.map(_._1)
    require(keys.distinct.size == keys.size, s"duplicate model keys: $keys")
    val batches = rulesByKey.sortBy(_._1).grouped(batchSize).toSeq
    batches.map { batch =>
      val preds = batch.map { case (k, rules) =>
        k -> rulesPrediction(rules, featureCols)
      }
      val dispatch = preds.tail
        .foldLeft(when(col(keyCol) === lit(preds.head._1), preds.head._2)) {
          case (acc, (k, p)) => acc.when(col(keyCol) === lit(k), p)
        }
      df.filter(col(keyCol).isin(batch.map(_._1): _*))
        .withColumn(predCol, dispatch)
    }.reduce(_ unionByName _)
  }

  /** J4 — per-combo model dispatch. Trains one model per distinct non-null
    * pattern over `bandCols` and routes each row to its combo's model
    * (imputing only the combo's present bands). Returns the union of
    * per-combo classified frames.
    *
    * Routes are the combos present on both sides: one distinct query over
    * the apply frame, one over the training frame (persisted for the
    * duration of the call, as every per-combo fit reads it). The returned
    * frame is lazy: K (small) filtered map-only passes over `apply`,
    * unioned. Mirrors pixel_classifier_stream.py:96-136 without the
    * in-place output merge — batches partition the combo key space so each
    * row is labeled exactly once (SURVEY.md §7 hard part e); apply combos
    * with no training rows are dropped.
    */
  def dispatchByCombo(
      train: DataFrame,
      apply: DataFrame,
      bandCols: Seq[String],
      labelCol: String,
      seed: Long = DefaultSeed): DataFrame = {
    val comboOf = ScalarOps.comboKey(bandCols.map(b => b -> col(b)))
    // Routing key uses an unambiguous separator: band NAMES may themselves
    // contain '_' (Stage-0 emits ndvi_m6, win_B4, ...), so the display combo
    // "a_b_c" cannot be split back into names. '' never appears in a
    // column name, so this key round-trips exactly.
    val routeOf = concat_ws("",
      bandCols.map(b => when(col(b).isNotNull, lit(b))): _*)
    // the training columns the fits read, in the frame's order (see trainRf)
    val trainK = train
      .select(train.columns.filter(c => c == labelCol || bandCols.contains(c)).map(col).toIndexedSeq: _*)
      .withColumn("__route", routeOf)
      .persist()
    val applyK = apply.withColumn("combo", comboOf).withColumn("__route", routeOf)
    def routesOf(df: DataFrame): Set[String] =
      df.select("__route").distinct().collect().map(_.getString(0)).toSet
    try {
      val combos = (routesOf(applyK) intersect routesOf(trainK))
        .filter(_.nonEmpty).toSeq.sorted
      // Train per-combo models concurrently (driver threads submitting
      // independent Spark jobs — the scheduler interleaves their stages);
      // results are re-sorted by combo so the union stays deterministic.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(combos.length, 4)))
      val parts =
        try {
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
          val futures = combos.map { route =>
            Future {
              val bands = route.split('').toSeq
              val trainPart = trainK.filter(col("__route") === route)
              val model = trainRf(trainPart.na.fill(0.0, bands), bands, labelCol, seed = seed)
              route -> classify(model, applyK.filter(col("__route") === route).na.fill(0.0, bands))
            }
          }
          Await.result(Future.sequence(futures), Duration.Inf).sortBy(_._1).map(_._2)
        } finally pool.shutdown()
      parts.reduceOption(_ unionByName _)
        .getOrElse(classify(trainRf(trainK.na.fill(0.0, bandCols), bandCols, labelCol), applyK.limit(0)))
        .drop("__route")
    } finally trainK.unpersist()
  }

  /** J2 — dual-model fallback: prefer the precomputed lookup prediction
    * (broadcast join on `keyCol`), fall back to the backup model's inference
    * for misses, then 0 (object_classifier.py:167-177 + README.md:17).
    */
  def withFallback(
      df: DataFrame,
      lookup: DataFrame, // (keyCol, main_pred)
      backup: PipelineModel,
      keyCol: String): DataFrame = {
    val scored = classify(backup, df, predCol = "backup_pred", confCol = "backup_conf")
    scored
      .join(broadcast(lookup), Seq(keyCol), "left")
      .withColumn("final_pred",
        coalesce(col("main_pred"), col("backup_pred"), lit(0)).cast("int"))
      .drop("backup_conf")
  }
}
