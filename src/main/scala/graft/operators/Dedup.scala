package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E1 — deduplication operators for the training-data pipeline surface
  * (SURVEY.md §2.6 E1-E4; BASELINE.json north_star).
  *
  * All hashing is md5-derived (TextOps) so signatures are engine-portable
  * and oracle-checkable. Every operator is a constant number of shuffles
  * independent of corpus size:
  *   - exact/fingerprint: 1 shuffle on a 32-char key
  *   - MinHash-LSH: signature map (no shuffle) → explode bands (×B rows)
  *     → 1 shuffle on (band, bucket) → per-bucket pair generation.
  * Candidate-pair blowup is bounded per bucket; at 100 TB you cap bucket
  * width (`maxBucket`) to shed degenerate buckets (boilerplate docs) the
  * same way production LSH dedup does.
  */
object Dedup {

  /** Exact duplicate groups on raw text: keeper = min(id) per text. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep the minimal id per identical text. */
  def dedupExact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol),
      "left_semi")

  /** Token-set fingerprint groups (order/multiplicity-insensitive near-exact dedup). */
  def fingerprintGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Spread a small-partition-count input across the cluster before a
    * CPU-heavy per-row map. A single parquet file scans as one partition,
    * which would serialize the signature hashing onto one core; inputs that
    * are already well-partitioned (the 100 TB case) pass through untouched.
    */
  private def spread(df: DataFrame): DataFrame = Partitioning.spread(df)

  /** Distinct-shingle sets: the shared projection both the MinHash
    * signature pipeline and exact-Jaccard verification read. Spread +
    * repartition means identical calls produce identical exchange
    * subtrees, so ReuseExchange computes tokenize+shingle ONCE per query
    * even when referenced from several branches.
    */
  def shingleSets(
      docs: DataFrame,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    spread(docs).select(
      col(idCol),
      // sorted: the verify kernel (SortedIntersectCountExpr) merge-walks
      // the two arrays; sort_array's UTF8String binary order is the
      // ordering the kernel compares with
      sort_array(array_distinct(
        TextOps.shingles(TextOps.tokens(col(textCol)), shingleK))).as("sh"))

  /** MinHash signature table: idCol, m0..m{numHashes-1}.
    * The shingle array is materialized as its own projection so the 8
    * signature components share ONE shingle construction per row —
    * inlining it would evaluate tokenize+shingle 8× (and blow up the
    * codegen tree); CollapseProject keeps the split because the alias is
    * non-cheap and multiply-referenced.
    */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int = 8,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    signaturesOf(shingleSets(docs, shingleK, idCol, textCol), numHashes, idCol)

  /** Signatures from a prebuilt shingle-set projection (shared-scan form).
    * min over the distinct set equals min over the raw multiset, so
    * dedup-first changes nothing in the signature values.
    */
  private def signaturesOf(sh: DataFrame, numHashes: Int, idCol: String): DataFrame =
    sh
      .select(col(idCol), TextOps.shingleHashes(col("sh")).as("_hs"))
      .select(col(idCol) +:
        (0 until numHashes).map(j => TextOps.minhashComponent(col("_hs"), j).as(s"m$j")): _*)

  /** LSH candidate pairs: docs sharing at least one band bucket.
    * Bands of `rowsPerBand` signature components are hashed to a bucket key;
    * a self-join within (band, bucket) yields candidates (a < b, distinct).
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Int = 10000): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    pairsOf(minhashSignatures(docs, numHashes, shingleK, idCol, textCol),
      numHashes, rowsPerBand, idCol, maxBucket)
  }

  /** Exploded LSH band keys per row: (idCol, band, bucket). */
  private def bandsOf(
      sig: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      idCol: String): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val comps = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("_", comps: _*)).as("bucket"))
    }
    sig
      .select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private def pairsOf(
      sig: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      idCol: String,
      maxBucket: Int): DataFrame = {
    val exploded = bandsOf(sig, numHashes, rowsPerBand, idCol)
    // Shed degenerate buckets before the quadratic pair step (skew guard).
    val sized = exploded
      .groupBy("band", "bucket")
      .agg(collect_list(col(idCol)).as("ids"), count(lit(1)).as("n"))
      .filter(col("n").between(2, maxBucket))
    sized
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  /** Exact pairwise Jaccard over shingle sets, for verifying LSH candidates.
    * Candidate-first, explode-free: the distinct shingle ARRAY rides along
    * two joins keyed by the pair ids and the intersection is a per-row
    * merge walk (SortedIntersectCountExpr) — cost is |candidates|·|doc
    * length|, zero allocation, no inverted
    * index, no shuffle of shingle rows. (A shingle-keyed self-join would
    * blow up on common shingles: every co-occurring doc pair, not just
    * candidates.) Pairs with an empty intersection are dropped.
    */
  def jaccardVerify(
      docs: DataFrame,
      pairs: DataFrame,
      threshold: Double,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      broadcastPairs: Boolean = false): DataFrame =
    verifyOf(shingleSets(docs, shingleK, idCol, textCol).withColumnRenamed(idCol, "id"),
      pairs, threshold, broadcastPairs)

  /** Verify against a prebuilt shingle-set projection (`id`, `sh`).
    *
    * Join shape: the PAIRS side carries no arrays and (post-LSH) is far
    * smaller than the corpus, so it should be the build side while shingle
    * sets stream through both joins. Default is NO manual hint: AQE sees
    * the pairs side's true post-shuffle size and converts to a broadcast
    * join with that build side on its own — measured faster than forcing
    * it (a `broadcast()` hint serializes extra collect-to-driver jobs up
    * front). Set `broadcastPairs = true` only for non-AQE sessions.
    */
  private def verifyOf(
      shSets: DataFrame,
      pairs: DataFrame,
      threshold: Double,
      broadcastPairs: Boolean): DataFrame = {
    val p = if (broadcastPairs) broadcast(pairs) else pairs
    val withA = shSets
      .select(col("id").as("a"), col("sh").as("sh_a"))
      .join(p, Seq("a"))
    val j = shSets
      .select(col("id").as("b"), col("sh").as("sh_b"))
      .join(if (broadcastPairs) broadcast(withA) else withA, Seq("b"))
    j
      .withColumn("inter",
        graft.functions.SortedIntersectExpr.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .filter(col("inter") > 0)
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** DIRECTIONAL containment over shingle sets (Broder's containment,
    * c(A→B) = |A∩B|/|A|): the asymmetric near-dup measure — a short quote
    * fully contained in a long page scores c≈1 in one direction while its
    * Jaccard stays tiny (the union washes it out), so subset duplication
    * that [[jaccardVerify]] under-scores is exactly what this catches.
    * Same candidate-first scale shape as the Jaccard verify (pairs ride
    * two id-keyed joins, one zero-alloc merge walk per pair); emits both
    * directions per pair, kept when EITHER reaches `threshold`.
    */
  def containmentVerify(
      docs: DataFrame,
      pairs: DataFrame,
      threshold: Double,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val shSets = shingleSets(docs, shingleK, idCol, textCol).withColumnRenamed(idCol, "id")
    val withA = shSets
      .select(col("id").as("a"), col("sh").as("sh_a"))
      .join(pairs, Seq("a"))
    shSets
      .select(col("id").as("b"), col("sh").as("sh_b"))
      .join(withA, Seq("b"))
      .withColumn("inter",
        graft.functions.SortedIntersectExpr.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .filter(col("inter") > 0)
      .withColumn("cont_ab", col("inter") / size(col("sh_a")).cast("long"))
      .withColumn("cont_ba", col("inter") / size(col("sh_b")).cast("long"))
      .filter(col("cont_ab") >= threshold || col("cont_ba") >= threshold)
      .select("a", "b", "cont_ab", "cont_ba")
  }

  /** One-pass fuzzy dedup: LSH candidate pairs + exact-Jaccard scores in a
    * single query whose signature and verify branches share ONE shingle
    * projection (identical exchange subtrees → ReuseExchange computes
    * tokenize+shingle once). This is the operator a pipeline should call;
    * `minhashCandidatePairs` + `jaccardVerify` remain for staged use.
    */
  def fuzzyDupPairs(
      docs: DataFrame,
      threshold: Double,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Int = 10000,
      broadcastPairs: Boolean = false): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    val sh = shingleSets(docs, shingleK, idCol, textCol)
    val pairs = pairsOf(signaturesOf(sh, numHashes, idCol), numHashes, rowsPerBand, idCol, maxBucket)
    verifyOf(sh.withColumnRenamed(idCol, "id"), pairs, threshold, broadcastPairs)
  }

  /** Embedding-cosine near-dup pairs: vectors whose cosine similarity
    * meets `threshold`. Candidates come from the random-hyperplane LSH
    * buckets (same-bucket pairs only), scored with the fused cosine
    * expression — the O(N²)-free scale path; pass `bits = 0` to force the
    * exact all-pairs variant on small inputs.
    */
  def embeddingNearDupPairs(
      vecs: DataFrame,
      threshold: Double,
      bits: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = vecs.select(col(idCol).as("a"), col(vecCol).as("va"))
    val b = vecs.select(col(idCol).as("b"), col(vecCol).as("vb"))
    val joined =
      if (bits <= 0) a.join(b, col("a") < col("b"))
      else {
        val bucket = (v: org.apache.spark.sql.Column) =>
          graft.functions.VectorOps.rhpBucket(v, bits, dim)
        a.withColumn("bucket", bucket(col("va")))
          .join(b.withColumn("bucket", bucket(col("vb"))), Seq("bucket"))
          .filter(col("a") < col("b"))
      }
    joined
      .withColumn("cos", graft.functions.CosineSimExpr.cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** BANDED random-hyperplane near-dup pairs — the corpus-scale embedding
    * path (r12, the sf1 probe finding). The single-table form above has
    * two scale defects the probe exposed: `bits = 0` is the O(N²) exact
    * join (55× wall at 10× vectors), and ONE fixed-bits table is both a
    * fixed key space (buckets saturate linearly with corpus size) and a
    * recall cliff (requiring ALL bits to agree: p^bits). The classic LSH
    * remedy is the same banding MinHash uses: `bands` independent
    * hyperplane tables of `bandBits` planes each — candidates share at
    * least one WHOLE band, so recall is 1-(1-p^bandBits)^bands (p =
    * 1 - θ/π per plane) and each band's key space is 2^bandBits. Sizing
    * rule at corpus scale: bandBits ≈ log2(N/targetBucket), bands set by
    * the recall target — both are caller knobs here. The candidate
    * contract (shares ≥1 band) is deterministic (md5-seeded planes), so
    * the oracle recomputes the exact same candidate set and the verify
    * (fused cosine ≥ threshold) is exact.
    */
  def embeddingNearDupPairsBanded(
      vecs: DataFrame,
      threshold: Double,
      bands: Int = 4,
      bandBits: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(bands >= 1 && bandBits >= 1, s"bands/bandBits must be >= 1")
    // one fused pass for ALL band buckets (RhpBucketsExpr) — the
    // per-band Column chains are a bands×bandBits×dim expression tree
    // whose Janino compile dominated the query (11.9 s driver-cold at
    // sf0.1 → 1.4 s with the fused kernel, bit-identical buckets)
    val e = spread(vecs).select(col(idCol), col(vecCol))
      .withColumn("__bs", graft.functions.RhpBucketsExpr.rhpBuckets(
        col(vecCol), bands, bandBits, dim))
      .withColumn("band", explode(array((0 until bands).map(lit(_)): _*)))
      .withColumn("bucket", element_at(col("__bs"), col("band") + 1))
      .select(col(idCol), col(vecCol), col("band"), col("bucket"))
    // the band self-join and the multi-band dedup shuffle IDS ONLY —
    // carrying both 64-float vectors through the exchange and the
    // dropDuplicates hash state roughly doubles exchanged bytes per
    // candidate (r12 self-review); vectors re-join once per side for
    // the cosine verify, the same shape the oracle spells
    val a = e.select(col(idCol).as("a"), col("band"), col("bucket"))
    val b = e.select(col(idCol).as("b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct() // a pair can share several bands
    val ea = vecs.select(col(idCol).as("a"), col(vecCol).as("va"))
    val eb = vecs.select(col(idCol).as("b"), col(vecCol).as("vb"))
    cand.join(ea, Seq("a")).join(eb, Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.CosineSimExpr.cosineSim(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Persist the corpus-side dedup state for INCREMENTAL ingestion: a new
    * batch (the daily crawl) can then be deduplicated against the whole
    * existing corpus without rescanning it. Three parquet tables under
    * `dir`:
    *   exact/    distinct content md5s (exact-duplicate membership)
    *   buckets/  (id, band, bucket) LSH keys
    *   shingles/ (id, sh) distinct shingle sets for exact verify
    * At 100 TB the index is a corpus-derived artifact maintained next to
    * the store (append new batches' rows after they are admitted); probes
    * shuffle on 32-char keys only, never on the corpus text.
    */
  def writeDedupIndex(
      docs: DataFrame,
      dir: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    spread(docs).select(md5(col(textCol)).as("content_md5")).distinct()
      .write.mode("overwrite").parquet(s"$dir/exact")
    // two write actions read the shingle projection; persist across them
    // (separate actions get no exchange reuse), release when both land
    val sh = shingleSets(docs, shingleK, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sh.select(col(idCol).as("id"), col("sh"))
        .write.mode("overwrite").parquet(s"$dir/shingles")
      bandsOf(signaturesOf(sh, numHashes, idCol), numHashes, rowsPerBand, idCol)
        .select(col(idCol).as("id"), col("band"), col("bucket"))
        .write.mode("overwrite").parquet(s"$dir/buckets")
    } finally sh.unpersist()
  }

  /** Deduplicate a NEW batch against a [[writeDedupIndex]] store: drops
    * batch docs that are exact duplicates of corpus content, then fuzzy
    * duplicates (shared LSH band bucket AND exact Jaccard ≥ `threshold`
    * against the indexed shingle sets). Returns the surviving batch rows.
    * Within-batch duplicates are NOT collapsed here — run the batch
    * through the self-dedup operators first/after; this operator's job is
    * batch-vs-corpus only.
    */
  def dedupAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      newDocs: DataFrame,
      dir: String,
      threshold: Double,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      localThreshold: Int = 1 << 22): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    val exact = spark.read.parquet(s"$dir/exact")
    val idxBuckets = spark.read.parquet(s"$dir/buckets")
    val idxSh = spark.read.parquet(s"$dir/shingles")
    val notExact = newDocs.join(
      exact, md5(col(textCol)) === col("content_md5"), "left_anti")
    // The shingle projection feeds two DIFFERENTLY-KEYED exchanges (the
    // band/bucket probe and the by-id verify join), so ReuseExchange can't
    // help and, unpersisted, AQE races both leaf stages into computing the
    // tokenize+shingle+minhash pass twice. Eager persist+count = exactly
    // one pass; released below, before this function returns.
    val sh = shingleSets(notExact, shingleK, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sh.count()
      val cand = bandsOf(signaturesOf(sh, numHashes, idCol), numHashes, rowsPerBand, idCol)
        .join(idxBuckets.select(col("id").as("__idx_id"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .select(col(idCol), col("__idx_id")).distinct()
      val dropped = cand
        .join(sh.select(col(idCol), col("sh").as("__sh_new")), Seq(idCol))
        .join(idxSh.select(col("id").as("__idx_id"), col("sh").as("__sh_idx")), Seq("__idx_id"))
        .withColumn("__inter", graft.functions.SortedIntersectExpr
          .sortedIntersectCount(col("__sh_new"), col("__sh_idx")))
        .filter(col("__inter") > 0)
        .filter(col("__inter") / (size(col("__sh_new")).cast("long") +
          size(col("__sh_idx")).cast("long") - col("__inter")) >= threshold)
        .select(col(idCol)).distinct()
      // Graph.connectedComponents' hybrid, reused: dropped-id sets up to
      // the threshold become a broadcast local relation — the returned
      // plan then references NO cached frame (leak-free laziness; only
      // `notExact` recomputes at action time, one scan). Genuinely huge
      // drop sets keep the distributed anti-join and retain a small
      // id-only cache for the caller's action to read.
      val head = dropped.take(localThreshold.max(0) + 1)
      if (head.length <= localThreshold) {
        val local = spark.createDataFrame(
          spark.sparkContext.parallelize(head.toIndexedSeq, 1), dropped.schema)
        notExact.join(broadcast(local), Seq(idCol), "left_anti")
      } else {
        val dp = dropped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        dp.count()
        notExact.join(dp, Seq(idCol), "left_anti")
      }
    } finally sh.unpersist()
  }

  /** Admit a (probed, surviving) batch INTO a [[writeDedupIndex]] store —
    * the other half of the incremental loop: probe the batch
    * ([[dedupAgainstIndex]]), then append the admitted docs' exact
    * hashes, band buckets, and shingle sets so the NEXT batch dedups
    * against them too. Three parquet appends, no rewrite of existing
    * index files; parameters must match the original build (same
    * hashes/bands/shingles or probes silently miss).
    */
  def appendToDedupIndex(
      docs: DataFrame,
      dir: String,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    spread(docs).select(md5(col(textCol)).as("content_md5")).distinct()
      .write.mode("append").parquet(s"$dir/exact")
    val sh = shingleSets(docs, shingleK, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sh.select(col(idCol).as("id"), col("sh"))
        .write.mode("append").parquet(s"$dir/shingles")
      bandsOf(signaturesOf(sh, numHashes, idCol), numHashes, rowsPerBand, idCol)
        .select(col(idCol).as("id"), col("band"), col("bucket"))
        .write.mode("append").parquet(s"$dir/buckets")
    } finally sh.unpersist()
  }

  /** SimHash near-dup groups: docs with identical 16-bit simhash. */
  def simhashGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextOps.simhash16(col(textCol)).as("simhash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** SimHash near-dup PAIRS within a Hamming radius — the real simhash
    * dedup (identical-hash grouping misses one-bit flips). Candidates by
    * the pigeonhole principle: split the 16-bit signature into
    * `maxHamming + 1` bands; any pair within the radius must agree on at
    * least one whole band, so a (band, bandBits) equi-join finds every
    * such pair (no false negatives), and `bit_count(xor) <= maxHamming`
    * verifies exactly.
    *
    * SCALE CAVEAT: a 16-bit signature gives each band a key space of at
    * most 2^6..2^8 values, so bucket occupancy grows LINEARLY with corpus
    * size and the candidate join is quadratic past ~10^5 docs — this
    * exact form is for corpus slices / per-partition dedup
    * (probe-measured at ~sf1: 22× wall at 10× docs). At corpus scale use
    * [[simhashNearDupPairsWide]] (60-bit signature, 2^20-key bands,
    * linear), or set `maxBucket` (> 0) to shed saturated buckets before
    * the quadratic step, the same guard as the MinHash path — that
    * trades the no-false-negatives guarantee on shed buckets for bounded
    * work (e14 runs uncapped because its oracle brute-forces all pairs).
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      maxHamming: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, s"maxHamming in [0,16), got $maxHamming")
    val sig = spread(docs).select(col(idCol), TextOps.simhash16(col(textCol)).as("__sh"))
    bandedHammingPairs(sig, 16, maxHamming, idCol, maxBucket)
  }

  /** WIDE SimHash near-dup pairs — the corpus-scale form (r12, the sf1
    * probe finding): a 60-bit signature (one codegen pass, see
    * [[graft.functions.SimHashExpr]]) puts each radius-2 pigeonhole band
    * at a 2^20 key space, so band buckets hold only genuine near-dups
    * plus rare collisions and the candidate join stays LINEAR in corpus
    * size — probe-measured vs the 16-bit form's 22× at 10× data. Same
    * no-false-negatives banding, same exact `bit_count(xor)` verify.
    * Note the semantics differ from the 16-bit form only through the
    * hash width: radius-2 on 60 bits is a STRICTER near-dup notion
    * (fewer token-set differences fit in 2 bit flips of 60).
    */
  def simhashNearDupPairsWide(
      docs: DataFrame,
      maxHamming: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucket: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60, s"maxHamming in [0,60), got $maxHamming")
    val sig = spread(docs).select(col(idCol), TextOps.simhash60(col(textCol)).as("__sh"))
    bandedHammingPairs(sig, 60, maxHamming, idCol, maxBucket)
  }

  /** Shared pigeonhole machinery over a prepared (id, __sh) signature
    * frame: `maxHamming + 1` bands ⇒ any pair within the radius agrees on
    * at least one whole band (no false negatives); equi-join on
    * (band, bits) proposes, `bit_count(xor) <= maxHamming` disposes.
    */
  private def bandedHammingPairs(
      sig: DataFrame,
      bits: Int,
      maxHamming: Int,
      idCol: String,
      maxBucket: Int): DataFrame = {
    val nBands = maxHamming + 1
    val width = bits / nBands // bands cover width·nBands bits; remainder goes to the last band
    val bands = (0 until nBands).map { b =>
      val lo = b * width
      val w = if (b == nBands - 1) bits - lo else width
      struct(lit(b).as("band"),
        pmod(shiftright(col("__sh"), lo), lit(1L << w)).as("bits"))
    }
    val exploded = sig.select(col(idCol), col("__sh"), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("__sh"), col("bb.band").as("band"), col("bb.bits").as("bits"))
    val guarded =
      if (maxBucket <= 0) exploded
      else {
        val w = Window.partitionBy("band", "bits")
        exploded.withColumn("__n", count(lit(1)).over(w))
          .filter(col("__n") <= maxBucket).drop("__n")
      }
    guarded.select(col(idCol).as("a"), col("__sh").as("sh_a"), col("band"), col("bits"))
      .join(guarded.select(col(idCol).as("b"), col("__sh").as("sh_b"), col("band"), col("bits")),
        Seq("band", "bits"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(expr("sh_a ^ sh_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540 —
    * the embedding-space sibling of the MinHash family): quantize the
    * corpus onto `centroidDf`'s cells (the nearest-cell map over the
    * collected table, the e3c/km1 quantizer), compute pairwise cosine
    * WITHIN cells only, and of every near-dup pair (cos ≥ threshold)
    * drop the vector MORE similar to its cell centroid — the paper keeps
    * the most atypical member of a duplicate family, preserving
    * diversity. Dominance is the one-pass pairwise rule (lexicographic (c_sim, id), deterministic tie-break);
    * the CC-exact family variant composes with Graph.connectedComponents
    * (cc1) when whole-family resolution is needed.
    *
    * 100 TB shape: the quadratic pair step is BOUNDED per cell — cell
    * count grows with the corpus (the paper runs √N cells), so per-cell
    * membership and the within-cell join stay flat; cross-cell near-dups
    * are unreachable BY CONTRACT (that is the recall/cost trade the
    * technique is). The assignment subtree is referenced THREE times in
    * the lazy plan (pair left, pair right, output spine) — deliberate:
    * three linear nearest-cell maps beat persisting a corpus-sized
    * (id, vector, cell) intermediate at 100 TB, and the minimum for
    * pairwise semantics without a cache is exactly three. Returns
    * (idCol, cell, c_sim, dropped); zero vectors have NULL c_sim, never
    * pair (NULL cos fails the threshold), and are never dropped.
    */
  def semanticDedup(
      corpus: DataFrame,
      centroidDf: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorOps
    // the caller's centroid frame, collected once into a local relation:
    // the assignment's table and the c_sim join both read it without a job
    val cents = centroidDf.select("cell", "centroid")
    val local = corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
    val withSim = Similarity.assignCellsKeepVec(corpus, local, idCol, vecCol)
      .join(broadcast(local), Seq("cell"))
      .withColumn("c_sim", VectorOps.cosine(col(vecCol), col("centroid")))
      .select(col(idCol), col("cell"), col(vecCol), col("c_sim"))
    val lhs = withSim.select(col("cell"), col(idCol).as("a"),
      col(vecCol).as("__va"), col("c_sim").as("__sa"))
    val rhs = withSim.select(col("cell"), col(idCol).as("b"),
      col(vecCol).as("__vb"), col("c_sim").as("__sb"))
    val dropped = lhs.join(rhs, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(VectorOps.cosine(col("__va"), col("__vb")) >= lit(threshold))
      .select(when(col("__sa") > col("__sb") ||
          (col("__sa") === col("__sb") && col("a") > col("b")), col("a"))
        .otherwise(col("b")).as(idCol))
      .distinct()
      .withColumn("dropped", lit(true))
    withSim.select(col(idCol), col("cell"), col("c_sim"))
      .join(dropped, Seq(idCol), "left")
      .withColumn("dropped", coalesce(col("dropped"), lit(false)))
  }
}
