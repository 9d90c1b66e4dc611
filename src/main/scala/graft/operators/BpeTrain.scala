package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DISTRIBUTED BPE TRAINING (Sennrich et al. 2016 §3.2 — learning the
  * merges table, not just applying it; the twin of
  * [[graft.functions.BpeExprs]]' tokenizer): iterative highest-frequency
  * adjacent-pair merge over the corpus's distinct-word count table.
  * Each of the K rounds is one narrow aggregation (pair explode →
  * weighted count, with map-side partial agg) plus a one-row
  * TakeOrdered collect (count DESC, pair ASC — a total order, so the
  * learned table is deterministic for any partitioning); the winning
  * pair then rewrites every word's segmentation IN PLACE via a
  * codegen'd HOF fold (greedy leftmost non-overlapping — the standard
  * single-merge application; overlaps only arise on self-pairs like
  * (a,a) over runs, where greedy takes every other).
  *
  * Scale shape: state is the DISTINCT-word table (vocabulary-sized, not
  * corpus-sized — the one groupBy on raw text happens once), each round
  * touches it linearly, and K is a constant set by the caller. The only
  * driver data is K single-row maxima — the adjudicated-collect class.
  * The learned table then feeds BpeExprs.bpeCount/bpeTokens, whose
  * leftmost-lowest-rank encode reproduces this loop's segmentation for
  * any table learned this way (each merge's parts exist before it) —
  * BpeSpec gates that equivalence on the learned fixture.
  *
  * Reference analog: token budgeting for pack/chunk (SURVEY §2.6
  * E-surface) with a corpus-fitted vocabulary instead of a canned one.
  */
object BpeTrain {

  /** Apply ONE merge (a, b) to a symbol-array column: greedy leftmost
    * non-overlapping, as a codegen'd fold. After a merge the
    * accumulator's tail is a+b, which can never equal a (b is
    * non-empty), so only ORIGINAL adjacent pairs merge in a pass —
    * exactly the parity-of-run rule the DuckDB oracle replays.
    */
  def applyMerge(state: Column, a: String, b: String): Column =
    aggregate(state,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Learn the first `k` merges from `docs.textCol` (single-space word
    * split, the tokens() contract; empty words contribute nothing).
    * Returns (rank, left, right, weightedPairCount) in learned order;
    * stops early if the corpus runs out of repeated pairs. Ties break
    * (count DESC, left ASC, right ASC).
    */
  def trainMerges(docs: DataFrame, textCol: Column, k: Int): Seq[(String, String, Long)] = {
    require(k >= 1 && k <= 64, s"k must be in [1,64] (bounded driver loop), got $k")
    val words = docs
      .select(explode(split(textCol, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    // r17: checkpoint the state table BEFORE the loop and after every
    // merge. Without it, round k's census re-executes the whole lineage —
    // corpus scan + word census + k−1 nested interpreted HOF folds — so
    // the loop cost K corpus scans and O(K²) fold work (plus a K-deep
    // plan re-analyzed per round). The state is the DISTINCT-word table
    // (vocabulary-sized, executor-resident at any corpus scale), so each
    // checkpoint is a tiny materialization, the corpus is scanned ONCE,
    // and each round evaluates exactly ONE fold. localCheckpoint is
    // semantically transparent (BpeSpec + the bpe2 oracle gate both
    // cover it); the argmax total order makes the learned table
    // partitioning-independent anyway. Each checkpoint's blocks are
    // released once the next one has materialized (localCheckpoint is
    // eager, and the new table has no lineage back to the old), and the
    // last on return, so executor storage holds one table, not K.
    def stored(df: DataFrame) = df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    var held = words.select(col("w"), col("n"), split(col("w"), "").as("state"))
      .localCheckpoint()
    var seg = held
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    while (!exhausted && learned.size < k) {
      // the census must skip fully-merged (single-symbol) words: Spark's
      // 2-arg sequence() steps BACKWARD when start > stop, so
      // sequence(1, 0) = [1, 0] and a size-1 state would emit junk
      // (sym, NULL)/(NULL, sym) pairs weighted by the word's count —
      // NULL sorts first in the argmax tiebreak, so once any frequent
      // word collapses to one symbol the junk pair would win every
      // remaining round while applyMerge no-ops (the DuckDB oracle's
      // half-open range(1, length) never emits them). Guarded with the
      // bigramPmi slice idiom — an indexed transform over
      // slice(state, 1, max(size-1, 0)), empty for 1-symbol states —
      // NOT a separate filter(size >= 2): predicate pushdown inlines a
      // filter's alias into the K-deep fold chain and re-evaluates it
      // per round (measured 3x bpe2 wall, flatness lost)
      val best = seg
        .select(col("n"), explode(expr(
          "transform(slice(state, 1, greatest(size(state) - 1, 0)), " +
            "(x, i) -> struct(x AS l, state[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((l, r, cnt))
        seg = seg.withColumn("state", applyMerge(col("state"), l, r))
        // flatten the lineage every round (skip the last — nothing reads
        // it): one fold evaluated per round instead of a growing chain
        if (learned.size < k) {
          seg = seg.localCheckpoint()
          stored(held).foreach(_.unpersist(blocking = false))
          held = seg
        }
      }
    }
    stored(held).foreach(_.unpersist(blocking = false))
    learned.toSeq
  }

  /** [[trainMerges]] as a DataFrame for the query surface:
    * (rank, lhs, rhs, cnt). */
  def trainMergesDF(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, textCol, k).zipWithIndex
      .map { case ((l, r, c), i) => (i, l, r, c) }
      .toDF("rank", "lhs", "rhs", "cnt")
  }
}
