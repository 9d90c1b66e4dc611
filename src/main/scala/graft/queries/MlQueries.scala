package graft
package queries

import graft.functions.TextOps
import graft.operators.{Curation, Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vectors and training-data ML: embedding search (brute force, IVF, PQ),
  * k-means, hard negatives, embedding dedup and statistics, importance
  * resampling, splits and samplers, a hashed linear classifier and
  * retrieval evaluation. */
object MlQueries extends Family {
  import Helpers._

  query("e3_cosine_topk") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |scored AS (SELECT query_id, neighbor_id,
       |  ${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS raw
       |  FROM q, c WHERE query_id <> neighbor_id)
       |SELECT query_id, neighbor_id, round(raw, 6) AS score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** knn1 — 5-NN majority-vote label transfer: every 10th vector is the
    * unlabeled query set, the rest the labeled corpus.
    */
  query("knn1_label_transfer") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    operators.Similarity.knnClassify(
        emb.filter(col("vec_id") % 10 === 0),
        emb.filter(col("vec_id") % 10 =!= 0), k = 5)
      .orderBy("query_id")
  }(
    // knn1: ranking on the RAW cosine (the e3-proven tiebreak), then
    // vote-count majority with (votes DESC, label ASC) determinism.
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 10 = 0),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label FROM embeddings WHERE vec_id % 10 <> 0),
       |scored AS (SELECT query_id, neighbor_id, label,
       |  ${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS raw
       |  FROM q, c),
       |topk AS (SELECT query_id, label FROM (
       |  SELECT query_id, label, row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5),
       |votes AS (SELECT query_id, label, count(*) AS votes FROM topk GROUP BY 1, 2)
       |SELECT query_id, CAST(pred_label AS INTEGER) AS pred_label, votes FROM (
       |  SELECT query_id, label AS pred_label, votes,
       |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn FROM votes)
       |WHERE rn = 1 ORDER BY query_id""".stripMargin)

  /** emb1 — cluster cohesion via fixed-point group centroids: the
    * distributed mean-vector is computed on 2^20-scaled integer
    * accumulators (order-independent, bit-reproducible — hash-checkable
    * where a naive float sum would be partitioning-dependent), then each
    * vector scores its cosine to its label centroid.
    */
  query("emb1_label_cohesion") { (s, d) =>
    Similarity.cohesionToCentroid(Tables.embeddings(s, d), "label")
      .orderBy("vec_id")
  }(
    // emb1: ×2^20 is a power-of-two multiply (exact in IEEE), floor gives
    // identical BIGINTs, integer sums commute → the centroid is
    // bit-identical in both engines; the cosine is the in-order fold.
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |u AS (SELECT label, i, CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(1048576.0 AS DOUBLE)) AS BIGINT) AS qx
       |  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) t),
       |g AS (SELECT label, i, sum(qx) AS s, count(*) AS n FROM u GROUP BY label, i),
       |c AS (SELECT label, list(CAST(s AS DOUBLE) / CAST(1048576.0 AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY i) AS centroid
       |  FROM g GROUP BY label)
       |SELECT vec_id, label, round(${sqlDot("embedding", "centroid")} /
       |  (sqrt(${sqlDot("embedding", "embedding")}) * sqrt(${sqlDot("centroid", "centroid")})), 6) AS cohesion
       |FROM e JOIN c USING (label) ORDER BY vec_id""".stripMargin)

  /** E3b — IVF ANN top-k, hash-checked via the full-probe equivalence:
    * with nProbe = nLists every cell is searched, so IVF must return
    * EXACTLY the brute-force answer (the oracle) — any defect in the
    * KMeans cell assignment (dropped/duplicated vectors), probe routing,
    * scoring, or ranking breaks the hash. The pruned nProbe < nLists
    * behavior (recall on separated clusters, partition-filter pruning in
    * the persisted index) is SimilaritySpec's job — approximation quality
    * has no SQL analog, exactness of the machinery does.
    */
  query("e3b_ivf_topk") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5, nLists = 8, nProbe = 8)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }(
    // e3b: full-probe IVF ≡ brute force — same oracle as e3.
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |scored AS (SELECT query_id, neighbor_id,
       |  ${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})) AS raw
       |  FROM q, c WHERE query_id <> neighbor_id)
       |SELECT query_id, neighbor_id, round(raw, 6) AS score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** E3c — IVF with a genuinely PRUNED probe (nProbe 3 of nLists 8),
    * oracled: centroids are eight corpus vectors (deterministic seeding —
    * the bring-your-own-quantizer path), so DuckDB can replay the exact
    * nearest-centroid assignment, the query-side probe routing, AND the
    * cell-restricted scoring. e3b proves full-probe ≡ brute force; this
    * proves the pruning itself — the part of IVF that actually buys the
    * 100 TB win — produces exactly the deterministic subset it claims.
    */
  query("e3c_ivf_pruned") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    Similarity.ivfTopKWithCentroids(
        emb.filter(col("vec_id") < 10), emb, centroids, k = 5, nProbe = 3)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }(
    // e3c: replay the full pruned-IVF pipeline — nearest-centroid corpus
    // assignment (argmin L2, tie to lower cell), query probe routing
    // (3 nearest cells), cell-restricted cosine scoring, top-5 rank.
    s"""WITH cent AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS kv FROM embeddings WHERE vec_id < 8),
       |corp AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |casg AS (SELECT neighbor_id, cv, cell FROM (
       |  SELECT c.neighbor_id, c.cv, k.cell,
       |    row_number() OVER (PARTITION BY c.neighbor_id
       |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
       |  FROM corp c CROSS JOIN cent k) WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |probes AS (SELECT query_id, qv, cell FROM (
       |  SELECT q.query_id, q.qv, k.cell,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${sqlL2("q.qv", "k.kv")} ASC, k.cell ASC) AS prank
       |  FROM q CROSS JOIN cent k) WHERE prank <= 3),
       |scored AS (SELECT p.query_id, c.neighbor_id,
       |  ${sqlDot("p.qv", "c.cv")} / (sqrt(${sqlDot("p.qv", "p.qv")}) * sqrt(${sqlDot("c.cv", "c.cv")})) AS raw
       |  FROM probes p JOIN casg c ON p.cell = c.cell AND p.query_id <> c.neighbor_id)
       |SELECT query_id, neighbor_id, round(raw, 6) AS score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** E3d — product-quantization ANN: the corpus compressed to 8 one-byte
    * codewords per vector (8 subspaces × 8 dims of the 64-dim embedding),
    * ranked by fixed-point ADC distance sums. Codebook derived from the
    * first 8 embeddings' slices (the e3c caller-provided-quantizer
    * pattern), so encode argmin and the compressed ranking are both fully
    * deterministic and the oracle evaluates the identical closed form.
    */
  query("e3d_pq_adc") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val codebook = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("code"), col("embedding").as("__e"))
      .select(col("code"), posexplode(
        transform(sequence(lit(0), lit(7)),
          mm => slice(col("__e"), mm * 8 + 1, lit(8)))).as(Seq("m", "center")))
      .select("m", "code", "center")
    Similarity.pqTopKWithCodebook(
        emb.filter(col("vec_id") < 10), emb, codebook, k = 5, m = 8, dSub = 8)
      .orderBy("query_id", "rank")
  }(
    // e3d: the same PQ encode + fixed-point ADC closed form — integer
    // distance sums commute, so the compressed ranking is bit-exact.
    s"""WITH cw AS (SELECT CAST(vec_id AS INT) AS code, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |ms AS (SELECT CAST(m AS INT) AS m FROM range(8) t(m)),
       |corp AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |codes AS (SELECT neighbor_id, m, code FROM (
       |  SELECT c.neighbor_id, ms.m, w.code,
       |    row_number() OVER (PARTITION BY c.neighbor_id, ms.m
       |      ORDER BY ${sqlSubL2Sq("c.cv", "w.ce", "ms.m")} ASC, w.code ASC) AS rk
       |  FROM corp c CROSS JOIN ms CROSS JOIN cw w) WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |qt AS (SELECT q.query_id, ms.m, w.code,
       |    CAST(floor(${sqlSubL2Sq("q.qv", "w.ce", "ms.m")} * 1048576) AS BIGINT) AS dfp
       |  FROM q CROSS JOIN ms CROSS JOIN cw w),
       |sc AS (SELECT t.query_id, c.neighbor_id, CAST(sum(t.dfp) AS BIGINT) AS adist
       |  FROM codes c JOIN qt t ON t.m = c.m AND t.code = c.code AND t.query_id <> c.neighbor_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM sc) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** E3e — IVF+PQ composed: e3c's deterministic coarse quantizer restricts
    * candidates to each query's 3 probed cells, e3d's fixed-point ADC
    * ranks the survivors on codes. Both layers individually oracled; this
    * checks the COMPOSITION (probe restriction must reach the code join).
    */
  query("e3e_ivfpq") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val codebook = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("code"), col("embedding").as("__e"))
      .select(col("code"), posexplode(
        transform(sequence(lit(0), lit(7)),
          mm => slice(col("__e"), mm * 8 + 1, lit(8)))).as(Seq("m", "center")))
      .select("m", "code", "center")
    Similarity.ivfPqTopK(
        emb.filter(col("vec_id") < 10), emb, centroids, codebook,
        k = 5, nProbe = 3, m = 8, dSub = 8)
      .orderBy("query_id", "rank")
  }(
    // e3e: e3c's probe CTEs composed with e3d's code/table CTEs — the ADC
    // join additionally keyed by the probed cell.
    s"""WITH cent AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS kv FROM embeddings WHERE vec_id < 8),
       |cw AS (SELECT CAST(vec_id AS INT) AS code, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |ms AS (SELECT CAST(m AS INT) AS m FROM range(8) t(m)),
       |corp AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
       |casg AS (SELECT neighbor_id, cell FROM (
       |  SELECT c.neighbor_id, k.cell,
       |    row_number() OVER (PARTITION BY c.neighbor_id
       |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
       |  FROM corp c CROSS JOIN cent k) WHERE rk = 1),
       |codes AS (SELECT neighbor_id, m, code FROM (
       |  SELECT c.neighbor_id, ms.m, w.code,
       |    row_number() OVER (PARTITION BY c.neighbor_id, ms.m
       |      ORDER BY ${sqlSubL2Sq("c.cv", "w.ce", "ms.m")} ASC, w.code ASC) AS rk
       |  FROM corp c CROSS JOIN ms CROSS JOIN cw w) WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |probes AS (SELECT query_id, cell FROM (
       |  SELECT q.query_id, k.cell,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${sqlL2("q.qv", "k.kv")} ASC, k.cell ASC) AS prank
       |  FROM q CROSS JOIN cent k) WHERE prank <= 3),
       |qt AS (SELECT q.query_id, ms.m, w.code,
       |    CAST(floor(${sqlSubL2Sq("q.qv", "w.ce", "ms.m")} * 1048576) AS BIGINT) AS dfp
       |  FROM q CROSS JOIN ms CROSS JOIN cw w),
       |sc AS (SELECT t.query_id, c.neighbor_id, CAST(sum(t.dfp) AS BIGINT) AS adist
       |  FROM codes c
       |  JOIN casg a ON a.neighbor_id = c.neighbor_id
       |  JOIN probes p ON p.cell = a.cell
       |  JOIN qt t ON t.query_id = p.query_id AND t.m = c.m AND t.code = c.code
       |  WHERE t.query_id <> c.neighbor_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rank
       |  FROM sc) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** KM1 — one bit-exact Lloyd's k-means round: assign to 4 seed
    * centroids, recompute fixed-point means, REASSIGN, and hash the cell
    * census plus the new centroids' leading-dim fingerprints. Distributed
    * clustering training whose trajectory the oracle replays exactly.
    */
  query("km1_lloyd_round") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val init = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val cent1 = Similarity.lloydRound(emb, init)
    Similarity.assignCells(emb, cent1)
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
      .join(cent1.select(col("cell"),
        floor(element_at(col("centroid"), 1) * lit(1048576L)).cast("long").as("c1_fp"),
        floor(element_at(col("centroid"), 2) * lit(1048576L)).cast("long").as("c2_fp")),
        Seq("cell"))
      .orderBy("cell")
  }(
    // km1: the exact Lloyd round — argmin assignment, per-dim fixed-point
    // sums, the same ((s/2^20)/n) mean chain, argmin again.
    s"""WITH init AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS kv FROM embeddings WHERE vec_id < 4),
       |corp AS (SELECT vec_id, embedding AS cv FROM embeddings),
       |a0 AS (SELECT vec_id, cv, cell FROM (
       |  SELECT c.vec_id, c.cv, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
       |  FROM corp c CROSS JOIN init k) WHERE rk = 1),
       |dims AS (SELECT cell, i,
       |    sum(CAST(floor(CAST(cv[i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) t
       |  GROUP BY cell, i),
       |cent1 AS (SELECT cell,
       |    list(CAST(s AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) ORDER BY i) AS kv
       |  FROM dims GROUP BY cell),
       |a1 AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
       |  FROM corp c CROSS JOIN cent1 k) WHERE rk = 1)
       |SELECT a1.cell, count(*) AS n_members,
       |  CAST(floor(k.kv[1] * 1048576) AS BIGINT) AS c1_fp,
       |  CAST(floor(k.kv[2] * 1048576) AS BIGINT) AS c2_fp
       |FROM a1 JOIN cent1 k ON k.cell = a1.cell
       |GROUP BY a1.cell, k.kv[1], k.kv[2] ORDER BY a1.cell""".stripMargin)

  /** KM2 — the multi-round Lloyd TRAINING loop (km1's one exact round
    * iterated — the r15 verdict's clustering end-to-end): three rounds
    * of [[Similarity.trainKMeans]] from the km1 seed (vec_id < 4),
    * final assignment censused exactly like km1. Each round's ≤k-row
    * centroid table is collected and re-seeded as a local relation
    * (flat lineage, broadcast side statically row-bounded — the plan
    * audit proves this one with NO allowlist entry, unlike km1's
    * filtered-scan seed), and the values re-seed VERBATIM, so the
    * 3-round trajectory is bitwise the chained-lloydRound form
    * (SimilaritySpec gates it) and the oracle unrolls all three rounds
    * as MATERIALIZED CTE levels — the bpe2 training-replay discipline
    * on k-means.
    */
  query("km2_kmeans_train") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val init = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val (cent, _) = Similarity.trainKMeans(emb, init, maxRounds = 3)
    Similarity.assignCells(emb, cent)
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
      .join(cent.select(col("cell"),
        floor(element_at(col("centroid"), 1) * lit(1048576L)).cast("long").as("c1_fp"),
        floor(element_at(col("centroid"), 2) * lit(1048576L)).cast("long").as("c2_fp")),
        Seq("cell"))
      .orderBy("cell")
  }(
    // km2: the training loop — km1's round unrolled three deep, every
    // level MATERIALIZED; the engine's collect-and-reseed is verbatim,
    // so the unroll replays the identical trajectory.
    sqlTrainKMeans)

  /** Shared Lloyd-unroll CTE generator: `kinit` from `seedWhere`,
    * `kcorp`, assignment `ka0`, then per round a fixed-point dims level
    * `kd$k` and centroid level `kcent$k` (every CTE MATERIALIZED — the
    * j21 inlining lesson), with assignments `ka$k` emitted for rounds
    * that feed a next round (plus the final one when `finalAssign`).
    * Consumers: km2's census (finalAssign) and e3f's trained-quantizer
    * IVF (kcent$rounds only). */
  private def sqlLloydCtes(seedWhere: String, rounds: Int, finalAssign: Boolean): Seq[String] = {
    def assign(name: String, seed: String, keepCv: Boolean): String =
      s"""$name AS MATERIALIZED (SELECT vec_id${if (keepCv) ", cv" else ""}, cell FROM (
         |  SELECT c.vec_id, c.cv, k.cell,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
         |  FROM kcorp c CROSS JOIN $seed k) WHERE rk = 1)""".stripMargin
    def round(k: Int): Seq[String] = Seq(
      s"""kd$k AS MATERIALIZED (SELECT cell, i,
         |    sum(CAST(floor(CAST(cv[i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM ka${k - 1} CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) t
         |  GROUP BY cell, i)""".stripMargin,
      s"""kcent$k AS MATERIALIZED (SELECT cell,
         |    list(CAST(s AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) ORDER BY i) AS kv
         |  FROM kd$k GROUP BY cell)""".stripMargin) ++
      (if (k < rounds || finalAssign)
        Seq(assign(s"ka$k", s"kcent$k", keepCv = k < rounds))
      else Seq.empty)
    Seq(
      s"kinit AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS kv FROM embeddings WHERE $seedWhere)",
      "kcorp AS (SELECT vec_id, embedding AS cv FROM embeddings)",
      assign("ka0", "kinit", keepCv = true)) ++
      (1 to rounds).flatMap(round)
  }

  /** km2's oracle — the km1 replay unrolled three rounds: per round an
    * assignment level (argmin with the total tie-break), a fixed-point
    * dims level, and a centroid level; the census reads the final
    * assignment and kcent3.
    */
  private def sqlTrainKMeans: String =
    sqlLloydCtes("vec_id < 4", rounds = 3, finalAssign = true)
      .mkString("WITH ", ",\n", "\n") +
      s"""SELECT ka3.cell, count(*) AS n_members,
         |  CAST(floor(k.kv[1] * 1048576) AS BIGINT) AS c1_fp,
         |  CAST(floor(k.kv[2] * 1048576) AS BIGINT) AS c2_fp
         |FROM ka3 JOIN kcent3 k ON k.cell = ka3.cell
         |GROUP BY ka3.cell, k.kv[1], k.kv[2] ORDER BY ka3.cell""".stripMargin

  /** e3f's oracle — the 2-round Lloyd unroll feeding e3c's IVF chain
    * verbatim (assignment, probes, cosine scoring, top-k), with
    * `kcent2` where e3c reads its caller-provided centroid table. */
  private def sqlIvfTrained: String =
    (sqlLloydCtes("vec_id < 8", rounds = 2, finalAssign = false) ++ Seq(
      s"""casg AS (SELECT neighbor_id, cv, cell FROM (
         |  SELECT c.vec_id AS neighbor_id, c.cv, k.cell,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
         |  FROM kcorp c CROSS JOIN kcent2 k) WHERE rk = 1)""".stripMargin,
      "q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10)",
      s"""probes AS (SELECT query_id, qv, cell FROM (
         |  SELECT q.query_id, q.qv, k.cell,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlL2("q.qv", "k.kv")} ASC, k.cell ASC) AS prank
         |  FROM q CROSS JOIN kcent2 k) WHERE prank <= 3)""".stripMargin,
      s"""scored AS (SELECT p.query_id, c.neighbor_id,
         |  ${sqlDot("p.qv", "c.cv")} / (sqrt(${sqlDot("p.qv", "p.qv")}) * sqrt(${sqlDot("c.cv", "c.cv")})) AS raw
         |  FROM probes p JOIN casg c ON p.cell = c.cell AND p.query_id <> c.neighbor_id)""".stripMargin))
      .mkString("WITH ", ",\n", "\n") +
      """SELECT query_id, neighbor_id, round(raw, 6) AS score, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY raw DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** KM3 — DETERMINISTIC k-means seeding (farthest-first traversal) +
    * one Lloyd round: the engine-owned replacement for km1's "first k
    * ids" seed — seed 0 the minimum-id vector, each further seed the
    * corpus argmax of min-distance-to-chosen (ties by id), then the km1
    * round and census from those seeds. The oracle unrolls the ENTIRE
    * selection trajectory (three argmax levels over staged least()
    * chains — a wrong pick anywhere reseats a seed and shifts every
    * downstream row) before replaying the round.
    */
  query("km3_kmpp_seeded") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val seeds = Similarity.seedKMeansFarthest(emb, k = 4)
    // one round through trainKMeans' collect-and-reseed (bitwise the
    // lloydRound chain, spec-proven) so the final assignment broadcasts
    // a statically row-bounded LOCAL relation — km3 needs no audit
    // allowlist entry, unlike km1's grouped-aggregate broadcast
    val (cent1, _) = Similarity.trainKMeans(emb, seeds.select("cell", "centroid"),
      maxRounds = 1)
    Similarity.assignCells(emb, cent1)
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
      .join(cent1.select(col("cell"),
        floor(element_at(col("centroid"), 1) * lit(1048576L)).cast("long").as("c1_fp"),
        floor(element_at(col("centroid"), 2) * lit(1048576L)).cast("long").as("c2_fp")),
        Seq("cell"))
      .join(seeds.select("cell", "seed_id"), Seq("cell"))
      .select("cell", "seed_id", "n_members", "c1_fp", "c2_fp")
      .orderBy("cell")
  }(
    // km3: the farthest-first seed trajectory unrolled (argmax per
    // level), then the km1 round replay from those seeds.
    sqlKmppSeeded)

  /** km3's oracle — the farthest-first unroll (selection argmax per
    * level, least() over the chosen set in selection order — the
    * engine's left-assoc reduce) feeding the km1 round replay. */
  private def sqlKmppSeeded: String = {
    def sel(i: Int): String = {
      val dists = (0 until i).map(j => sqlL2("c.cv", s"s$j.kv"))
      val dmin = if (dists.length == 1) dists.head
        else s"least(${dists.mkString(", ")})"
      val froms = (0 until i).map(j => s"s$j").mkString(", ")
      s"""s$i AS MATERIALIZED (SELECT vec_id, cv AS kv FROM (
         |  SELECT c.vec_id, c.cv,
         |    row_number() OVER (ORDER BY $dmin DESC, c.vec_id ASC) AS rk
         |  FROM corpd c, $froms) WHERE rk = 1)""".stripMargin
    }
    val seedCtes = Seq(
      "corpd AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)",
      "s0 AS MATERIALIZED (SELECT vec_id, cv AS kv FROM corpd ORDER BY vec_id LIMIT 1)") ++
      (1 until 4).map(sel)
    val roundCtes = Seq(
      "cent0 AS (" + (0 until 4).map(i =>
        s"SELECT $i AS cell, vec_id AS seed_id, kv FROM s$i").mkString(" UNION ALL ") + ")",
      "corp AS (SELECT vec_id, embedding AS cv FROM embeddings)",
      s"""a0 AS MATERIALIZED (SELECT vec_id, cv, cell FROM (
         |  SELECT c.vec_id, c.cv, k.cell,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
         |  FROM corp c CROSS JOIN cent0 k) WHERE rk = 1)""".stripMargin,
      s"""dims AS MATERIALIZED (SELECT cell, i,
         |    sum(CAST(floor(CAST(cv[i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) t
         |  GROUP BY cell, i)""".stripMargin,
      s"""cent1 AS MATERIALIZED (SELECT cell,
         |    list(CAST(s AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) ORDER BY i) AS kv
         |  FROM dims GROUP BY cell)""".stripMargin,
      s"""a1 AS (SELECT vec_id, cell FROM (
         |  SELECT c.vec_id, k.cell,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
         |  FROM corp c CROSS JOIN cent1 k) WHERE rk = 1)""".stripMargin)
    (seedCtes ++ roundCtes).mkString("WITH ", ",\n", "\n") +
      s"""SELECT a1.cell, s.seed_id, count(*) AS n_members,
         |  CAST(floor(k.kv[1] * 1048576) AS BIGINT) AS c1_fp,
         |  CAST(floor(k.kv[2] * 1048576) AS BIGINT) AS c2_fp
         |FROM a1 JOIN cent1 k ON k.cell = a1.cell JOIN cent0 s ON s.cell = a1.cell
         |GROUP BY a1.cell, s.seed_id, k.kv[1], k.kv[2] ORDER BY a1.cell""".stripMargin
  }

  /** HN1 — HARD-NEGATIVE MINING (the contrastive-training consumer of
    * the ANN stack): per probe vector the most-similar different-label
    * corpus vector beside the most-similar same-label one and the
    * margin, searched through e3f's trained-IVF probe shape (engine-
    * trained centroids, broadcast argmin assignment, per-query probe
    * pruning) — what a production embedding-training pipeline runs to
    * build triplets. The oracle reuses sqlIvfTrained's scored CTE chain
    * and splits the argmax by label class.
    */
  query("hn1_hard_negatives") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val seed = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val (cent, _) = Similarity.trainKMeans(emb, seed, maxRounds = 2)
    Similarity.hardNegatives(
        emb.filter(col("vec_id") < 10), emb, cent, nProbe = 3)
      .orderBy("query_id")
  }(
    // mix2 above: quota arithmetic + md5-bottom selection replay.
    // hn1: the trained-IVF scored chain split by label class — argmax
    // per (query, class), neg × pos pivot, margins.
    sqlHardNegatives)

  /** hn1's oracle — sqlIvfTrained's Lloyd-unroll + probe + scoring chain
    * verbatim up to `scored`, then the per-(query, label-class) argmax
    * and the neg×pos pivot. */
  private def sqlHardNegatives: String = {
    val ivf = sqlIvfTrained
    val upToFinal = ivf.substring(0, ivf.indexOf("SELECT query_id, neighbor_id, round(raw, 6)"))
    upToFinal.stripLineEnd + ",\n" +
      """lab AS (SELECT vec_id, label FROM embeddings),
        |sl AS MATERIALIZED (SELECT s.query_id, s.neighbor_id, s.raw,
        |  (ln.label <> lq.label) AS isneg
        |  FROM scored s JOIN lab lq ON lq.vec_id = s.query_id
        |    JOIN lab ln ON ln.vec_id = s.neighbor_id),
        |best AS MATERIALIZED (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id, isneg
        |    ORDER BY raw DESC, neighbor_id) AS rn FROM sl) WHERE rn = 1)
        |SELECT n.query_id, n.neighbor_id AS hard_neg_id, round(n.raw, 6) AS neg_score,
        |  p.neighbor_id AS pos_id, round(p.raw, 6) AS pos_score,
        |  round(p.raw - n.raw, 6) AS margin
        |FROM best n JOIN best p ON n.query_id = p.query_id AND n.isneg AND NOT p.isneg
        |ORDER BY n.query_id""".stripMargin
  }

  /** E3F — the clustering story END-TO-END (the r15 verdict's km2 ask,
    * one step further than documentation): IVF search whose quantizer
    * is the engine's OWN [[Similarity.trainKMeans]] output (2 rounds
    * from the 8-seed) rather than caller-provided centroids — train
    * here, quantize there, every step engine-deterministic. The oracle
    * unrolls the training trajectory and feeds it into e3c's IVF chain
    * verbatim.
    */
  query("e3f_ivf_trained") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val seed = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    val (cent, _) = Similarity.trainKMeans(emb, seed, maxRounds = 2)
    Similarity.ivfTopKWithCentroids(
        emb.filter(col("vec_id") < 10), emb, cent, k = 5, nProbe = 3)
      .withColumn("score", round(col("score"), 6))
      .orderBy("query_id", "rank")
  }(
    // e3f: the trained-quantizer IVF — the 2-round Lloyd unroll feeding
    // e3c's probe/score chain (train here, quantize there, one oracle).
    sqlIvfTrained)

  query("e8_embedding_neardup") { (s, d) =>
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), threshold = 0.35, bits = 0)
      .withColumn("cos", round(col("cos"), 6))
      .orderBy("a", "b")
  }(s"""WITH p AS (SELECT a.vec_id AS a, b.vec_id AS b,
       |  ${sqlDot("a.embedding", "b.embedding")} /
       |  (sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")})) AS c
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       |SELECT a, b, round(c, 6) AS cos FROM p WHERE c >= 0.35 ORDER BY a, b""".stripMargin)

  /** e8b — BANDED RHP-LSH near-dup pairs, the corpus-scale embedding
    * path (r12): e8's `bits = 0` exact join is O(N²) by contract
    * (probe: 55× at 10× vectors); 4 independent 8-plane tables give a
    * deterministic candidate contract (shares ≥1 whole band) the oracle
    * recomputes plane-by-plane — every ±1 normal component interpolated
    * from the SAME md5 parity, projections as identical left-assoc
    * chains, so candidates AND verified cosines hash-match exactly.
    */
  query("e8b_embedding_banded") { (s, d) =>
    Dedup.embeddingNearDupPairsBanded(Tables.embeddings(s, d), threshold = 0.35)
      .withColumn("cos", round(col("cos"), 6))
      .orderBy("a", "b")
  } {
    // e8b: the banded-LSH candidate contract restated plane-by-plane -
    // every RHP normal component is the interpolated rhpSign constant,
    // each projection the identical left-assoc chain (signs folded as
    // +/- terms: x*1.0 == x and x*-1.0 == -x bitwise), so bucket ids,
    // the DISTINCT candidate set, and the fused-cosine verify all match
    def bucketSql(b: Int): String =
      (0 until 8).map { t =>
        val proj = (0 until 64).map { i =>
          val s = graft.functions.VectorOps.rhpSign(b * 8 + t, i)
          val term = s"CAST(embedding[${i + 1}] AS DOUBLE)"
          if (i == 0) { if (s > 0) term else s"- $term" }
          else if (s > 0) s"+ $term" else s"- $term"
        }.mkString(" ")
        s"CASE WHEN ($proj) > 0 THEN ${1L << t} ELSE 0 END"
      }.mkString("(", " + ", ")")
    s"""WITH bb AS (
       |  SELECT vec_id, 0 AS band, ${bucketSql(0)} AS bucket FROM embeddings
       |  UNION ALL SELECT vec_id, 1, ${bucketSql(1)} FROM embeddings
       |  UNION ALL SELECT vec_id, 2, ${bucketSql(2)} FROM embeddings
       |  UNION ALL SELECT vec_id, 3, ${bucketSql(3)} FROM embeddings),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM bb x JOIN bb y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.vec_id < y.vec_id),
       |p AS (SELECT a, b,
       |  ${sqlDot("ea.embedding", "eb.embedding")} /
       |  (sqrt(${sqlDot("ea.embedding", "ea.embedding")}) * sqrt(${sqlDot("eb.embedding", "eb.embedding")})) AS c
       |  FROM cand JOIN embeddings ea ON ea.vec_id = cand.a
       |  JOIN embeddings eb ON eb.vec_id = cand.b)
       |SELECT a, b, round(c, 6) AS cos FROM p WHERE c >= 0.35 ORDER BY a, b""".stripMargin
  }

  /** E16 — SemDeDup semantic dedup census: quantize onto 16 deterministic
    * cells (vec_id < 16 as centroids — the e3c bring-your-own-quantizer
    * contract), pair WITHIN cells at cos ≥ 0.35, drop the more-typical
    * member of each pair (keep the most atypical — the paper's diversity
    * rule). Per-cell census fingerprints membership, drop set, and the
    * Σfloor(c_sim·2^20) of every member — cosine chains identical in both
    * engines, so the floors match bit-for-bit.
    */
  query("e16_semantic_dedup") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    Dedup.semanticDedup(emb, centroids, threshold = 0.35)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("dropped"), lit(1L)).otherwise(lit(0L))).as("n_dropped"),
        sum(when(col("dropped"), col("vec_id"))).as("dropped_fp"),
        sum(floor(col("c_sim") * lit(1048576L)).cast("long")).as("csim_fp"))
      .orderBy("cell")
  }(
    // e16: the SemDeDup chain replayed — km1's argmin quantizer, within-
    // cell pairwise cosine, the (c_sim, id) dominance drop rule, and the
    // per-cell census. Every double (assignment fold, c_sim, pair cos)
    // is the identical in-order chain, so the floors match exactly.
    s"""WITH init AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS kv FROM embeddings WHERE vec_id < 16),
       |corp AS (SELECT vec_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT vec_id, cv, cell FROM (
       |  SELECT c.vec_id, c.cv, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
       |  FROM corp c CROSS JOIN init k) WHERE rk = 1),
       |sim AS (SELECT a.vec_id, a.cell, a.cv,
       |  ${sqlDot("a.cv", "k.kv")} /
       |  (sqrt(${sqlDot("a.cv", "a.cv")}) * sqrt(${sqlDot("k.kv", "k.kv")})) AS c_sim
       |  FROM asg a JOIN init k USING (cell)),
       |drp AS (SELECT DISTINCT CASE WHEN x.c_sim > y.c_sim
       |    OR (x.c_sim = y.c_sim AND x.vec_id > y.vec_id)
       |    THEN x.vec_id ELSE y.vec_id END AS vec_id
       |  FROM sim x JOIN sim y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${sqlDot("x.cv", "y.cv")} /
       |    (sqrt(${sqlDot("x.cv", "x.cv")}) * sqrt(${sqlDot("y.cv", "y.cv")})) >= 0.35),
       |fin AS (SELECT s.vec_id, s.cell, s.c_sim,
       |  s.vec_id IN (SELECT vec_id FROM drp) AS dropped FROM sim s)
       |SELECT cell, count(*) AS n_members,
       |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN dropped THEN vec_id END) AS BIGINT) AS dropped_fp,
       |  CAST(sum(CAST(floor(c_sim * 1048576.0) AS BIGINT)) AS BIGINT) AS csim_fp
       |FROM fin GROUP BY cell ORDER BY cell""".stripMargin)

  /** E16b — SemDeDup at GROWN cell count (the r13 mandate twin): e16's
    * chain with cells = ⌊√N⌋ — the paper's rule, so per-cell membership
    * (and the within-cell quadratic step) stays FLAT as the corpus
    * grows instead of riding e16's fixed-16-cell contract. The count is
    * one driver-side scalar (the adjudicated class); √ then ⌊⌋ is the
    * identical correctly-rounded chain in both engines. Census output
    * and oracle identical to e16 modulo the centroid set.
    */
  query("e16b_semdedup_sqrtn") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val cells = math.floor(math.sqrt(emb.count().toDouble)).toLong
    val centroids = emb.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("centroid"))
    Dedup.semanticDedup(emb, centroids, threshold = 0.35)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("dropped"), lit(1L)).otherwise(lit(0L))).as("n_dropped"),
        sum(when(col("dropped"), col("vec_id"))).as("dropped_fp"),
        sum(floor(col("c_sim") * lit(1048576L)).cast("long")).as("csim_fp"))
      .orderBy("cell")
  }(
    // e16b: the identical SemDeDup replay with cells = floor(sqrt(N)) --
    // the scalar subquery mirrors the engine's driver-side count+sqrt.
    s"""WITH init AS (SELECT CAST(vec_id AS INT) AS cell, embedding AS kv FROM embeddings WHERE vec_id < (SELECT CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) FROM embeddings)),
       |corp AS (SELECT vec_id, embedding AS cv FROM embeddings),
       |asg AS (SELECT vec_id, cv, cell FROM (
       |  SELECT c.vec_id, c.cv, k.cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${sqlL2("c.cv", "k.kv")} ASC, k.cell ASC) AS rk
       |  FROM corp c CROSS JOIN init k) WHERE rk = 1),
       |sim AS (SELECT a.vec_id, a.cell, a.cv,
       |  ${sqlDot("a.cv", "k.kv")} /
       |  (sqrt(${sqlDot("a.cv", "a.cv")}) * sqrt(${sqlDot("k.kv", "k.kv")})) AS c_sim
       |  FROM asg a JOIN init k USING (cell)),
       |drp AS (SELECT DISTINCT CASE WHEN x.c_sim > y.c_sim
       |    OR (x.c_sim = y.c_sim AND x.vec_id > y.vec_id)
       |    THEN x.vec_id ELSE y.vec_id END AS vec_id
       |  FROM sim x JOIN sim y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${sqlDot("x.cv", "y.cv")} /
       |    (sqrt(${sqlDot("x.cv", "x.cv")}) * sqrt(${sqlDot("y.cv", "y.cv")})) >= 0.35),
       |fin AS (SELECT s.vec_id, s.cell, s.c_sim,
       |  s.vec_id IN (SELECT vec_id FROM drp) AS dropped FROM sim s)
       |SELECT cell, count(*) AS n_members,
       |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN dropped THEN vec_id END) AS BIGINT) AS dropped_fp,
       |  CAST(sum(CAST(floor(c_sim * 1048576.0) AS BIGINT)) AS BIGINT) AS csim_fp
       |FROM fin GROUP BY cell ORDER BY cell""".stripMargin)

  /** DSIR1 — importance resampling toward an in-corpus target (lang='en'):
    * unigram log-ratio weights, Gumbel top-25. The oracle replays the
    * whole chain — grouped counts, smoothed ratio fixed-points, the
    * md5-derived Gumbel — and must pick the identical 25 documents with
    * identical integer keys.
    */
  query("dsir1_importance_resample") { (s, d) =>
    Curation.dsirResample(Tables.documents(s, d), col("lang") === "en", k = 25)
      .select("doc_id", "n_tok", "w_fp", "key_fp")
      .orderBy("doc_id")
  }(
    // dsir1: the full DSIR chain — grouped (doc, term) counts, the
    // smoothed log-ratio fixed points (exact totals from the same
    // frequency table), integer weight sums, the md5 Gumbel key, and the
    // identical top-25 (key DESC, id ASC).
    s"""WITH td AS (SELECT doc_id, tgt, term, count(*) AS c FROM (
       |    SELECT doc_id, lang = 'en' AS tgt,
       |      unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY doc_id, tgt, term),
       |fr AS (SELECT term, CAST(sum(c) AS BIGINT) AS tr,
       |  CAST(sum(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS tt FROM td GROUP BY term),
       |tot AS (SELECT CAST(sum(tr) AS BIGINT) AS nr, CAST(sum(tt) AS BIGINT) AS nt,
       |  count(*) AS v FROM fr),
       |lr AS (SELECT term,
       |  CAST(floor((ln(CAST(tt + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
       |    - ln(CAST(tr AS DOUBLE) / CAST(nr AS DOUBLE))) * 1048576.0) AS BIGINT) AS lr_fp
       |  FROM fr CROSS JOIN tot),
       |w AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
       |  CAST(sum(c * lr_fp) AS BIGINT) AS w_fp
       |  FROM td JOIN lr USING (term) GROUP BY doc_id),
       |g AS (SELECT doc_id, n_tok, w_fp, w_fp + CAST(floor(
       |    -ln(-ln((${sqlHexVal("md5(CAST(doc_id AS VARCHAR))", 8)} + 1) / 4294967297.0))
       |    * 1048576.0) AS BIGINT) AS key_fp FROM w),
       |top AS (SELECT * FROM g ORDER BY key_fp DESC, doc_id LIMIT 25)
       |SELECT doc_id, n_tok, w_fp, key_fp FROM top ORDER BY doc_id""".stripMargin)

  /** SHUF1 — deterministic epoch shuffle (r10b: the training-order
    * assignment a data pipeline runs per epoch): two independent
    * md5-keyed permutations of the documents corpus via
    * `Curation.deterministicShuffle` (GlobalOrder two-pass rank — no
    * global sort, no single reducer), joined per doc. Reproducible under
    * any partitioning; the oracle replays both orders as plain windowed
    * row_numbers over the same md5-prefix keys.
    */
  query("shuf1_epoch_shuffle") { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id")
    val e1 = operators.Curation.deterministicShuffle(docs, "epoch-1", outCol = "pos_e1")
    val e2 = operators.Curation.deterministicShuffle(docs, "epoch-2", outCol = "pos_e2")
    e1.join(e2, "doc_id").orderBy("doc_id")
  } {
    // shuf1: both permutations replayed as windowed row_numbers over the
    // same md5-prefix keys (the hexVal machinery proven since samp1)
    def epoch(seed: String, out: String) =
      s"""SELECT doc_id, row_number() OVER (ORDER BY hv, doc_id) AS $out
         |FROM (SELECT doc_id,
         |  md5('$seed:' || CAST(doc_id AS VARCHAR)) AS h FROM documents) s0,
         |  LATERAL (SELECT ${sqlHexVal("h", 15)} AS hv) s1""".stripMargin
    s"""WITH e1 AS (${epoch("epoch-1", "pos_e1")}),
      |e2 AS (${epoch("epoch-2", "pos_e2")})
      |SELECT e1.doc_id, pos_e1, pos_e2
      |FROM e1 JOIN e2 ON e1.doc_id = e2.doc_id
      |ORDER BY e1.doc_id""".stripMargin
  }

  /** SAMP1 — deterministic md5 train/val/test split (stable under reruns
    * and appends, unlike RNG sampling); output is the split census.
    */
  query("samp1_hash_split") { (s, d) =>
    val docs = Tables.documents(s, d)
    docs
      .withColumn("split", operators.Curation.hashSplit(docs, "doc_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("split")
  }(s"""WITH t AS (SELECT doc_id, n_chars,
       |  ${sqlHexVal("md5(CAST(doc_id AS VARCHAR))", 4)} % 100 AS bucket FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM t GROUP BY split ORDER BY split""".stripMargin)

  /** SAMP2 — deterministic stratified sampling: per-returnflag keep rates
    * decided by an md5 bucket of the line key (pure projection+filter, no
    * RNG, stable under reruns/appends — the sampleBy() property gap).
    */
  query("samp2_stratified") { (s, d) =>
    operators.Curation.stratifiedSample(
        Tables.lineitem(s, d),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")),
        col("l_returnflag"),
        ratePct = Map("A" -> 10, "N" -> 50), defaultPct = 100)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }(s"""WITH t AS (SELECT l_returnflag, l_quantity,
       |  ${sqlHexVal("md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR))", 4)} % 100 AS bucket,
       |  CASE WHEN l_returnflag = 'A' THEN 10 WHEN l_returnflag = 'N' THEN 50 ELSE 100 END AS rate
       |  FROM lineitem)
       |SELECT l_returnflag, count(*) AS n,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM t WHERE bucket < rate GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** SAMP3 — deterministic WEIGHTED sampling (A-ES), 5 longest-biased
    * docs per source: weight = n_chars + 1, draw = md5-derived uniform,
    * rank key fixed-pointed — the mix-construction sampler that upweights
    * long documents without RNG state.
    */
  query("samp3_weighted") { (s, d) =>
    operators.Curation.weightedSample(
        Tables.documents(s, d),
        col("doc_id"), (col("n_chars") + lit(1)).cast("double"),
        Seq(col("source")), k = 5)
      .select("source", "doc_id", "wkey_fp")
      .orderBy("source", "doc_id")
  }(
    // samp3: the same md5-uniform + fixed-point ln(u)/w rank key (lm1's
    // ln-parity pattern); rank desc with doc_id tiebreak.
    s"""WITH w AS (SELECT source, doc_id,
       |  CAST(floor(ln((${sqlHexVal("md5(CAST(doc_id AS VARCHAR))", 8)} + 1) / 4294967296.0)
       |    / CAST(n_chars + 1 AS DOUBLE) * 1048576) AS BIGINT) AS wkey_fp
       |  FROM documents),
       |r AS (SELECT source, doc_id, wkey_fp,
       |  row_number() OVER (PARTITION BY source ORDER BY wkey_fp DESC, doc_id) AS rn FROM w)
       |SELECT source, doc_id, wkey_fp FROM r WHERE rn <= 5
       |ORDER BY source, doc_id""".stripMargin)

  /** emb2 — int8 embedding quantization codes + scales: floor-based
    * symmetric quantization is deterministic double arithmetic, so the
    * code vectors hash-match the relational oracle exactly.
    */
  query("emb2_quantize8") { (s, d) =>
    import graft.functions.VectorOps
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        md5(concat_ws(",",
          transform(VectorOps.quantize8(col("embedding")), _.cast("string")))).as("q_md5"),
        round(VectorOps.quantize8Scale(col("embedding")), 6).as("scale"))
      .orderBy("vec_id")
  }(
    // emb2: floor-based quantization is deterministic double arithmetic —
    // identical code vectors in both engines; zero vectors → all zeros.
    """WITH a AS (SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
      |  FROM embeddings)
      |SELECT vec_id,
      |  md5(array_to_string(CASE WHEN amax = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(embedding, x -> CAST(greatest(least(
      |      floor(CAST(x AS DOUBLE) / amax * CAST(127.0 AS DOUBLE)), 127.0), -127.0) AS BIGINT)) END, ',')) AS q_md5,
      |  round(amax / CAST(127.0 AS DOUBLE), 6) AS scale
      |FROM a ORDER BY vec_id""".stripMargin)

  /** leak1 — train/test split-leakage census: fuzzy-duplicate pairs that
    * CROSS the deterministic hash-split boundary (a near-dup of a test
    * doc sitting in train is eval contamination the e11 decontamination
    * can't see — it checks against an external eval set, not the split
    * itself). Composes the proven LSH+verify pair generation with the
    * md5 split; output is the per-(split,split) leak census.
    */
  query("leak1_split_leakage") { (s, d) =>
    val docs = Tables.documents(s, d)
    val pairs = Dedup.fuzzyDupPairs(docs, threshold = 0.5, numHashes = 8, rowsPerBand = 2)
    val splits = docs.select(col("doc_id"), Curation.hashSplit(docs, "doc_id").as("split"))
    pairs
      .join(splits.select(col("doc_id").as("a"), col("split").as("split_a")), Seq("a"))
      .join(splits.select(col("doc_id").as("b"), col("split").as("split_b")), Seq("b"))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }(
    // leak1: the e12 pair machinery (bands → candidates → jaccard ≥ 0.5)
    // plus the samp1 split assignment; pairs are a<b so each crossing
    // pair is counted once under its own (split_a, split_b) orientation.
    s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |ss AS (SELECT doc_id, list_distinct(shingles) AS sh2 FROM s),
       |pairs AS (SELECT a, b FROM (
       |  SELECT a, b, len(list_filter(xa.sh2, t -> list_contains(xb.sh2, t))) AS inter,
       |    len(xa.sh2) AS la, len(xb.sh2) AS lb
       |  FROM cand JOIN ss xa ON cand.a = xa.doc_id JOIN ss xb ON cand.b = xb.doc_id) z
       |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5),
       |sp AS (SELECT doc_id,
       |  CASE WHEN ${sqlHexVal("md5(CAST(doc_id AS VARCHAR))", 4)} % 100 < 80 THEN 'train'
       |       WHEN ${sqlHexVal("md5(CAST(doc_id AS VARCHAR))", 4)} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split FROM documents)
       |SELECT sa.split AS split_a, sb.split AS split_b, count(*) AS n_pairs
       |FROM pairs JOIN sp sa ON pairs.a = sa.doc_id JOIN sp sb ON pairs.b = sb.doc_id
       |WHERE sa.split <> sb.split
       |GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin)

  /** emb3 — per-dimension embedding stats (the normalization table):
    * fixed-point means, exact min/max, one dimension-keyed agg.
    */
  query("emb3_dim_stats") { (s, d) =>
    operators.Similarity.dimStats(Tables.embeddings(s, d))
      .orderBy("dim")
  }(
    // emb3: float→double cast is exact, ·2^20 is a power-of-two multiply
    // (exact), floor to BIGINT, integer sums — partition-order-proof.
    """WITH d AS (SELECT i, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) t)
      |SELECT CAST(i - 1 AS INTEGER) AS dim, count(*) AS n,
      |  min(v) AS vmin, max(v) AS vmax,
      |  CAST(sum(CAST(floor(v * 1048576) AS BIGINT)) AS BIGINT) AS sum_fp
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)

  /** RR1 — RETRIEVAL EVALUATION metrics (the eval family the registry
    * lacked: every training pipeline scores its retriever): a
    * deterministic tf ranker (rank by tf(t1) DESC, doc_id ASC) judged
    * against a binary relevance rule (doc contains t2) over five probe
    * query pairs — per query the reciprocal rank of the first relevant
    * hit in the top 5 (FIXED-POINT ⌊2²⁰/rank⌋ — identical doubles both
    * engines, the j31 no-boundary-risk shape), precision@5 hits, and
    * the total relevant count. All integers and exact rationals; log-
    * free by design (NDCG's log2 gains are not cross-engine replayable —
    * reciprocal-rank metrics are).
    */
  query("rr1_retrieval_eval") { (s, d) =>
    val docs = Tables.documents(s, d)
    val probes = Seq((1, "join", "hash"), (2, "scan", "filter"), (3, "row", "batch"),
      (4, "merge", "column"), (5, "order", "small"))
    import s.implicits._
    val pdf = probes.toDF("qid", "t1", "t2")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
    val tf = toks.crossJoin(broadcast(pdf))
      .select(col("qid"), col("doc_id"),
        size(filter(col("__t"), x => x === col("t1"))).as("tf1"),
        size(filter(col("__t"), x => x === col("t2"))).as("tf2"))
    val w = Window.partitionBy("qid").orderBy(col("tf1").desc, col("doc_id").asc)
    val top5 = tf.filter(col("tf1") > 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    val firstRel = top5.filter(col("tf2") > 0)
      .groupBy("qid").agg(min(col("rank")).as("frank"))
    val nRel = tf.filter(col("tf2") > 0).groupBy("qid").agg(count(lit(1)).as("n_rel"))
    top5.groupBy("qid")
      .agg(sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("p5_hits"))
      .join(firstRel, Seq("qid"), "left")
      .join(nRel, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(floor(lit(1048576.0) / col("frank").cast("double")).cast("long"),
          lit(0L)).as("rr_fp"),
        col("p5_hits"), coalesce(col("n_rel"), lit(0L)).as("n_rel"))
      .orderBy("qid")
  }(
    // rr1: the tf ranker + binary relevance replayed relationally; the
    // reciprocal rank fixed-point floors identical doubles.
    """WITH probes(qid, t1, t2) AS (VALUES
      |  (1,'join','hash'),(2,'scan','filter'),(3,'row','batch'),
      |  (4,'merge','column'),(5,'order','small')),
      |tf AS MATERIALIZED (SELECT p.qid, d.doc_id,
      |  length(list_filter(string_split(d.text, ' '), x -> x = p.t1)) AS tf1,
      |  length(list_filter(string_split(d.text, ' '), x -> x = p.t2)) AS tf2
      |  FROM documents d CROSS JOIN probes p WHERE d.text IS NOT NULL),
      |top5 AS MATERIALIZED (SELECT * FROM (
      |  SELECT qid, doc_id, tf2,
      |    row_number() OVER (PARTITION BY qid ORDER BY tf1 DESC, doc_id) AS rank
      |  FROM tf WHERE tf1 > 0) WHERE rank <= 5),
      |fr AS (SELECT qid, min(rank) AS frank FROM top5 WHERE tf2 > 0 GROUP BY qid),
      |nr AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM tf WHERE tf2 > 0 GROUP BY qid),
      |p5 AS (SELECT qid, CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p5_hits
      |  FROM top5 GROUP BY qid)
      |SELECT p5.qid,
      |  coalesce(CAST(floor(1048576.0 / CAST(fr.frank AS DOUBLE)) AS BIGINT), 0) AS rr_fp,
      |  p5.p5_hits, coalesce(nr.n_rel, 0) AS n_rel
      |FROM p5 LEFT JOIN fr USING (qid) LEFT JOIN nr USING (qid) ORDER BY p5.qid""".stripMargin)

  /** qc1 — frozen hashed-feature linear classifier inference over the
    * corpus (the "quality classifier" curation pass): per-token integer
    * weights from hash space, per-doc margin = zero-shuffle integer fold,
    * keep = margin >= 0 (sigmoid is monotone). Aggregated census per
    * (source, predicted_keep) so the output is corpus-shaped, with the
    * exact integer margin sum as the hash anchor.
    */
  query("qc1_linear_classifier") { (s, d) =>
    operators.Curation.hashedLinearScore(Tables.documents(s, d))
      .groupBy("source", "predicted_keep")
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("sum_margin"))
      .orderBy("source", "predicted_keep")
  }(
    // qc1: the same hash-space weights (md5-derived, mod-centered) summed
    // per doc — integer margins, so the census is hash-exact.
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |w AS (SELECT doc_id, source,
      |    list_transform(toks, tk -> ${sqlHexVal("md5('7|' || tk)", 6)} % 2001 - 1000) AS ws
      |  FROM t),
      |m AS (SELECT doc_id, source, CAST(coalesce(list_sum(ws), 0) AS BIGINT) AS margin FROM w)
      |SELECT source, margin >= 0 AS predicted_keep, count(*) AS n_docs,
      |  CAST(sum(margin) AS BIGINT) AS sum_margin
      |FROM m GROUP BY source, predicted_keep ORDER BY source, predicted_keep""".stripMargin)

  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** DuckDB twin of VectorOps.l2Distance: in-order left fold from 0.0 of
    * squared component deltas (bit-identical to Spark's `aggregate`).
    */
  private def sqlL2(a: String, b: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series(1, 64), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
      s"(x, y) -> x + y))"

  /** DuckDB twin of VectorOps.l2DistanceSq over ONE PQ subspace: the same
    * in-order fold, over absolute dims m·8+1 .. m·8+8 of the full arrays
    * (Spark folds the slices — identical values in identical order).
    */
  private def sqlSubL2Sq(a: String, b: String, m: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(generate_series($m*8+1, $m*8+8), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
      s"(x, y) -> x + y)"
}
