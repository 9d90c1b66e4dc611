package graft
package queries

import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketches: KMV, Count-Min, HyperLogLog and quantile sketches beside their
  * exact answers. */
object SketchQueries extends Family {
  import Helpers._

  /** kmv1 — KMV distinct-count sketch beside the exact count: per return
    * flag, the k=64 sketch estimate of distinct part keys. Deterministic
    * (md5-hashed, RNG-free), so the oracle recomputes the SAME estimate —
    * the sketch math itself is hash-gated, not just "close enough".
    */
  query("kmv1_distinct_sketch") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val sk = operators.Sketches.kmvDistinct(li, col("l_partkey"), Seq("l_returnflag"), k = 64)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
    sk.join(exact, Seq("l_returnflag")).orderBy("l_returnflag")
  }(
    // kmv1: the oracle recomputes the sketch itself (distinct 60-bit md5
    // prefixes, k smallest per group) — deterministic, so the estimate is
    // hash-gated. 63·2^60 is exactly representable as a double (6-bit
    // mantissa), so the CASE arithmetic is one correctly-rounded divide.
    s"""WITH h AS (SELECT DISTINCT l_returnflag, ${sqlHexVal("m", 15)} AS h
       |  FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS m FROM lineitem)),
       |r AS (SELECT l_returnflag, h, row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM h),
       |s AS (SELECT l_returnflag, count(*) AS n_min, max(h) AS kth_hash FROM r WHERE rn <= 64 GROUP BY l_returnflag),
       |x AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct FROM lineitem GROUP BY l_returnflag)
       |SELECT s.l_returnflag, n_min, kth_hash,
       |  CASE WHEN n_min < 64 THEN CAST(n_min AS DOUBLE)
       |    ELSE round(CAST(63.0 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth_hash AS DOUBLE), 6) END AS est_distinct,
       |  exact_distinct
       |FROM s JOIN x USING (l_returnflag) ORDER BY l_returnflag""".stripMargin)

  /** cms1 — COUNT-MIN frequency sketch over the 3-gram SHINGLE stream
    * (16,657 distinct at sf0.01 — the token vocabulary is only 31 words,
    * which would never collide in the table): the depth=4 x width=512
    * counter table built as one bounded aggregate, point-queried for the
    * 30 lexicographically-smallest distinct shingles, beside their exact
    * counts. md5-seeded and integer-only, so the oracle recomputes the
    * sketch AND the estimates bit-for-bit (the kmv1 doctrine); est >=
    * exact always, and 16k keys over 512 buckets guarantee real
    * collisions, so the min-over-rows path is exercised, not vacuous.
    */
  query("cms1_countmin_freq") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("tok"))
    val sketch = operators.Sketches.countMin(toks, col("tok"), depth = 4, width = 512)
    val probes = toks.distinct().orderBy("tok").limit(30)
    val est = operators.Sketches.countMinEstimate(sketch, probes, col("tok"),
      depth = 4, width = 512)
    val exact = toks.groupBy(col("tok").as("key")).agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("key")).orderBy("key")
  }(
    // cms1: the sketch (seeded md5 cells, 4x512 counters), the probe
    // estimates, and the exact counts all recomputed — integer-only, so
    // the hash gates the count-min math itself.
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |sgl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
       |  ELSE list_transform(generate_series(1, len(toks) - 2),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS shingles FROM t),
       |toks AS (SELECT unnest(shingles) AS tok FROM sgl),
       |hashed AS (SELECT j, tok, ${sqlHexVal("m", 6)} % 512 AS bucket FROM (
       |  SELECT j, tok, md5(CAST(j AS VARCHAR) || '|' || tok) AS m
       |  FROM toks, (VALUES (0),(1),(2),(3)) AS s(j))),
       |cells AS (SELECT j, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT tok FROM toks ORDER BY tok LIMIT 30),
       |pc AS (SELECT tok, j, ${sqlHexVal("m", 6)} % 512 AS bucket FROM (
       |  SELECT tok, j, md5(CAST(j AS VARCHAR) || '|' || tok) AS m
       |  FROM probes, (VALUES (0),(1),(2),(3)) AS s(j))),
       |est AS (SELECT pc.tok AS key, min(coalesce(cnt, 0)) AS est
       |  FROM pc LEFT JOIN cells ON pc.j = cells.j AND pc.bucket = cells.bucket GROUP BY 1),
       |exact AS (SELECT tok AS key, count(*) AS exact FROM toks GROUP BY 1)
       |SELECT key, est, exact FROM est JOIN exact USING (key) ORDER BY key""".stripMargin)

  /** cms2 — CMS HEAVY HITTERS end to end (the sketch's canonical use):
    * users with >= 80 events, found by sketch-prefilter (no false
    * negatives, since est >= exact) then exact verify of the candidates
    * only. The e13 doctrine: the oracle is the plain GROUP BY/HAVING —
    * the sketch must be semantically invisible. Scale contract: the
    * exact pass touches ONLY candidate keys (broadcast semi-join), never
    * a full-key shuffle.
    */
  query("cms2_heavy_hitters") { (s, d) =>
    operators.Sketches.heavyHitters(
        Tables.events(s, d), col("user_id"), minCount = 80L,
        depth = 4, width = 256)
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id")
  }(
    // cms2: the e13 doctrine — the sketch prefilter must be semantically
    // invisible; the oracle is the plain exact census.
    """SELECT user_id, count(*) AS n FROM events
      |GROUP BY user_id HAVING count(*) >= 80
      |ORDER BY user_id""".stripMargin)

  /** hll1 — HyperLogLog distinct sketch beside the exact count (and
    * beside kmv1, same grouping, for a direct sketch-vs-sketch read):
    * md5-derived registers (deterministic, unlike approx_count_distinct's
    * engine-private xxhash state), folded to the EXACT fixed-point
    * harmonic sum and the raw estimate — one double divide by an exact
    * integer, engine-identical. The ln-based small-range correction is
    * spec-tested (SketchSpec accuracy harness), not oracled.
    */
  query("hll1_hll_distinct") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val regs = operators.Sketches.hllRegisters(li, col("l_partkey"), Seq("l_returnflag"), p = 8)
    val est = operators.Sketches.hllEstimate(regs, Seq("l_returnflag"), p = 8)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
    est.join(exact, Seq("l_returnflag"))
      .select("l_returnflag", "n_zero", "raw_sum", "est_raw", "exact_distinct")
      .orderBy("l_returnflag")
  }(
    // hll1: registers from the same 60-bit md5 value kmv1 proves, rho via
    // the minimal binary string (both engines' bin() strips leading
    // zeros), the fold exact in BIGINT, and ONE double divide by the
    // Scala-folded literal scale — engine-identical end to end.
    s"""WITH h AS (SELECT l_returnflag, ${sqlHexVal("m", 15)} AS h
       |  FROM (SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS m FROM lineitem)),
       |r AS (SELECT l_returnflag, h // 4503599627370496 AS register, h % 4503599627370496 AS suffix FROM h),
       |rho AS (SELECT l_returnflag, register,
       |  CASE WHEN suffix = 0 THEN 53 ELSE 53 - length(bin(suffix)) END AS rho FROM r),
       |regs AS (SELECT l_returnflag, register, max(rho) AS max_rho FROM rho GROUP BY 1, 2),
       |folded AS (SELECT l_returnflag, 256 - count(*) AS n_zero,
       |  CAST(sum(CAST(1 AS BIGINT) << CAST(54 - max_rho AS INTEGER))
       |    + (256 - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT) AS raw_sum
       |  FROM regs GROUP BY 1),
       |x AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct FROM lineitem GROUP BY 1)
       |SELECT folded.l_returnflag, n_zero, raw_sum,
       |  round(CAST(${operators.Sketches.hllScale(8)} AS DOUBLE) / CAST(raw_sum AS DOUBLE), 6) AS est_raw,
       |  exact_distinct
       |FROM folded JOIN x USING (l_returnflag) ORDER BY l_returnflag""".stripMargin)

  /** qs2/qs4's shared oracle: the GLOBAL single-pass bottom-k state —
    * both the two-way merge (qs2) and the per-flag hierarchical rollup
    * (qs4) must reproduce it row for row.
    */
  private def sqlQuantileGlobalState: String =
    s"""WITH h AS (SELECT ${sqlHexVal("m", 15)} AS h, v FROM (
       |  SELECT md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
       |      || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)) AS m,
       |    l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL))
       |SELECT h, v FROM h ORDER BY h LIMIT 256""".stripMargin

  /** kmv2 — SET-OPERATION cardinalities from KMV sketches (the theta
    * construction): customers active in 1996 vs 1997, intersection and
    * union distinct counts estimated from two k=64 sketches, beside the
    * exact intersection. Both years hold ~1k distinct customers at
    * sf0.01 — well over capacity, so the θ-sampling path is exercised,
    * not the exact-below-capacity shortcut. md5-deterministic end to
    * end; the oracle replays sketches, θ, the common count, and both
    * estimates (one divide each, the kmv1 arithmetic shape).
    */
  /** One-scan (1996, 1997) customer year-membership table shared by the
    * kmv set-operation queries (kmv2/kmv3/kmv4 — r17, guide §2.4): one
    * orders scan + one groupBy(custkey) with per-year max-flags replaces
    * the 4-6 separate filter→distinct passes those queries composed.
    * Every consumer (each sketch side, every exact set-op count) derives
    * from THIS aggregate, and identical aggregate subtrees share one
    * scan + shuffle via ReusedExchange. Values are unchanged by
    * construction: `__a = 1` iff the customer has a 1996 order — exactly
    * membership in the old `filter(year=1996).select(custkey).distinct()`
    * side — so the sketches see the same distinct key sets and the exact
    * counts are the same integers (union by inclusion-exclusion).
    */
  private def kmvYearFlags(o: org.apache.spark.sql.DataFrame) = {
    val y = year(col("o_orderdate"))
    o.filter(y === 1996 || y === 1997)
      .groupBy(col("o_custkey"))
      .agg(max(when(y === 1996, 1).otherwise(0)).as("__a"),
        max(when(y === 1997, 1).otherwise(0)).as("__b"))
  }

  query("kmv2_set_sketch") { (s, d) =>
    val flags = kmvYearFlags(Tables.orders(s, d))
    val a = flags.filter(col("__a") === 1).select(col("o_custkey"))
    val b = flags.filter(col("__b") === 1).select(col("o_custkey"))
    val sk = operators.Sketches.kmvSetSketch(a, col("o_custkey"), b, col("o_custkey"), k = 64)
    val exact = flags.agg(
      count(when(col("__a") === 1 && col("__b") === 1, 1)).as("exact_intersect"))
    sk.crossJoin(exact)
  }(
    // kmv2: sketches, theta, common count, and both estimates replayed —
    // the kmv1 machinery extended to the theta set construction.
    s"""WITH ha AS (SELECT DISTINCT ${sqlHexVal("m", 15)} AS h FROM (
       |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders WHERE year(o_orderdate) = 1996)),
       |hb AS (SELECT DISTINCT ${sqlHexVal("m", 15)} AS h FROM (
       |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders WHERE year(o_orderdate) = 1997)),
       |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha) WHERE rn <= 64),
       |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb) WHERE rn <= 64),
       |sa AS (SELECT count(*) AS na, max(h) AS kha FROM ka),
       |sb AS (SELECT count(*) AS nb, max(h) AS khb FROM kb),
       |th AS (SELECT least(CASE WHEN na < 64 THEN 1152921504606846976 ELSE kha END,
       |                    CASE WHEN nb < 64 THEN 1152921504606846976 ELSE khb END) AS theta FROM sa, sb),
       |cm AS (SELECT count(*) AS n_common FROM ka JOIN kb USING (h), th WHERE h < theta),
       |ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM
       |  (SELECT h FROM ka UNION SELECT h FROM kb)) WHERE rn <= 64),
       |su AS (SELECT count(*) AS nu, max(h) AS kthu FROM ku),
       |x AS (SELECT count(*) AS exact_intersect FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
       |  INTERSECT
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997))
       |SELECT n_common, theta,
       |  round(CAST(n_common AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |    / CAST(theta AS DOUBLE), 6) AS est_intersect,
       |  CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
       |    ELSE round(CAST(63.0 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |      / CAST(kthu AS DOUBLE), 6) END AS est_union,
       |  exact_intersect
       |FROM cm, th, su, x""".stripMargin)

  /** KMV4 — JACCARD SIMILARITY from theta sketches (the similarity-join
    * planning estimate: |A∩B|/|A∪B| without touching either set): kmv2's
    * intersect and union estimators composed into the quotient, beside
    * the EXACT Jaccard — both quotients of already-hash-gated values, so
    * the estimate itself hash-gates (the kmv1 doctrine; round-6 of a
    * quotient of identical operands).
    */
  query("kmv4_jaccard") { (s, d) =>
    val flags = kmvYearFlags(Tables.orders(s, d))
    val a = flags.filter(col("__a") === 1).select(col("o_custkey"))
    val b = flags.filter(col("__b") === 1).select(col("o_custkey"))
    val sk = operators.Sketches.kmvSetSketch(a, col("o_custkey"), b, col("o_custkey"), k = 64)
    val inter = count(when(col("__a") === 1 && col("__b") === 1, 1))
    // |A∪B| = |A| + |B| − |A∩B| — exact integers, same value as the old
    // fourth union-distinct pass
    val exact = flags.agg(
      inter.as("exact_intersect"),
      (count(when(col("__a") === 1, 1)) + count(when(col("__b") === 1, 1))
        - inter).as("exact_union"))
    sk.crossJoin(exact)
      .select(
        round(col("est_intersect") / col("est_union"), 6).as("jaccard_est"),
        round(col("exact_intersect").cast("double")
          / col("exact_union").cast("double"), 6).as("jaccard_exact"),
        col("exact_intersect"), col("exact_union"))
  }(
    // kmv4: kmv2's intersect/union estimators composed into the Jaccard
    // quotient, beside the exact one — quotients of hash-gated values.
    s"""WITH ha AS (SELECT DISTINCT ${sqlHexVal("m", 15)} AS h FROM (
       |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders WHERE year(o_orderdate) = 1996)),
       |hb AS (SELECT DISTINCT ${sqlHexVal("m", 15)} AS h FROM (
       |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders WHERE year(o_orderdate) = 1997)),
       |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha) WHERE rn <= 64),
       |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb) WHERE rn <= 64),
       |sa AS (SELECT count(*) AS na, max(h) AS kha FROM ka),
       |sb AS (SELECT count(*) AS nb, max(h) AS khb FROM kb),
       |th AS (SELECT least(CASE WHEN na < 64 THEN 1152921504606846976 ELSE kha END,
       |                    CASE WHEN nb < 64 THEN 1152921504606846976 ELSE khb END) AS theta FROM sa, sb),
       |cm AS (SELECT count(*) AS n_common FROM ka JOIN kb USING (h), th WHERE h < theta),
       |ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM
       |  (SELECT h FROM ka UNION SELECT h FROM kb)) WHERE rn <= 64),
       |su AS (SELECT count(*) AS nu, max(h) AS kthu FROM ku),
       |est AS (SELECT
       |  round(CAST(n_common AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |    / CAST(theta AS DOUBLE), 6) AS est_intersect,
       |  CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
       |    ELSE round(CAST(63.0 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |      / CAST(kthu AS DOUBLE), 6) END AS est_union
       |  FROM cm, th, su),
       |x AS (SELECT count(*) AS exact_intersect FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
       |  INTERSECT
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)),
       |x2 AS (SELECT count(*) AS exact_union FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) IN (1996, 1997)))
       |SELECT round(est_intersect / est_union, 6) AS jaccard_est,
       |  round(CAST(exact_intersect AS DOUBLE) / CAST(exact_union AS DOUBLE), 6) AS jaccard_exact,
       |  exact_intersect, exact_union
       |FROM est, x, x2""".stripMargin)

  /** cms3 — JOIN-SIZE estimation from sketches (the optimizer-
    * cardinality use of count-min): the self-join size of lineitem on
    * l_partkey — the F2 second moment Σ_k c_k² — estimated as the
    * min-over-rows inner product of the sketch with itself, beside the
    * exact moment. Never under; within εN² per row. All-integer, so
    * the estimate itself hash-gates (the kmv1 doctrine).
    */
  query("cms3_join_size") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val est = operators.Sketches.countMinSelfJoinSize(
      li, col("l_partkey"), depth = 4, width = 512)
    val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c") * col("__c")).as("exact_f2"))
    est.crossJoin(exact)
  }(
    // cms3: the sketch self-inner-product and the exact F2 moment both
    // replayed — integer-only, so the estimate itself is hash-gated.
    s"""WITH hashed AS (SELECT j, ${sqlHexVal("m", 6)} % 512 AS bucket FROM (
       |  SELECT j, md5(CAST(j AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)) AS m
       |  FROM lineitem, (VALUES (0),(1),(2),(3)) AS s(j))),
       |cells AS (SELECT j, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2),
       |ip AS (SELECT j, CAST(sum(cnt * cnt) AS BIGINT) AS __ip FROM cells GROUP BY j),
       |x AS (SELECT CAST(sum(__c * __c) AS BIGINT) AS exact_f2 FROM (
       |  SELECT count(*) AS __c FROM lineitem GROUP BY l_partkey))
       |SELECT (SELECT min(__ip) FROM ip) AS est, exact_f2 FROM x""".stripMargin)

  /** qs1 — mergeable QUANTILE sketch estimates: the bottom-k uniform
    * sample over l_extendedprice (row identity = the unique
    * (orderkey, linenumber, partkey, suppkey) 4-tuple string), type-1 sample quantiles at
    * five probe points beside the sample size. md5-deterministic, so the
    * estimates themselves hash-gate (the kmv1 doctrine); SketchSpec
    * carries the rank-error bound the estimate honors.
    */
  query("qs1_quantile_sketch") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val state = operators.Sketches.quantileSketch(li, col("l_extendedprice"),
      concat_ws("-", col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")), Nil, k = 256)
    operators.Sketches.quantileEstimate(state, Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy("q")
  }(
    // qs1: the bottom-k quantile sketch replayed — md5 row-identity
    // hashes, ORDER BY h LIMIT k as the bottom-k, type-1 sample
    // quantiles at rank max(1, ceil(q*m)). All chains integer or one
    // exact double multiply, so the estimates hash-gate.
    s"""WITH h AS (SELECT ${sqlHexVal("m", 15)} AS h, v FROM (
       |  SELECT md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
       |      || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)) AS m,
       |    l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL)),
       |st AS (SELECT h, v FROM h ORDER BY h LIMIT 256),
       |r AS (SELECT v, h, row_number() OVER (ORDER BY v, h) AS rn,
       |  count(*) OVER () AS m FROM st),
       |q AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
       |SELECT q, v AS est, m FROM r JOIN q ON rn = greatest(1, ceil(q * CAST(m AS DOUBLE)))
       |ORDER BY q""".stripMargin)

  /** qs2 — the quantile sketch MERGE LAW as a query (the hll2 shape):
    * lineitem split by order-key parity, each half sketched
    * independently, the states unioned and re-capped to the k smallest
    * hashes. The oracle computes the SINGLE-PASS sketch of the whole
    * table — recap(state(A) ∪ state(B)) must equal state(A ∪ B) row for
    * row, hash for hash, which is the property that lets daily/store
    * partial states combine at 100 TB without re-scanning.
    */
  query("qs2_quantile_merge") { (s, d) =>
    val li = Tables.lineitem(s, d)
    def sk(part: DataFrame) = operators.Sketches.quantileSketch(part,
      col("l_extendedprice"), concat_ws("-", col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")), Nil, k = 256)
    val merged = sk(li.filter(col("l_orderkey") % 2 === 0))
      .unionAll(sk(li.filter(col("l_orderkey") % 2 =!= 0)))
      .withColumn("__g", lit(1))
    graft.plans.TopK.perKey(merged, Seq(col("__g")),
        Seq(col("h").asc, col("v").asc), 256)
      .select("h", "v")
      .orderBy("h")
  }(
    // qs2: the merge law's oracle is the SINGLE-PASS bottom-k of the
    // whole table — recap(state(even) ∪ state(odd)) must equal it row
    // for row (the hll2 doctrine for quantile state).
    sqlQuantileGlobalState)

  /** qs3 — GROUPED quantile sketches (the per-store/per-day shape): one
    * bottom-k state per l_returnflag, estimates at two probe points —
    * the exchange still carries at most k rows per (flag, partition).
    */
  query("qs3_grouped_quantiles") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val state = operators.Sketches.quantileSketch(li, col("l_extendedprice"),
      concat_ws("-", col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
      Seq("l_returnflag"), k = 128)
    operators.Sketches.quantileEstimate(state, Seq(0.5, 0.9), Seq("l_returnflag"))
      .orderBy("l_returnflag", "q")
  }(
    // qs3: the grouped bottom-k replay -- per-flag rank caps and type-1
    // sample quantiles, same chains as qs1 with a PARTITION BY.
    s"""WITH h AS (SELECT l_returnflag, ${sqlHexVal("m", 15)} AS h, v FROM (
       |  SELECT l_returnflag,
       |    md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
       |      || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)) AS m,
       |    l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL)),
       |st AS (SELECT l_returnflag, h, v FROM (
       |  SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM h)
       |  WHERE rn <= 128),
       |r AS (SELECT l_returnflag, v, h,
       |  row_number() OVER (PARTITION BY l_returnflag ORDER BY v, h) AS rn,
       |  count(*) OVER (PARTITION BY l_returnflag) AS m FROM st),
       |q AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
       |SELECT l_returnflag, q, v AS est, m FROM r
       |JOIN q ON rn = greatest(1, ceil(q * CAST(m AS DOUBLE)))
       |ORDER BY l_returnflag, q""".stripMargin)

  /** qs4 — HIERARCHICAL quantile rollup (the daily→monthly shape): one
    * bottom-k state per l_returnflag, their union re-capped to k — which
    * must equal the GLOBAL single-pass state, because any row in the
    * global bottom-k has ≤ k−1 rows below it globally and therefore ≤
    * k−1 within its own flag. This is what makes per-partition/per-day
    * quantile states roll up a tree without re-scanning leaves.
    */
  query("qs4_quantile_rollup") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val perFlag = operators.Sketches.quantileSketch(li, col("l_extendedprice"),
      concat_ws("-", col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
      Seq("l_returnflag"), k = 256)
    graft.plans.TopK.perKey(
        perFlag.select(lit(1).as("__g"), col("h"), col("v")),
        Seq(col("__g")), Seq(col("h").asc, col("v").asc), 256)
      .select("h", "v")
      .orderBy("h")
  }(
    // qs4: the hierarchical rollup must ALSO equal the global
    // single-pass state -- same oracle as qs2 by the rollup theorem.
    sqlQuantileGlobalState)

  /** cms4 — COUNT-MIN MERGE law as a query (counters ADD — the fourth
    * and last mergeable summary to get its law hash-gated, beside hll2,
    * qs2/qs4, and the KMV re-cap): lineitem split by order-key parity,
    * each half sketched, cells summed — must equal the single-pass
    * sketch of the whole table cell for cell.
    */
  query("cms4_cms_merge") { (s, d) =>
    val li = Tables.lineitem(s, d)
    // r16 (guide §2.4: remove shuffles/passes outright): both half-
    // sketches from ONE lineitem scan, grouped by the half key, instead
    // of two full filter+explode+aggregate passes — each group's counter
    // table is value-identical to countMin over that half alone (counts
    // partition by the half key), and the merge (sum per cell across the
    // two counter tables) is unchanged, so the merge law is still the
    // thing computed. Plan: 2 scans + 3 exchanges -> 1 scan + 2 exchanges.
    // r17: project to the two used columns and `spread` the scan — the
    // 2.4M seededHash calls are the query's real cost, and a single-file
    // input scans as ONE task (the r16 one-scan form halved the local
    // parallelism the two-scan form accidentally had); spread is
    // metadata-gated, so a many-file 100 TB input passes through with no
    // extra shuffle, and counts are partitioning-independent.
    operators.Sketches.countMin(
        operators.Partitioning.spread(li.select(col("l_orderkey"), col("l_partkey")))
          .withColumn("__half", col("l_orderkey") % 2 === 0),
        col("l_partkey"), depth = 4, width = 512, groupCols = Seq("__half"))
      .groupBy("row", "bucket")
      .agg(sum(col("cnt")).as("cnt"))
      .orderBy("row", "bucket")
  }(
    // cms4: the merge law's oracle is the single-pass sketch of the
    // whole table -- summed half-sketches must equal it cell for cell.
    s"""WITH hashed AS (SELECT j, ${sqlHexVal("m", 6)} % 512 AS bucket FROM (
       |  SELECT j, md5(CAST(j AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)) AS m
       |  FROM lineitem, (VALUES (0),(1),(2),(3)) AS s(j)))
       |SELECT j AS row, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2
       |ORDER BY row, bucket""".stripMargin)

  /** kmv3 — set-DIFFERENCE cardinality from sketches (the last canonical
    * set operation beside kmv2's intersect/union): |A∖B| estimated as
    * est_distinct(A) − est_intersect(A,B) over the same md5 KMV base —
    * 1996-only customers vs the 1996/1997 overlap, beside the exact
    * count. Pure composition of oracled estimators, so the derived
    * estimate hash-gates too.
    */
  query("kmv3_set_difference") { (s, d) =>
    val flags = kmvYearFlags(Tables.orders(s, d))
    val a = flags.filter(col("__a") === 1).select(col("o_custkey"))
    val b = flags.filter(col("__b") === 1).select(col("o_custkey"))
    val estA = operators.Sketches.kmvDistinct(a, col("o_custkey"), Nil, k = 64)
      .select(col("est_distinct").as("est_a"))
    val setOps = operators.Sketches.kmvSetSketch(
      a, col("o_custkey"), b, col("o_custkey"), k = 64)
    val exact = flags.agg(
      count(when(col("__a") === 1 && col("__b") === 0, 1)).as("exact_diff"))
    setOps.crossJoin(broadcast(estA)).crossJoin(broadcast(exact))
      .select(col("est_a"), col("est_intersect"),
        round(col("est_a") - col("est_intersect"), 6).as("est_diff"),
        col("exact_diff"))
  }(
    // kmv3: kmv1's single-set estimate + kmv2's theta intersect, composed
    // into the difference estimate, beside the exact anti-join count.
    s"""WITH ha AS (SELECT DISTINCT ${sqlHexVal("m", 15)} AS h FROM (
       |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders WHERE year(o_orderdate) = 1996)),
       |hb AS (SELECT DISTINCT ${sqlHexVal("m", 15)} AS h FROM (
       |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS m FROM orders WHERE year(o_orderdate) = 1997)),
       |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha) WHERE rn <= 64),
       |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb) WHERE rn <= 64),
       |sa AS (SELECT count(*) AS na, max(h) AS kha FROM ka),
       |sb AS (SELECT count(*) AS nb, max(h) AS khb FROM kb),
       |th AS (SELECT least(CASE WHEN na < 64 THEN 1152921504606846976 ELSE kha END,
       |                    CASE WHEN nb < 64 THEN 1152921504606846976 ELSE khb END) AS theta FROM sa, sb),
       |cm AS (SELECT count(*) AS n_common FROM ka JOIN kb USING (h), th WHERE h < theta),
       |ea AS (SELECT CASE WHEN na < 64 THEN CAST(na AS DOUBLE)
       |  ELSE round(CAST(63.0 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |    / CAST(kha AS DOUBLE), 6) END AS est_a FROM sa),
       |ei AS (SELECT round(CAST(n_common AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
       |  / CAST(theta AS DOUBLE), 6) AS est_intersect FROM cm, th),
       |x AS (SELECT count(*) AS exact_diff FROM (
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
       |  EXCEPT
       |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997))
       |SELECT est_a, est_intersect, round(est_a - est_intersect, 6) AS est_diff, exact_diff
       |FROM ea, ei, x""".stripMargin)

  /** hll2 — HLL MERGE soundness as a query (the daily-sketch shape that
    * makes the sketch worth having at 100 TB): lineitem split into two
    * halves by order-key parity, each sketched independently, the
    * register tables merged by register-wise MAX, then folded. The
    * oracle computes the SINGLE-PASS sketch of the union — merge(A,B)
    * must equal sketch(A ∪ B) exactly, register for register, so the
    * hash gates the merge law itself, not an approximation of it.
    */
  query("hll2_hll_merge") { (s, d) =>
    val li = Tables.lineitem(s, d)
    // r16 (guide §2.4): both halves' register tables from ONE scan via
    // hllRegisters' own groupCols (per-group MAX partitions by the half
    // key, so each group's rows are value-identical to hllRegisters over
    // that half alone); the register-wise MAX merge — the law under test
    // — is unchanged. 2 scans + 2 exchanges -> 1 scan + 1 exchange.
    val merged = operators.Sketches.hllRegisters(
        li.withColumn("__half", col("l_orderkey") % 2 === 0),
        col("l_partkey"), Seq("__half"), p = 8)
      .groupBy("register").agg(max(col("max_rho")).as("max_rho"))
    operators.Sketches.hllEstimate(merged, Nil, p = 8)
      .select("n_zero", "raw_sum", "est_raw")
  }(
    // hll2: the oracle is the SINGLE-PASS sketch of the whole table —
    // register-wise max-merge must be exactly sketch(A UNION B).
    s"""WITH h AS (SELECT ${sqlHexVal("m", 15)} AS h
       |  FROM (SELECT md5(CAST(l_partkey AS VARCHAR)) AS m FROM lineitem)),
       |r AS (SELECT h // 4503599627370496 AS register, h % 4503599627370496 AS suffix FROM h),
       |rho AS (SELECT register,
       |  CASE WHEN suffix = 0 THEN 53 ELSE 53 - length(bin(suffix)) END AS rho FROM r),
       |regs AS (SELECT register, max(rho) AS max_rho FROM rho GROUP BY 1)
       |SELECT 256 - count(*) AS n_zero,
       |  CAST(sum(CAST(1 AS BIGINT) << CAST(54 - max_rho AS INTEGER))
       |    + (256 - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT) AS raw_sum,
       |  round(CAST(${operators.Sketches.hllScale(8)} AS DOUBLE) /
       |    CAST(CAST(sum(CAST(1 AS BIGINT) << CAST(54 - max_rho AS INTEGER))
       |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 54) AS BIGINT) AS DOUBLE), 6) AS est_raw
       |FROM regs""".stripMargin)
}
