package graft
package queries

import graft.functions.TextOps
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication: exact and fuzzy dedup, MinHash/LSH/SimHash, duplicate
  * graphs and components, decontamination and fuzzy matching. */
object DedupQueries extends Family {
  import Helpers._

  query("e1_exact_dedup") { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")
  }("SELECT md5(text) AS text_key, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY md5(text) ORDER BY keep_id")

  query("e1b_fingerprint_dedup") { (s, d) =>
    Dedup.fingerprintGroups(Tables.documents(s, d)).orderBy("keep_id")
  }("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
      |min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY fp ORDER BY keep_id""".stripMargin)

  query("e2_minhash_sig") { (s, d) =>
    Dedup.minhashSignatures(Tables.documents(s, d), numHashes = 8).orderBy("doc_id")
  }(s"""$sqlShingleCte
       |SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")}
       |FROM sh ORDER BY doc_id""".stripMargin)

  /** E7 — exact shingle-Jaccard over the LSH candidate pairs (the verify
    * half of fuzzy dedup): inverted-index join formulation, so cost scales
    * with candidates, not |corpus|².
    */
  query("e7_jaccard_verify") { (s, d) =>
    Dedup.fuzzyDupPairs(Tables.documents(s, d), threshold = 0.0, numHashes = 8, rowsPerBand = 2)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .repartition(1)
      .sortWithinPartitions("a", "b")
  }(s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |ss AS (SELECT doc_id, list_distinct(shingles) AS sh FROM s)
       |SELECT a, b, round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard FROM (
       |  SELECT a, b, len(list_filter(xa.sh, t -> list_contains(xb.sh, t))) AS inter,
       |    len(xa.sh) AS la, len(xb.sh) AS lb
       |  FROM pairs JOIN ss xa ON pairs.a = xa.doc_id JOIN ss xb ON pairs.b = xb.doc_id) t
       |WHERE inter > 0 ORDER BY a, b""".stripMargin)

  /** cont1 — DIRECTIONAL containment over the LSH candidates: the
    * asymmetric subset-dup census (which side of a near-dup pair contains
    * the other) that symmetric Jaccard washes out. Threshold 0 keeps
    * every intersecting candidate so both direction scores are hashed.
    */
  query("cont1_containment") { (s, d) =>
    val docs = Tables.documents(s, d)
    Dedup.containmentVerify(docs,
        Dedup.minhashCandidatePairs(docs, numHashes = 8, rowsPerBand = 2),
        threshold = 0.0)
      .withColumn("cont_ab", round(col("cont_ab"), 6))
      .withColumn("cont_ba", round(col("cont_ba"), 6))
      .repartition(1)
      .sortWithinPartitions("a", "b")
  }(
    // cont1: e7's candidate machinery with the per-direction denominators.
    s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |ss AS (SELECT doc_id, list_distinct(shingles) AS sh FROM s)
       |SELECT a, b, round(CAST(inter AS DOUBLE) / la, 6) AS cont_ab,
       |  round(CAST(inter AS DOUBLE) / lb, 6) AS cont_ba FROM (
       |  SELECT a, b, len(list_filter(xa.sh, t -> list_contains(xb.sh, t))) AS inter,
       |    len(xa.sh) AS la, len(xb.sh) AS lb
       |  FROM pairs JOIN ss xa ON pairs.a = xa.doc_id JOIN ss xb ON pairs.b = xb.doc_id) t
       |WHERE inter > 0 ORDER BY a, b""".stripMargin)

  /** Global orderBy would range-sample and re-execute the whole LSH
    * pipeline; the pair set is tiny, so sort it in one partition instead
    * (same total order, single upstream execution). repartition(1), NOT
    * coalesce(1): coalesce folds the upstream stage to one task, a shuffle
    * boundary keeps it parallel.
    */
  query("e2b_lsh_pairs") { (s, d) =>
    Dedup.minhashCandidatePairs(Tables.documents(s, d), numHashes = 8, rowsPerBand = 2)
      .repartition(1)
      .sortWithinPartitions("a", "b")
  }(s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")})
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |ORDER BY a, b""".stripMargin)

  query("e9_rolling_fingerprint") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("roll_fp"))
      .orderBy("doc_id")
  }(s"""WITH t AS (SELECT doc_id,
       |  list_transform(list_transform(string_split(text, ' '), tk -> md5(tk)), h -> ${sqlHexVal("h", 6)}) AS hs
       |  FROM documents)
       |SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), hs), (acc, x) -> (acc * CAST(131 AS BIGINT) + x) % 1000000007) AS BIGINT) AS roll_fp
       |FROM t ORDER BY doc_id""".stripMargin)

  /** rep1 — within-document n-gram repetition metrics (Gopher-style
    * quality rules): char-weighted duplicate-bigram/-trigram fractions and
    * top-bigram coverage, via the shuffle-free sorted-run fold
    * (`TextOps.repetitionCounts`). Every stage is staged as its own
    * projection (HOF lambdas get no CSE); all counters are integers so the
    * final divisions are bit-exact vs the relational oracle.
    */
  query("rep1_ngram_repetition") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        sort_array(TextOps.shingles(col("__toks"), 2)).as("__g2"),
        sort_array(TextOps.shingles(col("__toks"), 3)).as("__g3"))
      // inline(array(fold)) materializes the counter struct through a
      // Generate: extracting dup/best/tot from a merely-ALIASED struct
      // would re-inline the fold once per field (CollapseProject treats
      // field extraction as collapsible whatever it costs); the Generate
      // is a projection barrier, so each fold runs once per row
      .select(col("doc_id"), col("__g3"),
        inline(array(TextOps.repetitionCounts(col("__g2")))))
      .select(col("doc_id"), col("__g3"),
        col("dup").as("__d2"), col("best").as("__b2"), col("tot").as("__t2"))
      .select(col("doc_id"), col("__d2"), col("__b2"), col("__t2"),
        inline(array(TextOps.repetitionCounts(col("__g3")))))
      .select(col("doc_id"),
        (col("__d2").cast("double") / col("__t2").cast("double")).as("dup2_frac"),
        (col("__b2").cast("double") / col("__t2").cast("double")).as("top2_frac"),
        (col("dup").cast("double") / col("tot").cast("double")).as("dup3_frac"))
      .orderBy("doc_id")
  }(
    // rep1: relational mirror of the sorted-run fold — unnest + GROUP BY
    // counts per gram; all counters exact integers, one final division.
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |  CASE WHEN len(toks) < 2 THEN [text] ELSE list_transform(generate_series(1, len(toks) - 1),
      |    i -> concat(toks[i], ' ', toks[i+1])) END AS g2,
      |  CASE WHEN len(toks) < 3 THEN [text] ELSE list_transform(generate_series(1, len(toks) - 2),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS g3
      |  FROM t),
      |c2 AS (SELECT doc_id, gram, count(*) AS c
      |  FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY doc_id, gram),
      |m2 AS (SELECT doc_id,
      |  sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS dup,
      |  max(c * length(gram)) AS best,
      |  sum(c * length(gram)) AS tot FROM c2 GROUP BY doc_id),
      |c3 AS (SELECT doc_id, gram, count(*) AS c
      |  FROM (SELECT doc_id, unnest(g3) AS gram FROM g) GROUP BY doc_id, gram),
      |m3 AS (SELECT doc_id,
      |  sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS dup,
      |  max(c * length(gram)) AS best,
      |  sum(c * length(gram)) AS tot FROM c3 GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(m2.dup AS DOUBLE) / CAST(m2.tot AS DOUBLE) AS dup2_frac,
      |  CAST(m2.best AS DOUBLE) / CAST(m2.tot AS DOUBLE) AS top2_frac,
      |  CAST(m3.dup AS DOUBLE) / CAST(m3.tot AS DOUBLE) AS dup3_frac
      |FROM m2 JOIN m3 USING (doc_id) ORDER BY doc_id""".stripMargin)

  /** par1 — cross-document duplicated-passage profile (C4-style). */
  query("par1_dup_passages") { (s, d) =>
    Curation.passageDupStats(Tables.documents(s, d), ngramK = 5)
      .orderBy("doc_id")
  }(
    // par1: corpus-vs-itself passage duplication; integer counters only.
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 4),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4])) END AS sh
      |  FROM t),
      |occ AS (SELECT doc_id, g, count(*) AS occ
      |  FROM (SELECT doc_id, unnest(sh) AS g FROM s) GROUP BY doc_id, g),
      |df AS (SELECT g, count(*) AS ndocs FROM occ GROUP BY g)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS DOUBLE) /
      |    CAST(sum(occ) AS DOUBLE) AS dup_passage_frac,
      |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_grams
      |FROM occ JOIN df USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** span1 — repeated-span census (the span-level dedup signal): per doc,
    * how many maximal spans are covered by corpus-repeated 5-grams and
    * how many tokens they span. Window islands, integer-exact.
    */
  query("span1_repeated_spans") { (s, d) =>
    Curation.repeatedSpanStats(Tables.documents(s, d), ngramK = 5)
      .orderBy("doc_id")
  }(
    // span1: parallel unnest zips grams with their 0-based positions;
    // the island break (gap > k) and covered-token formula
    // (max+k-min) are integer-exact in both engines.
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 4),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4])) END AS sh
      |  FROM t),
      |p AS (SELECT doc_id, unnest(sh) AS gram, unnest(generate_series(0, len(sh) - 1)) AS pos FROM s),
      |r AS (SELECT doc_id, pos FROM (
      |  SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n_occ FROM p) WHERE n_occ >= 2),
      |f AS (SELECT doc_id, pos,
      |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS new_span
      |  FROM r),
      |g2 AS (SELECT doc_id, pos, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id FROM f),
      |sp AS (SELECT doc_id, span_id, max(pos) + 5 - min(pos) AS span_tokens FROM g2 GROUP BY doc_id, span_id)
      |SELECT doc_id, count(*) AS n_spans, CAST(sum(span_tokens) AS BIGINT) AS repeated_tokens
      |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** st5 — at-least-once replay dedup: the batch twin of
    * `EventStream.dedupStream` (dropDuplicatesWithinWatermark). A 10%
    * replayed slice simulates redelivered micro-batches; replays are
    * exact row copies, so the keep-any pick is deterministic and the
    * per-type census must equal the single-delivery table's exactly.
    */
  query("st5_replay_dedup") { (s, d) =>
    val ev = Tables.events(s, d).select("event_id", "event_type", "value")
    ev.unionByName(ev.filter(pmod(col("event_id"), lit(10)) === 0))
      .dropDuplicates(Seq("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_val"))
      .orderBy("event_type")
  }(
    // st5: replays are exact copies, so min() per key IS the kept row.
    """WITH u AS (SELECT event_id, event_type, value FROM events
      |  UNION ALL SELECT event_id, event_type, value FROM events WHERE event_id % 10 = 0),
      |d AS (SELECT event_id, min(event_type) AS event_type, min(value) AS value
      |  FROM u GROUP BY event_id)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** PIPE4 — the reference's stage 0 end to end FROM THE REAL CONTAINERS:
    * three scenes as 3-band LZW BigTIFFs (chunky and planar layouts both
    * exercised) plus per-scene single-band UDM2 mask TIFFs, ingested via
    * `tiffToBandBlocks`/`tiffToBlocks` → pixel rows → band pivot → mask
    * sidecar join → the SAME `Stages.featureStack` as pipe0. The oracle is
    * pipe0's closed form — the TIFF containers, both planar layouts, LZW,
    * and the mask join must all be invisible in the output hash.
    */
  /** BL1 — cross-document LINE dedup (the RefinedWeb/C4 boilerplate
    * pass): lines whose normalized text appears in ≥3 distinct documents
    * are stripped from every document, survivors re-join in order. The
    * fixture derives lines by splitting the corpus text on a frequent
    * token, so genuinely-shared lines exist; oracle recomputes the df
    * census with count(DISTINCT) and string_agg, so the engine's
    * no-distinct-expand window spelling must be exactly equivalent.
    */
  query("bl1_boilerplate_lines") { (s, d) =>
    val lined = Tables.documents(s, d)
      .select(col("doc_id"), expr("replace(text, ' the ', char(10))").as("text"))
    operators.Curation.stripBoilerplateLines(lined, minDocFreq = 3)
      .orderBy("doc_id")
  }(
    // bl1: the distinct-doc line census recomputed the relational way
    // (count(DISTINCT) + join-back) — the engine's shared-exchange window
    // spelling must be exactly equivalent; text re-joins via string_agg
    // ordered by position.
    """WITH lined AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS text
      |  FROM documents),
      |sp AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM lined),
      |ix AS (SELECT doc_id, lines,
      |    unnest(generate_series(1, len(lines))) AS i FROM sp),
      |l AS (SELECT doc_id, i, lines[i] AS line,
      |    lower(trim(lines[i])) AS norm FROM ix),
      |df AS (SELECT norm, count(DISTINCT doc_id) AS ndocs FROM l
      |  WHERE norm <> '' GROUP BY norm),
      |k AS (SELECT l.doc_id, l.i, l.line FROM l LEFT JOIN df ON l.norm = df.norm
      |  WHERE l.norm = '' OR coalesce(df.ndocs, 0) < 3),
      |tot AS (SELECT doc_id, count(*) AS n FROM l GROUP BY doc_id),
      |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text,
      |    count(*) AS kept FROM k GROUP BY doc_id)
      |SELECT tot.doc_id, coalesce(agg.text, '') AS text,
      |  CAST(tot.n - coalesce(agg.kept, 0) AS BIGINT) AS n_dropped
      |FROM tot LEFT JOIN agg USING (doc_id)
      |ORDER BY tot.doc_id""".stripMargin)

  /** E11 — eval-set decontamination: docs sharing any 3-token n-gram with
    * the synthetic eval slice (doc_id % 97 = 0) are dropped — the
    * benchmark-leakage guard of a training-data pipeline. Exact gram
    * match; eval side broadcasts after its distinct-gram agg.
    */
  query("e11_decontaminate") { (s, d) =>
    val docs = Tables.documents(s, d)
    operators.Curation.decontaminate(
        docs, docs.filter(col("doc_id") % 97 === 0), ngramK = 3)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id", "n_chars")
  }("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 2),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS grams FROM t),
      |dg AS (SELECT doc_id, unnest(grams) AS gram FROM s),
      |eg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
      |bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN eg USING (gram))
      |SELECT d.doc_id, d.n_chars FROM documents d
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY d.doc_id, d.n_chars""".stripMargin)

  /** CC1 — duplicate-cluster canonicalization: connected components over
    * the LSH candidate pairs (e2b's edge set), keeper = min doc id per
    * component. The step that turns pairwise near-dup evidence into a
    * keep/drop decision.
    */
  private val cc1 = query("cc1_dup_components") { (s, d) =>
    val edges = Dedup.minhashCandidatePairs(Tables.documents(s, d), numHashes = 8, rowsPerBand = 2)
    operators.Graph.componentSummary(operators.Graph.connectedComponents(edges))
      .orderBy("keep_id")
  }(s"""${sqlShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
       |reach(x, y) AS (SELECT x, y FROM und
       |  UNION SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |comp AS (SELECT x AS node, least(x, min(y)) AS component FROM reach GROUP BY x)
       |SELECT component AS keep_id, count(*) AS n_members
       |FROM comp GROUP BY component ORDER BY keep_id""".stripMargin)

  /** PR1 — fixed-point PageRank over the dup-candidate graph: which
    * documents anchor a near-dup neighborhood. Ten integer-exact rounds,
    * bit-identical to the oracle's recursive-CTE twin.
    */
  query("pr1_dup_pagerank") { (s, d) =>
    operators.Graph.pageRankFixed(
        Dedup.minhashCandidatePairs(Tables.documents(s, d), numHashes = 8, rowsPerBand = 2),
        iters = 10)
      .orderBy("node")
  }(
    // pr1: the same candidate edges, then the integer PageRank recurrence
    // as a recursive CTE — floor-div contributions, integer sums, one
    // floored damping multiply per step, all bit-exact.
    s"""${sqlShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |e AS (SELECT a AS src, b AS dst FROM cand UNION SELECT b AS src, a AS dst FROM cand),
       |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |pr(iter, node, rank_fp) AS (
       |  SELECT 0, src, CAST(1048576 AS BIGINT) FROM dg
       |  UNION ALL
       |  SELECT s.iter + 1, s.node, CAST(157286 + floor(0.85 * s.total) AS BIGINT)
       |  FROM (SELECT p.iter AS iter, e.dst AS node, sum(p.rank_fp // d.deg) AS total
       |        FROM pr p JOIN e ON e.src = p.node JOIN dg d ON d.src = p.node
       |        WHERE p.iter < 10 GROUP BY 1, 2) s)
       |SELECT node, rank_fp FROM pr WHERE iter = 10 ORDER BY node""".stripMargin)

  /** cc2 — the SAME component summary as cc1, but `localThreshold = 0`
    * forces the distributed min-label + pointer-jumping path — the
    * unbounded-scale fallback that normally only engages above 4M edges.
    * Sharing cc1's oracle proves the two paths are result-identical under
    * the driver's hash gate, not just in GraphSpec.
    */
  query("cc2_components_distributed") { (s, d) =>
    // quarter-corpus scope: the point is the PATH (min-label rounds +
    // pointer jumping under the hash gate), and iterative rounds carry a
    // per-round multi-stage overhead that dwarfs toy-scale data — the
    // full graph already has its answer oracled via cc1's local path
    val edges = Dedup.minhashCandidatePairs(
      Tables.documents(s, d).filter(col("doc_id") % 4 === 0), numHashes = 8, rowsPerBand = 2)
    operators.Graph.componentSummary(
        operators.Graph.connectedComponents(edges, localThreshold = 0L))
      .orderBy("keep_id")
  }(
    // cc2 runs the distributed CC path against the SAME oracle text as
    // cc1's driver union-find path, scoped to the quarter corpus — one
    // SQL shape, two engine paths, both hash-gated.
    cc1.oracle.get.replace(
      sqlShingleCteFrom("documents").replaceFirst("WITH ", "WITH RECURSIVE "),
      sqlShingleCteFrom("(SELECT * FROM documents WHERE doc_id % 4 = 0)")
        .replaceFirst("WITH ", "WITH RECURSIVE ")))

  /** tri1 — triangle enumeration over the dup-candidate graph: the
    * cohesion census of near-dup clusters (quasi-cliques triangle
    * densely; borderline-match chains don't — a structural signal CC's
    * member counts can't see).
    */
  query("tri1_dup_triangles") { (s, d) =>
    val edges = Dedup.minhashCandidatePairs(Tables.documents(s, d), numHashes = 8, rowsPerBand = 2)
    operators.Graph.triangles(edges).orderBy("a", "b", "c")
  }(
    // tri1/dd1: same LSH pair CTE as cc1, then the standard upward
    // two-join triangle enumeration / the undirected degree histogram.
    s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c FROM pairs e1
       |  JOIN pairs e2 ON e2.a = e1.b
       |  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT a, b, c FROM tri ORDER BY a, b, c""".stripMargin)

  /** dd1 — degree distribution of the dup-candidate graph (how many docs
    * have how many near-dup partners — the skew signal that decides
    * bucket caps).
    */
  query("dd1_degree_distribution") { (s, d) =>
    val edges = Dedup.minhashCandidatePairs(Tables.documents(s, d), numHashes = 8, rowsPerBand = 2)
    operators.Graph.degrees(edges)
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }(s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |und AS (SELECT a AS node FROM pairs UNION ALL SELECT b AS node FROM pairs),
       |deg AS (SELECT node, count(*) AS degree FROM und GROUP BY node)
       |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree""".stripMargin)

  /** E10 — fuzzy dedup end-to-end: LSH candidates → exact-Jaccard verify
    * (≥ 0.5) → connected components → keep the min doc per cluster. The
    * full "near-duplicate removal" pipeline a training corpus runs, as one
    * query.
    */
  query("e10_fuzzy_dedup_keep") { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = Dedup.fuzzyDupPairs(docs, threshold = 0.5, numHashes = 8, rowsPerBand = 2)
    val drops = operators.Graph.connectedComponents(edges)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }(s"""${sqlShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |ss AS (SELECT doc_id, list_distinct(shingles) AS sh FROM s),
       |pairs AS (SELECT a, b FROM (
       |  SELECT a, b, len(list_filter(xa.sh, t -> list_contains(xb.sh, t))) AS inter,
       |    len(xa.sh) AS la, len(xb.sh) AS lb
       |  FROM cand JOIN ss xa ON cand.a = xa.doc_id JOIN ss xb ON cand.b = xb.doc_id) t
       |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
       |reach(x, y) AS (SELECT x, y FROM und
       |  UNION SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |comp AS (SELECT x AS node, least(x, min(y)) AS component FROM reach GROUP BY x)
       |SELECT doc_id, n_chars FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM comp WHERE component <> node)
       |ORDER BY doc_id""".stripMargin)

  /** e12 — quality-aware dedup: instead of e10's keep-lowest-id, each
    * fuzzy-duplicate cluster keeps its HIGHEST-QUALITY member (tie →
    * lowest id) — the curation-grade policy (near-dup clusters often mix
    * a clean original with truncated/boilerplated copies). Singletons are
    * their own cluster via the left join + coalesce.
    */
  query("e12_keep_best_quality") { (s, d) =>
    val docs = Tables.documents(s, d)
    val edges = Dedup.fuzzyDupPairs(docs, threshold = 0.5, numHashes = 8, rowsPerBand = 2)
    val comp = operators.Graph.connectedComponents(edges)
    val members = docs
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("__q"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"), col("__q"))
    val byComp = Window.partitionBy("component")
    members
      .withColumn("rn", row_number().over(byComp.orderBy(col("__q").desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("best_q", max(col("__q")).over(byComp))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("keep_id"), col("n_members"),
        round(col("best_q"), 6).as("best_q"))
      .orderBy("keep_id")
  }(
    // e12: e10's recursive-CTE closure + the gate's all-DOUBLE quality,
    // keeper = row_number over (quality DESC, doc_id) per component.
    s"""${sqlShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |ss AS (SELECT doc_id, list_distinct(shingles) AS sh FROM s),
       |pairs AS (SELECT a, b FROM (
       |  SELECT a, b, len(list_filter(xa.sh, t -> list_contains(xb.sh, t))) AS inter,
       |    len(xa.sh) AS la, len(xb.sh) AS lb
       |  FROM cand JOIN ss xa ON cand.a = xa.doc_id JOIN ss xb ON cand.b = xb.doc_id) t
       |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
       |reach(x, y) AS (SELECT x, y FROM und
       |  UNION SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x),
       |comp AS (SELECT x AS node, least(x, min(y)) AS component FROM reach GROUP BY x),
       |qual AS (SELECT doc_id,
       |  least(CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |  least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) AS q
       |  FROM t),
       |mem AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.q
       |  FROM qual d LEFT JOIN comp c ON d.doc_id = c.node),
       |ranked AS (SELECT component, doc_id, q,
       |  row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn,
       |  count(*) OVER (PARTITION BY component) AS n_members,
       |  max(q) OVER (PARTITION BY component) AS bq FROM mem)
       |SELECT doc_id AS keep_id, CAST(n_members AS BIGINT) AS n_members, round(bq, 6) AS best_q
       |FROM ranked WHERE rn = 1 ORDER BY keep_id""".stripMargin)

  /** e13 — sketch-accelerated decontamination: bloom prefilter on the
    * corpus grams (scan-side predicate, no false negatives) + exact
    * verify of the survivors. Same eval slice as e11 and the SAME oracle
    * complement — the hash match proves the sketch path is semantically
    * invisible.
    */
  query("e13_bloom_decontaminate") { (s, d) =>
    val docs = Tables.documents(s, d)
    operators.Curation.decontaminateBloom(
        docs, docs.filter(col("doc_id") % 97 === 0), ngramK = 3)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id", "n_chars")
  }(
    // e13: the EXACT complement — identical to e11's oracle; the bloom
    // prefilter must be semantically invisible.
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 2),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS grams FROM t),
      |dg AS (SELECT doc_id, unnest(grams) AS gram FROM s),
      |eg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
      |bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN eg USING (gram))
      |SELECT d.doc_id, d.n_chars FROM documents d
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY d.doc_id, d.n_chars""".stripMargin)

  /** inc1 — incremental-ingest dedup: stage the even-id half of the
    * corpus as a persisted dedup index (exact md5s + LSH buckets +
    * shingle sets), then deduplicate the odd-id half against it as a NEW
    * batch — the daily-crawl-vs-100 TB-corpus shape, probing the index
    * without rescanning corpus text. Census of the admitted batch rows;
    * the oracle recomputes the exact+fuzzy complement from scratch.
    */
  /** The corpus index is the PRE-EXISTING side of the incremental shape
    * (the 100 TB corpus isn't re-indexed per daily batch), so it is built
    * once per (session, sfDir) and repeat runs measure what recurs: the
    * probe. Keyed by sfDir so verify/bench dirs never cross-contaminate.
    */
  private val dedupIdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  query("inc1_incremental_dedup") { (s, d) =>
    val docs = Tables.documents(s, d)
    val dir = dedupIdxCache.computeIfAbsent(d, _ => {
      val idx = java.nio.file.Files.createTempDirectory("graft_inc1").toString + "/idx"
      Dedup.writeDedupIndex(docs.filter(col("doc_id") % 2 === 0), idx)
      idx
    })
    Dedup.dedupAgainstIndex(s, docs.filter(col("doc_id") % 2 === 1), dir, threshold = 0.5)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }(
    // inc1: the from-scratch exact+fuzzy complement — the Spark side
    // probes a PERSISTED index instead, so the hash match proves the
    // index round-trip preserves the dedup decision exactly. The fuzzy
    // set here includes exact-dropped docs too; both are subtracted, so
    // the union is identical.
    s"""$sqlShingleCte,
       |sig AS (SELECT doc_id, ${(0 until 8).map(j => s"${sqlMinhash(j)} AS m$j").mkString(", ")} FROM sh),
       |bands AS (${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, md5(concat_ws('_', m${2 * b}, m${2 * b + 1})) AS bucket FROM sig")
              .mkString(" UNION ALL ")}),
       |exact_dropped AS (SELECT DISTINCT n.doc_id FROM documents n
       |  JOIN documents c ON n.text = c.text AND c.doc_id % 2 = 0
       |  WHERE n.doc_id % 2 = 1),
       |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
       |  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0),
       |ss AS (SELECT doc_id, list_distinct(shingles) AS sh2 FROM s),
       |fuzzy AS (SELECT DISTINCT a FROM (
       |  SELECT a, b, len(list_filter(xa.sh2, t -> list_contains(xb.sh2, t))) AS inter,
       |    len(xa.sh2) AS la, len(xb.sh2) AS lb
       |  FROM cand JOIN ss xa ON cand.a = xa.doc_id JOIN ss xb ON cand.b = xb.doc_id) z
       |  WHERE inter > 0 AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5)
       |SELECT d.doc_id, d.n_chars FROM documents d
       |WHERE d.doc_id % 2 = 1
       |  AND d.doc_id NOT IN (SELECT doc_id FROM exact_dropped)
       |  AND d.doc_id NOT IN (SELECT a FROM fuzzy)
       |ORDER BY d.doc_id""".stripMargin)

  /** e14 — SimHash near-dup pairs within Hamming radius 2: pigeonhole
    * banding (3 bands of the 16-bit signature) finds every candidate
    * with no false negatives; bit_count(xor) verifies exactly. The
    * oracle brute-forces all pairs, so the banding must lose nothing.
    */
  query("e14_simhash_neardup") { (s, d) =>
    Dedup.simhashNearDupPairs(Tables.documents(s, d), maxHamming = 2)
      .orderBy("a", "b")
  }(
    // e14: the oracle brute-forces ALL pairs — the Spark side's
    // pigeonhole banding must find exactly the same set (no false
    // negatives by construction, none in practice either).
    s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(list_transform(toks, tk -> md5(tk)), m -> ${sqlHexVal("m", 4)}) AS hs FROM t),
       |sig AS (SELECT doc_id, CAST(${(0 until 16).map(j =>
              s"CASE WHEN list_sum(list_transform(hs, x -> ((x >> $j) % 2) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END")
              .mkString(" + ")} AS BIGINT) AS simhash
       |FROM h)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
       |ORDER BY a, b""".stripMargin)

  /** e14b — the WIDE (60-bit) simhash near-dup pairs, the corpus-scale
    * path (r12): the sf1 probe measured the 16-bit form at 22× wall for
    * 10× docs (2^5-key bands saturate), while 60-bit bands have 2^20
    * keys and stay linear. Same pigeonhole construction, same
    * brute-force oracle — the banding must again lose nothing, now over
    * a sparse bucket space.
    */
  query("e14b_simhash_wide") { (s, d) =>
    Dedup.simhashNearDupPairsWide(Tables.documents(s, d), maxHamming = 2)
      .orderBy("a", "b")
  }(
    // e14b: the 60-bit twin — same brute-force proof, the signature is
    // 60 per-bit vote sums over 15-hex-char (60-bit) token hashes
    s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(list_transform(toks, tk -> md5(tk)), m -> ${sqlHexVal("m", 15)}) AS hs FROM t),
       |sig AS (SELECT doc_id, CAST(${(0 until 60).map(j =>
              s"CASE WHEN list_sum(list_transform(hs, x -> ((x >> $j) % 2) * 2 - 1)) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
              .mkString(" + ")} AS BIGINT) AS simhash
       |FROM h)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
       |ORDER BY a, b""".stripMargin)

  /** fz1 — blocked fuzzy match (record linkage): every 50th part name,
    * perturbed by deleting its 3rd character, is matched back against the
    * full part table at edit distance <= 2 under (2-char prefix, ±2
    * length) blocking. The oracle states the same blocking contract
    * relationally — prefix equality + length filter + levenshtein.
    */
  query("fz1_fuzzy_match") { (s, d) =>
    val p = Tables.part(s, d)
    val probes = p.filter(col("p_partkey") % 50 === 0)
      .select(col("p_partkey").as("probe_key"),
        concat(substring(col("p_name"), 1, 2), substring(col("p_name"), 4, 1 << 20))
          .as("probe_name"))
    operators.FuzzyJoin.blockedLevenshtein(
        probes, p.select(col("p_partkey"), col("p_name")),
        "probe_name", "p_name", maxDist = 2, blockPrefix = 2)
      .select(col("probe_key"), col("probe_name"), col("p_partkey"), col("p_name"),
        col("edit_dist").cast("int").as("edit_dist"))
      .orderBy("probe_key", "p_partkey")
  }("""WITH pr AS (SELECT p_partkey AS probe_key,
      |  concat(substr(p_name, 1, 2), substr(p_name, 4)) AS probe_name
      |  FROM part WHERE p_partkey % 50 = 0)
      |SELECT probe_key, probe_name, p.p_partkey, p.p_name,
      |  CAST(levenshtein(probe_name, p.p_name) AS INTEGER) AS edit_dist
      |FROM pr JOIN part p ON substr(probe_name, 1, 2) = substr(p.p_name, 1, 2)
      |  AND abs(len(probe_name) - len(p.p_name)) <= 2
      |  AND levenshtein(probe_name, p.p_name) <= 2
      |ORDER BY probe_key, p.p_partkey""".stripMargin)

  /** fz2 — segment-signature edit-distance join (r12 scale path): the
    * same probe construction as fz1, matched with COMPLETE recall
    * through the Pass-Join pigeonhole (no prefix-blocking clause in the
    * oracle — pairs whose first two chars differ are found too, which
    * the blocked form misses by contract). Probes every 200th part so
    * the brute-force oracle stays tractable at the sf0.1 sweep.
    */
  query("fz2_segment_match") { (s, d) =>
    val p = Tables.part(s, d)
    val probes = p.filter(col("p_partkey") % 200 === 0)
      .select(col("p_partkey").as("probe_key"),
        concat(substring(col("p_name"), 1, 2), substring(col("p_name"), 4, 1 << 20))
          .as("probe_name"))
    operators.FuzzyJoin.segmentLevenshtein(
        probes, p.select(col("p_partkey"), col("p_name")),
        "probe_name", "p_name", maxDist = 2)
      .select(col("probe_key"), col("probe_name"), col("p_partkey"), col("p_name"),
        col("edit_dist").cast("int").as("edit_dist"))
      .orderBy("probe_key", "p_partkey")
  }(
    // fz2: the oracle is the UNBLOCKED brute force (length filter only,
    // which edit<=2 implies) - a hash match proves the segment-signature
    // candidates lose nothing, the claim prefix blocking cannot make
    """WITH pr AS (SELECT p_partkey AS probe_key,
      |  concat(substr(p_name, 1, 2), substr(p_name, 4)) AS probe_name
      |  FROM part WHERE p_partkey % 200 = 0)
      |SELECT probe_key, probe_name, p.p_partkey, p.p_name,
      |  CAST(levenshtein(probe_name, p.p_name) AS INTEGER) AS edit_dist
      |FROM pr JOIN part p ON abs(len(probe_name) - len(p.p_name)) <= 2
      |  AND levenshtein(probe_name, p.p_name) <= 2
      |ORDER BY probe_key, p.p_partkey""".stripMargin)

  /** span2 — span-level dedup transform: strip every token covered by a
    * corpus-repeated 5-gram (span1's census predicate, now acted on) and
    * return the reassembled text. The oracle rebuilds each document with
    * an ordered string_agg over the surviving positions.
    */
  query("span2_strip_spans") { (s, d) =>
    Curation.stripRepeatedSpans(Tables.documents(s, d), ngramK = 5)
      .orderBy("doc_id")
  }("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks, CASE WHEN len(toks) < 5 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 4),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4])) END AS sh
      |  FROM t),
      |p AS (SELECT doc_id, unnest(sh) AS gram, unnest(generate_series(0, len(sh) - 1)) AS pos FROM s),
      |r AS (SELECT doc_id, pos FROM (
      |  SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS n_occ FROM p) WHERE n_occ >= 2),
      |cov AS (SELECT DISTINCT doc_id, pos + d AS cpos FROM r, (SELECT unnest(generate_series(0, 4)) AS d) dd),
      |tok AS (SELECT doc_id, unnest(toks) AS tok, unnest(generate_series(0, len(toks) - 1)) AS pos FROM t),
      |j AS (SELECT tok.doc_id, tok.pos, tok.tok, cov.cpos IS NOT NULL AS is_cov
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.cpos)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN NOT is_cov THEN tok END, ' ' ORDER BY pos), '') AS clean_text,
      |  count(CASE WHEN NOT is_cov THEN 1 END) AS n_kept,
      |  count(CASE WHEN is_cov THEN 1 END) AS n_removed
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
