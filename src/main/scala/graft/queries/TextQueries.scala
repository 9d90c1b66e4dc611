package graft
package queries

import graft.functions.{TextOps, WebOps}
import graft.operators.Curation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text curation: quality gates, language id, PII, n-gram statistics,
  * tokenizers, packing, retrieval scoring and the curation pipelines. */
object TextQueries extends Family {
  import Helpers._

  /** MIX2 — temperature-scaled source mixing with EXACT largest-remainder
    * quotas (the data-mixing step of a training pipeline: upweight small
    * sources with τ = 0.5, then allocate an integer budget B = 300
    * deterministically): per-lang weights wᵢ = √nᵢ, pᵢ = wᵢ/Σw with the
    * total folded left-assoc over the LANG-SORTED array (one scalar agg
    * carries the whole per-lang table — the qs1 sort_array shape, NO
    * global window), base = ⌊B·pᵢ⌋, the deficit topped up by remainder
    * rank (rem DESC, lang ASC — ranked via a sorted (−rem, lang) array,
    * window-free), and each lang's quota filled by the md5-BOTTOM of its
    * documents (the samp1 determinism idiom — stable under reruns and
    * appends). Output per lang: count, quota, selected count, and the
    * selection boundary key (proving the pick is exactly the bottom-k).
    * 100 TB shape: one groupBy + one scalar agg on the #langs-bounded
    * frame + one per-lang window over the corpus scan.
    */
  query("mix2_temperature_quota") { (s, d) =>
    val docs = Tables.documents(s, d)
    val B = 300
    val packed = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .agg(sort_array(collect_list(struct(col("lang"), col("n_docs")))).as("arr"))
    val w = transform(col("arr"), e => sqrt(e.getField("n_docs").cast("double")))
    val staged = packed
      .select(col("arr"), w.as("w"))
      .select(col("arr"), col("w"),
        aggregate(col("w"), lit(0.0), (a, x) => a + x).as("total"))
      .select(transform(col("arr"), (e, i) => {
        val scaled = lit(B.toDouble) * (element_at(col("w"), i + 1) / col("total"))
        struct(e.getField("lang").as("lang"),
          e.getField("n_docs").as("n_docs"),
          floor(scaled).cast("long").as("base"),
          (scaled - floor(scaled)).as("rem"))
      }).as("q"))
      .select(col("q"),
        (lit(B.toLong) - aggregate(col("q"), lit(0L), (a, e) => a + e.getField("base"))).as("deficit"),
        sort_array(transform(col("q"), e =>
          struct((-e.getField("rem")).as("nr"), e.getField("lang").as("lang")))).as("ranked"))
    val quotas = staged
      .select(col("deficit"), col("ranked"), explode(col("q")).as("e"))
      .select(col("e.lang").as("lang"), col("e.n_docs").as("n_docs"),
        (col("e.base") + when(
          array_position(transform(col("ranked"), _.getField("lang")), col("e.lang"))
            <= col("deficit"), lit(1L)).otherwise(lit(0L))).as("quota"))
    val wl = Window.partitionBy(col("lang"))
      .orderBy(col("key"), col("doc_id"))
    val sel = docs.select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("key"))
      .withColumn("rn", row_number().over(wl))
      .join(quotas, Seq("lang"))
      .filter(col("rn") <= col("quota"))
      .groupBy("lang")
      .agg(count(lit(1)).as("sel_docs"), max(col("key")).as("last_key"))
    quotas.join(sel, Seq("lang"))
      .select("lang", "n_docs", "quota", "sel_docs", "last_key")
      .orderBy("lang")
  }(sqlMixQuota)

  /** mix2's oracle — the identical weight/quota arithmetic (ordered
    * list_reduce total, floor/remainder, rank by (rem DESC, lang)) and
    * the md5-bottom selection replayed relationally.
    */
  private def sqlMixQuota: String =
    """WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
      |tot AS (SELECT list_reduce(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang),
      |    (a, b) -> a + b) AS total FROM counts),
      |q AS (SELECT lang, n_docs,
      |    CAST(floor(CAST(300 AS DOUBLE) * (sqrt(CAST(n_docs AS DOUBLE)) / total)) AS BIGINT) AS base,
      |    CAST(300 AS DOUBLE) * (sqrt(CAST(n_docs AS DOUBLE)) / total)
      |      - floor(CAST(300 AS DOUBLE) * (sqrt(CAST(n_docs AS DOUBLE)) / total)) AS rem
      |  FROM counts, tot),
      |r AS (SELECT lang, n_docs, base, rem,
      |    row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM q),
      |dcnt AS (SELECT 300 - sum(base) AS deficit FROM r),
      |quota AS (SELECT lang, n_docs,
      |    base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS quota FROM r, dcnt),
      |sel AS (SELECT d.lang, md5(CAST(d.doc_id AS VARCHAR)) AS key,
      |    row_number() OVER (PARTITION BY d.lang
      |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      |  FROM documents d),
      |agg AS (SELECT s.lang, CAST(count(*) AS BIGINT) AS sel_docs, max(s.key) AS last_key
      |  FROM sel s JOIN quota t ON s.lang = t.lang AND s.rn <= t.quota GROUP BY s.lang)
      |SELECT t.lang, t.n_docs, CAST(t.quota AS BIGINT) AS quota, a.sel_docs, a.last_key
      |FROM quota t JOIN agg a ON t.lang = a.lang ORDER BY t.lang""".stripMargin

  /** bpe1's oracle — BpeExprs.encodeWord replayed as a recursive CTE
    * over the corpus's DISTINCT words: at each step the adjacent-pair
    * rank list comes from a MAP literal generated from the SAME
    * EnglishMerges table (chr(31)-joined keys, the kernel's separator),
    * the leftmost minimum merges via inclusive list slices, and rows
    * exit the recursion when no table pair remains (single-symbol states
    * have an empty rank list → NULL min → coalesced to the sentinel).
    */
  private def sqlBpeTokens: String = {
    val merges = graft.functions.BpeExprs.EnglishMerges
    val keys = merges.map { case (a, b) => s"'$a'||chr(31)||'$b'" }.mkString(",")
    val vals = merges.indices.mkString(",")
    val mapLit = s"MAP([$keys],[$vals])"
    def rks = s"""list_transform(range(1, length(state)), i ->
                 |    coalesce(map_extract($mapLit, state[i] || chr(31) || state[i+1])[1], 999999))""".stripMargin
    s"""WITH RECURSIVE words AS (
       |  SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
       |dw AS (SELECT DISTINCT w FROM words),
       |steps AS (
       |  SELECT w, string_split(w, '') AS state FROM dw
       |  UNION ALL
       |  SELECT w, state[1:bi-1] || [state[bi] || state[bi+1]] || state[bi+2:] AS state
       |  FROM (SELECT w, state, list_min(rks) AS br, list_position(rks, list_min(rks)) AS bi
       |        FROM (SELECT w, state, $rks AS rks FROM steps))
       |  WHERE br < 999999),
       |final AS (
       |  SELECT w, length(state) AS n FROM (
       |    SELECT w, state, coalesce(list_min($rks), 999999) AS br FROM steps)
       |  WHERE br = 999999),
       |percounts AS (
       |  SELECT doc_id, count(*) AS n_words, CAST(sum(n) AS BIGINT) AS n_bpe
       |  FROM words JOIN final USING (w) GROUP BY doc_id)
       |-- data-contract mirror (the r3 lesson): a doc whose text is empty /
       |-- all-spaces has NO words rows but the Spark side still emits
       |-- (doc_id, 0, 0); a NULL text stays NULL through split/bpe_count
       |SELECT d.doc_id,
       |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(p.n_words, 0) END AS n_words,
       |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(p.n_bpe, 0) END AS n_bpe
       |FROM documents d LEFT JOIN percounts p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** sql1 — the pure-SQL user path through the driver gate: the engine's
    * registered SQL functions (the GraftFunctions catalog the session
    * was built with) over a temp view — no DataFrame API in the query
    * itself. Hash-matching the oracle proves the SQL surface is
    * the same engine as the Column surface.
    */
  query("sql1_function_surface") { (s, d) =>
    Tables.documents(s, d).createOrReplaceTempView("graft_docs")
    s.sql(
      """SELECT doc_id, graft_token_count(text) AS n_tokens,
        |  round(graft_quality(text), 6) AS quality,
        |  graft_langid(text) AS lang_guess,
        |  graft_fingerprint(text) AS fp
        |FROM graft_docs ORDER BY doc_id""".stripMargin)
  }(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
       |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
       |  round(least(len(toks) / 100.0, 1.0) * 0.5 +
       |    least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |      / len(toks) * 4.0, 1.0) * 0.5, 6) AS quality,
       |  (list_sort([${TextOps.LangStopwords.map { case (lang, words) =>
              s"{'n': -CAST(${sqlLangHits(words)} AS BIGINT), 'l': '$lang'}" }.mkString(", ")}]))[1].l AS lang_guess,
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
       |FROM t ORDER BY doc_id""".stripMargin)

  /** gate1 — composite quality gate with audit-trail reasons: one scan,
    * zero shuffles; first-failing-rule precedence is the oracle contract.
    */
  query("gate1_quality_gate") { (s, d) =>
    Curation.qualityGate(Tables.documents(s, d))
      .select("doc_id", "keep", "reason")
      .orderBy("doc_id")
  }(
    // gate1: every operand explicitly DOUBLE (DuckDB's bare 100.0 is
    // DECIMAL, and decimal division would diverge from Spark's IEEE
    // doubles on unrounded threshold comparisons).
    s"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
       |u AS (SELECT doc_id, lang, text, toks,
       |  least(CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |  least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) AS quality,
       |  (list_sort([${TextOps.LangStopwords.map { case (lang, words) =>
              s"{'n': -CAST(${sqlLangHits(words)} AS BIGINT), 'l': '$lang'}" }.mkString(", ")}]))[1].l AS guess,
       |  CASE WHEN len(toks) < 2 THEN [text] ELSE list_transform(generate_series(1, len(toks) - 1),
       |    i -> concat(toks[i], ' ', toks[i+1])) END AS g2
       |  FROM t),
       |c AS (SELECT doc_id, gram, count(*) AS c
       |  FROM (SELECT doc_id, unnest(g2) AS gram FROM u) GROUP BY doc_id, gram),
       |m AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS DOUBLE) /
       |  CAST(sum(c * length(gram)) AS DOUBLE) AS dup2 FROM c GROUP BY doc_id),
       |r AS (SELECT u.doc_id AS doc_id,
       |  CASE WHEN text IS NULL OR quality IS NULL THEN 'low_quality'
       |       WHEN quality < CAST(0.3 AS DOUBLE) THEN 'low_quality'
       |       WHEN lang IS NULL OR guess <> lang THEN 'lang_mismatch'
       |       WHEN dup2 > CAST(0.2 AS DOUBLE) THEN 'repetitive'
       |       ELSE 'ok' END AS reason
       |  FROM u LEFT JOIN m ON u.doc_id = m.doc_id)
       |SELECT doc_id, (reason = 'ok') AS keep, reason FROM r ORDER BY doc_id""".stripMargin)

  /** url1 — C4-style domain blocklist filter: synthetic absolute URLs are
    * staged from existing columns (the sandbox corpus has none), the
    * operator derives the registrable domain and anti-joins a broadcast
    * blocklist on domain EQUALITY — "ads." subdomains collapse onto the
    * same registrable key, so subdomain evasion is caught without an
    * endswith scan of the corpus.
    */
  query("url1_domain_filter") { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).withColumn("url",
      concat(lit("https://"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("ads.")).otherwise(lit("www.")),
        col("source"), pmod(col("doc_id"), lit(3)).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string")))
    val blocked = Seq("src30.org", "src31.org", "src32.org", "badsite.example")
      .toDF("domain")
    Curation.domainBlocklistFilter(docs, "url", blocked)
      .withColumn("domain",
        WebOps.registrableDomain(WebOps.urlHost(col("url"))))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("domain")
  }(
    // url1: host/registrable-domain regexes are shared verbatim with the
    // Spark side (Java and RE2 agree on them); the blocklist is a NOT IN.
    """WITH u AS (SELECT doc_id,
      |  lower(regexp_extract('https://' || CASE WHEN doc_id % 7 = 0 THEN 'ads.' ELSE 'www.' END ||
      |    source || CAST(doc_id % 3 AS VARCHAR) || '.org/p/' || CAST(doc_id AS VARCHAR),
      |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1)) AS host
      |  FROM documents),
      |d AS (SELECT doc_id, regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain FROM u)
      |SELECT domain, count(*) AS n_docs FROM d
      |WHERE domain NOT IN ('src30.org', 'src31.org', 'src32.org', 'badsite.example')
      |GROUP BY domain ORDER BY domain""".stripMargin)

  /** pii1 — PII anonymization: emails/phones/IPs are injected
    * deterministically (doc_id arithmetic), redacted by the fixed-order
    * regex pass, and the oracle hash-checks both the per-kind counts and
    * the md5 of the REDACTED text — so the exact replacement semantics
    * (order, global replace, boundary behavior) are verified, not just
    * match counts.
    */
  query("pii1_redact") { (s, d) =>
    val staged = Tables.documents(s, d).select(col("doc_id"),
      concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail"), pmod(col("doc_id"), lit(5)).cast("string"), lit(".com now"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-0199"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(" from 10.0.0.42"))
          .otherwise(lit(""))).as("text"))
    Curation.redactPii(staged)
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("text")).as("clean_md5"))
      .orderBy("doc_id")
  }(
    // pii1: counts from the ORIGINAL text, md5 of the redacted text with
    // the same fixed replace order (email → ip → phone); DuckDB needs the
    // explicit 'g' flag to match Spark's global regexp_replace.
    s"""WITH staged AS (SELECT doc_id,
       |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.com now' ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END ||
       |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.0.42' ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${WebOps.EmailRe}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${WebOps.PhoneRe}')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(text, '${WebOps.Ipv4Re}')) AS BIGINT) AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '${WebOps.EmailRe}', '[EMAIL]', 'g'),
       |    '${WebOps.Ipv4Re}', '[IP]', 'g'),
       |    '${WebOps.PhoneRe}', '[PHONE]', 'g')) AS clean_md5
       |FROM staged ORDER BY doc_id""".stripMargin)

  /** lex1 — lexical diversity (type-token ratio): the standard quality
    * signal for template/boilerplate detection that the length/stopword
    * score misses. Pure projection.
    */
  query("lex1_type_token") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("__toks"))).cast("long").as("n_distinct"))
      .withColumn("ttr",
        round(col("n_distinct").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy("doc_id")
  }("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS ttr
      |FROM t ORDER BY doc_id""".stripMargin)

  /** Staged projections: token array bound once, then counts, then the
    * derived ratios — inlined forms would re-tokenize per output column.
    */
  query("e4_text_stats") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        TextOps.stopwordHits(col("_toks"), TextOps.AllStopwords).cast("double").as("_hits"))
      .select(col("doc_id"), col("n_tokens"),
        TextOps.bpeishCount(col("text")).cast("long").as("n_bpeish"),
        round((length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 6)
          .as("mean_tok_len"),
        (col("_hits") / col("n_tokens")).as("_ratio"))
      .select(col("doc_id"), col("n_tokens"), col("n_bpeish"), col("mean_tok_len"),
        round(col("_ratio"), 6).as("stop_ratio"),
        round(least(col("n_tokens") / lit(100.0), lit(1.0)) * lit(0.5) +
          least(col("_ratio") * lit(4.0), lit(1.0)) * lit(0.5), 6).as("quality"))
      .orderBy("doc_id")
  }("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |u AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(toks, tk -> tk IN ('der','die','und','das','nicht','ist','ein','the','and','of','to','in','is','that','el','la','de','que','y','los','en','le','et','les','des','un','的','是','了','在','和','有','我'))) AS DOUBLE) / len(toks) AS stop_ratio
      |  FROM t)
      |SELECT doc_id, n_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish,
      |  round(CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) AS mean_tok_len,
      |  round(stop_ratio, 6) AS stop_ratio,
      |  round(least(n_tokens / 100.0, 1.0) * 0.5 + least(stop_ratio * 4.0, 1.0) * 0.5, 6) AS quality
      |FROM u ORDER BY doc_id""".stripMargin)

  query("e5_langid") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), TextOps.langGuessFromTokens(col("_toks")).as("lang_guess"),
        col("lang").as("lang_true"))
      .withColumn("hit", col("lang_guess") === col("lang_true"))
      .orderBy("doc_id")
  }(s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, lang, (list_sort([${TextOps.LangStopwords.map { case (lang, words) =>
              s"{'n': -CAST(${sqlLangHits(words)} AS BIGINT), 'l': '$lang'}" }.mkString(", ")}]))[1].l AS lang_guess FROM t)
       |SELECT doc_id, lang_guess, lang AS lang_true, (lang_guess = lang) AS hit FROM g ORDER BY doc_id""".stripMargin)

  query("e6_simhash") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokenHashes16(col("text")).as("_hs"))
      .select(col("doc_id"), TextOps.simhash16FromHashes(col("_hs")).as("simhash"))
      .orderBy("doc_id")
  }(s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(list_transform(toks, tk -> md5(tk)), m -> ${sqlHexVal("m", 4)}) AS hs FROM t)
       |SELECT doc_id, CAST(${(0 until 16).map(j =>
              s"CASE WHEN list_sum(list_transform(hs, x -> ((x >> $j) % 2) * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END")
              .mkString(" + ")} AS BIGINT) AS simhash
       |FROM h ORDER BY doc_id""".stripMargin)

  /** PACK1 — token-budget sequence packing (concat-and-split at 2048
    * tokens in doc_id order), packed independently per shard — the scale
    * shape: shards pack in parallel (a global pack would serialize one
    * reducer); cross-shard order is arbitrary in a training shuffle anyway.
    */
  query("pack1_token_budget") { (s, d) =>
    operators.Curation.packByTokenBudget(
      Tables.documents(s, d).withColumn("shard", (col("doc_id") % 8).cast("long")),
      TextOps.tokenCount(col("text")), "doc_id", budget = 2048, shardCol = Some("shard"))
      .groupBy("shard", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy("shard", "bin_id")
  }("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
      |c AS (SELECT shard, doc_id, n_tok,
      |  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
      |SELECT shard, CAST(floor((cum - n_tok) / 2048) AS BIGINT) AS bin_id,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
      |FROM c GROUP BY shard, bin_id ORDER BY shard, bin_id""".stripMargin)

  /** TFIDF1 — top-3 salient terms per document (tf·ln(N/df), rank ties on
    * term asc; scores rounded before ranking for cross-engine stability).
    */
  query("tfidf1_top_terms") { (s, d) =>
    operators.Curation.topTfidfTerms(Tables.documents(s, d), k = 3)
      .orderBy("doc_id", "rank")
  }("""WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (SELECT tf.doc_id, tf.term, round(tf.tf * ln(nd.n_docs / dfq.df), 6) AS score
      |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN nd)
      |SELECT doc_id, rank, term, score FROM (
      |  SELECT doc_id, term, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rank
      |  FROM scored) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)

  /** chunk1 — context-window chunking census: 64-token windows, stride 48
    * (25% overlap). Output is one row per chunk with its exact text, so
    * the hash check pins slice boundaries, overlap arithmetic, and the
    * kept partial tail.
    */
  query("chunk1_token_windows") { (s, d) =>
    Curation.chunkByTokens(Tables.documents(s, d), chunkTokens = 64, stride = 48)
      .withColumn("chunk_md5", md5(col("chunk_text"))).drop("chunk_text")
      .orderBy("doc_id", "chunk_id")
  }("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |  CAST(least(len(toks) - start, 64) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(list_slice(toks, start + 1, start + 64), ' ')) AS chunk_md5
      |FROM (SELECT doc_id, toks, i - 1 AS chunk_id, (i - 1) * 48 AS start
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, greatest(CAST(len(toks) AS BIGINT), 1))) AS i FROM t)
      |  WHERE (i - 1) * 48 < len(toks))
      |ORDER BY doc_id, chunk_id""".stripMargin)

  /** lm1 — unigram LM surprise score per doc (the perplexity-filter
    * analog): corpus unigram logprobs fixed-pointed per token, summed as
    * integers — deterministic under any partitioning.
    */
  query("lm1_unigram_logprob") { (s, d) =>
    Curation.unigramLogprobScore(Tables.documents(s, d))
      .orderBy("doc_id")
  }(
    // lm1: floor(ln p · 2^20) is exact on the same double in both
    // engines (ln agreement proven in practice by tfidf1's green hash);
    // the per-doc sum is then integer arithmetic.
    """WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |f AS (SELECT term, count(*) AS tf FROM dt GROUP BY term),
      |tot AS (SELECT count(*) AS n_total FROM dt),
      |lp AS (SELECT term,
      |  CAST(floor(ln(CAST(tf AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1048576) AS BIGINT) AS lp_fp
      |  FROM f CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tok, CAST(sum(lp_fp) AS BIGINT) AS sum_lp_fp
      |FROM dt JOIN lp USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  query("lm2_bigram_logprob") { (s, d) =>
    Curation.bigramLogprobScore(Tables.documents(s, d))
      .orderBy("doc_id")
  }(
    // lm2: the same fixed-point recipe one n-gram up — interpolated
    // bigram probability with the unigram back-off, λ = 0.5.
    """WITH dt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |toks AS (SELECT doc_id, unnest(t) AS term FROM dt),
      |bgl AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> [t[i], t[i + 1]])) AS p FROM dt),
      |bg AS (SELECT doc_id, p[1] AS c, p[2] AS n FROM bgl),
      |uni AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
      |tot AS (SELECT count(*) AS nn FROM toks),
      |cf AS (SELECT c, count(*) AS cfc FROM bg GROUP BY c),
      |bf AS (SELECT c, n, count(*) AS bfc FROM bg GROUP BY c, n),
      |lp AS (SELECT bf.c, bf.n,
      |  CAST(floor(ln(
      |    0.5 * (CAST(bfc AS DOUBLE) / CAST(cfc AS DOUBLE)) +
      |    0.5 * (CAST(tf AS DOUBLE) / CAST(nn AS DOUBLE))) * 1048576) AS BIGINT) AS lp_fp
      |  FROM bf JOIN cf USING (c) JOIN uni ON uni.term = bf.n CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_bigram, CAST(sum(lp_fp) AS BIGINT) AS sum_lp_fp
      |FROM bg JOIN lp USING (c, n) GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** pmi1 — top bigram collocations by fixed-point PMI (phrase mining
    * over the corpus). Full (pmi, w1, w2) ordering makes the LIMIT
    * deterministic.
    */
  query("pmi1_collocations") { (s, d) =>
    Curation.bigramPmi(Tables.documents(s, d), minCount = 5)
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(40)
  }(
    // pmi1: exact integer counts; the log ratio is ONE left-associative
    // product chain and one division on doubles — bit-identical in both
    // engines, then floor(·2^20) is exact (the lm1 pattern).
    """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |uni AS (SELECT unnest(toks) AS w FROM t),
      |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
      |nu AS (SELECT count(*) AS nu FROM uni),
      |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
      |  FROM (SELECT toks, unnest(generate_series(1, greatest(CAST(len(toks) AS BIGINT) - 1, 0))) AS i FROM t)),
      |nb AS (SELECT count(*) AS nb FROM bg),
      |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT w1, w2, c12,
      |  CAST(floor(ln((CAST(c12 AS DOUBLE) * CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE))
      |    / (CAST(nb AS DOUBLE) * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1048576) AS BIGINT) AS pmi_fp
      |FROM bc JOIN (SELECT w AS w1, c AS c1 FROM uc) u1 USING (w1)
      |JOIN (SELECT w AS w2, c AS c2 FROM uc) u2 USING (w2)
      |CROSS JOIN nu CROSS JOIN nb
      |ORDER BY pmi_fp DESC, w1, w2 LIMIT 40""".stripMargin)

  /** ent1 — per-doc token entropy (vocabulary flatness), fixed-pointed
    * per (doc, term) then integer-summed — partition-order-proof.
    */
  query("ent1_token_entropy") { (s, d) =>
    Curation.tokenEntropy(Tables.documents(s, d))
      .orderBy("doc_id")
  }(
    // ent1: ln on identical doubles, floored to fixed point per
    // (doc, term), then exact integer weighting — the lm1 pattern applied
    // within documents. DuckDB BIGINT sums widen to HUGEINT → cast back.
    """WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM dt GROUP BY 1, 2),
      |wl AS (SELECT doc_id, tf, sum(tf) OVER (PARTITION BY doc_id) AS len FROM tf),
      |fp AS (SELECT doc_id, tf, len,
      |  CAST(floor(ln(CAST(tf AS DOUBLE) / CAST(len AS DOUBLE)) * 1048576) AS BIGINT) AS lp FROM wl)
      |SELECT doc_id, CAST(max(len) AS BIGINT) AS n_tok,
      |  CAST(-sum(tf * lp) AS BIGINT) AS entropy_fp
      |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** nov1 — gram novelty vs a reference slice (every 3rd doc): the
    * novelty-weighted sampling signal; integer-ratio novelty fraction is
    * engine-exact.
    */
  query("nov1_gram_novelty") { (s, d) =>
    val docs = Tables.documents(s, d)
    Curation.gramNovelty(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), ngramK = 3)
      .orderBy("doc_id")
  }(
    // nov1: per-doc DISTINCT grams (list_distinct mirrors array_distinct),
    // left join against the reference slice's distinct grams, integer-
    // ratio novelty (both engines divide the same exact integers).
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 2),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END) AS grams FROM t),
      |dg AS (SELECT doc_id, unnest(grams) AS gram FROM s),
      |ref AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 3 = 0),
      |q AS (SELECT doc_id, gram FROM dg WHERE doc_id % 3 <> 0)
      |SELECT q.doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
      |FROM q LEFT JOIN ref ON q.gram = ref.gram
      |GROUP BY q.doc_id ORDER BY q.doc_id""".stripMargin)

  /** hist1 — equi-width histogram of document lengths (width 50): the
    * length-distribution profile every curation run starts from.
    */
  query("hist1_char_lengths") { (s, d) =>
    operators.Profiling.histogram(Tables.documents(s, d), col("n_chars"), 50)
  }("""SELECT CAST(n_chars AS BIGINT) - CAST(n_chars AS BIGINT) % 50 AS bucket_lo, count(*) AS n
      |FROM documents GROUP BY bucket_lo ORDER BY bucket_lo""".stripMargin)

  /** cap1 — per-source document cap: keep the 5 best-quality docs per
    * source (ties → lowest id). The anti-concentration step of a web
    * corpus mix; ranking windows run per source, never globally.
    */
  query("cap1_source_cap") { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), TextOps.qualityScore(col("text")).as("__q"))
    operators.Curation.capPerGroup(
        scored, Seq(col("source")), col("__q"), col("doc_id"), k = 5)
      .select(col("source"), col("doc_id"), col("rn"))
      .orderBy("source", "rn")
  }(
    // cap1: quality formula mirrors TextOps.qualityScore exactly (the
    // e12 qual CTE); ranking ties break on doc_id so the window is
    // deterministic on both engines.
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |q AS (SELECT doc_id, source,
       |  least(CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |  least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) AS q
       |  FROM t),
       |r AS (SELECT source, doc_id,
       |  row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn FROM q)
       |SELECT source, doc_id, rn FROM r WHERE rn <= 5
       |ORDER BY source, rn""".stripMargin)

  /** PIPE1 — end-to-end curation pipeline (the LLM-data half of the
    * north_star, composed the way pipe0 composes the spatial stack):
    * quality score + language ID → quality filter → exact dedup (keep
    * min doc per md5(text)) → eval-set decontamination → deterministic
    * hash split → census per (split, language). Every stage is the
    * already-oracled operator (E4/E5/E1/E11/SAMP1 semantics); the value
    * here is proving they compose in ONE plan: the tokenization is done
    * once and feeds score+langid together, and every filter is a pure
    * projection/semi-join — no RNG, no driver state, shuffle only at the
    * dedup window, the decontamination gram join, and the final census.
    */
  query("pipe1_curation") { (s, d) =>
    val docs = Tables.documents(s, d)
    // Decontaminate FIRST: it commutes with every later stage (scoring and
    // langid are per-row; identical texts have identical grams, so the
    // kept-min-doc of an exact-dup group is contaminated iff every copy
    // is), and front-loading it means the expensive score+window subtree
    // is built ONCE — an anti-join plan references its base twice, and
    // union/join branches get no subtree reuse, so whatever sits below the
    // anti join executes twice. Spread before, so the CPU-heavy scoring
    // that follows the (partitioning-preserving) broadcast anti join runs
    // on all cores, not the scan's single file partition.
    val spreadDocs = operators.Partitioning.spread(docs)
    val clean = operators.Curation.decontaminate(
      spreadDocs, docs.filter(col("doc_id") % 97 === 0), ngramK = 3)
    val scored = clean
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        TextOps.stopwordHits(col("_toks"), TextOps.AllStopwords).cast("double").as("_hits"),
        TextOps.langGuessFromTokens(col("_toks")).as("lang_guess"))
      .withColumn("quality",
        least(col("n_tokens") / lit(100.0), lit(1.0)) * lit(0.5) +
          least(col("_hits") / col("n_tokens") * lit(4.0), lit(1.0)) * lit(0.5))
      .filter(col("quality") >= lit(0.3))
    val dedupW = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val deduped = scored
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1)
    deduped
      .withColumn("split", operators.Curation.hashSplit(deduped, "doc_id"))
      .groupBy("split", "lang_guess")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("split", "lang_guess")
  }(
    // pipe1 replays the composed curation pipeline stage by stage as CTEs;
    // every arithmetic step (stop ratio, quality, bucket) is the identical
    // IEEE double expression in the same order, so the quality filter
    // and the bucket cuts agree bit-for-bit with the Spark plan.
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |u AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) AS hits,
       |  (list_sort([${TextOps.LangStopwords.map { case (lang, words) =>
              s"{'n': -CAST(${sqlLangHits(words)} AS BIGINT), 'l': '$lang'}" }.mkString(", ")}]))[1].l AS lang_guess
       |  FROM t),
       |q AS (SELECT *, least(n_tokens / 100.0, 1.0) * 0.5 + least(hits / n_tokens * 4.0, 1.0) * 0.5 AS quality FROM u),
       |kept AS (SELECT * FROM q WHERE quality >= 0.3),
       |ded AS (SELECT doc_id, text, toks, n_tokens, lang_guess FROM (
       |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM kept) WHERE rn = 1),
       |dgrams AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3 THEN [text]
       |  ELSE list_transform(generate_series(1, len(toks) - 2),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END)) AS gram FROM ded),
       |egrams AS (SELECT DISTINCT unnest(CASE WHEN len(toks) < 3 THEN [text]
       |  ELSE list_transform(generate_series(1, len(toks) - 2),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END) AS gram
       |  FROM t WHERE doc_id % 97 = 0),
       |bad AS (SELECT DISTINCT doc_id FROM dgrams JOIN egrams USING (gram)),
       |clean AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |sp AS (SELECT lang_guess, n_tokens,
       |  ${sqlHexVal("md5(CAST(doc_id AS VARCHAR))", 4)} % 100 AS bucket FROM clean)
       |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang_guess, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM sp GROUP BY split, lang_guess ORDER BY split, lang_guess""".stripMargin)

  /** pipe2 — the round-3 curation chain in ONE composed plan: quality gate
    * (zero-shuffle audit filter) → cross-doc passage-dup filter (the only
    * corpus-wide exchange, joined back as a semi join) → deterministic
    * hash split → per-split token-budget packing → shard census. The
    * 100 TB shape: per-row signals never shuffle, the doc-level verdicts
    * are tiny semi-join sides, packing windows are per-split.
    */
  query("pipe2_curation_v2") { (s, d) =>
    val docs = operators.Partitioning.spread(Tables.documents(s, d))
    val passKeep = Curation.passageDupStats(docs, ngramK = 5)
      .filter(col("dup_passage_frac") <= lit(0.5))
      .select("doc_id")
    // gate INLINE (it keeps the caller's columns): the pushed-down filter
    // evaluates each gate signal once right at the scan — safe because
    // every signal is a single-reference scalar (see the PlanSpec
    // "evaluated ONCE" contract); only the corpus-wide passage verdict
    // needs a semi join
    val clean = Curation.qualityGate(docs).filter(col("keep"))
      .join(passKeep, Seq("doc_id"), "left_semi")
    val withSplit = clean.withColumn("split", Curation.hashSplit(clean, "doc_id"))
    Curation.packByTokenBudget(withSplit, TextOps.tokenCount(col("text")),
        "doc_id", budget = 2048, shardCol = Some("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("bin_id")).as("n_bins"),
        sum(col("n_tok")).as("sum_tokens"))
      .orderBy("split")
  }(
    // pipe2: gate (all-DOUBLE thresholds) ∩ passage filter → hash split →
    // per-split greedy packing → census. Every stage mirrors its
    // already-oracled standalone query.
    s"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
       |u AS (SELECT doc_id, lang, text, toks,
       |  least(CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |  least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) AS quality,
       |  (list_sort([${TextOps.LangStopwords.map { case (lang, words) =>
              s"{'n': -CAST(${sqlLangHits(words)} AS BIGINT), 'l': '$lang'}" }.mkString(", ")}]))[1].l AS guess,
       |  CASE WHEN len(toks) < 2 THEN [text] ELSE list_transform(generate_series(1, len(toks) - 1),
       |    i -> concat(toks[i], ' ', toks[i+1])) END AS g2,
       |  CASE WHEN len(toks) < 5 THEN [text] ELSE list_transform(generate_series(1, len(toks) - 4),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3], ' ', toks[i+4])) END AS g5
       |  FROM t),
       |c2 AS (SELECT doc_id, gram, count(*) AS c
       |  FROM (SELECT doc_id, unnest(g2) AS gram FROM u) GROUP BY doc_id, gram),
       |m2 AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS DOUBLE) /
       |  CAST(sum(c * length(gram)) AS DOUBLE) AS dup2 FROM c2 GROUP BY doc_id),
       |gatekeep AS (SELECT u.doc_id FROM u JOIN m2 ON u.doc_id = m2.doc_id
       |  WHERE NOT (quality < CAST(0.3 AS DOUBLE)) AND guess = lang AND NOT (dup2 > CAST(0.2 AS DOUBLE))),
       |occ AS (SELECT doc_id, g, count(*) AS occ
       |  FROM (SELECT doc_id, unnest(g5) AS g FROM u) GROUP BY doc_id, g),
       |dfq AS (SELECT g, count(*) AS ndocs FROM occ GROUP BY g),
       |passkeep AS (SELECT doc_id FROM occ JOIN dfq USING (g) GROUP BY doc_id
       |  HAVING CAST(sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS DOUBLE) /
       |    CAST(sum(occ) AS DOUBLE) <= CAST(0.5 AS DOUBLE)),
       |kept AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
       |  CASE WHEN ${sqlHexVal("md5(CAST(t.doc_id AS VARCHAR))", 4)} % 100 < 80 THEN 'train'
       |       WHEN ${sqlHexVal("md5(CAST(t.doc_id AS VARCHAR))", 4)} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |  FROM t
       |  JOIN gatekeep ON t.doc_id = gatekeep.doc_id
       |  JOIN passkeep ON t.doc_id = passkeep.doc_id),
       |packed AS (SELECT split, doc_id, n_tok,
       |  sum(n_tok) OVER (PARTITION BY split ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM kept)
       |SELECT split, count(*) AS n_docs,
       |  CAST(count(DISTINCT CAST(floor((cum - n_tok) / 2048) AS BIGINT)) AS BIGINT) AS n_bins,
       |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
       |FROM packed GROUP BY split ORDER BY split""".stripMargin)

  /** pipe3 — mix-construction pipeline over the round-4 surface, ONE
    * composed plan: quality gate (zero-shuffle audit filter) → per-source
    * quality cap (anti-concentration, per-group windows) → per-source
    * token-budget packing → shard census. Complements pipe2 (which
    * exercises the corpus-wide passage exchange); here every stage after
    * the gate is per-source, so the only wide exchange is the window
    * partition on source.
    */
  query("pipe3_mix_construction") { (s, d) =>
    val docs = operators.Partitioning.spread(Tables.documents(s, d))
    val gated = Curation.qualityGate(docs).filter(col("keep"))
    val scored = gated.select(col("doc_id"), col("source"), col("text"),
      TextOps.qualityScore(col("text")).as("__q"))
    val capped = Curation.capPerGroup(scored, Seq(col("source")), col("__q"), col("doc_id"), k = 10)
    Curation.packByTokenBudget(capped, TextOps.tokenCount(col("text")), "doc_id",
        budget = 1024, shardCol = Some("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("bin_id")).as("n_bins"),
        sum(col("n_tok")).as("sum_tokens"))
      .orderBy("source")
  }(
    // pipe3: gate signals + per-source rank + packing windows — the gate
    // CTEs mirror pipe2's, the rank mirrors cap1's, the bin arithmetic
    // mirrors pack1's. Rank ties break on doc_id; all counters integer.
    s"""WITH t AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks FROM documents),
       |u AS (SELECT doc_id, lang, source, toks,
       |  least(CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |  least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) AS quality,
       |  (list_sort([${TextOps.LangStopwords.map { case (lang, words) =>
              s"{'n': -CAST(${sqlLangHits(words)} AS BIGINT), 'l': '$lang'}" }.mkString(", ")}]))[1].l AS guess,
       |  CASE WHEN len(toks) < 2 THEN [text] ELSE list_transform(generate_series(1, len(toks) - 1),
       |    i -> concat(toks[i], ' ', toks[i+1])) END AS g2
       |  FROM t),
       |c2 AS (SELECT doc_id, gram, count(*) AS c
       |  FROM (SELECT doc_id, unnest(g2) AS gram FROM u) GROUP BY doc_id, gram),
       |m2 AS (SELECT doc_id, CAST(sum(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END) AS DOUBLE) /
       |  CAST(sum(c * length(gram)) AS DOUBLE) AS dup2 FROM c2 GROUP BY doc_id),
       |gatekeep AS (SELECT u.doc_id FROM u JOIN m2 ON u.doc_id = m2.doc_id
       |  WHERE NOT (quality < CAST(0.3 AS DOUBLE)) AND guess = lang AND NOT (dup2 > CAST(0.2 AS DOUBLE))),
       |ranked AS (SELECT u.doc_id, u.source,
       |  row_number() OVER (PARTITION BY u.source ORDER BY u.quality DESC, u.doc_id) AS rn
       |  FROM u JOIN gatekeep ON u.doc_id = gatekeep.doc_id),
       |kept AS (SELECT t.doc_id, t.source, CAST(len(t.toks) AS BIGINT) AS n_tok
       |  FROM t JOIN ranked r ON t.doc_id = r.doc_id WHERE r.rn <= 10),
       |packed AS (SELECT source, doc_id, n_tok,
       |  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM kept)
       |SELECT source, count(*) AS n_docs,
       |  CAST(count(DISTINCT CAST(floor((cum - n_tok) / 1024) AS BIGINT)) AS BIGINT) AS n_bins,
       |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
       |FROM packed GROUP BY source ORDER BY source""".stripMargin)

  /** bpe1 — TRUE byte-pair-encoding token counts (the upgrade over the
    * whitespace/regex proxies every pack/chunk operator budgeted with):
    * the 40-merge English table applied by rank, one codegen call per
    * document. The oracle replays the identical leftmost-lowest-rank
    * single-merge walk as a DuckDB recursive CTE over the corpus's
    * DISTINCT words (words encode independently, so the join-back is
    * exact) — the segmentation itself is hash-gated.
    */
  query("bpe1_bpe_tokens") { (s, d) =>
    Tables.documents(s, d).select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= lit("")))
          .cast("long").as("n_words"),
        graft.functions.BpeExprs.bpeCount(col("text"),
          graft.functions.BpeExprs.EnglishMerges).as("n_bpe"))
      .orderBy("doc_id")
  }(
    // bpe1: the identical leftmost-lowest-rank merge walk, replayed
    // recursively over distinct words — see sqlBpeTokens.
    sqlBpeTokens)

  /** BPE2 — DISTRIBUTED BPE TRAINING (learn the merges, don't just apply
    * them): the first 8 merges learned from the documents corpus by
    * iterative highest-weighted-pair merge over the distinct-word count
    * table ([[operators.BpeTrain]]). The oracle replays the training
    * loop as 8 unrolled CTE levels — pair census, (cnt DESC, pair ASC)
    * argmax, and the greedy non-overlapping single-merge rewrite via the
    * parity-of-run rule (equivalent to the engine's fold: a merged
    * symbol can never re-match its own left side within a pass). BpeSpec
    * separately proves bpe1's tokenizer reproduces the loop's
    * segmentation under the learned table.
    */
  query("bpe2_bpe_train") { (s, d) =>
    operators.BpeTrain.trainMergesDF(Tables.documents(s, d), col("text"), k = 8)
      .orderBy("rank")
  }(
    // bpe2: the 8-round training loop unrolled -- see sqlBpeTrain.
    sqlBpeTrain)

  /** bpe2's oracle — see [[bpe2]]; every CTE MATERIALIZED (the j21
    * lesson: lambdas reference prior levels many times). */
  private def sqlBpeTrain: String = {
    val K = 8
    val levels = (1 to K).flatMap { k =>
      Seq(
        s"""p$k AS MATERIALIZED (SELECT p.l AS l, p.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
           |  SELECT n, unnest(list_transform(range(1, length(st)), i ->
           |    struct_pack(l := st[i], r := st[i+1]))) AS p FROM s${k - 1}) GROUP BY 1, 2)""".stripMargin,
        s"""b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k WHERE cnt >= 2
           |  ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin,
        s"""m$k AS MATERIALIZED (SELECT w, n, st,
           |  list_transform(range(1, length(st)), i -> st[i] = b.l AND st[i+1] = b.r) AS mm
           |  FROM s${k - 1}, b$k b)""".stripMargin,
        s"""x$k AS MATERIALIZED (SELECT w, n, st, list_transform(range(1, length(st)), i ->
           |  mm[i] AND ((i - list_max(list_filter(range(0, i), j -> j = 0 OR NOT mm[j]))) % 2 = 1)) AS sel
           |  FROM m$k)""".stripMargin,
        s"""s$k AS MATERIALIZED (SELECT w, n, flatten(list_transform(range(1, length(st) + 1), i ->
           |  CASE WHEN i < length(st) AND sel[i] THEN [st[i] || st[i+1]]
           |       WHEN i > 1 AND sel[i-1] THEN []
           |       ELSE [st[i]] END)) AS st FROM x$k)""".stripMargin)
    }
    val base = Seq(
      """words AS MATERIALIZED (SELECT w, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> '' GROUP BY w)""".stripMargin,
      "s0 AS MATERIALIZED (SELECT w, n, string_split(w, '') AS st FROM words)")
    val union = (1 to K).map(k =>
      s"SELECT ${k - 1} AS rank, l AS lhs, r AS rhs, cnt FROM b$k").mkString("\nUNION ALL ")
    (base ++ levels).mkString("WITH ", ",\n", "\n") +
      s"SELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** norm1 — unicode normalization as a curation key: NFC + accent fold
    * (NFD → drop marks → NFC) through the codegen expression, then the
    * engines' shared lower/whitespace-collapse/trim, fingerprinted. The
    * oracle runs DuckDB's OWN independent implementations
    * (nfc_normalize + strip_accents) — a hash match is two engines
    * agreeing on the Unicode standard, not a replayed formula.
    */
  query("norm1_unicode_norm") { (s, d) =>
    def chain =
      trim(regexp_replace(lower(
        graft.functions.NormExprs.unicodeNorm(col("text"), "NFC", stripAccents = true)),
        "\\s+", " "))
    Tables.documents(s, d).select(col("doc_id"),
        md5(chain).as("norm_fp"),
        length(chain).cast("long").as("n_chars_norm"))
      .orderBy("doc_id")
  }(
    // norm1: DuckDB's OWN nfc_normalize/strip_accents against the
    // engine's Normalizer kernel — independent implementations of the
    // same Unicode standard must agree.
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), '\s+', ' ', 'g'))) AS norm_fp,
      |  CAST(length(trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** tfidf2 — sparse lexical pair similarity over rare 3-gram TF-IDF
    * vectors (posting-list enumeration, df capped at 20): the lexical
    * twin of e3's dense cosine. 2^20 fixed-point weights make every
    * accumulation integer-exact, so the cosine is hash-stable.
    */
  query("tfidf2_pair_similarity") { (s, d) =>
    operators.Similarity.sparseTfidfPairs(Tables.documents(s, d),
        dfCap = 20, minCosine = 0.3, ngramK = 3)
      .orderBy("a", "b")
  }(
    // tfidf2: same fixed-point weight (tf · floor(ln(N/df)·2^20)) on both
    // engines; all sums are exact integers (HUGEINT in DuckDB, DECIMAL(38)
    // in Spark), so the cosine is one correctly-rounded divide per pair.
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
      |  ELSE list_transform(generate_series(1, len(toks) - 2),
      |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS sh FROM t),
      |dt AS (SELECT doc_id, gram, count(*) AS tf FROM (SELECT doc_id, unnest(sh) AS gram FROM s) GROUP BY doc_id, gram),
      |dfc AS (SELECT gram, count(*) AS df FROM dt GROUP BY gram),
      |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |w AS (SELECT doc_id, dt.gram,
      |  tf * CAST(floor(ln(CAST((SELECT n FROM nd) AS DOUBLE) / df) * 1048576) AS BIGINT) AS w
      |  FROM dt JOIN dfc ON dt.gram = dfc.gram WHERE df BETWEEN 2 AND 20),
      |nrm AS (SELECT doc_id, sum(w * w) AS nsq FROM w GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared, sum(CAST(a.w AS HUGEINT) * b.w) AS dot
      |  FROM w a JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id),
      |c AS (SELECT a, b, n_shared,
      |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cosine
      |  FROM p JOIN nrm na ON p.a = na.doc_id JOIN nrm nb ON p.b = nb.doc_id)
      |SELECT a, b, n_shared, cosine FROM c WHERE cosine >= CAST(0.3 AS DOUBLE) ORDER BY a, b""".stripMargin)

  /** bm25_1 — BM25 ranked retrieval of the per-query top-10 documents for
    * a three-query eval set (Lucene idf formulation; k1=1.2, b=0.75). The
    * corpus's term occurrences are broadcast-restricted to the query
    * vocabulary BEFORE any exchange, fixed-point contributions make the
    * per-(query, doc) sum integer-exact, and ranking rides TopKPerKey.
    */
  query("bm25_1_ranked_retrieval") { (s, d) =>
    import s.implicits._
    val queries = Seq(
      (1L, "spark hash join"), (2L, "fast table scan"), (3L, "stream window agg"))
      .toDF("query_id", "query_text")
    operators.Similarity.bm25TopK(Tables.documents(s, d), queries, k = 10)
      .orderBy("query_id", "rank")
  } {
    // bm25_1: identical Lucene-BM25 closed form; every per-term
    // contribution fixed-pointed (floor(x·2^20) BIGINT) so per-(query,doc)
    // sums are integer-exact; constants (k1+1, 1-b, ...) interpolated from
    // the same Scala doubles the Column algebra uses.
    val (k1, b) = (1.2, 0.75)
    s"""WITH q(query_id, query_text) AS (VALUES
      |    (CAST(1 AS BIGINT), 'spark hash join'),
      |    (CAST(2 AS BIGINT), 'fast table scan'),
      |    (CAST(3 AS BIGINT), 'stream window agg')),
      |stats AS (SELECT count(*) AS n, sum(len(string_split(text, ' '))) AS tot FROM documents),
      |qt AS (SELECT DISTINCT query_id, unnest(string_split(query_text, ' ')) AS term FROM q),
      |qv AS (SELECT DISTINCT term FROM qt),
      |occ AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |    unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, dl, o.term, count(*) AS tf
      |  FROM occ o JOIN qv ON o.term = qv.term GROUP BY doc_id, dl, o.term),
      |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |con AS (SELECT qt.query_id, tf.doc_id,
      |    CAST(floor(
      |      ln(1.0 + (CAST(s.n AS DOUBLE) - CAST(dfc.df AS DOUBLE) + 0.5)
      |              / (CAST(dfc.df AS DOUBLE) + 0.5))
      |      * (CAST(tf.tf AS DOUBLE) * ${k1 + 1.0})
      |      / (CAST(tf.tf AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(tf.dl AS DOUBLE)
      |          / (CAST(s.tot AS DOUBLE) / CAST(s.n AS DOUBLE))))
      |      * 1048576.0) AS BIGINT) AS c
      |  FROM tf JOIN dfc ON tf.term = dfc.term JOIN qt ON tf.term = qt.term
      |  CROSS JOIN stats s),
      |sc AS (SELECT query_id, doc_id AS neighbor_id, CAST(sum(c) AS BIGINT) AS score
      |  FROM con GROUP BY query_id, doc_id),
      |r AS (SELECT query_id, neighbor_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
      |  FROM sc)
      |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin
  }

  private def sqlLangHits(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
}
