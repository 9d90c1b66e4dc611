package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis / dedup expression catalog (extension surface E1/E4 of
  * SURVEY.md §2.6 — the LLM-training-data operators BASELINE.json mandates
  * beyond the reference's raster surface).
  *
  * Everything here is pure `Column` algebra (codegen'd, no UDFs), and every
  * hash is derived from `md5` so the identical value is computable in any
  * ANSI-ish SQL engine — that is what makes MinHash/SimHash signatures
  * oracle-checkable instead of opaque.
  */
object TextOps {

  /** Whitespace tokenizer (documents.text is space-separated tokens, FIXTURES.md). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish regex token count: alpha runs, digit runs, or single non-space
    * symbols. The pattern is RE2/Java-regex compatible for oracle parity.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** E1 — content fingerprint: md5 of the sorted distinct token set.
    * Near-dup docs that only permute/repeat tokens collapse to one key;
    * grouping on it is the scalable exact-ish dedup (one shuffle on a
    * 32-char key regardless of document size).
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(tokens(text)))))

  // ---- md5-derived integer hashing (oracle-portable) ----

  /** Integer value of the first `k` hex chars of `h` (k ≤ 15 for Long).
    * Single `conv` node — the equivalent per-digit ascii arithmetic (which
    * the DuckDB oracle uses, lacking conv) expands to ~4k codegen nodes per
    * digit and bloated generated classes enough to thrash the codegen cache
    * in multi-query sessions.
    */
  def hexVal(h: Column, k: Int): Column =
    conv(substring(h, 1, k), 16, 10).cast("long")

  /** Seeded 24-bit hash H_seed(s) = int(md5(seed || '|' || s)[0:6], 16).
    * The seed family gives the independent hash functions MinHash needs
    * (cf. pixel_classifier_stream.py:49-55's md5 key hashing for parity
    * of spirit: stable, content-derived keys).
    */
  def seededHash(s: Column, seed: Int): Column =
    hexVal(md5(concat(lit(seed.toString), lit("|"), s)), 6)

  /** k-shingles (k consecutive tokens joined by space); documents shorter
    * than k tokens yield their whole text as the single shingle.
    */
  def shingles(toks: Column, k: Int = 3): Column =
    // custom codegen expression: the HOF spelling (transform(sequence...))
    // is interpreted AND re-evaluates a non-column `toks` expression per
    // element (O(tokens²) after CollapseProject re-inlines the alias) —
    // see ShinglesExpr's doc; semantics bit-identical, oracle-checked
    ShinglesExpr.shingles(toks, k)

  /** MinHash via the classic linear-permutation family: one md5-derived
    * 24-bit base hash per shingle, then component j takes the min of
    * (a_j·h + b_j) mod P over the shingle set. One md5 per shingle total
    * (a per-seed md5 family costs 8× the hashing AND generates classes
    * big enough that janino compilation dominated whole benchmark runs);
    * the linear mixing is 24-bit × 24-bit so every intermediate fits
    * int64 exactly in any engine — oracle-portable.
    */
  val MinhashP = 16777213L // largest prime < 2^24
  def minhashParams(j: Int): (Long, Long) =
    (((2654435761L * (j + 1)) % MinhashP) | 1L, (40503L * (j + 7)) % MinhashP)

  /** 24-bit base hashes of a shingle array (stage as its own projection). */
  def shingleHashes(shingleArr: Column): Column =
    transform(transform(shingleArr, sh => md5(sh)), h => hexVal(h, 6))

  /** Component j from a bound base-hash array column. */
  def minhashComponent(hashArr: Column, j: Int): Column = {
    val (a, b) = minhashParams(j)
    array_min(transform(hashArr, h => (lit(a) * h + lit(b)) % lit(MinhashP)))
  }

  /** 16-bit token-hash array for SimHash: md5-derived, distinct tokens.
    * Materialize this as its OWN projection before `simhash16FromHashes` —
    * the 16 bit-vote aggregates each reference the array, and inlining it
    * would rebuild the md5 array 16× per row.
    */
  def tokenHashes16(text: Column): Column =
    transform(transform(array_distinct(tokens(text)), t => md5(t)), h => hexVal(h, 4))

  /** 16-bit SimHash from a bound hash-array column. Bit j of each token
    * hash votes +1/−1; signature bit j is 1 iff the vote sum is positive.
    * Integer sums only → order-independent → oracle-exact.
    */
  def simhash16FromHashes(hashes: Column): Column =
    (0 until 16)
      .map { j =>
        val votes = aggregate(
          hashes,
          lit(0L),
          (acc, h) => acc + (shiftright(h, j) % 2) * lit(2L) - lit(1L))
        when(votes > 0, lit(1L) * lit(1L << j)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  /** Convenience single-expression form (tests / one-off use; for bulk
    * scans stage `tokenHashes16` first).
    */
  def simhash16(text: Column): Column = simhash16FromHashes(tokenHashes16(text))

  /** 60-bit token-hash array for the WIDE SimHash (r12 scale path): 15
    * hex chars of md5 = 60 bits, the widest value `conv` holds exactly
    * in a signed long on both engines. Same distinct-token contract as
    * the 16-bit form.
    */
  def tokenHashes60(text: Column): Column =
    transform(transform(array_distinct(tokens(text)), t => md5(t)), h => hexVal(h, 15))

  /** 60-bit SimHash from a bound hash-array column — one codegen pass
    * (see [[SimHashExpr]]), vote semantics identical to the 16-bit form.
    */
  def simhash60FromHashes(hashes: Column): Column = SimHashExpr.simhash(hashes, 60)

  /** Convenience single-expression 60-bit form. */
  def simhash60(text: Column): Column = simhash60FromHashes(tokenHashes60(text))

  /** Polynomial rolling-hash document fingerprint (order-sensitive, unlike
    * `fingerprint`): h = fold(0, (acc, t) → (acc·B + H(t)) mod M) over the
    * token stream, H = 24-bit md5 hash. B=131, M=1e9+7 keeps every
    * intermediate < 2^63 so the value is exact in any int64 engine —
    * oracle-portable without overflow-semantics hazards.
    */
  val RollBase = 131L
  val RollMod = 1000000007L
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(transform(tokens(text), t => md5(t)), h => hexVal(h, 6)),
      lit(0L),
      (acc, t) => (acc * lit(RollBase) + t) % lit(RollMod))

  // ---- within-document repetition metrics (Gopher-style quality rules) ----

  /** Run-length fold over a SORTED n-gram array → repetition counters.
    *
    * Returns `struct(dup, best, tot)` (all BIGINT, char-weighted):
    *   - `tot`  = Σ over grams g of count(g)·len(g) — total gram chars,
    *   - `dup`  = the same sum restricted to grams with count ≥ 2 (chars
    *     covered by repeated n-grams — the Rae et al. 2021 "Gopher rules"
    *     duplicate-n-gram fraction numerator, a public quality heuristic),
    *   - `best` = max over grams of count(g)·len(g) (chars covered by the
    *     single most-repeated gram — the top-n-gram-coverage numerator).
    *
    * Shuffle-free by design: sorting the per-row gram array makes equal
    * grams adjacent, so one left fold with a (prev, run) state counts every
    * run — no explode, no groupBy, no exchange. At 100 TB this is the
    * difference between a free per-row projection and two corpus-wide
    * shuffles keyed on (doc, gram). All counters are exact integer
    * arithmetic, so the relational DuckDB oracle (unnest + GROUP BY)
    * reproduces the derived fractions bit-exactly.
    *
    * The input MUST be sorted (`sort_array`); stage it as its own
    * projection column (HOF lambdas get no CSE).
    */
  def repetitionCounts(sortedGrams: Column): Column = {
    def counters(st: Column): (Column, Column, Column) = {
      val chars = st.getField("run") * length(st.getField("prev")).cast("long")
      (st.getField("dup") + when(st.getField("run") >= 2, chars).otherwise(lit(0L)),
        greatest(st.getField("best"), chars),
        st.getField("tot") + chars)
    }
    aggregate(
      sortedGrams,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup"),
        lit(0L).as("best"), lit(0L).as("tot")),
      (st, g) => {
        val (dup, best, tot) = counters(st)
        when(st.getField("prev") === g,
          struct(g.as("prev"), (st.getField("run") + lit(1L)).as("run"),
            st.getField("dup").as("dup"), st.getField("best").as("best"),
            st.getField("tot").as("tot")))
          .otherwise(
            struct(g.as("prev"), lit(1L).as("run"),
              dup.as("dup"), best.as("best"), tot.as("tot")))
      },
      st => {
        val (dup, best, tot) = counters(st)
        struct(dup.as("dup"), best.as("best"), tot.as("tot"))
      })
  }

  /** Scalar duplicate-char fraction (dup/tot from `repetitionCounts`)
    * computed INSIDE the fold's finish lambda. Extracting multiple fields
    * from a staged struct re-inlines the whole fold once per field —
    * CollapseProject treats struct-field extraction as collapsible
    * regardless of cost — so consumers that need just this fraction get a
    * single-fold scalar with no extraction at all.
    */
  def dupFraction(sortedGrams: Column): Column =
    aggregate(
      sortedGrams,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup"),
        lit(0L).as("best"), lit(0L).as("tot")),
      (st, g) => {
        val chars = st.getField("run") * length(st.getField("prev")).cast("long")
        when(st.getField("prev") === g,
          struct(g.as("prev"), (st.getField("run") + lit(1L)).as("run"),
            st.getField("dup").as("dup"), st.getField("best").as("best"),
            st.getField("tot").as("tot")))
          .otherwise(
            struct(g.as("prev"), lit(1L).as("run"),
              (st.getField("dup") + when(st.getField("run") >= 2, chars).otherwise(lit(0L))).as("dup"),
              greatest(st.getField("best"), chars).as("best"),
              (st.getField("tot") + chars).as("tot")))
      },
      st => {
        val chars = st.getField("run") * length(st.getField("prev")).cast("long")
        val dup = st.getField("dup") + when(st.getField("run") >= 2, chars).otherwise(lit(0L))
        val tot = st.getField("tot") + chars
        dup.cast("double") / tot.cast("double")
      })

  // ---- language-ID heuristic + quality scoring ----

  /** Tiny per-language stopword lists for the n-gram/stopword lang-ID
    * heuristic. Deliberately small so the oracle SQL mirrors it 1:1.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))

  /** Language guess from a bound token-array column: arg-max stopword hit
    * count, ties broken by language code ascending (deterministic —
    * SURVEY.md §7 hard part c discipline). Implemented as a sort over
    * (−score, lang) structs so both Spark and DuckDB order identically.
    * Stage the token array as its own projection for bulk scans.
    */
  def langGuessFromTokens(toks: Column): Column = {
    val entries = LangStopwords.map { case (lang, words) =>
      struct((lit(0L) - stopwordHits(toks, words).cast("long")).as("n"), lit(lang).as("l"))
    }
    element_at(array_sort(array(entries: _*)), 1).getField("l")
  }

  def langGuess(text: Column): Column = langGuessFromTokens(tokens(text))

  val AllStopwords: Seq[String] = LangStopwords.flatMap(_._2).distinct

  /** Stopword ratio (any language's stopwords) — a quality-score component. */
  def stopwordRatioFromTokens(toks: Column): Column =
    stopwordHits(toks, AllStopwords).cast("double") / size(toks).cast("double")

  def stopwordRatio(text: Column): Column = stopwordRatioFromTokens(tokens(text))

  /** Mean token length in characters, derived exactly from integer counts. */
  def meanTokenLen(text: Column): Column =
    (length(text) - (tokenCount(text) - lit(1))).cast("double") /
      tokenCount(text).cast("double")

  /** Composite quality score in [0,1]: length saturation + stopword signal.
    * Deterministic double arithmetic (two mults, one add) — oracle-safe.
    */
  def qualityScore(text: Column): Column =
    least(tokenCount(text).cast("double") / lit(100.0), lit(1.0)) * lit(0.5) +
      least(stopwordRatio(text) * lit(4.0), lit(1.0)) * lit(0.5)
}
