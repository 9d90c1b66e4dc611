package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** TRUE byte-pair-encoding tokenization (Sennrich et al. 2016; the GPT-2
  * encoder family) — the upgrade over [[TextOps.bpeishCount]]'s regex
  * approximation: a real merges table applied by rank. The engine
  * defines the encode as LEFTMOST-LOWEST-RANK SINGLE merge per step
  * (repeat until no table pair is adjacent), which for any well-formed
  * table (a merged symbol's own merges rank after the merges that build
  * it — true of every learned table) produces the standard greedy BPE
  * segmentation, and — unlike "merge all occurrences per step" — is
  * directly replayable as a DuckDB recursive CTE, so per-document token
  * counts are hash-oracle-able (bpe1).
  *
  * Scale shape: the count expression is one static call per document —
  * no word explode, no shuffle, and the merges table rides the
  * serialized plan once per task (a learned 50k-merge table is ~1 MB,
  * broadcast-class). Words tokenize independently, so corpora dedupe
  * words upstream if they want (the oracle does).
  *
  * Reference analog: token budgeting for pack/chunk operators
  * (SURVEY §2.6 E-surface) — counts that match a real tokenizer's
  * segmentation, not a whitespace proxy.
  */
object BpeExprs {

  /** A small well-formed English merges table (common digraphs/trigraphs,
    * each compound ranked after its parts) — the fixture vocabulary for
    * bpe1 and the specs; real users pass their learned table.
    */
  val EnglishMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("e", "d"), ("o", "r"), ("s", "t"), ("e", "n"),
    ("a", "t"), ("t", "o"), ("o", "u"), ("i", "t"), ("i", "s"), ("a", "l"),
    ("in", "g"), ("e", "s"), ("c", "h"), ("l", "l"), ("o", "m"), ("u", "s"),
    ("m", "e"), ("s", "e"), ("w", "h"), ("wh", "e"), ("whe", "n"),
    ("th", "at"), ("th", "is"), ("f", "or"), ("b", "e"), ("w", "as"),
    ("w", "a"), ("wa", "s"), ("h", "e"), ("s", "h"), ("sh", "e"), ("y", "ou"))

  /** The -keyed rank table; validates the merges list fail-closed
    * (empty symbols and duplicate pairs are table-construction bugs that
    * would silently change every count downstream).
    */
  def rankMap(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    require(merges.nonEmpty, "merges table is empty")
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(a.nonEmpty && b.nonEmpty, s"merge $i has an empty symbol")
      require(!a.contains('') && !b.contains(''),
        s"merge $i contains the reserved pair separator")
      val prev = m.put(a + '' + b, i)
      require(prev == null, s"duplicate merge pair ($a, $b)")
    }
    m
  }

  /** Encode ONE word: leftmost-lowest-rank single merge until fixpoint.
    * Characters are Unicode code points (what both engines' char split
    * yields for BMP text; the testdata and any UTF-8 corpus agree).
    */
  def encodeWord(word: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    if (word.isEmpty) return Array.empty
    val st = new java.util.ArrayList[String](word.length)
    var ci = 0
    while (ci < word.length) {
      val cp = word.codePointAt(ci)
      val n = Character.charCount(cp)
      st.add(word.substring(ci, ci + n))
      ci += n
    }
    var done = false
    while (!done && st.size > 1) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < st.size - 1) {
        // the reserved U+001F pair separator can reach a symbol only FROM
        // INPUT TEXT (rankMap rejects it in the table), and a symbol
        // containing it would alias a different table pair's lookup key
        // (a+SEP+b); such symbols never merge -- they pass through as
        // opaque tokens, deterministically, instead of silently
        // mis-merging adversarial/binary-ish text
        val l = st.get(i); val rr = st.get(i + 1)
        if (l.indexOf('') < 0 && rr.indexOf('') < 0) {
          val r = ranks.get(l + '' + rr)
          if (r != null && r < bestRank) { bestRank = r; bestI = i }
        }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        st.set(bestI, st.get(bestI) + st.get(bestI + 1))
        st.remove(bestI + 1)
      }
    }
    val out = new Array[String](st.size)
    st.toArray(out)
    out
  }

  /** Token count of a whole text: single-space word split (the engine's
    * tokens() contract), empty words contribute nothing, words encode
    * independently.
    */
  def countText(text: UTF8String, ranks: java.util.HashMap[String, Integer]): Long = {
    var total = 0L
    val s = text.toString
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) total += encodeWord(s.substring(start, i), ranks).length
        start = i + 1
      }
      i += 1
    }
    total
  }

  /** Column entry: BPE token count of a text column. */
  def bpeCount(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeCountExpr(GraftBridge.expression(text), merges))

  /** Column entry: BPE segmentation of a single WORD column. */
  def bpeTokens(word: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeTokensExpr(GraftBridge.expression(word), merges))
}

/** text → total BPE token count (one static call per row, no explode). */
case class BpeCountExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  @transient private lazy val ranks = BpeExprs.rankMap(merges)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_count needs a string, got $t")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    BpeExprs.countText(input.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, classOf[java.util.HashMap[_, _]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeExprs.countText($c, $ranksRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** word → its BPE symbol array (for inspection / vocab analytics). */
case class BpeTokensExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  @transient private lazy val ranks = BpeExprs.rankMap(merges)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bpe_tokens needs a string, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val toks = BpeExprs.encodeWord(input.asInstanceOf[UTF8String].toString, ranks)
    new GenericArrayData(toks.map(UTF8String.fromString(_)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, classOf[java.util.HashMap[_, _]].getName)
    val adClass = classOf[GenericArrayData].getName
    val u8Class = classOf[UTF8String].getName
    // freshName, not fixed locals: a non-nullable child makes
    // nullSafeCodeGen emit this UNBRACED, and two instances in one
    // projection would redeclare the same Janino locals
    val toks = ctx.freshName("bpeToks")
    val u8 = ctx.freshName("bpeU8")
    val i = ctx.freshName("bpeI")
    nullSafeCodeGen(ctx, ev, c =>
      s"""String[] $toks = graft.functions.BpeExprs.encodeWord($c.toString(), $ranksRef);
         |$u8Class[] $u8 = new $u8Class[$toks.length];
         |for (int $i = 0; $i < $toks.length; $i++) $u8[$i] = $u8Class.fromString($toks[$i]);
         |${ev.value} = new $adClass($u8);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
