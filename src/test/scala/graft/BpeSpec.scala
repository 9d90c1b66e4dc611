package graft

import graft.functions.BpeExprs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ranks = BpeExprs.rankMap(BpeExprs.EnglishMerges)

  test("known segmentations (incl. the rank-order subtlety in 'when')") {
    // 'when' is w-h-e-n: (e,n) rank 11 beats (w,h) rank 26, so the
    // trigraph chain wh→whe→when never forms — ['wh','en'], not ['when']
    val expected = Map(
      "the" -> Seq("the"),
      "when" -> Seq("wh", "en"),
      "that" -> Seq("that"),
      "this" -> Seq("this"),
      "washington" -> Seq("was", "h", "ing", "t", "on"),
      "interesting" -> Seq("in", "t", "er", "e", "st", "ing"),
      "attention" -> Seq("at", "t", "en", "t", "i", "on"),
      "hello" -> Seq("he", "ll", "o"),
      "a" -> Seq("a"),
      "mississippi" -> Seq("m", "is", "s", "is", "s", "i", "p", "p", "i"))
    expected.foreach { case (w, exp) =>
      assert(BpeExprs.encodeWord(w, ranks).toSeq == exp, s"word $w")
    }
  }

  test("tokens always concatenate back to the word; fixpoint has no table pair") {
    val words = Seq("the", "quick", "brown", "foxes", "jumped", "over",
      "lazy", "dogs", "antidisestablishmentarianism", "zzz", "x",
      "together", "understanding", "chesterton")
    words.foreach { w =>
      val toks = BpeExprs.encodeWord(w, ranks)
      assert(toks.mkString == w, s"$w: lossy segmentation")
      toks.sliding(2).filter(_.size == 2).foreach { p =>
        assert(!ranks.containsKey(p(0) + '' + p(1)),
          s"$w: un-merged adjacent table pair ${p.mkString("+")}")
      }
    }
  }

  test("reserved U+001F in input text never merges and never aliases a table pair") {
    // adversarial table: pair ("a\u001fb" would alias) -- ("a","b") ranked;
    // the input "a\u001fb" contains the separator BETWEEN a and b, so a
    // naive joined-key lookup would see "a"+SEP+SEP... the quarantine rule
    // says: any symbol containing U+001F never participates in a merge
    val t = BpeExprs.rankMap(Seq(("a", "b"), ("b", "c")))
    // plain text still merges
    assert(BpeExprs.encodeWord("abc", t).toSeq == Seq("ab", "c"))
    // the separator char itself passes through untouched, neighbors merge
    assert(BpeExprs.encodeWord("a\u001fbc", t).toSeq == Seq("a", "\u001f", "bc"))
    // a word that WOULD alias the (a,b) key if joined naively: "a" SEP "b"
    // must stay three symbols, not merge into anything
    assert(BpeExprs.encodeWord("a\u001fb", t).toSeq == Seq("a", "\u001f", "b"))
    // round-trips losslessly
    assert(BpeExprs.encodeWord("a\u001fb", t).mkString == "a\u001fb")
    // and the table itself still rejects the separator inside symbols
    intercept[IllegalArgumentException](BpeExprs.rankMap(Seq(("a\u001f", "b"))))
  }

  test("applyMerge fold: greedy leftmost non-overlapping, runs take every other") {
    import graft.operators.BpeTrain
    def run(st: Seq[String], a: String, b: String): Seq[String] =
      Seq(st).toDF("state")
        .select(BpeTrain.applyMerge(col("state"), a, b).as("out"))
        .head().getSeq[String](0)
    assert(run(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(run(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(run(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(run(Seq("x", "a", "b", "y"), "a", "b") == Seq("x", "ab", "y"))
    assert(run(Seq("a", "b"), "b", "a") == Seq("a", "b"))
    assert(run(Seq("a"), "a", "a") == Seq("a"))
  }

  test("property: applyMerge fold == the parity-of-run rule (the bpe2 oracle's rewrite)") {
    import graft.operators.BpeTrain
    // reference implementation of the oracle's parity rule, 0-based
    def parityApply(st: Seq[String], a: String, b: String): Seq[String] = {
      val n = st.length
      val m = (0 until n - 1).map(i => st(i) == a && st(i + 1) == b)
      val sel = (0 until n - 1).map { i =>
        // run of consecutive matches ending at i has odd length?
        m(i) && {
          var j = i
          while (j > 0 && m(j - 1)) j -= 1
          (i - j) % 2 == 0
        }
      }
      (0 until n).flatMap { i =>
        if (i < n - 1 && sel(i)) Seq(st(i) + st(i + 1))
        else if (i > 0 && sel(i - 1)) Nil
        else Seq(st(i))
      }
    }
    val rnd = new scala.util.Random(7)
    val syms = Seq("a", "b", "c", "ab", "aa")
    val cases = Seq.fill(300) {
      val st = Seq.fill(1 + rnd.nextInt(10))(syms(rnd.nextInt(syms.length)))
      val a = syms(rnd.nextInt(syms.length))
      val b = syms(rnd.nextInt(syms.length))
      (st, a, b)
    }
    import spark.implicits._
    val df = cases.zipWithIndex.map { case ((st, a, b), i) => (i, st, a, b) }
      .toDF("i", "state", "a", "b")
    // group cases by (a, b) so each literal pair compiles one fold
    cases.map { case (_, a, b) => (a, b) }.distinct.foreach { case (a, b) =>
      val got = df.filter(col("a") === a && col("b") === b)
        .select(col("i"), BpeTrain.applyMerge(col("state"), a, b).as("out"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      cases.zipWithIndex.foreach { case ((st, ca, cb), i) =>
        if (ca == a && cb == b) {
          val want = parityApply(st, a, b)
          assert(got(i) == want, s"case $i: fold=${got(i)} parity=$want st=$st merge=($a,$b)")
        }
      }
    }
  }

  test("trainMerges: learned table well-formed; bpe1's tokenizer reproduces the loop segmentation") {
    import graft.operators.BpeTrain
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = BpeTrain.trainMerges(docs, col("text"), 8)
    assert(merges.size == 8)
    // the lineage-flattening checkpoint (every 8 merges) must be
    // result-transparent: learning 12 extends the same prefix
    val merges12 = BpeTrain.trainMerges(docs, col("text"), 12)
    assert(merges12.take(8) == merges, "checkpoint changed the learned prefix")
    assert(merges.forall(_._3 >= 2))
    val table = merges.map(m => (m._1, m._2))
    val learned = BpeExprs.rankMap(table) // validates: no dups, no empties
    // replay the loop's application over the distinct words...
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    var seg = words.withColumn("state", split(col("w"), ""))
    table.foreach { case (a, b) =>
      seg = seg.withColumn("state", BpeTrain.applyMerge(col("state"), a, b))
    }
    // ...and gate it against the leftmost-lowest-rank ENCODER on the
    // same table -- the property that lets bpe1 consume bpe2's output
    val mismatches = seg.collect().filter { r =>
      val w = r.getString(0)
      val loop = r.getSeq[String](1)
      BpeExprs.encodeWord(w, learned).toSeq != loop
    }
    assert(mismatches.isEmpty,
      s"encoder/loop divergence on ${mismatches.length} words, e.g. ${mismatches.take(3).map(_.getString(0)).mkString(",")}")
  }

  test("trainMerges: a fully-merged dominant word never poisons later rounds") {
    // the r14 ADVICE repro: once 'ab' collapses to one symbol, Spark's
    // 2-arg sequence(1, size-1) = sequence(1, 0) would step BACKWARD and
    // emit (sym, NULL)/(NULL, sym) junk pairs weighted 50 — NULL sorts
    // first in the argmax tiebreak, so without the size>=2 census guard
    // the loop would learn (null, ab) forever while applyMerge no-ops.
    import graft.operators.BpeTrain
    val docs = (Seq.fill(50)("ab") ++ Seq.fill(3)("cd")).toDF("text")
    val merges = BpeTrain.trainMerges(docs, col("text"), 3)
    assert(merges == Seq(("a", "b", 50L), ("c", "d", 3L)),
      s"expected clean exhaustion after 2 merges, got $merges")
  }

  test("trainMerges leaves no checkpoint stored, whatever the merge count") {
    import graft.operators.BpeTrain
    val docs = (0 until 60).map(i => s"the rather thin theatre threw other themes $i")
      .toDF("text")
    val sc = spark.sparkContext
    def stored = sc.getPersistentRDDs.keySet
    val before = stored
    for (k <- Seq(2, 9)) {
      assert(BpeTrain.trainMerges(docs, col("text"), k).size == k)
      val left = stored -- before
      assert(left.isEmpty, s"k = $k left ${left.size} stored RDDs")
    }
  }

  test("countText sums word encodes; empty words and extra spaces contribute nothing") {
    val text = "  the when   hello  "
    val exp = Seq("the", "when", "hello")
      .map(BpeExprs.encodeWord(_, ranks).length.toLong).sum
    assert(BpeExprs.countText(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), ranks) == exp)
    assert(BpeExprs.countText(
      org.apache.spark.unsafe.types.UTF8String.fromString(""), ranks) == 0L)
    assert(BpeExprs.countText(
      org.apache.spark.unsafe.types.UTF8String.fromString("   "), ranks) == 0L)
  }

  test("expressions match the kernel through codegen; null stays null") {
    val texts = Seq(Some("the quick brown fox"), Some("when that is this"),
      Some(""), None)
    val df = texts.toDF("text")
    val got = df.select(BpeExprs.bpeCount(col("text"), BpeExprs.EnglishMerges).as("n"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val exp = texts.map(_.map(t => BpeExprs.countText(
      org.apache.spark.unsafe.types.UTF8String.fromString(t), ranks)))
    assert(got.toSeq == exp)
    val words = Seq("washington", "mississippi").toDF("w")
    val toks = words.select(BpeExprs.bpeTokens(col("w"), BpeExprs.EnglishMerges).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(toks(0) == Seq("was", "h", "ing", "t", "on"))
    assert(toks(1) == Seq("m", "is", "s", "is", "s", "i", "p", "p", "i"))
  }

  test("fail-closed merges-table validation") {
    intercept[IllegalArgumentException](BpeExprs.rankMap(Nil))
    intercept[IllegalArgumentException](BpeExprs.rankMap(Seq(("", "a"))))
    intercept[IllegalArgumentException](BpeExprs.rankMap(Seq(("a", "b"), ("a", "b"))))
    intercept[IllegalArgumentException](BpeExprs.rankMap(Seq(("ab", "c"))))
    val e = intercept[Exception](
      Seq(1).toDF("x").select(BpeExprs.bpeCount(col("x"), BpeExprs.EnglishMerges)).collect())
    assert(e.getMessage.toLowerCase.contains("string"))
  }

  test("fewer-or-equal tokens than characters, and merges strictly reduce common text") {
    val text = "the interesting thing is that this was the best attention"
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
    val nBpe = BpeExprs.countText(u, ranks)
    val nChars = text.split(" ").filter(_.nonEmpty).map(_.length).sum
    val nWords = text.split(" ").count(_.nonEmpty)
    assert(nBpe < nChars, "common English must compress below characters")
    assert(nBpe >= nWords, "a word is never fewer than one token")
  }
}
