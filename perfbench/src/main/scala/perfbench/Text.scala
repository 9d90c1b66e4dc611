package perfbench

import java.nio.file.{Files, Path}

import graft.operators.{Curation, Dedup, Graph, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `text_curation`: the LLM-data path over a seeded corpus — quality gate,
  * exact dedup, LSH fuzzy pairs, connected components, keep-best, IVF
  * top-k and token-budget packing, each step materialized to parquet.
  */
object Text {
  val Threshold = 0.6
  val NumHashes = 16
  val RowsPerBand = 2
  val K = 10
  val NLists = 16
  val NProbe = 4
  val Budget = 2048
  /** Every `QueryEvery`-th curated document is a top-k query. */
  val QueryEvery = 20
  /** Lowest acceptable IVF recall@K against the exact top-k. */
  val RecallFloor = 0.8

  /** One pass of the curation pipeline from `input` into `out`. */
  def pipeline(spark: SparkSession, input: String, out: Path, t: Tracer): Unit = {
    def step(name: String)(build: => DataFrame): Unit =
      t.op(name)(build)(_.write.mode("overwrite").parquet(out.resolve(name).toString))
    def read(name: String) = spark.read.parquet(out.resolve(name).toString)
    step("qualityGate") {
      Curation.qualityGate(spark.read.parquet(input)).filter(col("keep")).drop("keep", "reason")
    }
    step("dedupExact")(Dedup.dedupExact(read("qualityGate")))
    step("fuzzyDupPairs") {
      Dedup.fuzzyDupPairs(read("dedupExact"), Threshold, NumHashes, RowsPerBand)
    }
    step("connectedComponents")(Graph.connectedComponents(read("fuzzyDupPairs")))
    step("keepBest") {
      // one document per near-duplicate component: the longest, smallest
      // id on ties; documents in no component stay
      val docs = read("dedupExact")
      val comp = read("connectedComponents")
      val w = Window.partitionBy("component").orderBy(col("n_chars").desc, col("doc_id").asc)
      docs.join(comp, docs("doc_id") === comp("node"), "left")
        .withColumn("rk", when(col("component").isNull, lit(1)).otherwise(row_number().over(w)))
        .filter(col("rk") === 1)
        .drop("node", "component", "rk")
    }
    step("ivfTopK") {
      val curated = read("keepBest")
      Similarity.ivfTopK(curated.filter(col("doc_id") % QueryEvery === 0), curated,
        K, NLists, NProbe, idCol = "doc_id")
    }
    step("packByTokenBudget") {
      Curation.packByTokenBudget(read("keepBest").drop("embedding"),
        size(split(col("text"), " ")), "doc_id", Budget)
    }
  }
}

/** `traced`: also count the LSH candidate pairs (a per-layer figure). */
final class Text(seed: Long, work: Path, traced: Boolean) extends Workload {
  import Text._

  private val corpus = work.resolve("input/text/corpus.parquet")
  private val out = work.resolve("out")
  private var written = 0L
  private var candidates = 0L
  private var verified = 0L
  private var recall = 0.0
  private var hash = ""

  /** A directory of its own holding a link to the corpus. */
  private def linkedCorpus: String = {
    val d = work.resolve("dirs/pass")
    Files.createDirectories(d)
    val link = d.resolve("corpus.parquet")
    if (!Files.exists(link)) Files.createSymbolicLink(link, corpus)
    link.toString
  }

  /** One pass of the pipeline, reading its own link to the corpus and
    * writing its own outputs, timed cold as a batch job runs.
    */
  def run(spark: SparkSession, t: Tracer): Unit = {
    t.group("pass")(pipeline(spark, linkedCorpus, out, t))
    written = Lulc.dirBytes(out)
  }

  def check(spark: SparkSession): Seq[(String, Option[String])] = {
    val want = plannedKeep.toSet
    val kept = spark.read.parquet(out.resolve("packByTokenBudget").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val curated = spark.read.parquet(out.resolve("keepBest").toString)
    val q = curated.filter(col("doc_id") % QueryEvery === 0)
    val exact = Similarity.bruteForceTopK(q, curated, K, idCol = "doc_id")
      .select("query_id", "neighbor_id")
    val approx = spark.read.parquet(out.resolve("ivfTopK").toString)
      .select("query_id", "neighbor_id")
    val nExact = exact.count()
    recall = if (nExact == 0) 0.0 else approx.intersect(exact).count().toDouble / nExact
    if (traced) candidates = Dedup.minhashCandidatePairs(
      spark.read.parquet(out.resolve("dedupExact").toString), NumHashes, RowsPerBand).count()
    verified = spark.read.parquet(out.resolve("fuzzyDupPairs").toString).count()
    hash = Hash.md5(spark.read.parquet(out.resolve("packByTokenBudget").toString)
      .select("doc_id", "n_tok", "bin_id").orderBy("doc_id").collect().mkString("\n"))
    Seq(
      "keep_set" -> (if (kept == want) None
        else Some(s"kept ${kept.size} docs, expected ${want.size}; " +
          s"missing ${(want -- kept).take(5)}, extra ${(kept -- want).take(5)}")),
      "recall_at_k" -> (if (recall >= RecallFloor) None
        else Some(f"IVF recall@$K $recall%.3f below floor $RecallFloor")))
  }

  override def bytesWritten: Long = written
  override def bytesIn: Long = Files.size(corpus)

  override def layerMetrics(tracer: Tracer): Seq[(String, Double)] = {
    def stepS(n: String) = tracer.ops.filter(_._1 == n).map(_._2).sum
    Seq(
      "operators.curation.qualityGate.s" -> stepS("qualityGate"),
      "operators.dedup.dedupExact.s" -> stepS("dedupExact"),
      "operators.dedup.fuzzyDupPairs.s" -> stepS("fuzzyDupPairs"),
      "operators.graph.connectedComponents.s" -> stepS("connectedComponents"),
      "operators.similarity.ivfTopK.s" -> stepS("ivfTopK"),
      "operators.curation.packByTokenBudget.s" -> stepS("packByTokenBudget"),
      "operators.dedup.candidate_pairs" -> candidates.toDouble,
      "operators.dedup.verified_pairs" -> verified.toDouble,
      "operators.dedup.lsh_precision" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "operators.similarity.recall_at_k" -> recall)
  }

  override def facts: Map[String, Any] = Map(
    "input_bytes" -> Files.size(corpus),
    "recall_at_k" -> recall, "recall_floor" -> RecallFloor,
    "candidate_pairs" -> candidates, "verified_pairs" -> verified,
    "hashes" -> Map("curated" -> hash))

  /** The ids truth.json says a correct curation keeps. */
  private def plannedKeep: Seq[Long] = {
    val s = new String(Files.readAllBytes(work.resolve("input/text/truth.json")), "UTF-8")
    "\"keep\": \\[([0-9, ]*)\\]".r.findFirstMatchIn(s).get.group(1)
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
  }
}
