package perfbench

import java.nio.file.{Files, Path}

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** `registry_sweep`: the program's query registry run one query at a time
  * over seeded relational tables, each timed from DataFrame construction
  * to the collected rows of its whole optimized plan.
  *
  * Memo isolation: `SparkEntry` memoizes per data directory, so every
  * timed query reads its own directory (links to the same generated
  * files) and runs once per JVM, and the warm-up runs no registry query,
  * over tables made from another seed. No timed query is served by a
  * memo filled outside its own timed call (g11, memoized per WKT string,
  * is never timed).
  */
object Registry {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Every `Stride`-th query of the sorted registry is timed. */
  val Stride = 48

  /** Queries that write to a fixed path outside their data directory
    * (the benchmark may write only inside its work directory).
    */
  val WritesOutside = Set("m1b_frozen_forest")

  /** Queries memoized per WKT string, not per data directory: a call
    * outside the timed one could serve them, so they are never timed.
    */
  val MemoNotPerDir = Set("g11_wkt_reproject")

  def eligible: Seq[String] =
    SparkEntry.queries.keys.toSeq.filterNot(WritesOutside).sorted

  def timedSet: Seq[String] = eligible.zipWithIndex
    .collect { case (q, i) if i % Stride == 0 && !MemoNotPerDir(q) => q }

  /** A directory of links to the generated tables: a fresh memo key. */
  def linkDir(base: Path, dir: Path): String = {
    Files.createDirectories(dir)
    Tables.foreach { t =>
      val link = dir.resolve(s"$t.parquet")
      if (!Files.exists(link)) Files.createSymbolicLink(link, base.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** Operator names of a plan, as a multiset. */
  private def ops(p: LogicalPlan): Map[String, Int] =
    p.collect { case n => n.nodeName }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Operators `a` has that `b` lacks (multiset difference). */
  private def dropped(a: Map[String, Int], b: Map[String, Int]): Map[String, Int] =
    a.map { case (k, n) => k -> (n - b.getOrElse(k, 0)) }.filter(_._2 > 0)

  /** Self-test: for every swept query, the plan of the benchmark's timed
    * action (`collect`, captured from the action's own QueryExecution)
    * must keep every operator of the query's full optimized plan; and a
    * `count()` of the same DataFrame is checked against it, to show the
    * test catches the pruning that `count()` timing suffers.
    */
  def planSelftest(spark: SparkSession, work: Path): Map[String, Any] = {
    val base = work.resolve("input/registry/base")
    val captured = new java.util.concurrent.atomic.AtomicReference[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        captured.set(qe.optimizedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows = eligible.zipWithIndex.map { case (q, i) =>
      val d = linkDir(base, work.resolve(s"selftest/q$i"))
      try {
        val df = SparkEntry.queries(q)(spark, d)
        val full = ops(df.queryExecution.optimizedPlan)
        captured.set(null)
        df.collect()
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        val timed = Option(captured.get).map(ops).getOrElse(Map.empty[String, Int])
        val countPlan = ops(df.groupBy().count().queryExecution.optimizedPlan)
        val timedDrop = dropped(full, timed)
        val countDrop = dropped(full, countPlan)
        // the count plan is nothing but a scan under the aggregate
        val bare = countDrop.nonEmpty && countPlan.keySet.subsetOf(
          Set("Aggregate", "Project", "LogicalRelation", "LocalRelation", "LogicalRDD", "Range"))
        Map("query" -> q, "timed_dropped" -> timedDrop, "count_dropped" -> countDrop,
          "bare_scan" -> bare, "error" -> None)
      } catch {
        case e: Exception => Map("query" -> q, "timed_dropped" -> Map.empty[String, Int],
          "count_dropped" -> Map.empty[String, Int], "bare_scan" -> false, "error" -> e.toString)
      }
    }
    spark.listenerManager.unregister(listener)
    val swept = timedSet.toSet
    Map("queries" -> rows,
      "swept" -> timedSet,
      "swept_pruned" -> rows.filter(r => swept(r("query").toString) &&
        r("timed_dropped").asInstanceOf[Map[_, _]].nonEmpty).map(_("query")),
      "count_pruned" -> rows.filter(r => r("count_dropped").asInstanceOf[Map[_, _]].nonEmpty)
        .map(_("query")),
      "count_bare_scan" -> rows.filter(_("bare_scan") == true).map(_("query")),
      "errors" -> rows.filter(_("error") != None).map(_("query")))
  }
}

final class Registry(seed: Long, work: Path) extends Workload {
  import Registry._

  private val base = work.resolve("input/registry/base")
  private val warm = work.resolve("input/registry/warm")
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** Warm-up: relational plans outside the registry (scan, filter, join,
    * aggregate, window, sort) over tables made from another seed, so the
    * Spark SQL paths every query shares are loaded and compiled. No
    * registry query runs before it is timed.
    */
  override def warmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def t(n: String): DataFrame = spark.read.parquet(warm.resolve(s"$n.parquet").toString)
    t("lineitem").filter(col("l_quantity") > 10)
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "l_returnflag")
      .agg(sum("l_extendedprice").as("rev"), countDistinct("o_orderkey").as("n"))
      .withColumn("rk", rank().over(Window.partitionBy("c_mktsegment").orderBy(desc("rev"))))
      .orderBy("c_mktsegment", "rk").collect()
    t("documents").select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().orderBy(desc("count"), col("w")).collect()
    t("events").groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(avg("value")).orderBy("window", "event_type").collect()
  }

  /** The sample in registry (name) order, each query once. Every query is
    * the first of its kind in the JVM, so a seeded order was tried and
    * dropped: it moved class-loading and compile costs between queries
    * from run to run. Every query reads its own directory, made before
    * timing starts.
    */
  def run(spark: SparkSession, t: Tracer): Unit = {
    val dirs = timedSet.indices.map(i => linkDir(base, work.resolve(s"dirs/q$i")))
    timedSet.zip(dirs).foreach { case (q, d) =>
      results(q) = t.op(q)(SparkEntry.queries(q)(spark, d))(df => (df.schema, df.collect()))
    }
  }

  override def wall(t: Tracer): Double = t.ops.map(_._2).sum

  /** Rows of each timed query go to parquet with the query's oracle SQL,
    * for the DuckDB comparison the launcher makes over the same tables;
    * here every query must have returned and been hashed.
    */
  def check(spark: SparkSession): Seq[(String, Option[String])] = {
    val out = work.resolve("results")
    val oracle = SparkEntry.oracleSql
    results.toSeq.par.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    Json.write(out.resolve("oracle_sql.json"),
      results.keys.flatMap(q => oracle.get(q).map(q -> _)).toMap)
    timedSet.map(q => q -> (if (results.contains(q)) None else Some("no result")))
  }

  override def facts: Map[String, Any] = Map(
    "registry_size" -> SparkEntry.queries.size,
    "swept" -> timedSet.size,
    "stride" -> Stride,
    "excluded" -> (WritesOutside ++ MemoNotPerDir).toSeq,
    "hashes" -> results.map { case (q, (_, rows)) => q -> Hash.rows(rows) }.toMap)
}

object Hash {
  def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Order-sensitive hash of collected rows (every registry query ends in
    * a total ORDER BY).
    */
  def rows(rs: Array[Row]): String = md5(rs.map(_.toString).mkString("\n"))
}
