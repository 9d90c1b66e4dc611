package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each defined once in its family's file under
  * `graft/queries/`, beside the DuckDB-equivalent SQL of the t2
  * correctness gate.
  *
  * Oracle-parity rules used throughout (SURVEY.md §5.2, FIXTURES.md):
  *   - every result ends with a total ORDER BY on non-null key columns
  *     (Spark sorts NULLS FIRST, DuckDB NULLS LAST — so sort keys are
  *     always non-null);
  *   - money/quantity sums go through DECIMAL(18,2|4) (the testdata is
  *     2-decimal exact) then cast to DOUBLE → order-independent,
  *     bit-identical across engines;
  *   - interpolated percentiles/window averages are rounded to 6 dp;
  *   - all content hashing is md5-derived so DuckDB computes identical
  *     signatures (MinHash/SimHash included);
  *   - dot products are strict in-order left folds in both engines.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): TPC-H-Q5-ish
    * revenue rollup across 6 tables — exercises scan, broadcast joins,
    * decimal agg, sort in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val o = Tables.orders(spark, d)
    val c = Tables.customer(spark, d)
    val s = Tables.supplier(spark, d)
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(Helpers.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("r_name"), col("n_name"))
  }

  val families: Seq[Family] = Seq(RelationalQueries, TpchQueries,
    WindowQueries, CurveQueries, SpatialJoinQueries, CoverageQueries,
    ClipQueries, ShapeQueries, GeoQueries, CrsQueries, TextQueries,
    DedupQueries, SketchQueries, ImageQueries, JpegQueries, WebpQueries,
    RasterQueries, MediaQueries, MlQueries, PipelineQueries)

  /** Every query by name. Verify runs them in this map's iteration order. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.all).map(q => q.name -> q.build).toMap

  /** Each oracled query's DuckDB SQL, built on first read. */
  lazy val oracleSql: Map[String, String] =
    families.flatMap(_.all).flatMap(q => q.oracle.map(q.name -> _)).toMap
}
