package graft

import graft.plans.TopK
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One session, one install path: every entry point builds its session
  * through `GraftSession.builder`, so the engine the tests cover (the
  * GraftExtensions planner strategy, optimizer rule and SQL catalog, zstd
  * stores) is the engine Bench measures and Verify dumps.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def repoRoot: java.io.File =
    Iterator.iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new java.io.File(d, "build.sbt").isFile)
      .getOrElse(fail("no build.sbt above the working directory"))

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  private def text(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("a session is built only in GraftSession.scala") {
    val files = scalaFiles(new java.io.File(repoRoot, "src"))
    assert(files.exists(_.getName == "SessionSpec.scala"), "scan did not reach the test sources")
    val builderCall = "SparkSession\\s*\\.\\s*builder".r
    val building = files.filter(f => builderCall.findFirstIn(text(f)).isDefined)
    assert(building.map(_.getName) == Seq("GraftSession.scala"), building.mkString(", "))
  }

  test("no main source uses Spark ML clustering") {
    val files = scalaFiles(new java.io.File(repoRoot, "src/main"))
    assert(files.exists(_.getName == "Similarity.scala"), "scan did not reach the main sources")
    val using = files.filter(f => text(f).contains("org.apache.spark.ml.clustering"))
    assert(using.isEmpty, using.mkString(", "))
  }

  test("the test session plans with TopKStrategy and SpatialJoinRewrite and writes zstd") {
    // installed once, by the extensions: nothing added after the build
    assert(spark.experimental.extraOptimizations.isEmpty)
    val topK = TopK.perKey(Seq((1L, 1L, 2.0), (1L, 2L, 3.0), (2L, 3L, 1.0)).toDF("k", "id", "v"),
      Seq(col("k")), Seq(col("v").desc), 1)
    assert(topK.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    def boxes(n: Int) = (0 until n).map(i => (i.toLong, i.toDouble, i + 1.5)).toDF("id", "lo", "hi")
      .select(col("id"), struct(col("lo").as("xmin"), col("lo").as("ymin"),
        col("hi").as("xmax"), col("hi").as("ymax")).as("env"))
    boxes(20).createOrReplaceTempView("session_l")
    boxes(20).createOrReplaceTempView("session_r")
    val join = spark.sql("SELECT l.id AS a, r.id AS b FROM session_l l JOIN session_r r " +
      "ON st_bbox_intersects(l.env, r.env)")
    assert(join.queryExecution.optimizedPlan.toString.contains("__gj_cx"))
    val plan = join.queryExecution.executedPlan
    assert(plan.collect {
      case p: CartesianProductExec => p
      case p: BroadcastNestedLoopJoinExec => p
    }.isEmpty, plan)
    assert(join.count() == 20 + 2 * 19) // each box meets itself and its neighbours
    val dir = java.nio.file.Files.createTempDirectory("graft_session").toString + "/store"
    spark.range(10).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getPath), new org.apache.hadoop.conf.Configuration()))
    try assert(reader.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name == "ZSTD")
    finally reader.close()
  }

  test("Verify departs from GraftSession.builder only in the dump's timestamp type") {
    assert(Verify.sessionOverrides == Map("spark.sql.parquet.outputTimestampType" -> "INT96"))
  }
}
