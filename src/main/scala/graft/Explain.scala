package graft

/** Plan auditor: prints formatted physical plans for the named queries so
  * pushdown/broadcast/codegen properties can be checked
  * (run: sbt "runMain graft.Explain <sfDir> <query> [query ...]").
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Explain <sfDir> <query> [query ...]")
      sys.exit(1)
    }
    val sf = args(0)
    val spark = GraftSession.getOrCreate()
    args.drop(1).foreach { name =>
      println(s"\n========== $name ==========")
      println(SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    println("\n========== entry ==========")
    println(SparkEntry.entry(spark).queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode))
    spark.stop()
  }
}
