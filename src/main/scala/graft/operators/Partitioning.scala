package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionOperation, Sort, Window => WindowPlan}

/** Partition-layout helpers shared by the CPU-heavy operators. */
object Partitioning {

  /** Spread a small-partition-count input across the cluster before a
    * CPU-heavy per-row map. A single parquet file scans as one partition,
    * which would serialize tokenize/shingle/hash work onto one core;
    * inputs that are already well-partitioned (the 100 TB case) pass
    * through untouched.
    *
    * Two checks, both metadata-only (no physical planning, unlike
    * `.rdd.getNumPartitions`): the frame must still be scan-shaped (no
    * repartition/join/aggregate/window/sort anywhere in its logical plan —
    * those already introduce the session's shuffle parallelism, and
    * `inputFiles` would see through them to the leaf files), and the leaf
    * scan must have fewer files than the target parallelism (a many-file
    * input is already spread; a single parquet file is exactly the case
    * that needs the repartition).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val reshuffled = df.queryExecution.analyzed.exists {
      case _: RepartitionOperation | _: Join | _: Aggregate | _: WindowPlan | _: Sort => true
      case _ => false
    }
    val files = try df.inputFiles.length catch { case scala.util.control.NonFatal(_) => 0 }
    if (!reshuffled && files > 0 && files < target) df.repartition(target) else df
  }
}
