package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What a workload does inside one benchmark JVM. Operations are timed
  * through the `Tracer`, one at a time (closed loop, one client).
  */
trait Workload {
  /** Untimed pass on inputs the timed pass never reads, so JIT, class
    * loading and lazy set-up are done before timing. The batch pipelines
    * have none: a batch job pays its JVM's warm-up on every run.
    */
  def warmup(spark: SparkSession): Unit = ()

  /** The timed pass, closed loop, every operation through `tracer`. */
  def run(spark: SparkSession, tracer: Tracer): Unit

  /** The run's `wall_s` as one tracer saw it. */
  def wall(t: Tracer): Double = Stats.median(t.groups.toSeq)

  /** Output checks after the timed pass: (operation, failure if any). */
  def check(spark: SparkSession): Seq[(String, Option[String])]

  /** Workload-specific per-layer figures (traced run only). */
  def layerMetrics(tracer: Tracer): Seq[(String, Double)] = Nil

  /** Figures printed beside the result (sizes, golden hashes, labels). */
  def facts: Map[String, Any] = Map.empty

  /** Bytes written by sinks and stage materializations, and bytes of
    * generated input, for `write_amp`.
    */
  def bytesWritten: Long = 0L
  def bytesIn: Long = 1L
}

/** Benchmark JVM entry point.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json>
  * perfbench.Main --gen lulc_pipeline --seed <n> --work <dir>   (inputs only)
  * perfbench.Main --selftest plans --seed <n> --work <dir> --out <file>
  * }}}
  */
object Main {
  /** Session set-ups per run; `setup_s` takes their median. */
  val SetUps = 5

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    if (a.contains("gen")) {
      new Lulc(seed, work).prepare()
      return
    }
    val out = Paths.get(a("out"))
    // one core is left to the Spark driver, JIT and GC threads
    val n = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    if (a.contains("selftest")) {
      val spark = session(n, work)
      try Json.write(out, Registry.planSelftest(spark, work))
      finally spark.stop()
      return
    }
    val name = a("workload")
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val wl: Workload = name match {
      case "lulc_pipeline" => new Lulc(seed, work, hashes = a.get("hashes").contains("1"))
      case "text_curation" => new Text(seed, work, traced)
      case "registry_sweep" => new Registry(seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val genS = wl match {
      case l: Lulc => l.prepare()
      case _ => 0.0
    }

    // Set-up, several times in this JVM: the first build also pays JVM
    // start and class loading. setup_s is the median set-up plus the
    // warm-up.
    val builds = (0 until SetUps).map { i =>
      val t0 = System.nanoTime()
      val s = session(n, work)
      s.range(1).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetUps - 1) s.stop()
      dt
    }
    val setups = ((mainMs - jvmStartMs) / 1e3 + builds.head) +: builds.tail
    val spark = SparkSession.active
    // the effective SQL conf as the session was built, before any
    // operation sets its own
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }.toMap
    val tw = System.nanoTime()
    wl.warmup(spark)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = Stats.median(setups) + warmS
    val coldSetupS = setups.head + warmS

    val probe = if (traced) Some(new Probe(spark)) else None
    val tracer = new Tracer(probe)
    System.gc()
    val heap = new HeapWatch
    val host0 = Host.sample()
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try wl.run(spark, tracer)
    catch {
      case e: Exception =>
        failures += (("run", e.toString))
        e.printStackTrace()
    }
    val peakHeapMb = heap.stop()
    val host1 = Host.sample()
    val tc = System.nanoTime()
    val checks =
      if (failures.nonEmpty) Nil
      else try wl.check(spark)
      catch { case e: Exception => e.printStackTrace(); Seq("check" -> Some(e.toString)) }
    checks.foreach { case (op, f) => f.foreach(m => failures += ((op, m))) }
    val checkS = (System.nanoTime() - tc) / 1e9

    val lat = tracer.ops.map(_._2).toSeq
    val attempted = math.max(1, tracer.ops.size)
    val failedOps = failures.map(_._1).distinct.size
    val endToEnd = Seq(
      "wall_s" -> wl.wall(tracer),
      "setup_s" -> setupS)
    val (tailPct, tailS) = Stats.tail(lat)
    val perLayer: Seq[(String, Double)] =
      if (!traced) Nil
      else {
        val top = tracer.topSpans
        val leaf = tracer.leafSpans
        val c = top.map(_.c).foldLeft(Counters())(_ + _)
        val inJobs = top.map(_.jobWallMs).sum / 1e3
        val topWall = top.map(_.wallS).sum
        Seq("session.build_s" -> Stats.median(builds),
          "setup.cold_s" -> coldSetupS,
          "setup.warmup_s" -> warmS,
          "input.gen_s" -> genS,
          "registry.construct_s" -> leaf.map(_.constructNs / 1e9).sum,
          "registry.construct_jobs" -> leaf.map(_.constructJobs.toDouble).sum,
          "exec.outside_jobs_s" -> (topWall - inJobs),
          "exec.busy_frac" -> (if (inJobs > 0) c.taskRunMs / 1e3 / (inJobs * n) else 0.0),
          "unattributed_s" -> leaf.map(_.unattributedS).sum,
          "trace.overhead_s" -> tracer.overheadS,
          "op_p50_s" -> Stats.median(lat),
          "peak_heap_mb" -> peakHeapMb,
          "op_tail_s" -> tailS, "op_tail_pct" -> tailPct, "op_count" -> lat.size.toDouble,
          "write_amp" -> wl.bytesWritten.toDouble / math.max(1L, wl.bytesIn),
          "error_rate" -> failedOps.toDouble / attempted) ++
          c.toMap ++ wl.layerMetrics(tracer)
      }
    val host = Seq("host.steal_s" -> (host1.stealS - host0.stealS),
      "host.loadavg" -> host1.load1)
    Json.write(out, Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failedOps,
      "failures" -> failures.map { case (o, m) => Map("op" -> o, "error" -> m) }.toSeq,
      "end_to_end" -> endToEnd.toMap,
      "per_layer" -> (perLayer ++ host).toMap,
      "ops" -> tracer.ops.map { case (o, w, c) => Map("op" -> o, "wall_s" -> w, "construct_s" -> c) }.toSeq,
      "spans" -> tracer.spanRecords,
      "tail" -> Map("percentile" -> tailPct, "samples" -> lat.size),
      "facts" -> wl.facts,
      "phases_s" -> Map("gen" -> genS, "session_builds" -> builds,
        "warmup" -> warmS,
        "run" -> ((tc - tw) / 1e9 - warmS), "check" -> checkS),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "local_n" -> n,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "sql_conf" -> conf)))
    spark.stop()
  }

  /** The benchmark's only way to a session: the program's own builder on
    * local[N] with N shuffle partitions (as the program's Bench and test
    * sessions do), the run's scratch directories inside the work dir.
    */
  def session(n: Int, work: Path): SparkSession = {
    val s = GraftSession.builder(master = s"local[$n]", shufflePartitions = n)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and the
    * latency there (nearest-rank).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.length < 11) (0.0, 0.0)
    else {
      val s = xs.sorted
      val idx = s.length - 11
      (100.0 * (idx + 1) / s.length, s(idx))
    }
}

/** Peak heap in use during the timed pass, read after every collection
  * (live data plus what survived), so it does not swing with when the
  * young generation happens to fill.
  */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, h: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Peak MB after collection (current use if none ran). */
  def stop(): Double = {
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Exception => })
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { (if (peak > 0) peak else now) / (1024.0 * 1024.0) }
  }
}

/** Host-level readings: CPU steal from /proc/stat and the 1-minute load. */
final case class Host(stealS: Double, load1: Double)
object Host {
  def sample(): Host = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
    val steal = cpu.filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    val load = read("/proc/loadavg").trim.split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    Host(steal, load)
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case '\r' => sb ++= "\\r"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def write(p: Path, v: Any): Unit = Files.write(p, render(v).getBytes("UTF-8"))
}
