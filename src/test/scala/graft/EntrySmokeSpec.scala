package graft

import org.scalatest.funsuite.AnyFunSuite

/** t1 smoke (SURVEY.md §5.1): every declared query runs at sf0.001 and the
  * flagship returns rows. The registry's shape is pinned: names unique
  * across the family files, every oracle belongs to a query, and only the
  * rows-only queries lack one.
  */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("events fixture dtype canary: loader normalizes ts to TimestampType") {
    // The fixture's physical ts type has drifted between rounds (nanos-long
    // → timestamp[us]). This canary names the drift at test time instead of
    // letting it surface as dozens of cascading query failures.
    import org.apache.spark.sql.types.TimestampType
    val loaded = Tables.events(spark, sf).schema("ts").dataType
    assert(loaded == TimestampType,
      s"Tables.events must normalize the fixture's ts to TimestampType; got $loaded — " +
        "the testdata fixture dtype likely changed; update Tables.events' branch")
    val raw = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    info(s"raw fixture ts dtype: $raw")
  }

  test("all ten tables' loaded schemas match the data contract (fixture-drift canary)") {
    // The r5 events drift cost 15 queries before anything named it. This
    // canary extends the dtype check to every table: the next fixture
    // refresh that changes a loaded column name or type fails HERE with
    // the table named, not as dozens of cascading oracle mismatches.
    import org.apache.spark.sql.DataFrame
    val expected: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame, Seq[(String, String)])] = Seq(
      ("region", Tables.region _, Seq("r_regionkey" -> "int", "r_name" -> "string")),
      ("nation", Tables.nation _, Seq("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int")),
      ("customer", Tables.customer _, Seq("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string")),
      ("supplier", Tables.supplier _, Seq("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double")),
      ("part", Tables.part _, Seq("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double")),
      ("orders", Tables.orders _, Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string")),
      ("lineitem", Tables.lineitem _, Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string", "l_shipdate" -> "timestamp_ntz")),
      ("events", Tables.events _, Seq("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
        "props" -> "string")),
      ("documents", Tables.documents _, Seq("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint")),
      ("embeddings", Tables.embeddings _, Seq("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int")))
    val drift = expected.flatMap { case (name, loader, want) =>
      val got = loader(spark, sf).schema.fields.toSeq
        .map(f => f.name -> f.dataType.simpleString)
      if (got == want) Nil
      else Seq(s"$name: loaded $got != contract $want")
    }
    assert(drift.isEmpty,
      "fixture schema drift — update Tables' loaders (and any affected " +
        "oracles) deliberately:\n" + drift.mkString("\n"))
  }

  test("registry shape: unique names across families, 334 queries, 332 oracled") {
    // `queries` is a Map, so a name registered twice would silently keep
    // only the last definition; count across the families instead.
    val all = SparkEntry.families.flatMap(_.all)
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"names registered more than once: $dups")
    assert(all.size == 334)
    assert(SparkEntry.queries.keySet == all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.size == 332)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(all.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("m1_rf_classify", "m5_segment_polygonize"))
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("mix2 invariants: largest-remainder quotas sum to the budget; selection clamps to group size") {
    val rows = SparkEntry.queries("mix2_temperature_quota")(spark, sf).collect()
    assert(rows.nonEmpty)
    // quotas partition the budget EXACTLY (the largest-remainder law)
    assert(rows.map(_.getAs[Long]("quota")).sum == 300L)
    rows.foreach { r =>
      val (n, quota, sel) = (r.getAs[Long]("n_docs"), r.getAs[Long]("quota"),
        r.getAs[Long]("sel_docs"))
      // selection = md5-bottom min(quota, n): at sf0.001 the budget
      // exceeds the corpus so every group clamps to its full size
      assert(sel == math.min(quota, n), s"$r")
      // temperature 0.5 upweights small sources: no group starves
      assert(quota >= 1, s"$r")
    }
  }
}
