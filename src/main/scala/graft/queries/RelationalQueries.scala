package graft
package queries

import graft.functions.ScalarOps
import graft.operators.Maintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational queries: scans, projections, scalar maps, aggregations,
  * equi/outer/semi/anti joins, set operations and table maintenance (delete,
  * upsert, time travel, change capture, incremental views). */
object RelationalQueries extends Family {
  import Helpers._

  query("s1_scan_count") { (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))
  }("SELECT count(*) AS cnt FROM lineitem")

  query("s2_pruned_scan") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey").between(1, 100))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
  }("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem WHERE l_orderkey BETWEEN 1 AND 100
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate""".stripMargin)

  query("s3_sidecar_join") { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"), "left")
      .select("l_orderkey", "l_linenumber", "p_name")
      .orderBy("l_orderkey", "l_linenumber", "p_name")
  }("""SELECT l_orderkey, l_linenumber, p_name FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |ORDER BY l_orderkey, l_linenumber, p_name NULLS FIRST""".stripMargin)

  query("s4_filename_meta") { (s, d) =>
    Tables.orders(s, d)
      .groupBy(regexp_extract(col("o_orderpriority"), "(\\d+)", 1).as("prio"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prio")
  }("SELECT regexp_extract(o_orderpriority, '(\\d+)', 1) AS prio, count(*) AS n FROM orders GROUP BY prio ORDER BY prio")

  query("p1_projection") { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity")

  query("p2_cast") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("float").as("qty_f"))
      .orderBy("l_orderkey", "l_linenumber", "qty_f")
  }("SELECT l_orderkey, l_linenumber, CAST(l_quantity AS REAL) AS qty_f FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_f")

  query("p3_nullif") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_discount") === 0.0, lit(null)).otherwise(col("l_discount")).as("disc_n"))
      .orderBy("l_orderkey", "l_linenumber", "disc_n")
  }("SELECT l_orderkey, l_linenumber, nullif(l_discount, 0.0) AS disc_n FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_n NULLS FIRST")

  query("p4_coalesce") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        ScalarOps.fillNoData(
          when(col("l_tax") === 0.0, lit(null)).otherwise(col("l_tax")), 0.0).as("tax_f"))
      .orderBy("l_orderkey", "l_linenumber", "tax_f")
  }("SELECT l_orderkey, l_linenumber, coalesce(nullif(l_tax, 0.0), 0.0) AS tax_f FROM lineitem ORDER BY l_orderkey, l_linenumber, tax_f")

  query("p5_norm_diff") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(ScalarOps.normalizedDiff(col("l_extendedprice"), col("l_discount")), 6).as("nd"),
        round(ScalarOps.normalizedDiffNull(col("l_extendedprice"), col("l_discount")), 6).as("nd_null"))
      .orderBy("l_orderkey", "l_linenumber", "nd", "nd_null")
  }("""SELECT l_orderkey, l_linenumber,
      |round((l_extendedprice - l_discount) / (l_extendedprice + l_discount + 1e-9), 6) AS nd,
      |round(CASE WHEN l_extendedprice + l_discount = 0.0 THEN NULL
      |  ELSE (l_extendedprice - l_discount) / (l_extendedprice + l_discount) END, 6) AS nd_null
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, nd, nd_null NULLS FIRST""".stripMargin)

  query("p6_valid_filter") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(ScalarOps.allValid(Seq(col("l_quantity"))) && col("l_discount") > 0.02)
      .agg(count(lit(1)).as("cnt"))
  }("SELECT count(*) AS cnt FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount > 0.02")

  query("p7_clamp") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        ScalarOps.clamp(col("l_discount"), lit(0.01), lit(0.05)).as("disc_c"))
      .orderBy("l_orderkey", "l_linenumber", "disc_c")
  }("SELECT l_orderkey, l_linenumber, least(greatest(l_discount, 0.01), 0.05) AS disc_c FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_c")

  query("p8_rules") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "R" && col("l_discount") < 0.06, lit("N"))
          .when(col("l_returnflag") === "A", lit("N"))
          .otherwise(col("l_returnflag")).as("flag_rw"))
      .orderBy("l_orderkey", "l_linenumber", "flag_rw")
  }("""SELECT l_orderkey, l_linenumber,
      |CASE WHEN l_returnflag = 'R' AND l_discount < 0.06 THEN 'N'
      |     WHEN l_returnflag = 'A' THEN 'N' ELSE l_returnflag END AS flag_rw
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, flag_rw""".stripMargin)

  query("p9_null_pattern") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(concat_ws("_",
        when(col("l_quantity") > 25, lit("Q")),
        when(col("l_discount") > 0.03, lit("D"))).as("combo"))
      .agg(count(lit(1)).as("n"))
      .orderBy("combo")
  }("""SELECT concat_ws('_', CASE WHEN l_quantity > 25 THEN 'Q' END,
      |  CASE WHEN l_discount > 0.03 THEN 'D' END) AS combo, count(*) AS n
      |FROM lineitem GROUP BY combo ORDER BY combo""".stripMargin)

  query("p10_md5") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        md5(concat(col("l_returnflag"), col("l_linestatus"))).as("key_md5"))
      .orderBy("l_orderkey", "l_linenumber", "key_md5")
  }("SELECT l_orderkey, l_linenumber, md5(concat(l_returnflag, l_linestatus)) AS key_md5 FROM lineitem ORDER BY l_orderkey, l_linenumber, key_md5")

  query("p11_explode") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("n", explode(sequence(lit(1), lit(3))))
      .orderBy("l_orderkey", "l_linenumber", "n")
  }("""SELECT l_orderkey, l_linenumber, n FROM lineitem
      |CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) t ORDER BY l_orderkey, l_linenumber, n""".stripMargin)

  query("p12_json") { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"))
      .orderBy("event_id")
  }("""SELECT event_id, json_extract_string(props, '$.k') AS k_str,
      |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int FROM events ORDER BY event_id""".stripMargin)

  query("a1_median_groups") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("med_qty"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }("""SELECT l_returnflag, round(median(l_quantity), 6) AS med_qty, count(*) AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  query("a2_argmax") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(max(struct(col("l_extendedprice").as("e"), col("l_partkey").as("p"))).as("b"))
      .select(col("l_orderkey"), col("b.p").as("best_pk"))
      .orderBy("l_orderkey")
  }("""SELECT l_orderkey, l_partkey AS best_pk FROM (
      |  SELECT l_orderkey, l_partkey,
      |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_partkey DESC) AS rn
      |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)

  query("a3_global_max") { (s, d) =>
    Tables.lineitem(s, d)
      .agg(max(col("l_extendedprice")).as("max_ep"),
        min(col("l_shipdate")).as("min_sd"),
        max(col("l_shipdate")).as("max_sd"))
  }("SELECT max(l_extendedprice) AS max_ep, min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd FROM lineitem")

  query("a4_percentile_cuts") { (s, d) =>
    Tables.lineitem(s, d)
      .agg(
        round(percentile(col("l_extendedprice"), lit(0.02)), 6).as("cut_lo"),
        round(percentile(col("l_extendedprice"), lit(0.98)), 6).as("cut_hi"))
  }("""SELECT round(quantile_cont(l_extendedprice, 0.02), 6) AS cut_lo,
      |round(quantile_cont(l_extendedprice, 0.98), 6) AS cut_hi FROM lineitem""".stripMargin)

  query("a5_count_sum") { (s, d) =>
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("cnt"),
        dsum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
          .cast("double").as("revenue"))
  }("""SELECT count(*) AS cnt, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem""".stripMargin)

  query("a6_collect_sorted") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(concat_ws(",",
        sort_array(collect_list(col("l_linenumber"))).cast("array<string>")).as("lns"))
      .orderBy("l_orderkey")
  }("SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') AS lns FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey")

  query("a7_distinct_count") { (s, d) =>
    Tables.lineitem(s, d)
      .agg(
        countDistinct(concat(col("l_returnflag"), col("l_linestatus"))).as("n_combo"),
        countDistinct(col("l_partkey")).as("n_part"))
  }("SELECT count(DISTINCT l_returnflag || l_linestatus) AS n_combo, count(DISTINCT l_partkey) AS n_part FROM lineitem")

  query("a9_max_plus_one") { (s, d) =>
    Tables.lineitem(s, d).agg((max(col("l_orderkey")) + 1).as("next_id"))
  }("SELECT max(l_orderkey) + 1 AS next_id FROM lineitem")

  query("j1_broadcast_lookup") { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"), "left")
      .select("o_orderkey", "c_name", "c_mktsegment")
      .orderBy("o_orderkey")
  }("SELECT o_orderkey, c_name, c_mktsegment FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")

  query("j2_fallback_coalesce") { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey") && col("c_acctbal") > 0, "left")
      .select(col("o_orderkey"), coalesce(col("c_name"), lit("UNKNOWN")).as("cust"))
      .orderBy("o_orderkey")
  }("""SELECT o_orderkey, coalesce(c_name, 'UNKNOWN') AS cust FROM orders
      |LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 0 ORDER BY o_orderkey""".stripMargin)

  query("j3_multiway") { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select("l_orderkey", "l_linenumber", "p_retailprice", "s_acctbal", "n_name")
      .orderBy("l_orderkey", "l_linenumber", "p_retailprice", "s_acctbal", "n_name")
  }("""SELECT l_orderkey, l_linenumber, p_retailprice, s_acctbal, n_name FROM lineitem
      |JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY l_orderkey, l_linenumber, p_retailprice, s_acctbal, n_name""".stripMargin)

  query("j7_merge_maxby") { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.value").as("last_val"))
      .orderBy("user_id")
  }("""SELECT user_id, value AS last_val FROM (
      |  SELECT user_id, value, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)

  query("j8_semi") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
      .orderBy("c_custkey")
  }("SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")

  query("j9_anti") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey")
      .orderBy("c_custkey")
  }("SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")

  query("set1_intersect") { (s, d) =>
    Tables.lineitem(s, d).select("l_orderkey")
      .intersect(Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey")))
      .orderBy("l_orderkey")
  }("SELECT l_orderkey FROM lineitem INTERSECT SELECT o_orderkey FROM orders ORDER BY l_orderkey")

  query("set2_except") { (s, d) =>
    Tables.orders(s, d).select("o_orderkey")
      .except(Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey")))
      .orderBy("o_orderkey")
  }("SELECT o_orderkey FROM orders EXCEPT SELECT l_orderkey FROM lineitem ORDER BY o_orderkey")

  query("u1_union") { (s, d) =>
    Tables.lineitem(s, d).filter(col("l_linenumber") === 1)
      .select(col("l_orderkey").as("okey"), lit("l").as("src"))
      .union(Tables.orders(s, d).select(col("o_orderkey").as("okey"), lit("o").as("src")))
      .orderBy("okey", "src")
  }("""SELECT l_orderkey AS okey, 'l' AS src FROM lineitem WHERE l_linenumber = 1
      |UNION ALL SELECT o_orderkey, 'o' FROM orders ORDER BY okey, src""".stripMargin)

  /** d1 — keyed deletion over a stored corpus (right-to-be-forgotten):
    * stage the documents table as a parquet store, tombstone every 13th
    * doc through `Maintenance.deleteByKeys` (broadcast anti-join +
    * marker-protected swap), and census what survives — the oracle is
    * the logical complement, so the swap machinery must be exactly
    * row-preserving.
    */
  query("d1_delete_by_keys") { (s, dd) =>
    val dir = java.nio.file.Files.createTempDirectory("graft_d1").toString + "/docs"
    Tables.documents(s, dd).write.mode("overwrite").parquet(dir)
    val tomb = Tables.documents(s, dd)
      .filter(pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
    Maintenance.deleteByKeys(s, dir, tomb, Seq("doc_id"))
    s.read.parquet(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("max_id"))
      .orderBy("source")
  }(
    // d1: the oracle is the logical complement of the tombstone set.
    """SELECT source, count(*) AS n, max(doc_id) AS max_id
      |FROM documents WHERE doc_id % 13 <> 0
      |GROUP BY source ORDER BY source""".stripMargin)

  /** up1 — keyed upsert (the maintenance CRUD's third leg next to d1
    * delete and compact): stage the documents table, then upsert a
    * correction batch — every 17th doc gets its source rewritten to
    * 'corrected' (replace) plus 5 brand-new ids (append) — and census
    * the store. The oracle computes the merge from scratch, so the swap
    * rewrite must replace exactly the keyed rows and append the rest.
    */
  query("up1_upsert_by_keys") { (s, dd) =>
    val dir = java.nio.file.Files.createTempDirectory("graft_up1").toString + "/docs"
    val docs = Tables.documents(s, dd).select("doc_id", "source", "n_chars")
    docs.write.mode("overwrite").parquet(dir)
    val corrections = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .withColumn("source", lit("corrected"))
    val additions = docs.orderBy("doc_id").limit(5)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        lit("appended").as("source"), col("n_chars"))
    Maintenance.upsertByKeys(s, dir, corrections.unionByName(additions), Seq("doc_id"))
    s.read.parquet(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source")
  }(
    // up1: the merge computed from scratch — replace keyed rows, append
    // the novel ones; the store rewrite must match exactly.
    """WITH store AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0 THEN 'corrected' ELSE source END AS source,
      |    n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, 'appended' AS source, n_chars FROM (
      |    SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 5))
      |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM store GROUP BY source ORDER BY source""".stripMargin)

  /** TT1 — SNAPSHOT / TIME-TRAVEL READS over the marker-protected store
    * (the r15 verdict's stretch 9): stage the documents store, run up1's
    * correction upsert with `retain = true` (archiving the pre-upsert
    * snapshot as generation 1), then read all three views — the PINNED
    * generation via [[operators.Maintenance.readAsOf]] (must be the
    * untouched original corpus), the LIVE store (the post-upsert merge),
    * and the [[operators.Maintenance.changesSince]] CDC between them —
    * as one census. The oracle computes every view FROM SCRATCH (the
    * original table verbatim; the up1 merge; the closed-form diff:
    * every 17th doc an update, five appended ids inserts), so a hash
    * match proves the archived generation is bit-untouched by the swap
    * and the CDC machinery composes with it exactly.
    */
  query("tt1_read_as_of") { (s, dd) =>
    val dir = java.nio.file.Files.createTempDirectory("graft_tt1").toString + "/docs"
    val docs = Tables.documents(s, dd).select("doc_id", "source", "n_chars")
    docs.write.mode("overwrite").parquet(dir)
    val pinned = Maintenance.currentGeneration(s, dir) // = 1
    val corrections = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .withColumn("source", lit("corrected"))
    val additions = docs.orderBy("doc_id").limit(5)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        lit("appended").as("source"), col("n_chars"))
    Maintenance.upsertByKeys(s, dir, corrections.unionByName(additions),
      Seq("doc_id"), retain = true)
    def census(df: DataFrame, tag: String) = df
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .select(lit(tag).as("snapshot"), col("source"), col("n"), col("sum_chars"))
    census(Maintenance.readAsOf(s, dir, pinned), "asof")
      .unionByName(census(s.read.parquet(dir), "live"))
      .unionByName(
        Maintenance.changesSince(s, dir, pinned, Seq("doc_id"), Seq("source", "n_chars"))
          .groupBy("change")
          .agg(count(lit(1)).as("n"), sum(col("new_n_chars")).cast("long").as("sum_chars"))
          .select(lit("diff").as("snapshot"), col("change").as("source"),
            col("n"), col("sum_chars")))
      .orderBy("snapshot", "source")
  }(
    // tt1: the pinned generation census is the ORIGINAL table verbatim
    // (proving the archive is untouched by the swap), the live census is
    // up1's from-scratch merge, and the CDC census is closed-form
    // (every 17th doc an update, the five appended ids inserts).
    """WITH merged AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0 THEN 'corrected' ELSE source END AS source,
      |    n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, 'appended' AS source, n_chars FROM (
      |    SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 5)),
      |census AS (
      |  SELECT 'asof' AS snapshot, source, count(*) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source
      |  UNION ALL
      |  SELECT 'live', source, count(*), CAST(sum(n_chars) AS BIGINT)
      |  FROM merged GROUP BY source
      |  UNION ALL
      |  SELECT 'diff', 'update', count(*), CAST(sum(n_chars) AS BIGINT)
      |  FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT 'diff', 'insert', count(*), CAST(sum(n_chars) AS BIGINT) FROM (
      |    SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 5))
      |SELECT snapshot, source, n, sum_chars FROM census
      |ORDER BY snapshot, source""".stripMargin)

  /** cdc1 — snapshot diff: two views of `orders` (one-third disjoint on
    * each side, every fifth shared key's price bumped) reconciled into
    * insert/delete/update rows. Null-safe compare; unchanged rows drop.
    */
  query("cdc1_snapshot_diff") { (s, d) =>
    val o = Tables.orders(s, d)
    val old = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val nw = o.filter(col("o_orderkey") % 3 =!= 1)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    operators.Maintenance.snapshotDiff(old, nw, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
      .orderBy("o_orderkey")
  }("""WITH o1 AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0),
      |n1 AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + CAST(1.0 AS DOUBLE) ELSE o_totalprice END AS o_totalprice,
      |  o_orderstatus FROM orders WHERE o_orderkey % 3 <> 1),
      |j AS (SELECT coalesce(o1.o_orderkey, n1.o_orderkey) AS o_orderkey,
      |  o1.o_totalprice AS old_o_totalprice, o1.o_orderstatus AS old_o_orderstatus,
      |  n1.o_totalprice AS new_o_totalprice, n1.o_orderstatus AS new_o_orderstatus,
      |  (o1.o_orderkey IS NOT NULL) AS in_old, (n1.o_orderkey IS NOT NULL) AS in_new
      |  FROM o1 FULL OUTER JOIN n1 ON o1.o_orderkey = n1.o_orderkey),
      |c AS (SELECT o_orderkey, old_o_totalprice, old_o_orderstatus, new_o_totalprice, new_o_orderstatus,
      |  CASE WHEN NOT in_old THEN 'insert' WHEN NOT in_new THEN 'delete'
      |    WHEN (old_o_totalprice IS DISTINCT FROM new_o_totalprice)
      |      OR (old_o_orderstatus IS DISTINCT FROM new_o_orderstatus) THEN 'update' END AS change
      |  FROM j)
      |SELECT o_orderkey, change, old_o_totalprice, old_o_orderstatus, new_o_totalprice, new_o_orderstatus
      |FROM c WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin)

  /** iv1 — incremental view maintenance: the even-orderkey half's rollup
    * state is WRITTEN to parquet and read back (yesterday's store), the
    * odd half is folded in as today's delta, and the merged state must
    * equal the from-scratch aggregate over everything — proving the state
    * round-trips and the merge is lossless, without ever rescanning
    * "history" in the merge.
    */
  /** IV2 — incremental JOIN maintenance: the bilinear delta identity
    * (Δa⋈B ∪ A⋈Δb ∪ Δa⋈Δb) produces exactly the rows a batch of appends
    * adds to the lineitem⋈orders join, without re-joining the histories.
    * The oracle recomputes both FULL joins and subtracts their censuses —
    * any identity error (missed term, double count) breaks the hash.
    */
  query("iv2_join_delta") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    def a(df: DataFrame) = df.select(col("l_orderkey").as("okey"), col("l_quantity"))
    def b(df: DataFrame) = df.select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    operators.Maintenance.joinDelta(
        a(li.filter(col("l_orderkey") % 10 =!= 0)), a(li.filter(col("l_orderkey") % 10 === 0)),
        b(ord.filter(col("o_orderkey") % 7 =!= 0)), b(ord.filter(col("o_orderkey") % 7 === 0)),
        Seq("okey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_added"), dsum(col("l_quantity")).as("qty_added"))
      .orderBy("o_orderpriority")
  }(
    // iv2: recompute both FULL joins and subtract their censuses — the
    // delta identity must account for every added row exactly once.
    """WITH fn AS (SELECT o.o_orderpriority, l.l_quantity
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |fo AS (SELECT o.o_orderpriority, l.l_quantity
      |  FROM (SELECT * FROM lineitem WHERE l_orderkey % 10 <> 0) l
      |  JOIN (SELECT * FROM orders WHERE o_orderkey % 7 <> 0) o
      |    ON l.l_orderkey = o.o_orderkey),
      |cn AS (SELECT o_orderpriority, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS s FROM fn GROUP BY 1),
      |co AS (SELECT o_orderpriority, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS s FROM fo GROUP BY 1)
      |SELECT cn.o_orderpriority, cn.n - coalesce(co.n, 0) AS n_added,
      |  CAST(cn.s - coalesce(co.s, 0) AS DOUBLE) AS qty_added
      |FROM cn LEFT JOIN co USING (o_orderpriority)
      |WHERE cn.n - coalesce(co.n, 0) > 0
      |ORDER BY o_orderpriority""".stripMargin)

  query("iv1_incremental_rollup") { (s, d) =>
    val li = Tables.lineitem(s, d)
    val keys = Seq("l_returnflag", "l_linestatus")
    val out = java.nio.file.Files.createTempDirectory("graft_iv1").toString
    operators.Maintenance.rollupState(
        li.filter(col("l_orderkey") % 2 === 0), keys, "l_quantity")
      .write.mode("overwrite").parquet(out)
    val delta = operators.Maintenance.rollupState(
      li.filter(col("l_orderkey") % 2 =!= 0), keys, "l_quantity")
    operators.Maintenance.mergeRollupStates(Seq(s.read.parquet(out), delta), keys)
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        col("sum_v").cast("double").as("sum_qty"),
        col("min_v").as("min_qty"), col("max_v").as("max_qty"),
        round(col("sum_v").cast("double") / col("n_rows"), 6).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }(
    // iv1: the oracle is the FROM-SCRATCH aggregate — a hash match proves
    // the persisted state + delta merge loses nothing.
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** j12 — FULL OUTER join (the last join-type gap): per-nation customer
    * census vs supplier census, nations missing from either side survive
    * null-padded. Both sides pre-aggregate to nation cardinality before
    * the join — the scale idiom: outer-join the AGGREGATES, not the
    * fact tables.
    */
  query("j12_full_outer") { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nation")).agg(count(lit(1)).as("n_cust"))
    val su = Tables.supplier(s, d).filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nation")).agg(count(lit(1)).as("n_supp"))
    c.join(su, Seq("nation"), "full_outer")
      .orderBy("nation")
  }("""SELECT COALESCE(c.nation, s.nation) AS nation, c.n_cust, s.n_supp
      |FROM (SELECT c_nationkey AS nation, count(*) AS n_cust FROM customer
      |      WHERE c_acctbal > CAST(9000 AS DOUBLE) GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nation, count(*) AS n_supp FROM supplier
      |      WHERE s_acctbal > CAST(9000 AS DOUBLE) GROUP BY 1) s
      |ON c.nation = s.nation
      |ORDER BY nation""".stripMargin)
}
