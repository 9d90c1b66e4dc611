package graft
package queries

import graft.functions.TextOps
import graft.operators.Skew
import org.apache.spark.sql.functions._

/** TPC-H-shaped analytic queries, correlated SQL, grouping sets, salted
  * aggregation, schema evolution and table profiles. */
object TpchQueries extends Family {
  import Helpers._

  /** Q6 — pivot: per-returnflag quantity sums spread across linestatus
    * columns (`RelationalGroupedDataset.pivot`; oracle via CASE aggregation).
    */
  query("q6_pivot") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast(D2)).cast("double"))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
      .orderBy("l_returnflag")
  }("""SELECT l_returnflag,
      |CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
      |CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** q13-shaped customer order-count distribution: the left-join-count
    * histogram (zero-order customers included) — the classic planner
    * shape for outer-join + double aggregation.
    */
  query("q13_cust_dist") { (s, d) =>
    Tables.customer(s, d).join(
        Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }("""SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)

  /** q16-shaped supplier census: NOT IN anti-join + count distinct per
    * part attribute group.
    */
  query("q16_supplier_cnt") { (s, d) =>
    val p = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "SMALL")
    val bad = Tables.supplier(s, d)
      .filter(pmod(col("s_suppkey"), lit(17)) === 0).select("s_suppkey")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }("""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'SMALL'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 17 = 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  /** q19-shaped disjunctive join predicate: OR-of-ANDs across both join
    * sides — the shape that tests predicate pushdown splitting (the
    * common `l_partkey = p_partkey` conjunct must still reach the scans
    * while the disjunction evaluates post-join).
    */
  query("q19_disjunctive") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 1 && col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(5, 25) &&
          col("l_quantity") >= 5 && col("l_quantity") <= 30) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(10, 40) &&
          col("l_quantity") >= 10 && col("l_quantity") <= 40))
      .agg(
        sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
  }("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 5 AND 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 10 AND 40)""".stripMargin)

  /** q10-shaped returned-item report: 4-way join, revenue agg, top-20.
    * The returnflag filter lands on the lineitem scan; nation broadcasts.
    */
  query("q10_returned_rev") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }("""SELECT c_custkey, c_name, n_name,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)

  /** q11-shaped value concentration: grouped value vs a fraction of the
    * GLOBAL value — the scalar-aggregate-as-threshold shape. The one-row
    * global total broadcasts into a nested-loop join; both sides stay
    * decimal-exact until the final double compare.
    */
  query("q11_value_parts") { (s, d) =>
    val value = sum(col("l_extendedprice").cast(D2) * col("l_quantity").cast(D2))
    val byPart = Tables.lineitem(s, d).groupBy("l_partkey").agg(value.as("val_d"))
    val total = Tables.lineitem(s, d).agg(value.as("tot"))
    byPart.crossJoin(total)
      .filter(col("val_d").cast("double") > col("tot").cast("double") * 0.001)
      .select(col("l_partkey"), col("val_d").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }("""WITH bypart AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS val_d
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (
      |  SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS t
      |  FROM lineitem)
      |SELECT l_partkey, CAST(val_d AS DOUBLE) AS part_value
      |FROM bypart, tot
      |WHERE CAST(val_d AS DOUBLE) > CAST(t AS DOUBLE) * 0.001
      |ORDER BY part_value DESC, l_partkey""".stripMargin)

  /** q14-shaped promo share: conditional aggregation as a percentage of
    * the same aggregate — one pass, two sums (the CASE collapses into the
    * sum, no second scan). Decimal sums; the division happens once in
    * double on exact inputs.
    */
  query("q14_promo_share") { (s, d) =>
    val price = col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2)
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-07-01 00:00:00")))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .agg(
        round(lit(100.0) * sum(when(col("p_type") === "PROMO", price)).cast("double")
          / sum(price).cast("double"), 6).as("promo_share"),
        count(lit(1)).as("n"))
  }("""SELECT round(CAST(100.0 AS DOUBLE) *
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS promo_share,
      |count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00' AND l_shipdate < TIMESTAMP '1995-07-01 00:00:00'""".stripMargin)

  /** q15-shaped top supplier: revenue per supplier in a quarter, keep the
    * max — the "view + scalar max equality" shape. Revenue stays DECIMAL
    * through the max comparison, so ties and the max match are exact.
    */
  query("q15_top_supplier") { (s, d) =>
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-04-01 00:00:00")))
      .groupBy("l_suppkey")
      .agg(sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
        .as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("__mr"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(maxRev)
      .filter(col("total_rev") === col("__mr"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }("""WITH rev AS (
      |  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_rev = (SELECT max(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin)

  /** q17-shaped small-quantity revenue: correlated per-part average as a
    * row filter, decorrelated to an aggregate + equi-join. l_quantity is
    * integer-valued, so the per-part avg is fold-order-exact in double
    * and the 0.2·avg compare is deterministic on both engines.
    */
  query("q17_small_qty") { (s, d) =>
    val avgQ = Tables.lineitem(s, d).groupBy(col("l_partkey").as("__pk"))
      .agg(avg(col("l_quantity")).as("__avg_q"))
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_brand") === "Brand#2"),
        col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("__pk"))
      .filter(col("l_quantity") < lit(0.2) * col("__avg_q"))
      .agg(
        round(dsum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"),
        count(lit(1)).as("n"))
  }("""WITH a AS (SELECT l_partkey AS pk, avg(l_quantity) AS avg_q FROM lineitem GROUP BY l_partkey)
      |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly,
      |count(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey JOIN a ON l_partkey = pk
      |WHERE p_brand = 'Brand#2' AND l_quantity < 0.2 * avg_q""".stripMargin)

  /** q18-shaped large-volume orders: HAVING on a grouped sum, joined back
    * to the order/customer detail. The big-order id set is tiny after the
    * HAVING, so it broadcasts into the detail join.
    */
  query("q18_big_orders") { (s, d) =>
    val big = Tables.lineitem(s, d).groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 170)
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(100)
  }("""WITH big AS (
      |  SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 170)
      |SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN big ON o_orderkey = l_orderkey
      |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin)

  /** q20-shaped qualified suppliers: nested aggregate threshold feeding a
    * semi join — suppliers who shipped > 100 units of Brand#3 parts.
    */
  query("q20_qualified_suppliers") { (s, d) =>
    val qualified = Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_brand") === "Brand#3").select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey")
      .agg(sum(col("l_quantity")).as("__q"))
      .filter(col("__q") > 100)
      .select(col("l_suppkey"))
    Tables.supplier(s, d)
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }("""SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#3'
      |  GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
      |ORDER BY s_suppkey""".stripMargin)

  /** q22-shaped idle customers: above-average balance AND no orders —
    * scalar-aggregate threshold + anti join. The avg compare is done as
    * `bal·n > total` with both sides DECIMAL, so it is exact on both
    * engines (decimal avg rounding differs between Spark and DuckDB).
    */
  query("q22_idle_customers") { (s, d) =>
    val agg = Tables.customer(s, d).filter(col("c_acctbal") > 0.0)
      .agg(sum(col("c_acctbal").cast(D2)).as("__tot"), count(lit(1)).as("__n"))
    Tables.customer(s, d)
      .crossJoin(agg)
      .filter(col("c_acctbal").cast(D2) * col("__n") > col("__tot"))
      .join(Tables.orders(s, d).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(pmod(col("c_custkey"), lit(7)).as("cntry"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy("cntry")
  }(
    // q22: the avg threshold is compared as bal·n > total with BOTH sides
    // decimal — decimal-avg ROUNDING differs between Spark and DuckDB, the
    // cross-multiplied form doesn't divide at all.
    """WITH a AS (
      |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot, count(*) AS n
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_custkey % 7 AS cntry, count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer, a
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > tot
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY cntry ORDER BY cntry""".stripMargin)

  /** q21-shaped "last shipper in multi-supplier orders": EXISTS + NOT
    * EXISTS, both correlated on the outer line — the hardest classic
    * decorrelation shape (two semi/anti joins with non-equi residuals).
    * Both engines run the IDENTICAL text; count(DISTINCT order) makes
    * shipdate ties inside one supplier's lines harmless.
    */
  query("q21_last_shipper") { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("q21_lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("q21_supplier")
    s.sql(
      """SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
        |FROM q21_supplier, q21_lineitem l1
        |WHERE s_suppkey = l1.l_suppkey
        |AND EXISTS (SELECT 1 FROM q21_lineitem l2
        |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
        |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
  }(
    // q21: IDENTICAL text (modulo view names) — double correlated
    // EXISTS/NOT EXISTS decorrelation verified end-to-end.
    """SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
      |FROM supplier, lineitem l1
      |WHERE s_suppkey = l1.l_suppkey
      |AND EXISTS (SELECT 1 FROM lineitem l2
      |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)

  /** q2-shaped min-cost selection: rows equal to their group's correlated
    * scalar minimum — equality on STORED doubles, no arithmetic, so the
    * decorrelated join is exact.
    */
  query("q2_min_price_part") { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("q2_part")
    s.sql(
      """SELECT p_partkey, p_name, p_type, p_retailprice FROM q2_part p
        |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM q2_part p2
        |  WHERE p2.p_type = p.p_type)
        |ORDER BY p_partkey""".stripMargin)
  }("""SELECT p_partkey, p_name, p_type, p_retailprice FROM part p
      |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
      |  WHERE p2.p_type = p.p_type)
      |ORDER BY p_partkey""".stripMargin)

  /** sql3 — correlated scalar subquery through the SQL front door:
    * Catalyst must decorrelate the per-part COUNT into an aggregate +
    * left join (including the COUNT-on-empty-group = 0 rule). The oracle
    * runs the IDENTICAL text, so the rewrite is verified end-to-end.
    */
  query("sql3_correlated") { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("sql3_lineitem")
    Tables.part(s, d).createOrReplaceTempView("sql3_part")
    s.sql(
      """SELECT p_partkey, p_brand, n_heavy FROM (
        |  SELECT p_partkey, p_brand,
        |    (SELECT count(*) FROM sql3_lineitem WHERE l_partkey = p_partkey AND l_quantity > 45) AS n_heavy
        |  FROM sql3_part) t
        |WHERE n_heavy > 0 ORDER BY p_partkey""".stripMargin)
  }(
    // sql3: the IDENTICAL correlated text (modulo view names) — both
    // engines must agree on the decorrelated COUNT semantics.
    """SELECT p_partkey, p_brand, n_heavy FROM (
      |  SELECT p_partkey, p_brand,
      |    (SELECT count(*) FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45) AS n_heavy
      |  FROM part) t
      |WHERE n_heavy > 0 ORDER BY p_partkey""".stripMargin)

  /** skew1 — hot-key GROUP BY through the two-phase salted aggregation;
    * the oracle is the PLAIN GROUP BY, so the hash match proves salting is
    * semantically invisible (decimal partials commute exactly). lineitem's
    * 3-value l_returnflag is the genuine hot-key shape: at 100 TB a direct
    * groupBy lands ~33 TB on each of three reducers, the salted form
    * spreads each key over 16.
    */
  query("skew1_salted_agg") { (s, d) =>
    Skew.saltedAgg(
      Tables.lineitem(s, d),
      keys = Seq("l_returnflag"),
      saltSource = struct(col("l_orderkey"), col("l_linenumber")),
      salts = 16,
      partials = Seq(count(lit(1)).as("__n"), sum(col("l_quantity").cast(D2)).as("__q")),
      combine = Seq(sum(col("__n")).as("n"),
        sum(col("__q")).cast("double").as("sum_qty")))
      .orderBy("l_returnflag")
  }(
    // skew1/b1: the oracle is the PLAIN formulation — salting and
    // bucketing must be semantically invisible.
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Q1-shaped pricing summary: the classic scan-heavy aggregate. */
  query("q1_pricing_summary") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }("""SELECT l_returnflag, l_linestatus,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** Q3-shaped shipping priority: join + agg + top-N. */
  query("q3_shipping_priority") { (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }("""SELECT o_orderkey, o_orderdate,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
      |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)

  /** Q4-shaped order-priority check: EXISTS decorrelated to a LEFT SEMI
    * join with a non-equi residual (a line shipped >60 days after the
    * order date). The semi join never duplicates orders, so no distinct is
    * needed — the shape Catalyst plans for correlated EXISTS subqueries.
    */
  query("q4_order_priority") { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .join(
        Tables.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }("""SELECT o_orderpriority, count(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** Q12-shaped conditional aggregation: one pass over the join computes
    * both priority classes as filtered sums (no self-join, no pivot) — the
    * classic "two counts from one scan" OLAP shape.
    */
  query("q12_conditional_agg") { (s, d) =>
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!urgent, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }("""SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Q5-shaped regional revenue rollup (the flagship, parameterized by dir). */
  query("q5_regional_revenue") { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
        .cast("double").as("revenue"))
      .orderBy("r_name", "n_name")
  }("""SELECT r_name, n_name,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)

  /** Q7 — ROLLUP grouping sets over the regional revenue cube (subtotal +
    * grand-total rows; NULLS FIRST alignment with the oracle).
    */
  query("q7_rollup") { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("rn"), col("n_name").as("nn"), col("o_totalprice"))
      .rollup(col("rn").as("r_name"), col("nn").as("n_name"))
      .agg(dsum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }("""SELECT r_name, n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)

  /** Q8 — CUBE over (returnflag, linestatus): all four grouping-set
    * combinations in one pass (partial-agg friendly; Catalyst expands to a
    * single Expand + one shuffle).
    */
  query("q8_cube") { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"), col("l_quantity"))
      .cube(col("rf").as("l_returnflag"), col("ls").as("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }("""SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  /** sch1 — schema evolution: a store written in two generations (the
    * second adds a quality column), read back with schema merge — old
    * rows surface NULL for the new column, the lakehouse append
    * contract. Census proves no rows were lost or double-typed.
    */
  query("sch1_schema_evolution") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_sch").toString + "/docs"
    val docs = Tables.documents(s, d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(out)
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.qualityScore(col("text")).as("quality"))
      .write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("quality").isNull, 1L).otherwise(0L)).as("n_oldgen"),
        // fixed-point sum (emb1 pattern): ×2^20 is IEEE-exact, floor to
        // BIGINT, integer sum commutes — partition-order-proof
        sum(floor(coalesce(col("quality"), lit(0.0)) * lit(1048576L)).cast("long"))
          .as("sum_q_fp"))
      .orderBy("source")
  }(
    // sch1: generation 2 (odd ids) carries the quality column; the
    // fixed-point sum makes the float aggregation partition-order-proof.
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |q AS (SELECT doc_id, source, CASE WHEN doc_id % 2 = 1 THEN
       |  least(CAST(len(toks) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |  least(CAST(len(list_filter(toks, tk -> tk IN (${TextOps.AllStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) * CAST(4.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
       |  END AS quality FROM t)
       |SELECT source, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oldgen,
       |  CAST(sum(CAST(floor(COALESCE(quality, 0) * 1048576) AS BIGINT)) AS BIGINT) AS sum_q_fp
       |FROM q GROUP BY source ORDER BY source""".stripMargin)

  /** gs1 — GROUPING SETS with grouping() indicator columns: the explicit
    * multi-granularity aggregate (finer than rollup/cube q7/q8) through
    * the SQL front door; both engines run the same text.
    */
  query("gs1_grouping_sets") { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("gs1_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM gs1_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }(
    // gs1: IDENTICAL text in both engines (modulo the view name).
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  /** hof1 — the array higher-order-function surface (transform / filter /
    * aggregate / exists) over tokenized text: per-doc token-length stats
    * computed entirely inside array lambdas — no explode, no shuffle.
    */
  query("hof1_array_funcs") { (s, d) =>
    val toks = split(col("text"), " ")
    Tables.documents(s, d).select(
      col("doc_id"),
      aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x)
        .as("sum_tok_len"),
      size(filter(toks, t => length(t) >= 5)).cast("long").as("n_long_toks"),
      array_max(transform(toks, t => length(t))).as("max_tok_len"),
      exists(toks, t => t.rlike("[0-9]")).as("has_digit"))
      .orderBy("doc_id")
  }(
    // hof1: list lambdas mirror the array HOFs; length() is characters in
    // both dialects (strlen would be bytes — the e4 lesson).
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  CAST(list_sum(list_transform(toks, tk -> length(tk))) AS BIGINT) AS sum_tok_len,
      |  CAST(len(list_filter(toks, tk -> length(tk) >= 5)) AS BIGINT) AS n_long_toks,
      |  CAST(list_max(list_transform(toks, tk -> length(tk))) AS INT) AS max_tok_len,
      |  len(list_filter(toks, tk -> regexp_matches(tk, '[0-9]'))) > 0 AS has_digit
      |FROM t ORDER BY doc_id""".stripMargin)

  /** q6b — TPC-H Q6 shape: single-scan predicate-pushdown revenue forecast.
    * All three filters reach the parquet scan (PushedFilters); the agg is a
    * partial-final pair with no shuffle beyond the final single-row merge.
    */
  query("q6b_forecast_revenue") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_discount") >= lit(0.03) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < lit(24.0))
      .agg(
        sum(col("l_extendedprice").cast(D2) * col("l_discount").cast(D2))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |AND l_discount >= CAST(0.03 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
      |AND l_quantity < CAST(24 AS DOUBLE)""".stripMargin)

  /** q7b — TPC-H Q7 shape: bidirectional volume shipping between two
    * nations by ship year. The nation dim joins TWICE (supplier side and
    * customer side) under different aliases — both broadcast; only the
    * lineitem⋈orders join shuffles.
    */
  query("q7b_volume_shipping") { (s, d) =>
    val sn = Tables.nation(s, d).select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val cn = Tables.nation(s, d).select(
      col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2))
        .cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN customer ON o_custkey = c_custkey JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      |  OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** q8b — TPC-H Q8 shape: a nation's market share inside one region for
    * one part type, by order year. The share is a conditional-sum ratio
    * computed in ONE pass (no self-join); sums stay decimal-exact and only
    * the final division is double (then round(,6) for oracle parity).
    */
  query("q8b_market_share") { (s, d) =>
    val vol = col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.supplier(s, d).select(
          col("s_suppkey"), col("s_nationkey").as("supp_nkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(round(
        sum(when(col("supp_nkey") === 3, vol).otherwise(lit(0).cast(D2))).cast("double") /
          sum(vol).cast("double"), 6).as("mkt_share"))
      .orderBy("o_year")
  }("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |round(CAST(sum(CASE WHEN s_nationkey = 3
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 6) AS mkt_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
      |AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** q9 — TPC-H Q9 shape (product-type profit): profit = revenue minus a
    * cost proxy (`p_retailprice · l_quantity` — this star schema has no
    * partsupp table), for parts matching a name pattern, by supplier
    * nation and order year. Dims broadcast; decimal-exact until the final
    * double cast.
    */
  query("q9_product_profit") { (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_name").like("%widget%"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(
        col("l_extendedprice").cast(D2) * (lit(1.0) - col("l_discount")).cast(D2) -
          col("p_retailprice").cast(D2) * col("l_quantity").cast(D2))
        .cast("double").as("sum_profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }("""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
      |  - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin)

  /** stat1 — exact-moment correlation/covariance of quantity vs price:
    * DECIMAL moment sums are commutative and exact, so the closed forms
    * evaluate on bit-identical inputs in both engines — deterministic
    * second-order statistics where the built-in co-moment accumulators
    * are partition-order-dependent.
    */
  query("stat1_exact_corr") { (s, d) =>
    operators.Profiling.exactCorr(
      Tables.lineitem(s, d), col("l_quantity"), col("l_extendedprice"))
  }(
    // stat1: decimal moment sums are exact in both engines; casting each
    // exact decimal to double is IEEE-nearest on the same value, so the
    // closed forms see bit-identical inputs. Expression structure mirrors
    // the Spark side exactly.
    """WITH m AS (SELECT count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
      |  FROM lineitem)
      |SELECT n,
      |  round((n * sxy - sx * sy) / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 6) AS corr,
      |  round((sxy - sx * sy / n) / n, 6) AS covar
      |FROM m""".stripMargin)

  /** prof1 — one-pass table profile of the documents corpus: row count
    * plus per-column null/distinct/min/max (the pre-training census).
    */
  query("prof1_table_profile") { (s, d) =>
    operators.Profiling.tableProfile(
      Tables.documents(s, d), Seq("lang", "source", "n_chars"))
  }("""SELECT count(*) AS n_rows,
      |CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
      |count(DISTINCT lang) AS lang_distinct, min(lang) AS lang_min, max(lang) AS lang_max,
      |CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
      |count(DISTINCT source) AS source_distinct, min(source) AS source_min, max(source) AS source_max,
      |CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
      |count(DISTINCT n_chars) AS n_chars_distinct, min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max
      |FROM documents""".stripMargin)

  /** hist2 — equi-depth histogram (10 rank-quantile buckets over price):
    * the tie-robust complement of hist1's equi-width buckets; ntile over
    * a TOTAL order so bucket membership is deterministic.
    */
  query("hist2_price_deciles") { (s, d) =>
    // numeric tie-break columns: long compares in the bucket sort instead of
    // a per-row concat'd string (measurably cheaper at 600k+ rows)
    operators.Profiling.equiDepthHistogram(
      Tables.lineitem(s, d), col("l_extendedprice"),
      Seq(col("l_orderkey"), col("l_linenumber")), buckets = 10)
  }(
    // hist2: ntile over the identical total order (value, orderkey_line
    // tie string) — rank-deterministic in both engines.
    """WITH r AS (SELECT l_extendedprice AS v,
      |  CAST(ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS INTEGER) AS bucket
      |FROM lineitem)
      |SELECT bucket, min(v) AS lo, max(v) AS hi, count(*) AS n
      |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)
}
