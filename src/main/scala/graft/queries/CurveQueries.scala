package graft
package queries

import graft.operators.Bucketing
import org.apache.spark.sql.functions._

/** Layout and space-filling curves: zone-map skipping, Z-order and Hilbert
  * clustering, geohash cells and covers, bucketed and partitioned stores. */
object CurveQueries extends Family {
  import Helpers._

  /** S5 — tiled/partitioned sink: write partitioned parquet, read it back,
    * aggregate the round-trip (oracle checks the aggregate over the source).
    */
  query("s5_partitioned_sink") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    // repartition by the partition column first: without it every task
    // writes a file into every partition dir (tasks × values small files —
    // the classic partitioned-sink mistake at scale); with it each value's
    // rows land in one task → one compact file per partition.
    Tables.lineitem(s, d)
      .repartition(col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    s.read.parquet(out)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")

  /** zm1 — zone-map data skipping: range-repartition lineitem by ship
    * date into 8 unpartitioned files, build the per-file min/max index,
    * then answer a 3-month predicate reading ONLY the files the index
    * cannot rule out (~2/8; ZoneMapSpec asserts the prune). The oracle is
    * the plain filter over the source — skipping must be invisible.
    */
  query("zm1_zonemap_skip") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_zm").toString
    Tables.lineitem(s, d)
      .repartitionByRange(8, col("l_shipdate"))
      .write.mode("overwrite").parquet(out)
    val idx = operators.ZoneMap.build(s, out, Seq("l_shipdate"))
    operators.ZoneMap.prunedRead(s, out, idx, "l_shipdate",
        java.sql.Timestamp.valueOf("1996-06-01 00:00:00"),
        java.sql.Timestamp.valueOf("1996-09-01 00:00:00"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }(
    // zm1: the oracle ignores the zone-map machinery entirely — a pruned
    // read must equal the plain filtered scan.
    """SELECT l_returnflag, count(*) AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-06-01' AND l_shipdate < TIMESTAMP '1996-09-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** ZO1 — Z-ORDER clustering (r9; the lakehouse OPTIMIZE ZORDER BY):
    * lineitem rewritten with `ZoneMap.writeZOrdered` on (l_partkey,
    * l_suppkey), zone-mapped, and a TWO-dimensional box predicate read
    * through the composed file prune. The oracle is the plain filtered
    * scan — the clustering, interleaved keys, and multi-column skipping
    * must be exactly invisible in the result (the zm1 recipe, one
    * dimension up). ZoneMapSpec separately proves the layout actually
    * prunes on BOTH dimensions.
    */
  query("zo1_zorder_skip") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_zo").toString
    operators.ZoneMap.writeZOrdered(Tables.lineitem(s, d), out,
      Seq("l_partkey", "l_suppkey"), nFiles = 12)
    val idx = operators.ZoneMap.build(s, out, Seq("l_partkey", "l_suppkey"))
    operators.ZoneMap.prunedReadBox(s, out, idx,
        Seq(("l_partkey", 200L, 400L), ("l_suppkey", 10L, 60L)))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }("""SELECT l_returnflag, count(*) AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey >= 200 AND l_partkey < 400
      |  AND l_suppkey >= 10 AND l_suppkey < 60
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** ZO2 — HILBERT clustering (the zo1 recipe one curve up): lineitem
    * rewritten with `ZoneMap.writeHilbertOrdered`, zone-mapped, and a
    * 2-D box read through the composed prune. Same oracle doctrine as
    * zo1/zm1: the layout must be exactly invisible — the oracle is the
    * plain filtered scan. HilbertSpec separately proves the curve's
    * adjacency theorem and that the layout prunes FEWER files than
    * Z-order needs key ranges (the reason this operator exists).
    */
  query("zo2_hilbert_skip") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_zo2").toString
    operators.ZoneMap.writeHilbertOrdered(Tables.lineitem(s, d), out,
      Seq("l_partkey", "l_suppkey"), nFiles = 12)
    val idx = operators.ZoneMap.build(s, out, Seq("l_partkey", "l_suppkey"))
    operators.ZoneMap.prunedReadBox(s, out, idx,
        Seq(("l_partkey", 300L, 600L), ("l_suppkey", 20L, 80L)))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }(
    // zo2: the zo1 doctrine — the Hilbert layout must be invisible, the
    // oracle is the plain filtered scan.
    """SELECT l_returnflag, count(*) AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey >= 300 AND l_partkey < 600
      |  AND l_suppkey >= 20 AND l_suppkey < 80
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** ZO3 — Hilbert RANGED reads (the read path that cashes in the
    * adjacency theorem): lineitem keyed by the curve distance of its
    * (partkey, suppkey) cell, zone-mapped ON THE KEY, and a 40x50 cell
    * box served as the contiguous key ranges boxRanges plans — files
    * prune by key-range intersection, each surviving scan is one
    * contiguous run. The oracle is the plain modular-box scan: curve,
    * ranges, and layout must all be exactly invisible, which also
    * re-proves boxRanges' cell/range equivalence on real data.
    */
  query("zo3_hilbert_ranges") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_zo3").toString
    val li = Tables.lineitem(s, d)
      .withColumn("cx", col("l_partkey") % 256)
      .withColumn("cy", col("l_suppkey") % 256)
    operators.ZoneMap.writeHilbertCells(li, out, "cx", "cy", bits = 8, nFiles = 12)
    val idx = operators.ZoneMap.build(s, out, Seq("__hkey"))
    val ranges = graft.functions.HilbertExprs.boxRanges(8, 40, 10, 79, 59)
    operators.ZoneMap.prunedReadRanges(s, out, idx, "__hkey", ranges)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }(
    // zo3: curve, ranges, and layout must be invisible — the oracle is
    // the plain modular-box scan (and thereby re-proves boxRanges'
    // cell/range equivalence on real keys).
    """SELECT l_returnflag, count(*) AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey % 256 >= 40 AND l_partkey % 256 <= 79
      |  AND l_suppkey % 256 >= 10 AND l_suppkey % 256 <= 59
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** ZO4 — Hilbert ranged reads from the prunedReadBox FRONT DOOR (the
    * r13 mandate: the path a naive caller gets): writeHilbertCells now
    * leaves a layout sidecar, so the SAME prunedReadBox call that would
    * per-column-prune a plain store routes this box through
    * boxRanges/prunedReadRanges — note the index carries ONLY the curve
    * key's bounds (no cx/cy stats), which per-column pruning could not
    * serve at all. Oracle = the plain modular-box scan: the routing must
    * be exactly invisible.
    */
  query("zo4_hilbert_frontdoor") { (s, d) =>
    val out = java.nio.file.Files.createTempDirectory("graft_zo4").toString
    val li = Tables.lineitem(s, d)
      .withColumn("cx", col("l_partkey") % 256)
      .withColumn("cy", col("l_suppkey") % 256)
    operators.ZoneMap.writeHilbertCells(li, out, "cx", "cy", bits = 8, nFiles = 12)
    val idx = operators.ZoneMap.build(s, out, Seq("__hkey"))
    operators.ZoneMap.prunedReadBox(s, out, idx,
        Seq(("cx", 100L, 140L), ("cy", 60L, 120L)))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }(
    // zo4: the front-door routing (sidecar -> boxRanges -> ranged read)
    // must be exactly invisible -- the plain modular-box scan again.
    """SELECT l_returnflag, count(*) AS n,
      |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey % 256 >= 100 AND l_partkey % 256 < 140
      |  AND l_suppkey % 256 >= 60 AND l_suppkey % 256 < 120
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** HB1 — the Hilbert index arithmetic itself, cross-engine: part keys
    * spread over the 2^16 grid by modular multipliers (all-integer, no
    * float quantizer in the loop), indexed by the codegen kernel; the
    * oracle unrolls the identical 16-level rotate/reflect walk as a CTE
    * chain. Integer-exact both sides → hash equality proves the curve
    * transform itself, not just its layout-invisibility (zo2).
    */
  query("hb1_hilbert_index") { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        (col("p_partkey") * lit(48271L) % lit(65536L)).as("x"),
        (col("p_partkey") * lit(69621L) % lit(65536L)).as("y"))
      .withColumn("hilbert",
        graft.functions.HilbertExprs.indexCol(col("x"), col("y"), 16))
      .orderBy("p_partkey")
  }(
    // hb1: HilbertExprs.xy2d replayed as a 16-level CTE chain — the same
    // all-integer rotate/reflect walk, so the hash proves the transform.
    sqlHilbertUnrolled)

  // --- geohash oracle-SQL generators: the engine's Column algebra
  // (SpatialOps geohash family) re-spelled term-for-term in DuckDB SQL.
  // Integer bit ops are exact in both engines; the only floating step is
  // the quantizer's ((v+off)/span)·2^k, whose op chain mirrors 1:1.
  private def ghSqlQuant(v: String, off: String, span: String, k: Int): String =
    s"least(greatest(CAST(floor((($v + $off) / $span) * ${(1L << k).toDouble}) AS BIGINT), 0), ${(1L << k) - 1})"

  private def ghSqlInterleave(lonQ: String, latQ: String, p: Int): String = {
    val n = 5 * p; val nLon = (n + 1) / 2; val nLat = n / 2
    val terms = (0 until nLon).map { k =>
      s"((($lonQ) >> ${nLon - 1 - k}) & 1) * ${1L << (n - 1 - 2 * k)}"
    } ++ (0 until nLat).map { k =>
      s"((($latQ) >> ${nLat - 1 - k}) & 1) * ${1L << (n - 2 - 2 * k)}"
    }
    terms.mkString("(", " + ", ")")
  }

  private def ghSqlBase32(comb: String, p: Int): String = {
    val n = 5 * p
    (0 until p).map { i =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((($comb) >> ${n - 5 * (i + 1)}) & 31 AS INT) + 1, 1)"
    }.mkString("concat(", ", ", ")")
  }

  /** GH1 — geohash bucket census: the standard prefix-nesting lat/lon
    * bucketing key (the string-keyed sibling of zorderKey — at 100 TB this
    * is the layout/partition column for geographic stores, and the
    * equi-join key for proximity grouping). Coordinates derive from
    * user_id modular arithmetic (events carry no geography; the derivation
    * mirrors into the oracle exactly). Plan: one projection (the whole
    * encode is codegen'd integer algebra, no UDF) + one hash aggregate on
    * the 5-char cell id.
    */
  query("gh1_geohash_bucket") { (s, d) =>
    import graft.functions.SpatialOps
    val u = col("user_id")
    Tables.events(s, d).select(u,
        ((u * 131 % 3600).cast("double") / lit(10.0) - lit(180.0)).as("lon"),
        ((u * 89 % 1700).cast("double") / lit(10.0) - lit(85.0)).as("lat"))
      .withColumn("gh", SpatialOps.geohash(col("lon"), col("lat"), 5))
      .groupBy("gh")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"),
        min(col("user_id")).as("min_uid"))
      .orderBy("gh")
  } {
    // gh1: the full geohash encode replayed in SQL — quantize (the one
    // floating chain, mirrored op-for-op), interleave and base32 as exact
    // integer bit algebra — then the identical bucket census.
    val lonq = ghSqlQuant("lon", "180.0", "360.0", 13)
    val latq = ghSqlQuant("lat", "90.0", "180.0", 12)
    val comb = ghSqlInterleave("lonq", "latq", 5)
    val gh = ghSqlBase32("comb", 5)
    s"""WITH pts AS (SELECT user_id,
       |  (CAST((user_id * 131) % 3600 AS DOUBLE) / 10.0) - 180.0 AS lon,
       |  (CAST((user_id * 89) % 1700 AS DOUBLE) / 10.0) - 85.0 AS lat FROM events),
       |q AS (SELECT user_id, $lonq AS lonq, $latq AS latq FROM pts),
       |e AS (SELECT user_id, $comb AS comb FROM q)
       |SELECT $gh AS gh, count(*) AS cnt, count(DISTINCT user_id) AS users,
       |  min(user_id) AS min_uid
       |FROM e GROUP BY 1 ORDER BY gh""".stripMargin
  }

  /** GH2 — geohash cell decode + topology audit: per occupied cell, the
    * EXACT decoded envelope (dyadic fractions — bit-identical doubles both
    * engines), proof that every member point lies in its cell
    * (all_in_cell), that the precision-4 parent both prefixes and contains
    * the cell (nested), and the east/north shifted neighbors (wrap/clamp
    * semantics). Everything after the group-by is per-cell string algebra.
    */
  query("gh2_geohash_cells") { (s, d) =>
    import graft.functions.SpatialOps
    val c = col("c_custkey")
    val enriched = Tables.customer(s, d).select(c,
        ((c * 131 % 3600).cast("double") / lit(10.0) - lit(180.0)).as("lon"),
        ((c * 89 % 1700).cast("double") / lit(10.0) - lit(85.0)).as("lat"))
      .withColumn("gh", SpatialOps.geohash(col("lon"), col("lat"), 5))
      .withColumn("ghp", SpatialOps.geohash(col("lon"), col("lat"), 4))
      .withColumn("cell", SpatialOps.geohashBbox(col("gh"), 5))
      .withColumn("par", SpatialOps.geohashBbox(col("ghp"), 4))
    enriched.groupBy("gh")
      .agg(count(lit(1)).as("n"), min(c).as("min_key"),
        bool_and(SpatialOps.bboxContainsPoint(col("cell"), col("lon"), col("lat")))
          .as("all_in_cell"),
        bool_and(col("gh").substr(lit(1), lit(4)) === col("ghp") &&
          col("cell.xmin") >= col("par.xmin") && col("cell.xmax") <= col("par.xmax") &&
          col("cell.ymin") >= col("par.ymin") && col("cell.ymax") <= col("par.ymax"))
          .as("nested"))
      .select(col("gh"), col("n"), col("min_key"), col("all_in_cell"), col("nested"),
        SpatialOps.geohashShift(col("gh"), 1, 0, 5).as("east"),
        SpatialOps.geohashShift(col("gh"), 0, 1, 5).as("north"),
        SpatialOps.geohashBbox(col("gh"), 5).getField("xmin").as("xmin"),
        SpatialOps.geohashBbox(col("gh"), 5).getField("ymin").as("ymin"),
        SpatialOps.geohashBbox(col("gh"), 5).getField("xmax").as("xmax"),
        SpatialOps.geohashBbox(col("gh"), 5).getField("ymax").as("ymax"))
      .orderBy("gh")
  } {
    // gh2: decode/shift replayed from the QUANTIZED integers (the string
    // decode round-trips to exactly these values — integer-exact, so the
    // envelope doubles and neighbor ids hash-match the engine's
    // string-path decode bit-for-bit). Parent at precision 4; east wraps
    // mod 2^13, north NULLs past the top latitude row.
    val lonq5 = ghSqlQuant("lon", "180.0", "360.0", 13)
    val latq5 = ghSqlQuant("lat", "90.0", "180.0", 12)
    val lonq4 = ghSqlQuant("lon", "180.0", "360.0", 10)
    val latq4 = ghSqlQuant("lat", "90.0", "180.0", 10)
    val comb5 = ghSqlInterleave("lonq5", "latq5", 5)
    val comb4 = ghSqlInterleave("lonq4", "latq4", 4)
    val combE = ghSqlInterleave("lonqe", "latq5", 5)
    val combN = ghSqlInterleave("lonq5", "latqn", 5)
    s"""WITH pts AS (SELECT c_custkey,
       |  (CAST((c_custkey * 131) % 3600 AS DOUBLE) / 10.0) - 180.0 AS lon,
       |  (CAST((c_custkey * 89) % 1700 AS DOUBLE) / 10.0) - 85.0 AS lat FROM customer),
       |q AS (SELECT c_custkey, lon, lat, $lonq5 AS lonq5, $latq5 AS latq5,
       |  $lonq4 AS lonq4, $latq4 AS latq4 FROM pts),
       |e AS (SELECT *, $comb5 AS comb5, $comb4 AS comb4,
       |  (lonq5 + 1) % 8192 AS lonqe, latq5 + 1 AS latqn FROM q),
       |g AS (SELECT *, ${ghSqlBase32("comb5", 5)} AS gh5,
       |  ${ghSqlBase32("comb4", 4)} AS gh4, $combE AS combe, $combN AS combn FROM e),
       |h AS (SELECT *,
       |  ${ghSqlBase32("combe", 5)} AS east0,
       |  CASE WHEN latqn <= 4095 THEN ${ghSqlBase32("combn", 5)} END AS north0,
       |  (CAST(lonq5 AS DOUBLE) / 8192.0) * 360.0 - 180.0 AS xmin0,
       |  (CAST(latq5 AS DOUBLE) / 4096.0) * 180.0 - 90.0 AS ymin0,
       |  (CAST(lonq5 + 1 AS DOUBLE) / 8192.0) * 360.0 - 180.0 AS xmax0,
       |  (CAST(latq5 + 1 AS DOUBLE) / 4096.0) * 180.0 - 90.0 AS ymax0,
       |  (CAST(lonq4 AS DOUBLE) / 1024.0) * 360.0 - 180.0 AS pxmin,
       |  (CAST(latq4 AS DOUBLE) / 1024.0) * 180.0 - 90.0 AS pymin,
       |  (CAST(lonq4 + 1 AS DOUBLE) / 1024.0) * 360.0 - 180.0 AS pxmax,
       |  (CAST(latq4 + 1 AS DOUBLE) / 1024.0) * 180.0 - 90.0 AS pymax FROM g)
       |SELECT gh5 AS gh, count(*) AS n, min(c_custkey) AS min_key,
       |  bool_and(lon >= xmin0 AND lon <= xmax0 AND lat >= ymin0 AND lat <= ymax0)
       |    AS all_in_cell,
       |  bool_and(substr(gh5, 1, 4) = gh4
       |    AND xmin0 >= pxmin AND xmax0 <= pxmax
       |    AND ymin0 >= pymin AND ymax0 <= pymax) AS nested,
       |  min(east0) AS east, min(north0) AS north,
       |  min(xmin0) AS xmin, min(ymin0) AS ymin,
       |  min(xmax0) AS xmax, min(ymax0) AS ymax
       |FROM h GROUP BY gh5 ORDER BY gh""".stripMargin
  }

  /** GH3 — geohash proximity join: every (customer, supplier) point pair
    * within 0.15° at precision 4 (cell 0.352°×0.176° — dist ≤ both, the
    * complete-recall precondition). Candidates = 9-key equi-join (cell +
    * neighbors), refine = exact euclidean; the oracle is the UNFILTERED
    * theta join on the identical distance chain, so the blocking must be
    * invisible — the same ≡-brute-force discipline as j17/j19.
    */
  query("gh3_proximity_join") { (s, d) =>
    import graft.functions.SpatialOps
    val c = col("c_custkey"); val k = col("s_suppkey")
    val cust = Tables.customer(s, d).select(c,
      ((c * 131 % 3600).cast("double") / lit(10.0) - lit(180.0)).as("px"),
      ((c * 89 % 1700).cast("double") / lit(10.0) - lit(85.0)).as("py"))
    val supp = Tables.supplier(s, d).select(k,
      ((k * 127 % 3600).cast("double") / lit(10.0) - lit(180.0) + lit(0.03)).as("qx"),
      ((k * 83 % 1700).cast("double") / lit(10.0) - lit(85.0) + lit(0.04)).as("qy"))
    SpatialOps.geohashProximityJoin(cust, col("px"), col("py"),
        supp, col("qx"), col("qy"), precision = 4, dist = 0.15)
      .select(col("c_custkey"), col("s_suppkey"), col("d2"))
      .orderBy("c_custkey", "s_suppkey")
  }(
    // gh3: the unfiltered theta join on the identical euclidean chain —
    // the 9-key geohash blocking must be invisible (complete recall at
    // dist ≤ cell dimension).
    """WITH cust AS (SELECT c_custkey,
      |  (CAST((c_custkey * 131) % 3600 AS DOUBLE) / 10.0) - 180.0 AS px,
      |  (CAST((c_custkey * 89) % 1700 AS DOUBLE) / 10.0) - 85.0 AS py FROM customer),
      |supp AS (SELECT s_suppkey,
      |  ((CAST((s_suppkey * 127) % 3600 AS DOUBLE) / 10.0) - 180.0) + 0.03 AS qx,
      |  ((CAST((s_suppkey * 83) % 1700 AS DOUBLE) / 10.0) - 85.0) + 0.04 AS qy FROM supplier)
      |SELECT c_custkey, s_suppkey,
      |  (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2
      |FROM cust JOIN supp
      |  ON (px - qx) * (px - qx) + (py - qy) * (py - qy) <= 0.15 * 0.15
      |ORDER BY c_custkey, s_suppkey""".stripMargin)

  /** GH4 — geohash cover census: tile every supplier arrow (hole
    * included) with the precision-4 cells its REGION touches — the
    * pruning/bucketing primitive of a geohash-partitioned store. Census
    * per polygon: cell count, lexicographic id range, and the
    * order-independent Σ(lonq·2^31 + latq) fingerprint that pins the
    * exact cell SET. Cells strictly inside the hole are excluded by the
    * exact refine (the oracle replays edge-intersection + both
    * representative-vertex containments symbolically).
    */
  query("gh4_geohash_cover") { (s, d) =>
    import graft.functions.SpatialOps
    val polys = Tables.supplier(s, d).select(col("s_suppkey"),
      SpatialOps.wktRings(arrowWkt(col("s_suppkey"), withHole = true)).as("_r"))
    SpatialOps.geohashCoverCells(polys, "_r", precision = 4, packedCol = Some("pq"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_cells"),
        min(col("gh")).as("gh_min"), max(col("gh")).as("gh_max"),
        sum(col("pq")).as("cells_fp"))
      .orderBy("s_suppkey")
  } {
    // gh4: the cover replayed symbolically — envelope quantization (the
    // mirrored float chain), lateral cell generation, and the EXACT
    // rect-vs-polygon overlap (36 segment-pair orientation tests + both
    // representative-vertex containments) on symbolic rect corners; the
    // census pins the exact cell set via the packed-integer sum.
    val arrowSegs = arrowSqlPts(withHole = true).flatMap(sqlRingSegs)
    val rectPts = Seq(("xmin0", "ymin0"), ("xmax0", "ymin0"), ("xmax0", "ymax0"),
      ("xmin0", "ymax0"), ("xmin0", "ymin0"))
    val rectSegs = sqlRingSegs(rectPts)
    val overlap = s"(${sqlEdgesIntersect(rectSegs, arrowSegs)} OR " +
      s"${sqlContains(arrowSegs, "(xmin0)", "(ymin0)")} OR " +
      s"${sqlContains(rectSegs, "(x0)", "(y0)")})"
    val ghExpr = ghSqlBase32(ghSqlInterleave("lq", "tq", 4), 4)
    s"""WITH base AS ($arrowSqlBase),
       |env AS (SELECT s_suppkey, x0, y0, w, h,
       |  ${ghSqlQuant("x0", "180.0", "360.0", 10)} AS qx0,
       |  ${ghSqlQuant("x0 + w", "180.0", "360.0", 10)} AS qx1,
       |  ${ghSqlQuant("y0", "90.0", "180.0", 10)} AS qy0,
       |  ${ghSqlQuant("y0 + h", "90.0", "180.0", 10)} AS qy1 FROM base),
       |candx AS (SELECT s_suppkey, x0, y0, w, h, qy0, qy1,
       |  unnest(generate_series(qx0, qx1)) AS lq FROM env),
       |cand AS (SELECT s_suppkey, x0, y0, w, h, lq,
       |  unnest(generate_series(qy0, qy1)) AS tq,
       |  (CAST(lq AS DOUBLE) / 1024.0) * 360.0 - 180.0 AS xmin0,
       |  (CAST(lq + 1 AS DOUBLE) / 1024.0) * 360.0 - 180.0 AS xmax0
       |  FROM candx),
       |cand2 AS (SELECT *,
       |  (CAST(tq AS DOUBLE) / 1024.0) * 180.0 - 90.0 AS ymin0,
       |  (CAST(tq + 1 AS DOUBLE) / 1024.0) * 180.0 - 90.0 AS ymax0
       |  FROM cand),
       |cov AS (SELECT s_suppkey, lq, tq, $ghExpr AS gh FROM cand2 WHERE $overlap)
       |SELECT s_suppkey, count(*) AS n_cells, min(gh) AS gh_min, max(gh) AS gh_max,
       |  CAST(sum((lq * 2147483648) + tq) AS BIGINT) AS cells_fp
       |FROM cov GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin
  }

  /** Z1 — z-order (Morton) layout key: the write-side spatial-clustering
    * primitive (SpatialOps.zorderKey / clusterByZOrder). Hash-checks the
    * bit-interleave against an explicit bit-arithmetic DuckDB oracle.
    */
  query("z1_zorder") { (s, d) =>
    Tables.supplier(s, d)
      .select(col("s_suppkey"),
        graft.functions.SpatialOps.zorderKey(
          col("s_suppkey") % 97, col("s_suppkey") % 89, bits = 7).as("zkey"))
      .orderBy("zkey", "s_suppkey")
  }(s"""SELECT s_suppkey, CAST(${zorderSqlExpr("s_suppkey % 97", "s_suppkey % 89", 7)} AS BIGINT) AS zkey
       |FROM supplier ORDER BY zkey, s_suppkey""".stripMargin)

  /** DuckDB bit-sum replica of zorderKey for the z1 oracle. */
  private def zorderSqlExpr(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"(((($x) >> $i) & 1) << ${2 * i})",
      s"(((($y) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  /** hb1's oracle — HilbertExprs.xy2d unrolled level-by-level: one CTE
    * per scale bit (s = 2^15 .. 2^0), each applying the quadrant weight
    * d += s²·((3·rx) XOR ry) and the rotate/reflect frame update. The
    * grid coordinates come from modular multipliers (all-integer), so
    * every value in the chain is exact in both engines; `xo`/`yo` carry
    * the pre-rotation cell through to the output.
    */
  private def sqlHilbertUnrolled: String = {
    val n = 1L << 16
    val base =
      s"""h16 AS (SELECT p_partkey,
         |  (p_partkey * 48271) % 65536 AS xo, (p_partkey * 69621) % 65536 AS yo,
         |  (p_partkey * 48271) % 65536 AS x, (p_partkey * 69621) % 65536 AS y,
         |  CAST(0 AS BIGINT) AS d FROM part)""".stripMargin
    val levels = (15 to 0 by -1).map { b =>
      val s = 1L << b
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h$b AS (SELECT p_partkey, xo, yo,
         |  CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN ${n - 1} - y ELSE y END) ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN (CASE WHEN (x & $s) > 0 THEN ${n - 1} - x ELSE x END) ELSE y END AS y,
         |  d + CAST(${s * s} AS BIGINT) * xor(3 * $rx, $ry) AS d FROM h${b + 1})""".stripMargin
    }
    (base +: levels).mkString("WITH ", ",\n", "\n") +
      "SELECT p_partkey, xo AS x, yo AS y, d AS hilbert FROM h0 ORDER BY p_partkey"
  }

  /** b1 — co-bucketed join: both sides written bucketed+sorted by the join
    * key, then joined shuffle-free (BucketingSpec asserts the no-exchange
    * plan; here the driver hash-checks the RESULT against the plain join —
    * bucketing must be semantically invisible).
    */
  query("b1_bucketed_join") { (s, d) =>
    Bucketing.writeBucketed(
      Tables.lineitem(s, d).select(col("l_partkey").as("partkey"), col("l_quantity")),
      "b1_lineitem_bkt", buckets = 8, keys = Seq("partkey"))
    Bucketing.writeBucketed(
      Tables.part(s, d).select(col("p_partkey").as("partkey"), col("p_brand")),
      "b1_part_bkt", buckets = 8, keys = Seq("partkey"))
    Bucketing.colocatedJoin(s, "b1_lineitem_bkt", "b1_part_bkt", keys = Seq("partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }("""SELECT p_brand, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
}
