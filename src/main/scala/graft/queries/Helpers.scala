package graft
package queries

import graft.functions.TextOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SQL and Column helpers shared by more than one query family. */
private[graft] object Helpers {
  val D2 = DecimalType(18, 2)

  /** SUM(x) through exact decimal, emitted as double. */
  def dsum(c: Column): Column = sum(c.cast(D2)).cast("double")

  // ---- J16/J17/J18: exact-geometry refine (filter-refine spatial joins) ----
  //
  // The r12 gap: the PBSM join was envelope-exact only. These queries prove
  // the TRUE-geometry refine stage (SpatialOps.ringsContainPoint /
  // ringsIntersectPolys) end-to-end against pure-arithmetic DuckDB oracles:
  // every coordinate is an integer-derived dyadic double, and the crossing /
  // orientation algebra is IEEE +,−,×,÷ evaluated in the same order by both
  // engines, so the oracle replays each geometric DECISION bit-for-bit.

  /** Concave "arrow" polygon (notch at top center) with a square hole —
    * the j16 fixture family: its bbox genuinely over-approximates (notch +
    * hole), so refine does real work. All coordinates dyadic-exact.
    */
  def arrowWkt(k: Column, withHole: Boolean): Column = {
    val x0 = (k % 90).cast("double"); val y0 = (k % 80).cast("double")
    val w = (k % 5 + 4).cast("double"); val h = (k % 7 + 4).cast("double")
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val outer = concat_ws(", ",
      pt(x0, y0), pt(x0 + w, y0), pt(x0 + w, y0 + h),
      pt(x0 + w / 2, y0 + h / 2), pt(x0, y0 + h), pt(x0, y0))
    val hole = concat_ws(", ",
      pt(x0 + 0.5, y0 + 0.5), pt(x0 + 0.5, y0 + 1.5),
      pt(x0 + 1.5, y0 + 1.5), pt(x0 + 1.5, y0 + 0.5), pt(x0 + 0.5, y0 + 0.5))
    if (withHole) concat(lit("POLYGON (("), outer, lit("), ("), hole, lit("))"))
    else concat(lit("POLYGON (("), outer, lit("))"))
  }

  // ---- DuckDB replicas of the exact-geometry refine predicates (j16-j18).
  // Every operand is re-parenthesized on substitution so the SQL groups
  // identically to the Column algebra (e.g. `py - y1` with y1 = "y0 + h"
  // must read `py - (y0 + h)`, not `py - y0 + h`); all ops are IEEE
  // +,-,*,/ and comparisons, correctly rounded in both engines, so each
  // geometric decision replays bit-for-bit.

  /** Consecutive segments of a closed ring given its point list. */
  def sqlRingSegs(pts: Seq[(String, String)]): Seq[((String, String), (String, String))] =
    pts.map { case (x, y) => (s"($x)", s"($y)") }.zip(
      pts.tail.map { case (x, y) => (s"($x)", s"($y)") })

  /** Rightward-ray crossing count (SpatialOps.ringsCrossingNumber). */
  def sqlCrossings(segs: Seq[((String, String), (String, String))],
      px: String, py: String): String =
    segs.map { case ((x1, y1), (x2, y2)) =>
      s"(CASE WHEN (($y1 > $py) <> ($y2 > $py)) AND " +
        s"($px < $x1 + ($py - $y1) * ($x2 - $x1) / ($y2 - $y1)) THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Exact point-on-segment test (SpatialOps.ringsPointOnBoundary). */
  def sqlOnBoundary(segs: Seq[((String, String), (String, String))],
      px: String, py: String): String =
    segs.map { case ((x1, y1), (x2, y2)) =>
      s"((($x2 - $x1) * ($py - $y1) - ($y2 - $y1) * ($px - $x1) = 0) AND " +
        s"$px >= least($x1, $x2) AND $px <= greatest($x1, $x2) AND " +
        s"$py >= least($y1, $y2) AND $py <= greatest($y1, $y2))"
    }.mkString("(", " OR ", ")")

  /** Closed containment = boundary OR odd parity (SpatialOps.ringsContainPoint). */
  def sqlContains(segs: Seq[((String, String), (String, String))],
      px: String, py: String): String =
    s"(${sqlOnBoundary(segs, px, py)} OR ${sqlCrossings(segs, px, py)} % 2 = 1)"

  /** The j30/j31 zigzag's symbolic points over base columns x0,y0,m5,m4,m7. */
  val zigzagSqlPts: Seq[(String, String)] = Seq(
    ("x0", "y0"),
    ("x0 + 3", "y0 + m5 + 1"),
    ("x0 + 3 + m4", "y0 - m7 + 3"),
    ("x0 + 9", "y0 + 2"))

  /** Shared Liang–Barsky t-chain CTE generator (j30/j31 — ONE spelling
    * of clipSegmentsBox's CASE chains, r16b review): per segment a
    * MATERIALIZED CTE `s$i` over base CTE `b`, clipping against the
    * given slab bounds, projecting `keyCols(i)` plus the clipped
    * endpoints.
    */
  def sqlSegClipCtes(pts: Seq[(String, String)],
      lox: String, hix: String, loy: String, hiy: String,
      keyCols: Int => String): Seq[String] = {
    def t0Of(dd: String, c: String, lo: String, hi: String): String =
      s"""CASE WHEN ($dd) > 0 THEN (($lo) - ($c)) / ($dd)
         |     WHEN ($dd) < 0 THEN (($hi) - ($c)) / ($dd)
         |     ELSE CASE WHEN ($c) >= ($lo) AND ($c) <= ($hi)
         |               THEN CAST(0 AS DOUBLE) ELSE CAST(2 AS DOUBLE) END END""".stripMargin
    def t1Of(dd: String, c: String, lo: String, hi: String): String =
      s"""CASE WHEN ($dd) > 0 THEN (($hi) - ($c)) / ($dd)
         |     WHEN ($dd) < 0 THEN (($lo) - ($c)) / ($dd)
         |     ELSE CASE WHEN ($c) >= ($lo) AND ($c) <= ($hi)
         |               THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END END""".stripMargin
    (0 until pts.length - 1).map { i =>
      val (px, py) = pts(i)
      val (qx, qy) = pts(i + 1)
      val dx = s"(($qx) - ($px))"
      val dy = s"(($qy) - ($py))"
      val t0 = s"GREATEST(CAST(0 AS DOUBLE), ${t0Of(dx, px, lox, hix)}, ${t0Of(dy, py, loy, hiy)})"
      val t1 = s"LEAST(CAST(1 AS DOUBLE), ${t1Of(dx, px, lox, hix)}, ${t1Of(dy, py, loy, hiy)})"
      s"""s$i AS MATERIALIZED (SELECT ${keyCols(i)},
         |  ($px) + t0 * $dx AS ax, ($py) + t0 * $dy AS ay,
         |  ($px) + t1 * $dx AS bx, ($py) + t1 * $dy AS by
         |FROM (SELECT *, $t0 AS t0, $t1 AS t1 FROM b) WHERE t0 <= t1)""".stripMargin
    }
  }

  /** j21's oracle — the S-H clip + shoelace fold replayed in DuckDB list
    * algebra: per half-plane pass, a list_transform over the closed
    * vertex list emits kept vertices and intersection points (the
    * IDENTICAL divide/multiply/add order as the kernel), the list
    * re-closes, and the signed area comes from a SEQUENTIAL list_reduce
    * (the kernel's left fold). All pairs, no prune — clip_area > 0 does
    * the joining.
    */
  def sqlClipZonal: String = {
    val rings = arrowSqlPts(withHole = true)
    def ptsList(pts: Seq[(String, String)]): String =
      pts.map { case (x, y) =>
        s"struct_pack(x := CAST($x AS DOUBLE), y := CAST($y AS DOUBLE))"
      }.mkString("[", ", ", "]")
    def pass(in: String, onX: Boolean, bound: String, keepGE: Boolean): String = {
      val f = if (onX) "x" else "y"
      val cmp = if (keepGE) ">=" else "<="
      val isect =
        if (onX)
          s"struct_pack(x := CAST($bound AS DOUBLE), y := $in[i].y + ((CAST($bound AS DOUBLE) - $in[i].x) / ($in[i+1].x - $in[i].x)) * ($in[i+1].y - $in[i].y))"
        else
          s"struct_pack(x := $in[i].x + ((CAST($bound AS DOUBLE) - $in[i].y) / ($in[i+1].y - $in[i].y)) * ($in[i+1].x - $in[i].x), y := CAST($bound AS DOUBLE))"
      s"""flatten(list_transform(range(1, length($in)), i ->
         |    CASE WHEN $in[i+1].$f $cmp ($bound) AND $in[i].$f $cmp ($bound) THEN [$in[i+1]]
         |         WHEN $in[i+1].$f $cmp ($bound) THEN [$isect, $in[i+1]]
         |         WHEN $in[i].$f $cmp ($bound) THEN [$isect]
         |         ELSE [] END))""".stripMargin
    }
    def close(v: String) =
      s"CASE WHEN length($v) = 0 THEN $v ELSE list_append($v, $v[1]) END"
    def crossOf(v: String) =
      s"""CASE WHEN length($v) < 2 THEN CAST(0 AS DOUBLE) ELSE
         |    list_reduce(list_transform(range(1, length($v)), i ->
         |      $v[i].x * $v[i+1].y - $v[i+1].x * $v[i].y), (a, b) -> a + b) END""".stripMargin
    val passes = Seq(("x", "gx", true), ("x", "gx + 8", false),
      ("y", "gy", true), ("y", "gy + 8", false))
    // MATERIALIZED CTE per level: each close references its pass column
    // 3x and each pass references the previous state ~12x inside lambdas
    // — nested subqueries let DuckDB inline projections into every
    // reference, ~36x expression growth per level, exponential over 8
    // levels (measured: 780 pairs did not finish in 2 min; materialized,
    // the full 15.6k pairs run in well under a second).
    val base =
      s"""lvl0 AS MATERIALIZED (SELECT s_suppkey, cell_id, gx, gy,
         |  ${ptsList(rings(0))} AS o0, ${ptsList(rings(1))} AS h0
         |FROM ($arrowSqlBase) a CROSS JOIN
         |  (SELECT range AS cell_id, CAST((range % 13) * 8 AS DOUBLE) AS gx,
         |     CAST((range // 13) * 8 AS DOUBLE) AS gy FROM range(156)) c)""".stripMargin
    val levels = passes.zipWithIndex.flatMap { case ((axis, bound, ge), k) =>
      val onX = axis == "x"
      Seq(
        s"""p${k + 1} AS MATERIALIZED (SELECT s_suppkey, cell_id, gx, gy,
           |  ${pass(s"o$k", onX, bound, ge)} AS oraw,
           |  ${pass(s"h$k", onX, bound, ge)} AS hraw FROM ${if (k == 0) "lvl0" else s"c$k"})""".stripMargin,
        s"""c${k + 1} AS MATERIALIZED (SELECT s_suppkey, cell_id, gx, gy,
           |  ${close("oraw")} AS o${k + 1}, ${close("hraw")} AS h${k + 1} FROM p${k + 1})""".stripMargin)
    }
    (base +: levels).mkString("WITH ", ",\n", "\n") +
      s"""SELECT s_suppkey, cell_id, clip_area FROM (
         |  SELECT s_suppkey, cell_id,
         |    abs((${crossOf("o4")}) + (${crossOf("h4")})) / 2 AS clip_area
         |  FROM c4)
         |WHERE clip_area > 0 ORDER BY s_suppkey, cell_id""".stripMargin
  }

  /** Closed segment-pair intersection (SpatialOps.segmentsIntersect: CLRS
    * orientation signs + collinear endpoint-on-segment touches).
    */
  def sqlSegIntersect(a: ((String, String), (String, String)),
      b: ((String, String), (String, String))): String = {
    def orient(ax: String, ay: String, bx: String, by: String,
        cx: String, cy: String): String =
      s"(($bx - $ax) * ($cy - $ay) - ($by - $ay) * ($cx - $ax))"
    def on(ax: String, ay: String, bx: String, by: String,
        cx: String, cy: String): String =
      s"($cx >= least($ax, $bx) AND $cx <= greatest($ax, $bx) AND " +
        s"$cy >= least($ay, $by) AND $cy <= greatest($ay, $by))"
    val ((x1, y1), (x2, y2)) = a
    val ((x3, y3), (x4, y4)) = b
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    s"(((($d1 > 0 AND $d2 < 0) OR ($d1 < 0 AND $d2 > 0)) AND " +
      s"(($d3 > 0 AND $d4 < 0) OR ($d3 < 0 AND $d4 > 0))) OR " +
      s"($d1 = 0 AND ${on(x3, y3, x4, y4, x1, y1)}) OR " +
      s"($d2 = 0 AND ${on(x3, y3, x4, y4, x2, y2)}) OR " +
      s"($d3 = 0 AND ${on(x1, y1, x2, y2, x3, y3)}) OR " +
      s"($d4 = 0 AND ${on(x1, y1, x2, y2, x4, y4)}))"
  }

  /** Any-segment-pair-intersects over two rings (SpatialOps.ringsEdgesIntersect). */
  def sqlEdgesIntersect(a: Seq[((String, String), (String, String))],
      b: Seq[((String, String), (String, String))]): String =
    (for (sa <- a; sb <- b) yield sqlSegIntersect(sa, sb)).mkString("(", " OR ", ")")

  /** The j16/j17 arrow's ring points in terms of base columns x0,y0,w,h. */
  def arrowSqlPts(withHole: Boolean): Seq[Seq[(String, String)]] = {
    val outer = Seq(
      ("x0", "y0"), ("x0 + w", "y0"), ("x0 + w", "y0 + h"),
      ("x0 + w / 2", "y0 + h / 2"), ("x0", "y0 + h"), ("x0", "y0"))
    val hole = Seq(
      ("x0 + 0.5", "y0 + 0.5"), ("x0 + 0.5", "y0 + 1.5"),
      ("x0 + 1.5", "y0 + 1.5"), ("x0 + 1.5", "y0 + 0.5"), ("x0 + 0.5", "y0 + 0.5"))
    if (withHole) Seq(outer, hole) else Seq(outer)
  }

  /** The arrow's generating integers as a SQL CTE body (j16-j18). */
  val arrowSqlBase: String =
    """SELECT s_suppkey,
      |  CAST(s_suppkey % 90 AS DOUBLE) AS x0, CAST(s_suppkey % 80 AS DOUBLE) AS y0,
      |  CAST(s_suppkey % 5 + 4 AS DOUBLE) AS w, CAST(s_suppkey % 7 + 4 AS DOUBLE) AS h
      |FROM supplier""".stripMargin

  /** SQL for the integer value of hex digit i (1-based) of expression h. */
  def sqlHexDigit(h: String, i: Int): String =
    s"(ascii(substr($h,$i,1)) - 48 - CASE WHEN ascii(substr($h,$i,1)) >= 97 THEN 39 ELSE 0 END)"

  /** SQL for the integer value of the first k hex chars of expression h. */
  def sqlHexVal(h: String, k: Int): String =
    // the multiplier must be BIGINT: DuckDB types bare integer literals
    // INT32, and digit · 16^7 already overflows 32 bits (k up to 15 here)
    (1 to k).map(i =>
        s"${sqlHexDigit(h, i)} * CAST(${math.pow(16, (k - i).toDouble).toLong} AS BIGINT)")
      .mkString("(", " + ", ")")

  def sqlMinhash(j: Int): String = {
    val (a, b) = TextOps.minhashParams(j)
    s"CAST(list_min(list_transform(hs, h -> (CAST($a AS BIGINT) * h + $b) % ${TextOps.MinhashP})) AS BIGINT)"
  }

  /** Shingle CTE over an arbitrary source relation (cc2 scopes it). */
  def sqlShingleCteFrom(src: String): String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $src),
       |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [text]
       |  ELSE list_transform(generate_series(1, len(toks) - 2),
       |    i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) END AS shingles FROM t),
       |sh AS (SELECT doc_id, shingles,
       |  list_transform(list_transform(shingles, g -> md5(g)), h -> ${sqlHexVal("h", 6)}) AS hs FROM s)""".stripMargin

  val sqlShingleCte = sqlShingleCteFrom("documents")
}
