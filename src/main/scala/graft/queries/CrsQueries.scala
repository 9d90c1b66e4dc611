package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Coordinate reference systems: map projections (UTM, Web Mercator,
  * Lambert, Albers, polar stereographic, Gauss-Kruger, UPS), datum shifts,
  * WKT/EPSG dispatch and vector reprojection. */
object CrsQueries extends Family {

  /** g11's per-JVM .prj round-trip memo (WKT string → the crs column
    * value the vector reader surfaced) — fixture setup, not query work.
    */
  private val g11PrjCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** G5 — CRS-to-CRS reprojection (feature_stacking.py:85-96: the DEM-in-
    * EPSG:4326-vs-scenes-in-UTM case): master cell centers map through a
    * projective (homography) transform into the aux raster's coordinate
    * plane before the nearest-cell key derivation. Every transform
    * coefficient is dyadic (exact decimal→double parse in both engines)
    * and the oracle mirrors the exact IEEE expression structure, so the
    * quotient, floor, and join keys are bit-identical cross-engine.
    * Master cells whose image falls outside aux coverage come back NULL —
    * the reprojection fill, exercised deliberately.
    */
  query("g5_reproject") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    val xform = operators.Regrid.ProjectiveTransform(
      1.25, 0.25, 2.0,
      -0.125, 1.25, 2.0,
      0.0009765625, -0.00048828125, 1.0)
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(0.0, 16.0, 1.0, 1.0),
      operators.Regrid.GridDef(0.0, 24.0, 1.0, 1.0),
      xform, Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  }(
    // g5: projective reprojection — the oracle mirrors the engine's exact
    // IEEE expression structure (dyadic coefficients, left-assoc sums,
    // single quotient) so the derived keys are bit-identical; identity ops
    // (+0.0, *1.0, /1.0) are elided, which never changes a double.
    """WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 24 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 26 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    CAST(px_col AS DOUBLE) + 0.5 AS cx,
      |    16.0 - (CAST(px_row AS DOUBLE) + 0.5) AS cy FROM master),
      |t AS (SELECT px_row, px_col,
      |    (1.25 * cx + 0.25 * cy + 2.0) /
      |      (0.0009765625 * cx + -0.00048828125 * cy + 1.0) AS sx,
      |    (-0.125 * cx + 1.25 * cy + 2.0) /
      |      (0.0009765625 * cx + -0.00048828125 * cy + 1.0) AS sy
      |  FROM c)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor(24.0 - sy) AS INT) AND a.ac = CAST(floor(sx) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin)

  /** G6 — NAMED-CRS geodetic reprojection: the reference's real
    * `align_rasterio` case (feature_stacking.py:85-96 — DEM in geographic
    * EPSG:4326 vs scenes in UTM). The master grid is UTM zone 33N metres
    * around 48°N; each cell center runs the public Snyder inverse
    * transverse-Mercator series ([[operators.Regrid.GeographicFromUtm]])
    * into lon/lat, then nearest-samples a geographic aux raster. The
    * fixture geometry keeps every mapped center ≥3e-5 cell-fractions from
    * any aux cell boundary, so the int cell keys are robust to last-ulp
    * libm differences and the oracle evaluates the identical closed form.
    */
  query("g6_utm_reproject") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(445000.0, 5320000.0, 100.0, 100.0),
      operators.Regrid.GridDef(14.26, 48.032, 0.001, 0.0007),
      operators.Regrid.GeographicFromUtm(33), Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  } {
    // g6: the same Snyder inverse transverse-Mercator series the engine's
    // GeographicFromUtm Column tree evaluates, with every derived constant
    // interpolated from the same Scala source (round-trip-exact literals)
    // and every arithmetic chain written with the same associativity — the
    // fixture keeps mapped centers >=3e-5 cell-fractions from any aux
    // boundary, so the int cell keys absorb last-ulp libm differences.
    import operators.Regrid.Utm
    val am0 = Utm.A * Utm.M0
    val ae = Utm.A * (1 - Utm.E2)
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 24 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 26 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    445000.0 + (CAST(px_col AS DOUBLE) + 0.5) * 100.0 AS cx,
      |    5320000.0 - (CAST(px_row AS DOUBLE) + 0.5) * 100.0 AS cy FROM master),
      |f1 AS (SELECT px_row, px_col, cx, (cy - 0.0) / ${Utm.K0} / $am0 AS mu FROM c),
      |f2 AS (SELECT px_row, px_col, cx,
      |    mu + ${Utm.P2} * sin(2.0 * mu) + ${Utm.P4} * sin(4.0 * mu)
      |       + ${Utm.P6} * sin(6.0 * mu) + ${Utm.P8} * sin(8.0 * mu) AS phi1 FROM f1),
      |f3 AS (SELECT px_row, px_col, cx, phi1,
      |    ${Utm.Ep2} * cos(phi1) * cos(phi1) AS c1,
      |    tan(phi1) * tan(phi1) AS t1,
      |    1.0 - ${Utm.E2} * sin(phi1) * sin(phi1) AS om FROM f2),
      |f4 AS (SELECT px_row, px_col, cx, phi1, c1, t1,
      |    ${Utm.A} / sqrt(om) AS n1, $ae / (om * sqrt(om)) AS r1 FROM f3),
      |f5 AS (SELECT px_row, px_col, phi1, c1, t1, n1, r1,
      |    (cx - ${Utm.FalseEasting}) / (n1 * ${Utm.K0}) AS dd FROM f4),
      |t AS (SELECT px_row, px_col,
      |    (phi1 - (n1 * tan(phi1) / r1) * (dd * dd / 2.0
      |      - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - ${9.0 * Utm.Ep2})
      |        * dd * dd * dd * dd / 24.0
      |      + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - ${252.0 * Utm.Ep2}
      |         - 3.0 * c1 * c1) * dd * dd * dd * dd * dd * dd / 720.0))
      |      / ${Utm.Deg2Rad} AS lat,
      |    15.0 + (dd - (1.0 + 2.0 * t1 + c1) * dd * dd * dd / 6.0
      |      + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + ${8.0 * Utm.Ep2}
      |         + 24.0 * t1 * t1) * dd * dd * dd * dd * dd / 120.0) / cos(phi1)
      |      / ${Utm.Deg2Rad} AS lon
      |  FROM f5)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor((48.032 - lat) / 0.0007) AS INT)
      | AND a.ac = CAST(floor((lon - 14.26) / 0.001) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin
  }

  /** G7 — SECOND named-CRS family through the same Transform2D seam as g6
    * (proving the UTM pattern generalizes): master grid in spherical
    * Web-Mercator (EPSG:3857) meters over Tokyo, aux raster geographic;
    * λ = x/R, φ = 2·atan(exp(y/R)) − π/2 evaluated as the identical
    * closed form by DuckDB (round-trip-exact interpolated constants, g6's
    * recipe; fixture centers sit ≥0.028 cell-fractions from boundaries,
    * and negative derived rows exercise the outside-coverage NULL path).
    */
  query("g7_webmercator_reproject") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 40).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 80).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(15550000.0, 4260000.0, 500.0, 500.0),
      operators.Regrid.GridDef(139.68, 35.67, 0.001, 0.0007),
      operators.Regrid.GeographicFromWebMercator, Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  } {
    // g7: the spherical Web-Mercator inverse evaluated as the identical
    // closed form (same associativity, interpolated constants).
    import operators.Regrid.Utm
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 40 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 80 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    15550000.0 + (CAST(px_col AS DOUBLE) + 0.5) * 500.0 AS cx,
      |    4260000.0 - (CAST(px_row AS DOUBLE) + 0.5) * 500.0 AS cy FROM master),
      |t AS (SELECT px_row, px_col,
      |    cx / ${Utm.A} / ${Utm.Deg2Rad} AS lon,
      |    (2.0 * atan(exp(cy / ${Utm.A})) - ${math.Pi / 2.0}) / ${Utm.Deg2Rad} AS lat
      |  FROM c)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor((35.67 - lat) / 0.0007) AS INT)
      | AND a.ac = CAST(floor((lon - 139.68) / 0.001) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin
  }

  /** G8 — THIRD named-CRS family, conic: ellipsoidal two-parallel Lambert
    * conformal conic (Snyder 15-9..15-11 + series 3-5 — PROJ's `lcc`, the
    * projection every CONUS-wide US product ships in) through the same
    * Transform2D seam. Master grid in LCC(33°,45°, origin 23°/−96°) metres
    * over Kansas; aux raster geographic. The conformal-latitude series
    * keeps the inverse closed-form (no per-row iteration), so DuckDB
    * evaluates the identical expression with interpolated round-trip-exact
    * constants; fixture centers sit ≥1.4e-3 cell-fractions from aux
    * boundaries (derived margins, /tmp-reproducible via tools notes).
    */
  query("g8_lambert_reproject") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(-17200.0, 1800000.0, 100.0, 100.0),
      operators.Regrid.GridDef(-96.2, 39.12, 0.001, 0.0007),
      operators.Regrid.GeographicFromLambertConformal(
        operators.Regrid.LccParams(33.0, 45.0, 23.0, -96.0)),
      Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  } {
    // g8: the ellipsoidal LCC inverse (Snyder 15-9..15-11 + the 3-5
    // conformal-latitude series) evaluated as the identical closed form —
    // every derived constant (n, aF, rho0, series coefficients) computed
    // once in Scala and interpolated round-trip-exact into both engines.
    import operators.Regrid.Utm
    val p = operators.Regrid.LccParams(33.0, 45.0, 23.0, -96.0)
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 24 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 26 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    -17200.0 + (CAST(px_col AS DOUBLE) + 0.5) * 100.0 AS cx,
      |    1800000.0 - (CAST(px_row AS DOUBLE) + 0.5) * 100.0 AS cy FROM master),
      |f1 AS (SELECT px_row, px_col,
      |    cx - 0.0 AS xp, ${p.rho0} - (cy - 0.0) AS yp FROM c),
      |f2 AS (SELECT px_row, px_col, xp, yp,
      |    pow(sqrt(xp * xp + yp * yp) / ${p.aF}, ${1.0 / p.n}) AS t FROM f1),
      |f3 AS (SELECT px_row, px_col, xp, yp,
      |    ${math.Pi / 2.0} - 2.0 * atan(t) AS chi FROM f2),
      |t AS (SELECT px_row, px_col,
      |    ${p.lon0Deg} + atan2(xp, yp) / ${p.n} / ${Utm.Deg2Rad} AS lon,
      |    (chi + ${p.C2} * sin(2.0 * chi) + ${p.C4} * sin(4.0 * chi)
      |         + ${p.C6} * sin(6.0 * chi) + ${p.C8} * sin(8.0 * chi))
      |      / ${Utm.Deg2Rad} AS lat
      |  FROM f3)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor((39.12 - lat) / 0.0007) AS INT)
      | AND a.ac = CAST(floor((lon - (-96.2)) / 0.001) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin
  }

  /** G9 — DATUM SHIFT through the Transform2D seam: master grid geographic
    * on WGS84, aux raster indexed in legacy Tokyo-Datum (Bessel 1841)
    * degrees — the reference's own Tokyo scenes predate JGD2000, so this
    * is the exact legacy-raster case. WGS84→Tokyo is the negated
    * published Tokyo→WGS84 geocentric shift (−146.414, 507.337, 680.507)
    * run through the abridged Molodensky closed form (h = 0); the ~11.6″
    * offset moves every cell ≈ 360 m, so misapplying the datum would
    * rekey every single cell. Fixture margins ≥ 0.15 cell-fractions.
    */
  query("g9_datum_shift") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(139.68, 35.68, 0.001, 0.0007),
      operators.Regrid.GridDef(139.683, 35.677, 0.001, 0.0007),
      operators.Regrid.AbridgedMolodensky(146.414, -507.337, -680.507,
        operators.Regrid.Ellipsoid.Wgs84, operators.Regrid.Ellipsoid.Bessel1841),
      Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  } {
    // g9: the abridged Molodensky datum shift evaluated as the identical
    // closed form; ellipsoid constants and the combined (a·Δf + f·Δa)
    // term interpolated from the same Scala doubles.
    import operators.Regrid.{Utm, Ellipsoid}
    val (src, dst) = (Ellipsoid.Wgs84, Ellipsoid.Bessel1841)
    val shiftC = src.a * (dst.f - src.f) + src.f * (dst.a - src.a)
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 24 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 26 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    139.68 + (CAST(px_col AS DOUBLE) + 0.5) * 0.001 AS cx,
      |    35.68 - (CAST(px_row AS DOUBLE) + 0.5) * 0.0007 AS cy FROM master),
      |f1 AS (SELECT px_row, px_col, cx, cy,
      |    cy * ${Utm.Deg2Rad} AS phi, cx * ${Utm.Deg2Rad} AS lam FROM c),
      |f2 AS (SELECT px_row, px_col, cx, cy, phi,
      |    sin(phi) AS sp, cos(phi) AS cp, sin(lam) AS sl, cos(lam) AS cl,
      |    1.0 - ${src.e2} * sin(phi) * sin(phi) AS w2 FROM f1),
      |f3 AS (SELECT px_row, px_col, cx, cy, phi, sp, cp, sl, cl,
      |    ${src.a * (1 - src.e2)} / (w2 * sqrt(w2)) AS m,
      |    ${src.a} / sqrt(w2) AS n FROM f2),
      |t AS (SELECT px_row, px_col,
      |    cx + (((-146.414) * sl + (-507.337) * cl) / (n * cp)) / ${Utm.Deg2Rad} AS lon,
      |    cy + (((-146.414) * sp * cl - (-507.337) * sp * sl + (-680.507) * cp
      |           + $shiftC * sin(2.0 * phi)) / m) / ${Utm.Deg2Rad} AS lat
      |  FROM f3)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor((35.677 - lat) / 0.0007) AS INT)
      | AND a.ac = CAST(floor((lon - 139.683) / 0.001) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin
  }

  /** G10 — FOURTH named-CRS family: ellipsoidal two-parallel Albers
    * equal-area conic (Snyder 14-8..14-11 + the authalic-latitude series
    * 3-18 — EPSG:5070's projection, the standard CONUS statistics CRS;
    * the conic preserving AREA where Lambert preserves shape). Master
    * grid in AEA(29.5°,45.5°, origin 23°/−96°) metres over Kansas,
    * geographic aux; closed-form inverse, no per-row iteration; fixture
    * margins ≥ 1.3e-3 cell-fractions.
    */
  query("g10_albers_reproject") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(-138500.0, 1703200.0, 100.0, 100.0),
      operators.Regrid.GridDef(-97.6, 38.35, 0.001, 0.0007),
      operators.Regrid.GeographicFromAlbers(
        operators.Regrid.AeaParams(29.5, 45.5, 23.0, -96.0)),
      Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  } {
    // g10: the Albers equal-area inverse (Snyder 14-8..14-11 + authalic
    // series 3-18) as the identical closed form, constants interpolated.
    import operators.Regrid.Utm
    val p = operators.Regrid.AeaParams(29.5, 45.5, 23.0, -96.0)
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 24 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 26 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    -138500.0 + (CAST(px_col AS DOUBLE) + 0.5) * 100.0 AS cx,
      |    1703200.0 - (CAST(px_row AS DOUBLE) + 0.5) * 100.0 AS cy FROM master),
      |f1 AS (SELECT px_row, px_col,
      |    cx - 0.0 AS xp, ${p.rho0} - (cy - 0.0) AS yp FROM c),
      |f2 AS (SELECT px_row, px_col, xp, yp,
      |    sqrt(xp * xp + yp * yp) AS rho FROM f1),
      |f3 AS (SELECT px_row, px_col, xp, yp,
      |    asin(((${p.bigC} - rho * rho * ${p.n} * ${p.n} / ${p.a * p.a}) / ${p.n})
      |      / ${p.qPole}) AS beta FROM f2),
      |t AS (SELECT px_row, px_col,
      |    ${p.lon0Deg} + atan2(xp, yp) / ${p.n} / ${Utm.Deg2Rad} AS lon,
      |    (beta + ${p.B2} * sin(2.0 * beta) + ${p.B4} * sin(4.0 * beta)
      |          + ${p.B6} * sin(6.0 * beta)) / ${Utm.Deg2Rad} AS lat
      |  FROM f3)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor((38.35 - lat) / 0.0007) AS INT)
      | AND a.ac = CAST(floor((lon - (-97.6)) / 0.001) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin
  }

  /** G11 — the WKT CRS FRONT DOOR end-to-end (the r7 verdict's top
    * integration gap): the transform is constructed FROM `.prj` SIDECAR
    * STRINGS, not hand-built constants — the reference's actual API shape
    * (feature_stacking.py:85-96 drives `reproject` with CRS objects read
    * from file metadata). Master grid = UTM 54N on WGS84 (GDAL PROJCS
    * spelling); aux raster = legacy Tokyo-Datum geographic (ESRI `D_Tokyo`
    * spelling with NO TOWGS84 — exercising the published named-datum
    * table). Both WKTs are written as real `.prj` sidecars via
    * `writeFeatureFiles`, read back through `readFeatureFiles`'s crs
    * column, then `CrsWkt` parses and chains Snyder UTM inverse →
    * abridged Molodensky — the exact g6+g9 math, now dispatched from
    * text. Fixture margins ≥ 4.1e-3 cell-fractions (scanned in
    * tools-notes); aux col −1 exercises the outside-coverage NULL path.
    */
  private val g11 = query("g11_wkt_reproject") { (s, d) =>
    import s.implicits._
    val masterWktSrc =
      "PROJCS[\"WGS 84 / UTM zone 54N\",GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
        "SPHEROID[\"WGS 84\",6378137,298.257223563]],PRIMEM[\"Greenwich\",0]," +
        "UNIT[\"degree\",0.0174532925199433]],PROJECTION[\"Transverse_Mercator\"]," +
        "PARAMETER[\"latitude_of_origin\",0],PARAMETER[\"central_meridian\",141]," +
        "PARAMETER[\"scale_factor\",0.9996],PARAMETER[\"false_easting\",500000]," +
        "PARAMETER[\"false_northing\",0],UNIT[\"metre\",1]]"
    val auxWktSrc =
      "GEOGCS[\"GCS_Tokyo\",DATUM[\"D_Tokyo\",SPHEROID[\"Bessel_1841\"," +
        "6377397.155,299.1528128]],PRIMEM[\"Greenwich\",0.0]," +
        "UNIT[\"Degree\",0.0174532925199433]]"
    // round-trip each WKT through a REAL .prj sidecar (write → read), so
    // the dispatch consumes exactly what the vector reader surfaces.
    // Memoized per JVM (the inc1/m1 pattern): the sharded write + the
    // reader's listing/sidecar actions are ~10 driver jobs of FIXTURE
    // setup — they run (and are hash-checked) once; repeat runs measure
    // the reprojection itself.
    def viaPrj(wkt: String, tag: String): String =
      g11PrjCache.computeIfAbsent(wkt, { _ =>
        val dir = java.nio.file.Files.createTempDirectory(s"graft_g11_$tag").toString
        val src = Seq(("t0", "POINT (0 0)", 1L), ("t1", "POINT (1 1)", 2L))
          .toDF("tile", "geom", "DN")
        operators.Shapefile.writeFeatureFiles(src, dir, keyCol = "tile", crsWkt = Some(wkt))
        operators.Shapefile.readFeatureFiles(s, dir).select("crs").first().getString(0)
      })
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(381000.0, 3950000.0, 100.0, 100.0),
      operators.Regrid.GridDef(139.6895, 35.68493, 0.001, 0.0007),
      viaPrj(masterWktSrc, "m"), viaPrj(auxWktSrc, "a"),
      Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  } {
    // g11: the WKT-dispatched chain — the SAME Snyder UTM inverse (zone
    // 54) feeding the SAME abridged Molodensky as g6/g9, constants
    // interpolated from the same Scala doubles; the .prj round trip and
    // the CrsWkt parse are invisible in the hash (as they must be).
    import operators.Regrid.{Utm, Ellipsoid}
    val am0 = Utm.A * Utm.M0
    val ae = Utm.A * (1 - Utm.E2)
    val (src, dst) = (Ellipsoid.Wgs84, Ellipsoid.Bessel1841)
    val shiftC = src.a * (dst.f - src.f) + src.f * (dst.a - src.a)
    s"""WITH master AS (SELECT DISTINCT CAST(l_orderkey % 16 AS INT) AS px_row,
      |    CAST(l_partkey % 16 AS INT) AS px_col FROM lineitem),
      |aux AS (SELECT CAST(p_partkey % 24 AS INT) AS ar,
      |    CAST((p_partkey * 7 + p_size) % 26 AS INT) AS ac,
      |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS dem
      |  FROM part GROUP BY ar, ac),
      |c AS (SELECT px_row, px_col,
      |    381000.0 + (CAST(px_col AS DOUBLE) + 0.5) * 100.0 AS cx,
      |    3950000.0 - (CAST(px_row AS DOUBLE) + 0.5) * 100.0 AS cy FROM master),
      |f1 AS (SELECT px_row, px_col, cx, (cy - 0.0) / ${Utm.K0} / $am0 AS mu FROM c),
      |f2 AS (SELECT px_row, px_col, cx,
      |    mu + ${Utm.P2} * sin(2.0 * mu) + ${Utm.P4} * sin(4.0 * mu)
      |       + ${Utm.P6} * sin(6.0 * mu) + ${Utm.P8} * sin(8.0 * mu) AS phi1 FROM f1),
      |f3 AS (SELECT px_row, px_col, cx, phi1,
      |    ${Utm.Ep2} * cos(phi1) * cos(phi1) AS c1,
      |    tan(phi1) * tan(phi1) AS t1,
      |    1.0 - ${Utm.E2} * sin(phi1) * sin(phi1) AS om FROM f2),
      |f4 AS (SELECT px_row, px_col, cx, phi1, c1, t1,
      |    ${Utm.A} / sqrt(om) AS n1, $ae / (om * sqrt(om)) AS r1 FROM f3),
      |f5 AS (SELECT px_row, px_col, phi1, c1, t1, n1, r1,
      |    (cx - ${Utm.FalseEasting}) / (n1 * ${Utm.K0}) AS dd FROM f4),
      |t0 AS (SELECT px_row, px_col,
      |    (phi1 - (n1 * tan(phi1) / r1) * (dd * dd / 2.0
      |      - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - ${9.0 * Utm.Ep2})
      |        * dd * dd * dd * dd / 24.0
      |      + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - ${252.0 * Utm.Ep2}
      |         - 3.0 * c1 * c1) * dd * dd * dd * dd * dd * dd / 720.0))
      |      / ${Utm.Deg2Rad} AS lat,
      |    141.0 + (dd - (1.0 + 2.0 * t1 + c1) * dd * dd * dd / 6.0
      |      + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + ${8.0 * Utm.Ep2}
      |         + 24.0 * t1 * t1) * dd * dd * dd * dd * dd / 120.0) / cos(phi1)
      |      / ${Utm.Deg2Rad} AS lon
      |  FROM f5),
      |m1 AS (SELECT px_row, px_col, lon, lat,
      |    lat * ${Utm.Deg2Rad} AS phi, lon * ${Utm.Deg2Rad} AS lam FROM t0),
      |m2 AS (SELECT px_row, px_col, lon, lat, phi,
      |    sin(phi) AS sp, cos(phi) AS cp, sin(lam) AS sl, cos(lam) AS cl,
      |    1.0 - ${src.e2} * sin(phi) * sin(phi) AS w2 FROM m1),
      |m3 AS (SELECT px_row, px_col, lon, lat, phi, sp, cp, sl, cl,
      |    ${src.a * (1 - src.e2)} / (w2 * sqrt(w2)) AS m,
      |    ${src.a} / sqrt(w2) AS n FROM m2),
      |t AS (SELECT px_row, px_col,
      |    lon + (((-146.414) * sl + (-507.337) * cl) / (n * cp)) / ${Utm.Deg2Rad} AS lon2,
      |    lat + (((-146.414) * sp * cl - (-507.337) * sp * sl + (-680.507) * cp
      |           + $shiftC * sin(2.0 * phi)) / m) / ${Utm.Deg2Rad} AS lat2
      |  FROM m3)
      |SELECT px_row, px_col, a.dem
      |FROM t LEFT JOIN aux a
      |  ON a.ar = CAST(floor((35.68493 - lat2) / 0.0007) AS INT)
      | AND a.ac = CAST(floor((lon2 - 139.6895) / 0.001) AS INT)
      |ORDER BY px_row, px_col, dem NULLS FIRST""".stripMargin
  }

  /** G14 — the EPSG SHORTHAND front door: the identical reprojection as
    * g11 with the transform dispatched from "EPSG:32654" → "EPSG:4301"
    * code strings (UTM 54N → legacy Tokyo geographic) instead of WKT —
    * the way users actually name CRSs. The oracle is g11's VERBATIM, so
    * the code table must resolve to bit-identical transforms.
    */
  query("g14_epsg_reproject") { (s, d) =>
    val master = Tables.lineitem(s, d)
      .select((col("l_orderkey") % 16).cast("int").as("px_row"),
        (col("l_partkey") % 16).cast("int").as("px_col"))
      .distinct()
    val aux = Tables.part(s, d)
      .groupBy((col("p_partkey") % 24).cast("int").as("px_row"),
        ((col("p_partkey") * 7 + col("p_size")) % 26).cast("int").as("px_col"))
      .agg(sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("dem"))
    operators.Regrid.reproject(master, aux,
      operators.Regrid.GridDef(381000.0, 3950000.0, 100.0, 100.0),
      operators.Regrid.GridDef(139.6895, 35.68493, 0.001, 0.0007),
      "EPSG:32654", "EPSG:4301",
      Seq("dem"), kernel = "nearest")
      .orderBy("px_row", "px_col", "dem")
  }(
    // g14 dispatches the SAME transform as g11 from EPSG code strings —
    // the code table must be bit-identical to the .prj path, so the
    // oracle text is g11's verbatim.
    g11.oracle.get)

  /** G13 — VECTOR reprojection (the ogr2ogr half of the CRS story): the
    * g12 lon/lat quadrilaterals run through `SpatialOps.reprojectWkt`
    * with a transform dispatched from WKT CRS strings (geographic WGS84 →
    * UTM 15N), then explode back to vertices. The oracle evaluates the
    * FORWARD Snyder transverse-Mercator series (8-9..8-14) closed-form —
    * the WKT parse → transform → re-emit → re-parse round trip must be
    * bit-invisible around the projection algebra.
    */
  query("g13_vector_reproject") { (s, d) =>
    import graft.functions.SpatialOps
    val geoWkt = "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
      "SPHEROID[\"WGS 84\",6378137,298.257223563]],PRIMEM[\"Greenwich\",0]," +
      "UNIT[\"degree\",0.0174532925199433]]"
    val utmWkt = "PROJCS[\"WGS 84 / UTM zone 15N\",GEOGCS[\"WGS 84\"," +
      "DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]," +
      "PROJECTION[\"Transverse_Mercator\"],PARAMETER[\"latitude_of_origin\",0]," +
      "PARAMETER[\"central_meridian\",-93],PARAMETER[\"scale_factor\",0.9996]," +
      "PARAMETER[\"false_easting\",500000],PARAMETER[\"false_northing\",0]," +
      "UNIT[\"metre\",1]]"
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-96.0) + (col("p_partkey") % 50).cast("double") * lit(0.01)).as("lon0"),
      (lit(30.0) + (col("p_size") % 40).cast("double") * lit(0.01)).as("lat0"),
      (lit(0.01) + (col("p_partkey") % 7).cast("double") * lit(0.001)).as("dx"),
      (lit(0.008) + (col("p_size") % 5).cast("double") * lit(0.001)).as("dy"))
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val wkt = concat(lit("POLYGON (("),
      pt(col("lon0"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0") + col("dy")), lit(", "),
      pt(col("lon0"), col("lat0") + col("dy")), lit(", "),
      pt(col("lon0"), col("lat0")), lit("))"))
    base.withColumn("geom", wkt)
      .withColumn("geom", SpatialOps.reprojectWkt(col("geom"),
        operators.CrsWkt.transformBetween(geoWkt, utmWkt)))
      .select(col("pk"),
        posexplode(element_at(SpatialOps.wktRings(col("geom")), 1)))
      .select(col("pk"), col("pos").as("pt_idx"),
        col("col").getField("x").as("x"), col("col").getField("y").as("y"))
      .orderBy("pk", "pt_idx")
  } {
    // g13: the FORWARD Snyder transverse-Mercator series evaluated
    // per-vertex as the identical closed form (interpolated constants,
    // mirrored associativity); the WKT string round trip on the Spark
    // side is lossless (shortest-round-trip doubles), so the vertex
    // coordinates hash bit-identically.
    import operators.Regrid.Utm
    s"""WITH p AS (SELECT p_partkey AS pk,
      |    -96.0 + CAST(p_partkey % 50 AS DOUBLE) * 0.01 AS lon0,
      |    30.0 + CAST(p_size % 40 AS DOUBLE) * 0.01 AS lat0,
      |    0.01 + CAST(p_partkey % 7 AS DOUBLE) * 0.001 AS dx,
      |    0.008 + CAST(p_size % 5 AS DOUBLE) * 0.001 AS dy
      |  FROM part),
      |v AS (SELECT pk, lon0 AS x1, lat0 AS y1, lon0 + dx AS x2, lat0 AS y2,
      |    lon0 + dx AS x3, lat0 + dy AS y3, lon0 AS x4, lat0 + dy AS y4 FROM p),
      |pts AS (SELECT pk, i.idx AS pt_idx,
      |    CASE i.idx WHEN 0 THEN x1 WHEN 1 THEN x2 WHEN 2 THEN x3
      |      WHEN 3 THEN x4 ELSE x1 END AS lon,
      |    CASE i.idx WHEN 0 THEN y1 WHEN 1 THEN y2 WHEN 2 THEN y3
      |      WHEN 3 THEN y4 ELSE y1 END AS lat
      |  FROM v CROSS JOIN (VALUES (0), (1), (2), (3), (4)) i(idx)),
      |f1 AS (SELECT pk, pt_idx, lat * ${Utm.Deg2Rad} AS phi,
      |    (lon - (-93.0)) * ${Utm.Deg2Rad} AS dlam FROM pts),
      |f2 AS (SELECT pk, pt_idx, phi, dlam,
      |    sin(phi) AS sp, cos(phi) AS cp, tan(phi) AS tp FROM f1),
      |f3 AS (SELECT pk, pt_idx, phi, tp,
      |    ${Utm.A} / sqrt(1.0 - ${Utm.E2} * sp * sp) AS n,
      |    tp * tp AS t, ${Utm.Ep2} * cp * cp AS c, dlam * cp AS aa,
      |    ${Utm.A} * (${Utm.M0} * phi - ${Utm.M2} * sin(2.0 * phi)
      |      + ${Utm.M4} * sin(4.0 * phi) - ${Utm.M6} * sin(6.0 * phi)) AS m
      |  FROM f2)
      |SELECT pk, pt_idx,
      |  ${Utm.FalseEasting} + ${Utm.K0} * n * (aa
      |    + (1.0 - t + c) * aa * aa * aa / 6.0
      |    + (5.0 - 18.0 * t + t * t + 72.0 * c - ${58.0 * Utm.Ep2})
      |      * aa * aa * aa * aa * aa / 120.0) AS x,
      |  0.0 + ${Utm.K0} * (m + n * tp * (aa * aa / 2.0
      |    + (5.0 - t + 9.0 * c + 4.0 * c * c) * aa * aa * aa * aa / 24.0
      |    + (61.0 - 58.0 * t + t * t + 600.0 * c - ${330.0 * Utm.Ep2})
      |      * aa * aa * aa * aa * aa * aa / 720.0)) AS y
      |FROM f3 ORDER BY pk, pt_idx""".stripMargin
  }

  /** G13b — MULTIPOINT reprojection: two opposite corners of each g13
    * quadrilateral packed into one MULTIPOINT (written in the BARE WKT
    * spelling, re-emitted parenthesized — both grammar paths execute),
    * reprojected through the same WKT-dispatched WGS84 → UTM 15N
    * transform, exploded back to vertices. The oracle is g13's forward
    * Snyder series restricted to the two corners.
    */
  query("g13b_multipoint_reproject") { (s, d) =>
    import graft.functions.SpatialOps
    val geoWkt = "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
      "SPHEROID[\"WGS 84\",6378137,298.257223563]],PRIMEM[\"Greenwich\",0]," +
      "UNIT[\"degree\",0.0174532925199433]]"
    val utmWkt = "PROJCS[\"WGS 84 / UTM zone 15N\",GEOGCS[\"WGS 84\"," +
      "DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]," +
      "PROJECTION[\"Transverse_Mercator\"],PARAMETER[\"latitude_of_origin\",0]," +
      "PARAMETER[\"central_meridian\",-93],PARAMETER[\"scale_factor\",0.9996]," +
      "PARAMETER[\"false_easting\",500000],PARAMETER[\"false_northing\",0]," +
      "UNIT[\"metre\",1]]"
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-96.0) + (col("p_partkey") % 50).cast("double") * lit(0.01)).as("lon0"),
      (lit(30.0) + (col("p_size") % 40).cast("double") * lit(0.01)).as("lat0"),
      (lit(0.01) + (col("p_partkey") % 7).cast("double") * lit(0.001)).as("dx"),
      (lit(0.008) + (col("p_size") % 5).cast("double") * lit(0.001)).as("dy"))
    def pt(x: Column, y: Column) = concat(x.cast("string"), lit(" "), y.cast("string"))
    val wkt = concat(lit("MULTIPOINT ("),
      pt(col("lon0"), col("lat0")), lit(", "),
      pt(col("lon0") + col("dx"), col("lat0") + col("dy")), lit(")"))
    base.withColumn("geom", wkt)
      .withColumn("geom", SpatialOps.reprojectWkt(col("geom"),
        operators.CrsWkt.transformBetween(geoWkt, utmWkt)))
      .select(col("pk"),
        posexplode(flatten(functions.SpatialOps.wktRings(col("geom")))))
      .select(col("pk"), col("pos").as("pt_idx"),
        col("col").getField("x").as("x"), col("col").getField("y").as("y"))
      .orderBy("pk", "pt_idx")
  } {
    // g13b: g13's forward series on the two MULTIPOINT corners only
    import operators.Regrid.Utm
    s"""WITH p AS (SELECT p_partkey AS pk,
      |    -96.0 + CAST(p_partkey % 50 AS DOUBLE) * 0.01 AS lon0,
      |    30.0 + CAST(p_size % 40 AS DOUBLE) * 0.01 AS lat0,
      |    0.01 + CAST(p_partkey % 7 AS DOUBLE) * 0.001 AS dx,
      |    0.008 + CAST(p_size % 5 AS DOUBLE) * 0.001 AS dy
      |  FROM part),
      |pts AS (SELECT pk, i.idx AS pt_idx,
      |    CASE i.idx WHEN 0 THEN lon0 ELSE lon0 + dx END AS lon,
      |    CASE i.idx WHEN 0 THEN lat0 ELSE lat0 + dy END AS lat
      |  FROM p CROSS JOIN (VALUES (0), (1)) i(idx)),
      |f1 AS (SELECT pk, pt_idx, lat * ${Utm.Deg2Rad} AS phi,
      |    (lon - (-93.0)) * ${Utm.Deg2Rad} AS dlam FROM pts),
      |f2 AS (SELECT pk, pt_idx, phi, dlam,
      |    sin(phi) AS sp, cos(phi) AS cp, tan(phi) AS tp FROM f1),
      |f3 AS (SELECT pk, pt_idx, phi, tp,
      |    ${Utm.A} / sqrt(1.0 - ${Utm.E2} * sp * sp) AS n,
      |    tp * tp AS t, ${Utm.Ep2} * cp * cp AS c, dlam * cp AS aa,
      |    ${Utm.A} * (${Utm.M0} * phi - ${Utm.M2} * sin(2.0 * phi)
      |      + ${Utm.M4} * sin(4.0 * phi) - ${Utm.M6} * sin(6.0 * phi)) AS m
      |  FROM f2)
      |SELECT pk, pt_idx,
      |  ${Utm.FalseEasting} + ${Utm.K0} * n * (aa
      |    + (1.0 - t + c) * aa * aa * aa / 6.0
      |    + (5.0 - 18.0 * t + t * t + 72.0 * c - ${58.0 * Utm.Ep2})
      |      * aa * aa * aa * aa * aa / 120.0) AS x,
      |  0.0 + ${Utm.K0} * (m + n * tp * (aa * aa / 2.0
      |    + (5.0 - t + 9.0 * c + 4.0 * c * c) * aa * aa * aa * aa / 24.0
      |    + (61.0 - 58.0 * t + t * t + 600.0 * c - ${330.0 * Utm.Ep2})
      |      * aa * aa * aa * aa * aa * aa / 720.0)) AS y
      |FROM f3 ORDER BY pk, pt_idx""".stripMargin
  }

  /** G15 — US-survey-foot State Plane dispatch (the single most common
    * real-world CRS reject before r9): synthetic lon/lat points over the
    * Texas Central zone projected through a ftUS `.prj` (the EPSG:2277
    * parameterization) via the WKT front door. `CrsWkt` scales the
    * linear parameters into metres (fe·u) and wraps the metre LCC
    * forward in the exact affine (1/u) unit map; the oracle evaluates
    * the identical Snyder series with constants interpolated from the
    * SAME `LccParams` arithmetic, then the same affine — the foot path
    * is the metre path times a constant. Outputs are fixed-point
    * floor(v·2^6) (1/64 ft): Spark's Pow codegen is StrictMath (fdlibm)
    * where DuckDB's is C libm — they disagree by 1 ULP on some inputs
    * (bisected: every stage bit-equal through `t`, pow(t, n) off by one),
    * so raw pow-bearing doubles can NEVER be hash-compared cross-engine;
    * the fixture's worst margin on the ×64 grid is 8.5e-6 across all
    * three SFs (Python-replica scan, the g6 recipe) vs ≤ ~5e-7 of ULP
    * drift, so the floor decisions are provably stable. The bit-identity
    * of the DISPATCH (ftUS parse ≡ hand-built metre chain + affine) is
    * proven structurally in CrsWktSpec.
    */
  query("g15_stateplane_ftus") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-101.5) + (col("p_partkey") % 80).cast("double") * lit(0.025)).as("lon"),
      (lit(29.0) + (col("p_size") % 50).cast("double") * lit(0.06)).as("lat"))
    val t = operators.CrsWkt.transformBetween(G15GeoWkt, G15FtUsWkt)
    val (x, y) = t(col("lon"), col("lat"))
    base.select(col("pk"),
      floor(x * lit(64.0)).cast("long").as("x_fp"),
      floor(y * lit(64.0)).cast("long").as("y_fp")).orderBy("pk")
  } {
    // g15: the Snyder LCC forward series with the metre-scaled constants
    // interpolated from the SAME LccParams arithmetic the CRS dispatch
    // builds, then the exact affine (1/u) unit wrap — mirrored term by
    // term including the 0.0-coefficient cross terms
    import operators.Regrid.{Ellipsoid, LccParams, Utm}
    val u = G15UsFoot
    val grs80 = Ellipsoid(6378137.0, 298.257222101)
    val p = LccParams(31.88333333333333, 30.11666666666667, 29.66666666666667,
      -100.3333333333333, 2296583.333333333 * u, 9842500.0 * u, grs80.a, grs80.e2)
    val invU = 1.0 / u
    s"""WITH pts AS (SELECT p_partkey AS pk,
      |    -101.5 + CAST(p_partkey % 80 AS DOUBLE) * 0.025 AS lon,
      |    29.0 + CAST(p_size % 50 AS DOUBLE) * 0.06 AS lat
      |  FROM part),
      |f1 AS (SELECT pk, lon, lat * ${Utm.Deg2Rad} AS phi FROM pts),
      |f2 AS (SELECT pk, lon, phi, ${p.e} * sin(phi) AS esin FROM f1),
      |f3 AS (SELECT pk, lon,
      |    tan(${math.Pi / 4.0} - phi / 2.0)
      |      / pow((1.0 - esin) / (1.0 + esin), ${p.e / 2.0}) AS t FROM f2),
      |f4 AS (SELECT pk, lon, ${p.aF} * pow(t, ${p.n}) AS rho FROM f3),
      |f5 AS (SELECT pk, rho,
      |    (${p.n} * (lon - (${p.lon0Deg}))) * ${Utm.Deg2Rad} AS theta FROM f4),
      |m AS (SELECT pk,
      |    ${p.falseEasting} + rho * sin(theta) AS xm,
      |    (${p.falseNorthing} + ${p.rho0}) - rho * cos(theta) AS ym FROM f5)
      |SELECT pk,
      |  CAST(floor(((($invU * xm) + (0.0 * ym)) + 0.0) * 64.0) AS BIGINT) AS x_fp,
      |  CAST(floor(((0.0 * xm) + ($invU * ym) + 0.0) * 64.0) AS BIGINT) AS y_fp
      |FROM m ORDER BY pk""".stripMargin
  }

  /** G16 — polar stereographic (EPSG:3413, the NSIDC sea-ice grid every
    * polar corpus ships in) through the EPSG shorthand front door:
    * Arctic lon/lat points forward-projected, fixed-point floor(v·2^6)
    * outputs (the g15 rule — pow is StrictMath-vs-libm unstable by
    * 1 ULP, never raw-hashed). Fixture margins on the ×64 grid scanned
    * at all three SFs with the Python replica: worst 3.4e-5 vs ≤ ~1.2e-7
    * ULP drift; constants off special angles so no exact-zero sin/cos.
    */
  query("g16_polar_stereographic") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-179.13) + (col("p_partkey") % 144).cast("double") * lit(2.47)).as("lon"),
      (lit(60.29) + (col("p_size") % 28).cast("double") * lit(0.97)).as("lat"))
    val crs = operators.CrsWkt.parseCrs("EPSG:3413")
      .asInstanceOf[operators.CrsWkt.Projected]
    val (x, y) = crs.forward(col("lon"), col("lat"))
    base.select(col("pk"),
      floor(x * lit(64.0)).cast("long").as("x_fp"),
      floor(y * lit(64.0)).cast("long").as("y_fp")).orderBy("pk")
  } {
    // g16: the Snyder polar-stereographic forward (21-30..21-34) with
    // PsParams constants interpolated from the same Scala arithmetic,
    // mirrored association, fixed-point ×64 floor (margins scanned)
    import operators.Regrid.{PsParams, Utm}
    val p = PsParams(70.0, -45.0) // EPSG:3413 on WGS84
    s"""WITH pts AS (SELECT p_partkey AS pk,
      |    -179.13 + CAST(p_partkey % 144 AS DOUBLE) * 2.47 AS lon,
      |    60.29 + CAST(p_size % 28 AS DOUBLE) * 0.97 AS lat
      |  FROM part),
      |f1 AS (SELECT pk, lon, lat * ${Utm.Deg2Rad} AS phi FROM pts),
      |f2 AS (SELECT pk, lon, phi, ${p.e} * sin(phi) AS esin FROM f1),
      |f3 AS (SELECT pk, lon,
      |    tan(${math.Pi / 4.0} - phi / 2.0)
      |      / pow((1.0 - esin) / (1.0 + esin), ${p.e / 2.0}) AS t FROM f2),
      |f4 AS (SELECT pk, lon, ${p.rhoF} * t AS rho FROM f3),
      |f5 AS (SELECT pk, rho,
      |    (lon - (${p.lon0Deg})) * ${Utm.Deg2Rad} AS dlam FROM f4)
      |SELECT pk,
      |  CAST(floor((0.0 + rho * sin(dlam)) * 64.0) AS BIGINT) AS x_fp,
      |  CAST(floor((0.0 + ((-1.0) * rho) * cos(dlam)) * 64.0) AS BIGINT) AS y_fp
      |FROM f5 ORDER BY pk""".stripMargin
  }

  /** G17 — NAD83 / UTM (EPSG:26915, the GRS80 UTM band that was a reject
    * before r9's parameterized Transverse Mercator): central-US lon/lat
    * points forward-projected through the EPSG shorthand. The TM series
    * is pow-free, so raw double outputs hash cross-engine (the g13
    * precedent); the oracle evaluates the identical Snyder series with
    * TmParams' GRS80-derived constants interpolated from the SAME Scala
    * arithmetic, including the exact −M(φ0)=−0.0 northing term.
    */
  query("g17_nad83_utm") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-96.0) + (col("p_partkey") % 50).cast("double") * lit(0.02)).as("lon"),
      (lit(38.0) + (col("p_size") % 40).cast("double") * lit(0.05)).as("lat"))
    val crs = operators.CrsWkt.parseCrs("EPSG:26915")
      .asInstanceOf[operators.CrsWkt.Projected]
    val (x, y) = crs.forward(col("lon"), col("lat"))
    base.select(col("pk"), x.as("x"), y.as("y")).orderBy("pk")
  } {
    // g17: the Snyder TM forward with TmParams' GRS80 constants
    // interpolated from the same Scala arithmetic, mirrored term by term
    // (incl. the exact (m - 0.0) origin-offset spelling)
    import operators.Regrid.{Ellipsoid, TmParams, Utm}
    val grs80 = Ellipsoid(6378137.0, 298.257222101)
    val p = TmParams(-93.0, a = grs80.a, e2 = grs80.e2)
    s"""WITH pts AS (SELECT p_partkey AS pk,
      |    -96.0 + CAST(p_partkey % 50 AS DOUBLE) * 0.02 AS lon,
      |    38.0 + CAST(p_size % 40 AS DOUBLE) * 0.05 AS lat
      |  FROM part),
      |f1 AS (SELECT pk, lat * ${Utm.Deg2Rad} AS phi,
      |    (lon - (${p.lon0Deg})) * ${Utm.Deg2Rad} AS dlam FROM pts),
      |f2 AS (SELECT pk, phi, dlam,
      |    sin(phi) AS sp, cos(phi) AS cp, tan(phi) AS tp FROM f1),
      |f3 AS (SELECT pk, phi, tp,
      |    ${p.a} / sqrt(1.0 - ${p.e2} * sp * sp) AS n,
      |    tp * tp AS t, ${p.ep2} * cp * cp AS c, dlam * cp AS aa,
      |    ${p.a} * (${p.m0c} * phi - ${p.m2c} * sin(2.0 * phi)
      |      + ${p.m4c} * sin(4.0 * phi) - ${p.m6c} * sin(6.0 * phi)) AS m
      |  FROM f2)
      |SELECT pk,
      |  ${p.falseEasting} + ${p.k0} * n * (aa
      |    + (1.0 - t + c) * aa * aa * aa / 6.0
      |    + (5.0 - 18.0 * t + t * t + 72.0 * c - ${58.0 * p.ep2})
      |      * aa * aa * aa * aa * aa / 120.0) AS x,
      |  ${p.falseNorthing} + ${p.k0} * ((m - ${p.m0Arc}) + n * tp * (aa * aa / 2.0
      |    + (5.0 - t + 9.0 * c + 4.0 * c * c) * aa * aa * aa * aa / 24.0
      |    + (61.0 - 58.0 * t + t * t + 600.0 * c - ${330.0 * p.ep2})
      |      * aa * aa * aa * aa * aa * aa / 720.0)) AS y
      |FROM f3 ORDER BY pk""".stripMargin
  }

  /** G18 — the two TmParams branches g17 doesn't reach: a classic
    * Gauss-Krüger zone 3 (.prj-style WKT1: BESSEL ellipsoid, k0 = 1,
    * FE = 3 500 000 — the legacy German national grid) through the WKT
    * front door, and a nonzero-latitude-of-origin TM (the −M(φ0)
    * northing offset, interpolated as the same Scala double on both
    * sides). Fixed-point floor(v·2^6) outputs (the g15/g16 rule): the
    * r9 raw-double spelling failed by 1 ULP on gk_y — the (m − M(φ0))
    * cancellation amplifies StrictMath-vs-libm sin drift past the 53rd
    * bit even though the series is pow-free. Fixture constants shifted
    * off special angles (7.217/47.303 — the old 7.2 base put pk%60==30
    * exactly ON the central meridian). Margin scan
    * (tools/g18_margin_scan.py, committed): worst ×64-grid distance
    * 3.0e-5 across all 3 SFs vs ~3e-8 ULP drift at this magnitude.
    */
  query("g18_gauss_kruger") { (s, d) =>
    val gkWkt =
      "PROJCS[\"DHDN-ish / Gauss-Krueger zone 3\",GEOGCS[\"Bessel geographic\"," +
        "DATUM[\"Tokyo\",SPHEROID[\"Bessel 1841\",6377397.155,299.1528128]]," +
        "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]," +
        "PROJECTION[\"Transverse_Mercator\"],PARAMETER[\"latitude_of_origin\",0]," +
        "PARAMETER[\"central_meridian\",9],PARAMETER[\"scale_factor\",1]," +
        "PARAMETER[\"false_easting\",3500000],PARAMETER[\"false_northing\",0]," +
        "UNIT[\"metre\",1]]"
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(7.217) + (col("p_partkey") % 60).cast("double") * lit(0.06)).as("lon"),
      (lit(47.303) + (col("p_size") % 45).cast("double") * lit(0.08)).as("lat"))
    val gk = operators.CrsWkt.parseCrs(gkWkt)
      .asInstanceOf[operators.CrsWkt.Projected].forward
    val lat0Tm = operators.Regrid.TransverseMercatorFromGeographic(
      operators.Regrid.TmParams(9.0, 48.0, 1.0, 250000.0, 100000.0))
    val (x1, y1) = gk(col("lon"), col("lat"))
    val (x2, y2) = lat0Tm(col("lon"), col("lat"))
    base.select(col("pk"),
      floor(x1 * lit(64.0)).cast("long").as("gk_x"),
      floor(y1 * lit(64.0)).cast("long").as("gk_y"),
      floor(x2 * lit(64.0)).cast("long").as("o_x"),
      floor(y2 * lit(64.0)).cast("long").as("o_y")).orderBy("pk")
  } {
    // g18: both series mirrored in one chain (phi/dlam/t/aa shared —
    // both CRSs use central meridian 9); per-ellipsoid n/c/m constants
    // and the interpolated -M(phi0) term
    import operators.Regrid.{Ellipsoid, TmParams, Utm}
    val p1 = TmParams(9.0, 0.0, 1.0, 3500000.0, 0.0,
      Ellipsoid.Bessel1841.a, Ellipsoid.Bessel1841.e2)
    val p2 = TmParams(9.0, 48.0, 1.0, 250000.0, 100000.0)
    def xy(p: TmParams, n: String, c: String, m: String, xa: String, ya: String) =
      s"""  CAST(floor((${p.falseEasting} + ${p.k0} * $n * (aa
         |    + (1.0 - t + $c) * aa * aa * aa / 6.0
         |    + (5.0 - 18.0 * t + t * t + 72.0 * $c - ${58.0 * p.ep2})
         |      * aa * aa * aa * aa * aa / 120.0)) * 64.0) AS BIGINT) AS $xa,
         |  CAST(floor((${p.falseNorthing} + ${p.k0} * (($m - ${p.m0Arc}) + $n * tp * (aa * aa / 2.0
         |    + (5.0 - t + 9.0 * $c + 4.0 * $c * $c) * aa * aa * aa * aa / 24.0
         |    + (61.0 - 58.0 * t + t * t + 600.0 * $c - ${330.0 * p.ep2})
         |      * aa * aa * aa * aa * aa * aa / 720.0))) * 64.0) AS BIGINT) AS $ya""".stripMargin
    s"""WITH pts AS (SELECT p_partkey AS pk,
      |    7.217 + CAST(p_partkey % 60 AS DOUBLE) * 0.06 AS lon,
      |    47.303 + CAST(p_size % 45 AS DOUBLE) * 0.08 AS lat
      |  FROM part),
      |f1 AS (SELECT pk, lat * ${Utm.Deg2Rad} AS phi,
      |    (lon - (9.0)) * ${Utm.Deg2Rad} AS dlam FROM pts),
      |f2 AS (SELECT pk, phi, dlam,
      |    sin(phi) AS sp, cos(phi) AS cp, tan(phi) AS tp FROM f1),
      |f3 AS (SELECT pk, phi, tp, tp * tp AS t, dlam * cp AS aa,
      |    ${p1.a} / sqrt(1.0 - ${p1.e2} * sp * sp) AS n1,
      |    ${p1.ep2} * cp * cp AS c1,
      |    ${p1.a} * (${p1.m0c} * phi - ${p1.m2c} * sin(2.0 * phi)
      |      + ${p1.m4c} * sin(4.0 * phi) - ${p1.m6c} * sin(6.0 * phi)) AS m1,
      |    ${p2.a} / sqrt(1.0 - ${p2.e2} * sp * sp) AS n2,
      |    ${p2.ep2} * cp * cp AS c2,
      |    ${p2.a} * (${p2.m0c} * phi - ${p2.m2c} * sin(2.0 * phi)
      |      + ${p2.m4c} * sin(4.0 * phi) - ${p2.m6c} * sin(6.0 * phi)) AS m2
      |  FROM f2)
      |SELECT pk,
      |${xy(p1, "n1", "c1", "m1", "gk_x", "gk_y")},
      |${xy(p2, "n2", "c2", "m2", "o_x", "o_y")}
      |FROM f3 ORDER BY pk""".stripMargin
  }

  /** DHDN → WGS84 Bursa–Wolf parameters (the published German national
    * 7-parameter set) + the GK zone-4 / WGS84 WKT pair g19 dispatches.
    */
  private val G19Params = (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7)

  private val G19GkWkt = {
    val (dx, dy, dz, rx, ry, rz, ds) = G19Params
    "PROJCS[\"DHDN / Gauss-Krueger zone 4\",GEOGCS[\"DHDN\"," +
      "DATUM[\"Deutsches_Hauptdreiecksnetz\"," +
      "SPHEROID[\"Bessel 1841\",6377397.155,299.1528128]," +
      s"TOWGS84[$dx,$dy,$dz,$rx,$ry,$rz,$ds]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]," +
      "PROJECTION[\"Transverse_Mercator\"],PARAMETER[\"latitude_of_origin\",0]," +
      "PARAMETER[\"central_meridian\",12],PARAMETER[\"scale_factor\",1]," +
      "PARAMETER[\"false_easting\",4500000],PARAMETER[\"false_northing\",0]," +
      "UNIT[\"metre\",1]]"
  }

  private val G19Wgs84Wkt =
    "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"," +
      "SPHEROID[\"WGS 84\",6378137,298.257223563]],PRIMEM[\"Greenwich\",0]," +
      "UNIT[\"degree\",0.0174532925199433]]"

  /** G19 — 7-parameter Helmert (Bursa–Wolf) datum transform through the
    * WKT front door: a DHDN Gauss-Krüger zone-4 `.prj` whose TOWGS84
    * node carries the full rotation+scale set (the European legacy
    * staple CrsWkt rejected before r10). Chain: GK inverse → geocentric
    * Helmert (position-vector convention, exact driver-side matrix) →
    * Bowring inverse → WGS84 lon/lat, staged per composition step (the
    * g11 barrier). Outputs fixed-point floor(deg·2^20) per the g15/g18
    * rule; margin scan (tools/g19_margin_scan.py, committed): worst
    * 2^20-grid distance 3.0e-4 across all 3 SFs vs ≲1e-6 drift.
    */
  query("g19_helmert_7param") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(4420000.0) + (col("p_partkey") % 60).cast("double") * lit(2963.0)).as("gx"),
      (lit(5240000.0) + (col("p_size") % 45).cast("double") * lit(4231.0)).as("gy"))
    val t = operators.CrsWkt.transformBetween(G19GkWkt, G19Wgs84Wkt)
    val (staged, lonC, latC, tmps) =
      operators.Regrid.stageTransform(base, t, col("gx"), col("gy"))
    staged.select(col("pk"),
      floor(lonC * lit(1048576.0)).cast("long").as("lon_fp"),
      floor(latC * lit(1048576.0)).cast("long").as("lat_fp"))
      .orderBy("pk")
  } {
    // g19: the full GK-inverse → geocentric Helmert → Bowring chain
    // mirrored stage-by-stage (the CTE staging = the spark barrier
    // staging, bit-preserving per the g11 precedent); every Helmert
    // matrix coefficient and Bowring constant interpolated from the SAME
    // Scala arithmetic the dispatch builds
    import operators.Regrid.{Ellipsoid, HelmertDatumShift, TmParams, Utm}
    val p = TmParams(12.0, 0.0, 1.0, 4500000.0, 0.0,
      Ellipsoid.Bessel1841.a, Ellipsoid.Bessel1841.e2)
    val (dx, dy, dz, rx, ry, rz, ds) = G19Params
    val h = HelmertDatumShift(dx, dy, dz, rx, ry, rz, ds,
      Ellipsoid.Bessel1841, Ellipsoid.Wgs84)
    val src = Ellipsoid.Bessel1841; val dst = Ellipsoid.Wgs84
    val b = dst.a * (1 - dst.f)
    val ep2 = dst.e2 / (1 - dst.e2)
    s"""WITH pts AS (SELECT p_partkey AS pk,
      |    4420000.0 + CAST(p_partkey % 60 AS DOUBLE) * 2963.0 AS gx,
      |    5240000.0 + CAST(p_size % 45 AS DOUBLE) * 4231.0 AS gy
      |  FROM part),
      |i1 AS (SELECT pk, gx,
      |    ((gy - ${p.falseNorthing}) / ${p.k0} + ${p.m0Arc}) / ${p.a * p.m0c} AS mu
      |  FROM pts),
      |i2 AS (SELECT pk, gx, mu + ${p.p2} * sin(2.0 * mu) + ${p.p4} * sin(4.0 * mu)
      |     + ${p.p6} * sin(6.0 * mu) + ${p.p8} * sin(8.0 * mu) AS phi1 FROM i1),
      |i3 AS (SELECT pk, gx, phi1, ${p.ep2} * cos(phi1) * cos(phi1) AS c1,
      |    tan(phi1) * tan(phi1) AS t1,
      |    1.0 - ${p.e2} * sin(phi1) * sin(phi1) AS om FROM i2),
      |i4 AS (SELECT pk, gx, phi1, c1, t1,
      |    ${p.a} / sqrt(om) AS n1, ${p.a * (1 - p.e2)} / (om * sqrt(om)) AS r1
      |  FROM i3),
      |i5 AS (SELECT pk, phi1, c1, t1, n1, r1,
      |    (gx - ${p.falseEasting}) / (n1 * ${p.k0}) AS dd FROM i4),
      |geo AS (SELECT pk,
      |    ${p.lon0Deg} + (dd - (1.0 + 2.0 * t1 + c1) * dd * dd * dd / 6.0
      |      + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + ${8.0 * p.ep2}
      |         + 24.0 * t1 * t1) * dd * dd * dd * dd * dd / 120.0) / cos(phi1)
      |      / ${Utm.Deg2Rad} AS lon,
      |    (phi1 - (n1 * tan(phi1) / r1) * (dd * dd / 2.0
      |      - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - ${9.0 * p.ep2})
      |        * dd * dd * dd * dd / 24.0
      |      + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - ${252.0 * p.ep2}
      |         - 3.0 * c1 * c1) * dd * dd * dd * dd * dd * dd / 720.0))
      |      / ${Utm.Deg2Rad} AS lat
      |  FROM i5),
      |h1 AS (SELECT pk, lat * ${Utm.Deg2Rad} AS phi, lon * ${Utm.Deg2Rad} AS lam
      |  FROM geo),
      |h2 AS (SELECT pk, sin(phi) AS sp, cos(phi) AS cp,
      |    sin(lam) AS sl, cos(lam) AS cl FROM h1),
      |h3 AS (SELECT pk, sp, cp, sl, cl,
      |    ${src.a} / sqrt(1.0 - ${src.e2} * sp * sp) AS n FROM h2),
      |h4 AS (SELECT pk, n * cp * cl AS x, n * cp * sl AS y,
      |    n * ${1.0 - src.e2} * sp AS z FROM h3),
      |h5 AS (SELECT pk,
      |    ${h.tx} + ${h.m00} * x + ${h.m01} * y + ${h.m02} * z AS xp,
      |    ${h.ty} + ${h.m10} * x + ${h.m11} * y + ${h.m12} * z AS yp,
      |    ${h.tz} + ${h.m20} * x + ${h.m21} * y + ${h.m22} * z AS zp FROM h4),
      |h6 AS (SELECT pk, xp, yp, zp, sqrt(xp * xp + yp * yp) AS pr FROM h5),
      |h7 AS (SELECT pk, xp, yp, zp, pr,
      |    atan2(zp * ${dst.a}, pr * $b) AS theta FROM h6),
      |h8 AS (SELECT pk, xp, yp, zp, pr, sin(theta) AS st, cos(theta) AS ct
      |  FROM h7),
      |o AS (SELECT pk,
      |    atan2(yp, xp) / ${Utm.Deg2Rad} AS lon2,
      |    atan2(zp + ${ep2 * b} * st * st * st,
      |          pr - ${dst.e2 * dst.a} * ct * ct * ct) / ${Utm.Deg2Rad} AS lat2
      |  FROM h8)
      |SELECT pk,
      |  CAST(floor(lon2 * 1048576.0) AS BIGINT) AS lon_fp,
      |  CAST(floor(lat2 * 1048576.0) AS BIGINT) AS lat_fp
      |FROM o ORDER BY pk""".stripMargin
  }

  /** G20 — polar stereographic VARIANT A (EPSG 9810: scale factor at the
    * pole — the UPS parameterization, the last documented
    * projection-family reject) through the EPSG:5041 shorthand: Arctic
    * lon/lat forward-projected, fixed-point floor(v·2^6) outputs (the
    * g16 rule — the t-kernel carries a pow). Margin scan
    * (tools/g20_margin_scan.py, committed): worst ×64-grid distance
    * 3.4e-5 across all 3 SFs vs ≲2e-7 ULP drift at UPS magnitudes.
    */
  query("g20_ups_variant_a") { (s, d) =>
    val base = Tables.part(s, d).select(col("p_partkey").as("pk"),
      (lit(-178.73) + (col("p_partkey") % 120).cast("double") * lit(2.99)).as("lon"),
      (lit(62.17) + (col("p_size") % 27).cast("double") * lit(1.01)).as("lat"))
    val crs = operators.CrsWkt.parseCrs("EPSG:5041")
      .asInstanceOf[operators.CrsWkt.Projected]
    val (x, y) = crs.forward(col("lon"), col("lat"))
    base.select(col("pk"),
      floor(x * lit(64.0)).cast("long").as("x_fp"),
      floor(y * lit(64.0)).cast("long").as("y_fp")).orderBy("pk")
  } {
    // g20: the identical Snyder kernel as g16 with the VARIANT-A rho
    // constant (2·a·k0/√((1+e)^(1+e)(1−e)^(1−e)), Snyder 21-33) and the
    // UPS false origin — rhoF interpolated from the same PsParams
    import operators.Regrid.{PsParams, Utm}
    val p = PsParams(90.0, 0.0, 2000000.0, 2000000.0, k0Pole = Some(0.994))
    s"""WITH pts AS (SELECT p_partkey AS pk,
      |    -178.73 + CAST(p_partkey % 120 AS DOUBLE) * 2.99 AS lon,
      |    62.17 + CAST(p_size % 27 AS DOUBLE) * 1.01 AS lat
      |  FROM part),
      |f1 AS (SELECT pk, lon, lat * ${Utm.Deg2Rad} AS phi FROM pts),
      |f2 AS (SELECT pk, lon, phi, ${p.e} * sin(phi) AS esin FROM f1),
      |f3 AS (SELECT pk, lon,
      |    tan(${math.Pi / 4.0} - phi / 2.0)
      |      / pow((1.0 - esin) / (1.0 + esin), ${p.e / 2.0}) AS t FROM f2),
      |f4 AS (SELECT pk, lon, ${p.rhoF} * t AS rho FROM f3),
      |f5 AS (SELECT pk, rho,
      |    (lon - (${p.lon0Deg})) * ${Utm.Deg2Rad} AS dlam FROM f4)
      |SELECT pk,
      |  CAST(floor((${p.falseEasting} + rho * sin(dlam)) * 64.0) AS BIGINT) AS x_fp,
      |  CAST(floor((${p.falseNorthing} + ((-1.0) * rho) * cos(dlam)) * 64.0) AS BIGINT) AS y_fp
      |FROM f5 ORDER BY pk""".stripMargin
  }

  private val G15UsFoot = 0.30480060960121924 // 1200/3937

  private val G15GeoWkt =
    "GEOGCS[\"NAD83\",DATUM[\"North_American_Datum_1983\"," +
      "SPHEROID[\"GRS 1980\",6378137,298.257222101]],PRIMEM[\"Greenwich\",0]," +
      "UNIT[\"degree\",0.0174532925199433]]"

  private val G15FtUsWkt =
    "PROJCS[\"NAD83 / Texas Central (ftUS)\",GEOGCS[\"NAD83\"," +
      "DATUM[\"North_American_Datum_1983\",SPHEROID[\"GRS 1980\",6378137,298.257222101]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]," +
      "PROJECTION[\"Lambert_Conformal_Conic_2SP\"]," +
      "PARAMETER[\"standard_parallel_1\",31.88333333333333]," +
      "PARAMETER[\"standard_parallel_2\",30.11666666666667]," +
      "PARAMETER[\"latitude_of_origin\",29.66666666666667]," +
      "PARAMETER[\"central_meridian\",-100.3333333333333]," +
      "PARAMETER[\"false_easting\",2296583.333333333]," +
      "PARAMETER[\"false_northing\",9842500.0]," +
      s"UNIT[\"Foot_US\",$G15UsFoot]]"
}
