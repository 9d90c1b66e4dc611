package graft.operators

import graft.operators.Regrid._

/** WKT1 CRS text → [[Regrid.Transform2D]] dispatch — the front door that
  * turns the four implemented projection families + datum shifts into a
  * working feature: a user holding the `.prj` sidecar WKT that
  * [[Shapefile.readFeatureFiles]] surfaces (or any GDAL/ESRI `PROJCS`/
  * `GEOGCS` string) gets the right transform without hand-building
  * `LccParams`/zone numbers. This is the reference's actual API shape —
  * `align_rasterio` is driven entirely by CRS objects read from file
  * metadata (feature_stacking.py:85-96: `src.crs` in, `master_crs` out),
  * never by hand-constructed projection constants.
  *
  * Grammar (OGC 01-009 WKT1, the dialect every GDAL/ESRI `.prj` uses):
  * nested `NAME[arg, ...]` nodes with `[]` or `()` brackets and
  * double-quoted strings (`""` escapes). Both the GDAL/OGC and ESRI
  * spellings are accepted (ESRI prefixes datums with `D_`, capitalizes
  * parameter keys, names LCC without the `_2SP` suffix).
  *
  * Fail-closed doctrine (the Tiff/Jpeg stance): anything outside the
  * implemented surface — an unknown projection method, a rotated/scaled
  * 7-parameter TOWGS84, an unknown datum with no TOWGS84 — REJECTS
  * loudly. No silent approximations: a wrong CRS re-keys every pixel
  * (g9 measured ≈360 m for the Tokyo shift alone). Non-metre linear
  * units (US survey foot — the State Plane staple — international foot)
  * are NOT approximations: the WKT's own conversion factor scales the
  * linear parameters into metres and the projected metres back into the
  * unit, exactly.
  *
  * Implemented surface (exactly what [[Regrid]] ships):
  *   - Transverse Mercator: the WGS84 UTM parameterization →
  *     [[UtmFromGeographic]]; everything else (NAD83/GRS80 UTM,
  *     Gauss-Krüger, nonzero origins) → the parameterized [[TmParams]]
  *   - Mercator_1SP / Pseudo-Mercator → [[WebMercatorFromGeographic]]
  *   - Lambert_Conformal_Conic_2SP → [[LambertConformalFromGeographic]]
  *   - Albers_Conic_Equal_Area → [[AlbersFromGeographic]]
  *   - Polar_Stereographic (variant B) → [[PolarStereographicFromGeographic]]
  *   - plain GEOGCS (geographic degrees — the identity "projection")
  *   - datum shifts via TOWGS84 3-param (or the published table for the
  *     named legacy datums) → [[AbridgedMolodensky]]
  */
object CrsWkt {

  // ---- WKT1 tokenizer / recursive-descent parser ----

  /** One parsed node: NAME[args...] where each arg is a String (quoted),
    * Double (bare number), or nested Node.
    */
  final case class Node(name: String, args: Vector[Any]) {
    def children(n: String): Vector[Node] =
      args.collect { case c: Node if c.name.equalsIgnoreCase(n) => c }
    def child(n: String): Option[Node] = children(n).headOption
    def str(i: Int): String = args(i) match {
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"WKT $name arg $i: expected a quoted string, got $other")
    }
    def num(i: Int): Double = args(i) match {
      case d: Double => d
      case s: String if s.nonEmpty && s.matches("[-+0-9.eE]+") => s.toDouble
      case other => throw new IllegalArgumentException(
        s"WKT $name arg $i: expected a number, got $other")
    }
  }

  def parseNode(wkt: String): Node = {
    val s = wkt
    var pos = 0
    def ws(): Unit = while (pos < s.length && s(pos).isWhitespace) pos += 1
    def fail(msg: String) = throw new IllegalArgumentException(
      s"WKT parse error at offset $pos: $msg (…${s.slice(math.max(0, pos - 10), pos + 10)}…)")
    def ident(): String = {
      ws()
      val start = pos
      while (pos < s.length && (s(pos).isLetterOrDigit || s(pos) == '_')) pos += 1
      if (pos == start) fail("expected an identifier")
      s.substring(start, pos)
    }
    def quoted(): String = {
      pos += 1 // opening "
      val sb = new StringBuilder
      var done = false
      while (!done) {
        if (pos >= s.length) fail("unterminated quoted string")
        s(pos) match {
          case '"' if pos + 1 < s.length && s(pos + 1) == '"' => sb += '"'; pos += 2
          case '"' => pos += 1; done = true
          case c => sb += c; pos += 1
        }
      }
      sb.toString
    }
    def number(): Double = {
      val start = pos
      while (pos < s.length && "+-0123456789.eE".indexOf(s(pos)) >= 0) pos += 1
      if (pos == start) fail("expected a number")
      s.substring(start, pos).toDouble
    }
    def node(): Node = {
      val name = ident()
      ws()
      if (pos >= s.length || (s(pos) != '[' && s(pos) != '(')) fail(s"expected [ after $name")
      nodeBody(name)
    }
    def nodeBody(name: String): Node = {
      val close = if (s(pos) == '[') ']' else ')'
      pos += 1
      val args = Vector.newBuilder[Any]
      var first = true
      var done = false
      while (!done) {
        ws()
        if (pos >= s.length) fail(s"unterminated $name node")
        if (s(pos) == close) { pos += 1; done = true }
        else {
          if (!first) {
            if (s(pos) != ',') fail("expected , or closing bracket")
            pos += 1; ws()
          }
          first = false
          if (pos >= s.length) fail("unterminated node")
          else if (s(pos) == '"') args += quoted()
          else if (s(pos).isLetter) {
            // a nested node, or a WKT2 bare keyword (Cartesian, east,
            // north, …) which surfaces as a plain string argument
            val n2 = ident()
            ws()
            if (pos < s.length && (s(pos) == '[' || s(pos) == '(')) args += nodeBody(n2)
            else args += n2
          }
          else args += number()
        }
      }
      Node(name.toUpperCase, args.result())
    }
    val root = node()
    ws()
    require(pos == s.length, s"trailing characters after WKT root node: '${s.drop(pos).take(40)}'")
    root
  }

  // ---- datum / ellipsoid resolution ----

  /** A geographic CRS: ellipsoid + geocentric shift TO WGS84 in metres
    * (the TOWGS84 convention). `shift = (0,0,0)` + the WGS84 ellipsoid
    * IS WGS84.
    */
  final case class GeogCrs(datumName: String, ellipsoid: Ellipsoid,
      toWgs84: (Double, Double, Double),
      /** Bursa–Wolf rotations to WGS84 in ARC-SECONDS (EPSG 9606
        * position-vector convention — TOWGS84 args 4-6); (0,0,0) for the
        * 3-parameter / named-datum cases.
        */
      rotWgs84: (Double, Double, Double) = (0.0, 0.0, 0.0),
      /** Bursa–Wolf scale difference to WGS84 in PPM (TOWGS84 arg 7). */
      scaleWgs84Ppm: Double = 0.0)

  sealed trait Crs { def geog: GeogCrs }
  /** Plain lon/lat degrees on `geog`'s datum. */
  final case class Geographic(geog: GeogCrs) extends Crs
  /** Projected metres; `forward` maps geographic (lon°, lat°) on the SAME
    * datum → projected (x, y).
    */
  final case class Projected(geog: GeogCrs, forward: Transform2D) extends Crs

  /** Published geocentric →WGS84 shifts for the named legacy datums the
    * engine ships ellipsoids for (DMA TR 8350.2 / EPSG): used when the
    * WKT carries no TOWGS84 node. Keys are normalized datum names (upper,
    * ESRI `D_` prefix stripped).
    */
  private val NamedDatumShifts: Map[String, (Double, Double, Double)] = Map(
    "WGS_1984" -> (0.0, 0.0, 0.0),
    // WKT2 spells the datum out (and often as an ensemble)
    "WORLD_GEODETIC_SYSTEM_1984" -> (0.0, 0.0, 0.0),
    "WORLD_GEODETIC_SYSTEM_1984_ENSEMBLE" -> (0.0, 0.0, 0.0),
    // NAD83/GRS80 is coincident with WGS84 at the metre level
    "NORTH_AMERICAN_DATUM_1983" -> (0.0, 0.0, 0.0),
    "NORTH_AMERICAN_1983" -> (0.0, 0.0, 0.0),
    // ETRS89/GRS80 is likewise coincident with WGS84 at the metre level
    "EUROPEAN_TERRESTRIAL_REFERENCE_SYSTEM_1989" -> (0.0, 0.0, 0.0),
    "ETRS89" -> (0.0, 0.0, 0.0),
    "ETRS_1989" -> (0.0, 0.0, 0.0),
    "TOKYO" -> (-146.414, 507.337, 680.507),
    "NORTH_AMERICAN_DATUM_1927" -> (-8.0, 160.0, 176.0),
    "NORTH_AMERICAN_1927" -> (-8.0, 160.0, 176.0))

  /** Snap spheroid (a, 1/f) to a shipped named ellipsoid when it matches
    * to printing precision, so datum-equality checks (and the oracles'
    * interpolated constants) compare the EXACT same doubles; otherwise
    * carry the literal values (LCC/Albers/Molodensky are fully
    * parameterized by them).
    */
  private def resolveEllipsoid(a: Double, invF: Double): Ellipsoid = {
    val named = Seq(Ellipsoid.Wgs84, Ellipsoid.Bessel1841, Ellipsoid.Clarke1866)
    named.find(e => math.abs(e.a - a) < 1e-3 && math.abs(e.invF - invF) < 1e-6)
      .getOrElse(Ellipsoid(a, invF))
  }

  private def normDatum(name: String): String = {
    val up = name.toUpperCase.replace(' ', '_')
    if (up.startsWith("D_")) up.drop(2) else up
  }

  private def parseGeogcs(n: Node): GeogCrs = {
    val datum = n.child("DATUM").getOrElse(
      throw new IllegalArgumentException("GEOGCS without DATUM"))
    val sph = datum.child("SPHEROID").orElse(datum.child("ELLIPSOID")).getOrElse(
      throw new IllegalArgumentException("DATUM without SPHEROID"))
    val ell = resolveEllipsoid(sph.num(1), sph.num(2))
    val dName = normDatum(datum.str(0))
    // translation (metres), rotation (arc-seconds, position-vector),
    // scale (ppm): the full Bursa–Wolf parameter set. 3-param nodes and
    // named datums carry zero rotation/scale; 7-param nodes (the European
    // legacy staple — DHDN, MGI) route through the geocentric Helmert
    // path in `transform`.
    val (shift, rot, ppm) = datum.child("TOWGS84") match {
      case Some(t) =>
        require(t.args.length == 3 || t.args.length == 7,
          s"TOWGS84 must have 3 or 7 parameters, got ${t.args.length}")
        if (t.args.length == 7)
          ((t.num(0), t.num(1), t.num(2)), (t.num(3), t.num(4), t.num(5)), t.num(6))
        else ((t.num(0), t.num(1), t.num(2)), (0.0, 0.0, 0.0), 0.0)
      case None => (NamedDatumShifts.getOrElse(dName,
        throw new IllegalArgumentException(
          s"datum '$dName' has no TOWGS84 and is not a known named datum " +
            s"(${NamedDatumShifts.keys.toSeq.sorted.mkString(", ")}) — cannot " +
            "derive a datum shift; add a TOWGS84 node")), (0.0, 0.0, 0.0), 0.0)
    }
    // sanity: the angular unit must be degrees (all shipped transforms
    // take degrees); gradians etc. reject
    n.child("UNIT").foreach { u =>
      require(math.abs(u.num(1) - math.Pi / 180.0) < 1e-9,
        s"GEOGCS angular unit '${u.str(0)}' (${u.num(1)}) is not degrees")
    }
    GeogCrs(dName, ell, shift, rot, ppm)
  }

  /** normalized parameter/method key: lowercase, spaces → underscores */
  private def pNorm(name: String): String = name.toLowerCase.replace(' ', '_')

  /** Canonical projection key from a WKT1 PROJECTION / WKT2 METHOD name
    * (or the METHOD's EPSG code, which wins when present).
    */
  private def methodKeyOf(name: String, epsg: Option[Int]): String = {
    epsg match {
      case Some(9807) => return "tm"
      case Some(1024) => return "webmerc"
      case Some(9802) => return "lcc"
      case Some(9822) => return "aea"
      case Some(9829) => return "ps" // Polar Stereographic (variant B)
      case Some(9810) => return "ps" // Polar Stereographic (variant A — UPS)
      case Some(other) => throw new IllegalArgumentException(
        s"projection METHOD EPSG:$other is not implemented " +
          "(9807 TM, 1024 Pseudo-Mercator, 9802 LCC 2SP, 9822 Albers, " +
          "9829/9810 Polar Stereographic B/A)")
      case None =>
    }
    pNorm(name) match {
      case "transverse_mercator" | "gauss_kruger" => "tm"
      case "mercator_1sp" | "mercator_auxiliary_sphere" |
          "popular_visualisation_pseudo_mercator" | "pseudo_mercator" => "webmerc"
      case "lambert_conformal_conic_2sp" | "lambert_conformal_conic" |
          "lambert_conic_conformal_(2sp)" => "lcc"
      case "albers_conic_equal_area" | "albers" | "albers_equal_area" => "aea"
      // GDAL WKT1 + the ESRI per-aspect spellings + the WKT2 method name
      case "polar_stereographic" | "polar_stereographic_(variant_b)" |
          "stereographic_north_pole" | "stereographic_south_pole" => "ps"
      case _ => throw new IllegalArgumentException(
        s"PROJECTION/METHOD '$name' is not implemented (Transverse_Mercator/UTM, " +
          "Mercator_1SP/Pseudo-Mercator, Lambert_Conformal_Conic_2SP, " +
          "Albers_Conic_Equal_Area, Polar_Stereographic)")
    }
  }

  /** The shared projection builder: `p(aliases, default)` resolves one
    * parameter slot under any of its WKT1/WKT2 spellings (NaN default =
    * required). Both dialects' front doors feed this.
    */
  private def buildProjection(geog: GeogCrs, key: String,
      p: (Seq[String], Double) => Double): Transform2D = {
    val Req = Double.NaN
    def lat0 = p(Seq("latitude_of_origin", "latitude_of_natural_origin",
      "latitude_of_false_origin"), 0.0)
    def cm = p(Seq("central_meridian", "longitude_of_natural_origin",
      "longitude_of_false_origin"), Req)
    def cm0 = p(Seq("central_meridian", "longitude_of_natural_origin",
      "longitude_of_false_origin"), 0.0)
    def fe = p(Seq("false_easting", "easting_at_false_origin"), 0.0)
    def fn = p(Seq("false_northing", "northing_at_false_origin"), 0.0)
    def k0 = p(Seq("scale_factor", "scale_factor_at_natural_origin"), 1.0)
    def sp1 = p(Seq("standard_parallel_1", "latitude_of_1st_standard_parallel"), Req)
    def sp2 = p(Seq("standard_parallel_2", "latitude_of_2nd_standard_parallel"), Req)
    key match {
      case "tm" =>
        // the exact WGS84 UTM parameterization keeps the pinned
        // [[UtmFromGeographic]] pair (existing oracles hash against its
        // constants); every OTHER Transverse Mercator — NAD83/GRS80 UTM,
        // Gauss-Krüger, national grids, nonzero latitude of origin —
        // dispatches the parameterized [[TmParams]] series (r9; this was
        // a reject before)
        val c = cm
        val zone = math.round((c + 183.0) / 6.0).toInt
        val isUtmParams = k0 == 0.9996 && lat0 == 0.0 && fe == 500000.0 &&
          (fn == 0.0 || fn == 10000000.0) &&
          zone >= 1 && zone <= 60 && Utm.centralMeridianDeg(zone) == c
        if (isUtmParams && geog.ellipsoid == Ellipsoid.Wgs84)
          UtmFromGeographic(zone, southern = fn == 10000000.0)
        else
          TransverseMercatorFromGeographic(TmParams(
            c, lat0, k0, fe, fn, geog.ellipsoid.a, geog.ellipsoid.e2))
      case "webmerc" =>
        // EPSG:3857 spherical Web-Mercator on the WGS84 semi-major sphere
        require(cm0 == 0.0 && fe == 0.0 && fn == 0.0 && k0 == 1.0 &&
          p(Seq("standard_parallel_1"), 0.0) == 0.0,
          "only the EPSG:3857 Web-Mercator parameterization is implemented " +
            "(central_meridian/false offsets 0, scale 1)")
        require(geog.ellipsoid == Ellipsoid.Wgs84,
          s"Web-Mercator is implemented on the WGS84 sphere only")
        WebMercatorFromGeographic
      case "lcc" =>
        LambertConformalFromGeographic(LccParams(
          sp1, sp2, lat0, cm, fe, fn, geog.ellipsoid.a, geog.ellipsoid.e2))
      case "aea" =>
        AlbersFromGeographic(AeaParams(
          sp1, sp2, lat0, cm, fe, fn, geog.ellipsoid.a, geog.ellipsoid.e2))
      case "ps" =>
        // WKT1 (GDAL) writes the standard parallel as latitude_of_origin;
        // ESRI and WKT2 variant B spell it standard_parallel_1 /
        // "Latitude of standard parallel". A |lat| = 90 value is the
        // variant-A parameterization (true scale at the pole, scale_factor
        // meaningful) — a DIFFERENT formula; PsParams rejects it, and a
        // non-1 scale factor rejects here.
        val ts = p(Seq("latitude_of_origin", "latitude_of_natural_origin",
          "standard_parallel_1", "latitude_of_standard_parallel"), Req)
        val c = p(Seq("central_meridian", "longitude_of_natural_origin",
          "longitude_of_origin"), Req)
        if (math.abs(ts) == 90.0)
          // the pole as latitude of origin IS variant A (EPSG 9810, the
          // UPS parameterization) — scale_factor is the pole scale
          PolarStereographicFromGeographic(PsParams(
            ts, c, fe, fn, geog.ellipsoid.a, geog.ellipsoid.e2, Some(k0)))
        else {
          require(k0 == 1.0,
            s"polar stereographic scale_factor $k0 with standard parallel " +
              s"$ts: variant B's scale factor is 1 by definition (a pole " +
              "latitude of origin selects variant A)")
          PolarStereographicFromGeographic(PsParams(
            ts, c, fe, fn, geog.ellipsoid.a, geog.ellipsoid.e2))
        }
    }
  }

  /** WKT parameter slots whose values are LINEAR (carry the PROJCS's
    * linear unit, per the WKT1 convention); everything else is angular
    * degrees or dimensionless.
    */
  private val LinearParamNames = Set(
    "false_easting", "false_northing",
    "easting_at_false_origin", "northing_at_false_origin")

  /** Wrap a metre-emitting forward projection for a CRS whose linear unit
    * is `unitFactor` metres (US survey foot 0.304800609601219…,
    * international foot 0.3048 — the US State Plane staple): projected
    * metres divide back into the declared unit. Exact algebra, no
    * approximation — the WKT's own conversion factor is authoritative.
    */
  private def inUnit(fwdMetres: Transform2D, unitFactor: Double): Transform2D =
    if (unitFactor == 1.0) fwdMetres
    else ComposedTransform(fwdMetres,
      AffineTransform(1.0 / unitFactor, 0.0, 0.0, 0.0, 1.0 / unitFactor, 0.0))

  private def parseProjcs(n: Node): Projected = {
    val geog = parseGeogcs(n.child("GEOGCS").getOrElse(
      throw new IllegalArgumentException("PROJCS without GEOGCS")))
    val projName = n.child("PROJECTION").getOrElse(
      throw new IllegalArgumentException("PROJCS without PROJECTION")).str(0)
    // Linear unit: metres pass through; any unit with an explicit
    // positive conversion factor scales EXACTLY — linear parameters
    // enter the projection algebra in metres (fe·u), projected metres
    // divide back into the unit (the inUnit wrap). The WKT factor is the
    // definition of the unit, so nothing here is approximated; a missing
    // or non-numeric factor still rejects in num(1).
    val rawFactor = n.children("UNIT").lastOption.map(_.num(1)).getOrElse(1.0)
    require(rawFactor > 0.0 && java.lang.Double.isFinite(rawFactor),
      s"PROJCS linear unit factor $rawFactor must be a positive number")
    // snap printing-precision variants of exactly-1 to the metre path
    val unitFactor = if (math.abs(rawFactor - 1.0) < 1e-9) 1.0 else rawFactor
    def p(names: Seq[String], default: Double): Double =
      n.args.collectFirst {
        case c: Node if c.name == "PARAMETER" && names.contains(pNorm(c.str(0))) =>
          if (names.exists(LinearParamNames)) c.num(1) * unitFactor else c.num(1)
      }.getOrElse {
        require(!default.isNaN, s"PROJCS missing required PARAMETER[${names.head}]")
        default
      }
    Projected(geog,
      inUnit(buildProjection(geog, methodKeyOf(projName, None), p), unitFactor))
  }

  // ---- WKT2 (ISO 19162 / the default GDAL ≥3 output) ----

  /** GEOGCRS/BASEGEOGCRS: DATUM (or ENSEMBLE) + ELLIPSOID. WKT2 carries
    * no TOWGS84 — datum shifts resolve through the published named-datum
    * table, anything else rejects loudly.
    */
  private def parseGeogcrs2(n: Node): GeogCrs = {
    val datum = n.child("DATUM").orElse(n.child("ENSEMBLE")).getOrElse(
      throw new IllegalArgumentException(s"${n.name} without DATUM/ENSEMBLE"))
    val ell = datum.child("ELLIPSOID").orElse(datum.child("SPHEROID")).getOrElse(
      throw new IllegalArgumentException("datum without ELLIPSOID"))
    ell.child("LENGTHUNIT").foreach { u =>
      require(math.abs(u.num(1) - 1.0) < 1e-9,
        s"ellipsoid unit '${u.str(0)}' is not metres")
    }
    val dName = normDatum(datum.str(0))
    val shift = NamedDatumShifts.getOrElse(dName,
      throw new IllegalArgumentException(
        s"datum '$dName' is not a known named datum " +
          s"(${NamedDatumShifts.keys.toSeq.sorted.mkString(", ")}) — WKT2 carries " +
          "no TOWGS84, so only published datums resolve"))
    GeogCrs(dName, resolveEllipsoid(ell.num(1), ell.num(2)), shift)
  }

  private def parseProjcrs2(n: Node): Projected = {
    val geog = parseGeogcrs2(
      n.child("BASEGEOGCRS").orElse(n.child("BASEGEODCRS")).getOrElse(
        throw new IllegalArgumentException("PROJCRS without BASEGEOGCRS")))
    val conv = n.child("CONVERSION").getOrElse(
      throw new IllegalArgumentException("PROJCRS without CONVERSION"))
    val method = conv.child("METHOD").getOrElse(
      throw new IllegalArgumentException("CONVERSION without METHOD"))
    val epsg = method.child("ID").flatMap { id =>
      if (id.str(0).equalsIgnoreCase("EPSG")) Some(id.num(1).toInt) else None
    }
    // Axis / CS length unit: the coordinate unit of the CRS. Metres pass
    // through; an explicit positive factor (ftUS State Plane) scales
    // exactly via the inUnit wrap. Mixed per-axis units reject (a CRS
    // whose easting and northing disagree has no affine unit wrap).
    val axisFactors =
      for (ax <- n.children("AXIS"); u <- ax.child("LENGTHUNIT")) yield u.num(1)
    val rawCs = n.child("LENGTHUNIT").map(_.num(1))
      .orElse(axisFactors.headOption).getOrElse(1.0)
    require(rawCs > 0.0 && java.lang.Double.isFinite(rawCs),
      s"PROJCRS length unit factor $rawCs must be a positive number")
    require(axisFactors.forall(f => math.abs(f - rawCs) < 1e-12),
      s"PROJCRS axes carry different length units: ${axisFactors.mkString(", ")}")
    val csFactor = if (math.abs(rawCs - 1.0) < 1e-9) 1.0 else rawCs
    def p(names: Seq[String], default: Double): Double =
      conv.args.collectFirst {
        case c: Node if c.name == "PARAMETER" && names.contains(pNorm(c.str(0))) =>
          c.child("ANGLEUNIT").foreach { u =>
            require(math.abs(u.num(1) - math.Pi / 180.0) < 1e-9,
              s"parameter '${c.str(0)}' unit is not degrees")
          }
          // WKT2 units are per-parameter: a linear value scales by its
          // own declared factor (metres = ×1.0, bit-identical); a linear
          // parameter with NO unit node inherits the CS unit per spec
          c.child("LENGTHUNIT") match {
            case Some(u) =>
              require(u.num(1) > 0.0, s"parameter '${c.str(0)}' unit factor must be positive")
              c.num(1) * u.num(1)
            case None if names.exists(LinearParamNames) => c.num(1) * csFactor
            case None => c.num(1)
          }
      }.getOrElse {
        require(!default.isNaN, s"CONVERSION missing required PARAMETER[${names.head}]")
        default
      }
    Projected(geog,
      inUnit(buildProjection(geog, methodKeyOf(method.str(0), epsg), p), csFactor))
  }

  // ---- EPSG shorthand ----

  private val Nad83Ellipsoid = Ellipsoid(6378137.0, 298.257222101) // GRS80
  private val UsSurveyFoot = 0.30480060960121924 // 1200/3937

  /** The common codes a corpus actually carries, as a direct table —
    * users pass "EPSG:32654" far more often than WKT. Everything else
    * rejects loudly (no network, no proj.db).
    */
  def epsgCrs(code: Int): Crs = {
    val wgs = GeogCrs("WGS_1984", Ellipsoid.Wgs84, (0.0, 0.0, 0.0))
    code match {
      case 4326 => Geographic(wgs)
      case 3857 => Projected(wgs, WebMercatorFromGeographic)
      case z if z >= 32601 && z <= 32660 => Projected(wgs, UtmFromGeographic(z - 32600))
      case z if z >= 32701 && z <= 32760 =>
        Projected(wgs, UtmFromGeographic(z - 32700, southern = true))
      case z if z >= 26901 && z <= 26923 => // NAD83 / UTM zones 1N..23N (GRS80)
        Projected(
          GeogCrs("NORTH_AMERICAN_DATUM_1983", Nad83Ellipsoid, (0.0, 0.0, 0.0)),
          TransverseMercatorFromGeographic(TmParams(
            Utm.centralMeridianDeg(z - 26900),
            a = Nad83Ellipsoid.a, e2 = Nad83Ellipsoid.e2)))
      case z if z >= 25828 && z <= 25838 => // ETRS89 / UTM zones 28N..38N (GRS80,
        // coincident with WGS84 at the metre level — the European corpus band)
        Projected(
          GeogCrs("EUROPEAN_TERRESTRIAL_REFERENCE_SYSTEM_1989", Nad83Ellipsoid,
            (0.0, 0.0, 0.0)),
          TransverseMercatorFromGeographic(TmParams(
            Utm.centralMeridianDeg(z - 25800),
            a = Nad83Ellipsoid.a, e2 = Nad83Ellipsoid.e2)))
      case 4269 => Geographic(GeogCrs("NORTH_AMERICAN_DATUM_1983",
        Nad83Ellipsoid, (0.0, 0.0, 0.0)))
      case 4267 => Geographic(GeogCrs("NORTH_AMERICAN_DATUM_1927",
        Ellipsoid.Clarke1866, (-8.0, 160.0, 176.0)))
      case 4301 => Geographic(GeogCrs("TOKYO",
        Ellipsoid.Bessel1841, (-146.414, 507.337, 680.507)))
      case 5070 => Projected( // NAD83 / Conus Albers
        GeogCrs("NORTH_AMERICAN_DATUM_1983", Nad83Ellipsoid, (0.0, 0.0, 0.0)),
        AlbersFromGeographic(AeaParams(29.5, 45.5, 23.0, -96.0,
          a = Nad83Ellipsoid.a, e2 = Nad83Ellipsoid.e2)))
      case 2277 => // NAD83 / Texas Central (ftUS) — the State Plane shape;
        // linear parameters enter in metres (fe·u), coordinates emit in
        // US survey feet via the exact affine unit wrap, exactly the
        // dispatch a ftUS .prj produces (proven equal in CrsWktSpec)
        val u = UsSurveyFoot
        Projected(
          GeogCrs("NORTH_AMERICAN_DATUM_1983", Nad83Ellipsoid, (0.0, 0.0, 0.0)),
          ComposedTransform(
            LambertConformalFromGeographic(LccParams(
              31.88333333333333, 30.11666666666667, 29.66666666666667,
              -100.3333333333333, 2296583.333333333 * u, 9842500.0 * u,
              Nad83Ellipsoid.a, Nad83Ellipsoid.e2)),
            AffineTransform(1.0 / u, 0.0, 0.0, 0.0, 1.0 / u, 0.0)))
      case 3413 => // WGS 84 / NSIDC Sea Ice Polar Stereographic North
        Projected(wgs, PolarStereographicFromGeographic(PsParams(70.0, -45.0)))
      case 3976 => // WGS 84 / NSIDC Sea Ice Polar Stereographic South
        Projected(wgs, PolarStereographicFromGeographic(PsParams(-70.0, 0.0)))
      case 3031 => // WGS 84 / Antarctic Polar Stereographic
        Projected(wgs, PolarStereographicFromGeographic(PsParams(-71.0, 0.0)))
      case 5041 => // WGS 84 / UPS North (E,N) — variant A, k0 at the pole
        Projected(wgs, PolarStereographicFromGeographic(PsParams(
          90.0, 0.0, 2000000.0, 2000000.0, k0Pole = Some(0.994))))
      case 5042 => // WGS 84 / UPS South (E,N)
        Projected(wgs, PolarStereographicFromGeographic(PsParams(
          -90.0, 0.0, 2000000.0, 2000000.0, k0Pole = Some(0.994))))
      case other => throw new IllegalArgumentException(
        s"EPSG:$other is not in the shipped table (4326, 3857, 326xx/327xx UTM, " +
          "269xx NAD83 UTM, 258xx ETRS89 UTM, 4267, 4269, 4301, 5070, 2277, " +
          "3413/3976/3031, 5041/5042 UPS) — pass the CRS WKT instead")
    }
  }

  /** Canonical WKT1 text for a shorthand code in the shipped table — the
    * SAME parameterization [[epsgCrs]] dispatches, as a `.prj` string, so
    * surfaces that need the parameter TREE (→ [[toProjjson]] → GeoParquet
    * footers) serve `EPSG:nnnn`-dispatched stores too (r12; an
    * EPSG-shorthand store used to get a null footer CRS). CrsWktSpec
    * proves `parseCrs(epsgWkt(code)) == epsgCrs(code)` structurally —
    * the text round-trips to the exact same transform doubles.
    */
  def epsgWkt(code: Int): String = {
    def geog(name: String, datum: String, sph: String, a: Double, invF: Double,
        towgs: Option[(Double, Double, Double)] = None): String = {
      val tw = towgs.map { case (x, y, z) => s",TOWGS84[$x,$y,$z,0,0,0,0]" }
        .getOrElse("")
      s"""GEOGCS["$name",DATUM["$datum",SPHEROID["$sph",$a,$invF]$tw],""" +
        """PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]"""
    }
    lazy val wgs = geog("WGS 84", "WGS_1984", "WGS 84", 6378137.0, 298.257223563)
    lazy val nad83 = geog("NAD83", "North_American_Datum_1983", "GRS 1980",
      Nad83Ellipsoid.a, Nad83Ellipsoid.invF)
    lazy val etrs89 = geog("ETRS89", "European_Terrestrial_Reference_System_1989",
      "GRS 1980", Nad83Ellipsoid.a, Nad83Ellipsoid.invF)
    def proj(name: String, g: String, projection: String,
        params: Seq[(String, Double)],
        unit: String = """UNIT["metre",1]"""): String =
      s"""PROJCS["$name",$g,PROJECTION["$projection"],""" +
        params.map { case (n, v) => s"""PARAMETER["$n",$v]""" }.mkString(",") +
        s",$unit]"
    def utm(zone: Int, g: String, gname: String, southern: Boolean): String =
      proj(s"$gname / UTM zone $zone${if (southern) "S" else "N"}", g,
        "Transverse_Mercator", Seq(
          "latitude_of_origin" -> 0.0,
          "central_meridian" -> Utm.centralMeridianDeg(zone),
          "scale_factor" -> 0.9996,
          "false_easting" -> 500000.0,
          "false_northing" -> (if (southern) 1.0e7 else 0.0)))
    def polar(name: String, ts: Double, cm: Double): String =
      proj(name, wgs, "Polar_Stereographic", Seq(
        "latitude_of_origin" -> ts, "central_meridian" -> cm,
        "false_easting" -> 0.0, "false_northing" -> 0.0))
    def ups(name: String, pole: Double): String =
      proj(name, wgs, "Polar_Stereographic", Seq(
        "latitude_of_origin" -> pole, "central_meridian" -> 0.0,
        "scale_factor" -> 0.994,
        "false_easting" -> 2000000.0, "false_northing" -> 2000000.0))
    code match {
      case 4326 => wgs
      case 4269 => nad83
      case 4267 => geog("NAD27", "North_American_Datum_1927", "Clarke 1866",
        Ellipsoid.Clarke1866.a, Ellipsoid.Clarke1866.invF,
        Some((-8.0, 160.0, 176.0)))
      case 4301 => geog("Tokyo", "Tokyo", "Bessel 1841",
        Ellipsoid.Bessel1841.a, Ellipsoid.Bessel1841.invF,
        Some((-146.414, 507.337, 680.507)))
      case 3857 => proj("WGS 84 / Pseudo-Mercator", wgs, "Mercator_1SP", Seq(
        "central_meridian" -> 0.0, "scale_factor" -> 1.0,
        "false_easting" -> 0.0, "false_northing" -> 0.0))
      case z if z >= 32601 && z <= 32660 => utm(z - 32600, wgs, "WGS 84", southern = false)
      case z if z >= 32701 && z <= 32760 => utm(z - 32700, wgs, "WGS 84", southern = true)
      case z if z >= 26901 && z <= 26923 =>
        utm(z - 26900, nad83, "NAD83", southern = false)
      case z if z >= 25828 && z <= 25838 =>
        utm(z - 25800, etrs89, "ETRS89", southern = false)
      case 5070 => proj("NAD83 / Conus Albers", nad83, "Albers_Conic_Equal_Area", Seq(
        "standard_parallel_1" -> 29.5, "standard_parallel_2" -> 45.5,
        "latitude_of_origin" -> 23.0, "central_meridian" -> -96.0,
        "false_easting" -> 0.0, "false_northing" -> 0.0))
      case 2277 => proj("NAD83 / Texas Central (ftUS)", nad83,
        "Lambert_Conformal_Conic_2SP", Seq(
          "standard_parallel_1" -> 31.88333333333333,
          "standard_parallel_2" -> 30.11666666666667,
          "latitude_of_origin" -> 29.66666666666667,
          "central_meridian" -> -100.3333333333333,
          "false_easting" -> 2296583.333333333,
          "false_northing" -> 9842500.0),
        s"""UNIT["US survey foot",$UsSurveyFoot]""")
      case 3413 => polar("WGS 84 / NSIDC Sea Ice Polar Stereographic North", 70.0, -45.0)
      case 3976 => polar("WGS 84 / NSIDC Sea Ice Polar Stereographic South", -70.0, 0.0)
      case 3031 => polar("WGS 84 / Antarctic Polar Stereographic", -71.0, 0.0)
      case 5041 => ups("WGS 84 / UPS North (E,N)", 90.0)
      case 5042 => ups("WGS 84 / UPS South (E,N)", -90.0)
      case other => throw new IllegalArgumentException(
        s"EPSG:$other is not in the shipped table — pass the CRS WKT instead")
    }
  }

  /** Parse a CRS designator: `.prj`-style WKT1, WKT2 (GDAL ≥3's default
    * output), or an `EPSG:nnnn` shorthand.
    */
  def parseCrs(wkt: String): Crs = {
    val t = wkt.trim
    val epsgRe = "(?i)^EPSG:(\\d{1,6})$".r
    t match {
      case epsgRe(code) => return epsgCrs(code.toInt)
      case _ =>
    }
    val root = parseNode(t)
    root.name match {
      case "PROJCS" => parseProjcs(root)
      case "GEOGCS" => Geographic(parseGeogcs(root))
      case "PROJCRS" | "PROJECTEDCRS" => parseProjcrs2(root)
      case "GEOGCRS" | "GEODCRS" | "GEODETICCRS" => Geographic(parseGeogcrs2(root))
      case other => throw new IllegalArgumentException(
        s"root node $other unsupported (PROJCS/GEOGCS, PROJCRS/GEOGCRS, or EPSG:nnnn)")
    }
  }

  /** The transform mapping SRC-CRS coordinates → DST-CRS coordinates:
    * src projection inverse (→ src geographic) → datum shift (abridged
    * Molodensky on the combined TOWGS84 translations, skipped when the
    * datums coincide) → dst projection forward. This is the PROJ
    * "pipeline" chain through [[ComposedTransform]]; single-step chains
    * collapse so e.g. UTM→its own GEOGCS returns the bare
    * [[GeographicFromUtm]].
    */
  def transform(src: Crs, dst: Crs): Transform2D = {
    val srcInv: Option[Transform2D] = src match {
      case Geographic(_) => None
      case Projected(_, fwd) => Some(fwd.inverse)
    }
    val shift: Option[Transform2D] = {
      val sameDatum = src.geog.ellipsoid == dst.geog.ellipsoid &&
        src.geog.toWgs84 == dst.geog.toWgs84 &&
        src.geog.rotWgs84 == dst.geog.rotWgs84 &&
        src.geog.scaleWgs84Ppm == dst.geog.scaleWgs84Ppm
      val noRotation = src.geog.rotWgs84 == ((0.0, 0.0, 0.0)) &&
        dst.geog.rotWgs84 == ((0.0, 0.0, 0.0)) &&
        src.geog.scaleWgs84Ppm == 0.0 && dst.geog.scaleWgs84Ppm == 0.0
      if (sameDatum) None
      else if (noRotation) {
        val (sx, sy, sz) = src.geog.toWgs84
        val (dx, dy, dz) = dst.geog.toWgs84
        // src→WGS84 is +src.toWgs84; WGS84→dst is −dst.toWgs84; the
        // combined translation is their difference (standard PROJ chain)
        Some(AbridgedMolodensky(sx - dx, sy - dy, sz - dz,
          src.geog.ellipsoid, dst.geog.ellipsoid))
      } else {
        // Bursa–Wolf with rotation/scale on either side: src→WGS84 and
        // WGS84→dst are geocentric AFFINE maps, so their composition is a
        // single driver-composed affine — ONE geocentric round trip per
        // row regardless of how many datums the chain crosses. The
        // WGS84→dst leg is the exact matrix inverse (not the negated-
        // parameter approximation).
        def leg(g: GeogCrs) = HelmertDatumShift(
          g.toWgs84._1, g.toWgs84._2, g.toWgs84._3,
          g.rotWgs84._1, g.rotWgs84._2, g.rotWgs84._3, g.scaleWgs84Ppm,
          g.ellipsoid, Ellipsoid.Wgs84)
        val a = leg(src.geog) // src → WGS84
        val b = leg(dst.geog).inverse // WGS84 → dst
        // compose: XYZ_dst = Tb + Mb·(Ta + Ma·XYZ) — constants fold on
        // the driver; ellipsoids are src's (geocentric fwd) and dst's
        // (Bowring inverse)
        def mul(p: GeocentricAffineShift, q: GeocentricAffineShift) =
          GeocentricAffineShift(
            q.tx + q.m00 * p.tx + q.m01 * p.ty + q.m02 * p.tz,
            q.ty + q.m10 * p.tx + q.m11 * p.ty + q.m12 * p.tz,
            q.tz + q.m20 * p.tx + q.m21 * p.ty + q.m22 * p.tz,
            q.m00 * p.m00 + q.m01 * p.m10 + q.m02 * p.m20,
            q.m00 * p.m01 + q.m01 * p.m11 + q.m02 * p.m21,
            q.m00 * p.m02 + q.m01 * p.m12 + q.m02 * p.m22,
            q.m10 * p.m00 + q.m11 * p.m10 + q.m12 * p.m20,
            q.m10 * p.m01 + q.m11 * p.m11 + q.m12 * p.m21,
            q.m10 * p.m02 + q.m11 * p.m12 + q.m12 * p.m22,
            q.m20 * p.m00 + q.m21 * p.m10 + q.m22 * p.m20,
            q.m20 * p.m01 + q.m21 * p.m11 + q.m22 * p.m21,
            q.m20 * p.m02 + q.m21 * p.m12 + q.m22 * p.m22,
            p.src, q.dst)
        Some(mul(a, b.asInstanceOf[GeocentricAffineShift]))
      }
    }
    val dstFwd: Option[Transform2D] = dst match {
      case Geographic(_) => None
      case Projected(_, fwd) => Some(fwd)
    }
    Seq(srcInv, shift, dstFwd).flatten match {
      case Seq() => IdentityTransform
      case Seq(one) => one
      case many => many.reduceLeft(ComposedTransform(_, _))
    }
  }

  /** WKT front door: `transformBetween(srcWkt, dstWkt)` for use with
    * [[Regrid.reproject]] — pass the MASTER grid's WKT as `srcWkt` and
    * the aux raster's as `dstWkt` (reproject maps master cell centers
    * into the aux plane).
    */
  def transformBetween(srcWkt: String, dstWkt: String): Transform2D =
    transform(parseCrs(srcWkt), parseCrs(dstWkt))

  // ---- PROJJSON emission (r11 — the GeoParquet `crs` encoding) ----

  private def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def ellipsoidName(e: Ellipsoid): String =
    if (e == Ellipsoid.Wgs84) "WGS 84"
    else if (math.abs(e.a - 6378137.0) < 1e-3 &&
      math.abs(e.invF - 298.257222101) < 1e-6) "GRS 1980"
    else if (e == Ellipsoid.Bessel1841) "Bessel 1841"
    else if (e == Ellipsoid.Clarke1866) "Clarke 1866"
    else "unnamed"

  private def geogProjjsonBody(name: String, g: GeogCrs): String = {
    val ell = s"""{"name":${jq(ellipsoidName(g.ellipsoid))},""" +
      s""""semi_major_axis":${g.ellipsoid.a},""" +
      s""""inverse_flattening":${g.ellipsoid.invF}}"""
    s""""type":"GeographicCRS","name":${jq(name)},""" +
      s""""datum":{"type":"GeodeticReferenceFrame",""" +
      s""""name":${jq(g.datumName.replace('_', ' '))},"ellipsoid":$ell},""" +
      """"coordinate_system":{"subtype":"ellipsoidal","axis":[""" +
      """{"name":"Geodetic latitude","abbreviation":"Lat","direction":"north","unit":"degree"},""" +
      """{"name":"Geodetic longitude","abbreviation":"Lon","direction":"east","unit":"degree"}]}"""
  }

  /** PROJJSON for a CRS WKT (WKT1 `.prj` or WKT2) — the GeoParquet
    * footer's `crs` encoding, so projected-CRS stores stop defaulting to
    * null/CRS84 (a State-Plane store read as lon/lat is the interop
    * hazard this closes). Methods and parameters are emitted under their
    * EPSG names/codes for the engine's projection families; linear
    * parameter values are converted to METRES (the WKT1 convention puts
    * them in the CRS unit), while the axis unit keeps the declared unit
    * so consumers see coordinates as stored. EPSG:nnnn shorthands (r12)
    * derive their parameter tree from the shipped table's own
    * parameterization via [[epsgWkt]] — an EPSG-dispatched GeoParquet
    * store gets the same non-null footer CRS as the `.prj` path.
    */
  def toProjjson(crsText: String): String = {
    val t = crsText.trim
    val epsgRe = "(?i)^EPSG:(\\d{1,6})$".r
    t match {
      case epsgRe(c) => return toProjjson(epsgWkt(c.toInt))
      case _ =>
    }
    val root = parseNode(t)
    root.name match {
      case "GEOGCS" =>
        s"""{"$$schema":"https://proj.org/schemas/v0.7/projjson.schema.json",""" +
          geogProjjsonBody(root.str(0), parseGeogcs(root)) + "}"
      case "GEOGCRS" | "GEODCRS" | "GEODETICCRS" =>
        s"""{"$$schema":"https://proj.org/schemas/v0.7/projjson.schema.json",""" +
          geogProjjsonBody(root.str(0), parseGeogcrs2(root)) + "}"
      case "PROJCS" => projcsProjjson(root)
      case "PROJCRS" | "PROJECTEDCRS" => projcrs2Projjson(root)
      case other => throw new IllegalArgumentException(
        s"toProjjson: root node $other unsupported (PROJCS/GEOGCS, PROJCRS/GEOGCRS)")
    }
  }

  /** Shared conversion emitter: `p(aliases, default)` resolves one
    * parameter (linear values already in metres — the same contract as
    * buildProjection's resolver).
    */
  private def conversionProjjson(key: String,
      p: (Seq[String], Double) => Double): String = {
    val Req = Double.NaN
    def lat0 = p(Seq("latitude_of_origin", "latitude_of_natural_origin",
      "latitude_of_false_origin"), 0.0)
    def cm = p(Seq("central_meridian", "longitude_of_natural_origin",
      "longitude_of_false_origin"), Req)
    def fe = p(Seq("false_easting", "easting_at_false_origin"), 0.0)
    def fn = p(Seq("false_northing", "northing_at_false_origin"), 0.0)
    def k0 = p(Seq("scale_factor", "scale_factor_at_natural_origin"), 1.0)
    def sp1 = p(Seq("standard_parallel_1", "latitude_of_1st_standard_parallel"), Req)
    def sp2 = p(Seq("standard_parallel_2", "latitude_of_2nd_standard_parallel"), Req)
    val (mName, mCode, params) = key match {
      case "tm" => ("Transverse Mercator", 9807, Seq(
        ("Latitude of natural origin", 8801, lat0, "degree"),
        ("Longitude of natural origin", 8802, cm, "degree"),
        ("Scale factor at natural origin", 8805, k0, "unity"),
        ("False easting", 8806, fe, "metre"),
        ("False northing", 8807, fn, "metre")))
      case "webmerc" => ("Popular Visualisation Pseudo Mercator", 1024, Seq(
        ("Latitude of natural origin", 8801, lat0, "degree"),
        ("Longitude of natural origin", 8802,
          p(Seq("central_meridian", "longitude_of_natural_origin",
            "longitude_of_false_origin"), 0.0), "degree"),
        ("False easting", 8806, fe, "metre"),
        ("False northing", 8807, fn, "metre")))
      case "lcc" => ("Lambert Conic Conformal (2SP)", 9802, Seq(
        ("Latitude of false origin", 8821, lat0, "degree"),
        ("Longitude of false origin", 8822, cm, "degree"),
        ("Latitude of 1st standard parallel", 8823, sp1, "degree"),
        ("Latitude of 2nd standard parallel", 8824, sp2, "degree"),
        ("Easting at false origin", 8826, fe, "metre"),
        ("Northing at false origin", 8827, fn, "metre")))
      case "aea" => ("Albers Equal Area", 9822, Seq(
        ("Latitude of false origin", 8821, lat0, "degree"),
        ("Longitude of false origin", 8822, cm, "degree"),
        ("Latitude of 1st standard parallel", 8823, sp1, "degree"),
        ("Latitude of 2nd standard parallel", 8824, sp2, "degree"),
        ("Easting at false origin", 8826, fe, "metre"),
        ("Northing at false origin", 8827, fn, "metre")))
      case "ps" =>
        val ts = p(Seq("latitude_of_origin", "latitude_of_natural_origin",
          "standard_parallel_1", "latitude_of_standard_parallel"), Req)
        val c = p(Seq("central_meridian", "longitude_of_natural_origin",
          "longitude_of_origin"), Req)
        if (math.abs(ts) == 90.0)
          ("Polar Stereographic (variant A)", 9810, Seq(
            ("Latitude of natural origin", 8801, ts, "degree"),
            ("Longitude of natural origin", 8802, c, "degree"),
            ("Scale factor at natural origin", 8805, k0, "unity"),
            ("False easting", 8806, fe, "metre"),
            ("False northing", 8807, fn, "metre")))
        else {
          // variant B's scale factor is 1 by definition — silently
          // dropping a non-1 value would emit PROJJSON describing a
          // DIFFERENT projection than the WKT declared (buildProjection
          // rejects the same parameterization)
          require(k0 == 1.0,
            s"polar stereographic scale_factor $k0 with standard parallel " +
              s"$ts has no PROJJSON spelling (variant B's scale factor is 1)")
          ("Polar Stereographic (variant B)", 9829, Seq(
            ("Latitude of standard parallel", 8832, ts, "degree"),
            ("Longitude of origin", 8833, c, "degree"),
            ("False easting", 8806, fe, "metre"),
            ("False northing", 8807, fn, "metre")))
        }
      case other => throw new IllegalArgumentException(
        s"toProjjson: projection family '$other' has no PROJJSON mapping")
    }
    val ps = params.map { case (n, c, v, u) =>
      s"""{"name":${jq(n)},"value":$v,"unit":${jq(u)},""" +
        s""""id":{"authority":"EPSG","code":$c}}"""
    }.mkString("[", ",", "]")
    s""""conversion":{"name":"unnamed","method":{"name":${jq(mName)},""" +
      s""""id":{"authority":"EPSG","code":$mCode}},"parameters":$ps}"""
  }

  private def cartesianCs(unitFactor: Double): String = {
    val unit =
      if (unitFactor == 1.0) "\"metre\""
      else {
        val name =
          if (math.abs(unitFactor - 0.30480060960121924) < 1e-15) "US survey foot"
          else if (math.abs(unitFactor - 0.3048) < 1e-15) "foot"
          else "unit"
        s"""{"type":"LinearUnit","name":${jq(name)},"conversion_factor":$unitFactor}"""
      }
    s""""coordinate_system":{"subtype":"Cartesian","axis":[""" +
      s"""{"name":"Easting","abbreviation":"E","direction":"east","unit":$unit},""" +
      s"""{"name":"Northing","abbreviation":"N","direction":"north","unit":$unit}]}"""
  }

  private def projcsProjjson(n: Node): String = {
    val geogNode = n.child("GEOGCS").getOrElse(
      throw new IllegalArgumentException("PROJCS without GEOGCS"))
    val geog = parseGeogcs(geogNode)
    val projName = n.child("PROJECTION").getOrElse(
      throw new IllegalArgumentException("PROJCS without PROJECTION")).str(0)
    val rawFactor = n.children("UNIT").lastOption.map(_.num(1)).getOrElse(1.0)
    val unitFactor = if (math.abs(rawFactor - 1.0) < 1e-9) 1.0 else rawFactor
    def p(names: Seq[String], default: Double): Double =
      n.args.collectFirst {
        case c: Node if c.name == "PARAMETER" && names.contains(pNorm(c.str(0))) =>
          if (names.exists(LinearParamNames)) c.num(1) * unitFactor else c.num(1)
      }.getOrElse {
        require(!default.isNaN, s"PROJCS missing required PARAMETER[${names.head}]")
        default
      }
    s"""{"$$schema":"https://proj.org/schemas/v0.7/projjson.schema.json",""" +
      s""""type":"ProjectedCRS","name":${jq(n.str(0))},""" +
      s""""base_crs":{${geogProjjsonBody(geogNode.str(0), geog)}},""" +
      conversionProjjson(methodKeyOf(projName, None), p) + "," +
      cartesianCs(unitFactor) + "}"
  }

  private def projcrs2Projjson(n: Node): String = {
    val geogNode = n.child("BASEGEOGCRS").orElse(n.child("BASEGEODCRS")).getOrElse(
      throw new IllegalArgumentException("PROJCRS without BASEGEOGCRS"))
    val geog = parseGeogcrs2(geogNode)
    val conv = n.child("CONVERSION").getOrElse(
      throw new IllegalArgumentException("PROJCRS without CONVERSION"))
    val method = conv.child("METHOD").getOrElse(
      throw new IllegalArgumentException("CONVERSION without METHOD"))
    val epsg = method.child("ID").flatMap { id =>
      if (id.str(0).equalsIgnoreCase("EPSG")) Some(id.num(1).toInt) else None
    }
    val axisFactors =
      for (ax <- n.children("AXIS"); u <- ax.child("LENGTHUNIT")) yield u.num(1)
    val rawCs = n.child("LENGTHUNIT").map(_.num(1))
      .orElse(axisFactors.headOption).getOrElse(1.0)
    val csFactor = if (math.abs(rawCs - 1.0) < 1e-9) 1.0 else rawCs
    def p(names: Seq[String], default: Double): Double =
      conv.args.collectFirst {
        case c: Node if c.name == "PARAMETER" && names.contains(pNorm(c.str(0))) =>
          c.child("LENGTHUNIT") match {
            case Some(u) => c.num(1) * u.num(1)
            case None if names.exists(LinearParamNames) => c.num(1) * csFactor
            case None => c.num(1)
          }
      }.getOrElse {
        require(!default.isNaN, s"CONVERSION missing required PARAMETER[${names.head}]")
        default
      }
    s"""{"$$schema":"https://proj.org/schemas/v0.7/projjson.schema.json",""" +
      s""""type":"ProjectedCRS","name":${jq(n.str(0))},""" +
      s""""base_crs":{${geogProjjsonBody(geogNode.str(0), geog)}},""" +
      conversionProjjson(methodKeyOf(method.str(0), epsg), p) + "," +
      cartesianCs(csFactor) + "}"
  }
}
