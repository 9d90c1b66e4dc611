package graft

import graft.functions.SpatialOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Geohash family: encode against the PUBLIC test vectors (the bisection
  * algorithm's published examples), exact decode, prefix nesting, and the
  * wrap/clamp neighbor semantics. The implementation quantizes each axis to
  * its bit budget and interleaves MSB-first — provably equivalent to the
  * textbook bisection loop (floor((v+off)/span·2^k) IS the k-step bisection
  * path), which the vector tests pin down end-to-end.
  */
class GeohashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("encode matches the published test vectors") {
    // (lon, lat, precision, expected): Wikipedia's Jutland example at 11
    // chars, the original geohash.org README example at 5, and the closed
    // upper corner clamping into the all-ones cell.
    val cases = Seq(
      (10.40744, 57.64911, 11, "u4pruydqqvj"),
      (-5.603, 42.605, 5, "ezs42"),
      (180.0, 90.0, 5, "zzzzz"),
      (-180.0, -90.0, 5, "00000"))
    cases.foreach { case (lon, lat, p, want) =>
      val got = Seq((lon, lat)).toDF("lon", "lat")
        .select(SpatialOps.geohash($"lon", $"lat", p)).head.getString(0)
      assert(got == want, s"geohash($lon, $lat, $p)")
    }
  }

  test("decode bbox contains the encoded point and has the exact cell size") {
    val pts = (1 to 200).map { i =>
      (((i * 131) % 3600) / 10.0 - 180.0, ((i * 89) % 1700) / 10.0 - 85.0)
    }.toDF("lon", "lat")
    (1 to 8).foreach { p =>
      val (n, nLon, nLat) = (5 * p, (5 * p + 1) / 2, 5 * p / 2)
      val out = pts
        .withColumn("gh", SpatialOps.geohash($"lon", $"lat", p))
        .withColumn("b", SpatialOps.geohashBbox($"gh", p))
        .withColumn("inside", SpatialOps.bboxContainsPoint($"b", $"lon", $"lat"))
        .withColumn("wOk", $"b.xmax" - $"b.xmin" === lit(360.0 / (1L << nLon)))
        .withColumn("hOk", $"b.ymax" - $"b.ymin" === lit(180.0 / (1L << nLat)))
      assert(out.filter(!$"inside" || !$"wOk" || !$"hOk").count() == 0, s"p=$p (n=$n)")
    }
  }

  test("prefix nesting: the p-1 cell is a string prefix and contains the p cell") {
    val pts = (1 to 200).map { i =>
      (((i * 37) % 3600) / 10.0 - 180.0, ((i * 53) % 1700) / 10.0 - 85.0)
    }.toDF("lon", "lat")
    Seq(2, 5, 9, 12).foreach { p =>
      val out = pts
        .withColumn("ghC", SpatialOps.geohash($"lon", $"lat", p))
        .withColumn("ghP", SpatialOps.geohash($"lon", $"lat", p - 1))
        .withColumn("c", SpatialOps.geohashBbox($"ghC", p))
        .withColumn("par", SpatialOps.geohashBbox($"ghP", p - 1))
        .withColumn("prefixOk", $"ghC".substr(lit(1), lit(p - 1)) === $"ghP")
        .withColumn("nestOk",
          $"c.xmin" >= $"par.xmin" && $"c.xmax" <= $"par.xmax" &&
            $"c.ymin" >= $"par.ymin" && $"c.ymax" <= $"par.ymax")
      assert(out.filter(!$"prefixOk" || !$"nestOk").count() == 0, s"p=$p")
    }
  }

  test("shift: east/west are adjacent cells, date line wraps, poles clamp to NULL") {
    val df = Seq(("u4pru", 0)).toDF("gh", "z")
    val row = df.select(
      SpatialOps.geohashBbox($"gh", 5).as("b"),
      SpatialOps.geohashShift($"gh", 1, 0, 5).as("e"),
      SpatialOps.geohashShift($"gh", -1, 0, 5).as("w"),
      SpatialOps.geohashShift($"gh", 0, 1, 5).as("n")).head
    val b = row.getStruct(0)
    val eastB = df.select(SpatialOps.geohashBbox(lit(row.getString(1)), 5)).head.getStruct(0)
    assert(eastB.getDouble(0) == b.getDouble(2), "east xmin == cell xmax")
    assert(eastB.getDouble(1) == b.getDouble(1), "same latitude row")
    val westB = df.select(SpatialOps.geohashBbox(lit(row.getString(2)), 5)).head.getStruct(0)
    assert(westB.getDouble(2) == b.getDouble(0), "west xmax == cell xmin")

    // zzzzz is the top-right cell: east wraps to lon bits all-zero (the
    // west edge), north is off the pole → NULL, so 5 neighbors remain.
    val z = Seq(("zzzzz", 0)).toDF("gh", "z").select(
      SpatialOps.geohashShift($"gh", 1, 0, 5).as("e"),
      SpatialOps.geohashShift($"gh", 0, 1, 5).as("n"),
      SpatialOps.geohashNeighbors($"gh", 5).as("nb")).head
    val eWrapped = Seq((z.getString(0), 0)).toDF("gh", "z")
      .select(SpatialOps.geohashBbox($"gh", 5)).head.getStruct(0)
    assert(eWrapped.getDouble(0) == -180.0, "date-line wrap lands at xmin=-180")
    assert(z.isNullAt(1), "north of the pole row is NULL")
    assert(z.getSeq[String](2).size == 5, "corner cell keeps 5 of 8 neighbors")
  }

  test("neighbors: interior cell has 8 distinct edge-adjacent cells") {
    val df = Seq(("ezs42", 0)).toDF("gh", "z")
    val nb = df.select(SpatialOps.geohashNeighbors($"gh", 5)).head.getSeq[String](0)
    assert(nb.size == 8 && nb.distinct.size == 8 && !nb.contains("ezs42"))
    val b = df.select(SpatialOps.geohashBbox($"gh", 5)).head.getStruct(0)
    nb.foreach { g =>
      val nbB = df.select(SpatialOps.geohashBbox(lit(g), 5)).head.getStruct(0)
      // each neighbor's bbox touches the center cell's bbox (closed contact)
      assert(nbB.getDouble(2) >= b.getDouble(0) && nbB.getDouble(0) <= b.getDouble(2) &&
        nbB.getDouble(3) >= b.getDouble(1) && nbB.getDouble(1) <= b.getDouble(3), g)
    }
  }

  test("kernels: interpreted eval matches codegen; malformed ids fail closed") {
    import graft.functions.GeohashExprs
    import org.apache.spark.unsafe.types.UTF8String
    // interpreted round-trip vs the DataFrame (codegen) path
    val pts = (1 to 100).map { i =>
      (((i * 211) % 3600) / 10.0 - 180.0, ((i * 97) % 1700) / 10.0 - 85.0)
    }
    val viaDf = pts.toDF("lon", "lat")
      .select(SpatialOps.geohash($"lon", $"lat", 7)).collect().map(_.getString(0))
    pts.zip(viaDf).foreach { case ((lon, lat), gh) =>
      val packed = GeohashExprs.quants(UTF8String.fromString(gh), 7)
      val enc = GeohashExprs.encode(packed >> 31, packed & ((1L << 31) - 1), 7)
      assert(enc.toString == gh, s"interpreted round-trip of $gh")
    }
    // fail-closed: bad alphabet char ('a' is excluded) and wrong length
    intercept[IllegalArgumentException] {
      GeohashExprs.quants(UTF8String.fromString("ezs4a"), 5)
    }
    intercept[IllegalArgumentException] {
      GeohashExprs.quants(UTF8String.fromString("ezs42"), 6)
    }
    intercept[IllegalArgumentException] { GeohashExprs.encode(-1L, 0L, 5) }
    intercept[IllegalArgumentException] { GeohashExprs.encode(0L, 4096L, 5) }
    val dfErr = intercept[Exception] {
      Seq(("ezs4A", 0)).toDF("gh", "z")
        .select(SpatialOps.geohashBbox($"gh", 5)).collect()
    }
    assert(dfErr.getMessage != null)
  }

  test("proximity join equals the brute-force theta join (complete recall)") {
    // clustered modular points so pairs straddle cell boundaries
    val lpts = (1 to 300).map { i =>
      (i.toLong, ((i * 53) % 900) / 25.0 - 18.0, ((i * 31) % 400) / 25.0 - 8.0)
    }.toDF("lid", "px", "py")
    val rpts = (1 to 200).map { i =>
      (i.toLong, ((i * 47) % 900) / 25.0 - 18.0 + 0.01, ((i * 29) % 400) / 25.0 - 8.0 + 0.02)
    }.toDF("rid", "qx", "qy")
    // precision 5: cell 0.0439x0.0439 -> dist must be <= that
    val d = 0.04
    val got = SpatialOps.geohashProximityJoin(
        lpts, $"px", $"py", rpts, $"qx", $"qy", precision = 5, dist = d)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = lpts.join(rpts,
        ($"px" - $"qx") * ($"px" - $"qx") + ($"py" - $"qy") * ($"py" - $"qy") <= lit(d * d))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture must produce matches")
    // fail-closed: dist beyond one cell dimension would lose pairs
    intercept[IllegalArgumentException] {
      SpatialOps.geohashProximityJoin(
        lpts, $"px", $"py", rpts, $"qx", $"qy", precision = 5, dist = 0.05)
    }
  }

  test("cover: exact region tiling — hole interiors excluded, refine ⊂ envelope") {
    import graft.functions.GeomPredExprs
    // a 3x3 square with a 1.8x1.8 hole, in cell units at precision 5
    // (cell 0.0439x0.0439): hole fits ~40 whole cells that must drop
    val cw = 360.0 / 8192  // p=5 lon cell
    val ch = 180.0 / 4096  // p=5 lat cell
    val (x0, y0) = (10.0, 20.0)
    val (w, h) = (68.0 * cw, 68.0 * ch)
    val hx0 = x0 + 14.0 * cw; val hy0 = y0 + 14.0 * ch
    val wkt = s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, $x0 ${y0 + h}, $x0 $y0), " +
      s"($hx0 $hy0, $hx0 ${hy0 + 40 * ch}, ${hx0 + 40 * cw} ${hy0 + 40 * ch}, ${hx0 + 40 * cw} $hy0, $hx0 $hy0))"
    val df = Seq((1L, wkt)).toDF("id", "wkt")
      .select($"id", SpatialOps.wktRings($"wkt").as("r"))
    val cover = SpatialOps.geohashCoverCells(df, "r", precision = 5)
    val cells = cover.select("gh").as[String].collect()
    assert(cells.nonEmpty && cells.distinct.length == cells.length)
    // every covering cell's rect truly intersects the region (re-verified
    // independently through the kernel on the decoded bbox)
    val reverify = cover
      .withColumn("b", SpatialOps.geohashBbox($"gh", 5))
      .withColumn("rect", {
        val b = SpatialOps.geohashBbox($"gh", 5)
        array(array(
          struct(b.getField("xmin").as("x"), b.getField("ymin").as("y")),
          struct(b.getField("xmax").as("x"), b.getField("ymin").as("y")),
          struct(b.getField("xmax").as("x"), b.getField("ymax").as("y")),
          struct(b.getField("xmin").as("x"), b.getField("ymax").as("y")),
          struct(b.getField("xmin").as("x"), b.getField("ymin").as("y"))))
      })
      .filter(!GeomPredExprs.ringsIntersect($"rect", $"r"))
    assert(reverify.count() == 0, "every cover cell must intersect the region")
    // the hole's strict interior cells are NOT covered: a cell whose rect
    // lies fully inside the hole must be absent
    val holeCellGh = Seq((hx0 + 20 * cw, hy0 + 20 * ch)).toDF("lon", "lat")
      .select(SpatialOps.geohash($"lon", $"lat", 5)).head.getString(0)
    assert(!cells.contains(holeCellGh), "cell inside the hole must be excluded")
    // and the refine is strictly tighter than the envelope tiling
    val envCells = (68 + 1) * (68 + 1) // upper bound on envelope cells
    assert(cells.length < envCells, s"refine must drop hole cells (${cells.length})")
    // a solid square of the same outline covers strictly more cells
    val solid = Seq((1L, s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, $x0 ${y0 + h}, $x0 $y0))"))
      .toDF("id", "wkt").select($"id", SpatialOps.wktRings($"wkt").as("r"))
    val solidCount = SpatialOps.geohashCoverCells(solid, "r", precision = 5).count()
    assert(solidCount > cells.length, "hole must remove interior cells")
  }

  test("SQL surface: st_geohash / st_geohash_bbox / st_geohash_neighbors") {
    val r = spark.sql(
      "SELECT st_geohash(10.40744, 57.64911, 11) AS gh, " +
        "st_geohash_bbox('ezs42', 5) AS b, " +
        "size(st_geohash_neighbors('ezs42', 5)) AS nnb").head
    assert(r.getString(0) == "u4pruydqqvj")
    val b = r.getStruct(1)
    assert(b.getDouble(0) <= -5.603 && b.getDouble(2) >= -5.603)
    assert(r.getInt(2) == 8)
    // non-literal precision must be rejected at plan time
    val err = intercept[Exception] {
      spark.sql("SELECT st_geohash(1.0, 2.0, CAST(rand() * 5 AS INT))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }
}
