package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Stage-2 segmentation operators (SURVEY.md §2.6 M5-M7, §4 custom items 1-2).
  *
  * The reference runs felzenszwalb graph segmentation per 4096×4096 tile with
  * a 256 px halo, gaussian-smooths the feature stack first (σ=0.5), crops the
  * halo, then polygonizes the label raster (image_segmentation.py:28-34,
  * 92-96, 142-162). Spark-first shape:
  *
  *   pixel table ──Halo.withHalo──► (halo_tile) groups ──flatMapGroups──►
  *   per-tile gaussian + felzenszwalb ──keep core──► labels ──window offset──►
  *   globally-unique seg ids ──flatMapGroups──► boundary-traced WKT polygons
  *
  * Each tile kernel is pure local array math inside one task (the reference's
  * per-tile loop, parallelized free by Spark's task-per-partition); the only
  * shuffles are the halo exchange (~13% inflation) and the tiny per-tile
  * count table for W2 id offsets. Cross-tile seam semantics match the
  * reference exactly: tiles see `pad` pixels of context and crop it — NOT a
  * global merge (image_segmentation.py:149's crop invariant).
  *
  * Determinism (SURVEY.md §7 hard part a): ids are assigned per tile in
  * row-major pixel order, offset by a running sum over (tile_y, tile_x)
  * ordering — stable across retries, never monotonically_increasing_id.
  */
object Segmentation {

  // ---------- local kernels (pure, per-tile) ----------

  /** Separable gaussian blur, reflect-edge, truncated at 3σ (M6 analog of
    * skimage.filters.gaussian σ=0.5, image_segmentation.py:92-96).
    */
  def gaussianSmooth(
      grid: Array[Array[Float]], h: Int, w: Int, channels: Int,
      sigma: Double = 0.5): Array[Array[Float]] = {
    if (sigma <= 0) return grid
    val radius = math.max(1, math.ceil(3 * sigma).toInt)
    val kernel = (-radius to radius).map(i => math.exp(-(i * i) / (2 * sigma * sigma))).toArray
    val ksum = kernel.sum
    val norm = kernel.map(_ / ksum)
    def reflect(i: Int, n: Int): Int =
      if (i < 0) -i - 1 else if (i >= n) 2 * n - i - 1 else i
    val tmp = Array.ofDim[Float](channels, h * w)
    val out = Array.ofDim[Float](channels, h * w)
    var ch = 0
    while (ch < channels) {
      // horizontal pass
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          var acc = 0.0; var k = -radius
          while (k <= radius) {
            acc += norm(k + radius) * grid(ch)(r * w + reflect(c + k, w)); k += 1
          }
          tmp(ch)(r * w + c) = acc.toFloat; c += 1
        }
        r += 1
      }
      // vertical pass
      r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          var acc = 0.0; var k = -radius
          while (k <= radius) {
            acc += norm(k + radius) * tmp(ch)(reflect(r + k, h) * w + c); k += 1
          }
          out(ch)(r * w + c) = acc.toFloat; c += 1
        }
        r += 1
      }
      ch += 1
    }
    out
  }

  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    private val rank = new Array[Int](n)
    val size: Array[Int] = Array.fill(n)(1)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    def union(a: Int, b: Int): Int = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) ra
      else {
        val (hi, lo) = if (rank(ra) >= rank(rb)) (ra, rb) else (rb, ra)
        parent(lo) = hi
        if (rank(ra) == rank(rb)) rank(hi) += 1
        size(hi) += size(lo)
        hi
      }
    }
  }

  /** Felzenszwalb-Huttenlocher graph segmentation (M5,
    * image_segmentation.py:28-30,142-146: scale=35, min_size=15).
    * 8-connected pixel graph, edge weight = Euclidean feature distance,
    * classic merge criterion w ≤ min(int(Ci)+scale/|Ci|), then a small-
    * component absorption pass. Deterministic: edges sorted by (weight,
    * source, target).
    *
    * Returns per-pixel component labels densely renumbered in row-major
    * first-appearance order (stable across runs).
    */
  def felzenszwalb(
      grid: Array[Array[Float]], h: Int, w: Int, channels: Int,
      scale: Double = 35.0, minSize: Int = 15): Array[Int] = {
    val n = h * w
    def dist(a: Int, b: Int): Double = {
      var s = 0.0; var ch = 0
      while (ch < channels) { val d = grid(ch)(a) - grid(ch)(b); s += d * d; ch += 1 }
      math.sqrt(s)
    }
    // 8-connectivity edges (right, down, down-right, down-left) in flat
    // primitive arrays; sort order packed as (float-weight-bits << 32 | idx)
    // — bit order of non-negative floats is value order, ties resolve by
    // construction (row-major) index, so the pass stays deterministic while
    // sorting primitive longs instead of boxed tuples (~6× faster kernels).
    val maxEdges = 4 * n
    val ea = new Array[Int](maxEdges)
    val eb = new Array[Int](maxEdges)
    val ew = new Array[Double](maxEdges)
    var m = 0
    def addEdge(a: Int, b: Int): Unit = {
      ea(m) = a; eb(m) = b; ew(m) = dist(a, b); m += 1
    }
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val i = r * w + c
        if (c + 1 < w) addEdge(i, i + 1)
        if (r + 1 < h) {
          addEdge(i, i + w)
          if (c + 1 < w) addEdge(i, i + w + 1)
          if (c > 0) addEdge(i, i + w - 1)
        }
        c += 1
      }
      r += 1
    }
    val packed = new Array[Long](m)
    var e = 0
    while (e < m) {
      packed(e) = (java.lang.Float.floatToRawIntBits(ew(e).toFloat).toLong << 32) | e.toLong
      e += 1
    }
    java.util.Arrays.sort(packed)
    val uf = new UnionFind(n)
    val intDiff = new Array[Double](n) // internal difference per component root
    e = 0
    while (e < m) {
      val i = (packed(e) & 0xffffffffL).toInt
      val ra = uf.find(ea(i)); val rb = uf.find(eb(i))
      val wgt = ew(i)
      if (ra != rb &&
          wgt <= math.min(intDiff(ra) + scale / uf.size(ra), intDiff(rb) + scale / uf.size(rb))) {
        val root = uf.union(ra, rb)
        intDiff(root) = wgt
      }
      e += 1
    }
    // absorb small components
    e = 0
    while (e < m) {
      val i = (packed(e) & 0xffffffffL).toInt
      val ra = uf.find(ea(i)); val rb = uf.find(eb(i))
      if (ra != rb && (uf.size(ra) < minSize || uf.size(rb) < minSize)) uf.union(ra, rb)
      e += 1
    }
    // dense row-major renumber
    val labelOf = mutable.HashMap.empty[Int, Int]
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = labelOf.getOrElseUpdate(uf.find(i), labelOf.size)
      i += 1
    }
    out
  }

  // ---------- distributed operators ----------

  /** One buffered tile through the local kernel chain (bbox → gaussian →
    * felzenszwalb → core crop, labels renumbered in row-major core order).
    * All inputs are primitive arrays; output InternalRows exist only for
    * the surviving core pixels.
    */
  private def runTileKernel(
      tx: Int, ty: Int,
      rs: Array[Int], cs: Array[Int], cores: Array[Boolean],
      feats: Array[Array[Float]],
      nCh: Int, scale: Double, minSize: Int, sigma: Double): Iterator[InternalRow] = {
    val n = rs.length
    if (n == 0) return Iterator.empty
    var rMin = Int.MaxValue; var rMax = Int.MinValue
    var cMin = Int.MaxValue; var cMax = Int.MinValue
    var anyCore = false
    var p = 0
    while (p < n) {
      if (rs(p) < rMin) rMin = rs(p); if (rs(p) > rMax) rMax = rs(p)
      if (cs(p) < cMin) cMin = cs(p); if (cs(p) > cMax) cMax = cs(p)
      anyCore ||= cores(p)
      p += 1
    }
    // halo-only group (grid edge without bounds info): nothing to emit,
    // skip the kernel entirely
    if (!anyCore) return Iterator.empty
    val h = rMax - rMin + 1; val w = cMax - cMin + 1
    val grid = Array.ofDim[Float](nCh, h * w)
    val present = new Array[Boolean](h * w)
    val core = new Array[Boolean](h * w)
    p = 0
    while (p < n) {
      val i = (rs(p) - rMin) * w + (cs(p) - cMin)
      present(i) = true; core(i) = cores(p)
      var ch = 0
      while (ch < nCh) { grid(ch)(i) = feats(ch)(p); ch += 1 }
      p += 1
    }
    val smoothed = gaussianSmooth(grid, h, w, nCh, sigma)
    val labels = felzenszwalb(smoothed, h, w, nCh, scale, minSize)
    val remap = mutable.HashMap.empty[Int, Int]
    val out = mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < h * w) {
      if (present(i) && core(i)) {
        val lbl = remap.getOrElseUpdate(labels(i), remap.size)
        out += new GenericInternalRow(
          Array[Any](tx, ty, rMin + i / w, cMin + i % w, lbl))
      }
      i += 1
    }
    out.iterator
  }

  /** Segment a pixel table. Input columns: global `rowCol`/`colCol` ints +
    * `featureCols` floats. Output: (px_row, px_col, tile_x, tile_y, seg_id)
    * with globally-unique, deterministic seg ids.
    *
    * The kernel runs once per tile: its output is persisted
    * (MEMORY_AND_DISK, filled by the first offset pass), and the id
    * offsets and the returned frame both read it. The persisted blocks
    * outlive the call — the returned frame reads them — and are released
    * when that frame is garbage-collected (ContextCleaner); a lost block
    * is recomputed from lineage.
    */
  def segmentTiles(
      df: DataFrame,
      featureCols: Seq[String],
      rowCol: String = "px_row",
      colCol: String = "px_col",
      tileH: Int = 4096,
      tileW: Int = 4096,
      pad: Int = 256,
      scale: Double = 35.0,
      minSize: Int = 15,
      sigma: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    val nCh = featureCols.length

    // Columnar hand-off: the kernel consumes InternalRows straight from
    // the shuffled scan (queryExecution.toRdd) — per-channel float columns
    // read with getFloat into primitive builders, so a 16M-pixel tile
    // costs zero per-pixel object allocation (the former
    // Dataset[(Int,...,Array[Float])] encoder built a Tuple6 + a boxed
    // array per pixel). Rows of one tile arrive consecutively thanks to
    // repartition(tile) + sortWithinPartitions(tile).
    val prepared = Halo.withHalo(df, rowCol, colCol, tileH, tileW, pad)
      .select(Seq(
        col("halo_tile_x").cast("int").as("tx"),
        col("halo_tile_y").cast("int").as("ty"),
        col("is_core"),
        col(rowCol).cast("int").as("r"),
        col(colCol).cast("int").as("c")) ++
        featureCols.zipWithIndex.map { case (f, i) => col(f).cast("float").as(s"_f$i") }: _*)
      .repartition(col("tx"), col("ty"))
      .sortWithinPartitions("tx", "ty")

    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tile_x", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("tile_y", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("px_row", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("px_col", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("local_id", org.apache.spark.sql.types.IntegerType, nullable = false)))

    val (nChL, scaleL, minSizeL, sigmaL) = (nCh, scale, minSize, sigma)
    val outRdd = prepared.queryExecution.toRdd.mapPartitions { iter =>
      val rows = iter.buffered // NB: `buffered` unqualified would resolve to Iterator's own method inside the subclass below
      // one buffered tile: primitive builders filled field-by-field from
      // the (reused) InternalRow before advancing
      new Iterator[(Int, Int, Array[Int], Array[Int], Array[Boolean], Array[Array[Float]])] {
        override def hasNext: Boolean = rows.hasNext
        override def next() = {
          val tx = rows.head.getInt(0)
          val ty = rows.head.getInt(1)
          val rs = new mutable.ArrayBuilder.ofInt
          val cs = new mutable.ArrayBuilder.ofInt
          val cores = new mutable.ArrayBuilder.ofBoolean
          val feats = Array.fill(nChL)(new mutable.ArrayBuilder.ofFloat)
          while (rows.hasNext &&
              rows.head.getInt(0) == tx && rows.head.getInt(1) == ty) {
            val row = rows.next()
            cores += row.getBoolean(2)
            rs += row.getInt(3)
            cs += row.getInt(4)
            var ch = 0
            while (ch < nChL) {
              feats(ch) += (if (row.isNullAt(5 + ch)) 0.0f else row.getFloat(5 + ch))
              ch += 1
            }
          }
          (tx, ty, rs.result(), cs.result(), cores.result(), feats.map(_.result()))
        }
      }.flatMap { case (tx, ty, rs, cs, cores, feats) =>
        runTileKernel(tx, ty, rs, cs, cores, feats, nChL, scaleL, minSizeL, sigmaL)
      }
    }

    // Computed once: the offsets need every tile's segment count before
    // any id can be emitted, so without the persist the prefix sum's eager
    // passes and both sides of the join below each re-ran the kernel. The
    // RDD (not the Dataset) is persisted so no cache-manager entry pins it.
    val labeled = org.apache.spark.sql.GraftBridge.internalCreateDataFrame(
      spark, outRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), outSchema)

    // W2 — running id offset over deterministic tile order (one row per
    // tile). Routed through the two-pass partition-offset prefix sum so no
    // single-partition window exists anywhere in the surface — at 100 TB a
    // raster has millions of tiles, and the two-pass plan never funnels
    // them through one task. The join back broadcasts.
    val counts = labeled.groupBy("tile_x", "tile_y")
      .agg((max("local_id") + 1).cast("long").as("n_segs"))
    val offsets = GlobalOrder
      .prefixSum(counts, Seq(col("tile_y"), col("tile_x")), col("n_segs"), "__run")
      .withColumn("offset", col("__run") - col("n_segs"))
      .select("tile_x", "tile_y", "offset")

    labeled
      .join(broadcast(offsets), Seq("tile_x", "tile_y"))
      .withColumn("seg_id", (col("local_id") + col("offset")).cast("long"))
      .select("px_row", "px_col", "tile_x", "tile_y", "seg_id")
  }

  /** Optional cross-tile global merge (beyond the reference, which accepts
    * halo-cropped seams — image_segmentation.py:149). Segments from
    * different tiles merge when they touch across a tile boundary AND
    * their mean feature vectors are within `featureTol` (Euclidean).
    *
    * Scale shape: the pixel-level work is two shift-joins to find
    * boundary-adjacent pixel pairs; everything after operates on
    * SEGMENT-level edges (thousands, not billions), resolved through
    * [[Graph.connectedComponents]] — driver union-find while the edge list
    * is provably small, distributed min-label propagation beyond that, so
    * no unconditional driver collect. Deterministic: global id = min
    * seg_id per component.
    *
    * Input: `segments` from segmentTiles joined back to the feature pixels
    * (must contain px_row, px_col, seg_id, tile_x, tile_y + featureCols).
    */
  def mergeGlobal(
      labeled: DataFrame,
      featureCols: Seq[String],
      featureTol: Double): DataFrame = {
    val px = labeled.select(
      col("px_row"), col("px_col"), col("seg_id"), col("tile_x"), col("tile_y"))

    // boundary-adjacent pixel pairs in different tiles (right + down shifts)
    def shifted(dr: Int, dc: Int) = px.select(
      (col("px_row") - dr).as("px_row"), (col("px_col") - dc).as("px_col"),
      col("seg_id").as("seg_b"), col("tile_x").as("tx_b"), col("tile_y").as("ty_b"))
    val adj = Seq(shifted(0, 1), shifted(1, 0))
      .map(s =>
        px.join(s, Seq("px_row", "px_col"))
          .filter(col("tile_x") =!= col("tx_b") || col("tile_y") =!= col("ty_b"))
          .select(col("seg_id").as("seg_a"), col("seg_b")))
      .reduce(_ union _)
      .distinct()

    // segment mean features (tiny table: one row per segment)
    val means = labeled.groupBy("seg_id")
      .agg(featureCols.map(c => avg(col(c)).as(s"m_$c")).head,
        featureCols.map(c => avg(col(c)).as(s"m_$c")).tail: _*)

    val withDist = adj
      .join(means.select(col("seg_id").as("seg_a"),
        struct(featureCols.map(c => col(s"m_$c")): _*).as("fa")), Seq("seg_a"))
      .join(means.select(col("seg_id").as("seg_b"),
        struct(featureCols.map(c => col(s"m_$c")): _*).as("fb")), Seq("seg_b"))
      .withColumn("dist",
        sqrt(featureCols.map(c =>
          pow(col("fa").getField(s"m_$c") - col("fb").getField(s"m_$c"), 2.0))
          .reduce(_ + _)))
      .filter(col("dist") <= featureTol)
      .select("seg_a", "seg_b")

    // Segment-level connected components through the size-gated hybrid:
    // union-find on the driver only while the edge list is provably small
    // (Graph.localThreshold), distributed min-label + pointer jumping
    // beyond that — a continental mosaic's adjacency graph never has to
    // fit in driver memory. Component id = min seg_id, so relabeling is
    // deterministic. The remap table (one row per MERGED segment) is tiny
    // relative to the pixel table; AQE broadcasts it when it fits rather
    // than being forced to.
    val remapDf = Graph.connectedComponents(withDist, "seg_a", "seg_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("seg_id"), col("component").as("global_root"))
    labeled
      .join(remapDf, Seq("seg_id"), "left")
      .withColumn("global_seg_id", coalesce(col("global_root"), col("seg_id")))
      .drop("global_root")
  }

  // ---------- polygonize (M7) ----------

  /** Trace one 4-connected component's boundary into WKT rings.
    * Cells are unit squares: cell (r,c) spans corners (c,r)-(c+1,r+1)
    * (x=col, y=row). Directed edges keep the region on the left, so outer
    * rings and holes get opposite orientations (rasterio.features.shapes
    * semantics, image_segmentation.py:160-162).
    */
  private def traceRings(cells: Set[(Int, Int)]): Seq[Seq[(Int, Int)]] = {
    // directed boundary edges start -> end
    val edgesFrom = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[(Int, Int)]]
    def addEdge(a: (Int, Int), b: (Int, Int)): Unit =
      edgesFrom.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
    for ((r, c) <- cells) {
      if (!cells((r - 1, c))) addEdge((c, r), (c + 1, r))         // top, →
      if (!cells((r, c + 1))) addEdge((c + 1, r), (c + 1, r + 1)) // right, ↓
      if (!cells((r + 1, c))) addEdge((c + 1, r + 1), (c, r + 1)) // bottom, ←
      if (!cells((r, c - 1))) addEdge((c, r + 1), (c, r))         // left, ↑
    }
    val rings = mutable.ArrayBuffer.empty[Seq[(Int, Int)]]
    // deterministic start: smallest corner first
    while (edgesFrom.nonEmpty) {
      val start = edgesFrom.keys.minBy(identity)
      val ring = mutable.ArrayBuffer[(Int, Int)](start)
      var prev = start
      var cur = edgesFrom(start).remove(0)
      if (edgesFrom(start).isEmpty) edgesFrom.remove(start)
      while (cur != start) {
        ring += cur
        val outs = edgesFrom(cur)
        // rightmost-turn rule for corners where two boundary strands touch:
        // continue with the edge turning most clockwise from the incoming
        // direction, which keeps rings simple and deterministic.
        val dirIn = (cur._1 - prev._1, cur._2 - prev._2)
        val next =
          if (outs.length == 1) outs.remove(0)
          else {
            val pick = outs.minBy { nxt =>
              val dirOut = (nxt._1 - cur._1, nxt._2 - cur._2)
              // Two boundary strands touch at this corner (e.g. holes
              // meeting diagonally). With region-on-left edges, the
              // continuation belonging to the SAME strand is the most
              // clockwise turn in standard axes = minimal cross product
              // (e.g. in (1,0)->(0,-1) has cross -1, the correct hole-ring
              // continuation; picking max cross would stitch both holes
              // into one self-touching ring).
              dirIn._1 * dirOut._2 - dirIn._2 * dirOut._1
            }
            outs -= pick
            pick
          }
        if (outs.isEmpty) edgesFrom.remove(cur)
        prev = cur
        cur = next
      }
      ring += start
      rings += ring.toSeq
    }
    rings.toSeq
  }

  private def shoelace(ring: Seq[(Int, Int)]): Long =
    ring.sliding(2).map { case Seq(a, b) => a._1.toLong * b._2 - b._1.toLong * a._2 }.sum

  private def ringWkt(ring: Seq[(Int, Int)]): String =
    ring.map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")

  /** M7 — polygonize a label table (px_row, px_col, seg_id) into one WKT
    * polygon row per 4-connected region: (seg_id, part, wkt, n_cells).
    * Generator-shaped: one tile of labels in, many polygon rows out.
    */
  def polygonize(labels: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    labels.select(col("seg_id").cast("long"), col("px_row").cast("int"), col("px_col").cast("int"))
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (segId, rows) =>
        val cells = rows.map(t => (t._2, t._3)).toSet
        // split into 4-connected parts (felz 8-connectivity can leave
        // diagonal-only links; rasterio polygonizes 4-connected regions)
        val seen = mutable.HashSet.empty[(Int, Int)]
        val parts = mutable.ArrayBuffer.empty[Set[(Int, Int)]]
        for (cell <- cells.toSeq.sorted if !seen(cell)) {
          val comp = mutable.HashSet.empty[(Int, Int)]
          val stack = mutable.ArrayDeque(cell)
          while (stack.nonEmpty) {
            val (r, c) = stack.removeLast()
            if (!comp((r, c)) && cells((r, c))) {
              comp += ((r, c))
              stack += ((r + 1, c)) += ((r - 1, c)) += ((r, c + 1)) += ((r, c - 1))
            }
          }
          seen ++= comp
          parts += comp.toSet
        }
        parts.iterator.zipWithIndex.map { case (comp, idx) =>
          val rings = traceRings(comp)
          // outer ring = positive shoelace in y-down orientation; holes negative
          val (outers, holes) = rings.partition(shoelace(_) > 0)
          val outer = outers.head
          val wkt = "POLYGON " +
            (outer +: holes).map(ringWkt).mkString("(", ", ", ")")
          (segId, idx, wkt, comp.size.toLong)
        }
      }
      .toDF("seg_id", "part", "wkt", "n_cells")
  }
}
