package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Raster-block ingestion bridge — the missing half of the S1/S5 story.
  *
  * The reference reads and writes GeoTIFF in fixed-size blocks
  * (feature_stacking.py:226-249: tiled=True, blockxsize/blockysize=1024,
  * per-window `src.read(window)` / `dst.write(window)`). The engine's
  * pixel-table model assumes parquet already exists; this bridge converts
  * between the two representations so block-shaped binary payloads (one
  * row per tile, float32 row-major, nodata-padded — the GeoTIFF block
  * layout) become pixel rows and back:
  *
  *   - `explodeBlocks`: (tile_y, tile_x, block_h, block_w, blob) →
  *     one row per non-nodata pixel with GLOBAL integer coordinates.
  *     Generator shape (flatMap): rows out ≥ rows in, zero shuffle; the
  *     decode is pure per-row work that scales with executor count.
  *   - `packBlocks`: pixel rows → nodata-padded full blocks. One shuffle
  *     keyed by (tile_y, tile_x [+ extra keys]); each group is bounded by
  *     blockH·blockW cells, so executor memory is fixed regardless of
  *     raster extent. Feed the result to a partitioned sink (S5) for a
  *     tiled store, or to `GeoSink`-style sidecars.
  *
  * Round-trip contract: explode(pack(px)) == px for any pixel table whose
  * values never equal `nodata` (pack pads missing cells with nodata,
  * explode drops them). The sandbox has no raster testdata, so the driver
  * check stages synthetic blobs (mm3 pattern) and hash-checks the decoded
  * pixels against a closed-form oracle.
  */
object RasterBridge {

  /** Explode float32 row-major block blobs into pixel rows. Input must
    * carry (tileYCol, tileXCol, block_h, block_w, bytesCol); every OTHER
    * column passes through unchanged (band, scene_id, …). Emits global
    * px_row/px_col derived from the tile indices and the FULL block
    * geometry (blockH/blockW — edge blocks may be partial, their `block_h`/
    * `block_w` bound the local loop). Cells equal to `nodata` are dropped
    * when `dropNodata` (the sparse ingestion default), else emitted NULL.
    */
  /** Nodata equality must be bitwise-ish, not IEEE `==`: float GeoTIFFs
    * commonly use NaN as nodata, and `NaN != NaN` would silently keep
    * every nodata cell. `Float.compare` treats NaN == NaN (and orders
    * -0.0 < 0.0, which is fine for a sentinel test — a -0.0 nodata
    * matching only -0.0 is the safer reading).
    */
  private def isNodata(v: Float, nodata: Float): Boolean =
    java.lang.Float.compare(v, nodata) == 0

  def explodeBlocks(
      blocks: DataFrame,
      blockH: Int,
      blockW: Int,
      nodata: Float,
      bytesCol: String = "blob",
      dropNodata: Boolean = true): DataFrame = {
    val spark = blocks.sparkSession
    val passFields = blocks.schema.fields.filterNot(f =>
      Set(bytesCol, "tile_y", "tile_x", "block_h", "block_w")(f.name))
    val passIdx = passFields.map(f => blocks.schema.fieldIndex(f.name))
    val tyIdx = blocks.schema.fieldIndex("tile_y")
    val txIdx = blocks.schema.fieldIndex("tile_x")
    val bhIdx = blocks.schema.fieldIndex("block_h")
    val bwIdx = blocks.schema.fieldIndex("block_w")
    val blobIdx = blocks.schema.fieldIndex(bytesCol)
    val outSchema = StructType(passFields.toSeq ++ Seq(
      StructField("px_row", IntegerType, nullable = false),
      StructField("px_col", IntegerType, nullable = false),
      StructField("value", FloatType)))
    val rdd = blocks.rdd.flatMap { r =>
      val ty = r.getInt(tyIdx); val tx = r.getInt(txIdx)
      val bh = r.getInt(bhIdx); val bw = r.getInt(bwIdx)
      val bytes = r.getAs[Array[Byte]](blobIdx)
      require(bytes.length == 4 * bh * bw,
        s"blob length ${bytes.length} != 4*$bh*$bw for tile ($ty,$tx)")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val pass = passIdx.map(r.get)
      for {
        lr <- 0 until bh
        lc <- 0 until bw
        v = bb.getFloat(4 * (lr * bw + lc))
        if !dropNodata || !isNodata(v, nodata)
      } yield Row.fromSeq(pass.toSeq ++ Seq(
        ty * blockH + lr, tx * blockW + lc,
        if (isNodata(v, nodata)) null else java.lang.Float.valueOf(v)))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Pack pixel rows (px_row, px_col, valueCol [+ keyCols]) into full
    * nodata-padded float32 blocks. One shuffle on (keyCols, tile_y,
    * tile_x); group state is a fixed blockH·blockW float array.
    */
  def packBlocks(
      pixels: DataFrame,
      blockH: Int,
      blockW: Int,
      nodata: Float,
      valueCol: String = "value",
      keyCols: Seq[String] = Nil): DataFrame = {
    val spark = pixels.sparkSession
    val schema = pixels.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val rIdx = schema.fieldIndex("px_row")
    val cIdx = schema.fieldIndex("px_col")
    val vIdx = schema.fieldIndex(valueCol)
    val keyFields = keyCols.map(schema(_))
    val outSchema = StructType(keyFields ++ Seq(
      StructField("tile_y", IntegerType, nullable = false),
      StructField("tile_x", IntegerType, nullable = false),
      StructField("block_h", IntegerType, nullable = false),
      StructField("block_w", IntegerType, nullable = false),
      StructField("blob", BinaryType, nullable = false)))
    val rdd = pixels.rdd
      .map { r =>
        val pr = r.getInt(rIdx); val pc = r.getInt(cIdx)
        // floorDiv/floorMod: pixels left/above the origin (negative
        // coords, producible by the affine mapping) must land in tile -1
        // with a non-negative local offset — truncating / and % would
        // compute a negative buffer index and throw
        val key = (keyIdx.map(r.get).toSeq,
          Math.floorDiv(pr, blockH), Math.floorDiv(pc, blockW))
        val v = if (r.isNullAt(vIdx)) nodata
          else r.get(vIdx) match {
            case f: java.lang.Float => f.floatValue()
            case d: java.lang.Double => d.floatValue()
            case n: java.lang.Number => n.floatValue()
          }
        key -> (Math.floorMod(pr, blockH), Math.floorMod(pc, blockW), v)
      }
      .groupByKey() // bounded: ≤ blockH·blockW cells per group
      .map { case ((key, ty, tx), cells) =>
        val buf = java.nio.ByteBuffer.allocate(4 * blockH * blockW)
        var i = 0
        while (i < blockH * blockW) { buf.putFloat(4 * i, nodata); i += 1 }
        // Duplicate (px_row, px_col) within a tile would otherwise resolve
        // by partition iteration order — nondeterministic blobs. Detect and
        // fail instead; the unique-pixel precondition is the contract.
        val written = new java.util.BitSet(blockH * blockW)
        cells.foreach { case (lr, lc, v) =>
          val off = lr * blockW + lc
          require(!written.get(off),
            s"duplicate pixel at tile ($ty,$tx) local ($lr,$lc): " +
              "packBlocks requires unique (px_row, px_col) per tile+keys")
          written.set(off)
          buf.putFloat(4 * off, v)
        }
        Row.fromSeq(key ++ Seq(ty, tx, blockH, blockW, buf.array()))
      }
    spark.createDataFrame(rdd, outSchema)
  }
}
