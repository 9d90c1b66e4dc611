package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table-maintenance utilities for the parquet sinks (S5/GeoSink/IVF
  * cells). Streaming upserts, per-trigger micro-batches, and
  * over-parallel writes all accrete small files; at 100 TB the file COUNT
  * (driver listing, task scheduling, open/seek overhead) becomes the
  * bottleneck long before the bytes do.
  */
object Maintenance {

  /** Rewrite a parquet directory into ~`targetFileBytes` files.
    *
    * Sizing reads ONLY file metadata (one driver listing); the rewrite is
    * a single repartition-shuffle sized from real bytes, not a guess. The
    * swap is write-to-`.next`, rename live → `.old`, rename `.next` →
    * live, delete `.old` — never a delete-before-replace, so a crash at
    * any step leaves a complete copy on disk (at `.old` or `.next`) and
    * both renames are checked. A `<path>.compacting` marker (containing
    * the recovery location) is written before the first rename and
    * removed after the swap completes, so a crashed run is detectable
    * and scriptable: if the marker exists, the complete copy is at the
    * path named inside it. Readers CAN race the two renames and
    * momentarily miss the path — directory renames are not a transaction;
    * true isolation needs a table format's metadata swap. For a
    * `partitionBy` layout, compact each partition directory independently
    * (they are self-contained parquet dirs), keeping the rewrite
    * incremental and parallelizable across partitions.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20,
      retain: Boolean = false): (Int, Int) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p)
    // a partitioned root (col=val subdirs) must be compacted per
    // partition directory — rewriting the root would silently flatten
    // the layout (partition values survive as columns, pruning doesn't)
    require(!entries.exists(_.isDirectory),
      s"compact expects a flat parquet directory; $path has subdirectories — " +
        "compact each partition directory independently")
    val parts = entries.filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }
    val before = parts.length
    val totalBytes = parts.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val next = new Path(path + ".next")
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(next.toString)
    checkedSwap(fs, p, next, retain)
    val after = fs.listStatus(p).count { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }
    (before, after)
  }

  /** Swap `next` into `p`'s place: rename live → `.old`, `.next` → live,
    * delete `.old`. A `.compacting` marker naming the pre-swap copy is
    * written before the first rename and removed after success, so a
    * crash between the renames is detectable and recovery scriptable. A
    * crash at any step leaves a complete copy on disk.
    *
    * With `retain = true` the pre-swap copy is ARCHIVED as
    * `<path>.g<NNNNNN>` (the next generation number) instead of deleted —
    * the snapshot/time-travel ledger [[readAsOf]] reads. The archive
    * rename happens AFTER the live swap completes, so a crash in the
    * window can lose the would-be archive (recoverSwap's cleanup deletes
    * a stranded `.old`) but never the live store — history is
    * best-effort under crashes, the live data never at risk.
    */
  private def checkedSwap(
      fs: org.apache.hadoop.fs.FileSystem, p: Path, next: Path,
      retain: Boolean): Unit = {
    val old = new Path(p.toString + ".old")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a crashed run
    val marker = new Path(p.toString + ".compacting")
    val out = fs.create(marker, true)
    try out.write(old.toString.getBytes("UTF-8")) finally out.close()
    val preGen = liveGeneration(fs, p)
    require(fs.rename(p, old), s"rename $p -> $old failed")
    require(fs.rename(next, p), s"rename $next -> $p failed; data is at $old")
    if (retain) {
      val arch = new Path(f"${p.toString}.g$preGen%06d")
      require(fs.rename(old, arch), s"archive rename $old -> $arch failed")
    } else fs.delete(old, true)
    // EVERY swap advances the generation counter — retained or not — so
    // a pinned generation can never silently read post-swap data: after
    // a retain=false swap the old pin is "existed but was not retained",
    // a loud readAsOf error instead of the wrong corpus
    writeLiveGeneration(fs, p, preGen + 1)
    fs.delete(marker, false)
  }

  /** The live store's generation: the `<path>.generation` sidecar when
    * present, else max(archived)+1 (a store whose swaps predate the
    * counter), else 1. */
  private def liveGeneration(fs: org.apache.hadoop.fs.FileSystem, p: Path): Int = {
    val sidecar = new Path(p.toString + ".generation")
    if (fs.exists(sidecar)) {
      val in = fs.open(sidecar)
      try {
        val bytes = new Array[Byte](32)
        val n = in.read(bytes)
        new String(bytes, 0, math.max(n, 0), "UTF-8").trim.toInt
      } finally in.close()
    } else archivedGenerations(fs, p).lastOption.getOrElse(0) + 1
  }

  private def writeLiveGeneration(
      fs: org.apache.hadoop.fs.FileSystem, p: Path, gen: Int): Unit = {
    val sidecar = new Path(p.toString + ".generation")
    if (fs.exists(sidecar)) fs.delete(sidecar, false) // avoid .crc checksum mismatch
    val out = fs.create(sidecar, true)
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Archived generation numbers of a store (ascending) — directories
    * named `<path>.g<NNNNNN>` beside the live path. */
  private def archivedGenerations(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[Int] = {
    val prefix = p.getName + ".g"
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) return Seq.empty
    fs.listStatus(parent).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit)
        && n.length > prefix.length)
      .map(n => n.drop(prefix.length).toInt)
      .toSeq.sorted
  }

  /** The store's generation ledger: archived snapshot numbers (ascending).
    * The LIVE store is generation `max(archived) + 1` (1 for a store that
    * has never swapped with retention). */
  def generations(spark: SparkSession, path: String): Seq[Int] = {
    val p = new Path(path)
    archivedGenerations(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The live store's generation number: advanced by EVERY swap
    * (retained or not — the `<path>.generation` sidecar), so a pin taken
    * here is either servable or a loud error, never silently stale. */
  def currentGeneration(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    liveGeneration(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** SNAPSHOT / TIME-TRAVEL READ (the r15 verdict's stretch 9): the store
    * as of `generation` — an archived pre-swap snapshot for g ≤ the last
    * archive, the live store for g = current. Training runs pin a corpus
    * version by recording `currentGeneration` at launch and reading
    * `readAsOf(path, pinned)` thereafter: retained swaps (compact /
    * deleteByKeys / upsertByKeys with `retain = true`) never disturb an
    * archived generation. Fails loudly on a generation that never existed
    * or was never retained.
    */
  def readAsOf(spark: SparkSession, path: String, generation: Int)
      : org.apache.spark.sql.DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archived = archivedGenerations(fs, p)
    val live = liveGeneration(fs, p)
    if (generation == live) spark.read.parquet(path)
    else if (archived.contains(generation))
      spark.read.parquet(f"$path.g$generation%06d")
    else if (generation > 0 && generation < live)
      throw new IllegalArgumentException(
        s"generation $generation of $path EXISTED but was not retained " +
          s"(archived: ${archived.mkString(",")}; live: $live) — a swap ran " +
          "with retain = false after the pin; re-pin or retain every swap")
    else throw new IllegalArgumentException(
      s"generation $generation of $path does not exist (archived: " +
        s"${archived.mkString(",")}; live: $live)")
  }

  /** Retention over the snapshot archive: delete every archived
    * generation except the newest `keepLast`, returning the deleted
    * generation numbers (ascending). The live store and its generation
    * counter are untouched, so a pin to a vacuumed generation keeps the
    * fail-loud contract — [[readAsOf]] reports "EXISTED but was not
    * retained" instead of silently reading newer data. Idempotent: a
    * second vacuum with the same budget deletes nothing.
    */
  def vacuumGenerations(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // PIN the live counter before deleting: a pre-counter store (no
    // .generation sidecar) derives its generation as max(archived)+1,
    // which vacuuming would silently REWIND — reusing generation
    // numbers on the next retained swap and breaking old pins (r16b
    // review). Persisting the current value first makes the counter
    // monotone regardless of archive deletions.
    if (fs.exists(p)) writeLiveGeneration(fs, p, liveGeneration(fs, p))
    val archived = archivedGenerations(fs, p)
    val doomed = archived.dropRight(keepLast)
    doomed.foreach { g =>
      val arch = new Path(f"${p.toString}.g$g%06d")
      require(fs.delete(arch, true), s"vacuum delete of $arch failed")
    }
    doomed
  }

  /** CDC between a pinned generation and the live store: [[snapshotDiff]]
    * of `readAsOf(generation)` against the current data — "what changed
    * since the training run pinned its corpus". */
  def changesSince(
      spark: SparkSession,
      path: String,
      generation: Int,
      keyCols: Seq[String],
      compareCols: Seq[String]): org.apache.spark.sql.DataFrame =
    snapshotDiff(readAsOf(spark, path, generation), spark.read.parquet(path),
      keyCols, compareCols)

  /** Scripted recovery from a crashed swap (compact / deleteByKeys /
    * upsertByKeys all share the marker protocol). States:
    *   - no `.compacting` marker → healthy, nothing to do;
    *   - marker + live + `.next` present, `.old` absent → crashed BETWEEN
    *     creating the marker and the first rename: the rewrite at `.next`
    *     is complete (the marker is only written after the rewrite lands),
    *     so recovery FINISHES the intended swap — discarding `.next` here
    *     would silently un-apply a completed deleteByKeys/upsert rewrite
    *     while reporting the store healthy;
    *   - marker + live present, `.next` absent → crashed after the second
    *     rename: finish the cleanup (drop `.old`, the marker);
    *   - marker + live path MISSING → crashed between the renames: the
    *     complete pre-swap copy is restored to the live path, the `.next`
    *     rewrite is discarded, the operation should be re-run.
    * Returns true when any repair action was taken. Idempotent.
    */
  def recoverSwap(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(path + ".compacting")
    if (!fs.exists(marker)) return false
    // The pre-swap copy is ALWAYS at <path>.old (checkedSwap's contract);
    // the marker content is informational. Deriving the location instead
    // of parsing it keeps recovery working even when the crash happened
    // between creating the marker and writing its content (a zero-byte
    // or short-read marker must not crash the repair tool).
    val copyPath = new Path(path + ".old")
    val next = new Path(path + ".next")
    if (fs.exists(p) && fs.exists(next) && !fs.exists(copyPath)) {
      // crashed before the first rename: .next holds the COMPLETE rewrite
      // (marker creation postdates it) — finish the swap it announced
      require(fs.rename(p, copyPath), s"recovery rename $p -> $copyPath failed")
      require(fs.rename(next, p), s"recovery rename $next -> $p failed; data is at $copyPath")
      fs.delete(copyPath, true)
    } else if (fs.exists(p)) {
      // crashed after the swap completed: just finish cleanup
      if (fs.exists(copyPath)) fs.delete(copyPath, true)
      if (fs.exists(next)) fs.delete(next, true)
    } else {
      require(fs.exists(copyPath),
        s"swap crash with no live path and no pre-swap copy at $copyPath — manual recovery needed")
      require(fs.rename(copyPath, p), s"restore $copyPath -> $p failed")
      if (fs.exists(next)) fs.delete(next, true)
    }
    fs.delete(marker, false)
    true
  }

  /** Keyed deletion over a stored parquet directory — the
    * right-to-be-forgotten / tombstone-propagation pass a training-data
    * store needs: rewrite `path` WITHOUT the rows whose `keyCols` match a
    * row of `tombstones`. The tombstone set broadcasts (it is tiny
    * relative to the store — an anti-join, never a shuffle of the data),
    * the rewrite preserves the file sizing via `targetFileBytes`, and the
    * swap is the same marker-protected rename protocol as `compact`.
    * Same flat-directory contract as `compact`: for a partitioned store,
    * run per partition directory (and skip directories the partition
    * pruning proves untouched).
    *
    * Returns (rowsBefore, rowsAfter).
    */
  def deleteByKeys(
      spark: SparkSession,
      path: String,
      tombstones: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      retain: Boolean = false): (Long, Long) = {
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.listStatus(p).exists(_.isDirectory),
      s"deleteByKeys expects a flat parquet directory; $path has subdirectories — " +
        "run per partition directory")
    val totalBytes = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val cur = spark.read.parquet(path)
    val before = cur.count()
    // pin ONE evaluation of the tombstone keys: the anti-join runs in two
    // actions (the sizing count and the write), and a nondeterministic
    // tombstone frame (a sample, a shuffle-dependent dedup) would
    // otherwise delete a DIFFERENT row set than the returned counts claim
    val keys = tombstones.select(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keys.count()
    try {
      val kept = cur.join(org.apache.spark.sql.functions.broadcast(keys), keyCols, "left_anti")
      // size from the SURVIVING fraction so deletion doesn't shrink files
      val after = kept.count()
      val keepBytes = if (before == 0) totalBytes
        else (totalBytes * (after.toDouble / before)).toLong
      val n = math.max(1, math.ceil(keepBytes.toDouble / targetFileBytes).toInt)
      val next = new Path(path + ".next")
      kept.repartition(n).write.mode("overwrite").parquet(next.toString)
      checkedSwap(fs, p, next, retain)
      (before, after)
    } finally keys.unpersist()
  }

  /** Keyed upsert over a stored parquet directory — the third leg of the
    * maintenance CRUD (compact = reorganize, deleteByKeys = forget,
    * upsertByKeys = correct/refresh): rewrite `path` with `updates` rows
    * REPLACING stored rows that share their `keyCols` and novel keys
    * appended. The update set broadcasts into an anti-join (the store is
    * never shuffled, exactly like deleteByKeys); schemas must match by
    * name. Same flat-directory contract and marker-protected swap.
    * Duplicate keys WITHIN `updates` are rejected — "latest wins" needs
    * an ordering column, which a caller should resolve before the store
    * rewrite, not rely on partition luck.
    *
    * Returns (rowsBefore, rowsAfter, rowsReplaced).
    */
  def upsertByKeys(
      spark: SparkSession,
      path: String,
      updates: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      targetFileBytes: Long = 128L << 20,
      retain: Boolean = false): (Long, Long, Long) = {
    require(keyCols.nonEmpty, "upsertByKeys needs at least one key column")
    // pin ONE evaluation of `updates`: it feeds the dup-key check, the
    // count arithmetic, and the written union — three separate actions
    // that a nondeterministic update frame would otherwise answer
    // differently, leaving the store and the returned counts divergent
    val up = updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUpdates = up.count()
    try {
      upsertPinned(spark, path, up, nUpdates, keyCols, targetFileBytes, retain)
    } finally up.unpersist()
  }

  private def upsertPinned(
      spark: SparkSession,
      path: String,
      updates: org.apache.spark.sql.DataFrame,
      nUpdates: Long,
      keyCols: Seq[String],
      targetFileBytes: Long,
      retain: Boolean): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    val dupKeys = updates.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).collect()
    require(dupKeys.isEmpty,
      s"updates contain duplicate keys (e.g. ${dupKeys.headOption.orNull}); " +
        "resolve latest-wins before the store rewrite")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.listStatus(p).exists(_.isDirectory),
      s"upsertByKeys expects a flat parquet directory; $path has subdirectories — " +
        "run per partition directory")
    val totalBytes = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val cur = spark.read.parquet(path)
    // names AND types: a name-only check would let unionByName silently
    // widen the store's column types in the rewrite (doc_id LONG +
    // updates' doc_id STRING → a STRING store after the swap)
    def shape(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.schema.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
    require(shape(cur) == shape(updates),
      s"schema mismatch: store has ${shape(cur).mkString(",")}, " +
        s"updates have ${shape(updates).mkString(",")}")
    val before = cur.count()
    val keys = updates.select(keyCols.map(col): _*).distinct()
    // counts from the cheap semi join (key columns only), so the full
    // merged frame is evaluated exactly once — by the write
    val replaced = cur.join(broadcast(keys), keyCols, "left_semi").count()
    val after = before - replaced + nUpdates
    val merged = cur.join(broadcast(keys), keyCols, "left_anti").unionByName(updates)
    val growBytes = if (before == 0) totalBytes.max(1L)
      else (totalBytes * (after.toDouble / before)).toLong
    val n = math.max(1, math.ceil(growBytes.toDouble / targetFileBytes).toInt)
    val next = new Path(path + ".next")
    merged.repartition(n).write.mode("overwrite").parquet(next.toString)
    checkedSwap(fs, p, next, retain)
    (before, after, replaced)
  }

  /** Snapshot diff (CDC derivation): classify `newDf` against `oldDf` by
    * `keyCols` into insert / delete / update rows; unchanged rows are
    * dropped. Output: key columns, `change`, and `old_<c>` / `new_<c>`
    * for every compare column (NULL on the side that lacks the row).
    *
    * Contract: `keyCols` must be unique within each side (a duplicated
    * key multiplies rows through the join, like any relational diff) and
    * disjoint from `compareCols`. Comparison is null-safe — NULL→value
    * and value→NULL both count as updates.
    *
    * Scale shape: one co-partitioned full-outer shuffle join on the key,
    * no driver materialization; at 100 TB this is the standard
    * snapshot-reconciliation shape (both sides sorted-merged on the same
    * key, AQE free to pick broadcast when one snapshot is small).
    */
  def snapshotDiff(
      oldDf: org.apache.spark.sql.DataFrame,
      newDf: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val clash = keyCols.intersect(compareCols)
    require(clash.isEmpty, s"keyCols and compareCols must be disjoint; shared: ${clash.mkString(",")}")
    val o = oldDf.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"old_$c")) :+ lit(1).as("__in_old"): _*)
    val n = newDf.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"new_$c")) :+ lit(1).as("__in_new"): _*)
    val changed = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, keyCols, "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, lit("insert"))
          .when(col("__in_new").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change").isNotNull)
      .drop("__in_old", "__in_new")
  }

  /** Mergeable per-key rollup state: count / decimal-exact sum / min /
    * max of `valueCol` per `keyCols`. The state is a plain DataFrame
    * (writable to any store) whose columns re-aggregate losslessly —
    * see [[mergeRollupStates]]. This is the incremental-view-maintenance
    * primitive: keep yesterday's state, fold in today's delta, never
    * rescan history. Each state build is one map-side-combined shuffle
    * over its own slice only.
    */
  def rollupState(
      df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      valueCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    require(keyCols.nonEmpty, "rollupState needs at least one key column")
    df.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
  }

  /** Merge rollup states from [[rollupState]] (any number of slices,
    * stored or fresh) into the state of the unioned inputs: counts and
    * decimal sums add, min/max fold — all four are associative and
    * commutative, so the merge is exact regardless of how the data was
    * sliced or how partials arrive. One shuffle over state rows (≤
    * |keys| per slice), never over raw data.
    */
  def mergeRollupStates(
      states: Seq[org.apache.spark.sql.DataFrame],
      keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, max, min, sum}
    require(states.nonEmpty, "mergeRollupStates needs at least one state")
    states.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Incremental JOIN maintenance for insert-only deltas: the rows that a
    * batch of appends ADDS to `aOld ⋈ bOld` are exactly
    *
    *   Δa ⋈ bOld  ∪  aOld ⋈ Δb  ∪  Δa ⋈ Δb
    *
    * (the bilinear delta identity) — three joins whose LEFT inputs are
    * delta-sized, instead of re-joining two full tables. At 100 TB this is
    * the difference between a daily append costing O(|Δ|) and O(|history|):
    * the old sides stream through broadcast/shuffle joins keyed as usual,
    * and no history×history join ever re-runs. Exact for inner equi-joins
    * on any key set (duplicates included — each identity term contributes
    * its exact multiplicity).
    */
  def joinDelta(
      aOld: org.apache.spark.sql.DataFrame,
      aDelta: org.apache.spark.sql.DataFrame,
      bOld: org.apache.spark.sql.DataFrame,
      bDelta: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(keys.nonEmpty, "joinDelta needs at least one join key")
    aDelta.join(bOld, keys)
      .unionByName(aOld.join(bDelta, keys))
      .unionByName(aDelta.join(bDelta, keys))
  }
}
