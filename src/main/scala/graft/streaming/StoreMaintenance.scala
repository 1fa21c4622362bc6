package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DocFiles

/** The batch-partitioned store behind the streaming ingest bodies —
  * the seen-hash store ([[IncrementalStream.dedupBatch]]), the MinHash
  * signature index ([[IncrementalStream.nearDupBatch]],
  * [[graft.pipeline.Curation.curateDelta]]), the other dedup and
  * search indexes and the per-batch output dirs — plus its retention
  * and small-file compaction. All share one layout, known only here:
  * an append-only parquet table of `batch=<id>` partition dirs, one
  * per micro-batch, read with [[read]] / [[history]] and written with
  * [[writeBatch]].
  *
  * Why this exists: a batch commit is deliberately O(batch) — one new
  * partition dir, never a rewrite of the O(history) store. The cost of
  * that choice accrues as DIRECTORY decay: after 10^5 micro-batches
  * the store is 10^5 tiny partition dirs, so every history scan pays
  * 10^5 listings + footer reads + scheduler tasks, and object-store
  * listing degrades long before that. This is the same small-file
  * decay [[graft.sync.Compaction]] solves for partitioned sync
  * targets, with one extra constraint: the `batch` partition VALUES
  * are load-bearing (a replayed micro-batch excludes its own
  * partition by value), so compaction must never re-label a batch id
  * a future replay could carry.
  *
  * Design:
  *  - [[compactStore]] consolidates COMMITTED batch dirs into a single
  *    NEGATIVE-labelled partition (`batch=-1`, then `-2`, ...; real
  *    batch ids are non-negative and monotone, so a negative label can
  *    never collide with a replayed id — the replay filter
  *    `batch =!= batchId` keeps consolidated history visible, which is
  *    correct: it IS history). The newest `retainLatest` (default 1)
  *    batch dirs are never touched — only the latest foreachBatch id
  *    is ever replayed, and its partition must stay individually
  *    excludable. Each run consolidates only the small dirs that
  *    accumulated since the last run (O(new), not O(history));
  *    `includeConsolidated = true` folds previous consolidations in
  *    too when their file count grows (O(history), occasional).
  *  - Crash contract: the consolidated partition is written to a
  *    hidden temp dir, fs-renamed into place (atomic on HDFS/local),
  *    and only then are the source dirs deleted. A crash between
  *    rename and delete leaves DUPLICATE rows visible — harmless to
  *    every consumer (the seen-set feeds an anti-join; duplicate index
  *    rows produce duplicate candidate pairs that the delta path's
  *    `.distinct()` collapses, and verified-pair consumers are
  *    set-like) — and the `_sources.json` manifest written inside the
  *    consolidated dir lets the NEXT maintenance run finish the
  *    deletion, so the store converges. Re-running after any crash is
  *    always safe.
  *  - [[dropBatchesBelow]] is the retention knob (SyncLogRepo's
  *    `deleteOldLogs` for ingest state): it deletes every partition
  *    whose batches are ALL below a horizon id. This deliberately
  *    BOUNDS the dedup horizon — a document whose only earlier
  *    duplicate arrived before the horizon will be ingested again.
  *    That is the knob's contract (e.g. "dedup against the last 90
  *    days"), not an accident; leave it alone for the reference
  *    "never ingest twice" semantics.
  *
  * 100 TB accounting: partition selection is a driver listing (no
  * job); the consolidation rewrite is ONE partition-pruned job over
  * the picked dirs only, bin-packed to `targetBytes` output files.
  * Store reads before/after are byte-for-byte the same rows.
  */
object StoreMaintenance {

  case class StoreCompactionStats(
      consolidated: Seq[Long], // batch ids folded into the new partition
      label: Long,             // the new partition's (negative) batch value
      dirsBefore: Int, dirsAfter: Int,
      filesBefore: Long, filesAfter: Long)

  private val ManifestName = "_sources.json" // '_' prefix: hidden to parquet readers

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every committed row, the `batch` partition column included (None
    * before the first commit).
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    if (fsOf(spark, dir).exists(new Path(dir))) Some(spark.read.parquet(dir))
    else None

  /** The store as batch `batchId` sees its history, projected to
    * `shape`'s columns — or `shape` itself (the stored shape, no rows)
    * before the first commit. The batch's own partition is excluded:
    * a replay after a complete-but-uncommitted batch recomputes from
    * the same history instead of meeting its own rows (and, for a
    * seen-set, emitting an empty, data-losing overwrite).
    */
  def history(spark: SparkSession, dir: String, batchId: Long,
              shape: DataFrame): DataFrame =
    read(spark, dir).fold(shape)(_.filter(col("batch") =!= batchId)
      .select(shape.columns.map(col): _*))

  /** Commit `df` as batch `batchId`'s partition. An overwrite, so a
    * replayed batch replaces its own rows and touches nothing else.
    * Callers skip empty frames: a part-file-less dir poisons later
    * schema inference on the store root.
    */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch=$batchId")

  /** (batchValue, path) for every `batch=<long>` partition dir. */
  private def batchDirs(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap { s =>
        s.getPath.getName.stripPrefix("batch=").toLongOption.map(_ -> s.getPath)
      }
      .sortBy(_._1)

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).toSeq.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** Manifest of a consolidated partition: the source dir names it
    * replaced (for crash recovery) and the largest real batch id it
    * covers (for retention). A [[DocFiles]] document.
    */
  private[streaming] case class Manifest(sources: Seq[String], maxSourceId: Long)

  private def writeManifest(fs: FileSystem, dir: Path, m: Manifest): Unit =
    DocFiles.write(fs, new Path(dir, ManifestName),
      DocFiles.obj("sources" -> m.sources, "maxSourceId" -> m.maxSourceId))

  private[streaming] def readManifest(fs: FileSystem, dir: Path): Option[Manifest] =
    DocFiles.read(fs, new Path(dir, ManifestName)).flatMap { json =>
      DocFiles.num(json, "maxSourceId").map(Manifest(DocFiles.strs(json, "sources"), _))
    }

  /** Finish any crashed compaction: a consolidated partition's
    * manifest lists the source dirs it replaced; any still present
    * hold rows now duplicated in the consolidation — delete them.
    * Safe to call any time (no-op when there is nothing to finish).
    */
  def recover(spark: SparkSession, storeDir: String): Seq[String] = {
    val fs = fsOf(spark, storeDir)
    val root = new Path(storeDir)
    batchDirs(fs, root).filter(_._1 < 0).flatMap { case (_, dir) =>
      readManifest(fs, dir).toSeq.flatMap(_.sources).flatMap { src =>
        val p = new Path(root, src)
        if (fs.exists(p)) { fs.delete(p, true); Some(src) } else None
      }
    }
  }

  /** Consolidate committed `batch=<id>` dirs into one bin-packed
    * negative-labelled partition. Rows are preserved exactly; only the
    * `batch` column value of consolidated rows changes (to the new
    * negative label — still excluded by no real batch id, still
    * included in every history read).
    */
  def compactStore(spark: SparkSession, storeDir: String,
                   targetBytes: Long = 128L << 20,
                   retainLatest: Int = 1,
                   includeConsolidated: Boolean = false): StoreCompactionStats = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(retainLatest >= 1,
      s"retainLatest must be >= 1 (the latest batch id must stay individually excludable for replay): $retainLatest")
    val fs = fsOf(spark, storeDir)
    val root = new Path(storeDir)
    recover(spark, storeDir)

    val dirs = batchDirs(fs, root)
    val filesBefore = dirs.map { case (_, p) => dataFiles(fs, p).size.toLong }.sum
    val noop = StoreCompactionStats(Nil, 0L, dirs.size, dirs.size, filesBefore, filesBefore)
    if (dirs.isEmpty) return noop

    val positives = dirs.filter(_._1 >= 0)
    val protectedIds = positives.takeRight(retainLatest).map(_._1).toSet
    val picked = dirs.filter { case (id, _) =>
      (id >= 0 && !protectedIds(id)) || (id < 0 && includeConsolidated)
    }
    if (picked.isEmpty) return noop
    val pickedBytes = picked.map { case (_, p) => dataFiles(fs, p).map(_.getLen).sum }.sum
    val idealFiles = math.max(((pickedBytes + targetBytes - 1) / targetBytes).toInt, 1)
    // nothing to gain: already one partition at (or under) the packed ideal
    if (picked.size == 1 && dataFiles(fs, picked.head._2).size <= idealFiles) return noop

    val label = math.min(dirs.map(_._1).min, 0L) - 1L
    val maxSourceId = picked.map { case (id, p) =>
      if (id >= 0) id
      else readManifest(fs, p).map(_.maxSourceId).getOrElse(-1L)
    }.max
    val pickedIds = picked.map(_._1)

    // one partition-pruned job: read ONLY the picked partitions,
    // bin-pack, land in a hidden temp dir (invisible to readers)
    val tmp = new Path(root, s".compact_tmp_$label")
    if (fs.exists(tmp)) fs.delete(tmp, true) // leftover from a pre-rename crash
    spark.read.parquet(storeDir)
      .filter(col("batch").isin(pickedIds: _*))
      .drop("batch")
      .repartition(idealFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    writeManifest(fs, tmp, Manifest(picked.map(_._2.getName), maxSourceId))

    // atomic publish, then delete sources; a crash between the two
    // leaves duplicates that recover() cleans on the next run
    val dest = new Path(root, s"batch=$label")
    require(fs.rename(tmp, dest), s"rename $tmp -> $dest failed")
    picked.foreach { case (_, p) => fs.delete(p, true) }

    val after = batchDirs(fs, root)
    val filesAfter = after.map { case (_, p) => dataFiles(fs, p).size.toLong }.sum
    StoreCompactionStats(pickedIds, label, dirs.size, after.size, filesBefore, filesAfter)
  }

  /** Retention: delete every partition whose batches are ALL below
    * `minBatchId` — real batch dirs by their id, consolidated dirs by
    * their manifest's `maxSourceId` (a consolidation still covering
    * one in-horizon batch is kept whole). Returns the deleted batch
    * values. See the class doc for the horizon-bounding contract.
    */
  def dropBatchesBelow(spark: SparkSession, storeDir: String,
                       minBatchId: Long): Seq[Long] = {
    require(minBatchId >= 0, s"minBatchId must be a real batch id: $minBatchId")
    val fs = fsOf(spark, storeDir)
    val root = new Path(storeDir)
    recover(spark, storeDir)
    batchDirs(fs, root).filter { case (id, p) =>
      if (id >= 0) id < minBatchId
      else readManifest(fs, p).exists(_.maxSourceId < minBatchId)
    }.map { case (id, p) => fs.delete(p, true); id }
  }
}
