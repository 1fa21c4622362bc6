package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned sync target — the 100 TB form of the sync
  * engine's merge (reference sync_engine.py:180 fetch-then-upsert).
  *
  * `SyncRunner.writeTarget` rewrites the whole target per incremental
  * merge: correct, atomic (temp + rename), and the right call for
  * targets that fit a rewrite budget. At 100 TB it is the sync's
  * dominant cost — so this target partitions the table by a caller-
  * chosen time bucket (month/year of the watermark column) and merges
  * with DYNAMIC partition overwrite, rewriting ONLY:
  *
  *  1. partitions receiving fresh rows (the watermark tail lands in
  *     recent buckets), and
  *  2. partitions holding a STALE version of a fresh key (an upsert
  *     whose old row lives in an older bucket must remove it there,
  *     or the key would be served twice) — located with a key-only
  *     semi-join against the target, a column-pruned scan that reads
  *     two columns, never the payload.
  *
  * Every untouched partition's files are left byte-identical. The
  * driver collects only distinct affected PARTITION VALUES (calendar-
  * bounded — months of history, not rows).
  *
  * Crash semantics: dynamic overwrite commits per partition, so a
  * crash mid-write can leave some affected partitions new and others
  * old — unlike the whole-table swap this is not atomic across
  * partitions. The watermark advances only AFTER a successful merge,
  * so a replay re-merges the same tail, and keep-latest-per-key is
  * idempotent. That covers a crash between partitions, not one inside
  * a partition's commit: Spark's `HadoopMapReduceCommitProtocol`
  * commits each partition by deleting the live dir, then renaming the
  * staged one in. A crash between the two loses that partition's rows
  * that are not in the fresh tail, and a replay cannot bring them
  * back (open: ROADMAP item 4).
  *
  * Bucket values must render as path-safe strings (digits, letters,
  * `.`/`_`/`-`, e.g. `date_format(ts, 'yyyy-MM')`) — they become
  * partition directory names.
  */
object PartitionedSync {

  /** Partition column added to the stored layout (dropped on read). */
  val PartCol = "__part"

  /** `maxTime` is the watermark candidate: max(timeCol) over the
    * EXACT fresh rows that were merged (computed while the tail is
    * persisted). Deriving it afterwards by re-aggregating the fresh
    * PLAN would re-read the live source — a row committed mid-sync
    * would raise the watermark without having been merged and be
    * skipped by every later incremental pull, silently forever.
    */
  case class MergeStats(
      freshRows: Long,
      affectedPartitions: Seq[String],
      partitionsBefore: Long,
      emptiedPartitions: Seq[String],
      maxTime: Option[String])

  /** `bucket` as a string partition value, failing LOUDLY per-row on
    * NULL (e.g. a NULL time column): a silent null would land in Hive's
    * default partition, break the string plumbing of the merge, and its
    * stale versions could never be located — fail at write time, inside
    * the same job, at zero extra passes.
    */
  private def bucketOrFail(bucket: Column): Column = {
    val b = bucket.cast("string")
    when(b.isNull, raise_error(lit(
      "PartitionedSync: bucket expression evaluated to NULL — " +
        "filter or default null time values before syncing"))).otherwise(b)
  }

  /** Full (re)write of the target, partitioned by `bucket`.
    *
    * The explicit repartition ON THE PARTITION COLUMN before
    * `partitionBy` does two jobs: it distributes the write (the input's
    * own partitioning writes every bucket from every task — locally
    * that serializes the write into one task; on a cluster each of M
    * input tasks drops a file into each of P partition dirs, the
    * classic M×P small-files explosion), and it bounds output files at
    * one per bucket per job. Explicit N keeps AQE's byte heuristic from
    * collapsing the exchange when the table is byte-light.
    */
  def writeFull(df: DataFrame, bucket: Column, path: String): Unit = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    df.withColumn(PartCol, bucketOrFail(bucket))
      .repartition(n, col(PartCol))
      .write.partitionBy(PartCol).mode("overwrite").parquet(path)
  }

  /** The synced table as a caller sees it (partition column dropped). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(PartCol)

  /** Merge `fresh` into the partitioned target at `path`, keeping the
    * latest (timeCol, tieBreak) row per key, rewriting only affected
    * partitions. Partitions whose every row is superseded by a fresh
    * row in another bucket are deleted (dynamic overwrite cannot
    * replace a partition with zero rows).
    */
  def mergeIncremental(spark: SparkSession, path: String, fresh: DataFrame,
                       keys: Seq[String], timeCol: String, tieBreak: String,
                       bucket: Column): MergeStats = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(path)), s"no partitioned target at $path — writeFull first")

    val freshP = fresh.withColumn(PartCol, bucketOrFail(bucket))
    freshP.persist()
    try {
      // one action materializes the persisted tail AND yields both the
      // row count and the watermark candidate (see MergeStats doc)
      val head = freshP
        .agg(count(lit(1)), max(col(timeCol)).cast("string")).head()
      val freshRows = head.getLong(0)
      if (freshRows == 0)
        return MergeStats(0L, Nil, partitionValues(fs, path).size.toLong, Nil, None)
      val maxTime = Option(head.getString(1))

      // explicit schema: partition discovery would otherwise INFER the
      // partition column's type from its values (a 'yyyy' bucket reads
      // back as LONG) and the string plumbing below would miscompare —
      // the user-supplied schema pins __part to string and still
      // partition-prunes
      val target = spark.read.schema(freshP.schema).parquet(path)
      // partitions receiving fresh rows ∪ partitions holding stale
      // versions of fresh keys (key+partition columns only — column
      // pruning keeps the payload out of this scan; AQE broadcasts the
      // fresh key set when small)
      val partsNew = freshP.select(PartCol).distinct()
      val partsStale = target
        .join(freshP.select(keys.map(col): _*).distinct(), keys, "left_semi")
        .select(PartCol).distinct()
      val affected = partsNew.unionByName(partsStale).distinct()
        .collect().map(_.getString(0)).sorted.toIndexedSeq
      val before = partitionValues(fs, path)

      // the merge plan reads the slice it overwrites — materialize it
      // to break the read-write cycle. localCheckpoint (eager) holds
      // the merged slice in block storage: the previous tmp-PARQUET
      // staging paid a full extra write + read-back + listing + delete
      // of the whole affected slice per merge (measured ~25% of
      // q_merge_partitioned's wall); the checkpoint is the same
      // barrier at block-manager cost. Crash semantics are unchanged —
      // the tmp table was never a recovery point (the watermark replay
      // absorbs a crash either way). The repartition-on-PartCol (the
      // writeFull rationale) keeps the final dynamic overwrite
      // shuffle-free and one-file-per-bucket.
      val slice = target.filter(col(PartCol).isin(affected: _*))
      val merged = SyncOps.upsertKeepLatest(
        slice.unionByName(freshP), keys, timeCol, tieBreak)
        .repartition(spark.sparkContext.defaultParallelism, col(PartCol))
        .localCheckpoint()
      val emptied = try {
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(PartCol).parquet(path)

        // a partition every row of which was superseded produces no
        // output rows, so dynamic overwrite leaves its stale files in
        // place — detect via the MERGED output's partition values and
        // delete the leftovers (a crash in between is absorbed by the
        // idempotent replay, same as the partial-overwrite case). The
        // merged slice is checkpointed, so the distinct is a bounded
        // scan of in-memory blocks, not a recompute
        val outParts = merged.select(PartCol).distinct()
          .collect().map(_.getString(0)).toSet
        val gone = affected.filterNot(outParts.contains)
          .filter(before.contains)
        gone.foreach(p => fs.delete(new Path(path, s"$PartCol=$p"), true))
        gone
      } finally {
        merged.unpersist(blocking = false); ()
      }

      MergeStats(freshRows, affected, before.size.toLong, emptied, maxTime)
    } finally freshP.unpersist(blocking = true)
  }

  private def partitionValues(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Set[String] =
    fs.listStatus(new Path(path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$PartCol="))
      .map(_.getPath.getName.stripPrefix(s"$PartCol="))
      .toSet
}
