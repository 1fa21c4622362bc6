package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DocFiles, Tables}

/** The sync target: one layout for every synced table (reference
  * duckdb_source.py:74 keeps one table per source and updates it with
  * INSERT OR REPLACE). The table is partitioned by a bucket of each row
  * — a time bucket of the watermark column, or a hash of the primary
  * key — and an incremental merge swaps in rewritten partition
  * directories, rewriting ONLY:
  *
  *  1. partitions receiving fresh rows (the watermark tail lands in
  *     recent buckets), and
  *  2. partitions holding a STALE version of a fresh key (an upsert
  *     whose old row lives in another bucket must remove it there,
  *     or the key would be served twice) — located with a key-only
  *     semi-join against the target, a column-pruned scan that reads
  *     two columns, never the payload.
  *
  * Every untouched partition's files are left byte-identical. The
  * driver collects only distinct affected PARTITION VALUES.
  *
  * Two commits, both the checked aside swap of
  * [[graft.core.DocFiles.replace]], so at every fault point a reader
  * sees the old table or the new one: [[writeFull]] swaps the whole
  * root; [[swapIn]] (the merge and `Compaction.compact`) swaps each
  * rewritten partition, and the next rewrite's [[recover]] puts back
  * one left parked aside. That swap is not atomic ACROSS partitions:
  * a crash can leave some new and others old. The watermark advances
  * only AFTER a successful merge, so a replay re-merges the same tail,
  * and keep-latest-per-key is idempotent.
  *
  * Bucket values must render as path-safe strings (digits, letters,
  * `.`/`_`/`-`, e.g. `date_format(ts, 'yyyy-MM')`) — they become
  * partition directory names.
  */
object PartitionedSync {

  /** Partition column added to the stored layout (dropped on read). */
  val PartCol = Tables.PartCol

  /** `maxTime` is the watermark candidate: max(timeCol) over the
    * EXACT fresh rows that were merged ([[withPersistedTail]]).
    */
  case class MergeStats(
      freshRows: Long,
      affectedPartitions: Seq[String],
      emptiedPartitions: Seq[String],
      maxTime: Option[String])

  /** `bucket` as a string partition value, failing LOUDLY per-row on
    * NULL (e.g. a NULL time column): a silent null would land in Hive's
    * default partition, break the string plumbing of the merge, and its
    * stale versions could never be located — fail at write time, inside
    * the same job, at zero extra passes.
    */
  private def bucketOrFail(bucket: Column, path: String): Column = {
    val b = bucket.cast("string")
    when(b.isNull, raise_error(lit(
      s"PartitionedSync: bucket expression evaluated to NULL for $path — " +
        "filter or default null time values before syncing"))).otherwise(b)
  }

  /** Full (re)write of the target, partitioned by `bucket`: staged at
    * `.<name>.tmp` beside the root and committed by one checked swap of
    * the root ([[graft.core.DocFiles.replace]]), so the live table stays
    * readable until the new one is in place. An empty input leaves one
    * schema-only file at the root instead of partitions.
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
    val spark = df.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DocFiles.replace(fs, root) { tmp =>
      fs.delete(tmp, true) // what a cut-short write left
      df.withColumn(PartCol, bucketOrFail(bucket, path))
        .repartition(spark.sparkContext.defaultParallelism, col(PartCol))
        .write.partitionBy(PartCol).parquet(tmp.toString)
      if (!hasPartitions(fs, tmp)) df.limit(0).write.mode("append").parquet(tmp.toString)
    }
    spark.catalog.refreshByPath(path)
  }

  /** Whether `root` holds partitions, live or parked aside: [[writeFull]] of rows wrote it. */
  private[sync] def hasPartitions(fs: FileSystem, root: Path): Boolean =
    fs.listStatus(root).map(_.getPath.getName)
      .exists(n => n.startsWith(s"$PartCol=") || n.startsWith(s".$PartCol=") && n.endsWith(".old"))

  /** The synced table as a caller sees it: [[graft.core.Tables.read]]. */
  def read(spark: SparkSession, path: String): DataFrame = Tables.read(spark, path)

  /** Merge `fresh` into the partitioned target at `path`, keeping the
    * latest (timeCol, tieBreak) row per key, rewriting only affected
    * partitions. Partitions whose every row is superseded by a fresh
    * row in another bucket are deleted.
    */
  def mergeIncremental(spark: SparkSession, path: String, fresh: DataFrame,
                       keys: Seq[String], timeCol: String, tieBreak: String,
                       bucket: Column): MergeStats = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no partitioned target at $path — writeFull first")
    recover(fs, root, PartCol)

    val freshP = fresh.withColumn(PartCol, bucketOrFail(bucket, path))
    withPersistedTail(freshP, timeCol) { (tail, freshRows, maxTime) =>
      if (freshRows == 0)
        MergeStats(0L, Nil, Nil, None)
      else {
        // explicit schema: partition discovery would otherwise INFER the
        // partition column's type from its values (a 'yyyy' bucket reads
        // back as LONG) and the string plumbing below would miscompare —
        // the user-supplied schema pins __part to string and still
        // partition-prunes
        val target = spark.read.schema(tail.schema).parquet(path)
        // partitions receiving fresh rows ∪ partitions holding stale
        // versions of fresh keys (key+partition columns only — column
        // pruning keeps the payload out of this scan; AQE broadcasts the
        // fresh key set when small)
        val partsNew = tail.select(PartCol).distinct()
        val partsStale = target
          .join(tail.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(PartCol).distinct()
        val affected = partsNew.unionByName(partsStale).distinct()
          .collect().map(_.getString(0)).sorted.toIndexedSeq

        // the repartition-on-PartCol (the writeFull rationale) keeps the
        // staged write one-file-per-bucket
        val slice = target.filter(col(PartCol).isin(affected: _*))
        val merged = SyncOps.upsertKeepLatest(
          slice.unionByName(tail), keys, timeCol, tieBreak)
          .repartition(spark.sparkContext.defaultParallelism, col(PartCol))
        val emptied = swapIn(merged, path, PartCol, affected)

        MergeStats(freshRows, affected, emptied, maxTime)
      }
    }
  }

  /** Runs `body` over `fresh` persisted, with its row count and
    * max(timeCol) (None when empty) from ONE action that also
    * materializes it, so the count, the merged rows and the watermark
    * candidate describe the same pulled rows: re-aggregating the fresh
    * PLAN would re-read the live source, and a row committed mid-sync
    * would raise the watermark without being merged, skipped forever.
    * The persisted plan carries a marker column with its own number,
    * dropped for `body`: Spark's cache manager hands one entry to equal
    * plans and can read an entry another thread is still filling as
    * empty, and a merge that read its tail as empty would swap in the
    * fresh rows without the old rows of their partitions.
    */
  private def withPersistedTail[T](fresh: DataFrame, timeCol: String)
                                  (body: (DataFrame, Long, Option[String]) => T): T = {
    val marked = fresh.withColumn(TailMark, lit(tails.incrementAndGet())).persist()
    try {
      val tail = marked.drop(TailMark)
      val (rows, latest) = Tables.countAndMax(tail, Some(timeCol))
      body(tail, rows, latest)
    } finally marked.unpersist(blocking = true)
  }

  private val TailMark = "__tail"
  private val tails = new java.util.concurrent.atomic.AtomicLong()

  /** Hidden staging directory of [[swapIn]], under the table root:
    * Spark's file listing, [[partitionValues]] and `Compaction.census`
    * all skip names that start with `.`.
    */
  private val Staging = ".merge.tmp"

  /** Crash recovery for a partitioned table, run by every rewrite
    * before it reads the table: puts back each partition an
    * interrupted [[swapIn]] left parked aside, then deletes the stale
    * staging directory and aside copies whose live partition is back.
    */
  private[sync] def recover(fs: FileSystem, root: Path, partCol: String): Unit = {
    fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith(s".$partCol="))
      .foreach { p =>
        if (p.getName.endsWith(".old"))
          DocFiles.restore(fs, new Path(root, p.getName.stripPrefix(".").stripSuffix(".old")))
        if (DocFiles.isDebris(fs, p)) fs.delete(p, true)
      }
    fs.delete(new Path(root, Staging), true)
  }

  /** The one commit step of every partitioned rewrite (the merge and
    * `Compaction.compact`): writes `df`, which carries `partCol`, into
    * the staging directory with a plain partitioned write, swaps each
    * staged partition in with [[graft.core.DocFiles.replace]], deletes
    * each `affected` partition the write left empty, removes the
    * staging directory and refreshes cached plans over `path` (a rename
    * does not re-cache them the way a Spark write to the path does).
    * Returns the deleted partitions. The caller has run [[recover]].
    */
  private[sync] def swapIn(df: DataFrame, path: String, partCol: String,
                           affected: Seq[String]): Seq[String] = {
    val root = new Path(path)
    val staging = new Path(root, Staging)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    def dir(base: Path, v: String) = new Path(base, s"$partCol=$v")
    df.write.partitionBy(partCol).parquet(staging.toString)
    val staged = partitionValues(fs, staging, partCol)
    staged.foreach(v => DocFiles.replace(fs, dir(root, v), dir(staging, v)))
    val emptied = affected.filterNot(staged.contains).filter(v => DocFiles.delete(fs, dir(root, v)))
    fs.delete(staging, true)
    df.sparkSession.catalog.refreshByPath(path)
    emptied
  }

  private def partitionValues(fs: FileSystem, dir: Path, partCol: String): Set[String] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName.stripPrefix(s"$partCol="))
      .toSet
}
