package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Small-file compaction for partitioned sync targets — the
  * maintenance half the merge path doesn't cover.
  *
  * [[PartitionedSync.mergeIncremental]] bounds files per REWRITE, but
  * append-style producers (streaming sinks, per-slice snapshot sinks,
  * many tiny incremental merges) still accumulate files: at 100 TB a
  * partition with 10k near-empty parquet files costs 10k footer reads
  * + 10k scheduler tasks on every scan, and object-store listings
  * degrade long before that. Compaction rewrites ONLY the partitions
  * whose file count exceeds what their byte size justifies, bin-packed
  * to `targetBytes` per output file; every other partition's files are
  * left byte-identical.
  *
  * Scale shape: partition selection is a DRIVER FILE LISTING (no Spark
  * job — one `listStatus` per partition dir, the same metadata a scan
  * would read anyway); the rewrite is ONE job over the selected
  * partitions only (partition-pruned scan → salted repartition →
  * staged write), committed by the merge's own partition swap
  * ([[PartitionedSync.swapIn]]). Parallelism inside a big partition is
  * kept by salting to ceil(bytes / targetBytes) writer groups, so a
  * skewed partition neither serializes into one task nor explodes into
  * per-input-task files.
  *
  * Crash semantics: the rewrite carries the SAME rows the partition
  * already holds, and the swap leaves each partition old or new at
  * every fault point (a partition left parked aside is put back by the
  * next rewrite's recovery) — so the table's rows never change, and a
  * re-run converges.
  */
object Compaction {

  /** One partition's file census: `files` data files totalling `bytes`. */
  case class PartitionStat(partition: String, files: Int, bytes: Long)

  case class CompactionStats(
      compacted: Seq[String],
      filesBefore: Long,
      filesAfter: Long)

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Per-partition file census from the directory listing — no Spark
    * job, O(partitions) driver work.
    */
  def census(spark: SparkSession, path: String,
             partCol: String = PartitionedSync.PartCol): Seq[PartitionStat] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map { d =>
        val files = dataFiles(fs, d.getPath)
        PartitionStat(d.getPath.getName.stripPrefix(s"$partCol="),
          files.size, files.map(_.getLen).sum)
      }
      .sortBy(_.partition)
  }

  /** Compact partitions holding more data files than
    * `max(ceil(bytes / targetBytes), 1)` — the bin-packed ideal — down
    * to that many. Returns which partitions were rewritten and the
    * file counts before/after (after = fresh listing, so it reflects
    * what actually landed).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              partCol: String = PartitionedSync.PartCol): CompactionStats = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no partitioned table at $path")
    PartitionedSync.recover(fs, root, partCol)

    val stats = census(spark, path, partCol)
    val filesBefore = stats.map(_.files.toLong).sum
    def idealFiles(bytes: Long): Int =
      math.max(((bytes + targetBytes - 1) / targetBytes).toInt, 1)
    val picked = stats.filter(s => s.files > idealFiles(s.bytes))
    if (picked.isEmpty)
      return CompactionStats(Nil, filesBefore, filesBefore)

    // pin the partition column to STRING (discovery would otherwise
    // infer e.g. a 'yyyy' bucket as LONG and the isin pruning below
    // would miscompare) — data schema from one existing footer; a
    // picked partition is guaranteed non-empty (files > ideal >= 1)
    val sample = dataFiles(fs,
      new Path(root, s"$partCol=${picked.head.partition}")).head.getPath
    val schema = spark.read.parquet(sample.toString).schema
      .add(partCol, StringType)
    val dataCols = schema.fieldNames.filterNot(_ == partCol).toSeq

    import spark.implicits._
    val pickedVals = picked.map(_.partition)
    val nOut = picked.map(s => (s.partition, idealFiles(s.bytes)))
      .toDF(partCol, "__n_out")
    // deterministic salt over the row content spreads each partition
    // across exactly its ideal writer-group count; RANGE repartitioning
    // with one slot per (partition, salt) group lands each group in its
    // own task (hash repartitioning can collide several groups into one
    // task and merge their files), keeping big partitions parallel
    // while bounding output files at ~n_out per partition. Explicit N
    // is also exempt from AQE's byte-based coalescing.
    val totalGroups = picked.map(s => idealFiles(s.bytes)).sum
    val df = spark.read.schema(schema).parquet(path)
      .filter(col(partCol).isin(pickedVals: _*))
      .join(broadcast(nOut), Seq(partCol))
      .withColumn("__salt",
        pmod(xxhash64(dataCols.map(col): _*), col("__n_out")).cast("int"))
      .repartitionByRange(totalGroups, col(partCol), col("__salt"))
      .drop("__salt", "__n_out")
    PartitionedSync.swapIn(df, path, partCol, pickedVals)

    val after = census(spark, path, partCol)
    CompactionStats(pickedVals, filesBefore, after.map(_.files.toLong).sum)
  }
}
