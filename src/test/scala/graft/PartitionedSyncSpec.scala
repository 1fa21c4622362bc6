package graft


import org.apache.spark.sql.functions._

import graft.sync.PartitionedSync

/** Partition-pruned sync target: merges rewrite ONLY the partitions
  * they touch; everything else stays byte-identical on disk.
  */
class PartitionedSyncSpec extends SparkSpec {
  import spark.implicits._

  // (key, month-bucket value, payload) — month is both the time column
  // and, via its prefix, the partition bucket
  private def rows(rs: (Long, String, String)*) =
    rs.toDF("id", "ts", "v")
  private val bucket = substring(col("ts"), 1, 7) // "yyyy-MM"

  private def partFiles(path: String, part: String): Map[String, Long] = {
    val d = new java.io.File(path, s"${PartitionedSync.PartCol}=$part")
    d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("writeFull + read round-trips and lays out partition dirs") {
    val path = tempDir("graft-psync") + "/t"
    PartitionedSync.writeFull(
      rows((1, "2024-01-10", "a"), (2, "2024-02-10", "b")), bucket, path)
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("__part=")).sorted
    assert(dirs.toSeq == Seq("__part=2024-01", "__part=2024-02"))
    val got = PartitionedSync.read(spark, path).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "2024-01-10", "a"), (2L, "2024-02-10", "b")))
  }

  test("mergeIncremental rewrites only affected partitions; stale versions vanish") {
    val path = tempDir("graft-psync") + "/t"
    PartitionedSync.writeFull(rows(
      (1, "2024-01-10", "a"), (2, "2024-01-20", "b"),
      (3, "2024-02-10", "c"),
      (4, "2024-03-10", "d")), bucket, path)
    val untouchedBefore = partFiles(path, "2024-02")

    // fresh: a new key in a NEW partition + an UPDATE of key 1 whose
    // stale version lives back in 2024-01
    val stats = PartitionedSync.mergeIncremental(spark, path,
      rows((5, "2024-04-05", "e"), (1, "2024-04-06", "a2")),
      Seq("id"), "ts", "id", bucket)

    assert(stats.freshRows == 2)
    // affected = the fresh bucket + the stale key's old bucket; 02/03 untouched
    assert(stats.affectedPartitions == Seq("2024-01", "2024-04"))
    assert(stats.emptiedPartitions.isEmpty)
    // watermark candidate computed from the merged tail itself
    assert(stats.maxTime.contains("2024-04-06"))
    // untouched partition: files byte-identical (same names, same mtimes)
    assert(partFiles(path, "2024-02") == untouchedBefore)
    // merged view: key 1 served ONCE, from its new version
    val got = PartitionedSync.read(spark, path).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "2024-04-06", "a2"), (2L, "2024-01-20", "b"),
      (3L, "2024-02-10", "c"), (4L, "2024-03-10", "d"), (5L, "2024-04-05", "e")))
  }

  test("a fully-superseded partition is deleted, not left serving stale rows") {
    val path = tempDir("graft-psync") + "/t"
    PartitionedSync.writeFull(rows(
      (1, "2024-01-10", "a"), (2, "2024-01-20", "b"),
      (3, "2024-02-10", "c")), bucket, path)
    // both 2024-01 residents move to 2024-05 → 2024-01 must disappear
    val stats = PartitionedSync.mergeIncremental(spark, path,
      rows((1, "2024-05-01", "a2"), (2, "2024-05-02", "b2")),
      Seq("id"), "ts", "id", bucket)
    assert(stats.emptiedPartitions == Seq("2024-01"))
    assert(!new java.io.File(path, "__part=2024-01").exists())
    val got = PartitionedSync.read(spark, path).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "2024-05-01", "a2"), (2L, "2024-05-02", "b2"),
      (3L, "2024-02-10", "c")))
  }

  test("merge replay is idempotent (crash-recovery contract)") {
    val path = tempDir("graft-psync") + "/t"
    PartitionedSync.writeFull(rows(
      (1, "2024-01-10", "a"), (2, "2024-02-10", "b")), bucket, path)
    val fresh = rows((1, "2024-03-01", "a2"), (3, "2024-03-02", "c"))
    PartitionedSync.mergeIncremental(spark, path, fresh, Seq("id"), "ts", "id", bucket)
    PartitionedSync.mergeIncremental(spark, path, fresh, Seq("id"), "ts", "id", bucket)
    val got = PartitionedSync.read(spark, path).as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "2024-03-01", "a2"), (2L, "2024-02-10", "b"),
      (3L, "2024-03-02", "c")))
  }

  test("a cached read of the target shows the merged rows after mergeIncremental") {
    val path = tempDir("graft-psync") + "/t"
    PartitionedSync.writeFull(rows(
      (1, "2024-01-10", "a"), (2, "2024-02-10", "b")), bucket, path)
    val cached = PartitionedSync.read(spark, path).cache()
    try {
      assert(cached.count() == 2)
      PartitionedSync.mergeIncremental(spark, path,
        rows((1, "2024-03-01", "a2"), (3, "2024-03-02", "c")), Seq("id"), "ts", "id", bucket)
      val got = cached.as[(Long, String, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, "2024-03-01", "a2"), (2L, "2024-02-10", "b"),
        (3L, "2024-03-02", "c")))
    } finally cached.unpersist()
  }

  test("read serves a partition parked aside by a cut-short swap, restoring nothing") {
    val path = tempDir("graft-psync") + "/t"
    val all = Seq((1L, "2024-01-10", "a"), (2L, "2024-02-10", "b"), (3L, "2024-02-20", "c"))
    PartitionedSync.writeFull(all.toDF("id", "ts", "v"), bucket, path)
    val root = new java.io.File(path)
    def park(part: String) = assert(new java.io.File(root, s"${PartitionedSync.PartCol}=$part")
      .renameTo(new java.io.File(root, s".${PartitionedSync.PartCol}=$part.old")))
    def read() = PartitionedSync.read(spark, path).as[(Long, String, String)].collect().sortBy(_._1).toSeq
    park("2024-02")
    val listing = root.list().sorted.toSeq
    assert(read() == all)
    assert(root.list().sorted.toSeq == listing)
    // every partition parked: the parked copies alone
    park("2024-01")
    assert(read() == all)
  }

  test("empty fresh slice is a no-op") {
    val path = tempDir("graft-psync") + "/t"
    PartitionedSync.writeFull(rows((1, "2024-01-10", "a")), bucket, path)
    val stats = PartitionedSync.mergeIncremental(spark, path,
      rows().filter(lit(false)), Seq("id"), "ts", "id", bucket)
    assert(stats.freshRows == 0 && stats.affectedPartitions.isEmpty)
    assert(PartitionedSync.read(spark, path).count() == 1)
  }
}
