package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.cache._
import graft.core.DocFiles

/** Cache layer specs — mirrors the reference's
  * test/application/test_cache_provider.py surfaces: hit/miss +
  * statistics, staleness invalidation, and incremental refresh
  * equaling a full recompute.
  */
class CacheSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf(n: Int) = (1 to n).map(i =>
    (i.toLong, Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"), s"v$i", i.toString))
    .toDF("id", "ts", "name", "v_str")

  // ts monotone in id so appended rows are past the watermark
  private def tsRows(from: Int, to: Int) = (from to to).map(i =>
    (i.toLong, Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
      i * 1.7 - 3))
    .toDF("id", "ts", "v")
  private def tsRows(n: Int): org.apache.spark.sql.DataFrame = tsRows(1, n)

  private def fsOf(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parks a key's entry document aside, as a swap cut short between
    * its two renames leaves it.
    */
  private def parkEntry(keyDir: java.io.File): Unit =
    assert(fsOf(keyDir.getPath).rename(new Path(keyDir.getPath, "entry.json"),
      new Path(keyDir.getPath, ".entry.json.old")))

  private def fullAgg(srcDir: String) = graft.ops.IncrementalAgg.readState(
    graft.ops.IncrementalAgg.bucketState(
      spark.read.parquet(s"$srcDir/t.parquet"), "ts", "1 hour", "v"))
    .collect().map(_.toSeq).toSeq

  /** Lands a sync on the source table on the first commit it sees —
    * after the refresh's tail probe, before its data is written — then
    * delegates every call to `inner`.
    */
  private class SyncMidCommit(inner: CacheProvider, sync: () => Unit) extends CacheProvider {
    private var landed = false
    private def land(): Unit = if (!landed) { landed = true; sync() }
    def putEntry(key: String, df: org.apache.spark.sql.DataFrame, metaJson: String): Unit = {
      land(); inner.putEntry(key, df, metaJson)
    }
    def appendEntry(key: String, tail: org.apache.spark.sql.DataFrame, metaJson: String): Unit = {
      land(); inner.appendEntry(key, tail, metaJson)
    }
    def putMeta(key: String, json: String): Unit = inner.putMeta(key, json)
    def getData(key: String) = inner.getData(key)
    def getMeta(key: String) = inner.getMeta(key)
    def hasEntry(key: String) = inner.hasEntry(key)
    def delete(key: String): Unit = inner.delete(key)
    def clear(): Unit = inner.clear()
  }

  test("metadata JSON round-trips, including null watermark and conversions") {
    val full = CachedQueryMetadata(Some("2024-01-01 00:00:10"), 42L, 1700000000000L,
      Map("v_str" -> "numeric", "d\"quoted" -> "datetime"))
    assert(CachedQueryMetadata.fromJson(CachedQueryMetadata.toJson(full)).contains(full))
    val bare = CachedQueryMetadata(None, 0L, 5L)
    assert(CachedQueryMetadata.fromJson(CachedQueryMetadata.toJson(bare)).contains(bare))
  }

  test("memory provider: hit/miss statistics, hasCache needs data AND metadata") {
    val mgr = new QueryCacheManager(new MemoryCacheProvider)
    assert(mgr.getCachedData("t").isEmpty)            // miss
    assert(!mgr.hasCache("t"))
    mgr.setCachedData("t", eventsDf(3), CachedQueryMetadata(None, 3L, 0L))
    assert(mgr.hasCache("t"))
    assert(mgr.getCachedData("t").exists(_.count() == 3)) // hit
    val (hits, misses, rate) = mgr.statistics
    assert(hits == 1 && misses == 1 && rate == 0.5)
    mgr.clearCache(Some("t"))
    assert(!mgr.hasCache("t"))
    assert(mgr.statistics == ((0L, 0L, 0.0)))          // stats reset on clear
  }

  test("cache keys separate tables and custom cache keys") {
    val mgr = new QueryCacheManager(new MemoryCacheProvider)
    mgr.setCachedData("t", eventsDf(1), CachedQueryMetadata(None, 1L, 0L))
    mgr.setCachedData("t", eventsDf(2), CachedQueryMetadata(None, 2L, 0L), Some("k2"))
    assert(mgr.getCachedData("t").exists(_.count() == 1))
    assert(mgr.getCachedData("t", Some("k2")).exists(_.count() == 2))
    mgr.clearCache(Some("t"))                          // default key only
    assert(!mgr.hasCache("t") && mgr.hasCache("t", Some("k2")))
  }

  test("invalidateIfStale drops only entries past max age (injected clock)") {
    var now = 1000L * 1000
    val mgr = new QueryCacheManager(new MemoryCacheProvider, () => now)
    mgr.setCachedData("t", eventsDf(2), CachedQueryMetadata(None, 2L, now))
    assert(!mgr.invalidateIfStale("t", maxAgeSeconds = 300))
    assert(mgr.hasCache("t"))
    now += 301 * 1000                                  // advance past the TTL
    assert(mgr.invalidateIfStale("t", maxAgeSeconds = 300))
    assert(!mgr.hasCache("t"))
    assert(!mgr.invalidateIfStale("t", maxAgeSeconds = 300)) // nothing left
  }

  test("updateMetadata merges fields without replacing the record") {
    val mgr = new QueryCacheManager(new MemoryCacheProvider)
    mgr.setCachedData("t", eventsDf(2),
      CachedQueryMetadata(Some("a"), 2L, 7L, Map("x" -> "numeric")))
    mgr.updateMetadata("t", _.copy(rowCount = 99L))
    val m = mgr.getMetadata("t").get
    assert(m.rowCount == 99L && m.lastTimestamp.contains("a")
      && m.selectedConversions == Map("x" -> "numeric"))
  }

  test("composed keys are unambiguous: (a, b) never collides with (a_b, none)") {
    val mgr = new QueryCacheManager(new MemoryCacheProvider)
    mgr.setCachedData("a", eventsDf(1), CachedQueryMetadata(None, 1L, 0L), Some("b"))
    mgr.setCachedData("a_b", eventsDf(2), CachedQueryMetadata(None, 2L, 0L))
    assert(mgr.getCachedData("a", Some("b")).exists(_.count() == 1))
    assert(mgr.getCachedData("a_b").exists(_.count() == 2))
    mgr.clearCache(Some("a_b"))
    assert(mgr.hasCache("a", Some("b")) && !mgr.hasCache("a_b")) // no cross-invalidation
  }

  test("parquet provider: data+meta commit atomically and survive pointer loss") {
    val cacheDir = tempDir("graft-cache-atomic")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    val mgr = new QueryCacheManager(prov)
    mgr.setCachedData("t", eventsDf(5), CachedQueryMetadata(Some("wm1"), 5L, 0L))
    // refresh: the new plan READS the current entry (cached ∪ fresh)
    val merged = mgr.getCachedData("t").get.unionByName(eventsDf(7).filter(col("id") > 5))
    mgr.setCachedData("t", merged, CachedQueryMetadata(Some("wm2"), 7L, 1L))
    assert(mgr.getCachedData("t").exists(_.count() == 7))
    assert(mgr.getMetadata("t").flatMap(_.lastTimestamp).contains("wm2"))
    // crash recovery: the live entry document lost mid-swap — its
    // aside copy still resolves, with data and ITS metadata paired
    val keyDir = new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
    parkEntry(keyDir)
    assert(mgr.hasCache("t"))
    assert(mgr.getCachedData("t").exists(_.count() == 7))
    assert(mgr.getMetadata("t").flatMap(_.lastTimestamp).contains("wm2"))
    // the slice the previous document named was deleted after the swap
    assert(keyDir.listFiles().count(_.getName.startsWith("slice-")) == 1)
  }

  test("parquet provider: appendEntry writes only the tail slice; putEntry compacts") {
    val cacheDir = tempDir("graft-cache-append")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    prov.putEntry("t", eventsDf(10), """{"m":1}""")
    val keyDir = new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
    def slices = keyDir.listFiles().filter(_.getName.startsWith("slice-")).sortBy(_.getName)
    assert(slices.length == 1)
    val initialFiles = slices.head.listFiles().map(f => f.getName -> f.lastModified()).toMap

    prov.appendEntry("t", eventsDf(15).filter(col("id") > 10), """{"m":2}""")
    // the tail landed as a SECOND slice; the initial slice's parquet
    // files were not rewritten — the O(tail) contract
    assert(slices.length == 2)
    assert(slices.head.listFiles().map(f => f.getName -> f.lastModified()).toMap
      == initialFiles)
    assert(spark.read.parquet(slices.last.getPath).count() == 5) // tail only
    assert(prov.getData("t").exists(_.count() == 15)) // union reads all slices
    assert(prov.getMeta("t").contains("""{"m":2}"""))
    // an appended entry survives losing its live document mid-swap
    // like any committed one
    parkEntry(keyDir)
    assert(prov.getData("t").exists(_.count() == 15))

    // a full rewrite is the compactor: back to one slice, and the
    // document is live again
    prov.putEntry("t", prov.getData("t").get.filter(col("id") <= 12), """{"m":3}""")
    assert(slices.length == 1)
    assert(prov.getData("t").exists(_.count() == 12))
    assert(new java.io.File(keyDir, "entry.json").isFile &&
      !new java.io.File(keyDir, ".entry.json.old").exists())
  }

  test("memory provider: append compaction bounds the union-plan depth") {
    val prov = new MemoryCacheProvider
    prov.putEntry("t", eventsDf(2), "{}")
    (1 to 5).foreach(i =>
      prov.appendEntry("t", eventsDf(2 + i).filter(col("id") > 1 + i), s"""{"i":$i}"""))
    assert(prov.getData("t").exists(_.count() == 7))
    assert(prov.getMeta("t").contains("""{"i":5}"""))
    // localCheckpoint every 2 appends cuts the union chain — the plan
    // never accumulates one Union per refresh
    val unions = prov.getData("t").get.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.size
    assert(unions <= 2)
  }

  test("parquet provider: appendEntry self-compacts at the slice threshold") {
    val cacheDir = tempDir("graft-cache-compact")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    val n = ParquetCacheProvider.CompactAt
    // one row per slice: the entry reaches the threshold
    prov.putEntry("t", eventsDf(1), """{"m":1}""")
    (2 to n).foreach(i =>
      prov.appendEntry("t", eventsDf(i).filter(col("id") === i), s"""{"m":$i}"""))
    val keyDir = new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
    def nSlices = keyDir.listFiles().count(_.getName.startsWith("slice-"))
    assert(nSlices == n)
    // one more slice would exceed the threshold → this append compacts
    prov.appendEntry("t", eventsDf(n + 1).filter(col("id") > n), s"""{"m":${n + 1}}""")
    assert(nSlices == 1)
    assert(prov.getData("t").get.orderBy("id").collect().toSeq == eventsDf(n + 1).collect().toSeq)
    assert(prov.getMeta("t").contains(s"""{"m":${n + 1}}"""))
  }

  test("parquet provider: vacuum removes a stranded append slice, keeps referenced ones") {
    val cacheDir = tempDir("graft-cache-strand")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    prov.putEntry("t", eventsDf(3), """{"m":1}""")
    prov.appendEntry("t", eventsDf(5).filter(col("id") > 3), """{"m":2}""")
    // an appendEntry interrupted after its tail write strands a slice
    // the entry document does not name
    eventsDf(1).write.parquet(s"$cacheDir/t/slice-${"%010d".format(9)}")
    assert(prov.vacuum(graceMillis = 0) == 1)
    assert(prov.getData("t").exists(_.count() == 5)) // both committed slices intact
    assert(prov.vacuum(graceMillis = 0) == 0)
  }

  test("parquet-backed queryWithCaching: initial, incremental, no-new-data") {
    val srcDir = tempDir("graft-cache-src")
    val cacheDir = tempDir("graft-cache-store")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedQueryService(spark, srcDir, mgr)

    // initial: 10 source rows
    eventsDf(10).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = svc.queryWithCaching("t", limit = 1000, timeCol = Some("ts"),
      selectedConversions = Some(Map.empty))
    assert(!r1.isIncremental && r1.rowCount == 10 && r1.newRows == 10)
    assert(mgr.getMetadata("t").flatMap(_.lastTimestamp)
      .exists(_.startsWith("2024-01-01 00:00:10")))

    // the source grows to 15 rows → only the 5-row tail is new
    eventsDf(15).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = svc.queryWithCaching("t", timeCol = Some("ts"))
    assert(r2.isIncremental && r2.rowCount == 15 && r2.newRows == 5)
    // incremental refresh equals a full recompute
    val got = r2.df.select("id", "name").as[(Long, String)].collect().toSeq
    val want = eventsDf(15).select("id", "name").as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    assert(got.sortBy(_._1) == want)
    // the refresh APPENDED a tail slice instead of rewriting the cache
    assert(new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
      .listFiles().count(_.getName.startsWith("slice-")) == 2)

    // third call: nothing past the watermark → cached result, 0 new
    val r3 = svc.queryWithCaching("t", timeCol = Some("ts"))
    assert(r3.isIncremental && r3.rowCount == 15 && r3.newRows == 0)
  }

  test("selected conversions persist in metadata and reapply on refresh") {
    val srcDir = tempDir("graft-cache-src2")
    val cacheDir = tempDir("graft-cache-store2")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedQueryService(spark, srcDir, mgr)

    eventsDf(8).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = svc.queryWithCaching("t", timeCol = Some("ts"),
      selectedConversions = Some(Map("v_str" -> "numeric")))
    assert(r1.df.schema("v_str").dataType.typeName == "double")
    assert(r1.df.schema("name").dataType.typeName == "string") // unselected survives

    // refresh without restating the conversions — metadata carries them,
    // so the fresh slice converts identically and the union lines up
    eventsDf(12).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = svc.queryWithCaching("t", timeCol = Some("ts"))
    assert(r2.newRows == 4)
    assert(r2.df.schema("v_str").dataType.typeName == "double")
    assert(r2.df.select(sum("v_str")).head().getDouble(0) == (1 to 12).sum.toDouble)
  }

  test("cached aggregate refresh is bit-identical to a full recompute") {
    val srcDir = tempDir("graft-cache-agg")
    val cacheDir = tempDir("graft-cache-aggstore")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedAggService(spark, srcDir, mgr)
    def rows(n: Int) = tsRows(n)

    rows(200).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = svc.aggregateWithCaching("t", "ts", "1 hour", "v")
    assert(!r1.isIncremental && r1.rowCount == 200)

    // source grows; refresh aggregates only the tail and merges state
    rows(300).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = svc.aggregateWithCaching("t", "ts", "1 hour", "v")
    assert(r2.isIncremental && r2.rowCount == 300 && r2.newRows == 100)

    // bit-identical to aggregating the full table from scratch
    val full = graft.ops.IncrementalAgg.readState(
      graft.ops.IncrementalAgg.bucketState(
        spark.read.parquet(s"$srcDir/t.parquet"), "ts", "1 hour", "v"))
    val got = r2.df.collect().map(_.toSeq).toSeq
    val want = full.collect().map(_.toSeq).toSeq
    assert(got == want)

    // no new data: cached state returns untouched
    val r3 = svc.aggregateWithCaching("t", "ts", "1 hour", "v")
    assert(r3.isIncremental && r3.newRows == 0)
    assert(r3.df.collect().map(_.toSeq).toSeq == want)
  }

  test("cached histogram-quantile refresh is bit-identical to a full recompute") {
    val srcDir = tempDir("graft-cache-hist")
    val cacheDir = tempDir("graft-cache-histstore")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedAggService(spark, srcDir, mgr)
    def rows(n: Int) = tsRows(n)

    rows(200).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = svc.quantilesWithCaching("t", "ts", "1 hour", "v",
      0.0, 600.0, 60, Seq(0.5, 0.9))
    assert(!r1.isIncremental && r1.rowCount == 200)

    rows(300).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = svc.quantilesWithCaching("t", "ts", "1 hour", "v",
      0.0, 600.0, 60, Seq(0.5, 0.9))
    assert(r2.isIncremental && r2.rowCount == 300 && r2.newRows == 100)

    val full = graft.ops.IncrementalAgg.quantilesFromState(
      graft.ops.IncrementalAgg.histState(
        spark.read.parquet(s"$srcDir/t.parquet"), "ts", "1 hour", "v",
        0.0, 600.0, 60),
      0.0, 600.0, Seq(0.5, 0.9))
    assert(r2.df.collect().map(_.toSeq).toSeq ==
      full.collect().map(_.toSeq).toSeq)

    // no new data: state untouched
    val r3 = svc.quantilesWithCaching("t", "ts", "1 hour", "v",
      0.0, 600.0, 60, Seq(0.5, 0.9))
    assert(r3.isIncremental && r3.newRows == 0)
  }

  test("automatic inference resolves once and is recorded for refreshes") {
    val srcDir = tempDir("graft-cache-auto")
    val cacheDir = tempDir("graft-cache-autostore")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedQueryService(spark, srcDir, mgr)

    eventsDf(8).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = svc.queryWithCaching("t", timeCol = Some("ts")) // sel = None
    assert(r1.df.schema("v_str").dataType.typeName == "double") // inferred
    // the inferred decision is persisted as a concrete map
    assert(mgr.getMetadata("t").exists(_.selectedConversions == Map("v_str" -> "numeric")))

    // the fresh tail alone would NOT infer v_str numeric (values are
    // non-numeric) — the recorded map must still apply so the union
    // keeps the cached schema instead of corrupting it
    val tail = (9 to 12).map(i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"), s"v$i", s"x$i"))
      .toDF("id", "ts", "name", "v_str")
    eventsDf(8).unionByName(tail).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = svc.queryWithCaching("t", timeCol = Some("ts"))
    assert(r2.newRows == 4)
    assert(r2.df.schema("v_str").dataType.typeName == "double") // schema stable
    // unparseable tail values become null, cached bulk keeps its values
    assert(r2.df.filter(col("v_str").isNull).count() == 4)
  }

  test("initial-load watermark includes the whole boundary-timestamp tie group") {
    val srcDir = tempDir("graft-cache-tie")
    val cacheDir = tempDir("graft-cache-tiestore")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedQueryService(spark, srcDir, mgr)
    // 6 rows share the boundary timestamp; limit = 4 cuts inside the group
    val ties = (1 to 8).map { i =>
      val ts = if (i <= 6) "2024-01-01 00:00:01" else "2024-01-01 00:00:09"
      (i.toLong, Timestamp.valueOf(ts), s"v$i", i.toString)
    }.toDF("id", "ts", "name", "v_str")
    ties.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = svc.queryWithCaching("t", limit = 4, timeCol = Some("ts"),
      selectedConversions = Some(Map.empty))
    assert(r1.rowCount == 6) // widened to the full tie group — no silent loss
    val r2 = svc.queryWithCaching("t", timeCol = Some("ts"))
    assert(r2.rowCount == 8 && r2.newRows == 2) // the rest arrives incrementally
  }

  test("queryWithConversionOptions returns suggestions without converting") {
    val srcDir = tempDir("graft-cache-src3")
    val cacheDir = tempDir("graft-cache-store3")
    val mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    val svc = new CachedQueryService(spark, srcDir, mgr)
    eventsDf(6).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val (r, suggestions) = svc.queryWithConversionOptions("t", timeCol = Some("ts"))
    assert(r.df.schema("v_str").dataType.typeName == "string") // untouched
    assert(suggestions == Map("v_str" -> "numeric"))
  }

  test("memory provider: aggregate refresh survives a sync rewriting the source") {
    val srcDir = tempDir("graft-cache-memsrc")
    val svc = new CachedAggService(spark, srcDir, new QueryCacheManager(new MemoryCacheProvider))
    tsRows(200).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    assert(svc.aggregateWithCaching("t", "ts", "1 hour", "v").rowCount == 200)
    // the sync replaces the files the cached state was computed from
    tsRows(300).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = svc.aggregateWithCaching("t", "ts", "1 hour", "v")
    assert(r2.isIncremental && r2.rowCount == 300 && r2.newRows == 100)
    assert(r2.df.collect().map(_.toSeq).toSeq == fullAgg(srcDir))
  }

  test("memory provider: a replaced or deleted entry releases its blocks") {
    val prov = new MemoryCacheProvider
    def rddId(key: String): Int = prov.getData(key).get.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case p => fail(s"entry is not a checkpointed leaf: $p")
    }
    def held(id: Int) = spark.sparkContext.getPersistentRDDs.contains(id)
    prov.putEntry("t", eventsDf(3), "{}")
    val first = rddId("t")
    assert(held(first))
    prov.appendEntry("t", eventsDf(5).filter(col("id") > 3), "{}")
    val second = rddId("t")
    assert(!held(first) && held(second))
    assert(prov.getData("t").exists(_.count() == 5))
    prov.putEntry("t", eventsDf(2), "{}")
    val third = rddId("t")
    assert(!held(second) && held(third))
    prov.delete("t")
    assert(!held(third) && !prov.hasEntry("t"))
    prov.putEntry("u", eventsDf(1), "{}")
    val fourth = rddId("u")
    prov.clear()
    assert(!held(fourth))
  }

  test("parquet provider: the schema is recorded at commit; without one, a miss") {
    val cacheDir = tempDir("graft-cache-schema")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    prov.putEntry("t", eventsDf(4), """{"m":1}""")
    val doc = new Path(cacheDir, "t/entry.json")
    val fs = fsOf(cacheDir)
    def recorded = DocFiles.read(fs, doc).flatMap(DocFiles.str(_, "schema"))
    def slices = new java.io.File(cacheDir, "t").listFiles()
      .filter(_.getName.startsWith("slice-")).map(_.getPath)
    assert(recorded.contains(eventsDf(4).schema.json))
    // the pinned read sees what schema inference would
    val inferred = spark.read.parquet(slices.toIndexedSeq: _*).schema
    assert(prov.getData("t").get.schema == inferred)
    // an append carries the recorded schema forward
    prov.appendEntry("t", eventsDf(6).filter(col("id") > 4), """{"m":2}""")
    assert(recorded.contains(eventsDf(4).schema.json))
    assert(prov.getData("t").get.orderBy("id").collect().toSeq ==
      eventsDf(6).collect().toSeq)
    // a document without a schema is not an entry: a miss, and the
    // next commit replaces it
    DocFiles.write(fs, doc, DocFiles.obj(
      "slices" -> slices.map(p => new java.io.File(p).getName).toSeq, "meta" -> """{"m":2}"""))
    assert(prov.getData("t").isEmpty && prov.getMeta("t").isEmpty && !prov.hasEntry("t"))
    prov.appendEntry("t", eventsDf(7), """{"m":3}""")
    assert(recorded.contains(eventsDf(7).schema.json))
    assert(prov.getData("t").get.orderBy("id").collect().toSeq ==
      eventsDf(7).collect().toSeq)
    assert(slices.length == 1)
  }

  test("an entry in the earlier CURRENT + version-dir layout is a miss, rebuilt and vacuumed") {
    val srcDir = tempDir("graft-cache-oldsrc")
    val cacheDir = tempDir("graft-cache-oldstore")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    val svc = new CachedAggService(spark, srcDir, new QueryCacheManager(prov))
    tsRows(200).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    assert(svc.aggregateWithCaching("t", "ts", "1 hour", "v").rowCount == 200)
    // rewrite the entry into the earlier layout: the slices stay, the
    // document becomes a version dir (manifest, schema.json, meta.json)
    // named by a CURRENT pointer
    val fs = fsOf(cacheDir)
    val keyDir = fs.listStatus(new Path(cacheDir)).head.getPath
    val key = keyDir.getName
    val doc = DocFiles.read(fs, new Path(keyDir, "entry.json")).get
    val v0 = new Path(keyDir, "v-0000000000")
    DocFiles.write(fs, new Path(v0, "manifest"), DocFiles.strs(doc, "slices").mkString("\n"))
    DocFiles.write(fs, new Path(v0, "schema.json"), DocFiles.str(doc, "schema").get)
    DocFiles.write(fs, new Path(v0, "meta.json"), DocFiles.str(doc, "meta").get)
    DocFiles.write(fs, new Path(keyDir, "CURRENT"), "v-0000000000")
    assert(DocFiles.delete(fs, new Path(keyDir, "entry.json")))
    assert(!prov.hasEntry(key) && prov.getData(key).isEmpty && prov.getMeta(key).isEmpty)

    // the next refresh rebuilds the entry in full, bit-identical to a
    // recompute
    tsRows(300).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r = svc.aggregateWithCaching("t", "ts", "1 hour", "v")
    assert(!r.isIncremental && r.rowCount == 300 && r.newRows == 300)
    assert(r.df.collect().map(_.toSeq).toSeq == fullAgg(srcDir))
    // the earlier layout's version dir and pointer are vacuum debris
    assert(prov.vacuum(graceMillis = 0) == 2)
    assert(fs.listStatus(keyDir).map(_.getPath.getName).sorted.toSeq ==
      Seq("entry.json", "slice-0000000001"))
    assert(svc.aggregateWithCaching("t", "ts", "1 hour", "v").df.collect().map(_.toSeq).toSeq ==
      fullAgg(srcDir))
  }

  test("service statistics: a cold build is one miss, a refresh one hit") {
    val srcDir = tempDir("graft-cache-stats")
    tsRows(200).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val aggMgr = new QueryCacheManager(new ParquetCacheProvider(spark, tempDir("graft-cache-statsagg")))
    val rowMgr = new QueryCacheManager(new ParquetCacheProvider(spark, tempDir("graft-cache-statsrow")))
    val aggs = new CachedAggService(spark, srcDir, aggMgr)
    val rows = new CachedQueryService(spark, srcDir, rowMgr)
    assert(!aggs.aggregateWithCaching("t", "ts", "1 hour", "v").isIncremental)
    assert(!rows.queryWithCaching("t", timeCol = Some("ts"), selectedConversions = Some(Map.empty))
      .isIncremental)
    tsRows(300).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    assert(aggs.aggregateWithCaching("t", "ts", "1 hour", "v").newRows == 100)
    assert(rows.queryWithCaching("t", timeCol = Some("ts")).newRows == 100)
    assert(aggMgr.statistics == ((1L, 1L, 0.5)))
    assert(rowMgr.statistics == ((1L, 1L, 0.5)))
  }

  test("a sync landing mid-refresh is neither lost nor counted twice") {
    val srcDir = tempDir("graft-cache-midsrc")
    val src = s"$srcDir/t.parquet"
    // rows later than any ts in the table, appended as a new file
    def syncing(from: Int, to: Int) = () => tsRows(from, to).write.mode("append").parquet(src)
    tsRows(200).write.mode("overwrite").parquet(src)
    // the session keeps the source cached, as a dashboard does for its
    // hot table: every refresh read goes through that cache, and a sync
    // writing the path re-lists and re-caches it, so a sync landing
    // after the tail probe is visible to the refresh's later reads
    val hot = spark.read.parquet(src).cache()
    try {
      // cached aggregate: the sync lands inside the initial load, then
      // inside an incremental refresh
      val aggCache = tempDir("graft-cache-midagg")
      def aggSvc(sync: () => Unit) = new CachedAggService(spark, srcDir,
        new QueryCacheManager(new SyncMidCommit(new ParquetCacheProvider(spark, aggCache), sync)))
      val a1 = aggSvc(syncing(201, 220)).aggregateWithCaching("t", "ts", "1 hour", "v")
      assert(!a1.isIncremental && a1.rowCount == 200)
      tsRows(221, 300).write.mode("append").parquet(src)
      val a2 = aggSvc(syncing(301, 330)).aggregateWithCaching("t", "ts", "1 hour", "v")
      assert(a2.isIncremental && a2.rowCount == 300 && a2.newRows == 100)
      val a3 = aggSvc(() => ()).aggregateWithCaching("t", "ts", "1 hour", "v")
      assert(a3.rowCount == 330 && a3.newRows == 30)
      assert(a3.df.collect().map(_.toSeq).toSeq == fullAgg(srcDir))

      // cached rows: the sync lands inside an incremental refresh
      val rowCache = tempDir("graft-cache-midrows")
      def rowSvc(sync: () => Unit) = new CachedQueryService(spark, srcDir,
        new QueryCacheManager(new SyncMidCommit(new ParquetCacheProvider(spark, rowCache), sync)))
      val q1 = rowSvc(() => ()).queryWithCaching("t", limit = 100000, timeCol = Some("ts"),
        selectedConversions = Some(Map.empty))
      assert(q1.rowCount == 330)
      tsRows(331, 360).write.mode("append").parquet(src)
      val q2 = rowSvc(syncing(361, 380)).queryWithCaching("t", timeCol = Some("ts"))
      assert(q2.isIncremental && q2.rowCount == 360 && q2.newRows == 30)
      assert(q2.df.count() == 360)
      val q3 = rowSvc(() => ()).queryWithCaching("t", timeCol = Some("ts"))
      assert(q3.rowCount == 380 && q3.newRows == 20)
      val ids = q3.df.select("id").as[Long].collect().toSeq
      assert(ids.sorted == (1L to 380L))
    } finally hot.unpersist()
  }
}
