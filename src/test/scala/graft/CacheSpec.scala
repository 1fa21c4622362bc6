package graft

import java.net.URI
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
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
  private def tsRows(n: Int): DataFrame = tsRows(1, n)

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
    def get(key: String) = inner.get(key)
    def put(key: String, df: DataFrame, metaJson: String): CacheEntry = {
      land(); inner.put(key, df, metaJson)
    }
    def append(key: String, prev: CacheEntry, tail: DataFrame, metaJson: String): CacheEntry = {
      land(); inner.append(key, prev, tail, metaJson)
    }
    def putMeta(key: String, json: String): Unit = inner.putMeta(key, json)
    def delete(key: String): Unit = inner.delete(key)
    def clear(): Unit = inner.clear()
  }

  /** Metadata of an entry a refresh can extend: one with a watermark. */
  private def wmMeta(n: Long) = CachedQueryMetadata(Some("wm"), n, 0L)

  private def dataOf(p: CacheProvider, key: String) = p.get(key).map(_.data)
  private def metaOf(p: CacheProvider, key: String) = p.get(key).map(_.meta)
  /** Appends `tail` onto the entry `key` resolves to now. */
  private def appendTo(p: CacheProvider, key: String, tail: DataFrame, meta: String) =
    p.append(key, p.get(key).get, tail, meta)

  test("metadata JSON round-trips, including null watermark and conversions") {
    val full = CachedQueryMetadata(Some("2024-01-01 00:00:10"), 42L, 1700000000000L,
      Map("v_str" -> "numeric", "d\"quoted" -> "datetime"))
    assert(CachedQueryMetadata.fromJson(CachedQueryMetadata.toJson(full)).contains(full))
    val bare = CachedQueryMetadata(None, 0L, 5L)
    assert(CachedQueryMetadata.fromJson(CachedQueryMetadata.toJson(bare)).contains(bare))
  }

  test("memory provider: hit/miss statistics, hasCache needs data AND metadata") {
    val mgr = new QueryCacheManager(new MemoryCacheProvider)
    assert(mgr.lookup("t").isEmpty)                    // miss
    assert(!mgr.hasCache("t"))
    mgr.setCachedData("t", eventsDf(3), wmMeta(3L))
    assert(mgr.hasCache("t"))
    assert(mgr.lookup("t").exists(_.entry.data.count() == 3)) // hit
    // an entry without a watermark is rebuilt in full: a miss
    mgr.setCachedData("u", eventsDf(3).limit(0), CachedQueryMetadata(None, 0L, 0L))
    assert(mgr.hasCache("u") && mgr.lookup("u").isEmpty)
    val (hits, misses, rate) = mgr.statistics
    assert(hits == 1 && misses == 2 && rate == 1.0 / 3)
    mgr.clearCache(Some("t"))
    assert(!mgr.hasCache("t"))
    assert(mgr.statistics == ((0L, 0L, 0.0)))          // stats reset on clear
  }

  test("cache keys separate tables and custom cache keys") {
    val mgr = new QueryCacheManager(new MemoryCacheProvider)
    mgr.setCachedData("t", eventsDf(1), wmMeta(1L))
    mgr.setCachedData("t", eventsDf(2), wmMeta(2L), Some("k2"))
    assert(mgr.lookup("t").exists(_.entry.data.count() == 1))
    assert(mgr.lookup("t", Some("k2")).exists(_.entry.data.count() == 2))
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
    mgr.setCachedData("a", eventsDf(1), wmMeta(1L), Some("b"))
    mgr.setCachedData("a_b", eventsDf(2), wmMeta(2L))
    assert(mgr.lookup("a", Some("b")).exists(_.entry.data.count() == 1))
    assert(mgr.lookup("a_b").exists(_.entry.data.count() == 2))
    mgr.clearCache(Some("a_b"))
    assert(mgr.hasCache("a", Some("b")) && !mgr.hasCache("a_b")) // no cross-invalidation
  }

  test("parquet provider: data+meta commit atomically and survive pointer loss") {
    val cacheDir = tempDir("graft-cache-atomic")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    val mgr = new QueryCacheManager(prov)
    mgr.setCachedData("t", eventsDf(5), CachedQueryMetadata(Some("wm1"), 5L, 0L))
    // refresh: the new plan READS the current entry (cached ∪ fresh)
    val merged = mgr.lookup("t").get.entry.data.unionByName(eventsDf(7).filter(col("id") > 5))
    // the commit returns its own data, read from the slice it wrote
    assert(mgr.setCachedData("t", merged, CachedQueryMetadata(Some("wm2"), 7L, 1L)).count() == 7)
    assert(mgr.lookup("t").exists(_.entry.data.count() == 7))
    assert(mgr.getMetadata("t").flatMap(_.lastTimestamp).contains("wm2"))
    // crash recovery: the live entry document lost mid-swap — its
    // aside copy still resolves, with data and ITS metadata paired
    val keyDir = new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
    parkEntry(keyDir)
    assert(mgr.hasCache("t"))
    assert(mgr.lookup("t").exists(_.entry.data.count() == 7))
    assert(mgr.getMetadata("t").flatMap(_.lastTimestamp).contains("wm2"))
    // the slice the previous document named was deleted after the swap
    assert(keyDir.listFiles().count(_.getName.startsWith("slice-")) == 1)
  }

  test("parquet provider: append writes only the tail slice; put compacts") {
    val cacheDir = tempDir("graft-cache-append")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    prov.put("t", eventsDf(10), """{"m":1}""")
    val keyDir = new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
    def slices = keyDir.listFiles().filter(_.getName.startsWith("slice-")).sortBy(_.getName)
    assert(slices.length == 1)
    val initialFiles = slices.head.listFiles().map(f => f.getName -> f.lastModified()).toMap

    val appended = appendTo(prov, "t", eventsDf(15).filter(col("id") > 10), """{"m":2}""")
    // the tail landed as a SECOND slice; the initial slice's parquet
    // files were not rewritten — the O(tail) contract
    assert(slices.length == 2)
    assert(slices.head.listFiles().map(f => f.getName -> f.lastModified()).toMap
      == initialFiles)
    assert(spark.read.parquet(slices.last.getPath).count() == 5) // tail only
    // the returned entry is the committed one
    assert(appended.data.count() == 15 && appended.meta == """{"m":2}""")
    assert(dataOf(prov, "t").exists(_.count() == 15)) // union reads all slices
    assert(metaOf(prov, "t").contains("""{"m":2}"""))
    // an appended entry survives losing its live document mid-swap
    // like any committed one
    parkEntry(keyDir)
    assert(dataOf(prov, "t").exists(_.count() == 15))

    // a full rewrite is the compactor: back to one slice, and the
    // document is live again
    prov.put("t", dataOf(prov, "t").get.filter(col("id") <= 12), """{"m":3}""")
    assert(slices.length == 1)
    assert(dataOf(prov, "t").exists(_.count() == 12))
    assert(new java.io.File(keyDir, "entry.json").isFile &&
      !new java.io.File(keyDir, ".entry.json.old").exists())
  }

  test("memory provider: append compaction bounds the union-plan depth") {
    val prov = new MemoryCacheProvider
    prov.put("t", eventsDf(2), "{}")
    (1 to 5).foreach(i =>
      appendTo(prov, "t", eventsDf(2 + i).filter(col("id") > 1 + i), s"""{"i":$i}"""))
    assert(dataOf(prov, "t").exists(_.count() == 7))
    assert(metaOf(prov, "t").contains("""{"i":5}"""))
    // localCheckpoint every 2 appends cuts the union chain — the plan
    // never accumulates one Union per refresh
    val unions = dataOf(prov, "t").get.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.size
    assert(unions <= 2)
  }

  test("parquet provider: append self-compacts at the slice threshold") {
    val cacheDir = tempDir("graft-cache-compact")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    val n = ParquetCacheProvider.CompactAt
    // one row per slice: the entry reaches the threshold
    prov.put("t", eventsDf(1), """{"m":1}""")
    (2 to n).foreach(i =>
      appendTo(prov, "t", eventsDf(i).filter(col("id") === i), s"""{"m":$i}"""))
    val keyDir = new java.io.File(cacheDir).listFiles().filter(_.isDirectory).head
    def nSlices = keyDir.listFiles().count(_.getName.startsWith("slice-"))
    assert(nSlices == n)
    // one more slice would exceed the threshold → this append compacts
    val compacted = appendTo(prov, "t", eventsDf(n + 1).filter(col("id") > n), s"""{"m":${n + 1}}""")
    assert(nSlices == 1)
    assert(compacted.data.orderBy("id").collect().toSeq == eventsDf(n + 1).collect().toSeq)
    assert(dataOf(prov, "t").get.orderBy("id").collect().toSeq == eventsDf(n + 1).collect().toSeq)
    assert(metaOf(prov, "t").contains(s"""{"m":${n + 1}}"""))
  }

  test("parquet provider: vacuum removes a stranded append slice, keeps referenced ones") {
    val cacheDir = tempDir("graft-cache-strand")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    prov.put("t", eventsDf(3), """{"m":1}""")
    appendTo(prov, "t", eventsDf(5).filter(col("id") > 3), """{"m":2}""")
    // an append interrupted after its tail write strands a slice
    // the entry document does not name
    eventsDf(1).write.parquet(s"$cacheDir/t/slice-${"%010d".format(9)}")
    assert(prov.vacuum(graceMillis = 0) == 1)
    assert(dataOf(prov, "t").exists(_.count() == 5)) // both committed slices intact
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
    def rddId(key: String): Int = dataOf(prov, key).get.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case p => fail(s"entry is not a checkpointed leaf: $p")
    }
    def held(id: Int) = spark.sparkContext.getPersistentRDDs.contains(id)
    prov.put("t", eventsDf(3), "{}")
    val first = rddId("t")
    assert(held(first))
    appendTo(prov, "t", eventsDf(5).filter(col("id") > 3), "{}")
    val second = rddId("t")
    assert(!held(first) && held(second))
    assert(dataOf(prov, "t").exists(_.count() == 5))
    prov.put("t", eventsDf(2), "{}")
    val third = rddId("t")
    assert(!held(second) && held(third))
    prov.delete("t")
    assert(!held(third) && prov.get("t").isEmpty)
    prov.put("u", eventsDf(1), "{}")
    val fourth = rddId("u")
    prov.clear()
    assert(!held(fourth))
  }

  test("parquet provider: the schema is recorded at commit; without one, a miss") {
    val cacheDir = tempDir("graft-cache-schema")
    val prov = new ParquetCacheProvider(spark, cacheDir)
    prov.put("t", eventsDf(4), """{"m":1}""")
    val doc = new Path(cacheDir, "t/entry.json")
    val fs = fsOf(cacheDir)
    def recorded = DocFiles.read(fs, doc).flatMap(DocFiles.str(_, "schema"))
    def slices = new java.io.File(cacheDir, "t").listFiles()
      .filter(_.getName.startsWith("slice-")).map(_.getPath)
    assert(recorded.contains(eventsDf(4).schema.json))
    // the pinned read sees what schema inference would
    val inferred = spark.read.parquet(slices.toIndexedSeq: _*).schema
    assert(dataOf(prov, "t").get.schema == inferred)
    // an append carries the recorded schema forward
    appendTo(prov, "t", eventsDf(6).filter(col("id") > 4), """{"m":2}""")
    assert(recorded.contains(eventsDf(4).schema.json))
    assert(dataOf(prov, "t").get.orderBy("id").collect().toSeq ==
      eventsDf(6).collect().toSeq)
    // a document without a schema is not an entry: a miss, and the
    // next commit replaces it
    DocFiles.write(fs, doc, DocFiles.obj(
      "slices" -> slices.map(p => new java.io.File(p).getName).toSeq, "meta" -> """{"m":2}"""))
    assert(prov.get("t").isEmpty)
    prov.put("t", eventsDf(7), """{"m":3}""")
    assert(recorded.contains(eventsDf(7).schema.json))
    assert(dataOf(prov, "t").get.orderBy("id").collect().toSeq ==
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
    assert(prov.get(key).isEmpty)

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

      // a second refresh of the same key lands inside this one's
      // commit: the commit extends the entry this refresh read, so the
      // entry records and serves each row once, now and on the next call
      tsRows(381, 410).write.mode("append").parquet(src)
      val q4 = rowSvc(() => rowSvc(() => ()).queryWithCaching("t", timeCol = Some("ts")))
        .queryWithCaching("t", timeCol = Some("ts"))
      val q5 = rowSvc(() => ()).queryWithCaching("t", timeCol = Some("ts"))
      assert(q4.newRows == 30 && q5.newRows == 0)
      Seq(q4, q5).foreach { q =>
        val ids = q.df.select("id").as[Long].collect().toSeq
        assert(q.rowCount == 410 && q.df.count() == q.rowCount)
        assert(ids.distinct.size == ids.size)
      }
    } finally hot.unpersist()
  }

  test("a request opens its entry document once and checks each slice once") {
    CountFs.register(spark.sparkContext.hadoopConfiguration)
    val srcDir = tempDir("graft-cache-readsrc")
    val src = s"$srcDir/t.parquet"
    tsRows(200).write.mode("overwrite").parquet(src)
    val (aggDir, rowDir) = (tempDir("graft-cache-readagg"), tempDir("graft-cache-readrows"))
    def mgr(dir: String) = new QueryCacheManager(new ParquetCacheProvider(spark, CountFs.path(dir)))
    val aggs = new CachedAggService(spark, srcDir, mgr(aggDir))
    val rows = new CachedQueryService(spark, srcDir, mgr(rowDir))
    /** Entry-document opens of one request, and its `_SUCCESS` checks
      * of each slice its key held before it.
      */
    def reads(cacheDir: String)(request: => CachedQueryResult): (Int, Seq[Int]) = {
      val slices = Option(new java.io.File(cacheDir).listFiles()).toSeq.flatten
        .flatMap(_.listFiles()).filter(_.getName.startsWith("slice-"))
      CountFs.reset()
      request
      (CountFs.docOpens, slices.map(s => CountFs.successChecks(s.getPath)))
    }
    def agg() = reads(aggDir)(aggs.aggregateWithCaching("t", "ts", "1 hour", "v"))
    def query() = reads(rowDir)(rows.queryWithCaching("t", timeCol = Some("ts"),
      selectedConversions = Some(Map.empty)))
    // a miss: the document's live path, aside copy and live path again
    assert(agg() == ((3, Nil)) && query() == ((3, Nil)))
    // a hit without a tail, then with one
    assert(agg() == ((1, Seq(1))) && query() == ((1, Seq(1))))
    tsRows(201, 230).write.mode("append").parquet(src)
    assert(agg() == ((1, Seq(1))) && query() == ((1, Seq(1))))
    tsRows(231, 260).write.mode("append").parquet(src)
    assert(agg() == ((1, Seq(1))) && query() == ((1, Seq(1, 1))))
  }

  test("a zero-row target: both services refresh it, then serve the rows that land") {
    val srcDir = tempDir("graft-cache-empty")
    val src = s"$srcDir/t.parquet"
    tsRows(1, 0).write.mode("overwrite").parquet(src)
    def mgr(name: String) = new QueryCacheManager(new ParquetCacheProvider(spark, tempDir(name)))
    val aggs = new CachedAggService(spark, srcDir, mgr("graft-cache-emptyagg"))
    val rows = new CachedQueryService(spark, srcDir, mgr("graft-cache-emptyrows"))
    def both() = Seq(aggs.aggregateWithCaching("t", "ts", "1 hour", "v"),
      rows.queryWithCaching("t", timeCol = Some("ts"), selectedConversions = Some(Map.empty)))
    // built from no rows, then refreshed with still none
    (1 to 2).foreach(_ => both().foreach(r => assert(r.rowCount == 0 && r.df.count() == 0)))
    tsRows(1, 50).write.mode("append").parquet(src)
    val Seq(a, q) = both()
    assert(a.rowCount == 50 && a.df.collect().map(_.toSeq).toSeq == fullAgg(srcDir))
    assert(q.rowCount == 50 && q.df.select("id").as[Long].collect().toSeq == (1L to 50L))
    // the entries now hold a watermark: the next call is a refresh
    both().foreach(r => assert(r.isIncremental && r.rowCount == 50 && r.newRows == 0))
  }
}

/** The local filesystem under the `countfs` scheme, counting the reads a
  * cache request makes of its entry: opens of an entry document (live
  * path or aside copy) and existence checks of a `_SUCCESS` marker.
  */
class CountFs extends RawLocalFileSystem {
  override def getUri: URI = CountFs.Uri
  override def getScheme: String = CountFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName == "entry.json" || f.getName == ".entry.json.old") CountFs.opened.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def exists(f: Path): Boolean = {
    if (f.getName == "_SUCCESS") CountFs.checked.merge(f.getParent.toUri.getPath, 1, _ + _)
    super.exists(f)
  }
}

object CountFs {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `dir` (an absolute local path) under the `countfs` scheme. */
  def path(dir: String): String = s"$Scheme://$dir"

  private val opened = new AtomicInteger
  private val checked = new ConcurrentHashMap[String, Int]

  def reset(): Unit = { opened.set(0); checked.clear() }
  def docOpens: Int = opened.get
  /** `_SUCCESS` checks of the slice dir at local path `slice`. */
  def successChecks(slice: String): Int = checked.getOrDefault(slice, 0)
}
