package graft.cache

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.DocFiles

/** Query-result cache: storage providers + the manager that keys data
  * and metadata by (table, cache_key).
  *
  * Reference: src/oracle_duckdb_sync/application/cache_provider.py
  * (`CacheProvider` get/set/has/delete/clear) and
  * application/query_cache_manager.py:51-373 (`QueryCacheManager`,
  * `CachedQueryMetadata`, `invalidate_if_stale`).
  *
  * Spark shape: a cached "value" is a DataFrame, so a provider stores
  * RESULT SETS, not pickled objects —
  *  - [[ParquetCacheProvider]]: one parquet dataset per key on any
  *    Hadoop filesystem. Durable, shared across sessions/executors,
  *    sized for 100 TB results (a cache hit is a parquet scan that
  *    prunes/pushes down like any other table).
  *  - [[MemoryCacheProvider]]: locally checkpointed DataFrames for
  *    single-application dashboard latency; metadata in-process.
  * An entry is its data and a small JSON metadata document, and the
  * two COMMIT TOGETHER (one entry document replaced by a checked swap
  * in the parquet provider, one map slot in the memory provider) so a
  * crash can never pair a dataset with a stale watermark.
  */
trait CacheProvider {
  /** Atomically commit data AND metadata for `key`: readers see the
    * previous entry or the new one, never a mix. The pairing matters —
    * cached data committed with a STALE watermark makes the next
    * incremental refresh re-union rows it already holds (duplicates
    * served durably from then on).
    */
  def putEntry(key: String, df: DataFrame, metaJson: String): Unit
  /** Append `tail` to the existing entry and commit with `metaJson`
    * atomically, writing O(tail) data — the refresh path that still
    * works when the cached result is 100 TB and the tail is 1%. Falls
    * back to a full `putEntry` when no entry exists. All slices of an
    * entry share the schema fixed at initial load (the service
    * reapplies the recorded conversions verbatim to every tail).
    */
  def appendEntry(key: String, tail: DataFrame, metaJson: String): Unit
  /** Metadata-only update for an existing entry (no-op when absent). */
  def putMeta(key: String, json: String): Unit
  def getData(key: String): Option[DataFrame]
  def getMeta(key: String): Option[String]
  /** True iff a COMPLETE entry (data + metadata) is present. */
  def hasEntry(key: String): Boolean
  def delete(key: String): Unit
  def clear(): Unit
}

/** Durable provider: an entry is immutable parquet slices plus one
  * entry document.
  *
  * Layout: `dir/<key>/slice-<m>/` (parquet dirs, never rewritten) and
  * `dir/<key>/entry.json`, a [[DocFiles]] document holding the slices
  * the entry reads, the schema recorded at commit and the caller's
  * metadata JSON. Commit: (1) write the new slice fully; (2) replace
  * the entry document with [[DocFiles.write]]'s checked swap; (3)
  * delete the slices the document no longer names. At every crash
  * point a reader sees the old complete entry or the new one (the
  * document's aside copy serves while a swap is cut short), never data
  * paired with the wrong metadata, and a slice the old document names
  * stays on disk until the new document is in. An entry whose slices
  * are not all `_SUCCESS`-complete, or a key without an entry document
  * (an earlier on-disk layout), reads as a miss: the cache holds
  * derived data, so the next request rebuilds it, and [[vacuum]]
  * removes the files left behind.
  *
  * Why slices: an incremental refresh writes ONLY the tail
  * (`appendEntry`) — at 100 TB cached + 1% tail, rewriting the full
  * dataset per refresh would dominate the sync. `putEntry` is also the
  * compactor: any full rewrite collapses the entry back to one slice,
  * and `appendEntry` self-compacts once the entry holds
  * [[ParquetCacheProvider.CompactAt]] slices, so read fan-in stays
  * bounded however many refreshes run (amortized: one O(total) rewrite
  * per `CompactAt` O(tail) appends).
  *
  * Why a recorded schema: `spark.read.parquet` without one runs a
  * schema-inference job on every read, and a refresh reads its entry
  * twice. `appendEntry` carries it forward (slices share the entry's
  * schema).
  */
class ParquetCacheProvider(spark: SparkSession, dir: String) extends CacheProvider {
  import ParquetCacheProvider._

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def keyDir(key: String) = new Path(dir, key)
  private def entryPath(key: String) = new Path(keyDir(key), EntryDoc)
  private def slicePath(key: String, slice: String) = new Path(keyDir(key), slice)

  private def sliceName(n: Long) = f"slice-$n%010d"
  private def parseSlice(name: String): Option[Long] =
    if (name.startsWith("slice-")) name.stripPrefix("slice-").toLongOption else None

  private case class Entry(slices: Seq[String], schema: StructType, meta: String)

  /** The committed entry, when its document is there and every slice
    * it names is complete.
    */
  private def resolve(key: String): Option[Entry] =
    DocFiles.read(fs, entryPath(key)).flatMap { doc =>
      for {
        schema <- DocFiles.str(doc, "schema")
        meta <- DocFiles.str(doc, "meta")
      } yield Entry(DocFiles.strs(doc, "slices"),
        DataType.fromJson(schema).asInstanceOf[StructType], meta)
    }.filter(_.slices.forall(s => fs.exists(new Path(slicePath(key, s), "_SUCCESS"))))

  private def writeEntry(key: String, e: Entry): Unit =
    DocFiles.write(fs, entryPath(key),
      DocFiles.obj("slices" -> e.slices, "schema" -> e.schema.json, "meta" -> e.meta))

  private def nextSlice(key: String): String = {
    val kd = keyDir(key)
    val used = if (!fs.exists(kd)) Nil
      else fs.listStatus(kd).toSeq.flatMap(s => parseSlice(s.getPath.getName))
    sliceName(used.maxOption.map(_ + 1).getOrElse(0L))
  }

  /** Steps 2 and 3 of a commit: the new document, then the slices it no
    * longer names.
    */
  private def commit(key: String, e: Entry): Unit = {
    writeEntry(key, e)
    fs.listStatus(keyDir(key)).foreach { s =>
      val name = s.getPath.getName
      if (parseSlice(name).isDefined && !e.slices.contains(name)) fs.delete(s.getPath, true)
    }
  }

  private def read(key: String, e: Entry): DataFrame =
    spark.read.schema(e.schema).parquet(e.slices.map(slicePath(key, _).toString): _*)

  override def putEntry(key: String, df: DataFrame, metaJson: String): Unit = {
    val slice = nextSlice(key)
    // a full-rewrite plan may READ the current entry (cached ∪ fresh)
    // — the new slice is fully materialized before any slice the old
    // document names is dropped
    df.write.mode("overwrite").parquet(slicePath(key, slice).toString)
    commit(key, Entry(Seq(slice), df.schema, metaJson))
  }

  override def appendEntry(key: String, tail: DataFrame, metaJson: String): Unit =
    resolve(key) match {
      case None => putEntry(key, tail, metaJson)
      case Some(e) if e.slices.size >= CompactAt =>
        putEntry(key, read(key, e).unionByName(tail), metaJson)
      case Some(e) =>
        val slice = nextSlice(key)
        tail.write.mode("overwrite").parquet(slicePath(key, slice).toString)
        commit(key, e.copy(slices = e.slices :+ slice, meta = metaJson))
    }

  // same slices, new metadata: a crash mid-swap leaves the old or the new
  override def putMeta(key: String, json: String): Unit =
    resolve(key).foreach(e => writeEntry(key, e.copy(meta = json)))

  override def getData(key: String): Option[DataFrame] = resolve(key).map(read(key, _))

  override def getMeta(key: String): Option[String] = resolve(key).map(_.meta)

  override def hasEntry(key: String): Boolean = resolve(key).isDefined

  override def delete(key: String): Unit = {
    val kd = keyDir(key)
    if (fs.exists(kd)) fs.delete(kd, true)
  }

  override def clear(): Unit = {
    val d = new Path(dir)
    if (fs.exists(d)) fs.listStatus(d).foreach(s => fs.delete(s.getPath, true))
  }

  /** Garbage-collect debris across ALL keys: under a key with a
    * complete entry, everything but the entry document and the slices
    * it names (a slice an `appendEntry` cut short after its tail write
    * left, a temp copy of the document, files of an earlier on-disk
    * layout); a key dir with no complete entry, whole. Idempotent;
    * committed entries are never touched, so concurrent readers are
    * unaffected.
    *
    * Concurrent WRITERS are protected by `graceMillis` (default 1 h):
    * debris that changed within the grace window is left alone
    * ([[DocFiles.idle]]), because an unnamed slice or a temp document
    * may belong to an IN-FLIGHT commit — deleting it would make the
    * commit land a document naming a missing slice. Pass 0 only when no
    * writer can be active. Returns how many paths were removed.
    */
  def vacuum(graceMillis: Long = 3600000L): Int = {
    val d = new Path(dir)
    if (!fs.exists(d)) return 0
    val cutoff = System.currentTimeMillis() - graceMillis
    def remove(p: Path): Int =
      if (DocFiles.idle(fs, p, cutoff)) { fs.delete(p, true); 1 } else 0
    fs.listStatus(d).filter(_.isDirectory).map(_.getPath).map { kd =>
      resolve(kd.getName) match {
        case Some(e) =>
          // the aside copy IS the entry while a swap is cut short
          def kept(p: Path) = p.getName == EntryDoc || e.slices.contains(p.getName) ||
            (p.getName == s".$EntryDoc.old" && !DocFiles.isDebris(fs, p))
          fs.listStatus(kd).map(_.getPath).filterNot(kept).map(remove).sum
        case None => remove(kd)
      }
    }.sum
  }
}

object ParquetCacheProvider {
  /** The entry document's name under each key dir. */
  private val EntryDoc = "entry.json"

  /** Slices an entry holds before `appendEntry` compacts it to one. */
  val CompactAt = 32
}

/** In-process provider: locally checkpointed plans keyed in a
  * concurrent map. Every stored entry is a leaf: an eager
  * `localCheckpoint` materializes it into this application's block
  * manager, so a hit never re-runs — or re-reads the files of — the
  * plan it came from (a sync that rewrites a source partition cannot
  * break a later refresh), and an append's `cached ∪ tail` never
  * deepens the plan. `putEntry` swaps the (data, meta) pair under the
  * entry's lock, so in-process readers never observe data paired with
  * stale metadata; a replaced entry's blocks are freed right away, so
  * a frame `getData` returned is valid until its entry is replaced or
  * deleted.
  */
class MemoryCacheProvider extends CacheProvider {
  private val entries = TrieMap.empty[String, (DataFrame, String)]

  override def putEntry(key: String, df: DataFrame, metaJson: String): Unit = {
    val cp = df.localCheckpoint(eager = true)
    // only then drop the previous entry — the new plan may READ it
    entries.put(key, (cp, metaJson)).foreach(e => release(e._1))
  }

  /** Frees a checkpointed entry's blocks (`unpersist()` is a no-op on a
    * checkpointed frame; its data lives in the checkpointed RDD).
    */
  private def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** In-memory append re-checkpoints cached ∪ tail — the union reads
    * the previous entry's blocks, not the source, so the churn is
    * memory-to-memory. O(tail) durable appends are the parquet
    * provider's job.
    */
  override def appendEntry(key: String, tail: DataFrame, metaJson: String): Unit =
    putEntry(key, getData(key).map(_.unionByName(tail)).getOrElse(tail), metaJson)

  override def putMeta(key: String, json: String): Unit =
    entries.updateWith(key)(_.map { case (df, _) => (df, json) })
  override def getData(key: String): Option[DataFrame] = entries.get(key).map(_._1)
  override def getMeta(key: String): Option[String] = entries.get(key).map(_._2)
  override def hasEntry(key: String): Boolean = entries.contains(key)
  override def delete(key: String): Unit = entries.remove(key).foreach(e => release(e._1))
  override def clear(): Unit = {
    entries.values.foreach(e => release(e._1))
    entries.clear()
  }
}

/** Metadata for a cached query result — what incremental refresh and
  * staleness invalidation need (query_cache_manager.py:22-49).
  */
case class CachedQueryMetadata(
    lastTimestamp: Option[String],
    rowCount: Long,
    cachedAtMillis: Long,
    selectedConversions: Map[String, String] = Map.empty)

object CachedQueryMetadata {
  def toJson(m: CachedQueryMetadata): String = DocFiles.obj(
    "last_timestamp" -> m.lastTimestamp, "row_count" -> m.rowCount,
    "cached_at" -> m.cachedAtMillis, "selected_conversions" -> m.selectedConversions)

  def fromJson(json: String): Option[CachedQueryMetadata] =
    for {
      rc <- DocFiles.num(json, "row_count")
      ca <- DocFiles.num(json, "cached_at")
    } yield CachedQueryMetadata(
      lastTimestamp = DocFiles.str(json, "last_timestamp"),
      rowCount = rc,
      cachedAtMillis = ca,
      selectedConversions = DocFiles.strs(json, "selected_conversions")
        .grouped(2).collect { case Seq(k, v) => k -> v }.toMap)
}

/** Cache manager: (table, optional cache_key) → data + metadata, with
  * hit/miss statistics and age-based invalidation. `nowMillis` is
  * injectable so staleness is deterministic under test.
  */
class QueryCacheManager(provider: CacheProvider,
                        nowMillis: () => Long = () => System.currentTimeMillis()) {

  // AtomicLong: a manager may be shared across caller threads (e.g. a
  // query service handling concurrent requests); plain vars would drop
  // increments under contention
  private val hits = new java.util.concurrent.atomic.AtomicLong(0L)
  private val misses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Escape a key component so the '_' join and the filesystem path
    * are unambiguous: without it (table="a", key="b") and
    * (table="a_b", no key) would collide on "a_b" and silently
    * overwrite each other. The escaped alphabet never contains '_',
    * '/', or '%', so the join below round-trips uniquely and the key
    * is path-safe.
    */
  private def esc(s: String): String = s.flatMap {
    case '%' => "%25"
    case '_' => "%5F"
    case '/' => "%2F"
    case '\\' => "%5C"
    case ':' => "%3A"
    case '.' => "%2E"
    case c => c.toString
  }

  private def entryKey(table: String, custom: Option[String]) =
    custom.fold(esc(table))(k => s"${esc(table)}_${esc(k)}")

  def getCachedData(table: String, cacheKey: Option[String] = None): Option[DataFrame] = {
    val r = readBack(table, cacheKey)
    if (r.isDefined) hits.incrementAndGet() else misses.incrementAndGet()
    r
  }

  /** The entry's data without counting a hit or a miss: a service
    * reading back what it has just committed.
    */
  private[cache] def readBack(table: String, cacheKey: Option[String] = None): Option[DataFrame] =
    provider.getData(entryKey(table, cacheKey))

  /** Counts a request that found no usable entry and built one cold. */
  private[cache] def recordMiss(): Unit = misses.incrementAndGet()

  /** Data and metadata commit as ONE atomic entry — see
    * [[CacheProvider.putEntry]] for why the pairing must be atomic.
    */
  def setCachedData(table: String, df: DataFrame, meta: CachedQueryMetadata,
                    cacheKey: Option[String] = None): Unit =
    provider.putEntry(entryKey(table, cacheKey), df, CachedQueryMetadata.toJson(meta))

  /** Append-commit: only `tail` leaves the cluster — see
    * [[CacheProvider.appendEntry]] for the O(tail) refresh contract.
    */
  def appendCachedData(table: String, tail: DataFrame, meta: CachedQueryMetadata,
                       cacheKey: Option[String] = None): Unit =
    provider.appendEntry(entryKey(table, cacheKey), tail, CachedQueryMetadata.toJson(meta))

  def getMetadata(table: String, cacheKey: Option[String] = None): Option[CachedQueryMetadata] =
    provider.getMeta(entryKey(table, cacheKey)).flatMap(CachedQueryMetadata.fromJson)

  /** True iff a complete entry (data + metadata) is present (reference has_cache). */
  def hasCache(table: String, cacheKey: Option[String] = None): Boolean =
    provider.hasEntry(entryKey(table, cacheKey))

  /** Clear one (table, key) entry, or everything when `table` is None.
    * Statistics reset either way (reference clear_cache).
    */
  def clearCache(table: Option[String] = None, cacheKey: Option[String] = None): Unit = {
    table match {
      case Some(t) => provider.delete(entryKey(t, cacheKey))
      case None => provider.clear()
    }
    hits.set(0L)
    misses.set(0L)
  }

  /** Merge metadata field updates without replacing the whole record. */
  def updateMetadata(table: String, update: CachedQueryMetadata => CachedQueryMetadata,
                     cacheKey: Option[String] = None): Unit =
    getMetadata(table, cacheKey).foreach { m =>
      provider.putMeta(entryKey(table, cacheKey), CachedQueryMetadata.toJson(update(m)))
    }

  /** Drop the entry if it is older than `maxAgeSeconds`; returns true
    * iff invalidated (reference invalidate_if_stale).
    */
  def invalidateIfStale(table: String, maxAgeSeconds: Long,
                        cacheKey: Option[String] = None): Boolean =
    getMetadata(table, cacheKey) match {
      case Some(m) if (nowMillis() - m.cachedAtMillis) / 1000.0 > maxAgeSeconds =>
        clearCache(Some(table), cacheKey)
        true
      case _ => false
    }

  /** (hits, misses, hitRate) since construction or the last clear.
    * Best-effort snapshot: hits and misses are read (and reset by
    * clearCache) independently, so a concurrent caller can observe a
    * count from mid-update (e.g. a hit without its denominator). Fine
    * for monitoring; don't build invariants on exact ratios.
    */
  def statistics: (Long, Long, Double) = {
    val (h, m) = (hits.get(), misses.get())
    val total = h + m
    (h, m, if (total == 0) 0.0 else h.toDouble / total)
  }
}
