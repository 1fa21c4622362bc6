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
  *
  * A request resolves its entry once, with [[CacheProvider.get]]; each
  * commit returns the entry it wrote, and `append` extends the entry
  * the request resolved.
  */
trait CacheProvider {
  /** The committed entry for `key`, data and metadata resolved
    * together, or None when no complete entry is there.
    */
  def get(key: String): Option[CacheEntry]
  /** Atomically commit data AND metadata for `key` and return the
    * committed entry: readers see the previous entry or the new one,
    * never a mix. The pairing matters — cached data committed with a
    * STALE watermark makes the next incremental refresh re-union rows
    * it already holds (duplicates served durably from then on).
    */
  def put(key: String, df: DataFrame, metaJson: String): CacheEntry
  /** Commit `prev` plus `tail` with `metaJson` atomically, writing
    * O(tail) data, and return the committed entry — the refresh path
    * that still works when the cached result is 100 TB and the tail is
    * 1%. `prev` is the entry the request resolved with [[get]], so the
    * data, the watermark and the count the commit records come from one
    * read: a commit that landed for the key in between is replaced,
    * never extended twice. All slices of an entry share the schema fixed
    * at initial load (the service reapplies the recorded conversions
    * verbatim to every tail).
    */
  def append(key: String, prev: CacheEntry, tail: DataFrame, metaJson: String): CacheEntry
  /** Metadata-only update for an existing entry (no-op when absent). */
  def putMeta(key: String, json: String): Unit
  def delete(key: String): Unit
  def clear(): Unit
}

/** One resolved cache entry: the metadata JSON and the data committed
  * with it. The data frame is built on first read.
  */
class CacheEntry(val meta: String, readData: => DataFrame) {
  lazy val data: DataFrame = readData
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
  * A request opens the document and checks each slice's `_SUCCESS`
  * once, in [[get]]; a commit returns the entry it wrote.
  *
  * Why slices: an incremental refresh writes ONLY the tail (`append`)
  * — at 100 TB cached + 1% tail, rewriting the full dataset per
  * refresh would dominate the sync. `put` is also the compactor: any
  * full rewrite collapses the entry back to one slice, and `append`
  * self-compacts once the entry holds
  * [[ParquetCacheProvider.CompactAt]] slices, so read fan-in stays
  * bounded however many refreshes run (amortized: one O(total) rewrite
  * per `CompactAt` O(tail) appends).
  *
  * Why a recorded schema: `spark.read.parquet` without one runs a
  * schema-inference job on every read. `append` carries it forward
  * (slices share the entry's schema).
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

  /** The committed entry, when its document is there and every slice
    * it names is complete.
    */
  private def resolve(key: String): Option[Slices] =
    DocFiles.read(fs, entryPath(key)).flatMap { doc =>
      for {
        schema <- DocFiles.str(doc, "schema")
        meta <- DocFiles.str(doc, "meta")
      } yield new Slices(spark, keyDir(key), DocFiles.strs(doc, "slices"),
        DataType.fromJson(schema).asInstanceOf[StructType], meta)
    }.filter(_.slices.forall(s => fs.exists(new Path(slicePath(key, s), "_SUCCESS"))))

  private def writeEntry(e: Slices): Unit =
    DocFiles.write(fs, new Path(e.keyDir, EntryDoc),
      DocFiles.obj("slices" -> e.slices, "schema" -> e.schema.json, "meta" -> e.meta))

  /** Writes `df` as the key's next slice; returns its name. */
  private def writeSlice(key: String, df: DataFrame): String = {
    val kd = keyDir(key)
    val used = if (!fs.exists(kd)) Nil
      else fs.listStatus(kd).toSeq.flatMap(s => parseSlice(s.getPath.getName))
    val slice = sliceName(used.maxOption.map(_ + 1).getOrElse(0L))
    df.write.mode("overwrite").parquet(slicePath(key, slice).toString)
    slice
  }

  /** Steps 2 and 3 of a commit: the new document, then the slices it no
    * longer names.
    */
  private def commit(key: String, slices: Seq[String], schema: StructType,
                     meta: String): CacheEntry = {
    val e = new Slices(spark, keyDir(key), slices, schema, meta)
    writeEntry(e)
    fs.listStatus(e.keyDir).foreach { s =>
      val name = s.getPath.getName
      if (parseSlice(name).isDefined && !e.slices.contains(name)) fs.delete(s.getPath, true)
    }
    e
  }

  override def get(key: String): Option[CacheEntry] = resolve(key)

  // a full-rewrite plan may READ the current entry (cached ∪ fresh) —
  // the new slice is fully materialized before any slice the old
  // document names is dropped
  override def put(key: String, df: DataFrame, metaJson: String): CacheEntry =
    commit(key, Seq(writeSlice(key, df)), df.schema, metaJson)

  override def append(key: String, prev: CacheEntry, tail: DataFrame,
                      metaJson: String): CacheEntry = prev match {
    case p: Slices if p.keyDir == keyDir(key) && p.slices.size < CompactAt =>
      commit(key, p.slices :+ writeSlice(key, tail), p.schema, metaJson)
    case _ => put(key, prev.data.unionByName(tail), metaJson)
  }

  // same slices, new metadata: a crash mid-swap leaves the old or the new
  override def putMeta(key: String, json: String): Unit =
    resolve(key).foreach(e => writeEntry(new Slices(spark, e.keyDir, e.slices, e.schema, json)))

  override def delete(key: String): Unit = fs.delete(keyDir(key), true)

  override def clear(): Unit = {
    val d = new Path(dir)
    if (fs.exists(d)) fs.listStatus(d).foreach(s => fs.delete(s.getPath, true))
  }

  /** Garbage-collect debris across ALL keys: under a key with a
    * complete entry, everything but the entry document and the slices
    * it names (a slice an `append` cut short after its tail write
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

  /** Slices an entry holds before `append` compacts it to one. */
  val CompactAt = 32

  /** An entry as the document under `keyDir` names it; its data reads
    * those slices.
    */
  private final class Slices(spark: SparkSession, val keyDir: Path, val slices: Seq[String],
                             val schema: StructType, meta: String)
    extends CacheEntry(meta,
      spark.read.schema(schema).parquet(slices.map(new Path(keyDir, _).toString): _*))
}

/** In-process provider: locally checkpointed plans keyed in a
  * concurrent map; [[get]] is one map lookup. Every stored entry is a
  * leaf: an eager `localCheckpoint` materializes it into this
  * application's block manager, so a hit never re-runs — or re-reads
  * the files of — the plan it came from (a sync that rewrites a source
  * partition cannot break a later refresh), and an append's
  * `cached ∪ tail` never deepens the plan. `put` swaps the entry in one
  * map slot, so in-process readers never observe data paired with stale
  * metadata; a replaced entry's blocks are freed right away, so the
  * data of an entry `get` returned is valid until its entry is replaced
  * or deleted.
  */
class MemoryCacheProvider extends CacheProvider {
  private val entries = TrieMap.empty[String, CacheEntry]

  override def get(key: String): Option[CacheEntry] = entries.get(key)

  override def put(key: String, df: DataFrame, metaJson: String): CacheEntry = {
    val cp = df.localCheckpoint(eager = true)
    val e = new CacheEntry(metaJson, cp)
    // only then drop the previous entry — the new plan may READ it
    entries.put(key, e).foreach(release)
    e
  }

  /** Frees a checkpointed entry's blocks (`unpersist()` is a no-op on a
    * checkpointed frame; its data lives in the checkpointed RDD).
    */
  private def release(e: CacheEntry): Unit = e.data.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** In-memory append re-checkpoints prev ∪ tail — the union reads
    * the previous entry's blocks, not the source, so the churn is
    * memory-to-memory. O(tail) durable appends are the parquet
    * provider's job.
    */
  override def append(key: String, prev: CacheEntry, tail: DataFrame,
                      metaJson: String): CacheEntry =
    put(key, prev.data.unionByName(tail), metaJson)

  override def putMeta(key: String, json: String): Unit =
    entries.updateWith(key)(_.map(e => new CacheEntry(json, e.data)))
  override def delete(key: String): Unit = entries.remove(key).foreach(release)
  override def clear(): Unit = {
    entries.values.foreach(release)
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

/** A resolved entry with its metadata parsed: what one request reads
  * and, on a refresh, extends.
  */
case class CacheHit(meta: CachedQueryMetadata, entry: CacheEntry)

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

  private def resolve(table: String, cacheKey: Option[String]): Option[CacheHit] =
    provider.get(entryKey(table, cacheKey))
      .flatMap(e => CachedQueryMetadata.fromJson(e.meta).map(CacheHit(_, e)))

  /** The entry one request refreshes from, resolved once and counted
    * once: a hit when the entry holds a watermark, a miss otherwise (no
    * entry, or one built from no timed rows, which the request rebuilds
    * in full).
    */
  def lookup(table: String, cacheKey: Option[String] = None): Option[CacheHit] = {
    val r = resolve(table, cacheKey).filter(_.meta.lastTimestamp.isDefined)
    (if (r.isDefined) hits else misses).incrementAndGet()
    r
  }

  /** Data and metadata commit as ONE atomic entry, returning its data
    * — see [[CacheProvider.put]] for why the pairing must be atomic.
    */
  def setCachedData(table: String, df: DataFrame, meta: CachedQueryMetadata,
                    cacheKey: Option[String] = None): DataFrame =
    provider.put(entryKey(table, cacheKey), df, CachedQueryMetadata.toJson(meta)).data

  /** Append-commit onto `prev`, the entry the request looked up,
    * returning its data: only `tail` leaves the cluster — see
    * [[CacheProvider.append]] for the O(tail) refresh contract.
    */
  def appendCachedData(table: String, prev: CacheHit, tail: DataFrame,
                       meta: CachedQueryMetadata, cacheKey: Option[String] = None): DataFrame =
    provider.append(entryKey(table, cacheKey), prev.entry, tail,
      CachedQueryMetadata.toJson(meta)).data

  /** The entry's metadata, without counting a hit or a miss. */
  def getMetadata(table: String, cacheKey: Option[String] = None): Option[CachedQueryMetadata] =
    resolve(table, cacheKey).map(_.meta)

  /** True iff a complete entry (data + metadata) is present (reference has_cache). */
  def hasCache(table: String, cacheKey: Option[String] = None): Boolean =
    resolve(table, cacheKey).isDefined

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
