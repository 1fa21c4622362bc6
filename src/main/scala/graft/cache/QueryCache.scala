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
  * Metadata rides next to the data as a small JSON document; data and
  * metadata COMMIT TOGETHER (versioned entry + atomic pointer swap in
  * the parquet provider) so a crash can never pair a dataset with a
  * stale watermark.
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

/** Durable provider: versioned parquet entries with an atomic pointer.
  *
  * Layout: `dir/<key>/slice-<m>/` (immutable parquet slices, shared
  * across versions) + `dir/<key>/v-<n>/manifest` (newline-separated
  * slice names this version reads) + `dir/<key>/v-<n>/schema.json` +
  * `dir/<key>/v-<n>/meta.json` + `dir/<key>/CURRENT` (one line naming
  * the committed version). Every small file is a [[DocFiles]]
  * document. Commit: (1) write the new slice fully; (2) write
  * manifest + schema + meta; (3) swap CURRENT (the old pointer is
  * parked aside until the new one is in); (4) delete version
  * dirs and slices the new manifest no longer references. Readers
  * resolve CURRENT and fall back to the highest COMPLETE version
  * (manifest slices all `_SUCCESS` + meta.json present), so a crash
  * anywhere leaves either the old or the new complete entry readable
  * — never data paired with the wrong metadata, and never a window
  * where a concurrent reader sees a half-deleted dataset (a committed
  * version's slices are untouched until the next pointer is live).
  *
  * Why slices: an incremental refresh appends a tail manifest entry
  * and writes ONLY the tail (`appendEntry`) — at 100 TB cached + 1%
  * tail, rewriting the full dataset per refresh would dominate the
  * sync. `putEntry` is also the compactor: any full rewrite collapses
  * the entry back to one slice, and `appendEntry` self-compacts once
  * the manifest reaches `compactThreshold` slices, so read fan-in
  * stays bounded however many refreshes run (amortized: one O(total)
  * rewrite per `compactThreshold` O(tail) appends). (Legacy
  * `v-<n>/data` entries without a manifest remain readable; the first
  * append migrates them.)
  *
  * Why a recorded schema: `spark.read.parquet` without one runs a
  * schema-inference job on every read, and a refresh reads its entry
  * twice. The schema is written before `meta.json`, so every complete
  * version written this way has one; `appendEntry` carries it forward
  * (slices share the entry's schema). Versions without one — written
  * before schemas were recorded — read through inference.
  */
class ParquetCacheProvider(spark: SparkSession, dir: String,
                           compactThreshold: Int = 32) extends CacheProvider {
  require(compactThreshold >= 1, s"compactThreshold must be >= 1, got $compactThreshold")

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def keyDir(key: String) = new Path(dir, key)
  private def currentPtr(key: String) = new Path(keyDir(key), "CURRENT")

  private def versionName(n: Long) = f"v-$n%010d"
  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v-")) name.stripPrefix("v-").toLongOption else None
  private def sliceName(n: Long) = f"slice-$n%010d"
  private def parseSlice(name: String): Option[Long] =
    if (name.startsWith("slice-")) name.stripPrefix("slice-").toLongOption else None
  private def manifestPath(vdir: Path) = new Path(vdir, "manifest")
  private def schemaPath(vdir: Path) = new Path(vdir, "schema.json")

  private def metaPath(vdir: Path) = new Path(vdir, "meta.json")

  private def schemaOf(vdir: Path): Option[StructType] =
    DocFiles.read(fs, schemaPath(vdir)).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The parquet dirs a version reads: its manifest's slices, or the
    * legacy in-version `data` dir when no manifest exists.
    */
  private def slicesOf(key: String, vdir: Path): Seq[Path] =
    DocFiles.read(fs, manifestPath(vdir)) match {
      case Some(m) =>
        m.split('\n').map(_.trim).filter(_.nonEmpty).toSeq.map(new Path(keyDir(key), _))
      case None => Seq(new Path(vdir, "data"))
    }

  private def isComplete(key: String, vdir: Path): Boolean =
    DocFiles.exists(fs, metaPath(vdir)) &&
      slicesOf(key, vdir).forall(s => fs.exists(new Path(s, "_SUCCESS")))

  /** The committed version dir: pointer first, highest complete
    * version as crash recovery for an interrupted swap.
    */
  private def resolve(key: String): Option[(Long, Path)] = {
    val kd = keyDir(key)
    if (!fs.exists(kd)) return None
    val fromPtr = DocFiles.read(fs, currentPtr(key)).map(_.trim)
      .flatMap(name => parseVersion(name).map(n => (n, new Path(kd, name))))
      .filter { case (_, p) => isComplete(key, p) }
    fromPtr.orElse {
      fs.listStatus(kd).toSeq
        .flatMap(s => parseVersion(s.getPath.getName).map(_ -> s.getPath))
        .filter { case (_, p) => isComplete(key, p) }
        .sortBy(-_._1)
        .headOption
    }
  }

  private def nextSliceNum(key: String): Long = {
    val kd = keyDir(key)
    if (!fs.exists(kd)) 0L
    else fs.listStatus(kd).toSeq
      .flatMap(s => parseSlice(s.getPath.getName))
      .maxOption.map(_ + 1).getOrElse(0L)
  }

  /** Commit `slices` + meta as version `next`, swap the pointer, then
    * GC version dirs other than `next` and slice dirs the new manifest
    * does not reference. Everything the OLD version reads stays on
    * disk until the new pointer is live.
    */
  private def commitVersion(key: String, next: Long, slices: Seq[String],
                            schema: Option[StructType], metaJson: String): Unit = {
    val vdir = new Path(keyDir(key), versionName(next))
    DocFiles.write(fs, manifestPath(vdir), slices.mkString("\n"))
    schema.foreach(st => DocFiles.write(fs, schemaPath(vdir), st.json))
    DocFiles.write(fs, metaPath(vdir), metaJson)
    DocFiles.write(fs, currentPtr(key), versionName(next))
    val keep = slices.toSet
    fs.listStatus(keyDir(key)).foreach { s =>
      val name = s.getPath.getName
      val stray = parseVersion(name).exists(_ != next) ||
        (parseSlice(name).isDefined && !keep.contains(name))
      if (stray) fs.delete(s.getPath, true)
    }
  }

  override def putEntry(key: String, df: DataFrame, metaJson: String): Unit = {
    val prev = resolve(key)
    val next = prev.map(_._1 + 1).getOrElse(0L)
    val slice = sliceName(nextSliceNum(key))
    // a full-rewrite plan may READ the current version (cached ∪
    // fresh) — the new slice is fully materialized before any slice
    // the old version references is dropped
    df.write.mode("overwrite").parquet(new Path(keyDir(key), slice).toString)
    commitVersion(key, next, Seq(slice), Some(df.schema), metaJson)
  }

  override def appendEntry(key: String, tail: DataFrame, metaJson: String): Unit =
    resolve(key) match {
      case None => putEntry(key, tail, metaJson)
      case Some((_, vdir)) if !DocFiles.exists(fs, manifestPath(vdir)) =>
        // legacy full-dir entry: one-time O(total) migration rewrite
        putEntry(key, getData(key).get.unionByName(tail), metaJson)
      case Some((cur, vdir)) =>
        val prevSlices = slicesOf(key, vdir).map(_.getName)
        if (prevSlices.size + 1 > compactThreshold)
          putEntry(key, getData(key).get.unionByName(tail), metaJson)
        else {
          val slice = sliceName(nextSliceNum(key))
          tail.write.mode("overwrite").parquet(new Path(keyDir(key), slice).toString)
          commitVersion(key, cur + 1, prevSlices :+ slice, schemaOf(vdir), metaJson)
        }
    }

  override def putMeta(key: String, json: String): Unit =
    // metadata-only update inside the committed version (data
    // unchanged): a crash mid-swap leaves the old meta or the new one
    resolve(key).foreach { case (_, vdir) => DocFiles.write(fs, metaPath(vdir), json) }

  override def getData(key: String): Option[DataFrame] =
    resolve(key).map { case (_, p) =>
      val reader = schemaOf(p).fold(spark.read)(spark.read.schema)
      reader.parquet(slicesOf(key, p).map(_.toString): _*)
    }

  override def getMeta(key: String): Option[String] =
    resolve(key).flatMap { case (_, p) => DocFiles.read(fs, metaPath(p)) }

  override def hasEntry(key: String): Boolean = resolve(key).isDefined

  override def delete(key: String): Unit = {
    val kd = keyDir(key)
    if (fs.exists(kd)) fs.delete(kd, true)
  }

  override def clear(): Unit = {
    val d = new Path(dir)
    if (fs.exists(d)) fs.listStatus(d).foreach(s => fs.delete(s.getPath, true))
  }

  /** Garbage-collect crash debris across ALL keys: version dirs other
    * than each key's committed version (a commit interrupted before
    * its pointer swap strands a `v-*`; one interrupted during GC
    * strands older complete versions), slice dirs the committed
    * manifest does not reference (an `appendEntry` interrupted after
    * its tail write), pointer temp and aside copies an interrupted swap
    * left ([[DocFiles.isDebris]]), and key dirs with
    * no complete version at all. Idempotent; committed entries and
    * pointers are never touched, so concurrent readers are unaffected.
    *
    * Concurrent WRITERS are protected by `graceMillis` (default 1 h):
    * debris younger than the grace window is left alone, because an
    * unreferenced slice or version may be an IN-FLIGHT commit that has
    * not swapped its pointer yet — deleting it would make the commit
    * land a manifest naming a missing slice. Pass 0 only when no
    * writer can be active. Returns how many paths were removed.
    */
  def vacuum(graceMillis: Long = 3600000L): Int = {
    val d = new Path(dir)
    if (!fs.exists(d)) return 0
    val cutoff = System.currentTimeMillis() - graceMillis
    // a directory's own mtime is set at creation and NOT refreshed by
    // writes landing deeper inside (parquet tasks stream into nested
    // _temporary attempt dirs) — liveness is the NEWEST mtime anywhere
    // in the subtree, or a write running longer than the grace window
    // would still be vacuumed mid-flight
    def newestMtime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(s => newestMtime(s.getPath))).max
    }
    def oldEnough(s: org.apache.hadoop.fs.FileStatus) =
      newestMtime(s.getPath) <= cutoff
    var removed = 0
    fs.listStatus(d).filter(_.isDirectory).foreach { kd =>
      val key = kd.getPath.getName
      resolve(key) match {
        case Some((keepV, keepDir)) =>
          val keepSlices = slicesOf(key, keepDir).map(_.getName).toSet
          fs.listStatus(kd.getPath).foreach { s =>
            val name = s.getPath.getName
            val stray = parseVersion(name) match {
              case Some(v) => v != keepV
              case None => parseSlice(name) match {
                case Some(_) => !keepSlices.contains(name)
                case None => DocFiles.isDebris(fs, s.getPath)
              }
            }
            if (stray && oldEnough(s)) { fs.delete(s.getPath, true); removed += 1 }
          }
        case None =>
          // no complete version: nothing a reader could resolve — the
          // whole key dir is debris (unless a first commit is in flight)
          if (oldEnough(fs.getFileStatus(kd.getPath))) {
            fs.delete(kd.getPath, true); removed += 1
          }
      }
    }
    removed
  }
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
    val r = provider.getData(entryKey(table, cacheKey))
    if (r.isDefined) hits.incrementAndGet() else misses.incrementAndGet()
    r
  }

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
