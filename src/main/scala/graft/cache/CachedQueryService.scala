package graft.cache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.TypeInference

/** Result of a cached query (enhanced_query_service.py:29-52). */
case class CachedQueryResult(
    df: DataFrame,
    isIncremental: Boolean,
    rowCount: Long,
    newRows: Long)

/** Caching query facade — the reference's EnhancedQueryService
  * (application/enhanced_query_service.py:89-418 `query_with_caching`):
  *
  *  1. no cache (or no watermark)  → INITIAL load: earliest `limit`
  *     rows by the time column, type-converted, cached with the max
  *     timestamp as watermark;
  *  2. cache + time column         → INCREMENTAL load: only rows past
  *     the watermark leave the source (a pushed-down parquet/JDBC
  *     predicate — row groups below the watermark are never read),
  *     converted the same way as the cached slice, unioned with the
  *     cached data, and re-cached with the advanced watermark;
  *  3. nothing new                 → the cached result returns as-is,
  *     zero source work beyond the tail probe.
  *
  * Conversions: `selectedConversions = None` → automatic inference
  * (reference convert_automatic), resolved to a concrete per-column
  * map ONCE at initial load; `Some(empty)` → none; `Some(m)` →
  * exactly `m` (reference convert_selected). The resolved map is
  * recorded in the cache metadata and REAPPLIED verbatim to every
  * incremental slice so merged schemas always line up
  * (enhanced_query_service.py:352-356) — tail slices are never
  * re-inferred.
  *
  * Watermark contract: refresh fetches rows with time STRICTLY past
  * the stored watermark (the reference's `> last_timestamp`) and at or
  * before the new watermark, which the same single tail action that
  * counts the tail probes — so the appended slice, the recorded count
  * and the new watermark describe the same rows, and a sync landing
  * mid-refresh is picked up by the next refresh, once. Late
  * arrivals that EQUAL the watermark are out-of-order data and are not
  * picked up — handle genuinely out-of-order sources with the
  * streaming path (event-time watermarks) or a full reload.
  *
  * Scale: the cached value is a DataFrame behind a [[CacheProvider]] —
  * parquet-backed for durable 100 TB results (a hit is a pruned scan,
  * not a driver-side materialization), memory-backed for dashboard
  * latency. `nowMillis` is injectable for deterministic staleness.
  * Statistics: an initial load counts one miss, a call served from the
  * cached entry one hit (as in [[CachedAggService]]).
  */
class CachedQueryService(spark: SparkSession, dir: String,
                         cache: QueryCacheManager,
                         nowMillis: () => Long = () => System.currentTimeMillis()) {

  def queryWithCaching(table: String, limit: Int = 10000,
                       timeCol: Option[String] = None,
                       selectedConversions: Option[Map[String, String]] = None): CachedQueryResult = {
    val meta = cache.getMetadata(table)
    (timeCol, meta.flatMap(_.lastTimestamp)) match {
      case (Some(tc), Some(_)) =>
        incrementalLoad(table, tc, meta.get, selectedConversions)
      case _ =>
        initialLoad(table, limit, timeCol, selectedConversions)
    }
  }

  /** Query WITHOUT converting, plus the per-column suggestions a
    * caller would pick from (query_with_conversion_options).
    */
  def queryWithConversionOptions(table: String, limit: Int = 10000,
                                 timeCol: Option[String] = None): (CachedQueryResult, Map[String, String]) = {
    val r = queryWithCaching(table, limit, timeCol, Some(Map.empty))
    (r, TypeInference.suggestConversions(r.df))
  }

  def clearCache(table: Option[String] = None): Unit = cache.clearCache(table)

  def getCacheInfo(table: String): Option[CachedQueryMetadata] = cache.getMetadata(table)

  /** Resolve the conversions that WILL be applied. `None` (automatic)
    * resolves to the inferred per-column map up front, so the SAME map
    * is recorded in the cache metadata and reapplied verbatim to every
    * incremental slice — re-inferring on a tail slice could decide
    * differently and corrupt the cached schema on union.
    */
  private def resolveConversions(df: DataFrame,
                                 sel: Option[Map[String, String]]): Map[String, String] =
    sel.getOrElse(TypeInference.suggestConversions(df))

  private def initialLoad(table: String, limit: Int, timeCol: Option[String],
                          sel: Option[Map[String, String]]): CachedQueryResult = {
    val base = Tables.loadNormalized(spark, dir, table)
    // watermark-tie safety: take the earliest `limit` rows, then widen
    // to EVERY row at or before the boundary timestamp — otherwise
    // rows tying the boundary beyond the limit would sit below the
    // stored watermark and no later incremental pull could ever fetch
    // them (silent permanent loss).
    val slice = timeCol match {
      case Some(tc) =>
        Tables.countAndMax(base.orderBy(col(tc)).limit(limit), Some(tc))._2 match {
          case Some(b) => base.filter(col(tc) <= lit(b).cast(base.schema(tc).dataType))
          case None => base.limit(limit) // empty table
        }
      case None => base.limit(limit)
    }
    val conversions = resolveConversions(slice, sel)
    // force: the resolved map is the authoritative schema decision —
    // both the initial slice and every future tail apply it verbatim
    val converted = TypeInference.applyConversions(slice, conversions, force = true)
    val (n, wm) = Tables.countAndMax(converted, timeCol)
    cache.setCachedData(table, converted,
      CachedQueryMetadata(wm, n, nowMillis(), conversions))
    cache.recordMiss()
    val cached = cache.readBack(table).getOrElse(converted)
    CachedQueryResult(ordered(cached, timeCol), isIncremental = false, n, n)
  }

  private def incrementalLoad(table: String, tc: String, meta: CachedQueryMetadata,
                              sel: Option[Map[String, String]]): CachedQueryResult = {
    val base = Tables.loadNormalized(spark, dir, table)
    val tsType = base.schema(tc).dataType
    val wm = meta.lastTimestamp.get
    // pushed predicate: only the tail past the watermark leaves the
    // scan; one action counts it and probes the new watermark
    val fresh = base.filter(col(tc) > lit(wm).cast(tsType))
    val (freshCount, newWm) = Tables.countAndMax(fresh, Some(tc))
    val cached = cache.getCachedData(table)
      .getOrElse(sys.error(s"cache metadata present but data missing for '$table'"))
    if (freshCount == 0)
      CachedQueryResult(ordered(cached, Some(tc)), isIncremental = true, meta.rowCount, 0)
    else {
      // reapply EXACTLY the conversions recorded at initial load (or the
      // caller's override) — never re-infer on the tail slice
      val conversions = sel.getOrElse(meta.selectedConversions)
      val freshConv = TypeInference.applyConversions(
        // newWm is set: the tail has rows past wm
        fresh.filter(col(tc) <= lit(newWm.get).cast(tsType)), conversions, force = true)
      // O(tail) commit: only the fresh slice is written — the provider
      // lists it alongside the already-cached slices, so refresh
      // cost tracks the tail, not the (possibly 100 TB) cached total.
      // select() pins the slice to the cached column order (and errors
      // on a missing column) so every slice shares one schema.
      val aligned = freshConv.select(cached.columns.map(col).toIndexedSeq: _*)
      val n = meta.rowCount + freshCount
      cache.appendCachedData(table, aligned,
        CachedQueryMetadata(newWm, n, nowMillis(), conversions))
      val back = cache.readBack(table).getOrElse(cached.unionByName(freshConv))
      CachedQueryResult(ordered(back, Some(tc)), isIncremental = true, n, freshCount)
    }
  }

  private def ordered(df: DataFrame, timeCol: Option[String]): DataFrame =
    timeCol.fold(df)(tc => df.orderBy(col(tc)))
}
