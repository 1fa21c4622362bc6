package graft.cache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.IncrementalAgg

/** Cached TIME-BUCKET AGGREGATES: the dashboard-latency core of the
  * reference's caching layer married to mergeable aggregate state.
  *
  * Where [[CachedQueryService]] caches raw rows, this caches the
  * bucket STATE (count / decimal sum / min / max per bucket) and
  * refreshes it by aggregating ONLY the watermark tail and merging —
  * `state(old ∪ fresh) = merge(state(old), state(fresh))` exactly
  * (IncrementalAgg's decimal-sum argument), so a refresh is
  * bit-identical to a full recompute while reading only new rows.
  *
  * At 100 TB: the cached state is buckets × 4 values (tiny — it
  * broadcasts), the refresh scan is a pushed time-range predicate, and
  * the merge shuffles state rows, never history.
  *
  * Watermark contract (same as CachedQueryService): refresh reads rows
  * STRICTLY past the stored watermark, bounded above by the new
  * watermark its one tail action probes (`count` + `max` together), so
  * the recorded count, the new watermark and the merged rows describe
  * the same rows — a sync landing mid-refresh waits for the next one.
  * The bit-identical guarantee holds for append-in-time-order sources;
  * late arrivals that EQUAL the watermark are out-of-order data —
  * handle those with the streaming path (event-time watermarks) or
  * clearCache + rebuild.
  */
class CachedAggService(spark: SparkSession, dir: String,
                       cache: QueryCacheManager,
                       nowMillis: () => Long = () => System.currentTimeMillis()) {

  private def aggKey(timeCol: String, interval: String, valueCol: String) =
    Some(s"agg_${timeCol}_${interval.replace(' ', '_')}_$valueCol")

  /** The one refresh flow behind every cached state: on a miss, state
    * over the whole table; on a hit, `merge(cached, build(tail))`. One
    * action probes the tail's row count and new watermark, and the tail
    * built is bounded by that watermark (rows with a null time stay in
    * an initial build, as a full recompute counts them). The manager's
    * statistics count one miss per cold build and one hit per call
    * served from an existing entry; reading back a commit counts
    * neither.
    */
  private def refresh(table: String, key: Option[String], timeCol: String,
                      build: DataFrame => DataFrame,
                      merge: (DataFrame, DataFrame) => DataFrame,
                      read: DataFrame => DataFrame): CachedQueryResult = {
    val meta = cache.getMetadata(table, key)
    val base = Tables.loadNormalized(spark, dir, table)
    val tsType = base.schema(timeCol).dataType
    val wm = meta.flatMap(_.lastTimestamp)
    val fresh = wm.fold(base)(w => base.filter(col(timeCol) > lit(w).cast(tsType)))
    val (freshCount, newWm) = Tables.countAndMax(fresh, Some(timeCol))
    val cached = wm.map(_ => cache.getCachedData(table, key)
      .getOrElse(sys.error(s"cache metadata present but state missing for '$table' ($key)")))
    if (cached.isEmpty) cache.recordMiss()
    val prevCount = if (cached.isDefined) meta.get.rowCount else 0L
    cached match {
      case Some(state) if freshCount == 0 =>
        CachedQueryResult(read(state), isIncremental = true, prevCount, 0)
      case _ =>
        val tail = build(fresh.filter(
          coalesce(col(timeCol) <= lit(newWm.orNull).cast(tsType), lit(true))))
        val state = cached.fold(tail)(merge(_, tail))
        val n = prevCount + freshCount
        cache.setCachedData(table, state, CachedQueryMetadata(newWm, n, nowMillis()), key)
        val back = cache.readBack(table, key).getOrElse(state)
        CachedQueryResult(read(back), isIncremental = cached.isDefined, n, freshCount)
    }
  }

  /** The bucketed aggregate of `table`, served from cached state —
    * initial full aggregation on first call, merge-only refresh after.
    * Output shape matches `TimeBucketAgg.bucketed` (bucket_ts,
    * point_count, value_avg, value_min, value_max).
    */
  def aggregateWithCaching(table: String, timeCol: String, interval: String,
                           valueCol: String): CachedQueryResult =
    refresh(table, aggKey(timeCol, interval, valueCol), timeCol,
      IncrementalAgg.bucketState(_, timeCol, interval, valueCol),
      IncrementalAgg.mergeStates, IncrementalAgg.readState)

  def clearCache(table: String, timeCol: String, interval: String,
                 valueCol: String): Unit =
    cache.clearCache(Some(table), aggKey(timeCol, interval, valueCol))

  private def histKey(timeCol: String, interval: String, valueCol: String,
                      lo: Double, hi: Double, nBins: Int) =
    Some(s"hist_${timeCol}_${interval.replace(' ', '_')}_${valueCol}_${lo}_${hi}_$nBins")

  /** Per-bucket quantiles served from cached HISTOGRAM state — same
    * merge-only refresh contract as [[aggregateWithCaching]], with the
    * same bit-identical guarantee (bin counts are exact integers, so
    * element-wise merge IS the recompute). The domain/bin parameters
    * are part of the cache key: changing them starts a fresh state.
    */
  def quantilesWithCaching(table: String, timeCol: String, interval: String,
                           valueCol: String, lo: Double, hi: Double,
                           nBins: Int, qs: Seq[Double]): CachedQueryResult =
    refresh(table, histKey(timeCol, interval, valueCol, lo, hi, nBins), timeCol,
      IncrementalAgg.histState(_, timeCol, interval, valueCol, lo, hi, nBins),
      IncrementalAgg.mergeHistStates, IncrementalAgg.quantilesFromState(_, lo, hi, qs))
}
