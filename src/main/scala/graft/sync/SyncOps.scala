package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The reference's sync-engine surface re-expressed as declarative
  * Spark transforms.
  *
  * Reference anchors:
  *  - full sync:        src/oracle_duckdb_sync/database/sync_engine.py:102
  *  - incremental sync: src/oracle_duckdb_sync/database/sync_engine.py:180 and
  *                      src/oracle_duckdb_sync/database/oracle_source.py:239-240
  *                      (`WHERE col > last_value ORDER BY col ASC`)
  *  - PK upsert:        src/oracle_duckdb_sync/database/duckdb_source.py:74
  *                      (`INSERT OR REPLACE` == keep latest row per key)
  *  - keep-last dedup:  src/oracle_duckdb_sync/data/incremental_loader.py:196
  *  - merge slices:     src/oracle_duckdb_sync/data/incremental_loader.py:139
  *                      (concat + sort by time column)
  *
  * Scale notes (100 TB):
  *  - `incremental` is a parquet-pushed predicate — row groups outside
  *    the watermark are skipped via min/max stats, so an incremental
  *    pull reads only the new tail, exactly like the reference's
  *    indexed Oracle range scan.
  *  - `upsertKeepLatest`/`dedupKeepLast` shuffle once on the key
  *    columns (window row_number). AQE splits skewed key partitions;
  *    no driver-side state.
  *  - `mergeSlices` is a union (no shuffle) — the global sort is only
  *    applied when the caller needs total order; for re-writing a
  *    partitioned table, sortWithinPartitions suffices.
  */
object SyncOps {

  /** Full-table snapshot: scan everything, in deterministic key order. */
  def fullSnapshot(table: DataFrame, orderCols: Seq[String]): DataFrame =
    table.orderBy(orderCols.map(col): _*)

  /** Rows strictly past the watermark, time-ordered (incremental pull).
    * The filter is pushed into the parquet scan. The watermark literal
    * casts to the COLUMN's own type — a numeric or string time column
    * works the same as a timestamp one (a hard timestamp cast would
    * throw under ANSI mode, or silently match nothing without it).
    */
  def incremental(table: DataFrame, timeCol: String, watermark: String,
                  tieBreak: Seq[String] = Nil): DataFrame =
    table
      .filter(col(timeCol) > lit(watermark).cast(table.schema(timeCol).dataType))
      .orderBy((timeCol +: tieBreak).map(col): _*)

  /** Keep the latest row per primary key — the batch equivalent of the
    * reference's INSERT OR REPLACE upsert. Latest = max (timeCol,
    * tieBreak...) per key; tieBreak makes the result total.
    */
  def upsertKeepLatest(table: DataFrame, keys: Seq[String], timeCol: String,
                       tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).desc, col(tieBreak).desc)
    table.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** keep='last' dedup on unique columns, where "last" is last in
    * (timeCol, tieBreak) order — the reference dedupes a time-sorted
    * frame, so frame order IS time order.
    */
  def dedupKeepLast(table: DataFrame, uniqueCols: Seq[String],
                    timeCol: String, tieBreak: String): DataFrame =
    upsertKeepLatest(table, uniqueCols, timeCol, tieBreak)

  /** One full incremental-sync application: merge freshly-pulled rows
    * into the target and keep the latest version per key — the batch
    * equivalent of the reference's fetch-then-INSERT-OR-REPLACE cycle
    * (sync_engine.py:180 + duckdb_source.py:74) as a single shuffle.
    */
  def applyIncremental(target: DataFrame, fresh: DataFrame, keys: Seq[String],
                       timeCol: String, tieBreak: String): DataFrame =
    upsertKeepLatest(target.unionByName(fresh), keys, timeCol, tieBreak)

  /** Schema EVOLUTION for incremental sync — the drift a long-running
    * sync pipeline meets when the source table changes between runs
    * (a column added, a numeric widened, an old column dropped from
    * the feed): reconcile the standing target's schema with an
    * incoming batch's and return both frames aligned to the merged
    * schema.
    *
    * Rules (the conservative lossless set):
    *  - column only in target → batch gains it null-filled
    *  - column only in batch  → target gains it null-filled (new
    *    column semantics: history has no value)
    *  - same name, widenable types → both cast to the wider type:
    *    integral ladder byte→short→int→long, fractional float→double,
    *    and EXACT integral→fractional promotions (int and below into
    *    double; long→double would silently lose precision and is
    *    rejected)
    *  - anything else → IllegalArgumentException naming the column —
    *    schema drift a sync run must surface, never paper over
    *
    * Column order: target's columns first (stable layout for the
    * standing table), then new batch columns in batch order. Pure
    * per-row casts — zero shuffle; the merged schema is computed from
    * schemas alone, no data scan.
    */
  def evolveSchema(target: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val frac: Seq[DataType] = Seq(FloatType, DoubleType)
    def widened(name: String, a: DataType, b: DataType): DataType =
      if (a == b) a
      else {
        val (ia, ib) = (integral.indexOf(a), integral.indexOf(b))
        val (fa, fb) = (frac.indexOf(a), frac.indexOf(b))
        if (ia >= 0 && ib >= 0) integral(math.max(ia, ib))
        else if (fa >= 0 && fb >= 0) frac(math.max(fa, fb))
        else if (ia >= 0 && ia <= 2 && fb >= 0) DoubleType
        else if (ib >= 0 && ib <= 2 && fa >= 0) DoubleType
        else throw new IllegalArgumentException(
          s"incompatible schema change on '$name': $a vs $b")
      }
    val tTypes = target.schema.fields.map(f => f.name -> f.dataType).toMap
    val bTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val order = target.schema.fieldNames ++
      batch.schema.fieldNames.filterNot(tTypes.contains)
    val merged = order.map { c =>
      c -> ((tTypes.get(c), bTypes.get(c)) match {
        case (Some(a), Some(b)) => widened(c, a, b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => throw new IllegalStateException(c)
      })
    }
    def align(df: DataFrame, own: Map[String, org.apache.spark.sql.types.DataType]) =
      df.select(merged.map { case (c, t) =>
        (if (own.contains(c)) col(c).cast(t) else lit(null).cast(t)).as(c)
      }: _*)
    (align(target, tTypes), align(batch, bTypes))
  }

  /** [[applyIncremental]] across schema drift: evolve both sides to
    * the merged schema, then the usual one-shuffle keep-latest upsert.
    */
  def applyIncrementalEvolved(target: DataFrame, fresh: DataFrame,
                              keys: Seq[String], timeCol: String,
                              tieBreak: String): DataFrame = {
    val (t, f) = evolveSchema(target, fresh)
    applyIncremental(t, f, keys, timeCol, tieBreak)
  }

  /** Source↔target RECONCILIATION — the scale form of the reference's
    * post-sync sanity checks (row counts, sync_engine.py:343): per-key
    * row-hash comparison reporting every divergent key as
    * `missing_in_target` / `missing_in_source` / `changed`; matching
    * keys are not emitted.
    *
    * Scale shape: each side projects to (keys, md5-of-compared-columns)
    * BEFORE the join, so the full-outer join shuffles keys + a 16-byte
    * digest — never the rows; at 100 TB the reconciliation costs two
    * narrow scans and one key exchange. The digest uses the portable
    * md5(concat_ws) form (string/integer columns render identically
    * across engines; a 0x01 separator and 0x02 null sentinel keep
    * ("a",null) ≠ ("a","") ≠ ("a")).
    */
  def reconcile(source: DataFrame, target: DataFrame,
                keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && compareCols.nonEmpty,
      "reconcile needs at least one key and one compared column")
    def proj(df: DataFrame, tag: String) = df.select(
      keyCols.map(col) :+ md5(concat_ws("\u0001",
        compareCols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*))
        .as(s"__h_$tag"): _*)
    proj(source, "s").join(proj(target, "t"), keyCols, "full_outer")
      .withColumn("status",
        when(col("__h_s").isNull, lit("missing_in_source"))
          .when(col("__h_t").isNull, lit("missing_in_target"))
          .when(col("__h_s") =!= col("__h_t"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(keyCols.map(col) :+ col("status"): _*)
      .orderBy(keyCols.head, keyCols.tail :+ "status": _*)
  }

  /** Source-side DELETE detection — the blind spot of every
    * watermark-based incremental sync (reference sync_engine.py's
    * incremental pull only ever sees rows that still EXIST; a row
    * deleted at the source simply stops arriving and the standing
    * target keeps it forever). The standard remedy is a periodic
    * key reconcile: pull the source's CURRENT key set (keys only —
    * at 100 TB the exchange carries 8-byte keys, never rows) and
    * anti-join the standing target against it; survivors of the
    * anti-join are tombstones.
    *
    * Direction matters: keys that are NEW at the source (not yet
    * synced) must not surface here — the anti-join runs target-minus-
    * source, so unseen source keys are simply absent. Duplicate key
    * rows in the source snapshot are harmless (anti-join semantics
    * are set semantics).
    */
  def detectDeletes(target: DataFrame, sourceKeys: DataFrame,
                    keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "detectDeletes needs at least one key column")
    target.join(sourceKeys.select(keys.map(col): _*), keys, "left_anti")
      .select(target.columns.map(col): _*) // using-join hoists keys; keep target layout
  }

  /** Apply source-side deletes: the standing target restricted to
    * keys the source still has — [[detectDeletes]]'s complement, as
    * one left-semi join (same keys-only exchange accounting).
    */
  def applyDeletes(target: DataFrame, sourceKeys: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "applyDeletes needs at least one key column")
    target.join(sourceKeys.select(keys.map(col): _*), keys, "left_semi")
      .select(target.columns.map(col): _*)
  }

  /** CDC changelog materialization — apply an ordered stream of
    * insert/update/delete operations to a standing snapshot, the way
    * a warehouse consumes a database's change feed (Debezium-style
    * envelopes reduce to exactly this): per key, the LAST log entry
    * in (orderCol, tieBreak) order wins; a final `delete` removes the
    * key, anything else (insert and update are deliberately the same
    * — upsert semantics absorb replays and out-of-sync snapshots)
    * replaces the target row; keys the log never touches pass
    * through. Output keeps the target's exact layout.
    *
    * Scale shape: the log (typically a small fraction of the target)
    * pays one key exchange for its keep-latest; the target pays the
    * untouched-keys anti-join ([[detectDeletes]] against the log's
    * key set — keys-only exchange, AQE broadcasts a small log). The
    * target is never windowed and never carries op/version columns.
    */
  def applyChangeLog(target: DataFrame, log: DataFrame, keys: Seq[String],
                     opCol: String, orderCol: String,
                     tieBreak: String): DataFrame = {
    require(keys.nonEmpty, "applyChangeLog needs at least one key column")
    val untouched = detectDeletes(target, log, keys)
    val applied = upsertKeepLatest(log, keys, orderCol, tieBreak)
      .filter(col(opCol) =!= "delete")
      .select(target.columns.map(col): _*)
    untouched.unionByName(applied)
  }

  /** Type-2 slowly-changing-dimension history from a versioned change
    * feed — the OTHER standard answer (besides keep-latest upsert) to
    * "the same key arrived again with different attributes": instead
    * of overwriting, keep every attribute VERSION as a validity
    * interval. One output row per maximal run of consecutive equal
    * `attrCols` per key, carrying `valid_from` (first arrival of the
    * run), `valid_to` (the NEXT run's valid_from — half-open
    * intervals, so versions tile time with no gaps), and `is_current`
    * (the open interval). Consecutive arrivals with UNCHANGED
    * attributes extend the current interval rather than opening a new
    * version — re-delivered identical rows don't fragment history.
    *
    * Total order per key is (timeCol, tieBreak); attribute comparison
    * is null-safe (a null attribute value is a value, not a wildcard).
    *
    * Scale shape: ONE key-keyed exchange. The change-point filter and
    * the valid_to lead both run over the same (key) partitioning and
    * (time, tieBreak) ordering, so Catalyst plans a single shuffle +
    * sort and the second window rides the first's output unexchanged;
    * the lead runs over the (usually much smaller) change-point rows.
    */
  def scd2(changes: DataFrame, keys: Seq[String], attrCols: Seq[String],
           timeCol: String, tieBreak: String): DataFrame = {
    require(keys.nonEmpty && attrCols.nonEmpty,
      "scd2 needs at least one key and one attribute column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol), col(tieBreak))
    val attrs = struct(attrCols.map(col): _*)
    changes
      .withColumn("__new_version", !(lag(attrs, 1).over(w) <=> attrs))
      .filter(col("__new_version"))
      .withColumn("valid_from", col(timeCol))
      .withColumn("valid_to", lead(col(timeCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ attrCols ++
        Seq("valid_from", "valid_to", "is_current")).map(col): _*)
  }

  /** INCREMENTAL [[scd2]] — merge a batch of strictly-LATER changes
    * into an existing history table without reprocessing the past:
    * the sync engine's fetch-only-the-delta philosophy applied to
    * dimension history. Per key:
    *
    *  - keys the batch never touches: history rows pass through;
    *  - touched keys: CLOSED intervals pass through untouched (the
    *    past is immutable), and the OPEN interval re-enters [[scd2]]
    *    as a seed row carrying the current attributes at their
    *    valid_from — so a batch whose first change matches the
    *    current attributes extends the open interval (no fragment),
    *    and a differing change closes it at exactly the right
    *    boundary. `scd2Delta(scd2(changes ≤ T), changes > T)` is
    *    row-identical to `scd2(all changes)` — the spec pins it.
    *
    * Contract: every batch row is strictly later (timeCol) than the
    * touched key's current valid_from — the append-only arrival
    * order a change feed delivers; the seed's tie-break is null
    * (sorts first, and ties with real rows are impossible under the
    * contract).
    *
    * Scale shape: the closed/open split is a per-row filter; only
    * touched keys' open rows and the batch enter the window, so the
    * exchange is batch-sized, not history-sized; untouched history
    * rides an anti-join against the batch's key set (keys-only).
    */
  def scd2Delta(history: DataFrame, batch: DataFrame, keys: Seq[String],
                attrCols: Seq[String], timeCol: String,
                tieBreak: String): DataFrame = {
    val untouched = detectDeletes(history, batch, keys)
    val touchedOpen = applyDeletes(history.filter(col("is_current")), batch, keys)
    val touchedClosed = applyDeletes(history.filter(!col("is_current")), batch, keys)
    val tbType = batch.schema(tieBreak).dataType
    val seeds = touchedOpen.select(
      (keys ++ attrCols).map(col) :+
        col("valid_from").as(timeCol) :+
        lit(null).cast(tbType).as(tieBreak): _*)
    val reopened = scd2(
      seeds.unionByName(batch.select((keys ++ attrCols :+ timeCol :+ tieBreak).map(col): _*)),
      keys, attrCols, timeCol, tieBreak)
    untouched.unionByName(touchedClosed).unionByName(reopened)
  }

  /** Concatenate an existing slice with a newly-fetched slice and
    * restore total time order (duplicates preserved — the reference's
    * merge does not dedupe; that is a separate explicit step).
    */
  def mergeSlices(existing: DataFrame, fresh: DataFrame,
                  timeCol: String, tieBreak: Seq[String]): DataFrame =
    existing.unionByName(fresh)
      .orderBy((timeCol +: tieBreak).map(col): _*)

  /** RESUMABLE full sync: process the table in id-ordered slices of
    * `sliceSize` rows, persisting partial progress after every slice —
    * an interrupted run picks up past the last COMPLETED slice and
    * never re-reads (or re-writes) finished work.
    *
    * Reference: sync_engine.py:568-760 (`_process_batches_with_limit`
    * + save/load/clear_partial_progress) — the reference walks a
    * cursor and records (rows_processed, last_row_id); this walks
    * ascending `idCol` ranges (integral column; duplicates allowed —
    * a boundary tie group is always processed atomically), so each
    * slice is a pushed `idCol > lastId` predicate (parquet row groups /
    * remote index ranges below the watermark are skipped, same as the
    * reference's indexed range scan). `onSlice` is the caller's sink
    * (e.g. `JdbcSync.writeSnapshot` into a per-slice partition dir);
    * progress persists only AFTER the sink returns, so a crash
    * mid-slice re-runs that slice — at-least-once per slice, exactly-
    * once per completed slice, matching the reference's semantics.
    *
    * Returns total rows processed across all runs (resumed + current).
    */
  def fullSyncResumable(table: DataFrame, idCol: String, sliceSize: Int,
                        state: StateStore, name: String)
                       (onSlice: DataFrame => Unit): Long =
    fullSyncInBatches(table, idCol, sliceSize, state, name)(onSlice).rowsProcessed

  /** Outcome of a (possibly time-boxed) batched sync: rows processed
    * across ALL runs so far, whether the table finished, and how many
    * slices this call completed.
    */
  case class BatchSyncResult(rowsProcessed: Long, completed: Boolean, slices: Int)

  /** [[fullSyncResumable]] with a TIME BUDGET: the deadline is checked
    * between slices (reference sync_engine.py:237-243 `sync_in_batches`
    * with `max_duration`, deadline check at :288) — a slice in flight
    * always finishes (its progress persists), then the loop stops
    * cleanly and reports `completed = false`. The partial-progress
    * record is deliberately LEFT IN PLACE on pause, so the next call
    * resumes past the last completed slice; it is cleared only when the
    * table actually finishes. Pass `audit` to leave a "paused" /
    * "completed" record per call, like the reference's batch log.
    */
  def fullSyncInBatches(table: DataFrame, idCol: String, sliceSize: Int,
                        state: StateStore, name: String,
                        maxDurationMillis: Long = Long.MaxValue,
                        audit: Option[SyncLogRepo] = None,
                        nowMillis: () => Long = () => System.currentTimeMillis())
                       (onSlice: DataFrame => Unit): BatchSyncResult = {
    require(sliceSize > 0, s"sliceSize must be positive: $sliceSize")
    require(maxDurationMillis > 0, s"maxDurationMillis must be positive: $maxDurationMillis")
    require(table.schema(idCol).dataType.typeName match {
      case "byte" | "short" | "integer" | "long" => true
      case _ => false
    }, s"fullSyncResumable needs an integral id column; '$idCol' is " +
      table.schema(idCol).dataType.typeName)
    val deadline =
      if (maxDurationMillis == Long.MaxValue) Long.MaxValue
      else nowMillis() + maxDurationMillis
    var (total, lastId) = state.loadPartialProgress(name).getOrElse((0L, Long.MinValue))
    var slices = 0
    var done = false
    while (!done) {
      if (nowMillis() >= deadline) {
        // budget spent: progress for every COMPLETED slice is already
        // persisted; resume picks up exactly here
        audit.foreach(_.logTerminal(name, "batched", "paused", total,
          s"time budget ${maxDurationMillis}ms exhausted after $slices slice(s)"))
        return BatchSyncResult(total, completed = false, slices)
      }
      // tie-safe slicing: find the sliceSize-th id value, then take
      // EVERY row up to and including that boundary — duplicate ids
      // straddling a pure LIMIT cut would otherwise be skipped forever
      // by the next round's `id > lastId` filter. A boundary tie group
      // may push a slice slightly over sliceSize; it is processed
      // atomically.
      val remaining = table.filter(col(idCol).cast("long") > lastId)
      val head = remaining.orderBy(col(idCol)).limit(sliceSize)
        .agg(count(lit(1)), max(col(idCol).cast("long"))).head()
      val nHead = head.getLong(0)
      if (nHead == 0) done = true
      else {
        val boundary = head.getLong(1)
        // sink + count read the pinned slice; never recompute the scan twice
        Tables.persisted(remaining.filter(col(idCol).cast("long") <= boundary)) { slice =>
          onSlice(slice)
          total += slice.count()
        }
        lastId = boundary
        slices += 1
        state.savePartialProgress(name, total, lastId)
        if (nHead < sliceSize) done = true
      }
    }
    state.clearPartialProgress(name)
    audit.foreach(_.logTerminal(name, "batched", "completed", total,
      s"finished in $slices slice(s)"))
    BatchSyncResult(total, completed = true, slices)
  }
}
