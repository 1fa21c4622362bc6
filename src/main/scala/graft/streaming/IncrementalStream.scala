package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.core.Tables

/** The reference's scheduler loop (scheduler/sync_worker.py: poll →
  * incremental_sync → sleep) re-expressed as Structured Streaming:
  * the file source discovers new files, the watermark replaces the
  * manual last_value state, and checkpointing replaces the state
  * file (sync_engine.py:568 save_state/load_state).
  *
  * At scale: the file-source maxFilesPerTrigger bounds batch size
  * (the reference's batch_size), state lives in the checkpoint (HDFS/
  * object store), and the windowed aggregation state is distributed
  * across executors — no driver-held watermark.
  */
object IncrementalStream {

  /** Streaming incremental read of an events directory. */
  def readEvents(spark: SparkSession, dir: String, schema: StructType,
                 maxFilesPerTrigger: Int = 8): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Windowed per-type aggregation with a watermark — the streaming
    * equivalent of TimeBucketAgg.bucketed for the dashboard.
    */
  def bucketedCounts(events: DataFrame, timeCol: String,
                     interval: String, watermark: String): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), interval), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(avg(col("value")), 6).as("value_avg"))
      .select(col("window.start").as("bucket_ts"), col("event_type"),
        col("n_events"), col("value_avg"))

  /** Streaming keep-latest per key (the upsert side of incremental
    * sync) via dropDuplicates within the watermark.
    */
  def latestPerKey(events: DataFrame, timeCol: String, keyCol: String,
                   watermark: String): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark(Seq(keyCol))

  /** Per-key sync watermark as CUSTOM distributed state
    * (mapGroupsWithState): for every key, track the max event time and
    * how many rows arrived past the previous watermark — the
    * reference's driver-held `last_value` (sync_engine.py:568) sharded
    * across executors, checkpoint-backed, no driver bottleneck.
    * Emits one (key, watermark, new_rows, total_rows) row per key per
    * micro-batch.
    */
  case class KeyWatermark(key: Long, watermark: Timestamp,
                          new_rows: Long, total_rows: Long)

  def watermarkPerKey(events: DataFrame, keyCol: String,
                      timeCol: String): Dataset[KeyWatermark] = {
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col(keyCol).cast("long").as("k"), col(timeCol).as("t"))
      .as[(Long, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Timestamp, Long), KeyWatermark](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Timestamp, Long)]) =>
          val batch = rows.toSeq
          val (prevWm, prevTotal) = state.getOption.getOrElse(
            (new Timestamp(Long.MinValue), 0L))
          val fresh = batch.filter(_._2.after(prevWm))
          val newWm = (prevWm +: batch.map(_._2)).maxBy(_.getTime)
          val total = prevTotal + fresh.size
          state.update((newWm, total))
          KeyWatermark(key, newWm, fresh.size.toLong, total)
      }
  }

  case class SessionOut(key: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)
  /** Open-session state (public: the state encoder codegen needs a
    * visible constructor).
    */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  private def usToTs(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  /** Streaming sessionization with CUSTOM state
    * (flatMapGroupsWithState + event-time timeout): events within
    * `gapMinutes` of the open session extend it; a larger gap closes
    * and emits it; the timeout flushes a session once the watermark
    * passes its close point. This is the streaming form of the batch
    * `Analytics.sessionize` — same gap rule (strictly-greater starts a
    * new session), state sharded per key across executors.
    *
    * Late events beyond the watermark are dropped by the watermark
    * itself; in-batch disorder is handled by sorting each micro-batch.
    */
  def sessionizeStream(events: DataFrame, keyCol: String, timeCol: String,
                       gapMinutes: Int, watermark: String): Dataset[SessionOut] = {
    val sp = events.sparkSession
    import sp.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark(timeCol, watermark)
      // the watermarked timestamp column must survive projection for
      // the event-time timeout to resolve
      .select(col(keyCol).cast("long").as("k"), col(timeCol).as("t"),
        unix_micros(col(timeCol)).as("us"))
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.toSeq
              .map(s => SessionOut(key, usToTs(s.startUs), usToTs(s.lastUs), s.n))
            state.remove()
            out.iterator
          } else {
            val batch = rows.map(_._3).toArray.sorted
            var open = state.getOption.orNull
            val closed = Seq.newBuilder[SessionOut]
            batch.foreach { t =>
              open match {
                case null => open = OpenSession(t, t, 1)
                case o if t - o.lastUs <= gapUs =>
                  open = o.copy(lastUs = math.max(o.lastUs, t), n = o.n + 1)
                case o =>
                  closed += SessionOut(key, usToTs(o.startUs), usToTs(o.lastUs), o.n)
                  open = OpenSession(t, t, 1)
              }
            }
            if (open != null) {
              state.update(open)
              // flush once the watermark passes the session's gap horizon
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1000L,
                open.lastUs / 1000L + gapMinutes * 60L * 1000L))
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream interval join: each left row joined to right rows
    * of the same key within `[ts - interval, ts]`. Both sides carry
    * watermarks so the join state is bounded and expired by event
    * time — the streaming form of the as-of/enrichment join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   interval: String, watermark: String): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTime BETWEEN $leftTime - INTERVAL $interval AND $leftTime"))

  /** The one foreachBatch sink: every micro-batch of `df` runs
    * `body(batch, batchId)` under the checkpoint at `checkpointDir` —
    * the reference's poll → incremental sync → upsert loop
    * (sync_worker.py, duckdb_source.py:74 INSERT OR REPLACE) as a
    * foreachBatch sink. foreachBatch is at-least-once, so every body
    * owns a replay contract: the snapshot-backed `merge*Batch` bodies
    * skip committed ids ([[SnapshotStore.merge]]), the
    * batch-partitioned ones overwrite their own partition and read
    * history without it ([[StoreMaintenance.history]]).
    *
    * `compactEvery = n` folds the committed batch dirs of each of
    * `compactDirs` after every n-th batch
    * ([[StoreMaintenance.compactStore]] — answer-preserving, and safe
    * under replay: the just-written batch id is the store's max, which
    * compaction always retains individually).
    */
  def sink(df: DataFrame, checkpointDir: String,
           compactDirs: Seq[String] = Nil, compactEvery: Int = 0)
          (body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId)
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          compactDirs.foreach(StoreMaintenance.compactStore(batch.sparkSession, _))
      }

  /** Streaming upsert sink: [[sink]] over [[mergeUpsertBatch]]. Read
    * the target back with [[readUpsertTarget]].
    */
  def sinkUpsert(df: DataFrame, targetDir: String, checkpointDir: String,
                 keys: Seq[String], timeCol: String,
                 tieBreak: String): DataStreamWriter[Row] =
    sink(df, checkpointDir)(mergeUpsertBatch(_, _, targetDir, keys, timeCol, tieBreak))

  /** Keep-latest per key of `batch` merged into `prev` (None before the
    * first commit) — the merge of [[mergeUpsertBatch]] and the crawl
    * bodies.
    */
  private[graft] def keepLatest(prev: Option[DataFrame], batch: DataFrame,
                                keys: Seq[String], timeCol: String,
                                tieBreak: String): DataFrame = prev match {
    case Some(t) => graft.sync.SyncOps.applyIncremental(
      t, batch.select(t.columns.map(col): _*), keys, timeCol, tieBreak)
    case None => graft.sync.SyncOps.upsertKeepLatest(batch, keys, timeCol, tieBreak)
  }

  /** One upsert micro-batch against the snapshot-store target: every
    * micro-batch merges into a parquet target keeping the latest row
    * per key. Keep-latest-per-key is idempotent, so a replayed batch
    * would be harmless anyway; the batch-id skip still avoids the
    * wasted merge job, and the [[SnapshotStore]] commit makes the
    * target rewrite atomic (no window where concurrent readers see no
    * data).
    */
  def mergeUpsertBatch(batch: DataFrame, batchId: Long, targetDir: String,
                       keys: Seq[String], timeCol: String,
                       tieBreak: String): Unit =
    SnapshotStore.merge(batch, batchId, targetDir)(
      keepLatest(_, batch, keys, timeCol, tieBreak))

  /** The committed snapshot of any [[SnapshotStore]]-backed body —
    * upsert, SCD2 and CDC targets, agg/hist/distinct state, the crawl
    * corpus (None until the first batch commits).
    */
  def readUpsertTarget(spark: SparkSession, targetDir: String): Option[DataFrame] =
    new SnapshotStore(spark, targetDir).read()

  /** One SCD2 history micro-batch merge — the streaming form of
    * [[graft.sync.SyncOps.scd2Delta]]: instead of overwriting each
    * key's row, every change opens/extends validity intervals.
    * An SCD2 merge is NOT idempotent (re-merging a batch would
    * violate the strictly-later contract against its own effects), so
    * the batch-id skip is load-bearing, not an optimization: replay
    * of a committed batch is a no-op, and `scd2Delta`'s delta ==
    * one-shot property makes the maintained history row-identical to
    * running [[graft.sync.SyncOps.scd2]] over everything at once, for
    * any micro-batching. Caller contract (inherited from scd2Delta):
    * batches arrive in event-time order per key — true of a real
    * change feed; a file-backed test source must write its waves
    * time-sliced.
    */
  def mergeScd2Batch(batch: DataFrame, batchId: Long, historyDir: String,
                     keys: Seq[String], attrCols: Seq[String],
                     timeCol: String, tieBreak: String): Unit =
    SnapshotStore.merge(batch, batchId, historyDir) {
      case Some(h) => graft.sync.SyncOps
        .scd2Delta(h, batch, keys, attrCols, timeCol, tieBreak)
      case None => graft.sync.SyncOps
        .scd2(batch, keys, attrCols, timeCol, tieBreak)
    }

  /** One CDC-changelog micro-batch merge — the streaming form of
    * [[graft.sync.SyncOps.applyChangeLog]]: insert/update/delete
    * envelopes merge into a parquet snapshot, per key the LAST
    * envelope wins, a final delete removes the key, untouched keys
    * pass through. The standing snapshot's layout is the batch minus
    * the op column (the order column stays — it is the row's
    * version); the first committed batch freezes it. The batch-id
    * skip makes a replayed committed batch a no-op, and
    * applyChangeLog's last-wins algebra makes the maintained snapshot
    * row-identical to one applyChangeLog over the concatenated log —
    * for any micro-batching, provided batches arrive in (orderCol,
    * tieBreak) order per key (true of a real change feed; Debezium
    * partitions by key precisely to guarantee it).
    */
  def mergeCdcBatch(batch: DataFrame, batchId: Long, targetDir: String,
                    keys: Seq[String], opCol: String, orderCol: String,
                    tieBreak: String): Unit =
    SnapshotStore.merge(batch, batchId, targetDir) { prev =>
      graft.sync.SyncOps.applyChangeLog(prev.getOrElse(batch.drop(opCol).limit(0)),
        batch, keys, opCol, orderCol, tieBreak)
    }

  /** One aggregate-state micro-batch merge: the batch's rows aggregate
    * into mergeable bucket state (count / decimal sum / min / max)
    * merged into the stored state — the streaming form of
    * CachedAggService's refresh. foreachBatch is at-least-once and a
    * state MERGE is NOT idempotent: after a failure between the state
    * write and the streaming checkpoint commit, the replayed batch
    * would be merged a second time and permanently double-count
    * sums/counts, so the batch-id skip is load-bearing. Because the
    * state algebra is associative and the sums run through DECIMAL,
    * the maintained state is bit-identical to aggregating all batches
    * at once, regardless of how the stream was micro-batched.
    */
  def mergeAggBatch(batch: DataFrame, batchId: Long, stateDir: String,
                    timeCol: String, interval: String,
                    valueCol: String): Unit =
    SnapshotStore.merge(batch, batchId, stateDir) { prev =>
      val fresh = graft.ops.IncrementalAgg
        .bucketState(batch, timeCol, interval, valueCol)
      prev.fold(fresh)(graft.ops.IncrementalAgg.mergeStates(_, fresh))
    }

  /** Histogram-state form of [[mergeAggBatch]]: micro-batches maintain
    * the mergeable QUANTILE state (IncrementalAgg.histState) under the
    * same atomic-commit + replay-skip contract. Exact integer bin
    * counts make the maintained state bit-identical to histogramming
    * all batches at once, under any micro-batching. Read quantiles
    * back with `IncrementalAgg.quantilesFromState(readUpsertTarget(...), ...)`.
    */
  def mergeHistBatch(batch: DataFrame, batchId: Long, stateDir: String,
                     timeCol: String, interval: String, valueCol: String,
                     lo: Double, hi: Double, nBins: Int): Unit =
    SnapshotStore.merge(batch, batchId, stateDir) { prev =>
      val fresh = graft.ops.IncrementalAgg
        .histState(batch, timeCol, interval, valueCol, lo, hi, nBins)
      prev.fold(fresh)(graft.ops.IncrementalAgg.mergeHistStates(_, fresh))
    }

  /** HLL form of [[mergeAggBatch]]: micro-batches maintain the
    * mergeable DISTINCT-count state (IncrementalAgg.distinctState)
    * under the same atomic-commit + replay-skip contract. Union
    * registers equal direct-build registers, so the maintained state
    * estimates identically to sketching all batches at once, under
    * any micro-batching. Read estimates back with
    * `IncrementalAgg.distinctFromState(readUpsertTarget(...))`.
    */
  def mergeDistinctBatch(batch: DataFrame, batchId: Long, stateDir: String,
                         timeCol: String, interval: String, keyCol: String,
                         lgK: Int = 12): Unit =
    SnapshotStore.merge(batch, batchId, stateDir) { prev =>
      val fresh = graft.ops.IncrementalAgg
        .distinctState(batch, timeCol, interval, keyCol, lgK)
      prev.fold(fresh)(graft.ops.IncrementalAgg.mergeDistinctStates(_, fresh))
    }

  /** One exact-dedup micro-batch against an APPEND-ONLY seen-hash
    * store — streaming ingest dedup with an UNBOUNDED horizon: every
    * arriving doc whose content hash was seen in ANY earlier batch
    * drops; within a batch the min-id occurrence wins. (Contrast
    * `dropDuplicatesWithinWatermark`, whose dedup horizon is bounded
    * by the watermark — corpus ingest needs "never ingest this text
    * again", which is store-backed state, not stream state.)
    *
    * The store is batch-partitioned ([[StoreMaintenance.writeBatch]]),
    * so a batch commit APPENDS O(batch) hash rows — never a rewrite
    * of the O(history) store (the SnapshotStore pattern would rewrite
    * the whole seen set every batch). Idempotent under foreachBatch's
    * at-least-once replay: both writes target the replayed batch's own
    * partition, and the seen-set read ([[StoreMaintenance.history]])
    * excludes it. Read the deduped corpus back with
    * [[StoreMaintenance.read]] over `outDir`.
    *
    * 100 TB accounting: per batch, the BATCH side builds the bloom
    * (two O(batch) jobs over the persisted batch dedup) and the
    * history store gets exactly ONE column-pruned scan (16-byte
    * hashes only), filtered by that bloom before the join — so the
    * join's build side is `true-dups + fpp·history` rows, never the
    * store. No sizing count runs against the store. At very deep
    * history, prefix-bucket the store dirs and prune scans by the
    * batch's hash prefixes.
    *
    * Maintenance: the per-batch partition dirs accumulate — pass the
    * store to [[sink]]'s `compactDirs` or run
    * [[StoreMaintenance.compactStore]] periodically (store answers are
    * row-identical before and after), and
    * [[StoreMaintenance.dropBatchesBelow]] to bound the dedup horizon
    * deliberately.
    */
  def dedupBatch(batch: DataFrame, batchId: Long, storeDir: String,
                 outDir: String, textCol: String = "text",
                 idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    val hashed = batch.withColumn("__h", md5(col(textCol).cast("binary")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col(idCol).asc)
    Tables.persisted(hashed.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")) { firsts =>
      val nBatch = firsts.count()
      if (nBatch > 0) { // an empty batch writes nothing
        def commit(survivors: DataFrame): Unit =
          if (survivors.count() > 0) {
            StoreMaintenance.writeBatch(survivors.drop("__h"), outDir, batchId)
            StoreMaintenance.writeBatch(survivors.select("__h"), storeDir, batchId)
          }
        val shape = firsts.select("__h").limit(0)
        val seen = StoreMaintenance.history(spark, storeDir, batchId, shape)
        if (seen eq shape) commit(firsts) // no history yet: nothing to prune
        else {
          // batch-side bloom prunes the history scan: store hashes that
          // can't be in this batch (the vast majority) never reach the
          // join; within-batch hashes are distinct, so nBatch sizes the
          // bloom exactly
          val might = graft.ops.BloomPrune.bloomMight(
            firsts, "__h", col("__h"), expectedKeys = Some(nBatch))
          Tables.persisted(firsts.join(seen.filter(might), Seq("__h"), "left_anti"))(commit)
        }
      }
    }
  }

  /** Streaming NEAR-dup ingest: per micro-batch, detect every
    * verified MinHash near-dup pair with at least one side in the
    * batch, against an append-only signature index — the streaming
    * form of [[graft.dedup.Dedup.minhashNearDupsDelta]], completing
    * the ingest-dedup story next to [[dedupBatch]] (exact).
    *
    * 100 TB accounting per batch (delegated to the delta path): only
    * the BATCH is shingled/hashed; the stored index is scanned, its
    * bucket keys re-derived by a narrow map, and the batch's buckets
    * broadcast against it — the index is never shuffled and old text
    * is never re-read. Commit = one O(batch) index append + the
    * batch's pair rows; never an O(history) rewrite.
    *
    * Replay-idempotent like [[dedupBatch]]: the index read excludes
    * the replayed batch's own partition, so a complete-but-uncommitted
    * batch recomputes the same pairs instead of pairing against its
    * own leftover signatures.
    *
    * Maintenance: [[StoreMaintenance.compactStore]] over `indexDir`
    * (and `pairsDir`) consolidates the per-batch dirs;
    * [[StoreMaintenance.dropBatchesBelow]] bounds the near-dup horizon.
    */
  def nearDupBatch(batch: DataFrame, batchId: Long, indexDir: String,
                   pairsDir: String, k: Int = 3, numPerm: Int = 32,
                   bands: Int = 8, threshold: Double = 0.8,
                   textCol: String = "text", idCol: String = "doc_id"): Unit = {
    if (batch.isEmpty) return // an empty batch writes nothing
    val index = StoreMaintenance.history(batch.sparkSession, indexDir, batchId,
      graft.dedup.Dedup.minhashIndex(batch.limit(0), k, numPerm, textCol, idCol))
    val (pairs, newIdx) = graft.dedup.Dedup.minhashNearDupsDelta(
      index, batch, k, numPerm, bands, threshold, textCol, idCol)
    Tables.persisted(pairs) { pairs =>
      if (pairs.count() > 0) StoreMaintenance.writeBatch(pairs, pairsDir, batchId)
      StoreMaintenance.writeBatch(newIdx, indexDir, batchId)
    }
  }

  /** Streaming CONTAINMENT ingest: per micro-batch, detect every
    * verified excerpt/quote pair (Broder's asymmetric containment,
    * [[graft.dedup.Dedup.containmentPairs]]) with at least one side
    * in the batch, against an append-only (id, h, __n) shingle index
    * — the streaming form of
    * [[graft.dedup.Dedup.containmentDelta]], completing the dedup
    * sink matrix (exact / MinHash / image / audio / CONTAINMENT).
    *
    * 100 TB accounting per batch (delegated to the delta path): only
    * the BATCH is shingled; the stored index is joined twice (batch
    * hashes broadcast against its `h` column, surviving pair ids
    * against its id column) and never shuffled; old text is never
    * re-read. Commit = one O(batch) index append + the batch's pair
    * rows. Replay-idempotent like [[nearDupBatch]]: the index read
    * excludes the replayed batch's own partition.
    *
    * Df-cap drift: a pair is candidate-gated at ARRIVAL time (see
    * the delta scaladoc) — recall never degrades as the corpus
    * grows.
    */
  def containmentBatch(batch: DataFrame, batchId: Long, indexDir: String,
                       pairsDir: String, k: Int = 8,
                       threshold: Double = 0.8, maxShingleDf: Int = 100,
                       textCol: String = "text",
                       idCol: String = "doc_id"): Unit = {
    if (batch.isEmpty) return // an empty batch writes nothing
    val index = StoreMaintenance.history(batch.sparkSession, indexDir, batchId,
      graft.dedup.Dedup.containmentIndex(batch.limit(0), k, textCol, idCol))
    val (pairs, newIdx) = graft.dedup.Dedup.containmentDelta(
      index, batch, k, threshold, maxShingleDf, textCol, idCol)
    if (pairs.count() > 0) StoreMaintenance.writeBatch(pairs, pairsDir, batchId)
    StoreMaintenance.writeBatch(newIdx, indexDir, batchId)
  }

  /** One IMAGE-dedup ingest micro-batch — [[nearDupBatch]]'s shape
    * applied to the perceptual-hash index
    * ([[graft.mm.Multimodal.dhashPairsDelta]]): the batch's payloads
    * decode and hash ONCE (rasters die inside the decode task), the
    * standing index contributes 8-byte hashes only — payloads are
    * never re-read or re-decoded — and the batch's bands broadcast
    * against the index's. Replay-idempotent the same way: the index
    * read excludes the replayed batch's own partition.
    */
  def imageDedupBatch(batch: DataFrame, batchId: Long, indexDir: String,
                      pairsDir: String, maxHamming: Int = 3): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (batch.isEmpty) return
    val newHashes = graft.mm.Multimodal.dhash(
      batch.as[graft.mm.Multimodal.MediaRow]).toDF()
    val index = StoreMaintenance.history(spark, indexDir, batchId, newHashes.limit(0))
    Tables.persisted(graft.mm.Multimodal.dhashPairsDelta(index, newHashes, maxHamming)) { pairs =>
      if (pairs.count() > 0) StoreMaintenance.writeBatch(pairs, pairsDir, batchId)
      StoreMaintenance.writeBatch(newHashes, indexDir, batchId)
    }
  }

  /** One micro-batch of incremental AUDIO near-dup ingest — the
    * [[imageDedupBatch]] contract over [[graft.mm.Multimodal.audioFingerprint]]
    * rows: the standing index holds (id, count, 16-byte fingerprint)
    * rows only — payloads are never re-read or re-decoded — and the
    * batch's bands broadcast against the index's. Replay-idempotent
    * the same way: the index read excludes the replayed batch's own
    * partition.
    */
  def audioDedupBatch(batch: DataFrame, batchId: Long, indexDir: String,
                      pairsDir: String, maxHamming: Int = 3): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (batch.isEmpty) return
    val newFps = graft.mm.Multimodal.audioFingerprint(
      batch.as[graft.mm.Multimodal.MediaRow]).toDF()
    val index = StoreMaintenance.history(spark, indexDir, batchId, newFps.limit(0))
    Tables.persisted(graft.mm.Multimodal.audioNearDupsDelta(index, newFps, maxHamming)) { pairs =>
      if (pairs.count() > 0) StoreMaintenance.writeBatch(pairs, pairsDir, batchId)
      StoreMaintenance.writeBatch(newFps, indexDir, batchId)
    }
  }

  /** One ANN-INDEX ingest micro-batch: PQ-encode the batch's vectors
    * (coarse routing + residual PQ codes —
    * [[graft.sim.Pq.encodeIndex]]) into `indexDir/batch=<id>`. The
    * searchable artifact GROWS with the stream while each commit
    * costs O(batch): vectors are read once, at arrival; search scans
    * only the accumulated 8-byte codes. Replay-idempotent by the
    * per-batch-partition overwrite — a re-delivered batch rewrites
    * its own partition bit-identically (encode is deterministic under
    * a fixed coarse/codebook) and touches nothing else. The coarse
    * centroids and codebooks must therefore stay FROZEN for the life
    * of the stream (the FAISS contract: retraining quantizers
    * invalidates every stored code — retrain offline, re-encode, swap
    * directories). Query the accumulated index with [[readAnnIndex]] +
    * [[graft.sim.Pq.searchPq]].
    */
  def annIndexBatch(batch: DataFrame, batchId: Long, indexDir: String,
                    coarse: Array[Array[Double]],
                    codebook: Array[Array[Array[Double]]],
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    byResidual: Boolean = true): Unit = {
    if (batch.isEmpty) return // an empty batch writes nothing
    StoreMaintenance.writeBatch(graft.sim.Pq.encodeIndex(
      batch, coarse, codebook, idCol, vecCol, byResidual), indexDir, batchId)
  }

  /** The accumulated (neighbor_id, cid, code) ANN index across all
    * committed batches (None before the first commit) — feed to
    * [[graft.sim.Pq.searchPq]] with the SAME coarse/codebook/
    * byResidual the batches were encoded with.
    */
  def readAnnIndex(spark: SparkSession, indexDir: String): Option[DataFrame] =
    StoreMaintenance.read(spark, indexDir)
      .map(_.select("neighbor_id", "cid", "code"))

  /** One BM25-INDEX ingest micro-batch: tokenize the batch ONCE into
    * (id, len, term, tf) posting rows under `postingsDir/batch=<id>`
    * plus one (n_docs, total_len) stats row under
    * `statsDir/batch=<id>` — the lexical-retrieval twin of
    * [[annIndexBatch]]: a growing corpus maintains a searchable
    * inverted index incrementally, query batches never re-read or
    * re-tokenize old text, and df/N/avgdl stay GLOBAL (aggregates of
    * the store), so [[graft.text.Bm25.searchIndex]] over the
    * accumulated store ([[readBm25Index]]) scores bit-identically to a
    * one-shot [[graft.text.Bm25.search]]. Replay-idempotent by
    * per-batch partition overwrite (tokenization is deterministic).
    */
  def bm25IndexBatch(batch: DataFrame, batchId: Long, postingsDir: String,
                     statsDir: String, textCol: String = "text",
                     idCol: String = "doc_id"): Unit = {
    if (batch.isEmpty) return // an empty batch writes nothing
    StoreMaintenance.writeBatch(
      graft.text.Bm25.index(batch, textCol, idCol), postingsDir, batchId)
    StoreMaintenance.writeBatch(
      graft.text.Bm25.indexStats(batch, textCol, idCol), statsDir, batchId)
  }

  /** The accumulated (postings, stats) BM25 store across committed
    * batches (None before the first commit) — feed both frames to
    * [[graft.text.Bm25.searchIndex]].
    */
  def readBm25Index(spark: SparkSession, postingsDir: String,
                    statsDir: String, idCol: String = "doc_id")
      : Option[(DataFrame, DataFrame)] =
    for {
      p <- StoreMaintenance.read(spark, postingsDir)
      s <- StoreMaintenance.read(spark, statsDir)
    } yield (p.select(col(idCol), col("len"), col("term"), col("tf")),
      s.select(col("n_docs"), col("total_len")))

  /** One CURATION micro-batch: [[graft.pipeline.Curation.curateDelta]]
    * exact-dedups the batch against the seen-hash store, near-dup
    * prunes it against the MinHash index, gates and samples it, and
    * its survivors land under `outDir/batch=<id>`. Store commits are
    * O(batch); replay recomputes identically (curateDelta excludes a
    * batch's own store partitions). Pass `Seq(seenDir, indexDir)` as
    * [[sink]]'s `compactDirs`; read the curated corpus back with
    * [[StoreMaintenance.read]] over `outDir`.
    */
  def curateBatch(batch: DataFrame, batchId: Long, seenDir: String,
                  indexDir: String, outDir: String,
                  minQuality: Double = 0.3,
                  keepLangs: Seq[String] = Seq("en"),
                  sampleFraction: Double = 1.0,
                  classifier: Option[graft.pipeline.TextClassifier.Model] = None,
                  minClassifierProb: Double = 0.5,
                  textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val curated = graft.pipeline.Curation.curateDelta(
      batch, batchId, seenDir, indexDir,
      minQuality = minQuality, keepLangs = keepLangs,
      sampleFraction = sampleFraction,
      classifier = classifier, minClassifierProb = minClassifierProb,
      idCol = idCol, textCol = textCol)
    // materialize once; an empty batch writes nothing
    Tables.persisted(curated) { out =>
      if (out.count() > 0) StoreMaintenance.writeBatch(out, outDir, batchId)
    }
  }

  /** Sessionization via the NATIVE `session_window` operator — the
    * high-throughput alternative to [[sessionizeStream]] when only
    * per-session aggregates are needed: state lives inside the
    * streaming aggregation (merging session windows), not custom
    * mapGroups state, so it scales with Spark's aggregation state
    * store. Works identically as a batch query.
    *
    * Boundary contract differs from the batch `sessionize` at EXACT
    * gap multiples: `session_window` closes a session when the next
    * event lands at or past lastEvent + gap (half-open extension),
    * while the reference-shaped sessionize keeps an event at exactly
    * the gap in the SAME session (strict `>` split). Identical for
    * any data without exact-gap arrivals.
    */
  def sessionWindowAgg(events: DataFrame, keyCol: String, timeCol: String,
                       gap: String, watermark: Option[String] = None): DataFrame = {
    val in = watermark.fold(events)(events.withWatermark(timeCol, _))
    in.groupBy(col(keyCol), session_window(col(timeCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col(timeCol)).as("session_start"),
        max(col(timeCol)).as("session_end"))
      .select(col(keyCol), col("session_start"), col("session_end"),
        col("n_events"))
  }
}
