package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DocFiles, Tables}

/** Engine-side sync orchestration: one cycle per configured table.
  *
  * Reference: src/oracle_duckdb_sync/application/sync_service.py
  * (start_sync / get_status around the sync engine) and
  * agent/tools/sync_tools.py (StartSyncTool / GetSyncStatusTool) —
  * here the pieces already built compose into the full loop:
  *
  *   TableConfig (what to sync) → full or incremental decision from
  *   the StateStore watermark → pull → [[PartitionedSync]] target →
  *   watermark advance → SyncLogRepo audit record.
  *
  * Every table has one target layout and one cycle, whose two writes
  * each commit by a checked swap: a full sync swaps in the whole table
  * ([[PartitionedSync.writeFull]]), an incremental one each partition
  * it rewrote ([[PartitionedSync.mergeIncremental]]).
  *
  * `source` abstracts where rows come from (a parquet catalog in
  * tests, `JdbcSync.read` against a database in production) — the
  * runner is source-agnostic, like the reference's engine behind
  * SyncService.
  *
  * Scale: the incremental pull is a pushed watermark predicate; the
  * upsert is ONE shuffle on the primary key (AQE handles skew) over
  * the affected partitions only. Nothing driver-side grows with table
  * size.
  */
class SyncRunner(spark: SparkSession,
                 source: TableConfig => DataFrame,
                 targetDir: String,
                 state: StateStore,
                 log: SyncLogRepo) {

  private def targetPath(cfg: TableConfig) = s"$targetDir/${cfg.targetTable}.parquet"

  private def fs = new Path(targetDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Read the current synced target (after at least one sync). */
  def target(cfg: TableConfig): DataFrame = PartitionedSync.read(spark, targetPath(cfg))

  /** The bucket of [[syncTable]] and [[testSync]]: a primary-key hash, one per task slot. */
  private def keyBucket(cfg: TableConfig): Column =
    pmod(xxhash64(col(cfg.primaryKey)), lit(spark.sparkContext.defaultParallelism))

  /** The stored watermark when the cycle can be incremental: the table
    * has a time column, a watermark and a partitioned target (a target
    * an interrupted full write left parked aside is put back first). A
    * flat target written before the partitioned layout counts as none:
    * a merge into it would give the fresh rows null partition values
    * and keep the stale versions of their keys.
    */
  private def incrementalFrom(cfg: TableConfig): Option[String] =
    if (!cfg.hasTimeColumn) None
    else state.loadWatermark(cfg.targetTable).filter { _ =>
      val root = new Path(targetPath(cfg))
      DocFiles.restore(fs, root) && PartitionedSync.hasPartitions(fs, root)
    }

  /** The audit skeleton of every cycle: a "running" record, then
    * "completed" with the row count `body` returns, or "failed" with
    * the error, which is re-thrown.
    */
  private def audited(cfg: TableConfig, kind: String)(body: => Long): SyncLogEntry = {
    val entry = log.logStart(cfg.targetTable, kind)
    try log.logComplete(entry, body)
    catch {
      case e: Throwable =>
        log.logFailure(entry, Option(e.getMessage).getOrElse(e.getClass.getName))
        throw e
    }
  }

  /** One sync cycle for one table, partitioned by a hash of its primary
    * key. Full on first run (or without a time column); incremental past
    * the stored watermark otherwise. Every run leaves an audit record;
    * failures are logged and re-thrown.
    */
  def syncTable(cfg: TableConfig): SyncLogEntry = cycle(cfg, keyBucket(cfg))

  /** The cycle of [[syncTable]], partitioned by `bucket`: a time
    * bucket such as `date_format(ts, 'yyyy-MM')` keeps a tail's merge to
    * the recent partitions. The watermark advances only after a
    * successful write, so the next cycle replays a write a crash cut
    * short.
    */
  def syncTablePartitioned(cfg: TableConfig, bucket: Column): SyncLogEntry = cycle(cfg, bucket)

  private def cycle(cfg: TableConfig, bucket: Column): SyncLogEntry = {
    val wm = incrementalFrom(cfg)
    audited(cfg, if (wm.isDefined) "incremental" else "full") {
      val src = source(cfg)
      wm match {
        case Some(w) =>
          val tc = cfg.timeColumn.get
          // source rows past the watermark: a filter only, no pre-sort
          val fresh = src.filter(col(tc) > lit(w).cast(src.schema(tc).dataType))
          val stats = PartitionedSync.mergeIncremental(spark, targetPath(cfg), fresh,
            Seq(cfg.primaryKey), tc, cfg.primaryKey, bucket)
          // watermark from the stats' max over the MERGED rows — not a
          // full-target scan (defeats the O(affected) point) and not a
          // re-aggregation of the fresh plan (would re-read the live
          // source and could advance past rows the merge never saw)
          stats.maxTime.foreach(state.saveWatermark(cfg.targetTable, _))
          stats.freshRows
        case None =>
          PartitionedSync.writeFull(src, bucket, targetPath(cfg))
          // count and watermark in one action over the written target,
          // never the live source, which may have moved on since
          val (rows, latest) = Tables.countAndMax(target(cfg), cfg.timeColumn.filter(_.nonEmpty))
          latest.foreach(state.saveWatermark(cfg.targetTable, _))
          rows
      }
    }
  }

  /** Row-limited smoke sync — rehearse the pipeline on a bounded slice
    * before committing to a full pull (reference sync_engine.py:135
    * `test_sync`, default row_limit=100000: drops and rewrites the
    * target with at most `rowLimit` rows).
    *
    * The limit is applied at the SOURCE read, so Spark plans a
    * LocalLimit over the scan and stops consuming after `rowLimit`
    * rows per task (the V1 JDBC source does NOT push LIMIT into the
    * remote query — it stops fetching after the limit is satisfied,
    * which with `fetchsize` batching costs one or a few batches per
    * partition, not a full pull; to bound the remote side hard, wrap
    * the query with the dialect's own row-limit clause in `dbtable`).
    * The watermark is deliberately NOT advanced: a smoke run must not
    * make the next real incremental sync skip rows. Like the
    * reference, point `cfg.targetTable` at a scratch name if the live
    * target must survive the rehearsal — this overwrites it.
    */
  def testSync(cfg: TableConfig, rowLimit: Int = 100000): SyncLogEntry = {
    require(rowLimit > 0, s"rowLimit must be positive, got $rowLimit")
    audited(cfg, "test") {
      PartitionedSync.writeFull(source(cfg).limit(rowLimit), keyBucket(cfg), targetPath(cfg))
      target(cfg).count()
    }
  }

  /** One table with the syncAll failure contract: a throw becomes a
    * failed audit record instead of aborting the rest of the pass.
    */
  private def syncOne(cfg: TableConfig): SyncLogEntry =
    try syncTable(cfg)
    catch {
      case e: Throwable =>
        // even if logging itself failed before writing the 'running'
        // record, report a failed entry rather than aborting the rest
        log.recentLogs(1, Some(cfg.targetTable)).headOption.getOrElse(
          SyncLogEntry("unlogged", cfg.targetTable, "full", "failed",
            0L, None, 0L, Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
    }

  /** Sync every ENABLED config; disabled tables are skipped, one
    * table's failure doesn't stop the rest (the reference's worker
    * loop semantics). Returns the audit record per attempted table.
    */
  def syncAll(configs: TableConfigRepo): Seq[SyncLogEntry] =
    configs.syncTargets.map(syncOne)

  /** Cross-process exclusive variant of [[syncAll]]: acquire `lease`
    * first; if another process holds it, every enabled table gets a
    * terminal "skipped" audit record and NOTHING is read or written —
    * the reference's PID-lock semantics (state/sync_state.py:30-40).
    * While holding, the heartbeat is renewed between tables so a long
    * multi-table pass doesn't go stale mid-run (size the lease's
    * `staleMillis` above the slowest single-table sync). A FAILED
    * renewal means another process deposed us via stale takeover —
    * the pass STOPS WRITING immediately: remaining tables get
    * "skipped" audit records instead of racing the new holder. The
    * lease is released on exit (a crashed holder is covered by the
    * stale-takeover timeout instead).
    */
  def syncAllExclusive(configs: TableConfigRepo, lease: SyncLease): Seq[SyncLogEntry] =
    if (!lease.tryAcquire()) {
      val who = heldBy(lease)
      configs.syncTargets.map(skipped(_, who))
    } else try {
      var lost = false
      configs.syncTargets.map { cfg =>
        if (!lost && !lease.renew()) lost = true
        if (lost) skipped(cfg, "sync lease lost mid-pass (deposed by a stale takeover)")
        else syncOne(cfg)
      }
    } finally lease.release()

  /** Single-table exclusive sync — see [[syncAllExclusive]]. */
  def syncTableExclusive(cfg: TableConfig, lease: SyncLease): SyncLogEntry =
    if (!lease.tryAcquire()) skipped(cfg, heldBy(lease))
    else try syncTable(cfg) finally lease.release()

  private def heldBy(lease: SyncLease): String =
    "sync lease held by " +
      lease.holder.map { case (o, p, _) => s"$o (pid $p)" }.getOrElse("unknown")

  /** The terminal record of a table the lease kept from syncing. */
  private def skipped(cfg: TableConfig, reason: String): SyncLogEntry =
    log.logTerminal(cfg.targetTable, "full", "skipped", 0L, reason)

  /** Current status per target — last run + totals (GetSyncStatusTool). */
  def status(table: Option[String] = None): Seq[(SyncLogEntry, SyncLogStats)] =
    log.entries()
      .filter(e => table.forall(_ == e.table))
      .groupBy(_.table).values
      .map(runs => (runs.maxBy(_.startMillis), log.statistics(Some(runs.head.table))))
      .toSeq.sortBy(_._1.table)
}
