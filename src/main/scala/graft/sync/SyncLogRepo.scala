package graft.sync

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DocFiles

/** One sync run's audit record (models/sync_log.py `SyncLog`). */
case class SyncLogEntry(
    syncId: String,
    table: String,
    syncType: String, // "full" | "incremental"
    status: String, // "running" | "completed" | "failed"
    startMillis: Long,
    endMillis: Option[Long],
    totalRows: Long,
    errorMessage: Option[String])

/** Aggregate view over the log (sync_log_repo.py `get_statistics`). */
case class SyncLogStats(
    total: Long, completed: Long, failed: Long, running: Long,
    avgRows: Double, totalRowsSynced: Long)

/** Sync run history / audit log.
  *
  * Reference: src/oracle_duckdb_sync/repository/sync_log_repo.py — a
  * `sync_logs` DuckDB table with create/update by sync id, recent-log
  * listing, per-table statistics, and retention cleanup.
  *
  * Spark shape: an append-only directory of tiny JSON records on the
  * Hadoop filesystem, written and read through [[DocFiles]] — works on
  * local FS, HDFS, object stores; no database dependency, no
  * coordination. Each state transition WRITES A NEW IMMUTABLE FILE
  * `<syncId>.<seq>.json` via a staged write and a checked atomic
  * replace; the highest seq per sync id is that run's current state,
  * so "update" never rewrites in place and concurrent writers on
  * different runs never conflict. The log is metadata (one record per
  * sync run, not per row) — listing it driver-side is bounded; `toDF`
  * exposes it for SQL.
  */
class SyncLogRepo(spark: SparkSession, logDir: String,
                  nowMillis: () => Long = () => System.currentTimeMillis()) {

  private def fs: FileSystem =
    new Path(logDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def toJson(e: SyncLogEntry): String = DocFiles.obj(
    "sync_id" -> e.syncId, "table_name" -> e.table, "sync_type" -> e.syncType,
    "status" -> e.status, "start_millis" -> e.startMillis,
    "end_millis" -> e.endMillis, "total_rows" -> e.totalRows,
    "error_message" -> e.errorMessage)

  private def fromJson(json: String): Option[SyncLogEntry] = {
    import DocFiles.{num, str}
    for {
      id <- str(json, "sync_id")
      table <- str(json, "table_name")
      tpe <- str(json, "sync_type")
      status <- str(json, "status")
      start <- num(json, "start_millis")
      rows <- num(json, "total_rows")
    } yield SyncLogEntry(id, table, tpe, status, start,
      num(json, "end_millis"), rows, str(json, "error_message"))
  }

  private def path(syncId: String, seq: Int) = new Path(logDir, s"$syncId.$seq.json")

  private def write(e: SyncLogEntry, seq: Int): Unit =
    DocFiles.write(fs, path(e.syncId, seq), toJson(e))

  /** Record a run starting; returns the "running" entry to pass to
    * [[logComplete]]/[[logFailure]] (reference `create`).
    */
  def logStart(table: String, syncType: String,
               syncId: String = UUID.randomUUID().toString): SyncLogEntry = {
    val e = SyncLogEntry(syncId, table, syncType, "running",
      nowMillis(), None, 0L, None)
    write(e, 0)
    e
  }

  /** Transition a run to completed with its row count (reference `update`). */
  def logComplete(entry: SyncLogEntry, totalRows: Long): SyncLogEntry = {
    val e = entry.copy(status = "completed", endMillis = Some(nowMillis()),
      totalRows = totalRows)
    write(e, 1)
    e
  }

  /** Record a run that never started because another process holds the
    * sync lease (or the time budget was already spent): one terminal
    * record, no "running" intermediate. `status` is "skipped" for lease
    * contention, "paused" for an exhausted time budget.
    */
  def logTerminal(table: String, syncType: String, status: String,
                  totalRows: Long, reason: String,
                  syncId: String = UUID.randomUUID().toString): SyncLogEntry = {
    val now = nowMillis()
    val e = SyncLogEntry(syncId, table, syncType, status, now, Some(now),
      totalRows, Some(reason))
    write(e, 0)
    e
  }

  /** Transition a run to failed with the error (reference `update`). */
  def logFailure(entry: SyncLogEntry, error: String): SyncLogEntry = {
    val e = entry.copy(status = "failed", endMillis = Some(nowMillis()),
      errorMessage = Some(error))
    write(e, 1)
    e
  }

  /** Current state of every run: highest seq per sync id wins. */
  def entries(): Seq[SyncLogEntry] =
    DocFiles.names(fs, new Path(logDir))
      .filter(_.endsWith(".json"))
      .flatMap { n =>
        n.stripSuffix(".json").split('.').lastOption.flatMap(_.toIntOption).flatMap(seq =>
          DocFiles.read(fs, new Path(logDir, n)).flatMap(fromJson).map(seq -> _))
      }
      .groupBy(_._2.syncId)
      .values.map(_.maxBy(_._1)._2)
      .toSeq
      .sortBy(e => (e.startMillis, e.syncId))

  /** Fetch a run's current state by id (reference `get_by_sync_id`). */
  def getBySyncId(syncId: String): Option[SyncLogEntry] =
    entries().find(_.syncId == syncId)

  /** Most recent runs, newest first, optionally per table
    * (reference `get_recent_logs`).
    */
  def recentLogs(limit: Int = 50, table: Option[String] = None): Seq[SyncLogEntry] =
    entries()
      .filter(e => table.forall(_ == e.table))
      .sortBy(e => (-e.startMillis, e.syncId))
      .take(limit)

  /** Counts + row totals, optionally per table (reference `get_statistics`). */
  def statistics(table: Option[String] = None): SyncLogStats = {
    val es = entries().filter(e => table.forall(_ == e.table))
    val completed = es.filter(_.status == "completed")
    SyncLogStats(
      total = es.size,
      completed = completed.size,
      failed = es.count(_.status == "failed"),
      running = es.count(_.status == "running"),
      avgRows = if (completed.isEmpty) 0.0
        else completed.map(_.totalRows).sum.toDouble / completed.size,
      totalRowsSynced = completed.map(_.totalRows).sum)
  }

  /** Drop runs that STARTED before the cutoff; returns how many were
    * removed (reference `delete_old_logs`).
    */
  def deleteOldLogs(olderThanMillis: Long): Int = {
    val old = entries().filter(_.startMillis < olderThanMillis)
    old.foreach(e => Seq(0, 1).foreach(seq => DocFiles.delete(fs, path(e.syncId, seq))))
    old.size
  }

  /** The log as a DataFrame, queryable/joinable like any table. */
  def toDF(): DataFrame = {
    val sp = spark
    import sp.implicits._
    entries().toDF()
  }
}
