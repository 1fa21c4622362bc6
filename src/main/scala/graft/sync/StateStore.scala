package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.DocFiles

/** Watermark / checkpoint state for batch incremental sync.
  *
  * Reference: src/oracle_duckdb_sync/database/sync_engine.py:568-760
  * (save_state / load_state / create_state_checkpoint / rollback /
  * partial progress) — a JSON state file keyed by table.
  *
  * Implemented over the Hadoop FileSystem API so the same code works
  * on local FS, HDFS, or an object store; every document is written
  * and read through [[DocFiles]] (staged write + checked atomic
  * replace), so a crash mid-save leaves the old value or the new one.
  */
class StateStore(spark: SparkSession, storePath: String) {

  private def fs: FileSystem =
    new Path(storePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def path(table: String) = new Path(storePath, s"$table.state.json")

  /** Save the last-synced watermark value for a table. */
  def saveWatermark(table: String, value: String): Unit =
    DocFiles.write(fs, path(table), DocFiles.obj("table" -> table, "last_value" -> value))

  /** Load the last-synced watermark, or None on first sync. */
  def loadWatermark(table: String): Option[String] =
    DocFiles.read(fs, path(table)).flatMap(DocFiles.str(_, "last_value"))

  // ---- schema mapping versions (sync_engine.py:589 save_schema_mapping /
  // load_schema_mapping): one file per (table, version) + a latest
  // pointer, so schema drift across syncs is detectable and reversible.

  private def schemaPath(table: String, version: String) =
    new Path(storePath, s"$table.schema.$version.json")
  private def latestPath(table: String) =
    new Path(storePath, s"$table.schema.LATEST")

  /** Save a table's schema (e.g. `df.schema.json`) under a version and
    * move the latest pointer.
    */
  def saveSchema(table: String, schemaJson: String, version: String): Unit = {
    DocFiles.write(fs, schemaPath(table, version), schemaJson)
    DocFiles.write(fs, latestPath(table), version)
  }

  /** Load a schema by version (default: latest). */
  def loadSchema(table: String, version: Option[String] = None): Option[String] =
    version.orElse(DocFiles.read(fs, latestPath(table)))
      .flatMap(v => DocFiles.read(fs, schemaPath(table, v)))

  /** All saved versions for a table, sorted. */
  def schemaVersions(table: String): Seq[String] =
    DocFiles.names(fs, new Path(storePath))
      .filter(n => n.startsWith(s"$table.schema.") && n.endsWith(".json"))
      .map(_.stripPrefix(s"$table.schema.").stripSuffix(".json"))
      .sorted

  /** True iff `schemaJson` differs from the latest saved version —
    * the sync engine's drift check before an incremental run.
    */
  def schemaChanged(table: String, schemaJson: String): Boolean =
    !loadSchema(table).contains(schemaJson)

  // ---- partial-progress records (sync_engine.py:709-760
  // save_partial_progress / load_partial_progress /
  // clear_partial_progress): a long full sync persists how far it got
  // so an interrupted run resumes mid-table instead of restarting.

  private def progressPath(table: String) =
    new Path(storePath, s"$table.progress.json")

  /** Record how far a running full sync has advanced: rows completed
    * and the last id covered by a finished slice.
    */
  def savePartialProgress(table: String, rowsProcessed: Long,
                          lastRowId: Long): Unit =
    DocFiles.write(fs, progressPath(table), DocFiles.obj("table" -> table,
      "rows_processed" -> rowsProcessed, "last_row_id" -> lastRowId))

  /** (rowsProcessed, lastRowId) of an interrupted sync, or None. */
  def loadPartialProgress(table: String): Option[(Long, Long)] =
    DocFiles.read(fs, progressPath(table)).flatMap { body =>
      for {
        r <- DocFiles.num(body, "rows_processed")
        l <- DocFiles.num(body, "last_row_id")
      } yield (r, l)
    }

  /** Drop the progress record after a sync completes. */
  def clearPartialProgress(table: String): Unit =
    DocFiles.delete(fs, progressPath(table))

  /** Snapshot all table states (the reference's checkpoint). */
  def checkpoint(): Map[String, String] =
    DocFiles.names(fs, new Path(storePath))
      .filter(_.endsWith(".state.json"))
      .map(_.stripSuffix(".state.json"))
      .flatMap(t => loadWatermark(t).map(t -> _))
      .toMap

  /** Restore a previously taken checkpoint (the reference's rollback). */
  def rollback(state: Map[String, String]): Unit =
    state.foreach { case (t, v) => saveWatermark(t, v) }
}
