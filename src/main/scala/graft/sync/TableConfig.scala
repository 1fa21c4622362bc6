package graft.sync

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.DocFiles

/** Per-table sync configuration — which tables sync, how.
  *
  * Reference: src/oracle_duckdb_sync/table_config/models.py
  * (`TableConfig` with schema/table/target/pk/time-column/enabled/
  * batch-size + `validate`) and table_config/service.py (create/
  * update/delete/toggle/get_sync_targets). The reference keeps these
  * rows in a DuckDB table; here they are small JSON documents on the
  * Hadoop filesystem, one per target table, written and read through
  * [[DocFiles]] — no database dependency, works on object stores,
  * readable by every executor.
  */
case class TableConfig(
    sourceSchema: String,
    sourceTable: String,
    targetTable: String,
    primaryKey: String,
    timeColumn: Option[String] = None,
    syncEnabled: Boolean = true,
    batchSize: Int = 10000,
    description: Option[String] = None) {

  /** schema.table, the reference's get_oracle_full_name. */
  def sourceFullName: String = s"$sourceSchema.$sourceTable"

  def hasTimeColumn: Boolean = timeColumn.exists(_.nonEmpty)

  /** Mirrors table_config/models.py `validate`: required identifiers
    * present, batch size in (0, 100000].
    */
  def validate: Either[String, TableConfig] =
    if (sourceSchema.isEmpty) Left("source schema is required")
    else if (sourceTable.isEmpty) Left("source table is required")
    else if (targetTable.isEmpty) Left("target table is required")
    else if (primaryKey.isEmpty) Left("primary key is required")
    else if (batchSize <= 0) Left("batch size must be positive")
    else if (batchSize > 100000) Left("batch size must be <= 100000")
    else Right(this)
}

object TableConfig {
  private[sync] def toJson(c: TableConfig): String = DocFiles.obj(
    "source_schema" -> c.sourceSchema, "source_table" -> c.sourceTable,
    "target_table" -> c.targetTable, "primary_key" -> c.primaryKey,
    "time_column" -> c.timeColumn, "sync_enabled" -> c.syncEnabled,
    "batch_size" -> c.batchSize, "description" -> c.description)

  private[sync] def fromJson(json: String): Option[TableConfig] = {
    import DocFiles.{bool, num, str}
    for {
      ss <- str(json, "source_schema")
      st <- str(json, "source_table")
      tt <- str(json, "target_table")
      pk <- str(json, "primary_key")
    } yield TableConfig(ss, st, tt, pk,
      timeColumn = str(json, "time_column").filter(_.nonEmpty),
      syncEnabled = bool(json, "sync_enabled").getOrElse(true),
      batchSize = num(json, "batch_size").map(_.toInt).getOrElse(10000),
      description = str(json, "description"))
  }
}

/** CRUD over the config directory (table_config/repository+service).
  * Keyed by target table — one sync destination, one config.
  */
class TableConfigRepo(spark: SparkSession, dir: String) {

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def path(target: String) = new Path(dir, s"$target.config.json")

  /** Create or replace a config; rejects invalid ones
    * (service.create_table_config / update_table_config).
    */
  def upsert(cfg: TableConfig): Either[String, TableConfig] =
    cfg.validate.map { c =>
      DocFiles.write(fs, path(c.targetTable), TableConfig.toJson(c))
      c
    }

  def get(targetTable: String): Option[TableConfig] =
    DocFiles.read(fs, path(targetTable)).flatMap(TableConfig.fromJson)

  def all(enabledOnly: Boolean = false): Seq[TableConfig] =
    DocFiles.names(fs, new Path(dir))
      .filter(_.endsWith(".config.json"))
      .flatMap(n => get(n.stripSuffix(".config.json")))
      .filter(c => !enabledOnly || c.syncEnabled)
      .sortBy(_.targetTable)

  /** Enabled configs — what a sync cycle runs (get_sync_targets). */
  def syncTargets: Seq[TableConfig] = all(enabledOnly = true)

  /** Flip sync on/off without touching the rest (toggle_sync). */
  def toggleSync(targetTable: String, enabled: Boolean): Boolean =
    get(targetTable) match {
      case Some(c) => upsert(c.copy(syncEnabled = enabled)).isRight
      case None => false
    }

  def delete(targetTable: String): Boolean = DocFiles.delete(fs, path(targetTable))
}
