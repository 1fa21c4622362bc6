package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.core.Tables

/** JSONL corpus ingest — the arrival format of large text corpora
  * (one JSON document per line: Common-Crawl derivatives, API dumps,
  * curation-pipeline interchange). The reference ingests from a
  * database cursor (src/oracle_duckdb_sync/database/oracle_source.py);
  * a training-data engine's equivalent bulk door is line-delimited
  * JSON on a distributed filesystem.
  *
  * 100 TB rules this encodes:
  *  - EXPLICIT schema, never inference. Spark's JSON schema inference
  *    is a full extra pass over the input before the first real job —
  *    at corpus scale that doubles ingest I/O. Callers pass the
  *    schema; [[sampleSchema]] exists for interactive exploration and
  *    reads a bounded number of lines only.
  *  - One bad line must not kill a million-file job. PERMISSIVE mode
  *    routes malformed lines into a corrupt-record column; [[read]]
  *    splits them into a quarantine frame carrying the raw line, so
  *    ingest is total: every input line lands in exactly one of
  *    (typed corpus, quarantine).
  *  - JSONL is splittable (newline-framed), so a big file fans out
  *    across tasks by byte range like parquet — no gzip container
  *    (a .json.gz file is one task; re-compress as zstd-parquet at
  *    the first landing write, which [[toParquet]] does).
  *
  * Quarantine semantics: a line lands in quarantine iff it is not
  * parseable JSON for the given schema (malformed syntax or a type
  * mismatch on a present field). A MISSING field is not corruption —
  * it reads as null (JSON's open-world convention); gate on
  * `IS NOT NULL` downstream if a field is mandatory.
  */
object JsonlCorpus {

  private val CorruptCol = "__graft_corrupt"

  /** Read `path` as JSONL with `schema`. Returns (typed rows,
    * quarantined raw lines). The quarantine frame has one column,
    * `raw_line`. Spark refuses to filter on the corrupt column of an
    * un-materialized JSON scan (SPARK-21610: the pruned re-parse
    * could not reconstruct it), so the split runs off one materialized
    * scan — the input is read once, not once per branch.
    *
    * Lifecycle: the scan is read eagerly, in this call, into a
    * `localCheckpoint` that both returned frames read; no cache entry
    * outlives the call, and the checkpoint's blocks are freed once
    * neither frame is referenced any more.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
           multiLine: Boolean = false): (DataFrame, DataFrame) =
    split(scan(spark, path, schema, multiLine).localCheckpoint(), schema)

  /** The JSONL scan with the corrupt-record column; [[split]] needs it
    * materialized.
    */
  private def scan(spark: SparkSession, path: String,
                   schema: StructType, multiLine: Boolean): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not contain the reserved column $CorruptCol")
    spark.read
      .schema(schema.add(CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("multiLine", multiLine)
      .json(path)
  }

  /** (typed rows, quarantined raw lines) of a materialized [[scan]]. */
  private def split(parsed: DataFrame, schema: StructType): (DataFrame, DataFrame) = {
    val good = parsed.filter(col(CorruptCol).isNull)
      .select(schema.fieldNames.map(col).toSeq: _*)
    val quarantine = parsed.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw_line"))
    (good, quarantine)
  }

  /** Schema inference bounded to `sampleLines` lines — the
    * interactive-exploration path. Reads ONE bounded slice (a
    * `limit` over the text source), never the full corpus.
    */
  def sampleSchema(spark: SparkSession, path: String,
                   sampleLines: Int = 1000): StructType = {
    require(sampleLines >= 1, s"sampleLines must be >= 1, got $sampleLines")
    import spark.implicits._
    val sample = spark.read.text(path).limit(sampleLines)
      .select(col("value")).as[String]
    spark.read.json(sample).schema
  }

  /** Land a JSONL read as parquet — the first thing a pipeline does
    * with arrived JSONL (columnar + statistics + compression;
    * downstream operators get pushdown and pruning that JSON can
    * never give). Quarantined lines land beside the corpus under
    * `<outDir>/_quarantine` so the bad lines survive for triage with
    * the same lifecycle as the data. Returns (rows landed, rows
    * quarantined).
    */
  def toParquet(spark: SparkSession, inPath: String, outDir: String,
                schema: StructType): (Long, Long) = {
    Tables.persisted(scan(spark, inPath, schema, multiLine = false)) { parsed =>
      val (good, bad) = split(parsed, schema)
      good.write.mode("overwrite").parquet(outDir)
      val nBad = bad.count()
      if (nBad > 0)
        bad.write.mode("overwrite").parquet(s"$outDir/_quarantine")
      (spark.read.parquet(outDir).count(), nBad)
    }
  }

  /** Export a frame as JSONL — the interchange format the next
    * pipeline (tokenizer, another engine) reads. Deterministic
    * content: file COUNT follows the frame's partitioning; pass
    * `numFiles` to fix it (range-partitioned on `orderCol` so shard
    * boundaries are stable too).
    */
  def writeJsonl(df: DataFrame, outDir: String,
                 numFiles: Int = 0, orderCol: String = ""): Unit = {
    require(numFiles >= 0, s"numFiles must be >= 0, got $numFiles")
    val out =
      if (numFiles <= 0) df
      else {
        require(orderCol.nonEmpty, "numFiles requires orderCol for stable shards")
        df.repartitionByRange(numFiles, col(orderCol))
          .sortWithinPartitions(col(orderCol))
      }
    out.write.mode("overwrite").json(outDir)
  }
}
