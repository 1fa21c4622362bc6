package graftbench

import java.io.File
import java.sql.Connection

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.JdbcSync
import graft.sync._

/** A Derby table synced into a day-partitioned parquet target through
  * graft's public sync API; shared by `sync_upsert` and `dashboard`.
  */
final class SyncedTable(ctx: Ctx, db: String, val table: String, root: String,
                        scanUpper: Long) {
  private val spark: SparkSession = ctx.spark
  val target = "hist"
  val targetDir: String = s"$root/target"
  val targetPath: String = s"$targetDir/$target.parquet"
  val bucket: Column = date_format(col("TS"), "yyyy-MM-dd")
  val cfg: TableConfig = TableConfig("APP", table, target, "ID", Some("TS"))

  private def source(c: TableConfig): DataFrame =
    JdbcSync.read(spark, JdbcSync.partitionedReadOptions(Derby.url(db), c.sourceTable,
      "ID", 1L, scanUpper, ctx.jdbcScanPartitions) + ("driver" -> Derby.Driver))

  val runner = new SyncRunner(spark, source, targetDir,
    new StateStore(spark, s"$root/state"), new SyncLogRepo(spark, s"$root/log"))

  def sync(): SyncLogEntry = runner.syncTablePartitioned(cfg, bucket)

  /** partition directory -> its data file names, from the local listing. */
  def listing(): Map[String, Set[String]] =
    Option(new File(targetPath).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(PartitionedSync.PartCol + "="))
      .map(d => d.getName -> Option(d.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
      .toMap

  def storedBytes(): Long =
    Option(new File(targetPath).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

  /** The synced table, collected (the checks compare it row by row). */
  def collectTarget(): Seq[Rec] =
    PartitionedSync.read(spark, targetPath)
      .select(col("ID"), unix_seconds(col("TS")),
        col("SENSOR"), (col("VAL") * 1000).cast("long"), col("NOTE"))
      .collect().toSeq
      .map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getString(4)))
}

object SyncedTable {
  /** Share of the target's partitions whose file set a wave changed. */
  def rewrittenShare(before: Map[String, Set[String]], after: Map[String, Set[String]]): Double =
    if (after.isEmpty) 0.0
    else after.count { case (p, files) => !before.get(p).contains(files) }.toDouble / after.size

  def rowSetCheck(ctx: Ctx, what: String, got: Seq[Rec], want: Seq[Rec]): Unit = {
    val g = got.groupBy(_.id)
    val dup = g.count(_._2.size > 1)
    ctx.check(dup == 0, s"$what: $dup keys appear more than once in the target")
    val w = want.map(r => r.id -> r).toMap
    val missing = w.keySet.diff(g.keySet).size
    val extra = g.keySet.diff(w.keySet).size
    val differ = w.count { case (id, r) => g.get(id).exists(_.head != r) }
    ctx.check(missing == 0 && extra == 0 && differ == 0,
      s"$what: target != source ($missing missing, $extra extra, $differ differing rows)")
  }
}

/** `sync_upsert`: waves of inserts and updates committed to the live
  * source, each followed by one partitioned sync cycle and compaction.
  */
final class SyncUpsert(ctx: Ctx, gen: HistoryGen) extends Workload {
  private val db = "graftbench"
  private var conn: Connection = _
  private var t: SyncedTable = _
  val WarmupWaves = 1

  private val freshness = mutable.ArrayBuffer[Double]()
  private val syncSeconds = mutable.ArrayBuffer[Double]()
  private val shares = mutable.ArrayBuffer[Double]()
  private var changed = 0L
  private var compacted = 0L
  private var jdbcAtStart = 0L

  def setup(): Unit = {
    conn = Derby.connect(db)
    val table = "HIST"
    Derby.createTable(conn, table)
    Derby.insert(conn, table, gen.history())
    conn.commit()
    t = new SyncedTable(ctx, db, table, ctx.dir("sync"), gen.HistoryRows.toLong)
    val e = t.sync()
    ctx.check(e.status == "completed" && e.totalRows == gen.HistoryRows,
      s"full sync of $table: status ${e.status}, ${e.totalRows} rows")
  }

  /** One wave; returns (freshness, sync wall, changed rows). */
  private def wave(i: Int): Option[(Double, Double, Long)] = {
    val (ins, upd) = ctx.tracer.span("gen.commit", s"wave-$i") {
      val w = gen.wave()
      Derby.insert(conn, t.table, w._1)
      Derby.update(conn, t.table, w._2)
      conn.commit()
      w
    }
    val tCommit = System.nanoTime()
    val n = (ins.size + upd.size).toLong
    val before = t.listing()
    val tSync = System.nanoTime()
    val entry = ctx.op(s"sync wave $i") {
      ctx.tracer.span("sync.cycle", s"wave-$i")(t.sync())
    }
    val tDone = System.nanoTime()
    entry.foreach(e => ctx.check(e.status == "completed" && e.totalRows == n,
      s"wave $i sync: status ${e.status}, ${e.totalRows} rows applied, $n changed"))
    shares += SyncedTable.rewrittenShare(before, t.listing())
    ctx.op(s"compaction wave $i") {
      ctx.tracer.span("compaction.run", s"wave-$i")(Compaction.compact(ctx.spark, t.targetPath))
    }.foreach(s => compacted += s.compacted.size)
    entry.map(_ => ((tDone - tCommit) / 1e9, (tDone - tSync) / 1e9, n))
  }

  def warmup(): Unit = {
    (0 until WarmupWaves).foreach(i => wave(-1 - i))
    shares.clear()
    compacted = 0L
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    jdbcAtStart = ctx.jdbcRows.map(_.rows).getOrElse(0L)
  }

  def step(i: Int): Double = wave(i) match {
    case Some((f, s, n)) =>
      freshness += f
      syncSeconds += s
      changed += n
      f
    case None => Double.NaN
  }

  def finalCheck(): Unit = {
    val src = Derby.readAll(conn, t.table)
    SyncedTable.rowSetCheck(ctx, "sync_upsert", t.collectTarget(), src)
    val g = gen.rows.values.toSeq
    ctx.check(src.size == g.size && src.toSet == g.toSet,
      "sync_upsert: the source table does not hold what the generator committed")
  }

  def detailMetrics(unitsSeconds: Double): Seq[(String, Double, String)] = {
    val (tailV, pct, beyond) = Stats.tail(freshness.toSeq)
    val live = gen.rows.size.toDouble
    Seq(
      ("freshness_s.p50", Stats.median(freshness.toSeq), "s"),
      ("freshness_s.tail", tailV, "s"),
      ("freshness_s.tail_pct", pct.toDouble, "pct"),
      ("freshness_s.tail_beyond", beyond.toDouble, "count"),
      ("freshness_s.n", freshness.size.toDouble, "count"),
      ("sync_rows_per_s", changed / syncSeconds.sum, "rows/s"),
      ("stored_bytes_per_row", t.storedBytes() / live, "B/row"))
  }

  def layerExtras(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val cycles = spans.filter(_.name == "sync.cycle")
    val ch = math.max(changed, 1L).toDouble
    Seq(
      ("source.rows_pulled_per_change",
        (ctx.jdbcRows.map(_.rows).getOrElse(0L) - jdbcAtStart) / ch, "ratio"),
      ("sync.partitions_rewritten_share", Stats.median(shares.toSeq), "ratio"),
      ("sync.bytes_written_per_change", cycles.map(_.writtenBytes).sum / ch, "B"),
      ("compaction.partitions_rewritten", compacted.toDouble, "count"))
  }

  /** Waves are measured three at a time: a run's first wave after the
    * one warm-up wave is still slower than the rest, and a fixed count
    * keeps its weight the same in every run.
    */
  override def cycle: Int = 3

  override def close(): Unit = if (conn != null) conn.close()
}
