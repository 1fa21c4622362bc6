package graftbench

import java.io.File
import java.sql.Connection

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.cache._
import graft.ops.{Lttb, VizPrep}

/** `dashboard`: one user issuing a fixed cycle of cached bucket
  * aggregates and an LTTB chart over an append-only synced history;
  * each cycle starts after a small committed-and-synced tail, so every
  * request refreshes its cache through the O(tail) path and every
  * cycle does the same work.
  *
  * The caches live in [[ParquetCacheProvider]], the durable provider a
  * separate sync worker and dashboard process would share.
  */
final class Dashboard(ctx: Ctx, gen: DashboardGen) extends Workload {
  private val spark = ctx.spark
  private val db = "graftdash"
  private val RowLimit = 200000

  private var conn: Connection = _
  private var t: SyncedTable = _
  private var cacheDir = ""
  private var mgr: QueryCacheManager = _
  private var aggs: CachedAggService = _
  private var rows: CachedQueryService = _

  private val requests = mutable.ArrayBuffer[Double]()
  private val freshness = mutable.ArrayBuffer[Double]()
  private var syncRows = 0L
  private var syncSeconds = 0.0
  private val freshRows = mutable.ArrayBuffer[Long]()
  private val lttbRowsIn = mutable.ArrayBuffer[Long]()
  private var statsAtStart: (Long, Long, Double) = (0L, 0L, 0.0)

  def setup(): Unit = {
    conn = Derby.connect(db)
    val table = "DASH"
    Derby.createTable(conn, table)
    Derby.insert(conn, table, gen.history())
    conn.commit()
    val root = ctx.dir("dash")
    t = new SyncedTable(ctx, db, table, root, gen.HistoryRows.toLong)
    val e = t.sync()
    ctx.check(e.status == "completed" && e.totalRows == gen.HistoryRows,
      s"full sync of $table: status ${e.status}, ${e.totalRows} rows")
    cacheDir = s"$root/cache"
  }

  private def tail(i: Int): Unit = {
    val n = ctx.tracer.span("gen.commit", s"tail-$i") {
      val rs = gen.tail()
      Derby.insert(conn, t.table, rs)
      conn.commit()
      rs.size
    }
    val tCommit = System.nanoTime()
    val entry = ctx.op(s"tail sync $i")(ctx.tracer.span("sync.cycle", s"tail-$i")(t.sync()))
    val s = (System.nanoTime() - tCommit) / 1e9
    entry.foreach { e =>
      ctx.check(e.status == "completed" && e.totalRows == n,
        s"tail $i sync: status ${e.status}, ${e.totalRows} rows applied, $n committed")
      freshness += s
      syncSeconds += s
      syncRows += n
    }
  }

  /** Expected (count, sum in thousandths, min, max) per bucket start. */
  private def expectedBuckets(interval: String): Map[Long, (Long, Long, Long, Long)] = {
    val w = interval match {
      case "10 minutes" => 600L
      case "1 hour" => 3600L
      case "1 day" => 86400L
    }
    gen.rows.values.groupBy(r => Math.floorDiv(r.tsSec, w) * w).map { case (b, rs) =>
      val v = rs.map(_.valMilli)
      b -> (rs.size.toLong, v.sum, v.min, v.max)
    }
  }

  private def milli(d: java.math.BigDecimal): Long = d.movePointRight(3).longValueExact()

  private def aggRequest(i: Int, interval: String, measured: Boolean): () => Unit = {
    val res = ctx.tracer.span("cache.agg", s"req-$i") {
      val r = aggs.aggregateWithCaching(t.target, "TS", interval, "VAL")
      (r, r.df.collect())
    }
    if (measured) freshRows += res._1.newRows
    () => {
      val got = res._2
      val want = expectedBuckets(interval)
      ctx.check(got.length == want.size,
        s"agg $i ($interval): ${got.length} buckets, expected ${want.size}")
      got.foreach { r =>
        val b = r.getTimestamp(0).getTime / 1000L
        want.get(b) match {
          case None => ctx.fail(s"agg $i ($interval): unexpected bucket $b")
          case Some((n, sum, mn, mx)) =>
            val cnt = r.getLong(1)
            val avg = r.getDouble(2)
            ctx.check(cnt == n && math.round(avg * cnt * 1000.0) == sum &&
              milli(r.getDecimal(3)) == mn && milli(r.getDecimal(4)) == mx,
              s"agg $i ($interval) bucket $b: got ($cnt, avg $avg, ${r.get(3)}, ${r.get(4)}), " +
                s"expected ($n, sum $sum, $mn, $mx) thousandths")
        }
      }
    }
  }

  private def chartRequest(i: Int, lo: Long, hi: Long, measured: Boolean): () => Unit = {
    val cached = ctx.tracer.span("cache.rows", s"req-$i") {
      rows.queryWithCaching(t.target, RowLimit, Some("TS"), Some(Map.empty))
    }
    if (measured) freshRows += cached.newRows
    val win = VizPrep.filterByRange(
      cached.df.withColumn("x", col("TS").cast("double")), "x", lo.toDouble, hi.toDouble)
    val pts = ctx.tracer.span("viz.lttb", s"req-$i") {
      Lttb.downsample(win, "x", "VAL", gen.ChartPoints, Seq("ID"))
        .select("ID", "x", "VAL").collect()
    }
    val yRange = ctx.tracer.span("viz.range", s"req-$i")(VizPrep.yAxisRange(win, "VAL"))
    () => {
      val inWin = gen.rows.values.filter(r => r.tsSec >= lo && r.tsSec <= hi).toSeq
      if (measured) lttbRowsIn += inWin.size
      val xs = pts.map(_.getDouble(1))
      ctx.check(pts.length == gen.ChartPoints,
        s"chart $i: ${pts.length} points, expected ${gen.ChartPoints}")
      ctx.check(xs.nonEmpty && xs.head == inWin.map(_.tsSec).min.toDouble &&
        xs.last == inWin.map(_.tsSec).max.toDouble,
        s"chart $i: first/last point is not the window's first/last row")
      ctx.check(xs.sliding(2).forall(p => p.size < 2 || p(0) < p(1)),
        s"chart $i: x is not strictly increasing")
      ctx.check(pts.forall { p =>
        gen.rows.get(p.getLong(0)).exists(r =>
          r.tsSec.toDouble == p.getDouble(1) && r.valMilli == milli(p.getDecimal(2)))
      }, s"chart $i: a point is not a committed row")
      val vs = inWin.map(_.value.toDouble)
      val (mn, mx) = (vs.min, vs.max)
      val pad = if (mx > mn) (mx - mn) * VizPrep.DefaultPaddingPercent
                else math.max(math.abs(mx) * VizPrep.DefaultPaddingPercent, 1e-9)
      ctx.check(yRange.exists { case (a, b) =>
        math.abs(a - (mn - pad)) < 1e-6 && math.abs(b - (mx + pad)) < 1e-6
      }, s"chart $i: y range $yRange, expected (${mn - pad}, ${mx + pad})")
    }
  }

  /** One request (the first of a cycle after a synced tail); returns
    * the seconds the user waited for the request.
    */
  private def unit(i: Int, measured: Boolean): Double = {
    if (measured && Math.floorMod(i, gen.Cycle) == 0) tail(i)
    val req = gen.request(i)
    val t0 = System.nanoTime()
    val verify = ctx.op(s"request $i") {
      ctx.tracer.span("request", s"req-$i") {
        req match {
          case Agg(iv) => aggRequest(i, iv, measured)
          case Chart(lo, hi) => chartRequest(i, lo, hi, measured)
        }
      }
    }
    val wait = (System.nanoTime() - t0) / 1e9
    verify.foreach(v => ctx.timedCheck(v()))
    if (verify.isDefined) wait else Double.NaN
  }

  /** One cycle of requests without a tail: they build the caches (the
    * initial full loads) from the full-synced target; every measured
    * cycle refreshes them.
    */
  def warmup(): Unit = {
    mgr = new QueryCacheManager(new ParquetCacheProvider(spark, cacheDir))
    aggs = new CachedAggService(spark, t.targetDir, mgr)
    rows = new CachedQueryService(spark, t.targetDir, mgr)
    (-gen.Cycle until 0).foreach(i => unit(i, measured = false))
  }

  def step(i: Int): Double = {
    if (i == 0) statsAtStart = mgr.statistics
    val w = unit(i, measured = true)
    requests += w
    w
  }

  def finalCheck(): Unit = {
    val src = Derby.readAll(conn, t.table)
    SyncedTable.rowSetCheck(ctx, "dashboard", t.collectTarget(), src)
  }

  def detailMetrics(unitsSeconds: Double): Seq[(String, Double, String)] = {
    val (rTail, rPct, rBeyond) = Stats.tail(requests.toSeq)
    val f = if (freshness.isEmpty) Seq(Double.NaN) else freshness.toSeq
    val (fTail, fPct, fBeyond) = Stats.tail(f)
    Seq(
      ("request_s.p50", Stats.median(requests.toSeq), "s"),
      ("request_s.tail", rTail, "s"),
      ("request_s.tail_pct", rPct.toDouble, "pct"),
      ("request_s.tail_beyond", rBeyond.toDouble, "count"),
      ("request_s.n", requests.size.toDouble, "count"),
      ("freshness_s.p50", Stats.median(f), "s"),
      ("freshness_s.tail", fTail, "s"),
      ("freshness_s.tail_pct", fPct.toDouble, "pct"),
      ("freshness_s.tail_beyond", fBeyond.toDouble, "count"),
      ("freshness_s.n", freshness.size.toDouble, "count"),
      ("sync_rows_per_s", syncRows / syncSeconds, "rows/s"),
      ("stored_bytes_per_row", t.storedBytes() / gen.rows.size.toDouble, "B/row"))
  }

  def layerExtras(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val (h0, m0, _) = statsAtStart
    val (h1, m1, _) = mgr.statistics
    val calls = (h1 - h0) + (m1 - m0)
    val slices = Option(new File(cacheDir, "hist").listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("slice-"))
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    Seq(
      ("cache.hit_rate", if (calls == 0) 0.0 else (h1 - h0).toDouble / calls, "ratio"),
      ("cache.fresh_rows", mean(freshRows.toSeq), "rows"),
      ("cache.slices", slices.toDouble, "count"),
      ("viz.lttb.rows_in", mean(lttbRowsIn.toSeq), "rows"))
  }

  override def cycle: Int = gen.Cycle

  override def close(): Unit = if (conn != null) conn.close()
}
