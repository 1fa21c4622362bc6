package graftbench

import java.sql.{Connection, DriverManager, Timestamp}

import scala.collection.mutable

/** One source row: time in whole UTC seconds, value in thousandths
  * (the source column is DECIMAL(12,3), so sums stay exact).
  */
final case class Rec(id: Long, tsSec: Long, sensor: String, valMilli: Long, note: String) {
  def value: BigDecimal = BigDecimal(valMilli, 3)
}

/** The live JDBC source: an in-process, in-memory Derby database. */
object Derby {
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  def url(db: String): String = s"jdbc:derby:memory:$db;create=true"

  def connect(db: String): Connection = {
    Class.forName(Driver)
    val c = DriverManager.getConnection(url(db))
    c.setAutoCommit(false)
    c
  }

  def createTable(c: Connection, table: String): Unit = {
    val st = c.createStatement()
    try {
      st.execute(s"CREATE TABLE $table (ID BIGINT PRIMARY KEY, TS TIMESTAMP NOT NULL, " +
        "SENSOR VARCHAR(16) NOT NULL, VAL DECIMAL(12,3) NOT NULL, NOTE VARCHAR(24) NOT NULL)")
      st.execute(s"CREATE INDEX ${table}_TS ON $table (TS)")
      c.commit()
    } finally st.close()
  }

  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  def insert(c: Connection, table: String, rows: Seq[Rec]): Unit = {
    val ps = c.prepareStatement(s"INSERT INTO $table (ID, TS, SENSOR, VAL, NOTE) VALUES (?, ?, ?, ?, ?)")
    try {
      rows.grouped(2000).foreach { chunk =>
        chunk.foreach { r =>
          ps.setLong(1, r.id)
          ps.setTimestamp(2, ts(r.tsSec))
          ps.setString(3, r.sensor)
          ps.setBigDecimal(4, r.value.bigDecimal)
          ps.setString(5, r.note)
          ps.addBatch()
        }
        ps.executeBatch()
      }
    } finally ps.close()
  }

  def update(c: Connection, table: String, rows: Seq[Rec]): Unit = {
    val ps = c.prepareStatement(s"UPDATE $table SET TS = ?, VAL = ?, NOTE = ? WHERE ID = ?")
    try {
      rows.foreach { r =>
        ps.setTimestamp(1, ts(r.tsSec))
        ps.setBigDecimal(2, r.value.bigDecimal)
        ps.setString(3, r.note)
        ps.setLong(4, r.id)
        ps.addBatch()
      }
      val n = ps.executeBatch()
      require(n.forall(_ == 1), s"an UPDATE on $table matched no row")
    } finally ps.close()
  }

  /** The whole table, read back over JDBC. */
  def readAll(c: Connection, table: String): Seq[Rec] = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT ID, TS, SENSOR, VAL, NOTE FROM $table")
      val out = mutable.ArrayBuffer[Rec]()
      while (rs.next())
        out += Rec(rs.getLong(1), rs.getTimestamp(2).getTime / 1000L, rs.getString(3),
          rs.getBigDecimal(4).movePointRight(3).longValueExact(), rs.getString(5))
      rs.close()
      c.commit()
      out.toSeq
    } finally st.close()
  }
}

/** Shared row-making for the two sync-fed workloads. */
abstract class SourceGen(seed: Long) {
  /** 2024-01-01T00:00:00Z */
  val T0: Long = 1704067200L
  protected val rnd = new java.util.Random(seed)
  val rows = mutable.LongMap[Rec]()
  var nextId = 1L
  var maxTs = T0

  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  protected def note(): String = {
    val n = 6 + rnd.nextInt(13)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb += alphabet.charAt(rnd.nextInt(alphabet.length)))
    sb.result()
  }
  protected def sensor(): String = f"sensor-${rnd.nextInt(64)}%02d"
  protected def value(): Long = rnd.nextInt(2000001).toLong - 1000000L

  protected def record(r: Rec): Rec = {
    rows(r.id) = r
    if (r.tsSec > maxTs) maxTs = r.tsSec
    r
  }

  protected def shuffle[A: scala.reflect.ClassTag](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}

/** `sync_upsert`'s source: a history table spread over `HistoryDays`,
  * then waves of out-of-order inserts past the watermark plus updates
  * that move existing keys to a fresh time — mostly recent keys, a few
  * random old ones — so only a few day-partitions go stale per wave.
  *
  * The traffic: 30 days of history at one row every ~43 s, and per
  * sync interval (a wave) 2,000 new rows plus 800 corrected ones — the
  * 5:2 insert:update mix of a 5k + 2k wave at 0.4 of its size.
  */
final class HistoryGen(seed: Long) extends SourceGen(seed) {
  val HistoryRows = 60000
  val HistoryDays = 30
  val WaveInserts = 2000
  val WaveRecentUpdates = 796
  val WaveOldUpdates = 4
  val RecentWindow = 4000
  val WaveSpanSec = 1200L

  /** Ids follow time, as with an identity key, so the newest keys are
    * the newest rows.
    */
  def history(): Seq[Rec] = {
    val span = HistoryDays * 86400
    Seq.fill(HistoryRows)(T0 + rnd.nextInt(span)).sorted.map { ts =>
      val id = nextId
      nextId += 1
      record(Rec(id, ts, sensor(), value(), note()))
    }
  }

  /** One wave: (inserts in commit order, updates). Every new time is
    * strictly past the source's current maximum, so past the watermark.
    */
  def wave(): (Seq[Rec], Seq[Rec]) = {
    val base = maxTs
    def fresh(): Long = base + 1 + rnd.nextInt(WaveSpanSec.toInt)
    val lastOld = nextId - 1
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < WaveRecentUpdates)
      picked += lastOld - rnd.nextInt(math.min(RecentWindow, lastOld.toInt))
    while (picked.size < WaveRecentUpdates + WaveOldUpdates)
      picked += 1L + rnd.nextInt(lastOld.toInt)
    val updates = picked.toSeq.map { id =>
      rows(id).copy(tsSec = fresh(), valMilli = value(), note = note())
    }
    val inserts = (0 until WaveInserts).map { _ =>
      val id = nextId
      nextId += 1
      Rec(id, fresh(), sensor(), value(), note())
    }
    (shuffle(inserts).map(record), updates.map(record))
  }
}

sealed trait Request
final case class Agg(interval: String) extends Request
/** A chart over [loSec, hiSec] (inclusive, whole seconds). */
final case class Chart(loSec: Long, hiSec: Long) extends Request

/** `dashboard`'s source: an append-only history with one row every
  * `StepSec` seconds (unique times), appended to by small tails; plus
  * the seeded request mix the dashboard user issues.
  *
  * The traffic: one feed sampled every 10 s, a week of history
  * (60,480 rows); each tail is the next hour of samples (360 rows); a
  * chart shows two days of it (17,280 rows) at 500 points.
  */
final class DashboardGen(seed: Long) extends SourceGen(seed) {
  val HistoryRows = 60480
  val StepSec = 10
  val TailRows = 360
  val Intervals = Seq("10 minutes", "1 hour", "1 day")
  val ChartPoints = 500

  private def nextRow(): Rec = {
    val id = nextId
    nextId += 1
    record(Rec(id, T0 + (id - 1) * StepSec + rnd.nextInt(StepSec), sensor(), value(), note()))
  }

  def history(): Seq[Rec] = (1 to HistoryRows).map(_ => nextRow())

  def tail(): Seq[Rec] = shuffle((1 to TailRows).map(_ => nextRow()))

  /** Units per request cycle: one aggregate per interval, then a chart. */
  val Cycle: Int = Intervals.size + 1
  val ChartSpanSec: Long = 2 * 86400L

  /** Request `i` of the fixed cycle: the 10-minute, hourly and daily
    * aggregates, then a chart over a 2-day window ending at a seeded
    * point of the history's last 4 days. A tail precedes each cycle.
    */
  def request(i: Int): Request = {
    val k = Math.floorMod(i, Cycle)
    if (k < Intervals.size) Agg(Intervals(k))
    else {
      val hi = maxTs - rnd.nextInt(4 * 86400)
      Chart(math.max(T0, hi - ChartSpanSec), hi)
    }
  }
}

final case class OpsDoc(id: Long, text: String, lang: String, source: String)
final case class OpsEvent(id: Long, tsSec: Long, user: Long, kind: String, value: Double,
                          props: String)

/** `operators`' inputs, in the shape of the repository's test tables
  * (TESTDATA.md): `documents` (doc_id, text, lang, source, n_chars) and
  * `events` (event_id, ts, user_id, event_type, value, props). Every
  * source site hosts at least one document.
  */
final class OpsGen(seed: Long) {
  val Sources = 2000
  val Docs = 20000
  val Events = 40000
  val Users = 4000
  val EventSpanSec = 10 * 86400

  private val words = Seq("sync", "graft", "spark", "table", "cache", "chart", "bucket",
    "source", "target", "wave", "merge", "stream", "batch", "query", "row", "key")
  private val langs = Seq("en", "de", "fr", "es")
  private val kinds = Seq("view", "click", "buy", "share")

  /** The same seed yields the same documents and events. */
  def generate(): (Seq[OpsDoc], Seq[OpsEvent]) = {
    val rnd = new java.util.Random(seed)
    val sites = mutable.LinkedHashSet[String]()
    while (sites.size < Sources) sites += f"s${rnd.nextInt(1000000)}%06d.example"
    val siteArr = sites.toArray
    val docs = (0 until Docs).map { i =>
      val text = (0 until 4 + rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      val site = if (i < Sources) siteArr(i) else siteArr(rnd.nextInt(Sources))
      OpsDoc(i + 1L, text, langs(rnd.nextInt(langs.size)), site)
    }
    val T0 = 1704067200L
    val events = (1 to Events).map { i =>
      OpsEvent(i.toLong, T0 + rnd.nextInt(EventSpanSec), 1L + rnd.nextInt(Users),
        kinds(rnd.nextInt(kinds.size)), rnd.nextInt(100000) / 100.0,
        s"""{"k":${rnd.nextInt(10)}}""")
    }
    (docs, events)
  }
}
