package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.IncrementalStream

object Operators {
  /** The pass: a LinkGraph job behind the local-kernel gate and an
    * IncrementalStream sink run with Trigger.AvailableNow over staged
    * micro-batch files.
    */
  val Jobs: Seq[String] = Seq("d_hits", "stream_upsert")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
}

/** `operators`: one pass over [[Operators.Jobs]] per unit, on inputs the
  * seeded [[OpsGen]] writes during set-up. Each output is checked
  * against what the job's contract implies for the generated inputs,
  * computed here without graft.
  */
final class Operators(ctx: Ctx, gen: OpsGen) extends Workload {
  import Operators._
  private val spark = ctx.spark
  private var docs = Seq.empty[OpsDoc]
  private var events = Seq.empty[OpsEvent]
  private var dataDir = ""
  private var eventsIn = ""
  private var upsertBytes = 0L
  private var upsertRows = 0L
  private var cpuPerPass = Seq.empty[Double]

  /** Generate the inputs: the `documents` table the graph job reads,
    * and the streaming input as fixed micro-batch files by key range.
    */
  def setup(): Unit = {
    val (d, e) = gen.generate()
    docs = d
    events = e
    val root = ctx.dir("ops_in")
    dataDir = s"$root/data"
    eventsIn = s"$root/events"
    val docDf = spark.createDataFrame(
      docs.map(x => Row(x.id, x.text, x.lang, x.source, x.text.length.toLong)).asJava, DocSchema)
    val eventDf = spark.createDataFrame(
      events.map(x => Row(x.id, Derby.ts(x.tsSec), x.user, x.kind, x.value, x.props)).asJava,
      EventSchema)
    docDf.coalesce(1).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    eventDf.repartitionByRange(8, col("event_id")).write.mode("overwrite").parquet(eventsIn)
  }

  def warmup(): Unit = ()

  /** Run one job; returns its output, collected, for the check. */
  private def run(job: String, pass: Int): Array[Row] = {
    val root = ctx.dir(s"ops_pass_$pass/$job")
    job match {
      case "stream_upsert" =>
        IncrementalStream.sinkUpsert(
          IncrementalStream.readEvents(spark, eventsIn, EventSchema, maxFilesPerTrigger = 2),
          s"$root/target", s"$root/ckpt", Seq("user_id"), "ts", "event_id")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
        val out = IncrementalStream.readUpsertTarget(spark, s"$root/target").get
        val rows = out.select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
        upsertBytes = out.inputFiles.map(f => new File(new java.net.URI(f)).length()).sum
        upsertRows = rows.length
        rows
      case q =>
        graft.SparkEntry.queries(q)(spark, dataDir).collect()
    }
  }

  /** What each job must return for the generated inputs. */
  private def check(job: String, pass: Int, out: Array[Row]): Unit = {
    val what = s"$job pass $pass"
    job match {
      case "d_hits" =>
        val sources = docs.map(_.source).distinct
        val n = sources.size
        // ring over the sorted sources plus an edge from each to
        // hub.example: by symmetry every source scores hub 1/n and
        // authority 1/(2n); hub.example scores hub 0, authority 1/2
        val got = out.map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        val want = sources.map(_ -> (1.0 / n, 0.5 / n)) :+ ("hub.example" -> (0.0, 0.5))
        ctx.check(out.length == n + 1 && got.keySet == want.map(_._1).toSet,
          s"$what: ${out.length} nodes, expected ${n + 1}")
        ctx.check(want.forall { case (k, (h, a)) =>
          got.get(k).exists { case (gh, ga) => math.abs(gh - h) <= 2e-6 && math.abs(ga - a) <= 2e-6 }
        }, s"$what: a hub or authority score differs from the ring's closed form")
      case "stream_upsert" =>
        val want = events.groupBy(_.user).values
          .map(_.maxBy(e => (e.tsSec, e.id))).map(e => e.id -> e).toMap
        val got = out.map { r =>
          OpsEvent(r.getLong(0), r.getTimestamp(1).getTime / 1000L, r.getLong(2),
            r.getString(3), r.getDouble(4), r.getString(5))
        }
        ctx.check(got.length == want.size && got.forall(e => want.get(e.id).contains(e)),
          s"$what: ${got.length} rows, expected the latest of each of ${want.size} users")
    }
  }

  def step(i: Int): Double = {
    val cpu0 = Jvm.cpuSeconds()
    val t0 = System.nanoTime()
    Jobs.foreach { job =>
      ctx.op(s"$job pass $i")(ctx.tracer.span(s"op.$job", s"pass-$i")(run(job, i)))
        .foreach(out => ctx.timedCheck(check(job, i, out)))
    }
    cpuPerPass = cpuPerPass :+ (Jvm.cpuSeconds() - cpu0)
    (System.nanoTime() - t0) / 1e9
  }

  def finalCheck(): Unit = ()

  def detailMetrics(unitsSeconds: Double): Seq[(String, Double, String)] =
    Seq(
      ("batch_s", unitsSeconds / math.max(cpuPerPass.size, 1), "s"),
      ("batch_cpu_s", Stats.median(cpuPerPass), "s"),
      ("passes", cpuPerPass.size.toDouble, "count"),
      ("stored_bytes_per_row", upsertBytes / math.max(upsertRows, 1L).toDouble, "B/row"))

  def layerExtras(spans: Seq[Span]): Seq[(String, Double, String)] = Nil
}
