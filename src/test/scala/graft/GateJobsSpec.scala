package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ListenerBus

import graft.core.{LocalGate, Tables}
import graft.ops.LinkGraph

/** What a gated graph call costs in Spark jobs: pageRank, HITS,
  * harmonic centrality, SCC and bow-tie below the gate count their
  * pinned edge frame, the action that fills the pin, collect it once
  * and derive the nodes on the driver, so a call runs no more jobs than
  * filling and counting that pin plus one collect.
  */
class GateJobsSpec extends SparkSpec {
  import spark.implicits._

  private val Tag = "graft.test.jobs"

  /** Spark jobs `body` starts on this thread (and the threads its
    * queries start), read after the listener bus has drained.
    */
  private def jobs[T](body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == tag)) n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(Tag, tag)
    try {
      val out = body
      ListenerBus.drain(spark)
      (out, n.get())
    } finally {
      spark.sparkContext.setLocalProperty(Tag, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  // a small string graph: a ring with one chord, a self-loop and a sink
  private def edges: DataFrame = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
    ("c", "d"), ("d", "d"), ("b", "b"), ("d", "～"), ("～", "😀")).toDF("src", "dst").repartition(3)

  private def noLoops(e: DataFrame): DataFrame = e.filter(col("src") =!= col("dst"))

  /** The call's jobs and the jobs of filling and counting its edge pin;
    * the derived nodes come in Spark's order for the node type: byte
    * order puts "～" (EF BD 9E) before "😀" (F0 9F 98 80), UTF-16 the
    * other way round.
    */
  private def measure(name: String, pinned: DataFrame)(call: => DataFrame): (String, Int, Int) = {
    val (_, fill) = jobs(Tables.persisted(pinned)(_.count()))
    val (out, n) = jobs(call)
    val ns = out.collect().map(_.getString(0)).toSeq
    assert(ns == ns.sortBy(_.getBytes("UTF-8").map(_ & 0xff).toSeq)(Ordering.Implicits.seqOrdering[Seq, Int]),
      s"$name nodes out of Spark's order: $ns")
    (name, n, fill)
  }

  test("gated pageRank, hits and harmonicCentrality: one edge pin and one collect") {
    val e = edges.select(col("src"), col("dst"))
    val got = Seq(
      measure("pageRank", e.distinct())(LinkGraph.pageRank(edges, iters = 5)),
      measure("hits", noLoops(e).distinct())(LinkGraph.hits(edges, iters = 3)),
      measure("harmonicCentrality", noLoops(e).distinct())(LinkGraph.harmonicCentrality(edges)))
    withinFillPlusOne(got)
  }

  test("gated stronglyConnectedComponents and bowTie: one edge pin and one collect") {
    val e = edges.select(col("src"), col("dst"))
    // the same calls above the gate, results collected: reported, not bounded
    val (_, scc) = jobs(LocalGate.distributed(LinkGraph.stronglyConnectedComponents(edges).collect()))
    val (_, bowTie) = jobs(LocalGate.distributed(LinkGraph.bowTie(edges).collect()))
    info(s"forced-distributed: stronglyConnectedComponents ran $scc jobs, bowTie $bowTie")
    withinFillPlusOne(Seq(
      measure("stronglyConnectedComponents", e.distinct())(
        LinkGraph.stronglyConnectedComponents(edges)),
      measure("bowTie", e.distinct())(LinkGraph.bowTie(edges))))
  }

  private def withinFillPlusOne(got: Seq[(String, Int, Int)]): Unit = {
    val report = got.map { case (name, n, fill) =>
      s"$name ran $n jobs; filling and counting its edge pin take $fill"
    }
    report.foreach(info(_))
    assert(got.forall { case (_, n, fill) => n <= fill + 1 }, report.mkString("\n", "\n", ""))
  }
}
