package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.core.LocalGate
import graft.ops.{LinkGraph, Lttb}
import graft.pipeline.TextClassifier

/** The driver-local kernel gate: its size rule, and properties that
  * every gated LinkGraph op, both classifier trainers and LTTB return
  * the same rows under the default gate as under the forced-distributed
  * seam, and that the LinkGraph ops and trainers leave the session's
  * cache as they found it under both.
  */
class LocalGateSpec extends SparkSpec {
  import spark.implicits._

  test("gate rule: non-empty, node and row budgets, forced seam probes nothing") {
    assert(!LocalGate.admitsGraph(0L, 0L))
    assert(LocalGate.admitsGraph(1L, 0L)) // a lone self-loop node
    assert(LocalGate.admitsGraph(LocalGate.MaxNodes, LocalGate.MaxRows))
    assert(!LocalGate.admitsGraph(LocalGate.MaxNodes + 1, 1L))
    assert(!LocalGate.admitsGraph(1L, LocalGate.MaxRows + 1))
    // an endpoint graph's edge count alone admits it up to MaxNodes / 2
    // edges, the most that cannot exceed the node bound
    assert(!LocalGate.admitsEndpoints(0L))
    assert(LocalGate.admitsEndpoints(LocalGate.MaxNodes / 2))
    assert(!LocalGate.admitsEndpoints(LocalGate.MaxNodes / 2 + 1))
    assert(!LocalGate.admitsRows(0L))
    assert(LocalGate.admitsRows(LocalGate.MaxRows))
    assert(!LocalGate.admitsRows(LocalGate.MaxRows + 1))
    // a closed node test never probes the edge count
    assert(!LocalGate.admitsGraph(0L, sys.error("edges probed")))
    // the seam closes every gate without probing a size, nests, and
    // restores the open gate afterwards
    LocalGate.distributed {
      assert(!LocalGate.admitsGraph(sys.error("nodes probed"), 1L))
      assert(!LocalGate.admitsEndpoints(sys.error("edges probed")))
      assert(!LocalGate.admitsRows(sys.error("rows probed")))
      LocalGate.distributed(())
      assert(!LocalGate.admitsRows(1L))
    }
    assert(LocalGate.admitsRows(1L))
    intercept[IllegalStateException](
      LocalGate.distributed(throw new IllegalStateException("x")))
    assert(LocalGate.admitsRows(1L))
    assert(!LocalGate.pinsShuffle(LocalGate.ShuffleHashNodes - 1))
    assert(LocalGate.pinsShuffle(LocalGate.ShuffleHashNodes))
  }

  /** One generated input: a small digraph over int ids (rendered as
    * string, long or binary node ids), the op modes to run it under, and the
    * partition count of the edge frame; and a small labeled corpus
    * (per doc its word ids and a class below `nClasses`) with the
    * trainers' iteration budget and L2 penalty.
    */
  private case class Case(edges: Seq[(Int, Int)], ids: Ids,
                          parts: Int, prIters: Int, redistribute: Boolean,
                          seeded: Boolean, prTol: Double, hitsIters: Int,
                          hitsTol: Double, maxDist: Int,
                          docs: Seq[(Seq[Int], Int)], nClasses: Int,
                          trainIters: Int, l2: Double)

  private sealed trait Ids
  private case object StringIds extends Ids
  private case object LongIds extends Ids
  private case object BinaryIds extends Ids

  // one or two random clusters of up to eight nodes each (self-loops
  // and parallel edges arise by themselves at this density), an
  // optional isolated 2-cycle, an optional node whose only edge is a
  // self-loop (a node for pageRank, none for HITS and harmonic), and
  // sometimes the empty graph
  private val clusterGen: Gen[Seq[(Int, Int)]] = for {
    k <- Gen.choose(1, 8)
    m <- Gen.choose(1, 10)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, k - 1), Gen.choose(0, k - 1)))
  } yield es

  private val edgesGen: Gen[Seq[(Int, Int)]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[(Int, Int)]),
    5 -> (for {
      cs <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, clusterGen))
      cycle <- Gen.oneOf(false, true)
      loop <- Gen.oneOf(false, true)
    } yield cs.zipWithIndex.flatMap { case (es, j) =>
      es.map { case (a, b) => (a + 10 * j, b + 10 * j) }
    } ++ (if (cycle) Seq((40, 41), (41, 40)) else Nil) ++
      (if (loop) Seq((50, 50)) else Nil)))

  // 2-16 docs over an 8-word vocabulary (shared words make the
  // margins interact); iteration 1 runs distributed, the rest locally
  private val corpusGen: Gen[(Seq[(Seq[Int], Int)], Int)] = for {
    nClasses <- Gen.choose(2, 3)
    n <- Gen.choose(2, 16)
    docs <- Gen.listOfN(n, Gen.zip(
      Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.choose(0, 7))), Gen.choose(0, nClasses - 1)))
  } yield (docs, nClasses)

  private val caseGen: Gen[Case] = for {
    edges <- edgesGen
    ids <- Gen.oneOf(StringIds, LongIds, BinaryIds)
    parts <- Gen.choose(1, 4)
    prIters <- Gen.choose(1, 4)
    redistribute <- Gen.oneOf(false, true)
    seeded <- Gen.oneOf(false, true)
    prTol <- Gen.oneOf(0.0, 1e-3, 5e-2)
    hitsIters <- Gen.choose(1, 3)
    hitsTol <- Gen.oneOf(0.0, 1e-3, 5e-2)
    maxDist <- Gen.choose(1, 4)
    (docs, nClasses) <- corpusGen
    trainIters <- Gen.choose(2, 3)
    l2 <- Gen.oneOf(0.0, 0.01)
  } yield Case(edges, ids, parts, prIters, redistribute, seeded, prTol,
    hitsIters, hitsTol, maxDist, docs, nClasses, trainIters, l2)

  /** The five gated LinkGraph ops (`graph`) or the two trainers on `c`,
    * each as its sorted rendered rows or model (String.valueOf renders
    * doubles exactly, so equal strings are bit-equal values), paired
    * with the number of cache entries the op left behind.
    */
  private def runAll(c: Case, graph: Boolean): Seq[(Seq[String], Int)] = {
    // long ids are spaced and signed; string ids break numeric order
    // ("v10" < "v2") and, through "～" (U+FF5E) and "😀" (U+1F600), the
    // JVM's UTF-16 order, which sorts them the other way round from
    // Spark's byte order; binary ids are those strings' UTF-8 bytes,
    // equal by content only. So label order is Spark's, not the
    // generator's, and node equality is Spark's, not the JVM's.
    def long(i: Int): Long = i * 7919L - 40000L
    def str(i: Int): String = s"v$i" + Seq("", "～", "😀")(i % 3)
    def bin(i: Int): Array[Byte] = str(i).getBytes("UTF-8")
    val edges = (c.ids match {
      case LongIds => c.edges.map(p => (long(p._1), long(p._2))).toDF("src", "dst")
      case StringIds => c.edges.map(p => (str(p._1), str(p._2))).toDF("src", "dst")
      case BinaryIds => c.edges.map(p => (bin(p._1), bin(p._2))).toDF("src", "dst")
    }).repartition(c.parts)
    // seeds must be present in the graph (an all-absent set throws)
    val seedIds = (c.edges.headOption.map(_._1).toSeq ++ c.edges.lastOption.map(_._2)).distinct
    val seeds =
      if (!c.seeded || c.edges.isEmpty) None
      else Some(c.ids match {
        case LongIds => seedIds.map(long).toDF("n")
        case StringIds => seedIds.map(str).toDF("n")
        case BinaryIds => seedIds.map(bin).toDF("n")
      })
    val docs = c.docs.zipWithIndex.map { case ((ws, y), i) =>
      (i.toLong, (ws.map(w => s"w$w") :+ s"own$i").mkString(" "), y)
    }.toDF("doc_id", "text", "label").repartition(c.parts)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("0x[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("[", ",", "]")).sorted.toSeq
    def weights[K: Ordering](w: Map[K, Double]): String = w.toSeq.sortBy(_._1).toString
    def counted(run: => Seq[String]): (Seq[String], Int) = {
      val before = cacheEntries
      val out = run
      (out, cacheEntries - before)
    }
    if (graph) Seq(
      counted(rows(LinkGraph.pageRank(edges, iters = c.prIters,
        redistributeDangling = c.redistribute, tol = c.prTol, seeds = seeds))),
      counted(rows(LinkGraph.hits(edges, iters = c.hitsIters, tol = c.hitsTol))),
      counted(rows(LinkGraph.harmonicCentrality(edges, maxDist = c.maxDist))),
      counted(rows(LinkGraph.stronglyConnectedComponents(edges))),
      counted(rows(LinkGraph.bowTie(edges))))
    else Seq(
      counted {
        val m = TextClassifier.train(docs, docs.select(col("doc_id"),
          (col("label") % 2).as("label")), dim = 64, iters = c.trainIters, l2 = c.l2)
        Seq(m.bias.toString, m.losses.toString, weights(m.weights))
      },
      counted {
        val m = TextClassifier.trainSoftmax(docs, docs.select("doc_id", "label"),
          dim = 64, nClasses = c.nClasses, iters = c.trainIters, l2 = c.l2)
        Seq(m.biases.toString, m.losses.toString, weights(m.weights))
      })
  }

  // Five draws keep the property under a minute of tier-1 time on 4
  // cores; seed 6 is the first seed whose five draws cover every input
  // class and mode `covers` names.
  private val Draws = 5
  private val PropertySeed = 6L

  /** Default gate == forced-distributed for `ops` (run by `runAll`
    * with `graph`), each op leaving the cache as it found it, over the
    * fixed seed's draws.
    */
  private def checkGate(ops: Seq[String], graph: Boolean): Unit = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Case]
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      seen += c
      val got = runAll(c, graph)
      val want = LocalGate.distributed(runAll(c, graph))
      Prop.all(ops.indices.flatMap(i => Seq(
        Prop(got(i)._1 == want(i)._1) :| s"${ops(i)} differs on $c",
        Prop(got(i)._2 == 0 && want(i)._2 == 0) :| s"${ops(i)} left a cache entry on $c")): _*)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(Draws)
        .withInitialSeed(Seed(PropertySeed)),
      prop)
    assert(res.passed, res.status.toString)
    // the fixed seed's draws reach every input class and mode the
    // generator names, so the property cannot narrow silently
    assert(covers(seen.toSeq), seen.mkString("draws:\n", "\n", ""))
  }

  test("property: default gate == forced-distributed for all five gated LinkGraph ops") {
    checkGate(Seq("pageRank", "hits", "harmonicCentrality",
      "stronglyConnectedComponents", "bowTie"), graph = true)
  }

  test("property: default gate == forced-distributed for both trainers, " +
    "and each leaves the cache as it found it") {
    checkGate(Seq("train", "trainSoftmax"), graph = false)
  }

  private def covers(cs: Seq[Case]): Boolean = {
    val full = cs.filter(_.edges.nonEmpty)
    cs.exists(_.edges.isEmpty) &&
      Seq(StringIds, LongIds, BinaryIds).forall(k => full.exists(_.ids == k)) &&
      full.exists(c => c.ids == LongIds && c.edges.exists(_._1 <= 5)) &&
      full.exists(c => c.ids != LongIds && c.edges.map(_._1 % 3).distinct.size == 3) &&
      full.exists(_.edges.contains((50, 50))) &&
      full.exists(_.edges.exists { case (a, b) => a == b }) &&
      full.exists(c => c.edges.distinct.size < c.edges.size) &&
      full.exists(_.edges.contains((40, 41))) &&
      full.exists(_.redistribute) && full.exists(!_.redistribute) &&
      full.exists(_.seeded) && full.exists(!_.seeded) &&
      full.exists(_.prTol > 0) && full.exists(_.hitsTol > 0) &&
      cs.exists(_.nClasses == 3) && cs.exists(_.l2 > 0) && cs.exists(_.trainIters == 3)
  }

  /** One generated series for `Lttb.downsample`: per row an optional
    * x (few distinct values, so ties are common; the row id breaks
    * them), an optional y (NaN allowed), plus the threshold and the
    * input's partition count.
    */
  private case class Series(points: Seq[(Option[Double], Option[Double])],
                            threshold: Int, parts: Int)

  private val pointGen: Gen[(Option[Double], Option[Double])] = for {
    x <- Gen.frequency(1 -> Gen.const(None), 9 -> Gen.choose(-20, 20).map(v => Some(v * 0.5)))
    y <- Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
      10 -> Gen.choose(-1e3, 1e3).map(Some(_)))
  } yield (x, y)

  private val seriesGen: Gen[Series] = for {
    n <- Gen.choose(5, 150)
    points <- Gen.listOfN(n, pointGen)
    // near 2, in between (buckets of a few rows, so a NaN area can
    // follow a finite one inside a bucket with NaN-free anchors), near n
    threshold <- Gen.oneOf(Gen.choose(3, 4), Gen.choose(5, n / 4 + 5), Gen.choose(n - 2, n - 1))
    parts <- Gen.choose(1, 5)
  } yield Series(points, threshold, parts)

  private val LttbDraws = 10
  private val LttbSeed = 7L

  test("property: default gate == forced-distributed for Lttb.downsample") {
    // a staging dir under a regular file cannot be created: a default-
    // gate run that staged instead of taking the local kernel throws
    val blocked = java.io.File.createTempFile("graft-lttb-nostage", "")
    blocked.deleteOnExit()
    def run(c: Series, stagingDir: Option[String]): Seq[String] = {
      val df = c.points.zipWithIndex
        .map { case ((x, y), id) => (id.toLong, x, y) }.toDF("id", "x", "y")
        .repartition(c.parts)
      stagingDir.foreach(spark.conf.set("graft.lttb.stagingDir", _))
      try Lttb.downsample(df, "x", "y", c.threshold, Seq("id"))
        .collect().map(_.toString).toSeq
      finally spark.conf.unset("graft.lttb.stagingDir")
    }
    val noStage = Some(s"${blocked.getPath}/stage")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Series]
    val prop = Prop.forAllNoShrink(seriesGen) { c =>
      seen += c
      val got = run(c, noStage)
      val want = LocalGate.distributed(run(c, None))
      Prop(got == want) :| s"downsample differs on $c"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(LttbDraws)
        .withInitialSeed(Seed(LttbSeed)),
      prop)
    assert(res.passed, res.status.toString)
    // the blocked staging dir does bite on the distributed path
    val staged = seen.find(c => c.threshold < c.points.size).get
    assert(scala.util.Try(LocalGate.distributed(run(staged, noStage))).isFailure)
    // the seed's draws reach every input class the generator names
    def has(p: ((Option[Double], Option[Double])) => Boolean) =
      seen.exists(_.points.exists(p))
    assert(has(_._1.isEmpty) && has(_._2.isEmpty) && has(_._2.exists(_.isNaN)) &&
      seen.exists(c => c.points.flatMap(_._1).distinct.size < c.points.count(_._1.isDefined)) &&
      seen.exists(_.parts == 1) && seen.exists(_.parts == 5) &&
      seen.exists(_.threshold <= 4) && seen.exists(c => c.threshold >= c.points.size - 2) &&
      seen.exists(c => c.threshold > 4 && c.threshold < c.points.size - 2),
      seen.mkString("draws:\n", "\n", ""))
  }
}
