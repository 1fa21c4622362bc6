package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.LocalGate
import graft.ops.LinkGraph
import graft.text.HtmlExtract

class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  test("extractLinks: resolution forms, anchor text, nofollow, drops") {
    val html =
      "<p>intro</p>" +
        "<a href=\"https://ext.example/d\">absolute <b>link</b></a>" +
        "<a href='/doc/2'>root relative</a>" +
        "<a href=sub/page.html>bare relative</a>" +
        "<a href=\"//cdn.example/x\">protocol relative</a>" +
        "<a href=\"/tos\" rel=\"nofollow\">terms</a>" +
        "<a href=\"#frag\">fragment only</a>" +
        "<a href=\"mailto:a@b.example\">mail</a>" +
        "<a name=\"anchor-no-href\">no href</a>"
    val docs = Seq((1L, "https://site.example/a/b/index.html", html))
      .toDF("doc_id", "url", "html")
    val got = HtmlExtract.extractLinks(docs)
      .select("href", "anchor_text", "nofollow")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(got == Set(
      ("https://ext.example/d", "absolute link", false),
      ("https://site.example/doc/2", "root relative", false),
      ("https://site.example/a/b/sub/page.html", "bare relative", false),
      ("https://cdn.example/x", "protocol relative", false),
      ("https://site.example/tos", "terms", true)))
  }

  test("extractLinks: base without a path resolves relatives against /") {
    val docs = Seq((1L, "https://site.example",
      "<a href=\"x.html\">rel</a><a href=\"/abs\">abs</a>"))
      .toDF("doc_id", "url", "html")
    val got = HtmlExtract.extractLinks(docs).select("href")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("https://site.example/x.html", "https://site.example/abs"))
  }

  test("anchorTexts: top-k by frequency, lexicographic ties, nofollow excluded") {
    val edges = Seq(
      ("https://t.example/a", "read this", false),
      ("https://t.example/a", "read this", false),
      ("https://t.example/a", "click", false),
      ("https://t.example/a", "archive", false),
      ("https://t.example/a", "zebra", false),   // 4 distinct, k=3 cuts
      ("https://t.example/a", "spam anchor", true), // nofollow: no signal
      ("https://t.example/b", "only one", false),
    ).toDF("href", "anchor_text", "nofollow")
    val got = graft.ops.LinkGraph.anchorTexts(edges, k = 3)
      .orderBy("href")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    // counts: "read this" 2; archive/click/zebra 1 each -> ties
    // lexicographic, zebra cut by k=3
    assert(got == Seq(
      ("https://t.example/a", 5L, "read this|archive|click"),
      ("https://t.example/b", 1L, "only one")))
    // includeNofollow folds the flagged link back in
    val withNf = graft.ops.LinkGraph.anchorTexts(edges, k = 5,
      includeNofollow = true).filter(col("href").endsWith("/a"))
      .head()
    assert(withNf.getLong(1) == 6L)
  }

  test("readWet: conversion records stream back as (url, date, text)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wet").toString
    val recs =
      graft.sources.Warc.writeRecord("warcinfo", "", "application/warc-fields",
        "software: graft".getBytes("UTF-8")) ++
        graft.sources.Warc.writeRecord("conversion", "https://a.example/p",
          "text/plain", "extracted text of page one".getBytes("UTF-8"),
          extraHeaders = Seq("WARC-Date" -> "2026-02-01T00:00:00Z")) ++
        graft.sources.Warc.writeRecord("conversion", "https://b.example/q",
          "text/plain", "page two text".getBytes("UTF-8"),
          extraHeaders = Seq("WARC-Date" -> "2026-02-01T00:01:00Z"))
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(
        java.nio.file.Paths.get(dir, "x.warc.wet.gz")))
    try out.write(recs) finally out.close()
    val got = graft.sources.Warc.readWet(spark, dir)
      .select("url", "warc_date", "text")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("https://a.example/p", "2026-02-01T00:00:00Z", "extracted text of page one"),
      ("https://b.example/q", "2026-02-01T00:01:00Z", "page two text")))
  }

  test("pageRank matches a sequential reference on a hand graph, bit-for-bit") {
    // a -> b, a -> c, b -> c, c -> a, d -> c (d has no in-links; c is
    // the hub). Sequential reference mirrors the 9dp/decimal contract.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
    def reference(iters: Int): Map[String, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.length.toDouble
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toDouble }
      def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      var r = nodes.map(_ -> r9(1.0 / n)).toMap
      (1 to iters).foreach { _ =>
        val contrib = edges
          .map { case (s, d) => d -> r9(r(s).toDouble / deg(s)) }
          .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
        r = nodes.map(v => v -> r9(
          (1.0 - 0.85) / n + 0.85 * contrib.getOrElse(v, BigDecimal(0)).toDouble)).toMap
      }
      r.map { case (k, v) =>
        k -> BigDecimal(v.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val got = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == reference(5))
    // a and c trade the whole cycle's mass (c funnels ALL of its rank
    // to a); b sees only half of a's; the unlinked d holds the floor
    assert(math.min(got("a"), got("c")) > got("b"))
    assert(got.values.forall(_ >= got("d")) && got("b") > got("d"))
  }

  test("harmonicCentrality exact: hand graph distances, truncation, repartition determinism") {
    // a->b, b->c, a->c, c->d: into d — c at 1, b at 2, a at 2 (via c)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    val got = graft.ops.LinkGraph.harmonicCentrality(
        edges.toDF("src", "dst"), maxDist = 6)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("d") == (3L, 2.0))       // 1 + 1/2 + 1/2
    assert(got("c") == (2L, 2.0))       // b at 1, a at 1
    assert(got("b") == (1L, 1.0))
    assert(got("a") == (0L, 0.0))
    // maxDist truncates: directed 5-ring at maxDist 2 -> 1 + 1/2 each
    val ring5 = (0 until 5).map(i => (s"r$i", s"r${(i + 1) % 5}"))
    val t = graft.ops.LinkGraph.harmonicCentrality(
        ring5.toDF("src", "dst"), maxDist = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(t == Set((2L, 1.5)))
    // bit-identical on any partitioning
    val a = graft.ops.LinkGraph.harmonicCentrality(
      edges.toDF("src", "dst"), maxDist = 4).collect().map(_.toSeq).toSet
    val b = graft.ops.LinkGraph.harmonicCentrality(
      edges.toDF("src", "dst").repartition(13), maxDist = 4)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("harmonicCentrality local kernel == forced-distributed, bit-exact") {
    // branching + early-converging components exercise the per-round
    // term/delta accumulation and the ball-equality stop on both paths
    val edges = (Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
      ("d", "a"), ("e", "f")) ++
      (0 until 40).map(i => (s"x$i", s"x${(i + 3) % 40}"))).toDF("src", "dst")
    for (maxDist <- Seq(2, 5)) {
      val loc = graft.ops.LinkGraph.harmonicCentrality(edges, maxDist = maxDist)
        .collect().map(_.toSeq).toSet
      val dist = LocalGate.distributed(graft.ops.LinkGraph
        .harmonicCentrality(edges, maxDist = maxDist)
        .collect().map(_.toSeq).toSet)
      assert(loc == dist)
    }
  }

  test("harmonicCentrality sketched tracks exact within HLL tolerance at scale shape") {
    // 150-node directed ring + a hub every node links to: reach stays
    // bounded for exact, large enough to exercise the sketch path
    val edges = (0 until 150).flatMap(i =>
      Seq((f"n$i%03d", f"n${(i + 1) % 150}%03d"), (f"n$i%03d", "hub")))
    val ex = graft.ops.LinkGraph.harmonicCentrality(
        edges.toDF("src", "dst"), maxDist = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val sk = graft.ops.LinkGraph.harmonicCentrality(
        edges.toDF("src", "dst"), maxDist = 5, exact = false)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(sk.keySet == ex.keySet)
    // DataSketches HLL is exact-mode at these cardinalities; allow a
    // few percent anyway for estimator slack
    ex.foreach { case (n, h) =>
      assert(math.abs(sk(n) - h) <= math.max(0.05 * h, 0.01), s"node $n: $h vs ${sk(n)}")
    }
  }

  test("hits: one-iteration hand numbers; multi-iteration structure; repartition determinism") {
    // bipartite: x,y -> {p,q}; z -> p. After one iteration:
    // a_raw p=3, q=2 (total 5) -> a(p)=.6, a(q)=.4, sources 0;
    // h_raw x=y=1.0, z=.6 (total 2.6) -> h = 1/2.6, 1/2.6, .6/2.6
    val edges = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"), ("z", "p"))
    val one = graft.ops.LinkGraph.hits(edges.toDF("src", "dst"), iters = 1)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(one("p") == ((0.0, 0.6)) && one("q") == ((0.0, 0.4)))
    assert(one("x") == ((0.384615, 0.0)) && one("y") == ((0.384615, 0.0)))
    assert(one("z") == ((0.230769, 0.0)))
    // 3 iterations keep the structure: p out-ranks q in authority,
    // x=y out-rank z as hubs, pure sinks/sources hold zero on the
    // other score, each L1 total stays ~1
    val got = graft.ops.LinkGraph.hits(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got("p")._2 > got("q")._2 && got("q")._2 > 0)
    assert(got("x")._1 == got("y")._1 && got("x")._1 > got("z")._1)
    assert(got("p")._1 == 0.0 && got("x")._2 == 0.0)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-5)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-5)
    // bit-identical on any partitioning
    val a = graft.ops.LinkGraph.hits(edges.toDF("src", "dst"), iters = 3)
      .collect().map(_.toSeq).toSet
    val b = graft.ops.LinkGraph.hits(
      edges.toDF("src", "dst").repartition(13), iters = 3)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // driver kernel == distributed loop bit-for-bit (the pageRank
    // kernel contract; LocalGate.distributed forces the distributed plan)
    val dist = LocalGate.distributed(graft.ops.LinkGraph.hits(
      edges.toDF("src", "dst"), iters = 3)
      .collect().map(_.toSeq).toSet)
    assert(a == dist)
    // tol early-stop agrees across paths on a fixpoint graph
    val bip = for (s <- Seq("u1", "u2"); t <- Seq("v1", "v2")) yield (s, t)
    val el = graft.ops.LinkGraph.hits(bip.toDF("src", "dst"), iters = 40)
      .collect().map(_.toSeq).toSet
    val ed = LocalGate.distributed(graft.ops.LinkGraph.hits(
      bip.toDF("src", "dst"), iters = 40).collect().map(_.toSeq).toSet)
    assert(el == ed)
  }

  test("components: string nodes, lexicographic representative, singletons via self-edge, determinism") {
    val edges = Seq(("a", "b"), ("b", "c"), ("d", "e"), ("f", "f"),
      // lexicographic, not numeric: "n10" < "n2" is the representative
      ("n2", "n10"))
    val got = graft.ops.LinkGraph.components(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d",
      "f" -> "f",
      "n2" -> "n10", "n10" -> "n10"))
    // bit-identical on any partitioning, and on the distributed CC
    // path (smallGraphEdges unreachable via a tiny maxIter graph is
    // covered by ClustersSpec; here: repartition determinism)
    val b = graft.ops.LinkGraph.components(
      edges.toDF("src", "dst").repartition(7))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(b == got)
  }

  test("pageRank redistributeDangling: sequential reference, mass conserved") {
    // a -> b, a -> c, b -> c, c -> a, d -> c: d AND no-out nodes none;
    // add a sink s (c -> s) so real dangling mass exists.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "c"), ("c", "s"))
    def reference(iters: Int): Map[String, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val n = nodes.length.toDouble
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toDouble }
      def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      var r = nodes.map(_ -> r9(1.0 / n)).toMap
      (1 to iters).foreach { _ =>
        // dangling mass: exact decimal sum of the 9dp ranks of no-out
        // nodes, redistributed uniformly (mirrors the engine contract)
        val dang = nodes.filterNot(deg.contains).map(r).sum
        val contrib = edges
          .map { case (s, d) => d -> r9(r(s).toDouble / deg(s)) }
          .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
        r = nodes.map(v => v -> r9(
          (1.0 - 0.85) / n + 0.85 *
            (contrib.getOrElse(v, BigDecimal(0)).toDouble + dang.toDouble / n))).toMap
      }
      r.map { case (k, v) =>
        k -> BigDecimal(v.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val got = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 5,
      redistributeDangling = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == reference(5))
    // probability mass is conserved (up to 9dp rounding residue)
    assert(math.abs(got.values.sum - 1.0) < 1e-5)
    // drop-mode on the same graph loses the sink's mass
    val drop = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 5)
      .collect().map(_.getDouble(1)).sum
    assert(drop < got.values.sum - 1e-4)
    // deterministic under repartitioning
    val b = LinkGraph.pageRank(edges.toDF("src", "dst").repartition(13),
      iters = 5, redistributeDangling = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(b == got)
  }

  test("pageRank seeded (personalized): sequential reference, unreachable nodes zero, dangling to seeds") {
    // a -> b, b -> c, c -> a cycle; d -> a points INTO the component
    // but nothing reaches d from the seed; c -> s adds a sink
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "s"))
    def reference(iters: Int, seeds: Set[String],
                  redistribute: Boolean): Map[String, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
      val ss = seeds.size.toDouble
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toDouble }
      def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      var r = nodes.map(v => v ->
        (if (seeds(v)) r9(1.0 / ss) else BigDecimal(0.0))).toMap
      (1 to iters).foreach { _ =>
        val dang =
          if (redistribute) nodes.filterNot(deg.contains).map(r).sum
          else BigDecimal(0)
        val contrib = edges
          .map { case (s, d) => d -> r9(r(s).toDouble / deg(s)) }
          .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
        r = nodes.map(v => v -> r9(
          (if (seeds(v)) (1.0 - 0.85) / ss else 0.0) + 0.85 *
            (contrib.getOrElse(v, BigDecimal(0)).toDouble +
              (if (seeds(v) && redistribute) dang.toDouble / ss else 0.0)))).toMap
      }
      r.map { case (k, v) =>
        k -> BigDecimal(v.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val seedDf = Some(Seq("a").toDF("n"))
    val drop = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 4,
      seeds = seedDf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(drop == reference(4, Set("a"), redistribute = false))
    // nothing teleports to d and nothing walks to it: exactly zero
    assert(drop("d") == 0.0)
    // the seed always holds at least its own (1-d) restart mass
    assert(drop("a") >= 0.15 && drop("b") > 0)
    // redistribute mode conserves mass through the sink, back to seeds
    val red = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 4,
      redistributeDangling = true, seeds = seedDf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(red == reference(4, Set("a"), redistribute = true))
    assert(math.abs(red.values.sum - 1.0) < 1e-5)
    // seeds not in the graph are ignored; an all-absent seed set throws
    val two = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 4,
      seeds = Some(Seq("a", "zzz-not-in-graph").toDF("n")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(two == drop)
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(edges.toDF("src", "dst"),
        seeds = Some(Seq("nope").toDF("n")))
    }
    // deterministic under repartitioning
    val again = LinkGraph.pageRank(edges.toDF("src", "dst").repartition(13),
      iters = 4, redistributeDangling = true, seeds = seedDf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == red)
  }

  test("convergence early-stop: fixpoint output == full-budget output, large budgets stay cheap") {
    // symmetric directed ring: uniform rank is the exact 9dp fixpoint
    // after iteration 1, so a 60-iteration budget early-stops — with
    // the old unpersisted lineage this would be minutes, not seconds
    val ring = (0 until 20).map(i => (s"n$i", s"n${(i + 1) % 20}"))
    val a = LinkGraph.pageRank(ring.toDF("src", "dst"), iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = LinkGraph.pageRank(ring.toDF("src", "dst"), iters = 60)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)
    // complete symmetric bipartite graph: HITS hits its fixpoint at
    // iteration 2 (scores are uniform per side from iteration 1 on)
    val bip = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
    val h2 = graft.ops.LinkGraph.hits(bip.toDF("src", "dst"), iters = 2)
      .collect().map(_.toSeq).toSet
    val h40 = graft.ops.LinkGraph.hits(bip.toDF("src", "dst"), iters = 40)
      .collect().map(_.toSeq).toSet
    assert(h2 == h40)
    // harmonic: balls stop growing at the graph diameter; a huge
    // maxDist budget early-stops at the same output
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
    val hm6 = graft.ops.LinkGraph.harmonicCentrality(
      edges.toDF("src", "dst"), maxDist = 6).collect().map(_.toSeq).toSet
    val hm50 = graft.ops.LinkGraph.harmonicCentrality(
      edges.toDF("src", "dst"), maxDist = 50).collect().map(_.toSeq).toSet
    assert(hm6 == hm50)
    // sketch mode converges by state equality too (a no-op hll_union
    // reproduces the same sketch bytes)
    val sk6 = graft.ops.LinkGraph.harmonicCentrality(
      edges.toDF("src", "dst"), maxDist = 6, exact = false)
      .collect().map(_.toSeq).toSet
    val sk40 = graft.ops.LinkGraph.harmonicCentrality(
      edges.toDF("src", "dst"), maxDist = 40, exact = false)
      .collect().map(_.toSeq).toSet
    assert(sk6 == sk40)
  }

  test("pageRank probeEvery: chained rounds reproduce per-round probes bit-for-bit") {
    // asymmetric graph (non-trivial per-iteration dynamics): the
    // K-chained plan must emit the exact 9dp sequence the per-round
    // checkpoint path computes, for K dividing iters, K > iters, and
    // K ragged against iters (the forced last-round probe)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("d", "b"), ("e", "d"))
    // LocalGate.distributed: round chaining is a DISTRIBUTED-plan
    // property — the driver kernel must not absorb the comparison
    def run(iters: Int, k: Int, seeded: Boolean = false) = {
      val seeds = if (seeded) Some(Seq("a", "e").toDF("n")) else None
      LocalGate.distributed(LinkGraph.pageRank(edges.toDF("src", "dst"),
          iters = iters, probeEvery = k, seeds = seeds)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap)
    }
    for (iters <- Seq(1, 4, 5); k <- Seq(2, 3, 5, 7)) {
      assert(run(iters, k) == run(iters, 1), s"iters=$iters probeEvery=$k")
      assert(run(iters, k, seeded = true) == run(iters, 1, seeded = true),
        s"seeded iters=$iters probeEvery=$k")
    }
    // tol early-stop still fires on probe rounds: the 20-ring hits its
    // fixpoint at round 1, so a 60-round budget with K=4 stays cheap
    val ring = (0 until 20).map(i => (s"n$i", s"n${(i + 1) % 20}"))
    val (r4, r1) = LocalGate.distributed {
      (LinkGraph.pageRank(ring.toDF("src", "dst"), iters = 60, probeEvery = 4)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap,
       LinkGraph.pageRank(ring.toDF("src", "dst"), iters = 2)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap)
    }
    assert(r4 == r1)
    // redistribute mode needs per-round dangling mass on the driver
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(edges.toDF("src", "dst"),
        redistributeDangling = true, probeEvery = 2)
    }
  }

  test("pageRank driver kernel == distributed loop bit-for-bit (all modes)") {
    // the decimal contract is engine-portable by design; this pins the
    // local kernel's rounding/cast mirror against the distributed plan
    // on an asymmetric graph with dangling nodes and self-loops
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("d", "b"), ("e", "d"), ("f", "f"), ("c", "g"))
    def both(redistribute: Boolean, seeded: Boolean): Unit = {
      val seeds = if (seeded) Some(Seq("a", "e").toDF("n")) else None
      def run() = LinkGraph.pageRank(edges.toDF("src", "dst"),
          iters = 5, redistributeDangling = redistribute, seeds = seeds)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(run() == LocalGate.distributed(run()),
        s"redistribute=$redistribute seeded=$seeded")
    }
    both(redistribute = false, seeded = false)
    both(redistribute = true, seeded = false)
    both(redistribute = false, seeded = true)
    both(redistribute = true, seeded = true)
  }

  test("empty edge frame: centralities return empty, not NPE") {
    val none = Seq.empty[(String, String)].toDF("src", "dst")
    // all five gated ops, under the default gate (which admits only
    // non-empty graphs) and under the forced-distributed seam
    def allEmpty(): Unit = {
      assert(LinkGraph.pageRank(none).collect().isEmpty)
      assert(LinkGraph.pageRank(none, redistributeDangling = true)
        .collect().isEmpty)
      assert(LinkGraph.hits(none).collect().isEmpty)
      assert(LinkGraph.harmonicCentrality(none).collect().isEmpty)
      assert(LinkGraph.harmonicCentrality(none, exact = false).collect().isEmpty)
      assert(LinkGraph.stronglyConnectedComponents(none).collect().isEmpty)
      // bowTie: the giant-core lookup must not index into an empty
      // groupBy result (regression: AIOOBE on zero nodes)
      assert(LinkGraph.bowTie(none).collect().isEmpty)
    }
    allEmpty()
    LocalGate.distributed(allEmpty())
    // self-loops only: their endpoints are nodes for pageRank, SCC and
    // bow-tie, while hits and harmonic drop every self-loop
    val loops = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("src", "dst")
    val got = gatedOps(loops)
    assert(got == LocalGate.distributed(gatedOps(loops)))
    assert(got(0).size == 2 && got(1).isEmpty && got(2).isEmpty, got)
    assert(got(3) == Seq("[a,a]", "[b,b]"))
    assert(got(4) == Seq("[a,core]", "[b,disconnected]"))
  }

  test("null node ids: all five gated ops drop edges with a null endpoint, local == distributed") {
    val withNulls = Seq[(String, String)](("a", null), (null, "b"), ("b", "a"), ("b", "c"))
      .toDF("src", "dst")
    val clean = Seq(("b", "a"), ("b", "c")).toDF("src", "dst")
    val ops = Seq("pageRank", "hits", "harmonicCentrality", "stronglyConnectedComponents", "bowTie")
    val want = gatedOps(clean)
    for ((side, got) <- Seq("gate" -> gatedOps(withNulls),
        "distributed" -> LocalGate.distributed(gatedOps(withNulls))))
      ops.indices.foreach(i => assert(got(i) == want(i), s"${ops(i)} under the $side"))
  }

  /** The five gated ops on `edges`, each as its sorted rows. */
  private def gatedOps(edges: DataFrame): Seq[Seq[String]] = Seq(
    LinkGraph.pageRank(edges, iters = 4),
    LinkGraph.hits(edges, iters = 3),
    LinkGraph.harmonicCentrality(edges),
    LinkGraph.stronglyConnectedComponents(edges),
    LinkGraph.bowTie(edges)).map(_.collect().map(_.toString).sorted.toSeq)

  test("double node ids: -0.0 and 0.0 are one node, NaN is one node, local == distributed") {
    // Spark's distinct and joins normalize floats, and the driver kernels
    // key the nodes of the distinct edge frame by value, so both paths
    // see four nodes, not six
    val edges = Seq((0.0, 1.0), (-0.0, 2.0), (Double.NaN, 1.0), (2.0, Double.NaN),
      (1.0, -0.0), (Double.NaN, 0.0)).toDF("src", "dst")
    def all(): Seq[Seq[String]] = Seq(
      LinkGraph.pageRank(edges, iters = 4),
      LinkGraph.hits(edges, iters = 3),
      LinkGraph.harmonicCentrality(edges)).map(_.collect().map(_.toString).sorted.toSeq)
    val local = all()
    assert(local.forall(_.size == 4), local)
    assert(local == LocalGate.distributed(all()))
  }

  test("tol > 0: local kernel stop round == distributed (decimal delta)") {
    // the convergence delta sums as an exact decimal in BOTH paths, so
    // an early-stop landing near the tol boundary picks the SAME round
    // locally and distributed — tol chosen to stop mid-budget
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
      ("d", "a"), ("e", "d"), ("f", "f"), ("c", "g"))
    for (tol <- Seq(1e-3, 1e-2, 5e-2)) {
      def pr() = LinkGraph.pageRank(edges.toDF("src", "dst"),
          iters = 40, tol = tol)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(pr() == LocalGate.distributed(pr()), s"pageRank tol=$tol")
      def ht() = LinkGraph.hits(edges.toDF("src", "dst"),
          iters = 40, tol = tol)
        .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2))))
        .toMap
      assert(ht() == LocalGate.distributed(ht()), s"hits tol=$tol")
    }
  }

  test("stronglyConnectedComponents matches brute-force mutual reachability") {
    // reference: full reachability closure, SCC = mutual-reach class,
    // label = lexicographic min member (the components contract)
    def brute(edges: Seq[(String, String)]): Map[String, String] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def reach(s: String): Set[String] = {
        var seen = Set(s); var frontier = List(s)
        while (frontier.nonEmpty) {
          val nx = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
            .filterNot(seen).distinct
          seen ++= nx; frontier = nx
        }
        seen
      }
      val r = nodes.map(n => n -> reach(n)).toMap
      nodes.map(n => n -> nodes.filter(m => r(n)(m) && r(m)(n)).min).toMap
    }
    // run BOTH paths: the small-graph driver Tarjan (default gate) and
    // the distributed peel (LocalGate.distributed forces it) must agree with
    // brute force — and therefore with each other — on every fixture
    def run(edges: Seq[(String, String)]) = {
      val local = LinkGraph.stronglyConnectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val dist = LocalGate.distributed(LinkGraph.stronglyConnectedComponents(
          edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      assert(local == dist, "local Tarjan != distributed peel")
      local
    }
    val graphs = Seq(
      // figure-eight: two cycles sharing b collapse to one SCC
      Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")),
      // DAG chain: all singletons (the trim path)
      Seq(("a", "b"), ("b", "c"), ("c", "d")),
      // self-loop stays a singleton; isolated 2-cycle; cross edge
      Seq(("s", "s"), ("x", "y"), ("y", "x"), ("s", "x")),
      // two 3-cycles bridged one way stay separate SCCs
      Seq(("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")),
      // cycle with a chord plus a dangling tail
      Seq(("p", "q"), ("q", "r"), ("r", "s"), ("s", "p"),
        ("q", "s"), ("s", "t")))
    graphs.foreach(g => assert(run(g) == brute(g), s"graph $g"))
    // deterministic pseudo-random graph with mixed SCC sizes
    val rnd = new scala.util.Random(7)
    val rg = Seq.fill(60)((s"n${rnd.nextInt(18)}", s"n${rnd.nextInt(18)}"))
    assert(run(rg) == brute(rg))
    // partition-invariant (distributed path — the local path collects)
    val a = LocalGate.distributed(LinkGraph.stronglyConnectedComponents(
      rg.toDF("src", "dst").repartition(13))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(a == brute(rg))
  }

  test("SCC peels an adversarial 150-SCC chain in o(k) outer rounds") {
    // The r14 adversarial-depth case: a CHAIN of k 2-cycles ordered so
    // that under min-ID coloring the global-min node colors the WHOLE
    // chain into one class — one SCC peeled per outer round, O(k)
    // rounds, hard maxIter=100 failure for k > 100 (a crawl-trap
    // ring-of-rings is exactly this shape). Randomized per-round pivot
    // priorities peel every prefix-minimum record's SCC simultaneously,
    // so the chain must now finish WELL inside the default budget.
    val k = 150
    val edges = (0 until k).flatMap { i =>
      val a = f"c$i%03da"; val b = f"c$i%03db"
      val chain =
        if (i < k - 1) Seq((a, f"c${i + 1}%03da")) else Seq.empty
      Seq((a, b), (b, a)) ++ chain
    }
    // LocalGate.distributed: the adversarial-depth contract is about the
    // DISTRIBUTED peel's round count — the driver path must not absorb it
    val (df, rounds) =
      LocalGate.distributed(LinkGraph.sccWithRounds(edges.toDF("src", "dst")))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = (0 until k).flatMap { i =>
      val a = f"c$i%03da"; val b = f"c$i%03db"
      Seq(a -> a, b -> a) // label = lexicographic min member
    }.toMap
    assert(got == want)
    // o(k): expected O(log k) ≈ 10-20; 40 is a generous determinism-
    // safe ceiling (priorities are hash-derived, so `rounds` is a
    // constant for this graph — the assert can never flake)
    assert(rounds <= 40, s"took $rounds outer rounds for a $k-SCC chain")
  }

  test("bowTie matches brute-force Broder classification") {
    def brute(edges: Seq[(String, String)]): Map[String, String] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def reach(s: String): Set[String] = {
        var seen = Set(s); var fr = List(s)
        while (fr.nonEmpty) {
          val nx = fr.flatMap(v => adj.getOrElse(v, Set.empty))
            .filterNot(seen).distinct
          seen ++= nx; fr = nx
        }
        seen
      }
      val r = nodes.map(n => n -> reach(n)).toMap
      val sccOf = nodes.map(n =>
        n -> nodes.filter(m => r(n)(m) && r(m)(n)).min).toMap
      val bySize = sccOf.groupBy(_._2).view.mapValues(_.size).toMap
      val coreLabel = bySize.toSeq.sortBy { case (l, sz) => (-sz, l) }.head._1
      val core = nodes.filter(sccOf(_) == coreLabel).toSet
      val ins = nodes.filterNot(core)
        .filter(n => core.exists(c => r(n)(c))).toSet
      val outs = nodes.filterNot(core)
        .filter(n => core.exists(c => r(c)(n))).toSet
      nodes.map { n =>
        n -> (if (core(n)) "core"
        else if (ins(n)) "in"
        else if (outs(n)) "out"
        else {
          val fromIn = ins.exists(i => r(i)(n))
          val toOut = outs.exists(o => r(n)(o))
          if (fromIn && toOut) "tube"
          else if (fromIn || toOut) "tendril"
          else "disconnected"
        })
      }.toMap
    }
    // both paths (the SCC spec convention): driver BFS under the gate
    // and the distributed reach must agree with brute force
    def run(edges: Seq[(String, String)]) = {
      val local = LinkGraph.bowTie(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val dist = LocalGate.distributed(LinkGraph.bowTie(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      assert(local == dist, "local bow-tie != distributed bow-tie")
      local
    }
    // the textbook bow-tie: core triangle, 2-hop IN chain, 2-hop OUT
    // chain, a tube bypassing the core, tendrils off IN and into OUT,
    // and a disconnected 2-cycle
    val broder = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"),           // core
      ("i1", "i2"), ("i2", "a"),                    // in
      ("c", "o1"), ("o1", "o2"),                    // out
      ("i1", "t"), ("t", "o1"),                     // tube
      ("i2", "td"),                                 // tendril off IN
      ("tb", "o1"),                                 // tendril into OUT
      ("x", "y"), ("y", "x"))                       // disconnected
    val got = run(broder)
    assert(got == brute(broder))
    assert(got("a") == "core" && got("i1") == "in" && got("o2") == "out")
    assert(got("t") == "tube" && got("td") == "tendril" &&
      got("tb") == "tendril" && got("x") == "disconnected")
    // pure cycle: everything core, no periphery
    val cyc = Seq(("p", "q"), ("q", "r"), ("r", "p"))
    assert(run(cyc) == brute(cyc))
    assert(run(cyc).values.toSet == Set("core"))
    // DAG: every SCC is a singleton — the min node becomes the "core"
    // by the tie rule, downstream is OUT, the rest classify off it
    val dag = Seq(("a", "b"), ("b", "c"), ("d", "c"))
    assert(run(dag) == brute(dag))
    // seeded random graph
    val rnd = new scala.util.Random(11)
    val rg = Seq.fill(50)((s"n${rnd.nextInt(15)}", s"n${rnd.nextInt(15)}"))
    assert(run(rg) == brute(rg))
  }

  test("pageRank is deterministic under repartitioning and drops parallel edges") {
    val edges = (0 until 40).flatMap(i =>
      Seq((s"n$i", s"n${(i + 1) % 40}"), (s"n$i", "hub"), (s"n$i", "hub")))
    val a = LinkGraph.pageRank(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val b = LinkGraph.pageRank(edges.toDF("src", "dst").repartition(17), iters = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(a == b)
    // ranks are a probability-mass residue: positive, sum <= 1 (hub is
    // dangling, its mass drops)
    assert(a.values.forall(_ > 0))
    assert(a.values.sum <= 1.0 + 1e-6)
  }
}
