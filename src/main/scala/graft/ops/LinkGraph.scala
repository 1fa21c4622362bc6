package graft.ops

import java.math.{BigDecimal => JBD}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{LocalGate, Tables}
import graft.functions.DecimalKernels
import graft.functions.DecimalKernels.{round6, round9Slow}

/** Link-graph centrality over crawl edges — the Common-Crawl-class
  * quality signal: host/domain PageRank feeds crawl prioritization
  * and source-quality weighting the same way harmonic centrality
  * ranks CC's own domain lists. Pairs with
  * [[graft.text.HtmlExtract.extractLinks]] (page-level edges) +
  * [[UrlOps.registeredDomain]]/hostOf (collapse to host/domain
  * granularity) upstream.
  *
  * Scale shape: everything here is NODE/EDGE-shaped, never
  * corpus-shaped — a web-scale domain graph is ~10⁸ edges, orders
  * below the page corpus that produced it. Each synchronous iteration
  * is one src-keyed join (ranks × out-degreed edges — AQE broadcasts
  * the rank side while it fits) and one dst-keyed partial-agg
  * exchange; the edge set with its out-degrees is computed once and
  * persisted across iterations.
  *
  * Determinism contract (the repo's 9dp-decimal convention): per-edge
  * contributions round to 9dp and sum as DECIMAL(30,12), each
  * iteration's rank rounds to 9dp, the final emit to 6dp — bit-equal
  * on any partitioning AND reproducible in any SQL engine (the oracle
  * unrolls the same iterations). Parallel edges collapse (`distinct`).
  * Dangling-node mass is DROPPED by default (ranks then sum to < 1;
  * the consumed signal — the ordering — is unaffected);
  * `redistributeDangling = true` switches to the standard
  * formulation, adding each iteration's dangling mass back uniformly
  * so ranks stay a probability distribution (mix ranks across graphs,
  * threshold on absolute rank).
  *
  * Iteration hygiene (the Clusters.scala pattern): every iteration's
  * state is `localCheckpoint(false)` — lineage cut per round — and
  * the SINGLE per-round job is the convergence aggregation that both
  * materializes the lazy checkpoint and measures the L1 rank delta;
  * `tol` early-stops the loop (default 0.0 = stop only at the exact
  * 9dp fixpoint, where further iterations provably reproduce the
  * same output), `iters` stays the hard budget. Superseded rounds
  * hold no persisted handle, so memory stays one-state-sized no
  * matter the iteration count. (localCheckpoint trades re-derivation
  * on executor loss for the lineage cut — the same trade the dedup
  * CC loop makes.)
  *
  * Null ids: the five gated kernels drop every edge with a null
  * endpoint, so null is never a node on either side of the gate.
  */
object LinkGraph {

  /** `seeds` switches to PERSONALIZED PageRank (topic-sensitive /
    * TrustRank): the teleport vector is uniform over the seed set
    * instead of all nodes — initial mass, the (1−d) restart, and (in
    * redistribute mode) dangling mass all go to seeds only, so rank
    * becomes proximity-to-the-trusted-set, the classic spam-demotion
    * and topical-crawl-prioritization signal. Seeds not present in
    * the graph are ignored; at least one must remain. Same decimal
    * contract and iteration hygiene; nodes unreachable from the seed
    * set hold rank 0 in drop mode.
    *
    * `probeEvery` amortizes the per-round probe job on SMALL graphs
    * (where job-scheduling latency, not data, dominates): checkpoint +
    * convergence probe fire every K rounds (and always on the last),
    * intermediate rounds chain lazily. Between probes the plan scans
    * the prior state exactly ONCE (the `__prev` join exists only on
    * probe rounds), so lineage grows as a K-bounded CHAIN — none of
    * the tree-shaped re-evaluation the per-round checkpoints were
    * introduced to kill. Early-stop granularity coarsens to every K
    * rounds. Output is bit-identical to probeEvery = 1 only for
    * tol = 0 (the default): a 9dp fixpoint reproduces itself, so the
    * extra chained rounds before the probe are no-ops. With tol > 0
    * the stop can land up to K−1 rounds later than a per-round probe
    * would have stopped, and the returned ranks reflect those extra
    * rounds of convergence (closer to the fixpoint, not equal to the
    * probeEvery = 1 result). Redistribute mode needs each
    * round's dangling mass as a driver scalar before the NEXT round
    * can be planned, so it requires probeEvery = 1.
    */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iters: Int = 5,
               damping: Double = 0.85,
               redistributeDangling: Boolean = false,
               tol: Double = 0.0,
               seeds: Option[DataFrame] = None,
               seedCol: String = "n",
               probeEvery: Int = 1): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1): $damping")
    require(tol >= 0.0, s"tol >= 0: $tol")
    require(probeEvery >= 1, s"probeEvery >= 1: $probeEvery")
    require(probeEvery == 1 || !redistributeDangling,
      "redistributeDangling needs the per-round dangling mass on the " +
        "driver: probeEvery must be 1")
    val seeded = seeds.nonEmpty
    // (tol > 0 with probeEvery > 1 changes WHERE the distributed loop
    // stops — see the probeEvery scaladoc; the kernel mirrors the
    // probeEvery = 1 canonical, so that combination stays distributed)
    val local = pageRankLocal(_: Collected, iters, damping, redistributeDangling, tol,
      seeds.map(_.select(col(seedCol).as("n"))))
    endpointGraph(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
        probeEvery == 1 || tol == 0.0)(local) { (e, nodes0, nodeCount) =>
      val n = nodeCount.toDouble // one node-shaped action, reused below
      Tables.persisted(e
          .join(e.groupBy("src").agg(count(lit(1)).cast("double").as("deg")), "src")) { eDeg =>
        // dangling/seed flags ride the node frame only when a mode needs
        // them, so the default path's arithmetic (and oracle) is untouched
        val withOut =
          if (!redistributeDangling) nodes0
          else nodes0.join(
              eDeg.select(col("src").as("n"), lit(true).as("__out")).distinct(),
              Seq("n"), "left")
            .select(col("n") +: col("__out") +: Nil: _*)
            .withColumn("__out", coalesce(col("__out"), lit(false)))
        val nodes = seeds match {
          case Some(sd) => withOut.join(
              broadcast(sd.select(col(seedCol).as("n"), lit(true).as("__seed"))
                .distinct()), Seq("n"), "left")
            .withColumn("__seed", coalesce(col("__seed"), lit(false)))
          case None => withOut
        }
        val flagCols =
          (if (redistributeDangling) Seq(col("__out")) else Nil) ++
            (if (seeded) Seq(col("__seed")) else Nil)
        // teleport population: the whole graph, or the seed set
        val s =
          if (!seeded) n
          else nodes.filter(col("__seed")).count().toDouble
        require(!seeded || s >= 1, "no seed is present in the graph")
        var ranks: DataFrame = nodes.withColumn("r",
          if (seeded) when(col("__seed"), round(lit(1.0 / s), 9)).otherwise(lit(0.0))
          else round(lit(1.0 / n), 9))
        // current dangling mass (exact decimal sum of 9dp ranks); driver
        // scalar so the iteration formula takes it as a literal — one
        // init job in redistribute mode, then it rides the fused action
        var dang: JBD =
          if (!redistributeDangling) JBD.ZERO
          else ranks.agg(coalesce(
              sum(graft.functions.DecimalOps.dec12(when(!col("__out"), col("r")))),
              lit(0).cast("decimal(30,12)"))).first().getDecimal(0)
        // the LocalGate.ShuffleHashNodes pin: on the 1e6-node soak graph
        // plain pageRank went 23.5 -> 12.6 s median with the per-round
        // re-broadcast off (the dangling variant's extra flag column had
        // pushed its stats over the threshold — the r15/r16 "plain slower
        // than dangling" soak inversion)
        def nodeSide(df: DataFrame): DataFrame = LocalGate.nodeSide(df, n.toLong)
        var it = 0
        var converged = false
        while (it < iters && !converged) {
          val contribs = eDeg
            .join(nodeSide(ranks.select(col("n").as("__rn"), col("r"))),
              eDeg("src") === col("__rn"))
            .select(col("dst").as("__dst"),
              graft.functions.DecimalOps.dec9(col("r") / col("deg")).as("c"))
            .groupBy(col("__dst").as("n")).agg(sum("c").as("sc"))
          // restart mass: uniform over all nodes, or over the seed set
          val tele =
            if (seeded) when(col("__seed"), lit((1.0 - damping) / s))
              .otherwise(lit(0.0))
            else lit((1.0 - damping) / n)
          // dangling mass re-enters through the teleport vector
          val dangTerm: Column =
            if (!redistributeDangling) lit(0.0)
            else if (seeded) when(col("__seed"), lit(dang.doubleValue() / s))
              .otherwise(lit(0.0))
            else lit(dang.doubleValue() / n)
          val newRank = round(tele + lit(damping) *
            (coalesce(col("sc").cast("double"), lit(0.0)) + dangTerm), 9).as("r")
          val base = nodes.join(nodeSide(contribs), Seq("n"), "left")
          if ((it + 1) % probeEvery == 0 || it + 1 == iters) {
            val next = base
              .join(nodeSide(ranks.select(col("n"), col("r").as("__prev"))),
                Seq("n"))
              .select(col("n") +: newRank +: col("__prev") +: flagCols: _*)
              .localCheckpoint(false)
            // the probe round's single job: materializes the lazy
            // checkpoint and measures convergence (plus the next round's
            // dangling mass); sums coalesce so an EMPTY graph probes to
            // (0, 0) instead of NULL. The delta sums as an EXACT decimal
            // (each per-node |r − prev| is a deterministic IEEE double,
            // dec12-cast) so the total is partition-order-free and the
            // local kernel reproduces the same stop round for ANY tol —
            // a double sum would tie the tol > 0 stop to aggregation order
            val probe = next.agg(
              coalesce(sum(graft.functions.DecimalOps.dec12(
                  abs(col("r") - col("__prev")))),
                lit(0).cast("decimal(30,12)")).as("__delta"),
              coalesce(
                sum(graft.functions.DecimalOps.dec12(
                  when(if (redistributeDangling) !col("__out") else lit(false),
                    col("r")))),
                lit(0).cast("decimal(30,12)")).as("__dang")).first()
            dang = probe.getDecimal(1)
            converged = probe.getDecimal(0).doubleValue <= tol
            ranks = next.drop("__prev")
          } else
            // chained round: no job, no checkpoint — the next round (and
            // ultimately the probe round, at most K-1 links away) scans
            // this plan exactly once
            ranks = base.select(col("n") +: newRank +: flagCols: _*)
          it += 1
        }
        ranks.select(col("n"), round(col("r"), 6).as("rank"))
      }
    }
  }

  /** Driver-side pageRank kernel — [[pageRank]]'s [[LocalGate]]
    * path. Every float boundary is the distributed expression's
    * [[DecimalKernels]] mirror, contributions sum as exact decimals,
    * and the per-round update is round9(tele + damping · (sc + dang))
    * in the identical IEEE order — so the kernel is bit-identical to
    * the distributed loop AND to the SQL oracle that unrolls it. The
    * convergence delta is an exact decimal sum in BOTH paths (per-node
    * |r − prev| dec12-cast), so the tol > 0 early-stop round matches
    * too — not just the tol = 0 default.
    */
  private def pageRankLocal(g: Collected, iters: Int,
                            damping: Double, redistributeDangling: Boolean,
                            tol: Double,
                            seeds: Option[DataFrame]): DataFrame = {
    val n = g.n
    val deg = new Array[Int](n)
    g.edges.foreach(p => deg(p._1) += 1)
    // seeds as node values: the distributed seed join widens both sides,
    // so a seed the node type cannot hold, or a null one, matches nothing
    val seedFlag: Array[Boolean] = seeds.map { sd =>
      val f = new Array[Boolean](n)
      sd.select(col("n").try_cast(g.nodeType)).distinct().collect().filter(!_.isNullAt(0))
        .foreach(r => Option(g.indexOf(r.get(0))).foreach(i => f(i.intValue) = true))
      f
    }.orNull
    val seeded = seedFlag != null
    val nD = n.toDouble
    val s = if (seeded) seedFlag.count(identity).toDouble else nD
    require(!seeded || s >= 1, "no seed is present in the graph")
    var r = Array.tabulate(n)(i =>
      if (seeded) { if (seedFlag(i)) round9Slow(1.0 / s) else 0.0 }
      else round9Slow(1.0 / nD))
    def dangMass(rr: Array[Double]): JBD =
      decSum(n)(i => if (deg(i) == 0) rr(i) else 0.0)
    var dang: JBD = if (redistributeDangling) dangMass(r) else JBD.ZERO
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val sc = new Array[JBD](n)
      g.edges.foreach { case (u, v) =>
        val c = d9(r(u) / deg(u).toDouble)
        sc(v) = if (sc(v) == null) c else sc(v).add(c)
      }
      val dangD = dang.doubleValue
      val next = Array.tabulate(n) { i =>
        val tele =
          if (seeded) { if (seedFlag(i)) (1.0 - damping) / s else 0.0 }
          else (1.0 - damping) / nD
        val dt =
          if (!redistributeDangling) 0.0
          else if (seeded) { if (seedFlag(i)) dangD / s else 0.0 }
          else dangD / nD
        val scD = if (sc(i) == null) 0.0 else sc(i).doubleValue
        round9Slow(tele + damping * (scD + dt))
      }
      // exact decimal delta — mirrors the distributed probe's
      // dec12-cast sum, so the stop round matches for any tol
      val delta = decSum(n)(i => math.abs(next(i) - r(i))).doubleValue
      if (redistributeDangling) dang = dangMass(next)
      r = next
      converged = delta <= tol
      it += 1
    }
    g.frame(StructField("rank", DoubleType))(i => Seq(round6(r(i))))
  }

  /** Harmonic centrality — the signal Common Crawl actually ranks its
    * domain lists with: H(v) = Σ_{u≠v, d(u,v)<∞} 1/d(u,v) over
    * directed distances INTO v, truncated at `maxDist` (beyond
    * small-world diameters the 1/d tail is noise). Computed by ball
    * expansion (the HyperBall recipe, Boldi & Vigna 2013): B_t(v) =
    * {v} ∪ ⋃_{(w,v)∈E} B_{t−1}(w); nodes first appearing in B_t are
    * at distance exactly t and contribute 1/t.
    *
    * Two modes, the repo's exact-baseline / scale-path pair:
    *   - `exact = true`: balls are id arrays — exact distances, oracle
    *     -mirrorable, bounded-reach graphs only (a ball is O(reach)).
    *   - `exact = false`: balls are DataSketches HLL sketches (Spark's
    *     own `hll_sketch_agg`/`hll_union`/`hll_sketch_estimate`) —
    *     fixed 2^lgK-register state per node no matter the reach,
    *     ~1.6% standard error at lgK 12; negative sketch-estimate
    *     deltas clamp to 0. This is the 100 TB path: a web-scale
    *     domain graph's balls cover millions of nodes by t = 3, and
    *     HyperBall exists precisely because exact sets explode.
    *
    * Scale shape: per iteration one src-keyed join + one dst-keyed
    * merge exchange over NODE/EDGE-shaped frames (the pageRank shape);
    * state persists across iterations. Determinism: the per-distance
    * term round(1/t, 9) accumulates as DECIMAL(30,12) (count × term is
    * exact decimal arithmetic), 6dp emit — in exact mode bit-equal on
    * any partitioning and in any SQL engine; sketch mode is
    * deterministic for a fixed lgK (sketch state is hash-derived).
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String = "src",
                         dstCol: String = "dst", maxDist: Int = 6,
                         exact: Boolean = true, lgK: Int = 12): DataFrame = {
    require(maxDist >= 1, s"maxDist >= 1: $maxDist")
    // Sketch mode stays distributed: hll_union's binary sketch state
    // is the engine's own, not worth reimplementing for a fast path.
    endpointGraph(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst")).distinct(), exact)(
        harmonicLocal(_, maxDist)) { (e, nodes, _) =>
      var state =
        if (exact)
          nodes.select(col("n"), array(col("n")).as("ball"),
            lit(1L).as("c"), lit(0).cast("decimal(30,12)").as("h"))
        else
          nodes.groupBy("n")
            .agg(expr(s"hll_sketch_agg(n, $lgK)").as("ball"))
            .select(col("n"), col("ball"),
              expr("hll_sketch_estimate(ball)").as("c"),
              lit(0).cast("decimal(30,12)").as("h"))
      state = state.localCheckpoint() // eager: iteration 1 scans it twice
      // Iteration hygiene: each round's state is localCheckpoint(false)
      // — lineage cut, no CacheManager pin to leak — and the round's
      // SINGLE job is the ball-change aggregation that materializes the
      // lazy checkpoint. Convergence is BALL EQUALITY, valid in both
      // modes: unchanged balls mean unchanged counts mean unchanged h,
      // and the iteration map is a pure function of the state, so an
      // unchanged round is a proven fixpoint — the loop early-stops
      // with output identical to running the full maxDist budget.
      // (Exact balls preserve element order under a no-op merge —
      // concat keeps the old ball's prefix and array_distinct keeps
      // first occurrences — and a no-op hll_union reproduces the same
      // sketch state, so equality is well-defined; a spurious byte
      // inequality would only forgo the early exit, never change the
      // answer.)
      var t = 1
      var converged = false
      while (t <= maxDist && !converged) {
        val nbr = e
          .join(state.select(col("n").as("src"), col("ball").as("nball")), "src")
          .groupBy(col("dst").as("n"))
          .agg(if (exact) array_distinct(flatten(collect_list(col("nball")))).as("inc")
               else expr("hll_union_agg(nball)").as("inc"))
        val term = round(lit(1.0) / t, 9).cast("decimal(30,12)")
        val merged = state.join(nbr, Seq("n"), "left")
        val newBall =
          if (exact) when(col("inc").isNull, col("ball"))
            .otherwise(array_distinct(concat(col("ball"), col("inc"))))
          else coalesce(expr("hll_union(ball, inc)"), col("ball"))
        val next = merged
          .withColumn("__ball", newBall)
          .withColumn("__c",
            if (exact) size(col("__ball")).cast("long")
            else expr("hll_sketch_estimate(__ball)"))
          // count casts to DECIMAL(10,0): the product's adjusted scale
          // stays >= 9, so term x count (<= 9 decimals) is EXACT — a
          // wider cast would push Spark's precision adjustment below the
          // term's 9 decimals and silently truncate vs the oracle
          .select(col("n"), col("__ball").as("ball"), col("__c").as("c"),
            (col("h") + term * greatest(col("__c") - col("c"), lit(0L))
              .cast("decimal(10,0)")).as("h"),
            when(col("__ball") === col("ball"), lit(0L)).otherwise(lit(1L))
              .as("__g"))
          .localCheckpoint(false)
        // coalesce: an empty graph sums to NULL, which must read as 0
        val changed = next.agg(coalesce(sum(col("__g")), lit(0L)))
          .first().getLong(0)
        state = next.drop("__g")
        converged = changed == 0L
        t += 1
      }
      state.select(col("n"), (col("c") - 1).as("n_reachable"),
        round(col("h").cast("double"), 6).as("harmonic"))
    }
  }

  /** Driver kernel for exact-mode [[harmonicCentrality]] behind the
    * [[LocalGate]] — the distributed ball expansion replayed on
    * collected rows, BIT-IDENTICAL by construction: balls are sets
    * (the union is monotone, so cardinality equality ⟺ ball equality
    * — the same convergence the distributed loop probes), each
    * round's term is the identical round(1/t, 9)-as-decimal(30,12),
    * and h accumulates exact decimal term×delta products in the same
    * scale.
    */
  private def harmonicLocal(g: Collected, maxDist: Int): DataFrame = {
    val n = g.n
    // in-neighbor adjacency: B_t(v) merges the balls of every (w, v)
    val (off, from) = g.csr(reverse = true)
    var balls = Array.tabulate(n) { i =>
      val b = new java.util.BitSet(n); b.set(i); b
    }
    val h = Array.fill(n)(JBD.ZERO.setScale(12))
    var t = 1
    var converged = false
    while (t <= maxDist && !converged) {
      val term = d9(1.0 / t)
      var changed = false
      val next = new Array[java.util.BitSet](n)
      var v = 0
      while (v < n) {
        val b = balls(v).clone().asInstanceOf[java.util.BitSet]
        var j = off(v)
        while (j < off(v + 1)) { b.or(balls(from(j))); j += 1 }
        val delta = b.cardinality() - balls(v).cardinality()
        if (delta > 0) {
          h(v) = h(v).add(term.multiply(JBD.valueOf(delta.toLong)))
          changed = true
          next(v) = b
        } else next(v) = balls(v)
        v += 1
      }
      balls = next
      converged = !changed
      t += 1
    }
    g.frame(StructField("n_reachable", LongType),
        StructField("harmonic", DoubleType))(i =>
      Seq[Any]((balls(i).cardinality() - 1).toLong, round6(h(i).doubleValue)))
  }

  /** HITS hubs and authorities (Kleinberg 1999) — the third
    * centrality signal, separating PAGES THAT POINT WELL (hubs:
    * directories, link lists, sitemaps-as-pages) from PAGES POINTED
    * AT (authorities): a_t(v) = Σ_{(u,v)} h_{t-1}(u), h_t(u) =
    * Σ_{(u,v)} a_t(v), each normalized per iteration. Normalization
    * is L1 (divide by the score total) rather than Kleinberg's L2:
    * the RANKING — the consumed signal — is identical under any
    * positive rescale, and L1 keeps the whole pipeline in the repo's
    * exact-decimal determinism contract (no sqrt): per-edge
    * contributions are the 9dp scores summed as DECIMAL(30,12)
    * (exact), the normalized score is round(raw/total, 9) in double,
    * 6dp emit — bit-equal on any partitioning and reproducible in
    * any SQL engine (the oracle unrolls the same iterations).
    *
    * Scale shape: pageRank's — node/edge-shaped throughout, per
    * iteration one src-keyed and one dst-keyed join + partial-agg
    * exchange, plus a 1-row total frame (broadcast-NLJ of one row,
    * the repo's benign stat-frame pattern). Nodes with no in-edges
    * hold authority 0, no out-edges hub 0; parallel edges collapse.
    */
  def hits(edges: DataFrame, srcCol: String = "src",
           dstCol: String = "dst", iters: Int = 3,
           tol: Double = 0.0): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    require(tol >= 0.0, s"tol >= 0: $tol")
    endpointGraph(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst")).distinct(), eligible = true)(
        hitsLocal(_, iters, tol)) { (e, nodes, _) =>
      // raw phase sums (9dp inputs, exact decimal) -> L1-normalized 9dp
      def normalize(raw: DataFrame): DataFrame = {
        val tot = raw.agg(sum(col("r")).cast("double").as("__t"))
        nodes.join(raw, Seq("n"), "left").crossJoin(tot)
          .select(col("n"),
            round(coalesce(col("r").cast("double"), lit(0.0)) / col("__t"), 9)
              .as("x"))
      }
      // Iteration hygiene: a and h localCheckpoint(false) per round —
      // without it the final h.join(a) doubles the unpersisted subtree
      // per iteration (~2^iters evaluations). The round's SINGLE job is
      // the hub-delta aggregation: it materializes h's lazy checkpoint
      // (and a's, which h scans). delta == 0 is a proven fixpoint — the
      // next round's a = f(h) and h = g(a) reproduce themselves — so
      // tol = 0.0 early-stops with output identical to the full budget.
      var h = nodes.select(col("n"), lit(1.0).as("x"))
      var a = h // overwritten on the first iteration (iters >= 1)
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        a = normalize(e
          .join(h.select(col("n").as("src"), col("x")), "src")
          .groupBy(col("dst").as("n"))
          .agg(sum(graft.functions.DecimalOps.dec9(col("x"))).as("r")))
          .localCheckpoint(false)
        val hNext = normalize(e
          .join(a.select(col("n").as("dst"), col("x")), "dst")
          .groupBy(col("src").as("n"))
          .agg(sum(graft.functions.DecimalOps.dec9(col("x"))).as("r")))
          .join(h.select(col("n"), col("x").as("__prev")), Seq("n"))
          .localCheckpoint(false)
        // coalesce: an empty graph sums to NULL, which must read as 0.
        // Exact decimal sum (pageRank's probe rationale): the tol > 0
        // stop round is partition-order-free and kernel-reproducible
        val delta = hNext.agg(coalesce(
          sum(graft.functions.DecimalOps.dec12(abs(col("x") - col("__prev")))),
          lit(0).cast("decimal(30,12)"))).first().getDecimal(0).doubleValue
        h = hNext.drop("__prev")
        converged = delta <= tol
        it += 1
      }
      h.select(col("n"), round(col("x"), 6).as("hub"))
        .join(a.select(col("n"), round(col("x"), 6).as("authority")), Seq("n"))
    }
  }

  /** Driver-side HITS kernel — [[hits]]'s [[LocalGate]] path. The
    * same float-boundary mirror as the pageRank kernel: phase sums are
    * decimals of 9dp-rounded scores, the L1 total is the decimal sum
    * cast to double (order-free), each normalized score rounds to 9dp,
    * the emit to 6dp — bit-identical to the distributed loop and its
    * SQL oracle. The convergence delta is an exact decimal sum in both
    * paths, so the tol > 0 stop round matches as well.
    */
  private def hitsLocal(g: Collected, iters: Int, tol: Double): DataFrame = {
    val n = g.n
    // one phase: raw(v) = Σ_incident dec12(round9(x(other))), then
    // x'(v) = round9(coalesce(raw)/Σraw) — the normalize() mirror
    def phase(x: Array[Double], bySrc: Boolean): Array[Double] = {
      val raw = new Array[JBD](n)
      g.edges.foreach { case (u, v) =>
        val (from, to) = if (bySrc) (u, v) else (v, u)
        val c = d9(x(from))
        raw(to) = if (raw(to) == null) c else raw(to).add(c)
      }
      val totD = raw.filter(_ != null).foldLeft(JBD.ZERO.setScale(12))(_ add _)
        .doubleValue
      Array.tabulate(n)(i =>
        round9Slow((if (raw(i) == null) 0.0 else raw(i).doubleValue) / totD))
    }
    var h = Array.fill(n)(1.0)
    var a = h
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      a = phase(h, bySrc = true) // authority: sum hub scores of in-links
      val hNext = phase(a, bySrc = false) // hub: sum authority of out-links
      // exact decimal delta — the distributed probe's dec12 mirror
      val delta = decSum(n)(i => math.abs(hNext(i) - h(i))).doubleValue
      h = hNext
      converged = delta <= tol
      it += 1
    }
    g.frame(StructField("hub", DoubleType), StructField("authority", DoubleType))(
      i => Seq(round6(h(i)), round6(a(i))))
  }

  /** One-row structural summary of a link graph — the sanity panel a
    * crawl/graph pipeline checks before spending iterations on it:
    * node and distinct-directed-edge counts, self-loops, dangling
    * nodes (no out-edges — the mass pageRank's modes argue about),
    * reciprocity (fraction of non-loop edges whose reverse exists —
    * link-exchange/mirror-farm graphs run high, editorial link
    * graphs low), and mean out-degree. All exact longs + 6dp
    * doubles, bit-stable on any partitioning. An edge with a null
    * endpoint is dropped, as the gated kernels drop it.
    *
    * Scale shape: two node/edge-shaped aggregations, one anti-join,
    * and one edge-keyed left-semi self-join (the reciprocity probe —
    * the same exchange class as one pageRank iteration); the 1-row
    * pieces assemble by broadcast cross-join (the benign stat-frame
    * pattern).
    */
  def stats(edges: DataFrame, srcCol: String = "src",
            dstCol: String = "dst"): DataFrame = {
    Tables.persisted(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull).distinct()) { e =>
      val nodes = endpoints(e)
      val ecnt = e.agg(count(lit(1)).as("n_edges"),
        sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("n_self_loops"))
      val ncnt = nodes.agg(count(lit(1)).as("n_nodes"))
      val dang = nodes
        .join(e.select(col("src").as("n")).distinct(), Seq("n"), "left_anti")
        .agg(count(lit(1)).as("n_dangling"))
      val recip = e.filter(col("src") =!= col("dst"))
        .join(e.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("__recip"))
      // the answer is ONE row: materialize it eagerly (localCheckpoint)
      // so the pinned edge frame can be released before returning
      ecnt.crossJoin(ncnt).crossJoin(dang).crossJoin(recip)
        .select(col("n_nodes"), col("n_edges"), col("n_self_loops"),
          col("n_dangling"),
          round(col("__recip").cast("double") /
            greatest(col("n_edges") - col("n_self_loops"), lit(1L))
              .cast("double"), 6).as("reciprocity"),
          round(col("n_edges").cast("double") /
            greatest(col("n_nodes"), lit(1L)), 6).as("avg_out_degree"))
        .localCheckpoint()
    }
  }

  /** Connected components over the link graph — host/domain clusters
    * (mirror networks, link farms, site families): every node labeled
    * with its component's LEXICOGRAPHICALLY SMALLEST member (a stable,
    * human-readable representative). String nodes ride the dedup
    * engine's long-id CC ([[graft.dedup.Clusters.connectedComponents]]
    * — min-label propagation with escalated pointer doubling, O(log
    * diameter) shuffle rounds) through a dense id assignment: ids are
    * `row_number` over the sorted node set, so min id IS the
    * lexicographic min and the label contract carries over verbatim.
    *
    * Scale shape: node/edge-shaped throughout. The id assignment is
    * one global sort of the NODE table (a window over the full set —
    * domain-granularity frames, orders below the corpus; the same
    * cost class as pageRank's out-degree build). Edges translate via
    * two node-keyed joins, then CC's per-round exchanges take over;
    * labels map back through two more node-keyed joins.
    */
  def components(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst", maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = endpoints(e)
    val w = org.apache.spark.sql.expressions.Window.orderBy("n")
    // eager: the returned labels read it after the call
    val ids = nodes.select(col("n"), row_number().over(w).cast("long").as("__id"))
      .localCheckpoint()
    val pairs = e
      .join(ids.select(col("n").as("src"), col("__id").as("a")), "src")
      .join(ids.select(col("n").as("dst"), col("__id").as("b")), "dst")
      .select("a", "b")
    val cc = graft.dedup.Clusters.connectedComponents(pairs, "a", "b", maxIter)
    cc.join(ids.select(col("n"), col("__id")), cc("id") === col("__id"))
      .select(col("n"), col("comp").as("__c"))
      .join(ids.select(col("__id").as("__c"), col("n").as("component")), "__c")
      .select("n", "component")
  }

  /** Strongly-connected components — the directed-cycle structure
    * [[components]] (weak/undirected) can't see, and the signal
    * link-spam and crawl-trap analysis actually wants: link farms are
    * dense DIRECTED cycles, redirect loops are small SCCs, and the
    * web's bow-tie core is one giant one. Every node labels with its
    * SCC's lexicographically smallest member (the [[components]]
    * contract).
    *
    * Algorithm: forward-backward reachability with multi-pivot
    * COLORING (the distributed SCC shape — Fleischer/Hendrickson/
    * Pinar FW-BW generalized by Orzan-style coloring; Tarjan is
    * inherently sequential), on the ball-expansion machinery
    * [[harmonicCentrality]] uses:
    *   1. TRIM — nodes with no in- or no out-edges in the active
    *      subgraph are singleton SCCs; peel iteratively (kills the
    *      DAG periphery, the bulk of a web graph).
    *   2. COLOR — assign each node the pivot key
    *      `struct(xxhash64(n, outerRound), n)` (a fresh pseudo-random
    *      total order every outer round, deterministic across runs)
    *      and propagate the min key FORWARD to fixpoint: color(v) =
    *      min key that reaches v. Each color class has exactly one
    *      root r (color(r) = key(r)).
    *   3. MARK — BACKWARD reachability from every root, restricted
    *      to its own color class (provably closed: any v→…→r path
    *      stays in class r). Marked nodes form SCC(r) — one SCC
    *      peels PER COLOR CLASS per round, all simultaneously.
    *   4. Peel, re-label each peeled SCC with its lexicographically
    *      smallest MEMBER (the [[components]] contract — the random
    *      root need not be the min member), drop peeled nodes and
    *      their edges; repeat.
    *
    * Why RANDOM priorities, not min node ids (the r14 adversarial-
    * depth fix): under min-id coloring a CHAIN of k SCCs — a
    * crawl-trap ring-of-rings, a long redirect chain of loops — is
    * ONE color class (the global-min node reaches the whole chain),
    * so exactly one SCC peels per outer round: O(k) rounds, O(k²)
    * inner jobs, and a hard `require` failure past maxIter. With a
    * per-round random order the class roots are the prefix-minima
    * records of the priority sequence along the chain (~ln k of
    * them), every record's SCC peels simultaneously, and the
    * surviving segments recurse — O(log k) EXPECTED outer rounds on
    * any SCC-chain, O(k) total inner jobs. Keys are hash-derived
    * (salted by the outer-round index), so iteration counts and
    * output are both deterministic across runs and partitionings.
    *
    * Scale shape: every step is a node/edge-shaped join + partial-agg
    * exchange (the pageRank class); no transitive-closure pair
    * explosion, driver state is counters. Iteration hygiene is
    * LinkGraph-standard: every evolving frame is
    * `localCheckpoint(false)` and each inner round's SINGLE job is
    * the fused change-probe that materializes it. `maxIter` bounds
    * OUTER rounds only; with randomized pivots the expected need is
    * O(log longest-SCC-chain), so the default 100 is comfortable even
    * for adversarially deep graphs (spec'd at a 150-SCC chain) — but
    * the bound remains contractual: non-convergence throws rather
    * than returning a partial labeling.
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String = "src",
                                  dstCol: String = "dst",
                                  maxIter: Int = 100): DataFrame =
    sccWithRounds(edges, srcCol, dstCol, maxIter)._1

  /** Driver-side iterative Tarjan over `g` (self-loops included) — the
    * kernel of [[sccWithRounds]] and [[bowTie]] on [[endpointGraph]]'s
    * local branch. Returns per node the MIN member index of its SCC
    * (index order is label order, so min index == min member).
    */
  private def sccLocal(g: Collected): Array[Int] = {
    val (off, tgt) = g.csr(reverse = false)
    val n = g.n
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val stk = new Array[Int](n)
    var sp = 0
    val comp = Array.fill(n)(-1)
    var counter = 0
    val frameV = new Array[Int](n + 1)
    val frameE = new Array[Int](n + 1)
    var v0 = 0
    while (v0 < n) {
      if (index(v0) == -1) {
        var top = 0
        frameV(0) = v0
        frameE(0) = off(v0)
        index(v0) = counter; low(v0) = counter; counter += 1
        stk(sp) = v0; sp += 1; onStk(v0) = true
        while (top >= 0) {
          val v = frameV(top)
          if (frameE(top) < off(v + 1)) {
            val w = tgt(frameE(top))
            frameE(top) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stk(sp) = w; sp += 1; onStk(w) = true
              top += 1
              frameV(top) = w
              frameE(top) = off(w)
            } else if (onStk(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              // pop v's SCC; label every member with the min member
              // index (nodes are indexed in label order)
              var j = sp - 1
              var minIdx = Int.MaxValue
              var found = false
              while (!found) {
                val w = stk(j)
                if (w < minIdx) minIdx = w
                if (w == v) found = true else j -= 1
              }
              var p = j
              while (p < sp) {
                val w = stk(p)
                onStk(w) = false
                comp(w) = minIdx
                p += 1
              }
              sp = j
            }
            top -= 1
            if (top >= 0) {
              val u = frameV(top)
              if (low(v) < low(u)) low(u) = low(v)
            }
          }
        }
      }
      v0 += 1
    }
    comp
  }

  /** Soak hook (ScaleSoak): install a buffer and
    * [[sccWithRounds]] appends one (outerRound, activeCount, pinned)
    * entry at each outer-round start — the broadcast-vs-shuffle
    * decision trail ([[LocalGate.pinsShuffle]]), so a soak outlier
    * self-attributes (was the pin on or off when the round ran?)
    * instead of needing a re-run under instrumentation.
    */
  private[graft] val sccPinTrail =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[(Int, Long, Boolean)]]

  /** [[stronglyConnectedComponents]] plus the outer-round count it
    * took — exposed for the adversarial-depth spec (a k-SCC chain
    * must peel in o(k) outer rounds, which only the count can prove).
    */
  private[graft] def sccWithRounds(edges: DataFrame, srcCol: String = "src",
                                   dstCol: String = "dst",
                                   maxIter: Int = 100): (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter >= 1: $maxIter")
    // the driver Tarjan keeps the IDENTICAL contract: label = smallest
    // member, nodes in Spark's own order
    endpointGraph(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
        eligible = true) { g =>
      val comp = sccLocal(g)
      (g.frame(StructField("scc", g.nodeType))(i => Seq(g.nodes(comp(i)))), 0)
    }(sccPeel(_, _, _, maxIter))
  }

  /** [[sccWithRounds]] above the gate: the peel over the pinned edges
    * `e`, their endpoints `nodes` and the node count `n`.
    */
  private def sccPeel(e: DataFrame, nodes: DataFrame, n: Long,
                      maxIter: Int): (DataFrame, Int) = {
    // self-loops never change membership ({v} is an SCC with or
    // without one): the working edge set drops them, the nodes keep them
    var active = nodes.localCheckpoint(false)
    var aEdges = e.filter(col("src") =!= col("dst")).localCheckpoint(false)
    var activeCount = n
    // The LocalGate.ShuffleHashNodes pin, measured WORSE here without
    // it (1e6 nodes): every inner coloring/marking round re-broadcast
    // a node-shaped frame — 54→209 s across runs (cpu to 2531 s, gc to
    // 35 s) vs a stable ~42 s pinned. The pin re-reads activeCount, so
    // once peeling shrinks the graph below the threshold small-frame
    // rounds get AQE's broadcast back.
    def nodeSide(df: DataFrame): DataFrame = LocalGate.nodeSide(df, activeCount)
    val done = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var outer = 0
    while (activeCount > 0 && outer < maxIter) {
      val trail = sccPinTrail.get()
      if (trail != null)
        trail += ((outer, activeCount, LocalGate.pinsShuffle(activeCount)))
      // ---- 1. trim: no-in or no-out nodes are singleton SCCs; each
      // pass strictly shrinks the node set, so the loop terminates
      var trimming = true
      while (trimming && activeCount > 0) {
        val core = active
          .join(nodeSide(aEdges.select(col("dst").as("n")).distinct()),
            Seq("n"), "left_semi")
          .join(nodeSide(aEdges.select(col("src").as("n")).distinct()),
            Seq("n"), "left_semi")
          .localCheckpoint(false)
        val coreCount = core.count()
        if (coreCount == activeCount) trimming = false
        else {
          done += active.join(nodeSide(core), Seq("n"), "left_anti")
            .select(col("n"), col("n").as("scc"))
          active = core
          aEdges = aEdges
            .join(nodeSide(active.select(col("n").as("src"))),
              Seq("src"), "left_semi")
            .join(nodeSide(active.select(col("n").as("dst"))),
              Seq("dst"), "left_semi")
            .select("src", "dst")
            .localCheckpoint(false)
          activeCount = coreCount
          aEdges.count() // one edge-shaped job; keeps trim rounds bounded-lineage
        }
      }
      if (activeCount > 0) {
        // ---- 2. forward min-PRIORITY coloring to fixpoint (see the
        // scaladoc: random per-round pivot order collapses SCC-chain
        // depth from O(k) to O(log k) expected outer rounds). Round 0
        // uses the PLAIN ID order (constant p): on id-friendly graphs
        // — the common case, and any construction where chain edges
        // descend toward class minima — every SCC roots its own class
        // and the whole graph peels in ONE round, where a random
        // order would leave only the ~ln k priority records rooted
        // and spend O(log k) rounds on work round 0 could finish.
        // Rounds >= 1 switch to per-round hash priorities, which is
        // what bounds the ADVERSARIAL chain (id-hostile alignments)
        // at O(log k) expected — one possibly-wasted min-id round
        // costs +1, randomization keeps the guarantee.
        val key = struct(
          (if (outer == 0) lit(0L) else xxhash64(col("n"), lit(outer)))
            .as("p"),
          col("n").as("id"))
        var color = active.select(col("n"), key.as("c"))
          .localCheckpoint(false)
        var changed = 1L
        while (changed > 0) {
          val inc = aEdges
            .join(nodeSide(color.select(col("n").as("src"), col("c").as("cs"))),
              "src")
            .groupBy(col("dst").as("n")).agg(min("cs").as("ci"))
          val next = color.join(nodeSide(inc), Seq("n"), "left")
            .select(col("n"),
              least(col("c"), coalesce(col("ci"), col("c"))).as("c"),
              when(col("ci").isNotNull && col("ci") < col("c"), 1L)
                .otherwise(0L).as("__g"))
            .localCheckpoint(false)
          changed = next.agg(coalesce(sum(col("__g")), lit(0L)))
            .first().getLong(0)
          color = next.drop("__g")
        }
        // ---- 3. backward mark from every class root (the node whose
        // own key IS the class color), within-class
        var mark = color
          .select(col("n"), col("c"),
            (col("c").getField("id") === col("n")).as("m"))
          .localCheckpoint(false)
        changed = 1L
        while (changed > 0) {
          val cand = aEdges
            .join(nodeSide(mark.select(col("n").as("dst"), col("c").as("cu"),
              col("m").as("mu"))), "dst")
            .filter(col("mu"))
            .select(col("src").as("__n2"), col("cu"))
            .distinct()
          val candH = nodeSide(cand)
          val next = mark.join(candH,
              mark("n") === candH("__n2") && mark("c") === candH("cu"), "left")
            .select(mark("n"), mark("c"),
              (mark("m") || col("__n2").isNotNull).as("m"),
              when(!mark("m") && col("__n2").isNotNull, 1L)
                .otherwise(0L).as("__g"))
            .localCheckpoint(false)
          changed = next.agg(coalesce(sum(col("__g")), lit(0L)))
            .first().getLong(0)
          mark = next.drop("__g")
        }
        // ---- 4. peel every class's SCC at once; label = smallest
        // MEMBER (the components contract), re-derived per class
        // because the random-priority root need not be the min member
        val marked = mark.filter(col("m")).select(col("n"), col("c"))
        val peeled = marked
          .join(nodeSide(marked.groupBy("c").agg(min(col("n")).as("scc"))), "c")
          .select("n", "scc")
        done += peeled
        active = active.join(nodeSide(peeled.select("n")), Seq("n"), "left_anti")
          .localCheckpoint(false)
        aEdges = aEdges
          .join(nodeSide(active.select(col("n").as("src"))),
            Seq("src"), "left_semi")
          .join(nodeSide(active.select(col("n").as("dst"))),
            Seq("dst"), "left_semi")
          .select("src", "dst")
          .localCheckpoint(false)
        activeCount = active.count()
      }
      outer += 1
    }
    require(activeCount == 0,
      s"SCC peeling did not converge in $maxIter outer rounds " +
        s"($activeCount nodes left) — raise maxIter")
    val out =
      if (done.isEmpty) nodes.select(col("n"), col("n").as("scc"))
      else done.reduce(_.unionByName(_))
    (out, outer)
  }

  /** Bow-tie decomposition of a directed graph (Broder et al. 2000,
    * "Graph structure in the Web") — the macro-map every web-graph
    * study draws: the giant strongly-connected CORE, the IN set that
    * can reach it, the OUT set it reaches, TUBEs (IN→OUT paths that
    * bypass the core), TENDRILs (hang forward off IN or backward
    * into OUT without touching the core), and DISCONNECTED debris.
    * Crawl diagnostics read it directly: a crawl seeded in IN
    * eventually covers CORE+OUT; one seeded in OUT never escapes;
    * oversized TENDRIL/TUBE mass flags spider-trap farms.
    *
    * Built from [[stronglyConnectedComponents]] (core = the largest
    * SCC, ties to the smallest label in Spark's order for the node
    * type — byte order for string and binary ids) plus four
    * frontier-expansion reachability passes (forward/backward from
    * the core, forward from IN, backward from OUT — the
    * harmonicCentrality ball shape with visited-set dedup). A
    * correctness subtlety the classifier leans on: for a node
    * outside CORE∪IN∪OUT, any path from IN to it provably avoids
    * the core (a through-core path would have put it in OUT), so
    * tube/tendril tests need no core-exclusion in the traversal.
    *
    * Scale shape: SCC's (node/edge-shaped rounds, fused probes,
    * localCheckpoint per round) plus O(diameter) frontier-join
    * rounds per reachability pass; per round ONE edge-keyed join +
    * anti-join dedup, frontier-sized not corpus-sized. Returns
    * (n, cls) with cls in {core, in, out, tube, tendril,
    * disconnected}.
    *
    * Measured and NOT adopted (round 15, the probeEvery discipline —
    * record the negative result so it isn't re-run): reusing SCC's
    * final-round forward/backward frontiers for the core's class
    * would cut at most 2 of the 4 reachability passes, but the
    * graph-sized soak (1e6-node power-law digraph) puts the SCC step
    * at ~72% of bowTie's wall and all four passes together at ~28%
    * — a ≤14% ceiling that doesn't pay for entangling bowTie with
    * SCC round internals.
    */
  def bowTie(edges: DataFrame, srcCol: String = "src",
             dstCol: String = "dst", maxIter: Int = 100): DataFrame = {
    require(maxIter >= 1, s"maxIter >= 1: $maxIter")
    endpointGraph(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
        eligible = true)(bowTieLocal) { (e, nodes, nNodes) =>
      // the SCC labels are node-shaped and read by the core query and
      // every reach pass: one eager checkpoint
      val scc = sccPeel(e, nodes, nNodes, maxIter)._1.localCheckpoint()
      // the per-hop visited set and the final tag frames are node-shaped
      def nodeSide(df: DataFrame): DataFrame = LocalGate.nodeSide(df, nNodes)
      // the giant SCC: size desc, label asc — a 1-row broadcast
      val coreLabel = scc.groupBy("scc").agg(count(lit(1)).as("__sz"))
        .orderBy(desc("__sz"), asc("scc")).limit(1).select("scc")
      val core = scc.join(broadcast(coreLabel), Seq("scc"), "left_semi")
        .select("n").localCheckpoint()
      // frontier-expansion reachability: seed ∪ everything reachable
      // along `forward` edges; visited-set anti-join dedup (which also
      // drops a self-loop's step), one checkpointed round per hop
      def reach(seed: DataFrame, forward: Boolean): DataFrame = {
        var visited = seed.localCheckpoint(false)
        var frontier = visited
        var growing = visited.count() > 0
        while (growing) {
          val step =
            if (forward)
              e.join(frontier.select(col("n").as("src")), Seq("src"), "left_semi")
                .select(col("dst").as("n")).distinct()
            else
              e.join(frontier.select(col("n").as("dst")), Seq("dst"), "left_semi")
                .select(col("src").as("n")).distinct()
          val fresh = step.join(nodeSide(visited), Seq("n"), "left_anti")
            .localCheckpoint(false)
          if (fresh.count() == 0) growing = false
          else {
            visited = visited.unionByName(fresh).localCheckpoint(false)
            visited.count()
            frontier = fresh
          }
        }
        visited
      }
      val fwdCore = reach(core, forward = true)
      val bwdCore = reach(core, forward = false)
      val inSet = bwdCore.join(core, Seq("n"), "left_anti").localCheckpoint()
      val outSet = fwdCore.join(core, Seq("n"), "left_anti").localCheckpoint()
      val inFwd = reach(inSet, forward = true)
      val outBwd = reach(outSet, forward = false)
      def tag(df: DataFrame, name: String) =
        df.select(col("n"), lit(true).as(name))
      scc.select("n")
        .join(nodeSide(tag(core, "__core")), Seq("n"), "left")
        .join(nodeSide(tag(inSet, "__in")), Seq("n"), "left")
        .join(nodeSide(tag(outSet, "__out")), Seq("n"), "left")
        .join(nodeSide(tag(inFwd, "__if")), Seq("n"), "left")
        .join(nodeSide(tag(outBwd, "__ob")), Seq("n"), "left")
        .select(col("n"),
          when(col("__core"), "core")
            .when(col("__in"), "in")
            .when(col("__out"), "out")
            .when(col("__if").isNotNull && col("__ob").isNotNull, "tube")
            .when(col("__if").isNotNull || col("__ob").isNotNull, "tendril")
            .otherwise("disconnected").as("cls"))
        .localCheckpoint()
    }
  }

  /** Driver-side Broder classification over a collected small graph —
    * [[bowTie]]'s [[LocalGate]] path: Tarjan, then the giant core by
    * size desc, label asc. Labels are min member indices and index
    * order is label order, so a size tie goes to the lowest index —
    * the distributed path's Spark order.
    */
  private def bowTieLocal(g: Collected): DataFrame = {
    val n = g.n
    val comp = sccLocal(g)
    val sizes = comp.groupMapReduce(identity)(_ => 1)(_ + _)
    val coreC = sizes.keys.maxBy(c => (sizes(c), -c))
    val fwd = g.csr(reverse = false)
    val bwd = g.csr(reverse = true)
    def reach(seed: Array[Boolean], forward: Boolean): Array[Boolean] = {
      val (off, tgt) = if (forward) fwd else bwd
      val vis = seed.clone()
      val queue = new Array[Int](n)
      var qh = 0
      var qt = 0
      var i = 0
      while (i < n) { if (vis(i)) { queue(qt) = i; qt += 1 }; i += 1 }
      while (qh < qt) {
        val v = queue(qh); qh += 1
        var p = off(v)
        while (p < off(v + 1)) {
          val w = tgt(p)
          if (!vis(w)) { vis(w) = true; queue(qt) = w; qt += 1 }
          p += 1
        }
      }
      vis
    }
    val core = Array.tabulate(n)(i => comp(i) == coreC)
    val fwdCore = reach(core, forward = true)
    val bwdCore = reach(core, forward = false)
    val inSet = Array.tabulate(n)(i => bwdCore(i) && !core(i))
    val outSet = Array.tabulate(n)(i => fwdCore(i) && !core(i))
    val inFwd = reach(inSet, forward = true)
    val outBwd = reach(outSet, forward = false)
    g.frame(StructField("cls", StringType, nullable = false)) { i =>
      Seq(
        if (core(i)) "core"
        else if (inSet(i)) "in"
        else if (outSet(i)) "out"
        else if (inFwd(i) && outBwd(i)) "tube"
        else if (inFwd(i) || outBwd(i)) "tendril"
        else "disconnected")
    }
  }

  /** The distinct endpoints of edge frame `e`, as column `n`. */
  private def endpoints(e: DataFrame): DataFrame =
    e.select(col("src").as("n")).unionByName(e.select(col("dst").as("n"))).distinct()

  /** [[LocalGate]] in front of a kernel whose nodes are the endpoints of
    * its edges (all five gated kernels), in the gate's probe order:
    * `edges`, less every edge with a null endpoint, is pinned and
    * counted, and an admitted graph is collected once. Otherwise `dist`
    * runs on the pinned edges, the pinned node frame and its count
    * (evaluated at most once).
    */
  private def endpointGraph[T](edges: DataFrame, eligible: Boolean)(local: Collected => T)(
      dist: (DataFrame, DataFrame, => Long) => T): T =
    Tables.persisted(edges.filter(col("src").isNotNull && col("dst").isNotNull)) { e =>
      lazy val m = e.count()
      if (eligible && LocalGate.admitsEndpoints(m)) local(new Collected(e))
      else Tables.persisted(endpoints(e)) { nodes =>
        lazy val n = nodes.count()
        if (eligible && LocalGate.admitsGraph(n, m)) local(new Collected(e))
        else dist(e, nodes, n)
      }
    }

  /** A small graph collected to the driver — the one working form of
    * the driver-local kernels, built from the collected (src, dst) rows
    * of `e`. The nodes are the distinct endpoints in Spark's
    * `orderBy("n")` order, so index order == label order. Nodes are
    * keyed by Spark's value equality (binary ids by content); `edges`
    * are (src, dst) index pairs.
    */
  private final class Collected(e: DataFrame) {
    val nodeType: DataType = endpoints(e).schema.head.dataType
    // a node's key: its one-column UnsafeRow (byte equality and hash);
    // every value here comes out of a Spark `distinct`, so floats are
    // already normalized (-0.0 is 0.0, one NaN)
    private val key: Any => InternalRow = {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(nodeType)
      val proj = UnsafeProjection.create(Array(nodeType))
      v => proj(InternalRow(toCatalyst(v))).copy()
    }
    private val ends: Array[InternalRow] =
      e.select(col("src").cast(nodeType), col("dst").cast(nodeType)).collect()
        .flatMap(r => Array(key(r.get(0)), key(r.get(1))))
    private val keys: Array[InternalRow] =
      ends.distinct.sorted(InterpretedOrdering.forSchema(Seq(nodeType)))
    val n: Int = keys.length
    val nodes: Array[Any] =
      keys.map(_.get(0, nodeType)).map(CatalystTypeConverters.createToScalaConverter(nodeType))
    private val idx = new java.util.HashMap[InternalRow, Integer](n * 2)
    keys.zipWithIndex.foreach { case (k, i) => idx.put(k, i) }
    def indexOf(v: Any): Integer = idx.get(key(v))
    val edges: Array[(Int, Int)] = Array.tabulate(ends.length / 2)(i =>
      (idx.get(ends(2 * i)).intValue, idx.get(ends(2 * i + 1)).intValue))

    /** CSR adjacency (off, tgt): node v's out-neighbors (in-neighbors
      * when `reverse`) are tgt(off(v) until off(v + 1)), in edge order.
      */
    def csr(reverse: Boolean): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      edges.foreach { case (s, d) => off((if (reverse) d else s) + 1) += 1 }
      var i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val tgt = new Array[Int](off(n))
      val fill = java.util.Arrays.copyOf(off, n)
      edges.foreach { case (s, d) =>
        val (a, b) = if (reverse) (d, s) else (s, d)
        tgt(fill(a)) = b
        fill(a) += 1
      }
      (off, tgt)
    }

    /** The kernel's output frame: `n` (the node type), then `cols`,
      * one row per node from `row(i)`.
      */
    def frame(cols: StructField*)(row: Int => Seq[Any]): DataFrame =
      e.sparkSession.createDataFrame(
        java.util.Arrays.asList(
          Array.tabulate(n)(i => Row.fromSeq(nodes(i) +: row(i))): _*),
        StructType(StructField("n", nodeType) +: cols))
  }

  /** The distributed plans' per-element decimal casts, on the driver:
    * `round(x, 9).cast(decimal(30,12))` and `x.cast(decimal(30,12))`.
    */
  private def d9(x: Double): JBD = DecimalKernels.round9dec(x).toJavaBigDecimal
  private def d12(x: Double): JBD = DecimalKernels.dec12(x).toJavaBigDecimal

  /** Σ_{i < n} dec12(f(i)) as an exact decimal — the distributed
    * probes' order-free sums (convergence delta, dangling mass).
    */
  private def decSum(n: Int)(f: Int => Double): JBD = {
    var acc = JBD.ZERO.setScale(12)
    var i = 0
    while (i < n) { acc = acc.add(d12(f(i))); i += 1 }
    acc
  }

  /** Anchor-text aggregation per link target — the classic off-page
    * description signal (incoming anchor texts describe the TARGET
    * page better than its own boilerplate; search and quality
    * pipelines both consume it): per `hrefCol`, the in-link count and
    * the top-`k` distinct anchor texts by frequency (ties
    * lexicographic), joined with `|` so the column stays scalar.
    * `rel=nofollow` links carry no endorsement and are excluded by
    * default (when the frame has a `nofollow` column).
    *
    * Scale shape: one (href, text)-keyed partial-agg exchange, then a
    * window + final agg that both ride one href-keyed partitioning —
    * everything EDGE-shaped.
    */
  def anchorTexts(edges: DataFrame, hrefCol: String = "href",
                  textCol: String = "anchor_text", k: Int = 3,
                  includeNofollow: Boolean = false): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val e =
      if (includeNofollow || !edges.columns.contains("nofollow")) edges
      else edges.filter(!col("nofollow"))
    val counts = e.groupBy(col(hrefCol), col(textCol)).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(hrefCol).orderBy(desc("c"), asc(textCol))
    counts
      .withColumn("__rk", row_number().over(w))
      .groupBy(hrefCol)
      .agg(sum("c").cast("long").as("n_links"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__rk") <= k, struct(col("__rk"), col(textCol).as("t"))))),
            _.getField("t")),
          "|").as("anchors"))
  }
}
