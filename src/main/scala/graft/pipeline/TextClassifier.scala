package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-feature linear quality classifier — the fastText-style
  * learned filter (Joulin et al. 2017, "Bag of Tricks for Efficient
  * Text Classification") that modern curation pipelines (CCNet, DCLM,
  * LLaMA) run between heuristic gates and training: fit a logistic
  * model on weak labels (a trusted in-domain slice vs the raw pool),
  * then score every document with the learned probability.
  * Complements the repo's heuristic quality signals (gopher rules,
  * C4 clean, char entropy) with the *learned* stage those pipelines
  * layer on top.
  *
  * Features: presence of distinct word unigrams + bigrams, hashed
  * into `dim` buckets (the hashing trick — fixed feature budget, no
  * vocab table), optionally L1-normalized per document (fastText's
  * mean-of-embeddings shape — see [[hashedFeatures]] for the
  * normalized-vs-raw trade). The gram hashes come from the codegen'd
  * [[graft.functions.Hashes]] expressions — no per-gram strings
  * materialize.
  *
  * Training is batch gradient descent, distributed Spark-first:
  * the hashed feature stream is built ONCE, repartitioned by doc and
  * persisted; every iteration is then (broadcast-join the weight
  * table) → (per-doc margin agg, no extra exchange — the stream is
  * already doc-partitioned) → (per-feature gradient agg, the one
  * shuffle keyed by feature). The weight vector and gradient are
  * bounded by `dim` (driver-side arrays, `dim ≤ 2^20` enforced), so
  * the only collects are provably bounded — the same contract as the
  * BPE merge table and k-means sample.
  *
  * Determinism (the repo contract): every cross-row float sum runs as
  * 9-dp-rounded decimals — per-doc margins, per-feature gradients,
  * the bias gradient and the loss — so training is bit-identical on
  * any partitioning of the input, and [[score]] rounds to 6 dp.
  * Iterative optimization is not ANSI-SQL-expressible, so the
  * SparkEntry row is rows-only; exact semantics are pinned by
  * ClassifierSpec's plain-JVM sequential cross-check.
  */
object TextClassifier {

  /** Trained model: dense-in-a-map weights over hashed features (only
    * features seen in training are present; absent = 0.0), plus the
    * per-iteration mean log-loss trace for convergence checks.
    * `l1Normalize` records the feature scaling the model was trained
    * under — scoring MUST feed it the same scaling, so it rides the
    * model rather than being a separate scoring knob.
    */
  final case class Model(dim: Int, bias: Double, weights: Map[Int, Double],
                         losses: Seq[Double], l1Normalize: Boolean = true)

  // the fused round9+cast kernel: identical value (DecimalOpsSpec pins
  // bit-identity vs the Catalyst composition), ~none of the dtoa cost
  // that dominated this module's CPU profile (see DecimalKernels doc)
  private def dec9(c: Column): Column = graft.functions.DecimalOps.dec9(c)
  private val MaxDim = 1 << 20
  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The default bound is a BEHAVIOR choice, not just a perf knob:
    * callers whose labeled corpus exceeds it train on the sample. The
    * trainers detect the cap being hit (for free, off the first
    * gradient collect's doc count) and WARN so the subsample is never
    * silent; pass sampleMax <= 0 to train unbounded.
    */
  private def warnIfTruncated(caller: String, sampleMax: Int,
                              nDocs: Long): Unit =
    if (sampleMax > 0 && nDocs >= sampleMax)
      logger.warn(s"$caller: training sample hit sampleMax=$sampleMax docs — " +
        "the model trains on a hash-deterministic subsample (scoring " +
        "stays full-corpus); pass sampleMax <= 0 to train unbounded")

  /** Bound a training set to `sampleMax` docs by the repo's
    * hash-deterministic sample convention (ORDER BY xxhash64(id), id
    * LIMIT n — Pq.train / Ivf.train): returns (sampled labels,
    * docs semi-joined to them). The 100 TB contract for learned gates
    * (fastText / CCNet quality filters): TRAINING reads a bounded
    * sample — the persisted feature frame and the per-epoch passes are
    * sample-sized, not corpus-sized — while SCORING stays full-corpus.
    * sampleMax <= 0 disables the bound (the plain-JVM cross-check
    * trains tiny frames unsampled). When sampleMax >= corpus size the
    * sample IS the corpus and training is bit-identical to unbounded
    * (decimal sums make fold order irrelevant).
    */
  private def boundTraining(docs: DataFrame, labels: DataFrame,
                            sampleMax: Int,
                            idCol: String): (DataFrame, DataFrame) =
    if (sampleMax <= 0) (docs, labels)
    else {
      val lab = labels.orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(sampleMax)
      (docs.join(lab.select(col(idCol)), Seq(idCol), "left_semi"), lab)
    }

  /** Hashed presence features: one row per (doc, feature bucket) with
    * `tf` = cnt/n_features when `l1Normalize` (fastText's
    * mean-of-embeddings shape — margins independent of doc length,
    * the right scaling when downstream thresholds must mean the same
    * thing for tweets and books) or raw cnt when not (classic
    * bag-of-words logistic regression — much better conditioned for
    * few-iteration full-batch descent, margins grow with evidence).
    * cnt > 1 only when two distinct grams collide into a bucket.
    * Distinct unigrams and bigrams of the space-split text, hashed by
    * the codegen'd GramHashes expression and folded into `dim`
    * buckets. Docs with empty text still emit their single
    * empty-gram feature — no document is dropped.
    */
  def hashedFeatures(docs: DataFrame, dim: Int, textCol: String = "text",
                     idCol: String = "doc_id",
                     l1Normalize: Boolean = true): DataFrame = {
    require(dim > 0 && dim <= MaxDim,
      s"dim must be in (0, $MaxDim]: the weight vector and gradient are " +
        s"driver-side arrays bounded by dim (got $dim)")
    val n = docs.select(col(idCol), explode(gramsOf(textCol)).as("__h"))
      .select(col(idCol), pmod(col("__h"), lit(dim.toLong)).cast("int").as("feat"))
      .groupBy(idCol, "feat").agg(count(lit(1)).as("cnt"))
    if (!l1Normalize)
      n.select(col(idCol), col("feat"), col("cnt").cast("double").as("tf"))
    else {
      val tot = n.groupBy(idCol).agg(sum("cnt").as("__n"))
      n.join(tot, idCol :: Nil)
        .select(col(idCol), col("feat"),
          (col("cnt").cast("double") / col("__n")).as("tf"))
    }
  }

  /** Exact value of the SQL `dec9` over one double — the shared
    * per-element rounding of the local iteration kernels
    * (DecimalKernels.round9dec is spec-pinned bit-identical to
    * `round(x, 9).cast(decimal(30,12))`).
    */
  private def d9(x: Double): java.math.BigDecimal =
    graft.functions.DecimalKernels.round9dec(x).toJavaBigDecimal

  /** Collected (label, [(feat, tf)…]) per doc — the local iteration
    * kernels' working set, collected once [[graft.core.LocalGate]]
    * admits the feature rows.
    */
  private def collectLocalDocs(feats: DataFrame, idCol: String)
      : Array[(Double, Array[(Int, Double)])] = {
    val grouped = scala.collection.mutable.HashMap
      .empty[Any, (Double, scala.collection.mutable.ArrayBuffer[(Int, Double)])]
    feats.select(col(idCol), col("feat"), col("tf"),
        col("__y").cast("double"))
      .collect().foreach { r =>
        val e = grouped.getOrElseUpdate(r.get(0),
          (r.getDouble(3), scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]))
        e._2 += ((r.getInt(1), r.getDouble(2)))
      }
    grouped.valuesIterator.map { case (y, fs) => (y, fs.toArray) }.toArray
  }

  /** Fit logistic weights on (doc, label∈{0,1}) weak labels by `iters`
    * rounds of full-batch gradient descent with learning rate `lr`
    * and L2 penalty `l2`. Deterministic on any input partitioning.
    * Contract: `labels` carries ONE row per doc — a duplicated label
    * row would fan out that doc's feature rows and double its weight
    * in the batch gradient.
    *
    * Small-sample fast path: the first iteration always runs
    * distributed — its gradient collect yields the doc count for free
    * — and when [[graft.core.LocalGate]] admits the persisted feature
    * stream's row count, the REMAINING iterations run as a driver
    * kernel over the collected rows. The kernel is BIT-IDENTICAL by
    * construction: every cross-row sum in the distributed loop is an
    * exact 9-dp decimal (order-free), every per-row double op is
    * replayed in the same IEEE order, and the per-element rounding is
    * the spec-pinned round9dec. ClassifierSpec pins local ==
    * forced-distributed (`LocalGate.distributed`) exactly. Each
    * distributed iteration of a tiny sample otherwise costs ~6
    * scheduled stages.
    */
  def train(docs: DataFrame, labels: DataFrame, dim: Int, iters: Int = 8,
            lr: Double = 2.0, l2: Double = 0.0, textCol: String = "text",
            idCol: String = "doc_id", l1Normalize: Boolean = true,
            stopTol: Double = 0.0, biasInit: Double = 0.0,
            sampleMax: Int = 100000): Model = {
    require(iters > 0, s"iters must be > 0: $iters")
    require(stopTol >= 0.0, s"stopTol must be >= 0: $stopTol")
    val spark = docs.sparkSession
    import spark.implicits._
    val (docsB, labelsB) = boundTraining(docs, labels, sampleMax, idCol)
    // the expensive subtree (tokenize + hash + per-doc agg) evaluates
    // once: doc-partitioned and persisted, every iteration's margin agg
    // and residual join sit on this partitioning with no new exchange
    val feats = hashedFeatures(docsB, dim, textCol, idCol, l1Normalize)
      .join(labelsB.select(col(idCol), col("label").cast("double").as("__y")),
        idCol :: Nil)
      .repartition(col(idCol))
      .persist()
    try {
      // nDocs rides the first iteration's gradient collect (the bias
      // row carries a doc count) instead of a dedicated
      // distinct().count() pass over the feature stream — that pass
      // cost a full extra scan + exchange per train() call
      var nDocs = 0.0
      val w = new Array[Double](dim)
      // biasInit at the class-prior log-odds (ln(n_pos/n_neg)) skips the
      // 1-2 full-batch epochs plain descent spends collapsing the bias
      // toward the majority class before weights start separating —
      // every epoch then buys separation, not calibration-to-prior.
      // Default 0.0 = the classic zero init the JVM cross-check pins.
      var bias = biasInit
      val losses = Seq.newBuilder[Double]
      // early-stop on loss-delta plateau: `iters` stays the hard budget,
      // stopTol > 0 ends training once the RELATIVE per-iteration loss
      // improvement falls below it (strongly-separated batches converge
      // in 2-3 passes; the remaining epochs buy nothing but wall-clock).
      // stopTol = 0 (default) disables it — bit-identical to the
      // fixed-iteration schedule the plain-JVM cross-check pins.
      var prevLoss = Double.NaN
      var plateaued = false
      var it = 0
      var localDocs: Array[(Double, Array[(Int, Double)])] = null
      while (it < iters && !plateaued) {
        it += 1
        if (localDocs != null) {
          // LOCAL ITERATION — the distributed loop's math replayed on
          // the collected rows: margins/gradients/losses as exact
          // decimal sums of d9'd per-row doubles, identical update
          // order-insensitivity (independent weight slots)
          var lossSum = java.math.BigDecimal.ZERO
          var biasSum = java.math.BigDecimal.ZERO
          val grad = new java.util.HashMap[Int, java.math.BigDecimal]()
          localDocs.foreach { case (y, fs) =>
            var m = java.math.BigDecimal.ZERO
            var i = 0
            while (i < fs.length) {
              val wv = w(fs(i)._1)
              if (wv != 0.0) m = m.add(d9(fs(i)._2 * wv))
              i += 1
            }
            val p = 1.0 / (1.0 + math.exp(-(m.doubleValue + bias)))
            val r = p - y
            val l = -(y * math.log(math.max(p, 1e-15)) +
              (1.0 - y) * math.log(math.max(1.0 - p, 1e-15)))
            lossSum = lossSum.add(d9(l))
            biasSum = biasSum.add(d9(r))
            i = 0
            while (i < fs.length) {
              val (f, tf) = fs(i)
              val prev = grad.get(f)
              val inc = d9(r * tf)
              grad.put(f, if (prev == null) inc else prev.add(inc))
              i += 1
            }
          }
          grad.forEach { (f, g) =>
            w(f) -= lr * (g.doubleValue / nDocs + l2 * w(f))
          }
          bias -= lr * biasSum.doubleValue / nDocs
          val loss = lossSum.doubleValue / nDocs
          losses += loss
          if (stopTol > 0.0 && !prevLoss.isNaN &&
            math.abs(prevLoss - loss) <= stopTol * math.max(prevLoss, 1e-12))
            plateaued = true
          prevLoss = loss
        } else {
        val nz = w.iterator.zipWithIndex.collect {
          case (v, i) if v != 0.0 => (i, v)
        }.toSeq
        val wdf =
          if (nz.isEmpty) Seq((0, 0.0)).toDF("feat", "__w").limit(0)
          else nz.toDF("feat", "__w")
        // margin_d = Σ_f tf·w_f (+ bias): decimal-summed so the fold
        // order across a doc's feature rows cannot change the result
        val resid = feats.join(broadcast(wdf), Seq("feat"), "left")
          .groupBy(idCol)
          .agg(sum(dec9(col("tf") * coalesce(col("__w"), lit(0.0))))
            .as("__m"), first(col("__y")).as("__y"))
          .select(col(idCol), col("__y"),
            (lit(1.0) / (lit(1.0) + exp(-(col("__m").cast("double") + lit(bias)))))
              .as("__p"))
          .select(col(idCol), (col("__p") - col("__y")).as("__r"),
            // log-loss. The sigmoid's mathematical range is (0,1) but in
            // double precision a saturated margin rounds __p to exactly
            // 0.0/1.0, so clamp into [eps, 1-eps] before the log terms —
            // gradients use the unclamped __p (p - y is finite anyway)
            (-(col("__y") * log(greatest(col("__p"), lit(1e-15))) +
              (lit(1.0) - col("__y")) *
                log(greatest(lit(1.0) - col("__p"), lit(1e-15))))).as("__l"))
        // ONE action per iteration: the per-feature gradient (the one
        // shuffle, keyed by feat, bounded by dim — collected like the
        // BPE table) unioned with a feat = -1 row carrying the bias
        // gradient and the loss sum, so stats don't cost a second job
        val grad = feats.join(resid.select(col(idCol), col("__r"), col("__l")),
            idCol :: Nil)
          .groupBy("feat")
          .agg(sum(dec9(col("__r") * col("tf"))).cast("double").as("g"),
            lit(Double.NaN).as("loss"), lit(0L).as("nd"))
          .unionByName(resid.agg(
            lit(-1).as("feat"),
            sum(dec9(col("__r"))).cast("double").as("g"),
            sum(dec9(col("__l"))).cast("double").as("loss"),
            count(lit(1)).as("nd")))
          .as[(Int, Double, Double, Long)].collect()
        val (_, gb, lossSum, nd) = grad.find(_._1 == -1).get
        nDocs = nd.toDouble
        require(nDocs > 0, "no labeled documents to train on")
        if (prevLoss.isNaN) warnIfTruncated("train", sampleMax, nd)
        for ((f, g, _, _) <- grad if f >= 0) w(f) -= lr * (g / nDocs + l2 * w(f))
        bias -= lr * gb / nDocs
        val loss = lossSum / nDocs
        losses += loss
        if (stopTol > 0.0 && !prevLoss.isNaN &&
          math.abs(prevLoss - loss) <= stopTol * math.max(prevLoss, 1e-12))
          plateaued = true
        prevLoss = loss
        // switch the remaining iterations to the driver kernel when
        // the persisted stream is provably driver-small (the count is
        // a cached-metadata job after this iteration materialized it)
        if (it == 1 && it < iters && !plateaued &&
            graft.core.LocalGate.admitsRows(feats.count()))
          localDocs = collectLocalDocs(feats, idCol)
        }
      }
      Model(dim, bias,
        w.iterator.zipWithIndex.collect { case (v, i) if v != 0.0 => (i, v) }.toMap,
        losses.result(), l1Normalize)
    } finally { feats.unpersist(blocking = false); () }
  }

  /** Multi-class softmax model — the fastText langid shape (Joulin
    * et al. 2017 §2 with a softmax output over `nClasses`): sparse
    * weights keyed (feature, class), per-class biases, per-iteration
    * mean cross-entropy trace. Scoring MUST reuse the recorded
    * feature scaling (the [[Model]] rationale).
    */
  final case class SoftmaxModel(dim: Int, nClasses: Int,
                                biases: Seq[Double],
                                weights: Map[(Int, Int), Double],
                                losses: Seq[Double],
                                l1Normalize: Boolean = true)

  /** Per-doc class-margin array under sparse (feat, cls) weights:
    * the shared kernel of softmax train and score. Input must carry
    * (idCol, feat, tf) (+ passthrough columns aggregated by first).
    * Margins sum as 9-dp decimals per (doc, class); both groupBys
    * ride the caller's doc partitioning (doc ⊆ (doc, cls)), so the
    * weight join adds NO exchange.
    */
  private def classMargins(feats: DataFrame, wdf: DataFrame,
                           biases: Seq[Double], idCol: String,
                           carry: Seq[String]): DataFrame = {
    val c = biases.size
    val carried = carry.map(n => first(col(n)).as(n))
    val joined = feats.join(broadcast(wdf), Seq("feat"), "left")
      .groupBy(col(idCol), col("cls"))
      .agg((sum(dec9(col("tf") * coalesce(col("__w"), lit(0.0))))
        .cast("double")).as("__m"), carried: _*)
    val bArr = array(biases.map(lit): _*)
    joined.groupBy(col(idCol))
      .agg(map_from_entries(
        expr("filter(collect_list(struct(cls, __m)), e -> e.cls is not null)"))
        .as("__mm"), carried: _*)
      // try_element_at: absent map keys (classes with all-zero weights
      // for this doc — the common case) must read as NULL → 0.0; plain
      // element_at throws MAP_KEY_DOES_NOT_EXIST under ANSI mode
      .withColumn("__z", zip_with(
        expr(s"transform(sequence(0, ${c - 1}), cc -> " +
          "coalesce(try_element_at(__mm, cc), 0.0d))"),
        bArr, (m, b) => m + b))
      .withColumn("__mx", array_max(col("__z")))
      .withColumn("__ex", expr("transform(__z, x -> exp(x - __mx))"))
      .withColumn("__probs", expr(
        "transform(__ex, e -> e / aggregate(__ex, 0.0d, (a, x) -> a + x))"))
      .drop("__mm", "__z", "__mx", "__ex")
  }

  /** Fit a `nClasses`-way softmax on (doc, label ∈ [0, nClasses))
    * weak labels — the learned language-ID gate (fastText langid =
    * exactly this over hashed grams): full-batch descent, per
    * iteration ONE broadcast weight join → doc-side margin/softmax
    * (no exchange past the persisted doc partitioning) → the one
    * (feat, cls)-keyed gradient shuffle, bounded by dim·nClasses.
    * Determinism contract as [[train]]: decimal sums everywhere a
    * float crosses rows, bit-identical on any partitioning
    * (ClassifierSpec's sequential softmax cross-check pins it).
    */
  def trainSoftmax(docs: DataFrame, labels: DataFrame, dim: Int,
                   nClasses: Int, iters: Int = 8, lr: Double = 2.0,
                   l2: Double = 0.0, textCol: String = "text",
                   idCol: String = "doc_id",
                   l1Normalize: Boolean = true,
                   sampleMax: Int = 100000,
                   stopTol: Double = 0.0): SoftmaxModel = {
    require(iters > 0, s"iters must be > 0: $iters")
    require(nClasses >= 2, s"nClasses must be >= 2: $nClasses")
    require(stopTol >= 0.0, s"stopTol must be >= 0: $stopTol")
    val spark = docs.sparkSession
    import spark.implicits._
    val (docsB, labelsB) = boundTraining(docs, labels, sampleMax, idCol)
    val feats = hashedFeatures(docsB, dim, textCol, idCol, l1Normalize)
      .join(labelsB.select(col(idCol), col("label").cast("int").as("__y")),
        idCol :: Nil)
      .repartition(col(idCol))
      .persist()
    try {
      val w = scala.collection.mutable.Map.empty[(Int, Int), Double]
        .withDefaultValue(0.0)
      val bias = new Array[Double](nClasses)
      val losses = Seq.newBuilder[Double]
      var nDocs = 0.0
      // the [[train]] plateau rule verbatim: iters stays the hard
      // budget, stopTol > 0 ends training when the RELATIVE loss
      // improvement falls below it; 0.0 (default) = the fixed schedule
      // the plain-JVM cross-check pins
      var prevLoss = Double.NaN
      var plateaued = false
      var it = 0
      var localDocs: Array[(Double, Array[(Int, Double)])] = null
      while (it < iters && !plateaued) {
        it += 1
        if (localDocs != null) {
          // LOCAL ITERATION — [[train]]'s driver-kernel rationale, the
          // softmax shape: per-(doc, class) margins as exact decimal
          // sums of d9'd products (a class with no nonzero-weight
          // match reads 0.0, exactly the try_element_at fallback),
          // softmax in class order (the aggregate() left fold), the
          // full feat × class gradient fan-out of the resid join
          var lossSum = java.math.BigDecimal.ZERO
          val biasSum = Array.fill(nClasses)(java.math.BigDecimal.ZERO)
          val grad = new java.util.HashMap[Long, java.math.BigDecimal]()
          val m = new Array[java.math.BigDecimal](nClasses)
          val z = new Array[Double](nClasses)
          val ex = new Array[Double](nClasses)
          localDocs.foreach { case (yd, fs) =>
            val y = yd.toInt
            java.util.Arrays.fill(m.asInstanceOf[Array[AnyRef]], java.math.BigDecimal.ZERO)
            var i = 0
            while (i < fs.length) {
              val (f, tf) = fs(i)
              var c = 0
              while (c < nClasses) {
                val wv = w((f, c))
                if (wv != 0.0) m(c) = m(c).add(d9(tf * wv))
                c += 1
              }
              i += 1
            }
            var mx = Double.NegativeInfinity
            var c = 0
            while (c < nClasses) {
              z(c) = m(c).doubleValue + bias(c)
              if (z(c) > mx) mx = z(c)
              c += 1
            }
            var denom = 0.0
            c = 0
            while (c < nClasses) {
              ex(c) = math.exp(z(c) - mx)
              denom = denom + ex(c)
              c += 1
            }
            val l = -math.log(math.max(ex(y) / denom, 1e-15))
            lossSum = lossSum.add(d9(l))
            c = 0
            while (c < nClasses) {
              val r = ex(c) / denom - (if (c == y) 1.0 else 0.0)
              biasSum(c) = biasSum(c).add(d9(r))
              var j = 0
              while (j < fs.length) {
                val (f, tf) = fs(j)
                val key = f.toLong * nClasses + c
                val prev = grad.get(key)
                val inc = d9(r * tf)
                grad.put(key, if (prev == null) inc else prev.add(inc))
                j += 1
              }
              c += 1
            }
          }
          grad.forEach { (key, g) =>
            val f = (key / nClasses).toInt
            val c = (key % nClasses).toInt
            w((f, c)) = w((f, c)) - lr * (g.doubleValue / nDocs + l2 * w((f, c)))
          }
          var c = 0
          while (c < nClasses) {
            bias(c) -= lr * biasSum(c).doubleValue / nDocs
            c += 1
          }
          val loss = lossSum.doubleValue / nDocs
          losses += loss
          if (stopTol > 0.0 && !prevLoss.isNaN &&
            math.abs(prevLoss - loss) <= stopTol * math.max(prevLoss, 1e-12))
            plateaued = true
          prevLoss = loss
        } else {
        val nz = w.iterator.filter(_._2 != 0.0)
          .map { case ((f, c), v) => (f, c, v) }.toSeq
        val wdf =
          if (nz.isEmpty) Seq((0, 0, 0.0)).toDF("feat", "cls", "__w").limit(0)
          else nz.toDF("feat", "cls", "__w")
        val probs = classMargins(feats, wdf, bias.toSeq, idCol, Seq("__y"))
          .withColumn("__l",
            -log(greatest(element_at(col("__probs"), col("__y") + 1),
              lit(1e-15))))
          .persist()
        val resid = probs
          .select(col(idCol), col("__y"),
            posexplode(col("__probs")).as(Seq("cls", "__p")))
          .select(col(idCol), col("cls"),
            (col("__p") - (col("cls") === col("__y")).cast("double"))
              .as("__r"))
        // one collect: (feat, cls) gradient rows + feat = -1 bias rows
        // + a feat = -2 row carrying the loss sum and the doc count
        val grad = feats.join(resid, idCol :: Nil)
          .groupBy("feat", "cls")
          .agg(sum(dec9(col("__r") * col("tf"))).cast("double").as("g"),
            lit(Double.NaN).as("loss"), lit(0L).as("nd"))
          .unionByName(resid.groupBy("cls")
            .agg(sum(dec9(col("__r"))).cast("double").as("g"),
              lit(Double.NaN).as("loss"), lit(0L).as("nd"))
            .select(lit(-1).as("feat"), col("cls"), col("g"),
              col("loss"), col("nd")))
          .unionByName(probs.agg(
            lit(-2).as("feat"), lit(-1).as("cls"), lit(0.0).as("g"),
            sum(dec9(col("__l"))).cast("double").as("loss"),
            count(lit(1)).as("nd")))
          .as[(Int, Int, Double, Double, Long)].collect()
        probs.unpersist(blocking = false)
        val (_, _, _, lossSum, nd) = grad.find(_._1 == -2).get
        nDocs = nd.toDouble
        require(nDocs > 0, "no labeled documents to train on")
        if (prevLoss.isNaN) warnIfTruncated("trainSoftmax", sampleMax, nd)
        for ((f, c, g, _, _) <- grad) {
          if (f >= 0) w((f, c)) = w((f, c)) - lr * (g / nDocs + l2 * w((f, c)))
          else if (f == -1) bias(c) -= lr * g / nDocs
        }
        val loss = lossSum / nDocs
        losses += loss
        if (stopTol > 0.0 && !prevLoss.isNaN &&
          math.abs(prevLoss - loss) <= stopTol * math.max(prevLoss, 1e-12))
          plateaued = true
        prevLoss = loss
        // the [[train]] driver-kernel switch, softmax flavor
        if (it == 1 && it < iters && !plateaued &&
            graft.core.LocalGate.admitsRows(feats.count()))
          localDocs = collectLocalDocs(feats, idCol)
        }
      }
      SoftmaxModel(dim, nClasses, bias.toSeq,
        w.iterator.filter(_._2 != 0.0).toMap, losses.result(), l1Normalize)
    } finally { feats.unpersist(blocking = false); () }
  }

  /** Dense-array weight cells a map-side scorer will ship per task:
    * 8 bytes each, so the 2^22 default is 32 MB — comfortably inside
    * task-closure budgets, far past every entry's dim·nClasses. Models
    * over the cap score on the distributed join path.
    */
  private val MapSideMaxCells = 1L << 22

  /** The gram subtree both the feature builder and the map-side
    * scorers hash: distinct word unigrams + bigrams (one source of
    * truth with [[hashedFeatures]]).
    */
  private def gramsOf(textCol: String): Column = concat(
    graft.functions.Hashes.gram_hashes(col(textCol), 1),
    graft.functions.Hashes.gram_hashes(col(textCol), 2))

  private def denseWeights(dim: Int, nClasses: Int,
                           cells: Iterator[((Int, Int), Double)]): Array[Array[Double]] = {
    val w = Array.fill(nClasses)(new Array[Double](dim))
    cells.foreach { case ((f, c), v) => w(c)(f) = v }
    w
  }

  /** Score documents under a softmax model: per doc the argmax class
    * (ties to the lowest class id) and its probability, 6 dp.
    *
    * Scoring never needs the feature rows again, so the default path
    * folds the whole margin computation into ONE map-side kernel over
    * the gram-hash array ([[graft.functions.ClassifierKernels]] — no
    * explode, no exchange at all); the post-margin softmax runs the
    * exact classMargins expression forms. Bit-identical to the
    * distributed join path by the kernel's exactness argument
    * (ClassifierSpec pins it); models past [[MapSideMaxCells]] dense
    * cells fall back to the distributed scorer.
    */
  def scoreSoftmax(docs: DataFrame, model: SoftmaxModel,
                   textCol: String = "text",
                   idCol: String = "doc_id",
                   keep: Seq[String] = Nil): DataFrame = {
    if (model.dim.toLong * model.nClasses <= MapSideMaxCells) {
      val w = denseWeights(model.dim, model.nClasses, model.weights.iterator)
      val bArr = array(model.biases.map(lit): _*)
      docs.select(col(idCol) +: keep.map(col) :+
          graft.functions.ClassifierOps.classifierMargins(
            gramsOf(textCol), model.dim, w, model.l1Normalize).as("__mm"): _*)
        // a NULL text has a NULL gram array: the distributed explode
        // emits no feature row for it, so the doc is absent there too
        .where(col("__mm").isNotNull)
        // the classMargins tail, verbatim expression forms (the kernel
        // margins equal the try_element_at/0.0-coalesced map reads)
        .withColumn("__z", zip_with(col("__mm"), bArr, (m, b) => m + b))
        .withColumn("__mx", array_max(col("__z")))
        .withColumn("__ex", expr("transform(__z, x -> exp(x - __mx))"))
        .withColumn("__probs", expr(
          "transform(__ex, e -> e / aggregate(__ex, 0.0d, (a, x) -> a + x))"))
        .withColumn("__best",
          (expr("array_position(__probs, array_max(__probs))") - 1).cast("int"))
        .select(col(idCol) +: keep.map(col) :+ col("__best").as("cls") :+
          round(element_at(col("__probs"), col("__best") + 1), 6).as("prob"): _*)
    } else scoreSoftmaxDistributed(docs, model, textCol, idCol, keep)
  }

  /** The distributed softmax scorer (broadcast weight join over the
    * hashed feature stream) — the general path for models past the
    * map-side cell cap, and the spec's bit-identity reference.
    */
  private[graft] def scoreSoftmaxDistributed(docs: DataFrame, model: SoftmaxModel,
                                             textCol: String = "text",
                                             idCol: String = "doc_id",
                                             keep: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nz = model.weights.iterator.map { case ((f, c), v) => (f, c, v) }.toSeq
    val wdf =
      if (nz.isEmpty) Seq((0, 0, 0.0)).toDF("feat", "cls", "__w").limit(0)
      else nz.toDF("feat", "cls", "__w")
    val feats = hashedFeatures(docs, model.dim, textCol, idCol,
      model.l1Normalize).repartition(col(idCol))
    val scored = classMargins(feats, wdf, model.biases, idCol, Seq.empty)
      .withColumn("__best",
        (expr("array_position(__probs, array_max(__probs))") - 1).cast("int"))
      .select(col(idCol), col("__best").as("cls"),
        round(element_at(col("__probs"), col("__best") + 1), 6).as("prob"))
    // passthrough on the fallback path: join-back against the unique
    // idCol (the scorer contract — docs appear exactly once), the rows
    // the map-side projection carries directly
    if (keep.isEmpty) scored
    else scored.join(docs.select(col(idCol) +: keep.map(col): _*), idCol)
      .select(col(idCol) +: keep.map(col) :+ col("cls") :+ col("prob"): _*)
  }

  /** Score documents under a trained model: P(label=1) per doc,
    * rounded to 6 dp. Default: the map-side margin kernel (zero
    * exchanges — see [[scoreSoftmax]]); docs appear exactly once,
    * including empty-text docs.
    */
  def score(docs: DataFrame, model: Model, textCol: String = "text",
            idCol: String = "doc_id", keep: Seq[String] = Nil): DataFrame = {
    if (model.dim.toLong <= MapSideMaxCells) {
      val w = denseWeights(model.dim, 1,
        model.weights.iterator.map { case (f, v) => ((f, 0), v) })
      docs.select(col(idCol) +: keep.map(col) :+
          graft.functions.ClassifierOps.classifierMargins(
            gramsOf(textCol), model.dim, w, model.l1Normalize).as("__mm"): _*)
        .where(col("__mm").isNotNull)
        .select(col(idCol) +: keep.map(col) :+
          round(lit(1.0) / (lit(1.0) +
            exp(-(element_at(col("__mm"), 1) + lit(model.bias)))), 6).as("prob"): _*)
    } else scoreDistributed(docs, model, textCol, idCol, keep)
  }

  /** The distributed sigmoid scorer — one feature-stream exchange;
    * the general path past the map-side cap and the spec reference.
    */
  private[graft] def scoreDistributed(docs: DataFrame, model: Model,
                                      textCol: String = "text",
                                      idCol: String = "doc_id",
                                      keep: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf =
      if (model.weights.isEmpty) Seq((0, 0.0)).toDF("feat", "__w").limit(0)
      else model.weights.toSeq.toDF("feat", "__w")
    val scored = hashedFeatures(docs, model.dim, textCol, idCol, model.l1Normalize)
      .join(broadcast(wdf), Seq("feat"), "left")
      .groupBy(idCol)
      .agg(sum(dec9(col("tf") * coalesce(col("__w"), lit(0.0)))).as("__m"))
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) +
          exp(-(col("__m").cast("double") + lit(model.bias)))), 6).as("prob"))
    if (keep.isEmpty) scored
    else scored.join(docs.select(col(idCol) +: keep.map(col): _*), idCol)
      .select(col(idCol) +: keep.map(col) :+ col("prob"): _*)
  }
}
