package graft

import org.apache.spark.sql.functions._

import graft.pipeline.TextClassifier

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // two disjoint vocabularies: the learned filter must separate them
  private lazy val separable = {
    val good = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta word$i", 1))
    val bad = (40 until 80).map(i =>
      (i.toLong, s"spam junk noise filler garbage blob word$i", 0))
    (good ++ bad).toDF("doc_id", "text", "label")
  }

  test("train separates disjoint vocabularies; loss decreases") {
    // L1-normalized features keep per-step gradients small (||x||₂² ≈
    // 1/n_features), so full-batch descent tolerates — and needs — a
    // large rate to converge in few passes
    val m = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 20, lr = 20.0)
    assert(m.losses.size == 20)
    assert(m.losses.forall(l => l > 0 && java.lang.Double.isFinite(l)))
    assert(m.losses.last < m.losses.head / 4)
    val scored = TextClassifier.score(separable, m)
      .join(separable.select("doc_id", "label"), "doc_id")
      .select(col("doc_id"), (col("prob") >= 0.5).cast("int").as("pred"), col("label"))
      .collect()
    assert(scored.length == 80)
    assert(scored.forall(r => r.getInt(1) == r.getInt(2)), "perfect separation expected")
  }

  test("sampleMax bounds training to the hash-deterministic sample; covering sample is bit-identical") {
    // sampleMax >= corpus: the sample IS the corpus — every model
    // field bit-identical to unbounded (decimal sums erase order)
    val full = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 4, lr = 2.0, sampleMax = 0)
    val covered = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 4, lr = 2.0, sampleMax = 10000)
    assert(full.bias == covered.bias && full.weights == covered.weights &&
      full.losses == covered.losses)
    // sampleMax < corpus: training must equal training on EXACTLY the
    // sample selected by (xxhash64(id), id) order — the Pq.train
    // convention — regardless of the input's partitioning
    val n = 24
    val sampleIds = separable
      .select(col("doc_id")).orderBy(xxhash64(col("doc_id")), col("doc_id"))
      .limit(n).as[Long].collect().toSet
    val manual = TextClassifier.train(
      separable.filter(col("doc_id").isin(sampleIds.toSeq: _*)),
      separable.select("doc_id", "label")
        .filter(col("doc_id").isin(sampleIds.toSeq: _*)),
      dim = 1 << 12, iters = 4, lr = 2.0, sampleMax = 0)
    val sampled = TextClassifier.train(
      separable.repartition(7), separable.select("doc_id", "label").repartition(5),
      dim = 1 << 12, iters = 4, lr = 2.0, sampleMax = n)
    assert(sampled.bias == manual.bias && sampled.weights == manual.weights &&
      sampled.losses == manual.losses)
    // softmax path: same contract
    val labels3 = separable.select(col("doc_id"),
      (col("doc_id") % 3).cast("int").as("label"))
    val sm = TextClassifier.trainSoftmax(
      separable.repartition(3), labels3, dim = 1 << 12, nClasses = 3,
      iters = 3, lr = 1.0, sampleMax = n)
    val smManual = TextClassifier.trainSoftmax(
      separable.filter(col("doc_id").isin(sampleIds.toSeq: _*)),
      labels3.filter(col("doc_id").isin(sampleIds.toSeq: _*)),
      dim = 1 << 12, nClasses = 3, iters = 3, lr = 1.0, sampleMax = 0)
    assert(sm.biases == smManual.biases && sm.weights == smManual.weights &&
      sm.losses == smManual.losses)
  }

  test("training is bit-identical on any input partitioning") {
    def fit(parts: Int) = TextClassifier.train(
      separable.repartition(parts), separable.select("doc_id", "label").repartition(parts),
      dim = 1 << 12, iters = 4, lr = 2.0)
    val a = fit(7)
    val b = fit(2)
    assert(a.bias == b.bias)
    assert(a.losses == b.losses)
    assert(a.weights == b.weights)
  }

  test("distributed training matches a sequential plain-JVM reference") {
    val docs = Seq(
      (1L, "up up high rise", 1), (2L, "high rise tall up", 1),
      (3L, "down low sink fall", 0), (4L, "low fall down deep", 0),
      (5L, "up down high low", 1),
    ).toDF("doc_id", "text", "label")
    val dim = 1 << 12
    val iters = 5
    val lr = 1.5

    val got = TextClassifier.train(docs, docs.select("doc_id", "label"),
      dim = dim, iters = iters, lr = lr)

    // independent sequential gradient descent over the same sparse
    // features, mirroring the 9-dp-decimal-sum contract exactly
    val feats: Map[Long, Seq[(Int, Double)]] =
      TextClassifier.hashedFeatures(docs, dim)
        .as[(Long, Int, Double)].collect()
        .groupBy(_._1).map { case (d, fs) => d -> fs.map(f => (f._2, f._3)).toSeq }
    val labels: Map[Long, Double] = Map(1L -> 1, 2L -> 1, 3L -> 0, 4L -> 0, 5L -> 1)
    def r9(x: Double) =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val n = feats.size.toDouble
    val w = collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    var bias = 0.0
    val losses = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val resid = feats.map { case (d, fs) =>
        val margin = fs.map { case (f, tf) => r9(tf * w(f)) }.sum.toDouble + bias
        val p = 1.0 / (1.0 + math.exp(-margin))
        d -> (p - labels(d), -(labels(d) * math.log(p) + (1 - labels(d)) * math.log(1 - p)))
      }
      losses += resid.values.map(v => r9(v._2)).sum.toDouble / n
      val grad = collection.mutable.Map.empty[Int, BigDecimal].withDefaultValue(BigDecimal(0))
      for ((d, fs) <- feats; (f, tf) <- fs) grad(f) += r9(resid(d)._1 * tf)
      for ((f, g) <- grad) w(f) -= lr * g.toDouble / n
      bias -= lr * resid.values.map(v => r9(v._1)).sum.toDouble / n
    }

    assert(math.abs(got.bias - bias) < 1e-12)
    got.losses.zip(losses.result()).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    val seqW = w.filter(_._2 != 0.0).toMap
    assert(got.weights.keySet == seqW.keySet)
    got.weights.foreach { case (f, v) => assert(math.abs(v - seqW(f)) < 1e-12) }
  }

  test("stopTol ends training on a loss plateau; biasInit offsets the schedule") {
    // a hard budget of 20 epochs, but the loss trace must stop early
    // once the relative per-epoch improvement falls under 5%; the
    // truncated trace is a PREFIX of the fixed-schedule trace (early
    // stop changes when training ends, never what each epoch computes)
    val full = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 20, lr = 20.0)
    val stopped = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 20, lr = 20.0, stopTol = 0.05)
    assert(stopped.losses.size < 20, "plateau must end training early")
    assert(stopped.losses == full.losses.take(stopped.losses.size))
    val i = stopped.losses.size - 1
    assert(math.abs(full.losses(i - 1) - full.losses(i)) <=
      0.05 * math.max(full.losses(i - 1), 1e-12))

    // biasInit = prior log-odds: a 1-epoch model's bias moves FROM the
    // init (sigmoid(biasInit) calibration pre-update), not from zero
    val prior = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 1, lr = 0.0, biasInit = 0.7)
    assert(prior.bias == 0.7, "lr = 0 must leave the initialized bias untouched")
    val zero = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 1, lr = 1.0)
    val off = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 1, lr = 1.0, biasInit = 0.7)
    assert(zero.bias != off.bias, "init must shift the first update's margins")
  }

  // three planted languages with disjoint marker vocabularies — the
  // learned langid regime (fastText langid = softmax over hashed grams)
  private lazy val multilang = {
    val en = (0 until 30).map(i => (i.toLong, s"the and of house tree word$i", 0))
    val de = (30 until 60).map(i => (i.toLong, s"der und das haus baum wort$i", 1))
    val fr = (60 until 90).map(i => (i.toLong, s"le et la maison arbre mot$i", 2))
    (en ++ de ++ fr).toDF("doc_id", "text", "label")
  }

  test("trainSoftmax separates planted languages; loss decreases; argmax calibrated") {
    val m = TextClassifier.trainSoftmax(multilang,
      multilang.select("doc_id", "label"), dim = 1 << 12, nClasses = 3,
      iters = 20, lr = 20.0)
    assert(m.losses.size == 20)
    assert(m.losses.forall(l => l > 0 && java.lang.Double.isFinite(l)))
    assert(m.losses.last < m.losses.head / 4)
    val scored = TextClassifier.scoreSoftmax(multilang, m)
      .join(multilang.select("doc_id", "label"), "doc_id")
      .select(col("doc_id"), col("cls"), col("prob"), col("label"))
      .collect()
    assert(scored.length == 90)
    assert(scored.forall(r => r.getInt(1) == r.getInt(3)),
      "perfect language separation expected")
    // softmax probabilities: argmax prob must beat uniform 1/3
    assert(scored.forall(_.getDouble(2) > 1.0 / 3))
  }

  test("softmax training is bit-identical on any input partitioning") {
    def fit(parts: Int) = TextClassifier.trainSoftmax(
      multilang.repartition(parts),
      multilang.select("doc_id", "label").repartition(parts),
      dim = 1 << 12, nClasses = 3, iters = 4, lr = 2.0)
    val a = fit(7)
    val b = fit(2)
    assert(a.biases == b.biases)
    assert(a.losses == b.losses)
    assert(a.weights == b.weights)
  }

  test("distributed softmax training matches a sequential plain-JVM reference") {
    val docs = Seq(
      (1L, "up high rise", 0), (2L, "high rise tall", 0),
      (3L, "down low sink", 1), (4L, "low fall deep", 1),
      (5L, "mid flat even", 2), (6L, "flat even mid up", 2),
    ).toDF("doc_id", "text", "label")
    val dim = 1 << 12
    val iters = 5
    val lr = 1.5
    val nC = 3

    val got = TextClassifier.trainSoftmax(docs, docs.select("doc_id", "label"),
      dim = dim, nClasses = nC, iters = iters, lr = lr)

    // independent sequential softmax descent over the same sparse
    // features, mirroring the 9-dp-decimal-sum contract exactly
    val feats: Map[Long, Seq[(Int, Double)]] =
      TextClassifier.hashedFeatures(docs, dim)
        .as[(Long, Int, Double)].collect()
        .groupBy(_._1).map { case (d, fs) => d -> fs.map(f => (f._2, f._3)).toSeq }
    val labels: Map[Long, Int] =
      Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 2, 6L -> 2)
    def r9(x: Double) =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val n = feats.size.toDouble
    val w = collection.mutable.Map.empty[(Int, Int), Double].withDefaultValue(0.0)
    val bias = new Array[Double](nC)
    val losses = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val perDoc = feats.map { case (d, fs) =>
        val z = Array.tabulate(nC) { c =>
          fs.map { case (f, tf) => r9(tf * w((f, c))) }.sum.toDouble + bias(c)
        }
        val mx = z.max
        val ex = z.map(x => math.exp(x - mx))
        val sum = ex.foldLeft(0.0)(_ + _)
        val p = ex.map(_ / sum)
        val y = labels(d)
        (d, p, y, -math.log(math.max(p(y), 1e-15)))
      }
      losses += perDoc.map(v => r9(v._4)).sum.toDouble / n
      val grad = collection.mutable.Map.empty[(Int, Int), BigDecimal]
        .withDefaultValue(BigDecimal(0))
      val gb = Array.fill(nC)(BigDecimal(0))
      for ((d, p, y, _) <- perDoc; c <- 0 until nC) {
        val r = p(c) - (if (c == y) 1.0 else 0.0)
        gb(c) += r9(r)
        for ((f, tf) <- feats(d)) grad((f, c)) += r9(r * tf)
      }
      // ulp-exact mirror of the engine's update: lr * (g/n + l2*w),
      // NOT (lr*g)/n — the association differs by an ulp, which a
      // HALF_UP 9-dp boundary then amplifies to 1e-9
      for (((f, c), g) <- grad) w((f, c)) -= lr * (g.toDouble / n + 0.0 * w((f, c)))
      for (c <- 0 until nC) bias(c) -= lr * gb(c).toDouble / n
    }

    got.biases.zip(bias).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    got.losses.zip(losses.result()).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12) }
    val seqW = w.filter(_._2 != 0.0).toMap
    assert(got.weights.keySet == seqW.keySet)
    got.weights.foreach { case (k, v) => assert(math.abs(v - seqW(k)) < 1e-12) }
  }

  test("softmax stopTol: plateau stop == the truncated fixed schedule, bit-for-bit") {
    val labels3 = separable.select(col("doc_id"),
      (col("doc_id") % 3).cast("int").as("label"))
    // stopTol = 10: |Δloss| <= 10·prev holds at epoch 2 for any
    // trajectory, so training must stop there and equal the
    // fixed-2-epoch model exactly (the semantics pin — convergence
    // behavior is corpus-dependent and not what this test is about)
    val early = TextClassifier.trainSoftmax(separable, labels3,
      dim = 1 << 12, nClasses = 3, iters = 8, lr = 1.0, stopTol = 10.0)
    val two = TextClassifier.trainSoftmax(separable, labels3,
      dim = 1 << 12, nClasses = 3, iters = 2, lr = 1.0)
    assert(early.losses.size == 2)
    assert(early.losses == two.losses && early.biases == two.biases &&
      early.weights == two.weights)
    // default 0.0 = the full fixed schedule
    val full = TextClassifier.trainSoftmax(separable, labels3,
      dim = 1 << 12, nClasses = 3, iters = 4, lr = 1.0)
    assert(full.losses.size == 4)
  }

  test("scoreSoftmax: zero-weight model gives uniform probs, lowest class wins ties") {
    val docs = Seq((1L, "a b c"), (2L, "")).toDF("doc_id", "text")
    val m = TextClassifier.SoftmaxModel(1 << 10, 4, Seq(0.0, 0.0, 0.0, 0.0),
      Map.empty, Nil)
    val got = TextClassifier.scoreSoftmax(docs, m).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 0, 0.25), (2L, 0, 0.25)))
  }

  test("score: zero-weight model gives sigmoid(bias); empty text kept") {
    val docs = Seq((1L, "a b c"), (2L, "")).toDF("doc_id", "text")
    val m = TextClassifier.Model(1 << 10, bias = 0.4, weights = Map.empty,
      losses = Nil, l1Normalize = true)
    val got = TextClassifier.score(docs, m).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expect = BigDecimal(1.0 / (1.0 + math.exp(-0.4)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(1L -> expect, 2L -> expect))
  }

  test("local iteration kernel == forced-distributed training, bit-exact") {
    // 40 docs, overlapping vocab, 6 iterations: iteration 1 runs
    // distributed in both, iterations 2-6 take the driver kernel on
    // the left and stay distributed on the right (LocalGate.distributed) —
    // every weight, the bias, and every loss must be EXACTLY equal
    val docs = (0 until 40).map { i =>
      val words = Seq("alpha", "beta", "gamma", "delta", "eps")
        .filter(w => (i + w.length) % 3 != 0).mkString(" ")
      (i.toLong, s"$words token$i shared word", i % 2)
    }.toDF("doc_id", "text", "label")
    val loc = TextClassifier.train(docs, docs.select("doc_id", "label"),
      dim = 1 << 12, iters = 6, lr = 1.5, l2 = 0.01, biasInit = 0.2)
    val dist = graft.core.LocalGate.distributed(TextClassifier.train(docs,
      docs.select("doc_id", "label"),
      dim = 1 << 12, iters = 6, lr = 1.5, l2 = 0.01, biasInit = 0.2))
    assert(loc.bias == dist.bias)
    assert(loc.losses == dist.losses)
    assert(loc.weights == dist.weights)
  }

  test("local softmax kernel == forced-distributed trainSoftmax, bit-exact") {
    val docs = (0 until 45).map { i =>
      val marker = Seq("the and", "der und", "le et")(i % 3)
      (i.toLong, s"$marker common word$i tail", i % 3)
    }.toDF("doc_id", "text", "label")
    val loc = TextClassifier.trainSoftmax(docs, docs.select("doc_id", "label"),
      dim = 1 << 12, nClasses = 3, iters = 6, lr = 1.5, l2 = 0.01)
    val dist = graft.core.LocalGate.distributed(TextClassifier.trainSoftmax(docs,
      docs.select("doc_id", "label"),
      dim = 1 << 12, nClasses = 3, iters = 6, lr = 1.5, l2 = 0.01))
    assert(loc.biases == dist.biases)
    assert(loc.losses == dist.losses)
    assert(loc.weights == dist.weights)
  }

  test("map-side sigmoid scorer == distributed scorer, bit-exact") {
    // empty text (single empty-gram feature) and repeated words ride
    // along; both feature scalings; every prob must be EXACTLY equal
    val docs = separable.select("doc_id", "text").unionByName(
      Seq((1000L, ""), (1001L, "alpha alpha beta beta beta"))
        .toDF("doc_id", "text"))
    for (l1 <- Seq(true, false)) {
      val m = TextClassifier.train(separable, separable.select("doc_id", "label"),
        dim = 1 << 12, iters = 4, lr = 2.0, l1Normalize = l1)
      val a = TextClassifier.score(docs, m).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val b = TextClassifier.scoreDistributed(docs, m).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(a == b)
    }
    // a tiny dim forces bucket collisions (cnt > 1 on distinct grams)
    val mc = TextClassifier.Model(8, bias = -0.1,
      weights = Map(0 -> 0.3, 3 -> -0.7, 5 -> 1.1), losses = Nil,
      l1Normalize = false)
    val ac = TextClassifier.score(docs, mc).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bc = TextClassifier.scoreDistributed(docs, mc).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ac == bc)
  }

  test("map-side softmax scorer == distributed scorer, bit-exact") {
    val docs = multilang.select("doc_id", "text").unionByName(
      Seq((1000L, ""), (1001L, "der und le et the and"))
        .toDF("doc_id", "text"))
    for (l1 <- Seq(true, false)) {
      val m = TextClassifier.trainSoftmax(multilang,
        multilang.select("doc_id", "label"), dim = 1 << 12, nClasses = 3,
        iters = 4, lr = 2.0, l1Normalize = l1)
      val a = TextClassifier.scoreSoftmax(docs, m).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      val b = TextClassifier.scoreSoftmaxDistributed(docs, m).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      assert(a == b)
    }
  }

  test("keep columns ride both scorer paths == the post-score join they replace") {
    val docs = multilang.select("doc_id", "text")
      .withColumn("tag", (col("doc_id") % 3).cast("int"))
      .unionByName(Seq((1000L, "", 7), (1001L, "der und le et the and", 8))
        .toDF("doc_id", "text", "tag"))
    val sm = TextClassifier.trainSoftmax(multilang,
      multilang.select("doc_id", "label"), dim = 1 << 12, nClasses = 3,
      iters = 3, lr = 2.0)
    val joined = TextClassifier.scoreSoftmax(docs, sm)
      .join(docs.select("doc_id", "tag"), "doc_id")
      .select("doc_id", "tag", "cls", "prob").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val keptMap = TextClassifier.scoreSoftmax(docs, sm, keep = Seq("tag")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    val keptDist = TextClassifier.scoreSoftmaxDistributed(docs, sm, keep = Seq("tag"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    assert(keptMap == joined && keptDist == joined)

    val m = TextClassifier.train(separable, separable.select("doc_id", "label"),
      dim = 1 << 12, iters = 3, lr = 2.0)
    val sdocs = separable.select("doc_id", "text")
      .withColumn("tag", (col("doc_id") % 2).cast("int"))
    val sJoined = TextClassifier.score(sdocs, m)
      .join(sdocs.select("doc_id", "tag"), "doc_id")
      .select("doc_id", "tag", "prob").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val sMap = TextClassifier.score(sdocs, m, keep = Seq("tag")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val sDist = TextClassifier.scoreDistributed(sdocs, m, keep = Seq("tag")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(sMap == sJoined && sDist == sJoined)
  }
}
