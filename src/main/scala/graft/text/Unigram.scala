package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization")
  * — the OTHER standard subword algorithm next to [[Bpe]], and the one
  * SentencePiece defaults to: pieces carry independent probabilities,
  * training is EM over all segmentations of the corpus, the vocabulary
  * shrinks by pruning low-value pieces until the target size, and
  * inference is Viterbi (the max-probability segmentation). A
  * multilingual-corpus vocab study usually wants BPE and unigram side
  * by side; this closes that gap.
  *
  * Scale design — the [[Bpe]] conventions, but with the EM kept
  * DISTRIBUTED: the corpus collapses once into the Zipf-bounded
  * (word, freq) table; each E-step is one mapPartitions over that
  * table (forward-backward per word under the BROADCAST piece table)
  * followed by ONE groupBy exchange on the piece key; the M-step runs
  * on the collected per-piece totals, which are vocab-bounded by
  * construction. Nothing word-shaped ever reaches the driver, so the
  * same loop runs against a billion-row word table.
  *
  * Determinism — expected counts are doubles per word (forward-
  * backward), but they aggregate as fixed-scale DECIMALs, so the
  * cross-word sum is exact and associative: the trained model is
  * bit-identical on any partitioning (a double `sum` would make the
  * prune ordering run-dependent). All orderings tie-break
  * lexicographically.
  */
object Unigram {

  /** A trained unigram model: piece → log-probability. `unkScore` is
    * the per-CHARACTER fallback used by the encoder for characters no
    * piece covers (training always seeds the corpus' single
    * characters and never prunes them, so on its own training corpus
    * the fallback is unreachable; it exists for out-of-corpus text
    * at inference — SentencePiece's unk surface).
    */
  final case class Model(pieces: Map[String, Double],
                         unkScore: Double = -100.0) {
    require(pieces.keysIterator.forall(_.nonEmpty), "empty piece")
    val maxPieceLen: Int =
      if (pieces.isEmpty) 1 else pieces.keysIterator.map(_.length).max
  }

  /** Candidate seed pieces: every word substring up to `maxPieceLen`
    * chars, frequency-weighted, top `seedSize` by (count desc, piece
    * asc) — the suffix-array seeding of the reference algorithm
    * re-expressed as ONE distributed substring explode + groupBy
    * (Zipf-bounded output). Single characters are always kept
    * (coverage), on top of `seedSize`.
    */
  def seedPieces(docs: DataFrame, seedSize: Int, maxPieceLen: Int = 6,
                 textCol: String = "text"): DataFrame = {
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val wf = Bpe.wordFreq(docs, textCol)
    val sp = docs.sparkSession
    import sp.implicits._
    val subs = wf.as[(String, Long)].flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "freq")
      .groupBy("piece").agg(sum("freq").as("cnt"))
    // top seedSize by (count desc, piece asc), PLUS every corpus
    // single character regardless of rank — coverage is what makes
    // Model's "fallback unreachable on its own training corpus" hold
    // even when seedSize is small and a rare character's substrings
    // all miss the cut
    subs.orderBy(col("cnt").desc, col("piece").asc).limit(seedSize)
      .union(subs.filter(length(col("piece")) === 1))
      .groupBy("piece").agg(max("cnt").as("cnt"))
  }

  /** Forward-backward expected piece counts for one word under the
    * model — the E-step kernel (Kudo 2018 §3.2): α(j) = logΣexp over
    * lattice edges into j, β(i) the mirror, E[piece at (i,j)] =
    * exp(α(i) + logp + β(j) − α(N)). Characters outside the model
    * ride `unkScore` single-char edges so the lattice never
    * disconnects. Returns (piece, expectedCount) with counts > 0;
    * single-char unk edges count toward that character's piece only
    * if the model carries it.
    */
  private[graft] def expectedCounts(word: String, model: Model)
      : Iterator[(String, Double)] = {
    val n = word.length
    if (n == 0) return Iterator.empty
    val maxL = math.max(1, model.maxPieceLen)
    def lp(i: Int, j: Int): Double = {
      val s = word.substring(i, j)
      model.pieces.getOrElse(s,
        if (j - i == 1) model.unkScore else Double.NegativeInfinity)
    }
    def lse(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log1p(math.exp(-(math.abs(a - b)))) }
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    for (j <- 1 to n; i <- math.max(0, j - maxL) until j)
      alpha(j) = lse(alpha(j), alpha(i) + lp(i, j))
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    beta(n) = 0.0
    for (i <- (n - 1) to 0 by -1; j <- (i + 1) to math.min(n, i + maxL))
      beta(i) = lse(beta(i), lp(i, j) + beta(j))
    val z = alpha(n)
    if (z == Double.NegativeInfinity) Iterator.empty
    else (for {
      i <- (0 until n).iterator
      j <- ((i + 1) to math.min(n, i + maxL)).iterator
      s = word.substring(i, j)
      if model.pieces.contains(s)
      c = math.exp(alpha(i) + lp(i, j) + beta(j) - z)
      if c > 0.0
    } yield (s, c))
  }

  private val CountScale = 9

  /** One distributed E-step: per-word expected counts (freq-weighted),
    * quantized to fixed-scale decimals BEFORE the aggregate so the
    * cross-word sum is exact — one groupBy exchange on the piece key.
    * Returns the vocab-bounded (piece, total) rows collected.
    */
  private def eStep(wordFreq: DataFrame, model: Model): Map[String, BigDecimal] = {
    val sp = wordFreq.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(model)
    wordFreq.as[(String, Long)]
      .mapPartitions { rows =>
        rows.flatMap { case (w, f) =>
          expectedCounts(w, bc.value).map { case (p, c) =>
            (p, new java.math.BigDecimal(c * f)
              .setScale(CountScale, java.math.RoundingMode.HALF_EVEN))
          }
        }
      }
      .toDF("piece", "c")
      .select(col("piece"), col("c").cast("decimal(38,9)").as("c"))
      .groupBy("piece").agg(sum("c").as("total"))
      .as[(String, java.math.BigDecimal)]
      .collect()
      .map { case (p, t) => p -> BigDecimal(t) }
      .toMap
  }

  /** M-step: re-normalize expected counts into log-probabilities.
    * Pieces whose mass rounded to zero drop (single characters are
    * re-pinned by the caller).
    */
  private def mStep(counts: Map[String, BigDecimal],
                    unkScore: Double): Model = {
    val total = counts.values.sum
    Model(counts.collect {
      case (p, c) if c > 0 =>
        p -> (math.log(c.toDouble) - math.log(total.toDouble))
    }, unkScore)
  }

  /** Train a unigram-LM vocabulary of (about) `vocabSize` pieces:
    * seed from [[seedPieces]], then alternate `emRounds` EM sweeps
    * with a prune that keeps all single characters plus the best
    * multi-char pieces by expected count, shrinking by `shrink` per
    * prune until the target size (the reference's
    * shrinking_factor=0.75 loop with count-based pruning — the
    * standard simplification of Kudo's per-piece likelihood-loss
    * ranking; ties break lexicographically so the model is unique).
    * Spark cost: (emRounds × prune-rounds) single-exchange jobs over
    * the (word, freq) table + one substring aggregate for the seed.
    */
  def train(docs: DataFrame, vocabSize: Int, seedSize: Int = 2000,
            maxPieceLen: Int = 6, emRounds: Int = 2, shrink: Double = 0.75,
            unkScore: Double = -100.0,
            textCol: String = "text"): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(shrink > 0 && shrink < 1, s"shrink must be in (0,1): $shrink")
    Tables.persisted(Bpe.wordFreq(docs, textCol)) { wf =>
      // seedPieces already applies the (count desc, piece asc) limit
      // and pins all corpus single characters on top of seedSize
      val seeds = seedPieces(docs, seedSize, maxPieceLen, textCol)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val singles = seeds.keysIterator.filter(_.length == 1).toSet ++
        seeds.keysIterator.flatMap(_.iterator.map(_.toString))
      // uniform-ish init: log relative substring frequency
      val init = seeds ++ singles.map(s => s -> seeds.getOrElse(s, 1L))
      val z0 = math.log(init.values.sum.toDouble)
      var model = Model(
        init.map { case (p, c) => p -> (math.log(c.toDouble) - z0) }, unkScore)
      var done = false
      while (!done) {
        var counts = Map.empty[String, BigDecimal]
        for (_ <- 1 to emRounds) {
          counts = eStep(wf, model)
          model = mStep(counts, unkScore)
          // coverage: a single char can EM to zero mass while longer
          // pieces absorb it; pin it back at floor mass
          val missing = singles.diff(model.pieces.keySet)
          if (missing.nonEmpty) {
            val floor = if (model.pieces.isEmpty) 0.0
              else model.pieces.values.min - math.log(2.0)
            model = Model(model.pieces ++ missing.map(_ -> floor), unkScore)
          }
        }
        val multi = model.pieces.keysIterator.filterNot(singles).toSeq
        val target = math.max(vocabSize - singles.size, 0)
        if (multi.size <= target) done = true
        else {
          val keep = math.max(target, (multi.size * shrink).toInt)
          val kept = multi
            .map(p => (p, counts.getOrElse(p, BigDecimal(0))))
            .sortBy { case (p, c) => (-c, p) }(
              Ordering.Tuple2(Ordering.BigDecimal, Ordering.String))
            .take(keep).map(_._1).toSet
          model = Model(model.pieces.filter { case (p, _) =>
            singles(p) || kept(p) }, unkScore)
          if (keep == target) {
            // one final EM sweep re-normalizes the pruned vocabulary
            model = mStep(eStep(wf, model), unkScore)
            val missing = singles.diff(model.pieces.keySet)
            if (missing.nonEmpty) {
              val floor = model.pieces.values.min - math.log(2.0)
              model = Model(model.pieces ++ missing.map(_ -> floor), unkScore)
            }
            done = true
          }
        }
      }
      model
    }
  }

  /** Viterbi segmentation of one word: maximize total log-prob; ties
    * break to FEWER pieces, then to the longer final piece (so the
    * result is unique and partition-independent). Characters no piece
    * covers ride `unkScore` single-char edges and surface as
    * themselves — never dropped. Returns (pieces, totalLogProb).
    */
  private[graft] def viterbiWord(word: String, model: Model)
      : (Array[String], Double) = {
    val n = word.length
    if (n == 0) return (Array.empty, 0.0)
    val maxL = math.max(1, model.maxPieceLen)
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bestPieces = Array.fill(n + 1)(Int.MaxValue)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0; bestPieces(0) = 0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxL)
      while (i < j) {
        val s = word.substring(i, j)
        val lp = model.pieces.getOrElse(s,
          if (j - i == 1) model.unkScore else Double.NegativeInfinity)
        if (lp != Double.NegativeInfinity && best(i) != Double.NegativeInfinity) {
          val cand = best(i) + lp
          val candPieces = bestPieces(i) + 1
          // strictly better score; or equal score with fewer pieces;
          // or both equal with a longer last piece (i smaller)
          if (cand > best(j) ||
            (cand == best(j) && (candPieces < bestPieces(j) ||
              (candPieces == bestPieces(j) && (back(j) == -1 || i < back(j)))))) {
            best(j) = cand; bestPieces(j) = candPieces; back(j) = i
          }
        }
        i += 1
      }
      j += 1
    }
    val out = List.newBuilder[String]
    var pos = n
    val rev = List.newBuilder[(Int, Int)]
    while (pos > 0) { val i = back(pos); rev += ((i, pos)); pos = i }
    rev.result().reverse.foreach { case (a, b) => out += word.substring(a, b) }
    (out.result().toArray, best(n))
  }

  /** Sample one segmentation of `word` from P(x)^alpha (Kudo 2018
    * §3.2, subword regularization — the reason unigram-LM exists as a
    * TRAINING-time tokenizer: each epoch sees a different sampled
    * segmentation, a regularizer BPE cannot express). Exact
    * forward-filtering backward-sampling on the alpha-tempered
    * lattice: scaling every edge log-prob by alpha makes the tempered
    * forward weights alpha_t(j), and walking backward from the end,
    * edge (i, j) is drawn with probability
    * exp(alpha_t(i) + alpha*lp(i,j) − alpha_t(j)) — an EXACT sample,
    * not Metropolis. alpha → inf approaches Viterbi; alpha = 0 is
    * uniform over segmentations.
    */
  private[graft] def sampleWord(word: String, model: Model, alpha: Double,
                                rng: java.util.SplittableRandom)
      : Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val maxL = math.max(1, model.maxPieceLen)
    def lp(i: Int, j: Int): Double = {
      val s = word.substring(i, j)
      model.pieces.getOrElse(s,
        if (j - i == 1) model.unkScore else Double.NegativeInfinity)
    }
    def lse(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log1p(math.exp(-math.abs(a - b))) }
    val at = Array.fill(n + 1)(Double.NegativeInfinity)
    at(0) = 0.0
    for (j <- 1 to n; i <- math.max(0, j - maxL) until j)
      at(j) = lse(at(j), at(i) + alpha * lp(i, j))
    if (at(n) == Double.NegativeInfinity) {
      // fully disconnected can't happen (unk edges), but stay total
      return viterbiWord(word, model)._1
    }
    val rev = List.newBuilder[(Int, Int)]
    var pos = n
    while (pos > 0) {
      val lo = math.max(0, pos - maxL)
      val ws = (lo until pos).map { i =>
        val l = lp(i, pos)
        if (l == Double.NegativeInfinity ||
          at(i) == Double.NegativeInfinity) 0.0
        else math.exp(at(i) + alpha * l - at(pos))
      }
      val total = ws.sum
      val u = rng.nextDouble() * total
      var k = -1
      var acc = 0.0
      var m = 0
      while (m < ws.length) {
        if (ws(m) > 0) { acc += ws(m); if (k < 0 && u < acc) k = m }
        m += 1
      }
      if (k < 0) k = ws.lastIndexWhere(_ > 0) // fp-rounding tail
      val i = lo + k
      rev += ((i, pos))
      pos = i
    }
    rev.result().reverse.map { case (a, b) => word.substring(a, b) }.toArray
  }

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Sampled (subword-regularized) corpus encode: per word, one
    * segmentation drawn from P(x)^alpha via [[sampleWord]]. The RNG
    * seeds deterministically per (seed, doc, word ordinal) — splitmix
    * of the triple — so output is reproducible and partition-
    * independent (the d_sample_portable convention: randomness from
    * content keys, never from partition layout), and a new `seed` per
    * epoch yields the fresh segmentations the regularizer wants.
    */
  def encodeSampled(docs: DataFrame, model: Model, alpha: Double = 0.5,
                    seed: Long = 0L, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    val sp = docs.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(model)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        var wi = 0
        val toks = text.split(" ").iterator.filter(_.nonEmpty)
          .flatMap { w =>
            val rng = new java.util.SplittableRandom(
              mix64(mix64(seed ^ id) ^ wi))
            wi += 1
            sampleWord(w, bc.value, alpha, rng)
          }.toArray
        (id, toks)
      }
      .toDF(idCol, "tokens")
  }

  /** Encode the corpus under a trained model: (idCol, tokens,
    * total_logp) with each word's Viterbi pieces in document order
    * and the summed segmentation log-prob. Model broadcasts
    * (vocab-bounded); per-word Viterbi is the documented
    * mapPartitions-shaped per-row kernel — shuffle-free.
    */
  def encode(docs: DataFrame, model: Model, textCol: String = "text",
             idCol: String = "doc_id"): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(model)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        var lpSum = 0.0
        val toks = text.split(" ").iterator.filter(_.nonEmpty)
          .flatMap { w =>
            val (pieces, lp) = viterbiWord(w, bc.value)
            lpSum += lp
            pieces
          }.toArray
        (id, toks, lpSum)
      }
      .toDF(idCol, "tokens", "total_logp")
  }
}
