package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * `df.sample`/`sampleBy` draw from a per-partition RNG stream, so the
  * selected ROWS change whenever partitioning changes — unacceptable
  * for reproducible dataset builds. These helpers hash a stable id
  * instead: the same row is in or out of the sample on any cluster
  * size, partitioning, or execution order, and the decision is a
  * pushdown-friendly codegen'd filter (no shuffle).
  */
object Sampling {

  private def bucket(idCol: String, salt: String) =
    pmod(xxhash64(concat_ws("|", lit(salt), col(idCol))), lit(1000000L))

  /** Keep ~`fraction` of rows, selected by id hash. `salt` decorrelates
    * independent samples over the same corpus.
    */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
                          salt: String = "s0"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    df.filter(bucket(idCol, salt) < (fraction * 1000000L).toLong)
  }

  /** Per-stratum keep thresholds on the common 10^6 bucket space;
    * strata absent from `fractions` get threshold 0 (dropped).
    */
  private def strataThreshold(strataCol: String,
                              fractions: Map[String, Double]) =
    fractions.foldLeft(lit(0L)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit((f * 1000000L).toLong)).otherwise(acc)
    }

  /** Per-stratum fractions (e.g. per language), same hash mechanism.
    * Strata absent from `fractions` are dropped.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       fractions: Map[String, Double],
                       salt: String = "s0"): DataFrame =
    df.filter(bucket(idCol, salt) < strataThreshold(strataCol, fractions))

  /** [[stratifiedSample]] with the portable (md5) bucket — membership
    * recomputable in any engine from the published spec alone.
    */
  def stratifiedSamplePortable(df: DataFrame, strataCol: String, idCol: String,
                               fractions: Map[String, Double],
                               salt: String = "s0"): DataFrame =
    df.filter(portableBucket(idCol, salt) < strataThreshold(strataCol, fractions))

  /** Deterministic train/validation/test split: disjoint, exhaustive,
    * stable under any partitioning.
    */
  def split3(df: DataFrame, idCol: String, trainFrac: Double, valFrac: Double,
             salt: String = "split"): (DataFrame, DataFrame, DataFrame) = {
    val b = bucket(idCol, salt)
    val t = (trainFrac * 1000000L).toLong
    val v = ((trainFrac + valFrac) * 1000000L).toLong
    (df.filter(b < t), df.filter(b >= t && b < v), df.filter(b >= v))
  }

  /** Per-domain keep fractions realizing target mixture `weights` with
    * MAXIMUM retention: the scarcest domain (smallest count/weight)
    * keeps 100% and sets the total; every other domain downsamples to
    * its weight share of that total. Pure arithmetic — exact-spec'd
    * separately from the hash application.
    */
  def mixFractions(counts: Map[String, Long],
                   weights: Map[String, Double]): Map[String, Double] = {
    require(weights.nonEmpty, "weights must be non-empty")
    weights.foreach { case (d, w) =>
      require(w > 0, s"weight for '$d' must be positive, got $w")
      require(counts.getOrElse(d, 0L) > 0, s"no rows for weighted domain '$d'")
    }
    // total sample size if each domain d contributes weight_d * total:
    // bounded by the scarcest domain's full contribution
    val total = weights.map { case (d, w) => counts(d) / w }.min
    weights.map { case (d, w) =>
      val f = w * total / counts(d)
      // snap ~1.0 up: the limiting domain's round-trip (count/w)*w/count
      // can land at 0.9999999999999999, silently dropping ~1-per-million
      // rows from the domain the contract says keeps 100%
      d -> (if (f >= 1.0 - 1e-9) 1.0 else f)
    }
  }

  /** Domain mixing — rebalance a corpus to target mixture weights
    * (the data-mixing step before training; cf. DoReMi/Pile recipes):
    * one tiny per-domain count aggregate (driver-bounded by the number
    * of domains, never rows), then the same pushdown-friendly id-hash
    * filter as [[stratifiedSample]]. Domains absent from `weights` are
    * dropped. Deterministic on any partitioning.
    */
  def mixDomains(df: DataFrame, domainCol: String, idCol: String,
                 weights: Map[String, Double],
                 salt: String = "mix"): DataFrame = {
    val counts = domainCounts(df, domainCol)
    stratifiedSample(df, domainCol, idCol, mixFractions(counts, weights), salt)
  }

  /** [[mixDomains]] with the portable (md5) bucket: the whole mixing
    * decision — per-domain counts, max-retention fractions, id-hash
    * membership — is recomputable in any SQL engine, so a published
    * mixture recipe can be audited outside the JVM (the DuckDB oracle
    * does exactly that).
    */
  def mixDomainsPortable(df: DataFrame, domainCol: String, idCol: String,
                         weights: Map[String, Double],
                         salt: String = "mix"): DataFrame = {
    val counts = domainCounts(df, domainCol)
    stratifiedSamplePortable(df, domainCol, idCol,
      mixFractions(counts, weights), salt)
  }

  private def domainCounts(df: DataFrame, domainCol: String): Map[String, Long] =
    // driver-bounded by the number of DOMAINS (a recipe-sized set),
    // never rows — the only collect in the mixing path
    df.groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Temperature-scaled mixture weights (the multilingual-corpus
    * sampling recipe, cf. XLM-R/mT5): w_d ∝ p_d^alpha with p_d the
    * domain's share of rows. alpha = 1 reproduces the natural
    * distribution, alpha → 0 approaches uniform; 0 < alpha < 1
    * up-weights scarce domains. Pure arithmetic — feed the result to
    * [[mixDomains]]/[[mixDomainsPortable]].
    */
  def temperatureWeights(counts: Map[String, Long],
                         alpha: Double): Map[String, Double] = {
    require(counts.nonEmpty, "counts must be non-empty")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    counts.foreach { case (d, n) =>
      require(n > 0, s"count for '$d' must be positive, got $n") }
    val total = counts.values.map(_.toDouble).sum
    val raw = counts.toSeq.sortBy(_._1) // fixed fold order → reproducible sums
      .map { case (d, n) => d -> math.pow(n / total, alpha) }
    val z = raw.map(_._2).sum
    raw.map { case (d, r) => d -> r / z }.toMap
  }

  /** PORTABLE id-hash bucket: md5 of "salt|id", first 15 hex digits as
    * an integer, mod 10^6. Slower than the xxhash64 bucket (md5 is not
    * codegen-fused as tightly) but reproducible in ANY engine — md5 is
    * universal, so sample membership can be audited or recomputed
    * outside the JVM (SQL engines included), which matters when a
    * training-data recipe must be re-derivable years later from the
    * published spec alone. Still a pushdown-friendly scalar filter:
    * no shuffle, no RNG, partitioning-independent.
    */
  private def portableBucket(idCol: String, salt: String) =
    conv(substring(md5(concat_ws("|", lit(salt), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L

  /** [[deterministicSample]] with the portable (md5) bucket. */
  def deterministicSamplePortable(df: DataFrame, idCol: String, fraction: Double,
                                  salt: String = "s0"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"bad fraction $fraction")
    df.filter(portableBucket(idCol, salt) < (fraction * 1000000L).toLong)
  }

  /** EXACT k rows per group (balanced per-domain/per-language subsets
    * — fractional sampling over-draws big strata; eval-set and probe
    * subsets want exact counts). Selection = the k smallest
    * (md5(salt|id), id) per group: deterministic on any layout, and
    * the md5 order makes membership recomputable in any engine
    * (the [[deterministicSamplePortable]] convention). Groups smaller
    * than k pass through whole.
    *
    * One shuffle on the group key (rank-over-group shape). For giant
    * skewed groups a k-bounded heap aggregate (TopKScoreId) + id
    * semi-join moves k rows per group instead of sorting each group —
    * the SELECTED ROWS are identical (the order is total), so the
    * plan can be swapped without changing results.
    */
  def sampleKPerGroup(df: DataFrame, groupCol: String, idCol: String,
                      k: Int, salt: String = "s0"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hash = conv(substring(
      md5(concat_ws("|", lit(salt), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(hash, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic train/validation/test ASSIGNMENT as a column — the
    * split recorded in dataset metadata (one labeled frame to write,
    * filter, or audit) rather than three filtered frames ([[split3]]
    * is the filter form). Portable md5 bucket: the assignment is
    * recomputable in ANY engine from (salt, id, fractions) alone, so a
    * published split can be re-derived or audited outside the JVM —
    * the property an eval-set provenance story actually needs.
    * Disjoint and exhaustive by construction (half-open bucket
    * ranges); stable under any partitioning; pure per-row codegen'd
    * arithmetic — zero shuffle, column-prunable.
    */
  def splitAssignPortable(df: DataFrame, idCol: String, trainFrac: Double,
                          valFrac: Double, salt: String = "split"): DataFrame =
    df.withColumn("split", splitLabel(col(idCol), trainFrac, valFrac, salt))

  /** The split label as a COLUMN over any id expression — the portable
    * md5 bucket against half-open fraction ranges. Exposed separately
    * because the assignment is a pure function of the id: consumers
    * auditing PAIRS of ids ([[splitLeakage]]) label both endpoints
    * with two scalar expressions instead of joining the corpus twice.
    */
  def splitLabel(id: org.apache.spark.sql.Column, trainFrac: Double,
                 valFrac: Double, salt: String = "split"): org.apache.spark.sql.Column = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1,
      s"bad fractions ($trainFrac, $valFrac)")
    val b = conv(substring(md5(concat_ws("|", lit(salt), id.cast("string"))), 1, 15),
      16, 10).cast("long") % 1000000L
    val t = (trainFrac * 1000000L).toLong
    val v = ((trainFrac + valFrac) * 1000000L).toLong
    when(b < t, lit("train")).when(b < v, lit("val")).otherwise(lit("test"))
  }

  /** PORTABLE weighted sampling WITHOUT replacement — Efraimidis &
    * Spirakis 2006 (A-ES): each row draws a deterministic uniform
    * u ∈ (0,1) from the md5 convention and the sample is the top-k by
    * u^(1/w) — provably equivalent to sequential weighted draws
    * without replacement, but embarrassingly parallel and (here)
    * fully re-derivable in any engine from (salt, id, weight) alone.
    * The ranking key is the monotone-equivalent ln(u)/w (larger =
    * better; heavier weights pull keys toward 0), rounded to 12 dp
    * with an id tie-break so the one transcendental (ln) sits on the
    * pow-ulp-safe convention [[temperatureWeights]] established.
    * u = (first-12-hex-digits of md5("salt|id") + 0.5) / 2^48 — a
    * 48-bit integer is EXACT in a double, and the +0.5 keeps u off
    * both endpoints.
    *
    * Scale shape: pure per-row key arithmetic + one global top-k —
    * Catalyst plans TakeOrderedAndProject (per-partition heaps, k
    * rows to the driver-side merge), never a global sort; zero
    * shuffles, column-prunable, stable on any partitioning.
    *
    * Weight domain: A-ES is defined for w > 0 only — a zero weight
    * would divide ln(u) to ±Infinity/NULL and a negative one would
    * FLIP the key sign, silently ranking the row first. Rows with
    * NULL or non-positive weight carry zero sampling mass and are
    * excluded up front (the documented-and-filtered contract; callers
    * that consider w <= 0 a data error should gate with
    * [[QualityRules.check]] before sampling).
    */
  def weightedSamplePortable(df: DataFrame, k: Int, weightCol: String,
                             idCol: String, salt: String = "ws0"): DataFrame = {
    require(k >= 0, s"k must be non-negative, got $k")
    val v = conv(substring(md5(concat_ws("|", lit(salt),
      col(idCol).cast("string"))), 1, 12), 16, 10).cast("double")
    val key = round(log((v + 0.5) / math.pow(2, 48)) / col(weightCol), 12)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__aes_key", key)
      .orderBy(col("__aes_key").desc, col(idCol))
      .limit(k)
      .drop("__aes_key")
  }

  /** Split-leakage audit — near-dup pairs whose endpoints landed in
    * DIFFERENT splits (a test doc that is a near-duplicate of a train
    * doc silently inflates eval scores; this is the check a dataset
    * release runs before publishing its split). Input is any pair
    * frame (e.g. `Dedup.minhashNearDups` output); the split label is
    * recomputed per endpoint from the id arithmetic — ZERO joins
    * against the corpus, zero shuffles beyond what produced the
    * pairs, because [[splitAssignPortable]] is a pure function of
    * the id. Returns only the crossing pairs, labeled.
    */
  def splitLeakage(pairs: DataFrame, trainFrac: Double, valFrac: Double,
                   salt: String = "split", aCol: String = "doc_a",
                   bCol: String = "doc_b"): DataFrame =
    pairs
      .withColumn("split_a", splitLabel(col(aCol), trainFrac, valFrac, salt))
      .withColumn("split_b", splitLabel(col(bCol), trainFrac, valFrac, salt))
      .filter(col("split_a") =!= col("split_b"))

  /** Curriculum ordering — the deterministic TRAINING ORDER generator
    * (easy-to-hard curricula, quality-ascending schedules): documents
    * bucket by exact score quantiles and shuffle WITHIN each bucket
    * by a portable salted hash, so the epoch order is (a) curriculum-
    * shaped across buckets, (b) decorrelated from any ingest order
    * within a bucket, and (c) bit-reproducible on any engine or
    * partitioning (the md5 convention of the portable samplers —
    * same bytes in any SQL engine). Consumers sort by (bucket,
    * shuffle_key) when materializing shards — this function attaches
    * the keys and imposes NO global sort itself.
    *
    * Scale shape: one small exact-percentile agg (score-column only)
    * broadcast back as literal cuts — the ccnetBuckets recipe, no
    * global ntile window — then pure per-row codegen'd expressions.
    * Exact `percentile` (not approx) because the cuts sit on the
    * oracle hash path: only the exact form matches quantile_cont
    * across engines.
    */
  def curriculumOrder(df: DataFrame, scoreCol: String = "score",
                      idCol: String = "doc_id", buckets: Int = 4,
                      salt: String = "graft"): DataFrame = {
    require(buckets >= 2, s"buckets >= 2: $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val cuts = df.agg(expr(
        s"percentile($scoreCol, array(${qs.mkString(",")}))"))
      .first().getSeq[Double](0)
    val bucket = cuts.zipWithIndex.foldRight(lit(buckets - 1): org.apache.spark.sql.Column) {
      case ((cut, i), rest) => when(col(scoreCol) <= cut, lit(i)).otherwise(rest)
    }
    df.withColumn("bucket", bucket)
      .withColumn("shuffle_key",
        md5(concat(col(idCol).cast("string"), lit(":" + salt))))
  }

  /** Token-budget selection — keep the BEST documents until a token
    * budget is exhausted: total-order by (`scoreCol` desc, `idCol`
    * asc) and keep every document whose INCLUSIVE running token total
    * stays within `budget`. The selection a curation run makes when
    * the training budget is fixed in TOKENS, not documents
    * (quality-first fill).
    *
    * Scale shape: a single-partition global window would serialize
    * the corpus, so this is the classic two-pass distributed prefix
    * sum over ONE distributed range sort: (1) `orderBy` range-sorts
    * and the sorted frame is checkpointed, pinning identical partitions for
    * both passes; (2) per-partition token subtotals collect to the
    * driver — ONE row per partition, bounded by shuffle partitions,
    * never corpus-shaped (the inherent second pass of any prefix
    * sum, not an avoidable stat scan); (3) each partition's exclusive
    * start offset rides the closure back and a partition-LOCAL
    * running sum completes the global prefix — zero exchanges after
    * the sort, and a partition whose start offset already exceeds
    * the budget emits nothing without scanning. Determinism: the
    * (score desc, id) order is total, so the kept set is bit-stable
    * on any input partitioning. The sort is materialized once, in this
    * call, as an eager `localCheckpoint`: no cache entry outlives the
    * call, and its blocks are freed once the returned frame is no
    * longer referenced.
    */
  def selectByTokenBudget(docs: DataFrame, budget: Long,
                          tokensCol: String = "n_tokens",
                          scoreCol: String = "score",
                          idCol: String = "doc_id"): DataFrame = {
    require(budget >= 0, s"budget >= 0: $budget")
    import org.apache.spark.sql.{Encoders, Row}
    // eager: both passes read its fixed partitions, and the returned
    // selection reads it after the call
    val sorted = docs.orderBy(col(scoreCol).desc, col(idCol).asc).localCheckpoint()
    val tIdx = sorted.schema.fieldIndex(tokensCol)
    def tok(r: Row): Long = r.get(tIdx) match {
      case null => 0L
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$tokensCol must be numeric, got: ${other.getClass}")
    }
    // pass 1: per-partition subtotals (range partitions are ordered by
    // the sort key, so partition id order IS the global row order)
    val subtotals = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var s = 0L
      it.foreach(r => s += tok(r))
      Iterator.single((pid, s))
    }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .collect().sortBy(_._1)
    val offsets: Map[Int, Long] = subtotals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, s)) => (pid + 1, acc + s) }
      .init.zip(subtotals)
      .map { case ((_, excl), (pid, _)) => pid -> excl }.toMap
    // pass 2: partition-local running sum from the broadcast offset
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(sorted.schema)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var run = offsets.getOrElse(pid, 0L)
      if (run >= budget) Iterator.empty
      else it.takeWhile { r => run += tok(r); run <= budget }
    }
  }
}
