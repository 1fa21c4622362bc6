package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Clusters, Dedup}
import graft.ops.Sampling
import graft.streaming.StoreMaintenance
import graft.text.TextAnalysis

/** End-to-end training-data curation: the operators of this library
  * composed the way a 100 TB corpus build actually runs them.
  *
  *   raw docs
  *     → exact dedup        (content-hash groupBy, min-id survivor)
  *     → near-dup prune     (MinHash+LSH pairs → connected components
  *                           → min-id representative per cluster)
  *     → quality gate       (length/punct composite ≥ threshold)
  *     → language filter    (n-gram marker language ID)
  *     → learned gate       (optional [[TextClassifier]] probability
  *                           ≥ threshold — the CCNet/DCLM classifier
  *                           stage, run after the cheap heuristics)
  *     → deterministic sample (id-hash, partitioning-independent)
  *
  * Every stage is a declarative transform — the whole pipeline is ONE
  * Catalyst plan per action, and each stage's shuffle story is
  * documented in its own module. Deterministic end to end: same input
  * ⇒ same surviving doc ids on any cluster layout.
  */
object Curation {

  def curate(docs: DataFrame,
             shingleK: Int = 3, numPerm: Int = 32, bands: Int = 8,
             jaccardThreshold: Double = 0.8,
             minQuality: Double = 0.3,
             keepLangs: Seq[String] = Seq("en"),
             sampleFraction: Double = 1.0,
             classifier: Option[TextClassifier.Model] = None,
             minClassifierProb: Double = 0.5,
             keepBestQuality: Boolean = false,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // 1. exact dedup: survivors are the min id per content hash.
    // exactDeduped has two consumers (the near-dup pair pipeline and
    // the component prune's anti-join base); left lazy each evaluates
    // the full scan + md5 groupBy + semi-join again — the eager
    // localCheckpoint computes it once (block-manager cost, freed
    // with the plan; the Dedup materialize-once convention)
    val hashed = docs.withColumn("__h", md5(col(textCol).cast("binary")))
    val survivors = hashed.groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val exactDeduped = docs.join(survivors, Seq(idCol), "left_semi")
      .localCheckpoint()

    // 2. near-dup prune over the exact-deduped corpus. Default: min-id
    // representative (matches curateDelta's first-seen semantics).
    // keepBestQuality: the quality score computes BEFORE pruning and
    // the highest-quality member of each cluster survives (FineWeb
    // rule) — batch-only, see dedupByComponentsKeepBest.
    val pairs = Dedup.minhashNearDups(
      exactDeduped.select(col(idCol), col(textCol)),
      shingleK, numPerm, bands, jaccardThreshold, textCol, idCol)
    val nearDeduped =
      if (!keepBestQuality)
        Clusters.dedupByComponents(exactDeduped, pairs, idCol, "doc_a", "doc_b")
      else Clusters.dedupByComponentsKeepBest(
        TextAnalysis.qualityScore(exactDeduped, textCol), pairs, "quality",
        idCol, "doc_a", "doc_b")

    // 3 + 4. quality gate and language filter (one narrow map; the
    // keep-best path arrives with its quality column already computed)
    val scored = TextAnalysis.langId(
      if (keepBestQuality) nearDeduped
      else TextAnalysis.qualityScore(nearDeduped, textCol), textCol)
    val gated = scored
      .filter(col("quality") >= minQuality)
      .filter(col("pred_lang").isin(keepLangs: _*))

    // 4b. optional learned gate (CCNet/DCLM layering: the trained
    // filter runs AFTER the cheap heuristics, so it only pays its
    // feature pass on already-plausible docs)
    val learned = applyClassifierGate(gated, classifier, minClassifierProb,
      idCol, textCol)

    // 5. deterministic sample
    val sampled =
      if (sampleFraction >= 1.0) learned
      else Sampling.deterministicSample(learned, idCol, sampleFraction)

    sampled.select(col(idCol), col(textCol), col("pred_lang"), col("quality"))
      .orderBy(idCol)
  }

  /** Keep docs the trained [[TextClassifier]] scores ≥ `minProb`;
    * identity when no model is supplied. History-free, so batch and
    * delta curation share it unchanged.
    */
  private def applyClassifierGate(docs: DataFrame,
                                  classifier: Option[TextClassifier.Model],
                                  minProb: Double,
                                  idCol: String, textCol: String): DataFrame =
    classifier.fold(docs) { m =>
      val probs = TextClassifier.score(docs, m, textCol, idCol)
        .filter(col("prob") >= minProb).select(idCol)
      docs.join(probs, Seq(idCol), "left_semi")
    }

  /** Incremental curation: curate ONE arriving batch against the
    * persistent ingest stores, without re-reading history — the
    * streaming form of [[curate]], composed from the same pieces the
    * streaming bodies use ([[graft.streaming.IncrementalStream.dedupBatch]]'s
    * seen-hash store shape, [[graft.dedup.Dedup.minhashNearDupsDelta]]);
    * [[graft.streaming.IncrementalStream.curateBatch]] is its
    * foreachBatch body.
    *
    * Per batch: (1) exact dedup — first-seen within the batch (min id
    * per content hash) and against the seen-hash store; (2) near-dup —
    * the exact survivors' MinHash signatures check against the
    * append-only index, and a batch-scoped connected-components pass
    * over the returned pairs drops every batch doc whose component
    * holds a smaller id (an indexed history doc, or a batch-mate —
    * shared history endpoints connect batch docs exactly like the
    * one-shot CC would); (3) the per-row quality/language gates and
    * the deterministic sample, which are history-free. Returns the
    * batch's curated survivors; commits O(batch) rows to both stores.
    *
    * Streaming contract (the honest one): no emitted doc exactly
    * duplicates, or near-dups, ANY earlier-emitted or batch-mate
    * survivor — and with ids monotone across batches the output
    * equals one-shot [[curate]] restricted to the batch, UNLESS a
    * later doc first CONNECTS two already-emitted survivors into one
    * component (one-shot would retract one of them; a stream cannot
    * retract — the spec pins both the invariant and the equality on
    * connector-free corpora).
    *
    * Maintenance: `seenDir`/`indexDir` are batch-partitioned
    * [[StoreMaintenance]] stores — consolidate them periodically with
    * [[StoreMaintenance.compactStore]] (answers are row-identical
    * before and after) and bound the dedup horizon with
    * [[StoreMaintenance.dropBatchesBelow]].
    */
  def curateDelta(batch: DataFrame, batchId: Long,
                  seenDir: String, indexDir: String,
                  shingleK: Int = 3, numPerm: Int = 32, bands: Int = 8,
                  jaccardThreshold: Double = 0.8,
                  minQuality: Double = 0.3,
                  keepLangs: Seq[String] = Seq("en"),
                  sampleFraction: Double = 1.0,
                  classifier: Option[TextClassifier.Model] = None,
                  minClassifierProb: Double = 0.5,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = batch.sparkSession

    // 1. exact: min id per hash within the batch, then anti-join the
    // seen store (replay-safe: own batch partition excluded)
    val hashed = batch.withColumn("__h", md5(col(textCol).cast("binary")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col(idCol).asc)
    val firsts = hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val seen = StoreMaintenance.history(spark, seenDir, batchId,
      firsts.select("__h").limit(0))
    val exactSurvivors = firsts.join(seen, Seq("__h"), "left_anti").persist()

    try {
      if (exactSurvivors.isEmpty) return exactSurvivors
        .select(col(idCol), col(textCol)).limit(0)
        .withColumn("pred_lang", lit(null).cast("string"))
        .withColumn("quality", lit(null).cast("double"))

      // 2. near-dup vs index + batch-scoped components over the pairs
      val index = StoreMaintenance.history(spark, indexDir, batchId,
        Dedup.minhashIndex(exactSurvivors.limit(0), shingleK, numPerm, textCol, idCol))
      val (pairs, newIdx) = graft.dedup.Dedup.minhashNearDupsDelta(
        index, exactSurvivors, shingleK, numPerm, bands, jaccardThreshold,
        textCol, idCol)
      // every batch doc whose component contains a smaller id loses;
      // history ids are smaller by the monotone-ingest convention, so
      // they anchor their components automatically
      val nearDeduped = graft.dedup.Clusters.dedupByComponents(
        exactSurvivors, pairs, idCol)

      // 3. history-free gates + deterministic sample
      val scored = TextAnalysis.langId(
        TextAnalysis.qualityScore(nearDeduped, textCol), textCol)
      val gated = applyClassifierGate(scored
        .filter(col("quality") >= minQuality)
        .filter(col("pred_lang").isin(keepLangs: _*)),
        classifier, minClassifierProb, idCol, textCol)
      val sampled =
        if (sampleFraction >= 1.0) gated
        else Sampling.deterministicSample(gated, idCol, sampleFraction)

      // commit O(batch) store rows; the returned frame is lazy, and
      // that is SAFE against a crash between commit and consumption:
      // a replay with the same batchId excludes its own store
      // partitions, so it recomputes the identical output
      StoreMaintenance.writeBatch(exactSurvivors.select("__h"), seenDir, batchId)
      StoreMaintenance.writeBatch(newIdx, indexDir, batchId)
      sampled
        .select(col(idCol), col(textCol), col("pred_lang"), col("quality"))
        .orderBy(idCol)
    } finally exactSurvivors.unpersist(blocking = true)
  }

  /** Sequence packing — assemble curated documents into training
    * sequences of at most `maxTokens` whitespace tokens (the
    * fill-the-context-window step between curation and tokenization).
    *
    * Semantics: first-fit CONTIGUOUS in `idCol` order — walk documents
    * ascending, open a new bin when the next document would overflow
    * `maxTokens`; a single document larger than `maxTokens` gets a bin
    * of its own. Bins never cross `blockSize`-wide id blocks, so the
    * fold is embarrassingly parallel at the price of at most one
    * underfull bin per block (negligible for blockSize ≫ docs/bin).
    *
    * Spark shape: greedy packing is a sequential fold, but it is a
    * fold over a BOUNDED block — one groupBy shuffle of (id, n_tokens)
    * pairs, then `array_sort` + the `aggregate` higher-order function
    * run the fold inside codegen. No mapPartitions, no driver loop,
    * deterministic on any cluster layout. Per-block state is
    * ≤ `blockSize` 16-byte structs, far under executor memory.
    *
    * Returns (idCol, n_tokens, bin_id), bin_id globally unique and
    * deterministic: block * 2^32 + bin-within-block.
    */
  def packSequences(docs: DataFrame, maxTokens: Long,
                    blockSize: Long = 100000,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(blockSize >= 1 && blockSize <= (1L << 32),
      s"blockSize must be in [1, 2^32], got $blockSize")
    // `div` = exact integral division — `/` on longs is DOUBLE division
    // in Spark SQL and silently mis-blocks ids above 2^53. Negative ids
    // would truncate toward zero (merging (-blockSize, blockSize) into
    // one double-width block), so they fail loudly per-row instead.
    val block = when(col(idCol) < 0, raise_error(lit(
      s"packSequences: negative $idCol — block arithmetic requires non-negative ids")))
      .otherwise(expr(s"CAST(`$idCol` AS BIGINT) div $blockSize"))
    val toks = docs.select(
      col(idCol),
      block.as("__block"),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
    val packed = toks.groupBy("__block")
      .agg(sort_array(collect_list(struct(col(idCol).as("id"),
        col("n_tokens").as("tok")))).as("ds"))
      .withColumn("assign", expr(
        s"""aggregate(
           |  ds,
           |  named_struct('bin', 0L, 'used', 0L,
           |    'out', cast(array() as array<struct<id:bigint,tok:bigint,bin:bigint>>)),
           |  (acc, d) -> if(acc.used + d.tok > ${maxTokens}L and acc.used > 0L,
           |    named_struct('bin', acc.bin + 1L, 'used', d.tok,
           |      'out', array_append(acc.out,
           |        named_struct('id', d.id, 'tok', d.tok, 'bin', acc.bin + 1L))),
           |    named_struct('bin', acc.bin, 'used', acc.used + d.tok,
           |      'out', array_append(acc.out,
           |        named_struct('id', d.id, 'tok', d.tok, 'bin', acc.bin)))),
           |  acc -> acc.out)""".stripMargin))
      .select(col("__block"), explode(col("assign")).as("a"))
    packed.select(
      col("a.id").as(idCol),
      col("a.tok").as("n_tokens"),
      (col("__block") * (1L << 32) + col("a.bin")).as("bin_id"))
      .orderBy(idCol)
  }
}
