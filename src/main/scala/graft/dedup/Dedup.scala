package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Deduplication family for a training-data corpus: exact, MinHash+LSH,
  * n-gram Jaccard. (SimHash lives in graft.functions.SimHash64.)
  *
  * Scale design:
  *  - exact: one groupBy on a 128-bit content hash — the shuffle
  *    carries (hash, id), never the text.
  *  - MinHash: signatures are computed map-side from word shingles
  *    (xxhash64 per permutation — codegen'd array exprs, no UDF);
  *    the LSH band join shuffles only (band, bandHash, id) tuples, so
  *    candidate generation is linear-ish, never O(n²) over documents.
  *  - Jaccard verification joins candidate pairs back to shingle sets
  *    by id — only candidate rows rehydrate text-derived arrays.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id. */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  /** Line-level exact dedup — the RefinedWeb/CCNet boilerplate pass:
    * drop every line whose exact content appears in MORE than
    * `maxDocFrequency` distinct documents corpus-wide (cookie banners,
    * nav headers, license stubs), then reassemble each document's
    * surviving lines in original order. A document whose every line is
    * boilerplate disappears entirely.
    *
    * Scale shape: doc-frequency counts group on the 8-byte line hash
    * (the line text never rides the counting shuffle); the corpus then
    * makes one wide reassembly pass (per-doc groupBy) before the
    * deterministic-output orderBy. The hot set is usually small
    * (boilerplate = repeated few) and AQE turns the anti-join into a
    * broadcast when it is — but it is NOT forced: on template-heavy
    * crawls millions of distinct lines can exceed the threshold, and a
    * forced broadcast would drive an unbounded driver collect into the
    * 8 GB broadcast limit; the shuffled anti-join degrades gracefully
    * instead. Hash-vs-text equality follows the project convention
    * (xxhash64, ~2^-64 collisions).
    */
  def dedupLines(docs: DataFrame, maxDocFrequency: Long,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val hot = lines.groupBy(xxhash64(col("line")).as("lh"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > maxDocFrequency)
      .select("lh")
    lines.join(hot, xxhash64(col("line")) === col("lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(pos, line))), s -> s.line)"),
        "\n").as(textCol))
      .orderBy(idCol)
  }

  /** Exact SUBSTRING dedup — the suffix-array pass of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr), re-expressed for Spark at corpus scale: a token
    * span duplicated across documents is removed from every document
    * except a canonical keeper, token-exactly, while unique text
    * survives untouched.
    *
    * Contract (deterministic, engine-independent): token position `t`
    * of doc `d` is removed iff some k-token window covering `t` occurs
    * in ≥ 2 distinct documents AND `d` is not the min doc id holding
    * that window. Remaining tokens re-join in original order (a fully
    * duplicated non-keeper doc collapses to the empty string).
    *
    * Scale shape — the suffix array is replaced by shuffles that never
    * carry text: window identity travels as an 8-byte xxhash64 (project
    * hash-vs-text convention, ~2^-64 collisions); the duplicate-window
    * table and per-doc covered-position arrays are (long, int) tuples,
    * with ranges flattened per doc via `flatten(collect_list(sequence))`
    * — no second explode job. The corpus text itself rides only the
    * final doc-id equi-join, which AQE broadcasts when the covered set
    * is small (the common case: duplication is a thin tail) and
    * degrades to a shuffled join when a template-heavy crawl makes it
    * large. Token filtering is a codegen'd higher-order `filter` over
    * the indexed token array — no UDF, no row explosion of kept text.
    */
  def dedupSpans(docs: DataFrame, k: Int, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens: $k")
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("__w"))
    // (doc, start, windowHash) for every k-token window; docs shorter
    // than k contribute none (the guard disables the kernel's
    // short-doc clamp). Hashes come from the codegen'd byte-range
    // kernel — the window hash is a pure grouping key, so the hash
    // family is free to be the cheapest one
    val wins = docs.select(col(idCol),
      posexplode(when(size(split(col(textCol), " ")) >= k,
        graft.functions.Hashes.gram_rolling_hashes(col(textCol), k))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")))
        .as(Seq("p", "wh")))
    val dup = wins.groupBy("wh")
      .agg(countDistinct(col(idCol)).as("df"), min(col(idCol)).as("keeper"))
      .filter(col("df") >= 2)
      .select("wh", "keeper")
    val covered = wins.join(dup, "wh")
      .filter(col(idCol) =!= col("keeper"))
      .groupBy(idCol)
      .agg(array_distinct(flatten(collect_list(
        sequence(col("p"), col("p") + k - 1)))).as("__cov"))
    toks.join(covered, Seq(idCol), "left")
      .select(col(idCol), array_join(expr(
        """transform(
          |  filter(transform(__w, (w, i) -> struct(w, i)),
          |         s -> __cov IS NULL OR NOT array_contains(__cov, s.i)),
          |  s -> s.w)""".stripMargin), " ").as(textCol))
      .orderBy(idCol)
  }

  /** Word k-shingles of `textCol` as a distinct array column. */
  def shingles(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs.withColumn("__words", split(col(textCol), " "))
      .withColumn("shingles", array_distinct(expr(
        s"transform(sequence(0, greatest(size(__words) - $k, 0)), " +
        s"i -> array_join(slice(__words, i + 1, $k), ' '))")))
      .drop("__words")

  /** MinHash signature: sig(i) = min over shingles of
    * xxhash64(i, xxhash64(shingle)). Each shingle string is hashed
    * ONCE; the `numPerm` permutations then re-hash the resulting long
    * (integer rounds only — ANSI-safe, no overflow, ~10× cheaper than
    * per-permutation string hashing). A seeded hash family without RNG
    * state — fully deterministic and codegen-friendly.
    */
  def minhashSignature(withShingles: DataFrame, numPerm: Int): DataFrame =
    withShingles.withColumn("sig",
      graft.functions.Hashes.minhash_sig(
        expr("transform(shingles, s -> xxhash64(s))"), numPerm))

  /** PORTABLE minhash index rows (id, hs, sig) — every value
    * recomputable in ANY engine from the published spec alone, the
    * [[graft.ops.Sampling.deterministicSamplePortable]] property
    * applied to dedup: shingle hash h = md5 first-15-hex mod 2^31,
    * permutation i of the family sig(i) = min over shingles of
    * ((2i+1)·h + (i·2654435761 mod p)) mod p with p = 2^31 − 1 (odd
    * multipliers, Knuth-constant offsets — a classic universal-ish
    * family whose every product stays under 2^38, exact in BIGINT in
    * any engine). Slower than the xxhash64 path (md5 per shingle)
    * but the SIGNATURES — not just the verified pairs — can be
    * audited or recomputed outside the JVM, which is what lets the
    * DuckDB oracle hash-match the whole pipeline bit for bit.
    *
    * Both steps run as codegen kernels value-identical to the
    * published expression forms (the DedupSpec JVM reference pins the
    * arithmetic):
    *   hs  = array_distinct(transform(shingles, s ->
    *           CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
    *           % 2147483648))
    *   sig = transform(sequence(0, numPerm-1), i -> array_min(
    *           transform(hs, h -> ((2*i + 1) * h
    *             + (i * 2654435761) % 2147483647) % 2147483647)))
    * The expression formulation paid an md5 hex string + a radix-conv
    * string per shingle and numPerm interpreted-lambda passes per doc
    * (~30× the xxhash64 path in-suite); the kernels hash byte ranges
    * and take all minima in one pass.
    */
  def minhashIndexPortable(docs: DataFrame, k: Int, numPerm: Int,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        graft.functions.Hashes.gram_md5_mod31(col(textCol), k).as("hs"))
      .withColumn("sig",
        graft.functions.Hashes.minhash_sig_portable(col("hs"), numPerm))

  /** [[lshBuckets]] with PORTABLE band keys: the band value is the
    * '-'-joined decimal signature slice (a string any engine rebuilds
    * verbatim), not an xxhash64 of it. Same single-posexplode shape.
    */
  def lshBucketsPortable(withSig: DataFrame, numPerm: Int, bands: Int,
                         idCol: String = "doc_id"): DataFrame = {
    val rows = numPerm / bands
    val bandVals = array((0 until bands).map { b =>
      concat_ws("-", (0 until rows).map(r =>
        element_at(col("sig"), b * rows + r + 1).cast("string")): _*)
    }: _*)
    withSig.select(col(idCol), posexplode(bandVals).as(Seq("band_id", "band_hash")))
  }

  /** [[minhashNearDups]] with the portable hash family end to end:
    * shingle hashes, signatures, band keys, and the exact-Jaccard
    * verification all recomputable in any SQL engine — the variant a
    * published dedup recipe ships when its membership decisions must
    * be re-derivable years later. Same scale accounting as the
    * xxhash64 path (one band-key exchange, verify-after-bucket).
    */
  def minhashNearDupsPortable(docs: DataFrame, k: Int, numPerm: Int,
                              bands: Int, threshold: Double,
                              textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    val sh = minhashIndexPortable(docs, k, numPerm, textCol, idCol)
    val buckets = lshBucketsPortable(sh, numPerm, bands, idCol)
    val pairs = bucketPairs(buckets, idCol).distinct()
    verifyJaccard(sh, pairs, threshold, idCol)
  }

  /** LSH banding: split the signature into `bands` bands of
    * `numPerm / bands` rows; each band hashes to a bucket key.
    * Near-duplicates agree on ≥1 band with high probability.
    *
    * One `posexplode` pass — NOT a union of per-band selects, which
    * would re-evaluate the whole shingle+signature pipeline once per
    * band (bands× the map work at any scale).
    */
  def lshBuckets(withSig: DataFrame, numPerm: Int, bands: Int,
                 idCol: String = "doc_id"): DataFrame = {
    val rows = numPerm / bands
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rows).map(r =>
        element_at(col("sig"), b * rows + r + 1)): _*)
    }: _*)
    withSig.select(col(idCol), posexplode(bandHashes).as(Seq("band_id", "band_hash")))
  }

  /** Candidate pairs (a < b) by PER-BUCKET COMBINATION GENERATION,
    * not a bucket self-join: group ids per (band, hash), expand
    * (x < y) combinations inside codegen. A self-join evaluates the
    * whole shingle→signature→band pipeline once per side (probe +
    * build); this shape has ONE consumer, so the signature pipeline
    * runs once, and candidate generation costs a single exchange of
    * (band, hash, id) longs. Hot-bucket behavior is identical to the
    * self-join (a bucket of c ids yields c·(c−1)/2 pairs in one task
    * either way — degenerate bands are a parameter problem, not a
    * plan problem; the soak profile tracks max occupancy).
    */
  private def bucketPairs(buckets: DataFrame, idCol: String,
                          maxBucket: Int = Int.MaxValue): DataFrame =
    buckets.groupBy("band_id", "band_hash")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .withColumn("ids", array_sort(col("ids")))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .select("p.doc_a", "p.doc_b")

  /** CONTAINMENT pairs — Broder's asymmetric near-dup measure
    * (c(A→B) = |A∩B| / |A| over distinct shingle sets): the
    * excerpt/quote detector. A 12-word excerpt of a 500-word page has
    * near-zero JACCARD (the union is huge) but containment ≈ 1.0 —
    * symmetric MinHash dedup is structurally blind to it, which is
    * why dedup recipes run a containment pass for boilerplate quotes,
    * syndicated ledes, and copy-pasted passages.
    *
    * Candidates come from a shingle INVERTED INDEX (docs sharing ≥ 1
    * shingle hash), with a document-frequency cap on the shingle —
    * stopword-grade shingles shared by half the corpus generate
    * quadratic candidates while signaling nothing (the dedupLines
    * hot-line convention); the cap gates CANDIDATES only, the verify
    * counts full intersections. A pair survives when its LARGER
    * containment direction clears `threshold`, and both directions
    * are reported (which side is the excerpt matters).
    *
    * Portable contract: shingle hashes are the md5-mod-2^31 family
    * ([[minhashIndexPortable]]), so candidates, both containments,
    * and the survivors all recompute in any engine.
    *
    * Scale shape — NOTHING wider than 16-byte rows rides any
    * candidate-sized exchange (the round-16 octave measured 82x CPU
    * for 32x data when shingle ARRAYS rode the verify shuffle):
    *  1. one (hash, id) exchange builds the inverted index;
    *  2. capped buckets expand to (doc_a, doc_b) combinations whose
    *     groupBy-count collapses duplicates AND yields `__shared` =
    *     the exact number of shared in-cap shingles (map-side partial
    *     agg — strictly cheaper than the old distinct());
    *  3. a SIZE-BOUND pre-filter kills most candidates before any
    *     verify work: a shared shingle is either in-cap (counted
    *     exactly by `__shared`) or over-cap, and each doc holds only
    *     `__over(id)` over-cap shingles, so
    *       |A∩B| ≤ __shared + min(__over_a, __over_b)
    *     bounds the larger containment direction by
    *       (__shared + min(__over_a, __over_b)) / min(|A|, |B|);
    *  4. survivors verify EXACTLY on narrow rows: the melted
    *     survivor-pair join against the exploded (id, h) stream,
    *     grouped by (pair, h) — a shingle shared by both sides counts
    *     2 (hashes are distinct per doc) — then counted per pair. No
    *     array ever crosses an exchange; the per-pair verify volume is
    *     (|A|+|B|) 24-byte rows for SURVIVOR pairs only.
    */
  def containmentPairs(docs: DataFrame, k: Int, threshold: Double,
                       maxShingleDf: Int = 100, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    require(maxShingleDf >= 2, s"maxShingleDf must be >= 2: $maxShingleDf")
    // ONE shingle pass: the exploded (id, __n, h) stream has three
    // consumers (candidate buckets, per-doc sizes, the exact verify) —
    // un-materialized, each evaluated the md5 shingling again (the
    // executed plan showed 3 corpus-shingle humps, ~3x the query's
    // CPU). The eager localCheckpoint computes it once; narrow
    // 24-byte rows, batch-sized blocks, freed with the plan (fresh per
    // run — nothing survives across runs). __n rides every row so
    // sizes need no second pass over the arrays (the containmentIndex
    // layout).
    val nPart = docs.sparkSession.sparkContext.defaultParallelism
    val shxPre = docs.select(col(idCol),
        graft.functions.Hashes.gram_md5_mod31(col(textCol), k).as("hs"))
      .select(col(idCol), size(col("hs")).cast("long").as("__n"),
        explode(col("hs")).as("h"))
    // coalesce before the checkpoint: a unioned input (corpus ∪
    // excerpts, 2×parallelism partitions) would otherwise schedule
    // every consumer at 2x task count for byte-light blocks
    val shx = (if (shxPre.rdd.getNumPartitions > nPart)
      shxPre.coalesce(nPart) else shxPre).localCheckpoint()
    // explicit-N repartition on the group key (the winnowingPairs
    // pattern): it satisfies the groupBy's distribution (no second
    // exchange) and is exempt from AQE partition coalescing — bucket
    // rows are a few bytes each, so AQE's byte heuristic collapsed the
    // CPU-dense combination expansion below to ~4 tasks (trace: a
    // 4-task 2.4 s stage on 32 cores)
    val byHash = shx.repartition(nPart, col("h"))
      .groupBy("h").agg(collect_list(col(idCol)).as("ids"))
    // exact count of shared in-cap shingles per candidate pair: each
    // capped bucket holding both docs contributes exactly one row
    val cand = byHash
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxShingleDf)
      .withColumn("ids", array_sort(col("ids")))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("__shared"))
    // per-doc totals + over-cap slack (a doc's shingles living in
    // df > cap buckets — the only shared shingles __shared misses)
    val over = byHash.filter(size(col("ids")) > maxShingleDf)
      .select(explode(col("ids")).as(idCol))
      .groupBy(idCol).agg(count(lit(1)).as("__over"))
    // per-doc sizes re-aggregate the checkpointed stream (docs with
    // zero shingles are absent, and harmless: a candidate pair's sides
    // always hold >= 1 shingle, and sizes only ever join survivors)
    val sizes = shx.groupBy(idCol).agg(max(col("__n")).as("__n"))
      .join(over, Seq(idCol), "left")
      .withColumn("__over", coalesce(col("__over"), lit(0L)))
    val survivors = cand
      .join(sizes.select(col(idCol).as("doc_a"),
        col("__n").as("__na"), col("__over").as("__oa")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"),
        col("__n").as("__nb"), col("__over").as("__ob")), Seq("doc_b"))
      // threshold - 5e-7: the final filter compares ROUND(c, 6), which
      // can round a containment up to 5e-7 below threshold over the
      // line — the bound must not kill those
      .filter((col("__shared") + least(col("__oa"), col("__ob")))
        .cast("double") / least(col("__na"), col("__nb")) >=
        threshold - 5e-7)
    // exact verify on narrow rows: count shingles present on BOTH
    // sides of each surviving pair (per-doc hashes are distinct sets,
    // so a (pair, h) group of 2 means shared)
    val melted = survivors.select(col("doc_a"), col("doc_b"),
      col("__na"), col("__nb"),
      explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    shx.join(melted, idCol)
      .groupBy("doc_a", "doc_b", "__na", "__nb", "h")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") === 2)
      .groupBy("doc_a", "doc_b", "__na", "__nb")
      .agg(count(lit(1)).cast("double").as("__common"))
      .withColumn("c_a_in_b", round(col("__common") / col("__na"), 6))
      .withColumn("c_b_in_a", round(col("__common") / col("__nb"), 6))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
      .orderBy("doc_a", "doc_b")
  }

  /** The persistent CONTAINMENT index rows for a corpus batch: one
    * narrow (id, h, __n) row per distinct shingle hash, where `__n`
    * is the doc's distinct-shingle count riding every row (parquet
    * RLE makes the repeat ~free, and it spares the delta path a
    * corpus-wide size lookup). Store as a parquet table and APPEND
    * each batch's rows; [[containmentDelta]] then detects a new
    * batch's excerpt/quote pairs without re-reading or re-shingling
    * old text — [[minhashIndex]]'s incremental philosophy applied to
    * the asymmetric measure.
    */
  def containmentIndex(docs: DataFrame, k: Int, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      graft.functions.Hashes.gram_md5_mod31(col(textCol), k).as("hs"))
      .select(col(idCol), size(col("hs")).cast("long").as("__n"),
        explode(col("hs")).as("h"))
      .select(col(idCol), col("h"), col("__n"))

  /** Incremental containment detection: shingle ONLY `newDocs`, then
    * report every verified containment pair with at least one new
    * side — (new × indexed) ∪ (new × new). Returns
    * (pairs, newIndexRows); append the new rows to the stored index
    * afterwards. Pair identity matches [[containmentPairs]]: same
    * hash family, same df cap, same exact two-sided verify and 6dp
    * emit.
    *
    * 100 TB accounting per batch: the index is JOINED, never
    * re-shingled and never shuffled — the batch's distinct hashes
    * broadcast against the store's `h` column (candidates), and the
    * surviving pairs' ids broadcast against the store's id column
    * (verify); everything exchanged between is candidate- or
    * batch-sized narrow rows, the [[containmentPairs]] discipline.
    *
    * Df-cap drift semantics (the one asymmetry vs a one-shot rerun):
    * the document-frequency cap gates a pair at ITS ARRIVAL TIME,
    * over the corpus as of that batch. A shingle that later crosses
    * the cap does not retract already-reported pairs — delta recall
    * never degrades as the corpus grows (a one-shot rerun on the
    * grown corpus can only LOSE candidates to the cap). Corpora
    * whose shingle dfs stay under the cap make multi-wave output
    * exactly equal to the one-shot (spec-pinned).
    */
  def containmentDelta(index: DataFrame, newDocs: DataFrame, k: Int,
                       threshold: Double, maxShingleDf: Int = 100,
                       textCol: String = "text",
                       idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    require(maxShingleDf >= 2, s"maxShingleDf must be >= 2: $maxShingleDf")
    // the pinned copy serves this call's ~5 subplans; the returned
    // index rows are the plain O(batch) plan (re-shingles the batch
    // once at write time, after the pins below are released)
    val newIdx = containmentIndex(newDocs, k, textCol, idCol)
    Tables.persisted(newIdx) { newIdxP =>
      val newH = newIdxP.select("h").distinct()
      // store rows matching any batch hash — the only store rows that
      // can form a candidate with a new doc
      Tables.persisted(index.join(broadcast(newH), Seq("h"))) { storeMatched =>
        // combined document frequency of every BATCH hash (store + new):
        // the same df the one-shot inverted index would see at this
        // corpus state
        Tables.persisted(newIdxP.groupBy("h").agg(count(lit(1)).as("__dfn"))
          .join(storeMatched.groupBy("h").agg(count(lit(1)).as("__dfs")),
            Seq("h"), "left")
          .select(col("h"),
            (col("__dfn") + coalesce(col("__dfs"), lit(0L))).as("__df"))) { dfTot =>
          val inCap = dfTot.filter(col("__df") <= maxShingleDf).select("h")
          // cross candidates (old × new): one row per shared in-cap hash,
          // counted per pair == the exact shared-in-cap count
          val crossShared = storeMatched.join(broadcast(inCap), Seq("h"))
            .select(col("h"), col(idCol).as("__old"))
            .join(newIdxP.join(broadcast(inCap), Seq("h"))
              .select(col("h"), col(idCol).as("__new")), Seq("h"))
            .filter(col("__old") =!= col("__new"))
            .groupBy(least(col("__old"), col("__new")).as("doc_a"),
              greatest(col("__old"), col("__new")).as("doc_b"))
            .agg(count(lit(1)).as("__shared"))
          // within-batch candidates: the one-shot bucket expansion over
          // batch rows, in-cap under the COMBINED df
          val withinShared = newIdxP.join(broadcast(inCap), Seq("h"))
            .groupBy("h").agg(collect_list(col(idCol)).as("ids"))
            .filter(size(col("ids")) > 1)
            .withColumn("ids", array_sort(col("ids")))
            .select(explode(expr(
              """flatten(transform(ids, (x, i) ->
                |  transform(slice(ids, i + 2, size(ids)),
                |            y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
              .as("p"))
            .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
            .agg(count(lit(1)).as("__shared"))
          // old×old pairs were reported when their batches arrived; the
          // two candidate families are disjoint (one-new vs both-new)
          val cand = crossShared.unionByName(withinShared)
          // per-doc size + over-cap slack, batch-hash scope: for NEW docs
          // __over is exact; for OLD docs it counts matched hashes only —
          // still a valid bound, because a hash shared with a new doc IS
          // a batch hash (the containmentPairs size-bound rationale)
          val scoped = newIdxP.select(col(idCol), col("h"), col("__n"))
            .unionByName(storeMatched.select(col(idCol), col("h"), col("__n")))
          val sizes = scoped
            .join(broadcast(dfTot.filter(col("__df") > maxShingleDf).select("h")
              .withColumn("__oc", lit(1L))), Seq("h"), "left")
            .groupBy(idCol)
            .agg(max(col("__n")).as("__n"),
              coalesce(sum(col("__oc")), lit(0L)).as("__over"))
          val survivors = cand
            .join(sizes.select(col(idCol).as("doc_a"),
              col("__n").as("__na"), col("__over").as("__oa")), Seq("doc_a"))
            .join(sizes.select(col(idCol).as("doc_b"),
              col("__n").as("__nb"), col("__over").as("__ob")), Seq("doc_b"))
            .filter((col("__shared") + least(col("__oa"), col("__ob")))
              .cast("double") / least(col("__na"), col("__nb")) >=
              threshold - 5e-7)
          // exact verify on narrow rows — the containmentPairs
          // count==2-per-(pair,h) two-stage agg, over storeMatched ∪ batch
          // instead of the FULL index ∪ batch: a (pair, h) group reaches
          // count == 2 only when h sits on BOTH sides, every pair has a
          // new side, and a new side's hashes are all batch hashes — so an
          // old-side row whose h matches no batch hash can only ever form
          // a count == 1 group, which the filter drops anyway. Scoping the
          // verify to storeMatched removes the second full scan of the
          // standing index (in the bench entry, a second full re-shingle
          // of the corpus; at 100 TB, a second pass over the whole store).
          val melted = survivors.select(col("doc_a"), col("doc_b"),
            col("__na"), col("__nb"),
            explode(array(col("doc_a"), col("doc_b"))).as(idCol))
          val allRows = storeMatched.select(col(idCol), col("h"))
            .unionByName(newIdxP.select(col(idCol), col("h")))
          val pairs = allRows.join(melted, idCol)
            .groupBy("doc_a", "doc_b", "__na", "__nb", "h")
            .agg(count(lit(1)).as("__c"))
            .filter(col("__c") === 2)
            .groupBy("doc_a", "doc_b", "__na", "__nb")
            .agg(count(lit(1)).cast("double").as("__common"))
            .withColumn("c_a_in_b", round(col("__common") / col("__na"), 6))
            .withColumn("c_b_in_a", round(col("__common") / col("__nb"), 6))
            .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
            .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
            .orderBy("doc_a", "doc_b")
            .localCheckpoint() // materialize before the pins release
          (pairs, newIdx)
        }
      }
    }
  }

  /** Exact hashed-shingle Jaccard over candidate (doc_a, doc_b) pairs:
    * rehydrates shingle SETS by id with ONE pass over `sh` ((id, hs)
    * rows) — the pairs melt to (pair, id) rows and the corpus-sized sh
    * table joins them a single time (AQE broadcasts the melted
    * candidates when they are small — the common case); per-pair sets
    * reassemble in a candidate-sized agg. A two-sided join (doc_a side
    * + doc_b side) would cost two more full evaluations of the shingle
    * map at corpus scale.
    */
  private def verifyJaccard(sh: DataFrame, pairs: DataFrame,
                            threshold: Double, idCol: String): DataFrame = {
    val melted = pairs.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as(idCol))
    sh.select(col(idCol), col("hs")).join(melted, idCol)
      .groupBy("doc_a", "doc_b")
      .agg(max(when(col(idCol) === col("doc_a"), col("hs"))).as("sh_a"),
           max(when(col(idCol) === col("doc_b"), col("hs"))).as("sh_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Candidate pairs (a < b) sharing an LSH bucket, with exact
    * shingle-Jaccard verification ≥ `threshold`.
    */
  def minhashNearDups(docs: DataFrame, k: Int, numPerm: Int, bands: Int,
                      threshold: Double, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    // shingles hash to 64-bit longs ONCE; the signature consumes the
    // hashed array directly, and verification compares HASHED shingle
    // sets — exact Jaccard over distinct sets is unchanged (modulo
    // ~2^-64 collisions) while the rehydrate joins shuffle 8-byte
    // longs instead of shingle strings (~hundreds of bytes per doc
    // saved through two joins at corpus scale).
    val sh = minhashIndex(docs, k, numPerm, textCol, idCol)
    val buckets = lshBuckets(sh, numPerm, bands, idCol)
    val pairs = bucketPairs(buckets, idCol).distinct()
    verifyJaccard(sh, pairs, threshold, idCol)
  }

  /** The persistent near-dup INDEX rows for a corpus batch:
    * (id, hs, sig) — hashed shingle set + MinHash signature. Store as
    * a parquet table and APPEND each ingest batch's rows; with the
    * index on disk, [[minhashNearDupsDelta]] detects a new batch's
    * near-dups without ever re-reading, re-shingling, or re-hashing
    * old text. (This is the sync engine's incremental philosophy
    * applied to dedup state — cf. reference sync_engine.py's
    * fetch-only-the-delta loop.)
    */
  def minhashIndex(docs: DataFrame, k: Int, numPerm: Int,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      graft.functions.Hashes.gram_hashes(col(textCol), k).as("hs"))
      .withColumn("sig", graft.functions.Hashes.minhash_sig(col("hs"), numPerm))

  /** Incremental near-dup detection: hash ONLY `newDocs`, then find
    * every verified near-dup pair with at least one new side —
    * (new × indexed) ∪ (new × new). Returns (pairs, newIndexRows);
    * append the new rows to the stored index afterwards.
    *
    * 100 TB accounting per batch: the index is SCANNED (bucket keys
    * re-derive from the stored `sig` by a narrow map — nothing is
    * re-shingled) but never shuffled: the new batch's bucket keys
    * join BROADCAST against the index buckets, so batch cost is
    * O(index scan) + O(batch² within shared buckets) + a
    * candidate-bounded verify — not O(corpus²) and not a corpus
    * reshuffle. Old×old pairs were reported when their batches
    * arrived; re-deriving them is the full [[minhashNearDups]]'s job.
    *
    * Pair identity matches the batch path exactly: same hash family,
    * same banding, same Jaccard — the spec pins batch1-pairs ∪
    * delta-pairs == one-shot pairs on the concatenated corpus.
    */
  def minhashNearDupsDelta(index: DataFrame, newDocs: DataFrame, k: Int,
                           numPerm: Int, bands: Int, threshold: Double,
                           textCol: String = "text",
                           idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val newIdx = minhashIndex(newDocs, k, numPerm, textCol, idCol)
    val newBuckets = lshBuckets(newIdx, numPerm, bands, idCol)
    val oldBuckets = lshBuckets(index, numPerm, bands, idCol)
    // new × indexed: the batch side is the small one — broadcast it;
    // the index never moves
    val crossPairs = oldBuckets
      .join(broadcast(newBuckets.withColumnRenamed(idCol, "__new_id")),
        Seq("band_id", "band_hash"))
      .filter(col(idCol) =!= col("__new_id"))
      .select(least(col(idCol), col("__new_id")).as("doc_a"),
        greatest(col(idCol), col("__new_id")).as("doc_b"))
    val pairs = crossPairs
      .unionByName(bucketPairs(newBuckets, idCol))
      .distinct()
    val verified = verifyJaccard(index.unionByName(newIdx), pairs,
      threshold, idCol)
    (verified, newIdx)
  }

  /** SimHash near-duplicate pairs: the 64-bit signature split into 4
    * 16-bit bands as blocking keys — by pigeonhole, any pair within
    * hamming distance ≤ 3 agrees on at least one band, so candidate
    * generation is a band equi-join (signatures only, never text);
    * candidates verify by exact hamming distance.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only for hamming <= 3")
    val sigs = docs
      .withColumn("sig", graft.functions.Hashes.simhash64(split(col(textCol), " ")))
      .select(col(idCol), col("sig"))
    // the 8-byte sig rides THROUGH the band grouping (unlike MinHash,
    // where shingle sets are too big to shuffle), so the verify step
    // needs no extra joins — and per-bucket combination generation
    // (see minhashNearDups) means the signature subtree has ONE
    // consumer instead of a self-join's two. One posexplode pass.
    val banded = sigs.select(col(idCol), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bkey")))
    banded.groupBy("band", "bkey")
      .agg(collect_list(struct(col(idCol), col("sig"))).as("xs"))
      .filter(size(col("xs")) > 1)
      .withColumn("xs", array_sort(col("xs"))) // ids unique → sorts by id
      .select(explode(expr(
        s"""flatten(transform(xs, (x, i) ->
           |  transform(slice(xs, i + 2, size(xs)),
           |            y -> struct(x.$idCol AS doc_a, y.$idCol AS doc_b,
           |                        x.sig AS sig_a, y.sig AS sig_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        graft.functions.Hashes.hamming64(col("p.sig_a"), col("p.sig_b"))
          .cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram (word) Jaccard similarity for given id pairs.
    * Grams live as 64-bit hashes end-to-end ([[graft.functions.Hashes.gram_hashes]]):
    * set sizes — and so the Jaccard value — are unchanged modulo
    * ~2^-64 collisions, while the adjacency join shuffles 8-byte longs
    * instead of gram strings.
    */
  def ngramJaccardAdjacent(docs: DataFrame, n: Int,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol),
      graft.functions.Hashes.gram_hashes(col(textCol), n).as("shingles"))
    val a = sh.select(col(idCol).as("doc_id_a"), col("shingles").as("sh_a"))
    val b = sh.select((col(idCol) - 1).as("doc_id_a"),
      col(idCol).as("doc_id_b"), col("shingles").as("sh_b"))
    a.join(b, "doc_id_a")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))), 6))
      .select("doc_id_a", "doc_id_b", "jaccard")
      .orderBy("doc_id_a")
  }
}
