package graft


import org.apache.spark.sql.functions._

import graft.streaming.{IncrementalStream, SnapshotStore, StoreMaintenance}
import graft.sync.StateStore

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming incremental: file source -> windowed agg -> memory sink") {
    // drive the streaming query with the real events table as a batch
    val batch = graft.core.Tables.events(spark, sfDir)
    val tmp = tempDir("graft_stream_in")
    batch.write.mode("overwrite").parquet(tmp)

    val stream = IncrementalStream.readEvents(spark, tmp,
      batch.schema, maxFilesPerTrigger = 2)
    val agg = IncrementalStream.bucketedCounts(stream, "ts", "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_test").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; with a 10min
      // watermark over a 30-day batch all but the tail are closed
      val got = spark.table("graft_stream_test")
      val batchAgg = batch.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      assert(got.count() > 0)
      assert(got.count() <= batchAgg.count())
      // closed windows must match the batch aggregation exactly
      val g = got.select(col("bucket_ts"), col("event_type"), col("n_events"))
      val b = batchAgg.select(col("window.start").as("bucket_ts"),
        col("event_type"), col("n_events"))
      assert(g.join(b, Seq("bucket_ts", "event_type", "n_events"), "left_anti").count() == 0)
    } finally q.stop()
  }

  test("streaming keep-latest per key within watermark") {
    val batch = graft.core.Tables.events(spark, sfDir).limit(100)
    val tmp = tempDir("graft_stream_dd")
    batch.write.mode("overwrite").parquet(tmp)
    val stream = IncrementalStream.readEvents(spark, tmp, batch.schema)
    val dd = IncrementalStream.latestPerKey(stream, "ts", "user_id", "1 hour")
    val q = dd.writeStream.outputMode("append")
      .format("memory").queryName("graft_dd_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_dd_test")
      assert(got.count() > 0)
      assert(got.count() <= batch.select("user_id").distinct().count())
    } finally q.stop()
  }

  test("mapGroupsWithState watermark-per-key matches batch max(ts) per user") {
    val batch = graft.core.Tables.events(spark, sfDir).limit(500)
    val tmp = tempDir("graft_stream_wm")
    batch.write.mode("overwrite").parquet(tmp)
    val stream = IncrementalStream.readEvents(spark, tmp, batch.schema)
    val wm = IncrementalStream.watermarkPerKey(stream, "user_id", "ts")
    val q = wm.writeStream.outputMode("update")
      .format("memory").queryName("graft_wm_test").start()
    try {
      q.processAllAvailable()
      // last state per key must equal the batch max(ts) / count per key
      val got = spark.table("graft_wm_test")
        .groupBy("key")
        .agg(max(col("watermark")).as("watermark"),
             max(col("total_rows")).as("total_rows"))
      val want = batch.groupBy(col("user_id").cast("long").as("key"))
        .agg(max(col("ts")).as("watermark"), count(lit(1)).as("total_rows"))
      assert(got.join(want, Seq("key", "watermark", "total_rows"), "left_anti")
        .count() == 0)
      assert(got.count() == want.count())
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: closed sessions match batch sessionize") {
    val batch = graft.core.Tables.events(spark, sfDir)
    val tmp = tempDir("graft_stream_sess")
    batch.write.mode("overwrite").parquet(tmp)
    val stream = IncrementalStream.readEvents(spark, tmp, batch.schema,
      maxFilesPerTrigger = 1)
    val sess = IncrementalStream.sessionizeStream(stream, "user_id", "ts",
      gapMinutes = 30, watermark = "10 minutes")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("graft_sess_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_sess_test")
        .select(col("key"), col("session_start"), col("session_end"), col("n_events"))
      assert(got.count() > 0)
      // every emitted (closed) session must exist verbatim in the batch result
      val want = graft.queries.Analytics.sessionize(spark, sfDir)
        .select(col("user_id").cast("long").as("key"),
          col("session_start"), col("session_end"), col("n_events"))
      assert(got.join(want,
        Seq("key", "session_start", "session_end", "n_events"), "left_anti")
        .count() == 0)
    } finally q.stop()
  }

  test("state store: save/load/checkpoint/rollback round-trip") {
    val tmp = tempDir("graft_state")
    val st = new StateStore(spark, tmp)
    assert(st.loadWatermark("events").isEmpty)
    st.saveWatermark("events", "2024-01-20 00:00:00")
    st.saveWatermark("orders", "1998-01-01")
    assert(st.loadWatermark("events").contains("2024-01-20 00:00:00"))
    val cp = st.checkpoint()
    st.saveWatermark("events", "2024-02-01 00:00:00")
    assert(st.loadWatermark("events").contains("2024-02-01 00:00:00"))
    st.rollback(cp)
    assert(st.loadWatermark("events").contains("2024-01-20 00:00:00"))
    assert(cp == Map("events" -> "2024-01-20 00:00:00", "orders" -> "1998-01-01"))
  }

  test("stream-stream interval join matches the batch interval join") {
    val batch = graft.core.Tables.events(spark, sfDir).limit(300)
    val tmp = tempDir("graft_ss_join")
    batch.write.mode("overwrite").parquet(tmp)
    val a = IncrementalStream.readEvents(spark, tmp, batch.schema)
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"), col("ts").as("a_ts"))
    val b = IncrementalStream.readEvents(spark, tmp, batch.schema)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts").as("b_ts"))
    val joined = IncrementalStream.intervalJoin(a, b,
      "a_user", "b_user", "a_ts", "b_ts", "1 HOUR", "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("graft_ssj_test").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_ssj_test").count()
      val ba = batch.select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      val bb = batch.select(col("user_id").as("b_user"), col("ts").as("b_ts"))
      val want = ba.join(bb, expr(
        "a_user = b_user AND b_ts BETWEEN a_ts - INTERVAL 1 HOUR AND a_ts")).count()
      assert(got == want)
      assert(got > 0)
    } finally q.stop()
  }

  test("foreachBatch upsert sink converges to batch upsertKeepLatest") {
    val batch = graft.core.Tables.events(spark, sfDir)
    val in = tempDir("graft_upsert_in")
    val target = tempDir("graft_upsert_out") + "/t"
    val ckpt = tempDir("graft_upsert_ck")
    batch.write.mode("overwrite").parquet(in)
    val stream = IncrementalStream.readEvents(spark, in, batch.schema,
      maxFilesPerTrigger = 2)
    val q = IncrementalStream.sinkUpsert(stream, target, ckpt,
      Seq("user_id"), "ts", "event_id").start()
    try {
      q.processAllAvailable()
      val got = IncrementalStream.readUpsertTarget(spark, target).get
        .select("user_id", "event_id").as[(Long, Long)].collect().toMap
      val want = graft.sync.SyncOps
        .upsertKeepLatest(batch, Seq("user_id"), "ts", "event_id")
        .select("user_id", "event_id").as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  test("scd2 micro-batch merges converge to one-shot scd2; replay is a no-op") {
    val all = graft.core.Tables.events(spark, sfDir)
    val hist = tempDir("graft_scd2_hist") + "/h"
    val cuts = Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00",
      "2024-01-25 00:00:00", "2099-01-01 00:00:00")
    var lo = "1970-01-01 00:00:00"
    cuts.zipWithIndex.foreach { case (hi, i) =>
      val wave = all.filter(col("ts") > lit(lo).cast("timestamp") &&
        col("ts") <= lit(hi).cast("timestamp"))
      IncrementalStream.mergeScd2Batch(wave, i.toLong, hist,
        Seq("user_id"), Seq("event_type"), "ts", "event_id")
      lo = hi
    }
    // at-least-once replay of an already-committed batch: no-op
    IncrementalStream.mergeScd2Batch(
      all.filter(col("ts") <= lit(cuts.head).cast("timestamp")),
      0L, hist, Seq("user_id"), Seq("event_type"), "ts", "event_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("is_current"))
        .as[(Long, String, String, String, Boolean)].collect().toSet
    val got = canon(IncrementalStream.readUpsertTarget(spark, hist).get)
    val want = canon(graft.sync.SyncOps.scd2(all,
      Seq("user_id"), Seq("event_type"), "ts", "event_id"))
    assert(got == want)
  }

  test("cdc micro-batch merges converge to one-shot applyChangeLog; replay is a no-op") {
    val ev = graft.core.Tables.events(spark, sfDir)
    // synthetic Debezium-ish envelopes: a purchase closes the account
    // (delete); anything else upserts the row
    val log = ev.select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"),
      when(col("event_type") === "purchase", lit("delete"))
        .otherwise(lit("upsert")).as("op"))
    val tgt = tempDir("graft_cdc_tgt") + "/t"
    val cuts = Seq("2024-01-10 00:00:00", "2024-01-20 00:00:00",
      "2024-01-25 00:00:00", "2099-01-01 00:00:00")
    var lo = "1970-01-01 00:00:00"
    cuts.zipWithIndex.foreach { case (hi, i) =>
      val wave = log.filter(col("ts") > lit(lo).cast("timestamp") &&
        col("ts") <= lit(hi).cast("timestamp"))
      IncrementalStream.mergeCdcBatch(wave, i.toLong, tgt,
        Seq("user_id"), "op", "ts", "event_id")
      lo = hi
    }
    // at-least-once replay of an already-committed batch: no-op
    IncrementalStream.mergeCdcBatch(
      log.filter(col("ts") <= lit(cuts.head).cast("timestamp")),
      0L, tgt, Seq("user_id"), "op", "ts", "event_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id"),
        col("ts").cast("string"), col("event_type"))
        .as[(Long, Long, String, String)].collect().toSet
    val got = canon(IncrementalStream.readUpsertTarget(spark, tgt).get)
    val want = canon(graft.sync.SyncOps.applyChangeLog(
      log.drop("op").limit(0), log, Seq("user_id"), "op", "ts", "event_id"))
    assert(got == want)
    assert(got.nonEmpty)
    // the delete rule has bite: users whose LAST envelope is a
    // purchase are absent from the snapshot
    val lastDeleted = graft.sync.SyncOps
      .upsertKeepLatest(log, Seq("user_id"), "ts", "event_id")
      .filter(col("op") === "delete")
      .select("user_id").as[Long].collect().toSet
    assert(lastDeleted.nonEmpty)
    assert(got.forall(r => !lastDeleted.contains(r._1)))
  }

  test("image-dedup micro-batches: cross-wave pairs found, replay no-op, == one-shot") {
    import graft.mm.Multimodal
    def img(id: Long, seed: Long, flip: Boolean): Multimodal.MediaRow = {
      // pseudorandom 9x8 raster (a gradient would give every image
      // the SAME dhash — adjacent-pixel differences are constant);
      // flip perturbs one pixel strongly enough to flip a bit
      val md = java.security.MessageDigest.getInstance("MD5")
      val grays = for (y <- 0 until 8; x <- 0 until 9) yield {
        val g = md.digest(s"$seed|${y * 9 + x}".getBytes("UTF-8"))(0) & 0xff
        if (flip && y == 0 && x == 0) (g + 101) % 256 else g
      }
      Multimodal.MediaRow(id, "image", Multimodal.grayPixelGif(grays, 9, 8), 0, 0, 0)
    }
    // wave 1: originals 1..4; wave 2: near-copies 11..14 (+ one unrelated)
    val w1 = (1L to 4L).map(i => img(i, i, flip = false))
    val w2 = (1L to 4L).map(i => img(i + 10, i, flip = true)) :+
      img(99L, 7777L, flip = false)
    val idx = tempDir("graft_imgdedup") + "/idx"
    val pairs = tempDir("graft_imgdedup") + "/pairs"
    IncrementalStream.imageDedupBatch(w1.toDF(), 0L, idx, pairs, maxHamming = 3)
    IncrementalStream.imageDedupBatch(w2.toDF(), 1L, idx, pairs, maxHamming = 3)
    // replay of wave 1: must not pair wave-1 docs against their own
    // leftover hashes or duplicate anything
    IncrementalStream.imageDedupBatch(w1.toDF(), 0L, idx, pairs, maxHamming = 3)
    val got = StoreMaintenance.read(spark, pairs).get
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val oneShot = Multimodal.dhashPairs(
      Multimodal.dhash((w1 ++ w2).toDS()).toDF(), 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == oneShot)
    assert((1L to 4L).forall(i => got.contains((i, i + 10)))) // each copy found
    assert(!got.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("audio-dedup micro-batches: cross-wave pairs found, replay no-op, == one-shot") {
    import graft.mm.Multimodal
    def clip(id: Long, seed: String, relevel: Boolean): Multimodal.MediaRow = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val u = (0 until 32).flatMap(blk =>
        md.digest(s"$seed:$blk".getBytes("UTF-8")).map(_ & 0xff).toSeq)
      Multimodal.MediaRow(id, "audio",
        Multimodal.pcmWavU8(if (relevel) u.map(_ * 9 / 10) else u), 0, 0, 0)
    }
    // wave 1: originals 1..4; wave 2: re-leveled copies 11..14 + one stranger
    val w1 = (1L to 4L).map(i => clip(i, s"c$i", relevel = false))
    val w2 = (1L to 4L).map(i => clip(i + 10, s"c$i", relevel = true)) :+
      clip(99L, "stranger", relevel = false)
    val idx = tempDir("graft_auddedup") + "/idx"
    val pairs = tempDir("graft_auddedup") + "/pairs"
    IncrementalStream.audioDedupBatch(w1.toDF(), 0L, idx, pairs, maxHamming = 3)
    IncrementalStream.audioDedupBatch(w2.toDF(), 1L, idx, pairs, maxHamming = 3)
    // replay of wave 1: own leftover fingerprints are not history
    IncrementalStream.audioDedupBatch(w1.toDF(), 0L, idx, pairs, maxHamming = 3)
    val got = StoreMaintenance.read(spark, pairs).get
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val oneShot = Multimodal.audioNearDups((w1 ++ w2).toDS(), maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == oneShot)
    assert((1L to 4L).forall(i => got.contains((i, i + 10)))) // each copy found
    assert(!got.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("foreachBatch agg-state sink == batch bucketState, bit-identical across micro-batching") {
    val batch = graft.core.Tables.events(spark, sfDir)
    val in = tempDir("graft_aggsink_in")
    val stateDir = tempDir("graft_aggsink_out") + "/s"
    val ckpt = tempDir("graft_aggsink_ck")
    batch.write.mode("overwrite").parquet(in)
    // small trigger size so the state is built through MANY merges
    val stream = IncrementalStream.readEvents(spark, in, batch.schema,
      maxFilesPerTrigger = 1)
    val q = IncrementalStream.sink(stream, ckpt)(IncrementalStream.mergeAggBatch(
      _, _, stateDir, "ts", "15 minutes", "value")).start()
    try {
      q.processAllAvailable()
      val got = graft.ops.IncrementalAgg.readState(
        IncrementalStream.readUpsertTarget(spark, stateDir).get)
        .collect().map(_.toSeq).toSeq
      val want = graft.ops.IncrementalAgg.readState(
        graft.ops.IncrementalAgg.bucketState(batch, "ts", "15 minutes", "value"))
        .collect().map(_.toSeq).toSeq
      assert(got == want) // decimal-sum state algebra: merge order irrelevant
    } finally q.stop()
  }

  test("dedupBatch: unbounded first-seen dedup, replay-idempotent") {
    val store = tempDir("graft_dedup_store") + "/s"
    val out = tempDir("graft_dedup_out") + "/o"
    // batch 1: in-batch dup (ids 1,2 same text); batch 2: cross-batch
    // dup of "aaa" under a SMALLER id + a fresh text; batch 3: all dups
    val b1 = Seq((10L, "aaa"), (11L, "aaa"), (12L, "bbb")).toDF("doc_id", "text")
    val b2 = Seq((5L, "aaa"), (6L, "ccc")).toDF("doc_id", "text")
    val b3 = Seq((7L, "bbb"), (8L, "ccc")).toDF("doc_id", "text")
    IncrementalStream.dedupBatch(b1, 0L, store, out)
    IncrementalStream.dedupBatch(b2, 1L, store, out)
    IncrementalStream.dedupBatch(b3, 2L, store, out)
    def surviving = StoreMaintenance.read(spark, out).get
      .select("doc_id").as[Long].collect().toSet
    // first-SEEN wins (arrival order), not global min id: "aaa" kept
    // as id 10 from batch 1 even though id 5 arrived later
    assert(surviving == Set(10L, 12L, 6L))
    // replay of a committed batch changes nothing (the seen-set read
    // excludes the batch's own hashes)
    IncrementalStream.dedupBatch(b2, 1L, store, out)
    assert(surviving == Set(10L, 12L, 6L))
    // an all-dup batch leaves no partition behind
    IncrementalStream.dedupBatch(b3, 3L, store, out)
    assert(surviving == Set(10L, 12L, 6L))
    // one doc per distinct text across all arrivals
    assert(StoreMaintenance.read(spark, out).get.count() == 3)
  }

  test("sinkDedup stream == batch first-seen dedup on the same corpus") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter("doc_id < 200")
    val in = tempDir("graft_dedup_in")
    docs.repartition(6).write.mode("overwrite").parquet(in)
    val store = tempDir("graft_dedup_s2") + "/s"
    val out = tempDir("graft_dedup_o2") + "/o"
    val ckpt = tempDir("graft_dedup_ck")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(
      IncrementalStream.dedupBatch(_, _, store, out)).start()
    try q.processAllAvailable() finally q.stop()
    val got = StoreMaintenance.read(spark, out).get
    // one survivor per distinct text, and every survivor's text distinct
    assert(got.count() == docs.select("text").distinct().count())
    assert(got.select("text").distinct().count() == got.count())
    // survivors are a subset of the corpus rows (doc_id, text) pairs
    val pairs = got.select("doc_id", "text").as[(Long, String)].collect().toSet
    val all = docs.as[(Long, String)].collect().toSet
    assert(pairs.subsetOf(all))
  }

  test("sinkNearDup stream == one-shot minhash pairs; replay-idempotent") {
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter("doc_id < 200")
    // injected near-dups landing in later micro-batches: copies with
    // the first 3 words dropped, under high ids
    val mutated = corpus.filter($"doc_id" % 40 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 4, 1000000), ' ')").as("text"))
    val all = corpus.unionByName(mutated)
    val in = tempDir("graft_ndup_in")
    all.repartition(5).write.mode("overwrite").parquet(in)
    val idx = tempDir("graft_ndup_i") + "/i"
    val out = tempDir("graft_ndup_p") + "/p"
    val ckpt = tempDir("graft_ndup_ck")
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(IncrementalStream.nearDupBatch(
      _, _, idx, out, k = 3, numPerm = 32, bands = 8, threshold = 0.5)).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = StoreMaintenance.read(spark, out).get
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val oneShot = graft.dedup.Dedup.minhashNearDups(all, 3, 32, 8, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == oneShot)
    assert(streamed.exists { case (a, b, _) => a < 100000 && b >= 100000 })
    // index covers the whole corpus exactly once per doc
    assert(spark.read.parquet(idx).select("doc_id").as[Long].collect().sorted.toSeq ==
      all.select("doc_id").as[Long].collect().sorted.toSeq)

    // replay of the LAST batch (uncommitted-crash shape): same pairs out
    val lastBatch = spark.read.parquet(idx)
      .groupBy().agg(org.apache.spark.sql.functions.max("batch")).as[Long].head()
    val replay = all.filter($"doc_id".isin(
      spark.read.parquet(idx).filter(col("batch") === lastBatch)
        .select("doc_id").as[Long].collect().toSeq: _*))
    IncrementalStream.nearDupBatch(replay, lastBatch, idx, out,
      k = 3, numPerm = 32, bands = 8, threshold = 0.5)
    val afterReplay = StoreMaintenance.read(spark, out).get
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(afterReplay == oneShot)
  }

  test("sinkContainment stream == one-shot containmentPairs; replay-idempotent") {
    // per-doc vocab keeps every shingle df at 2 (doc + its excerpt):
    // no df-cap drift, so multi-wave == one-shot EXACTLY
    val sources = (1 to 60).map(d =>
      (d.toLong, (1 to 40).map(i => s"d${d}w$i").mkString(" ")))
    val excerpts = sources.collect { case (d, text) if d % 3 == 0 =>
      (d + 100000L, text.split(" ").take(10).mkString(" "))
    }
    val all = (sources ++ excerpts).toDF("doc_id", "text")
    val in = tempDir("graft_cont_in")
    all.repartition(6).write.mode("overwrite").parquet(in)
    val idx = tempDir("graft_cont_i") + "/i"
    val out = tempDir("graft_cont_p") + "/p"
    val ckpt = tempDir("graft_cont_ck")
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(IncrementalStream.containmentBatch(
      _, _, idx, out, k = 3, threshold = 0.9)).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = StoreMaintenance.read(spark, out).get
      .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
      .as[(Long, Long, Double, Double)].collect().toSet
    val oneShot = graft.dedup.Dedup.containmentPairs(all, 3, 0.9)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(streamed == oneShot)
    assert(oneShot.size == excerpts.size) // every excerpt found, nothing else
    // the index covers the corpus exactly once per doc, sized right
    assert(spark.read.parquet(idx).select("doc_id").distinct().count() ==
      all.count())
    // the stream really arrived in > 1 batch
    assert(spark.read.parquet(idx).select("batch").distinct().count() > 1)

    // replay of the LAST batch (uncommitted-crash shape): same pairs out
    val lastBatch = spark.read.parquet(idx)
      .groupBy().agg(org.apache.spark.sql.functions.max("batch")).as[Long].head()
    val replay = all.filter($"doc_id".isin(
      spark.read.parquet(idx).filter(col("batch") === lastBatch)
        .select("doc_id").distinct().as[Long].collect().toSeq: _*))
    IncrementalStream.containmentBatch(replay, lastBatch, idx, out,
      k = 3, threshold = 0.9)
    // the overwrite replaced part files; refresh this session's
    // file-status cache (a fresh session needs nothing)
    spark.catalog.refreshByPath(idx)
    spark.catalog.refreshByPath(out)
    val afterReplay = StoreMaintenance.read(spark, out).get
      .select("doc_a", "doc_b", "c_a_in_b", "c_b_in_a")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(afterReplay == oneShot)
  }

  test("sinkBm25Index: streamed store search == one-shot Bm25.search; replay no-op") {
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter("doc_id < 200")
    // queries from the corpus itself (8-word prefixes) so hits exist
    val queries = corpus.filter($"doc_id" < 2)
      .select($"doc_id".as("query_id"),
        expr("array_join(slice(split(lower(text), ' '), 1, 8), ' ')")
          .as("query_text"))
    val in = tempDir("graft_bm25_in")
    corpus.repartition(6).write.mode("overwrite").parquet(in)
    val post = tempDir("graft_bm25_p") + "/p"
    val stats = tempDir("graft_bm25_s") + "/s"
    val ckpt = tempDir("graft_bm25_ck")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(
      IncrementalStream.bm25IndexBatch(_, _, post, stats)).start()
    try q.processAllAvailable() finally q.stop()

    val (p, s) = IncrementalStream.readBm25Index(spark, post, stats).get
    def run(pp: org.apache.spark.sql.DataFrame,
            ss: org.apache.spark.sql.DataFrame) =
      graft.text.Bm25.searchIndex(pp, ss, queries, k = 10)
        .as[(Long, Int, Long, Double)].collect().toSeq
    val oneShot = graft.text.Bm25.search(corpus, queries, k = 10)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(run(p, s) == oneShot)
    assert(oneShot.nonEmpty)
    assert(spark.read.parquet(post).select("batch").distinct().count() > 1)

    // replay of the LAST batch: partitions rewrite deterministically
    val lastBatch = spark.read.parquet(post)
      .groupBy().agg(org.apache.spark.sql.functions.max("batch")).as[Long].head()
    val replay = corpus.filter($"doc_id".isin(
      spark.read.parquet(post).filter(col("batch") === lastBatch)
        .select("doc_id").distinct().as[Long].collect().toSeq: _*))
    IncrementalStream.bm25IndexBatch(replay, lastBatch, post, stats)
    spark.catalog.refreshByPath(post)
    spark.catalog.refreshByPath(stats)
    val (p2, s2) = IncrementalStream.readBm25Index(spark, post, stats).get
    assert(run(p2, s2) == oneShot)
  }

  test("searchPqFiltered over the streamed ANN index == over one-shot encodeIndex") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val coarse = graft.sim.Ivf.train(emb, 4, 2)
    val cb = graft.sim.Pq.trainResidual(emb, coarse, m = 8, k = 16, iters = 2)
    val in = tempDir("graft_annfs_in")
    emb.repartition(4).write.mode("overwrite").parquet(in)
    val idx = tempDir("graft_annfs_i") + "/i"
    val ckpt = tempDir("graft_annfs_ck")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(
      IncrementalStream.annIndexBatch(_, _, idx, coarse, cb)).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(idx).select("batch").distinct().count() > 1)

    // attribute filter: only every-third vector is allowed
    val allowed = emb.filter($"vec_id" % 3 === 0).select("vec_id")
    val queries = emb.filter($"vec_id" < 5)
    def topk(index: org.apache.spark.sql.DataFrame) =
      graft.sim.Pq.searchPqFiltered(index, queries, 3, coarse, cb,
          nprobe = 2, allowed = allowed)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSeq
    val streamed = topk(IncrementalStream.readAnnIndex(spark, idx).get)
    val oneShot = topk(graft.sim.Pq.encodeIndex(emb, coarse, cb))
    assert(streamed == oneShot)
    assert(streamed.nonEmpty)
    // every returned neighbor is allowed
    assert(streamed.forall { case (_, _, n) => n % 3 == 0 })
  }

  test("sinkAnnIndex: 3 streamed waves == one-shot encodeIndex; replay no-op; search matches") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val coarse = graft.sim.Ivf.train(emb, 4, 2)
    val cb = graft.sim.Pq.trainResidual(emb, coarse, m = 8, k = 16, iters = 2)
    val in = tempDir("graft_annix_in")
    emb.repartition(6).write.mode("overwrite").parquet(in)
    val idx = tempDir("graft_annix_i") + "/i"
    val ckpt = tempDir("graft_annix_ck")
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(
      IncrementalStream.annIndexBatch(_, _, idx, coarse, cb)).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = IncrementalStream.readAnnIndex(spark, idx).get
    val oneShot = graft.sim.Pq.encodeIndex(emb, coarse, cb)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"neighbor_id".cast("long"), $"cid",
        org.apache.spark.sql.functions.hex($"code"))
      .as[(Long, Int, String)].collect().toSet
    assert(rows(streamed) == rows(oneShot))
    // the stream really arrived in > 1 batch
    assert(spark.read.parquet(idx).select("batch").distinct().count() > 1)

    // replay of the last batch (uncommitted-crash shape): the batch
    // partition rewrites bit-identically, nothing else changes
    val lastBatch = spark.read.parquet(idx)
      .groupBy().agg(org.apache.spark.sql.functions.max("batch")).as[Long].head()
    val replayIds = spark.read.parquet(idx)
      .filter(col("batch") === lastBatch).select("neighbor_id").as[Long].collect()
    IncrementalStream.annIndexBatch(
      emb.filter($"vec_id".isin(replayIds.toSeq: _*)), lastBatch, idx, coarse, cb)
    // the overwrite replaced part files under batch=<last>; this
    // session's FileStatusCache still lists the old names — refresh
    // (a fresh session, the real crash-recovery reader, needs nothing)
    spark.catalog.refreshByPath(idx)
    assert(rows(IncrementalStream.readAnnIndex(spark, idx).get) == rows(oneShot))

    // search over the streamed index == search over the one-shot index
    // (fresh read: the pre-replay frame pins overwritten file names)
    val queries = emb.filter($"vec_id" < 5)
    def topk(index: org.apache.spark.sql.DataFrame) =
      graft.sim.Pq.searchPq(index, queries, 3, coarse, cb, nprobe = 2)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSeq
    assert(topk(IncrementalStream.readAnnIndex(spark, idx).get) == topk(oneShot))
  }

  test("sinkCurate stream == one-shot curate on the same corpus") {
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter("doc_id < 200")
    val mutated = corpus.filter($"doc_id" % 40 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 4, 1000000), ' ')").as("text"))
    val all = corpus.unionByName(mutated)
    val langs = Seq("en", "de", "es", "fr", "zh")
    val in = tempDir("graft_cur_in")
    // id-range slices copied into the source dir SEQUENTIALLY with
    // distinct mtimes: the file source orders by modification time
    // (path order is NOT honored for equal stamps — observed), and
    // monotone id arrival is the convention under which curateDelta's
    // union equals one-shot curate. The natural near-dup pairs of this
    // corpus (e.g. (0, 82)) straddle these boundaries, so the
    // cross-batch index path is genuinely exercised.
    val bounds = Seq(41L, 82L, 123L, 164L, Long.MaxValue)
    bounds.zipWithIndex.foldLeft(Long.MinValue) { case (lo, (hi, k)) =>
      val tmp = tempDir(s"graft_cur_slice$k")
      all.filter($"doc_id" >= lo && $"doc_id" < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(in, f"slice-$k%02d.parquet"))
      Thread.sleep(20) // distinct modification times => stable order
      hi
    }
    val seen = tempDir("graft_cur_s") + "/s"
    val idx = tempDir("graft_cur_i") + "/i"
    val out = tempDir("graft_cur_o") + "/o"
    val ckpt = tempDir("graft_cur_ck")
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 2).parquet(in)
    val q = IncrementalStream.sink(stream, ckpt)(IncrementalStream.curateBatch(
      _, _, seen, idx, out, minQuality = 0.2, keepLangs = langs,
      sampleFraction = 0.9)).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = StoreMaintenance.read(spark, out).get
    val ids = streamed.select("doc_id").as[Long].collect().toSet
    val oneShot = graft.pipeline.Curation.curate(all,
        jaccardThreshold = 0.8, minQuality = 0.2, keepLangs = langs,
        sampleFraction = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == oneShot)
    // invariant that holds under ANY arrival order: no two survivors
    // share a text
    val texts = streamed.select("text").as[String].collect()
    assert(texts.distinct.length == texts.length)
  }

  test("session_window aggregate matches batch sessionize (no exact-gap arrivals)") {
    val events = graft.core.Tables.events(spark, sfDir)
    val native = IncrementalStream.sessionWindowAgg(events, "user_id", "ts", "30 minutes")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2, r._3, r._4)).toSet
    val batch = graft.queries.Analytics.sessionize(spark, sfDir)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(native == batch)
    assert(native.nonEmpty)

    // streaming smoke: the same aggregate runs as a stream
    val in = tempDir("graft_swin")
    val ckpt = tempDir("graft_swck")
    events.limit(500).write.mode("overwrite").parquet(in)
    val stream = IncrementalStream.readEvents(spark, in, events.schema)
    val q = IncrementalStream.sessionWindowAgg(stream, "user_id", "ts",
      "30 minutes", watermark = Some("1 hour"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_swin_test").start()
    try q.processAllAvailable() finally q.stop()
    // append mode only emits sessions past the watermark; rows may be 0
    // for a single micro-batch — the smoke check is that it RUNS
  }

  test("foreachBatch hist-state sink == batch histState, bit-identical across micro-batching") {
    val batch = graft.core.Tables.events(spark, sfDir)
    val in = tempDir("graft_histsink_in")
    val stateDir = tempDir("graft_histsink_out") + "/s"
    val ckpt = tempDir("graft_histsink_ck")
    batch.write.mode("overwrite").parquet(in)
    val stream = IncrementalStream.readEvents(spark, in, batch.schema,
      maxFilesPerTrigger = 1)
    val q = IncrementalStream.sink(stream, ckpt)(IncrementalStream.mergeHistBatch(
      _, _, stateDir, "ts", "1 day", "value", 0.0, 1000.0, 100)).start()
    try {
      q.processAllAvailable()
      val got = IncrementalStream.readUpsertTarget(spark, stateDir).get
        .orderBy("bucket_ts").collect().map(_.toSeq).toSeq
      val want = graft.ops.IncrementalAgg.histState(
        batch, "ts", "1 day", "value", 0.0, 1000.0, 100)
        .orderBy("bucket_ts").collect().map(_.toSeq).toSeq
      assert(got == want) // integer bin counts: merge order irrelevant
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch distinct-state sink estimates == one-shot sketch across micro-batching") {
    val batch = graft.core.Tables.events(spark, sfDir)
    val in = tempDir("graft_hllsink_in")
    val stateDir = tempDir("graft_hllsink_out") + "/s"
    val ckpt = tempDir("graft_hllsink_ck")
    batch.write.mode("overwrite").parquet(in)
    val stream = IncrementalStream.readEvents(spark, in, batch.schema,
      maxFilesPerTrigger = 1)
    val q = IncrementalStream.sink(stream, ckpt)(IncrementalStream.mergeDistinctBatch(
      _, _, stateDir, "ts", "1 day", "user_id")).start()
    try {
      q.processAllAvailable()
      val got = graft.ops.IncrementalAgg.distinctFromState(
        IncrementalStream.readUpsertTarget(spark, stateDir).get)
        .as[(java.sql.Timestamp, Long)].collect().toMap
      val want = graft.ops.IncrementalAgg.distinctFromState(
        graft.ops.IncrementalAgg.distinctState(batch, "ts", "1 day", "user_id"))
        .as[(java.sql.Timestamp, Long)].collect().toMap
      assert(got == want) // union registers == direct-build registers
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("snapshot store: atomic commit, pointer recovery, batch-id tracking") {
    val dir = tempDir("graft_snapstore") + "/t"
    val store = new SnapshotStore(spark, dir)
    assert(store.read().isEmpty && store.lastCommittedBatch.isEmpty)
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    assert(store.lastCommittedBatch.contains(0L))
    assert(store.read().get.count() == 2)
    // a commit whose plan READS the previous snapshot (merge-into-state)
    val merged = store.read().get.unionByName(Seq((3L, "c")).toDF("id", "v"))
    store.commit(merged, 1L)
    assert(store.lastCommittedBatch.contains(1L))
    assert(store.read().get.count() == 3)
    // crash recovery: lose the pointer mid-swap — the complete snapshot
    // is still resolved (state is never silently reset)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "CURRENT"), false)
    assert(store.lastCommittedBatch.contains(1L))
    assert(store.read().get.count() == 3)
  }

  test("schema versioning: save/load/latest pointer/drift detection") {
    val tmp = tempDir("graft_schema")
    val st = new StateStore(spark, tmp)
    val v1 = graft.core.Tables.orders(spark, sfDir).schema.json
    val v2 = graft.core.Tables.orders(spark, sfDir)
      .withColumn("extra", lit(1)).schema.json
    assert(st.loadSchema("orders").isEmpty)
    assert(st.schemaChanged("orders", v1))
    st.saveSchema("orders", v1, "1.0")
    assert(st.loadSchema("orders").contains(v1))
    assert(!st.schemaChanged("orders", v1))
    st.saveSchema("orders", v2, "2.0")
    assert(st.loadSchema("orders").contains(v2)) // latest
    assert(st.loadSchema("orders", Some("1.0")).contains(v1))
    assert(st.schemaVersions("orders") == Seq("1.0", "2.0"))
    assert(st.schemaChanged("orders", v1)) // latest is v2 now
  }
}
