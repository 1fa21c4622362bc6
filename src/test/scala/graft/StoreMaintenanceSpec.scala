package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{IncrementalStream, StoreMaintenance}

/** Maintenance over the streaming ingest stores: consolidation must be
  * invisible to every store consumer (dedupBatch / nearDupBatch answer
  * identically from a compacted store), bounded in file count, safe
  * under replay and mid-compaction crashes, and the retention knob
  * must bound the dedup horizon exactly as documented.
  */
class StoreMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def copyTree(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    Files.walk(s).forEach { p: Path =>
      val t = Paths.get(dst, s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }

  private def batchDirCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("batch="))

  private def parquetFileCount(dir: String): Int =
    Files.walk(Paths.get(dir)).filter { p: Path =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.count().toInt

  // batch i: one text recurring across batches (i mod 5), one unique
  private def mkBatch(i: Int) = Seq(
    (i * 10L, s"recurring text number ${i % 5} with shared words"),
    (i * 10L + 1, s"unique text for batch $i nothing shares it"),
  ).toDF("doc_id", "text")

  test("compactStore: 50 dedup micro-batches -> compact -> answers bit-equal, files bin-packed") {
    val store = tempDir("graft_sm_store") + "/s"
    val out = tempDir("graft_sm_out") + "/o"
    (0 until 50).foreach(i => IncrementalStream.dedupBatch(mkBatch(i), i.toLong, store, out))
    assert(batchDirCount(store) > 5) // the decay compaction exists to stop

    // control: byte-copy of the UNCOMPACTED store
    val control = tempDir("graft_sm_ctrl") + "/s"
    copyTree(store, control)

    val stats = StoreMaintenance.compactStore(spark, store)
    assert(stats.consolidated.nonEmpty && stats.label < 0)
    // newest batch dir survives untouched (replay protection), all
    // older dirs fold into ONE consolidated partition of 1 packed file
    assert(batchDirCount(store) == 2)
    assert(parquetFileCount(s"$store/batch=${stats.label}") == 1)
    assert(stats.filesAfter < stats.filesBefore)

    // the compacted store holds exactly the control's hash rows
    val gotH = spark.read.parquet(store).select("__h").as[String].collect().sorted.toSeq
    val wantH = spark.read.parquet(control).select("__h").as[String].collect().sorted.toSeq
    assert(gotH == wantH)

    // the next batch (dups of batches 0 and 49 + a fresh doc) answers
    // identically from compacted and control stores
    val next = Seq(
      (9000L, "recurring text number 0 with shared words"), // dup (old, compacted)
      (9001L, "unique text for batch 49 nothing shares it"), // dup (retained dir)
      (9002L, "genuinely new text never seen")).toDF("doc_id", "text")
    val outB = tempDir("graft_sm_outb") + "/o"
    IncrementalStream.dedupBatch(next, 50L, store, out)
    IncrementalStream.dedupBatch(next, 50L, control, outB)
    def survivors(o: String) = spark.read.parquet(s"$o/batch=50")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors(out) == Set(9002L))
    assert(survivors(out) == survivors(outB))

    // replay of the retained latest batch after compaction: unchanged
    IncrementalStream.dedupBatch(next, 50L, store, out)
    assert(survivors(out) == Set(9002L))

    // idempotent: nothing left to fold (one consolidated + retained)
    val again = StoreMaintenance.compactStore(spark, store)
    assert(again.consolidated.isEmpty)
  }

  test("compactStore: nearDup index answers bit-equal after consolidation") {
    val corpus = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter("doc_id < 120")
    val idx = tempDir("graft_sm_idx") + "/i"
    val pairsDir = tempDir("graft_sm_prs") + "/p"
    // 6 sequential micro-batches of 20 docs
    (0 until 6).foreach { i =>
      val b = corpus.filter($"doc_id" >= i * 20 && $"doc_id" < (i + 1) * 20)
      IncrementalStream.nearDupBatch(b, i.toLong, idx, pairsDir, threshold = 0.5)
    }
    val controlIdx = tempDir("graft_sm_idxc") + "/i"
    copyTree(idx, controlIdx)

    val stats = StoreMaintenance.compactStore(spark, idx)
    assert(stats.consolidated == (0L until 5L))
    assert(batchDirCount(idx) == 2)

    // near-dups of docs from compacted batches: mutated copies of the
    // first batches' docs under high ids
    val nextDocs = corpus.filter($"doc_id" % 37 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 4, 1000000), ' ')").as("text"))
    val pairsB = tempDir("graft_sm_prsb") + "/p"
    IncrementalStream.nearDupBatch(nextDocs, 6L, idx, pairsDir, threshold = 0.5)
    IncrementalStream.nearDupBatch(nextDocs, 6L, controlIdx, pairsB, threshold = 0.5)
    def pairs(d: String) = spark.read.parquet(d).filter(col("batch") === 6)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(pairs(pairsDir).nonEmpty)
    assert(pairs(pairsDir) == pairs(pairsB))
  }

  test("sinkDedup compactEvery: streamed result identical, store dirs stay bounded") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter("doc_id < 150")
    val in = tempDir("graft_sm_sink_in")
    docs.repartition(8).write.mode("overwrite").parquet(in)
    def run(compactEvery: Int) = {
      val store = tempDir(s"graft_sm_sink_s$compactEvery") + "/s"
      val out = tempDir(s"graft_sm_sink_o$compactEvery") + "/o"
      val ckpt = tempDir(s"graft_sm_sink_ck$compactEvery")
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = IncrementalStream.sink(stream, ckpt, Seq(store), compactEvery)(
        IncrementalStream.dedupBatch(_, _, store, out)).start()
      try q.processAllAvailable() finally q.stop()
      (StoreMaintenance.read(spark, out).get
        .select("doc_id").as[Long].collect().toSet, batchDirCount(store))
    }
    val (plain, plainDirs) = run(0)
    val (compacted, compactedDirs) = run(2)
    assert(compacted == plain) // maintenance is invisible to the answer
    assert(plainDirs >= 6) // ~one dir per micro-batch without maintenance
    // one consolidation dir per maintenance run (O(new) each, by
    // design) + the retained latest + the uncompacted tail
    assert(compactedDirs < plainDirs && compactedDirs <= 5)
  }

  test("crash recovery: leftover source dir is cleaned by the manifest") {
    val store = tempDir("graft_sm_cr") + "/s"
    val out = tempDir("graft_sm_cro") + "/o"
    (0 until 4).foreach(i => IncrementalStream.dedupBatch(mkBatch(i), i.toLong, store, out))
    val stats = StoreMaintenance.compactStore(spark, store)
    assert(stats.consolidated == (0L until 3L))
    // simulate a crash between rename and source deletion: resurrect a
    // consolidated source dir (its rows are now duplicated)
    copyTree(s"$store/batch=${stats.label}", s"$store/batch=0")
    Files.delete(Paths.get(s"$store/batch=0/_sources.json"))
    val cleaned = StoreMaintenance.recover(spark, store)
    assert(cleaned == Seq("batch=0"))
    assert(!new java.io.File(s"$store/batch=0").exists())
  }

  test("dropBatchesBelow bounds the dedup horizon deliberately") {
    val store = tempDir("graft_sm_ret") + "/s"
    val out = tempDir("graft_sm_reto") + "/o"
    (0 until 4).foreach(i => IncrementalStream.dedupBatch(mkBatch(i), i.toLong, store, out))
    // horizon above every stored batch id: whole history expires
    val dropped = StoreMaintenance.dropBatchesBelow(spark, store, 2L)
    assert(dropped == Seq(0L, 1L))
    // a dup of an EXPIRED doc re-ingests (bounded horizon contract)...
    val redo = Seq((5000L, "unique text for batch 0 nothing shares it"),
      (5001L, "unique text for batch 3 nothing shares it")).toDF("doc_id", "text")
    IncrementalStream.dedupBatch(redo, 4L, store, out)
    val got = spark.read.parquet(s"$out/batch=4")
      .select("doc_id").as[Long].collect().toSet
    // ...while a dup of an in-horizon doc still drops
    assert(got == Set(5000L))

    // a consolidated partition expires only when ALL its sources are
    // below the horizon (manifest maxSourceId)
    val stats = StoreMaintenance.compactStore(spark, store)
    assert(stats.label < 0)
    assert(StoreMaintenance.dropBatchesBelow(spark, store, 3L).isEmpty) // covers batch 3
    // horizon past everything: consolidated AND the retained dir expire
    assert(StoreMaintenance.dropBatchesBelow(spark, store, 5L) == Seq(stats.label, 4L))
  }
}
