package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.{LocalGate, Tables}
import graft.dedup.Dedup
import graft.mm.Multimodal
import graft.ops.{LinkGraph, Sampling}
import graft.pipeline.TextClassifier
import graft.sim.Ivf
import graft.sources.JsonlCorpus
import graft.streaming.IncrementalStream
import graft.sync.{PartitionedSync, StateStore, SyncOps}
import graft.text.Unigram

/** The library's one cache pin, [[Tables.persisted]]: a pin is the
  * call's own entry, and no pin outlives the call that made it.
  */
class PinScopeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "c"),
    ("d", "a"), ("a", "b")).toDF("src", "dst")

  /** Runs `f` and asserts it left the session's cache entries as it
    * found them.
    */
  private def leavesNoEntry[T](what: String)(f: => T): T = {
    val before = cacheEntries
    val out = f
    assert(cacheEntries == before, s"$what left a cache entry behind")
    out
  }

  test("a caller's equal persisted frame stays cached across LinkGraph.stats and hits") {
    val mine = edges.select(col("src").as("src"), col("dst").as("dst")).distinct().persist()
    val mineNoLoops = edges.select(col("src").as("src"), col("dst").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().persist()
    try {
      mine.count(); mineNoLoops.count()
      LinkGraph.stats(edges).collect()
      assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK, "stats dropped the caller's entry")
      LinkGraph.hits(edges).collect()
      assert(mineNoLoops.storageLevel == StorageLevel.MEMORY_AND_DISK, "hits dropped the caller's entry")
      assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally { mine.unpersist(blocking = true); mineNoLoops.unpersist(blocking = true) }
  }

  test("components and selectByTokenBudget add no cache entry, before or after their result runs") {
    val labels = leavesNoEntry("components")(LinkGraph.components(edges))
    leavesNoEntry("components' labels")(assert(labels.count() == 4))
    val docs = (1 to 20).map(i => (i.toLong, (i % 7).toDouble, i.toLong)).toDF("doc_id", "score", "n_tokens")
    val kept = leavesNoEntry("selectByTokenBudget")(Sampling.selectByTokenBudget(docs, 30L))
    leavesNoEntry("the token-budget selection")(assert(kept.count() > 0))
  }

  test("every other pinning entry point leaves the cache as it found it") {
    val root = tempDir("graft-pins")
    val text = (1 to 12).map(i => (i.toLong, s"alpha beta gamma word${i % 4} tail${i % 3}"))
      .toDF("doc_id", "text")
    val labels = text.select(col("doc_id"), (col("doc_id") % 2).cast("int").as("label"))
    def check(what: String)(f: => Any): Unit = leavesNoEntry(what)(f)
    check("pageRank")(LinkGraph.pageRank(edges).collect())
    LocalGate.distributed {
      check("distributed pageRank")(LinkGraph.pageRank(edges).collect())
      check("distributed harmonicCentrality")(LinkGraph.harmonicCentrality(edges).collect())
      check("distributed hits")(LinkGraph.hits(edges).collect())
      check("distributed bowTie")(LinkGraph.bowTie(edges).collect())
    }
    check("harmonicCentrality")(LinkGraph.harmonicCentrality(edges).collect())
    check("bowTie")(LinkGraph.bowTie(edges).collect())
    check("Unigram.train")(Unigram.train(text, vocabSize = 8, seedSize = 10, maxPieceLen = 3))
    check("TextClassifier.train")(TextClassifier.train(text, labels, dim = 64, iters = 2))
    check("TextClassifier.trainSoftmax")(
      TextClassifier.trainSoftmax(text, labels, dim = 64, nClasses = 2, iters = 2))
    check("Dedup.containmentDelta") {
      val (pairs, newIdx) = Dedup.containmentDelta(
        Dedup.containmentIndex(text.filter("doc_id < 6"), 3), text.filter("doc_id >= 6"), 3, 0.5)
      pairs.collect(); newIdx.collect()
    }
    check("Ivf.train")(Ivf.train(Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding"), 2, 2))
    val jsonl = s"$root/in.jsonl"
    java.nio.file.Files.write(java.nio.file.Paths.get(jsonl),
      "{\"doc_id\": 1, \"text\": \"a\"}\nnot json\n".getBytes("UTF-8"))
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    check("JsonlCorpus.read") {
      val (good, bad) = JsonlCorpus.read(spark, jsonl, schema)
      assert(good.count() == 1 && bad.count() == 1)
    }
    check("JsonlCorpus.toParquet")(JsonlCorpus.toParquet(spark, jsonl, s"$root/pq", schema))
    check("SyncOps.fullSyncInBatches")(SyncOps.fullSyncInBatches(text, "doc_id", 5,
      new StateStore(spark, s"$root/state"), "t")(_.count()))
    val target = s"$root/target"
    val rows = Seq((1L, "2024-01-10", "a"), (2L, "2024-02-10", "b")).toDF("id", "ts", "v")
    val bucket = substring(col("ts"), 1, 7)
    PartitionedSync.writeFull(rows, bucket, target)
    check("PartitionedSync.mergeIncremental")(PartitionedSync.mergeIncremental(spark, target,
      Seq((1L, "2024-03-01", "a2")).toDF("id", "ts", "v"), Seq("id"), "ts", "id", bucket))
    for (b <- 0L to 1L) {
      val batch = text.filter(col("doc_id") % 2 === b)
      check("dedupBatch")(IncrementalStream.dedupBatch(batch, b, s"$root/ds", s"$root/do"))
      check("nearDupBatch")(IncrementalStream.nearDupBatch(batch, b, s"$root/ni", s"$root/np"))
      check("curateBatch")(IncrementalStream.curateBatch(batch, b, s"$root/cs", s"$root/ci", s"$root/co"))
    }
    val images = (1L to 3L).map(i => Multimodal.MediaRow(i, "image",
      Multimodal.grayPixelGif((0 until 72).map(j => (j * i.toInt * 37) & 0xff), 9, 8), 0, 0, 0)).toDF()
    check("imageDedupBatch")(IncrementalStream.imageDedupBatch(images, 0L, s"$root/ii", s"$root/ip"))
    val clips = (1L to 3L).map(i => Multimodal.MediaRow(i, "audio",
      Multimodal.pcmWavU8((0 until 512).map(j => (j * i.toInt * 13) & 0xff)), 0, 0, 0)).toDF()
    check("audioDedupBatch")(IncrementalStream.audioDedupBatch(clips, 0L, s"$root/ai", s"$root/ap"))
  }

  test("a scope whose body throws leaves no entry behind") {
    val before = cacheEntries
    intercept[IllegalStateException](Tables.persisted(edges) { e =>
      e.count()
      assert(cacheEntries == before + 1)
      throw new IllegalStateException("body failed")
    })
    assert(cacheEntries == before)
  }

  test("nested scopes over one plan keep separate entries; the pin adds no exchange") {
    def reads(df: DataFrame): Boolean =
      df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty
    val before = cacheEntries
    Tables.persisted(edges) { outer =>
      assert(outer.count() == 6)
      Tables.persisted(edges) { inner =>
        assert(inner.count() == 6)
        assert(cacheEntries == before + 2)
      }
      // the inner release dropped its own entry, not the outer one
      assert(cacheEntries == before + 1)
      assert(reads(outer) && outer.count() == 6)
    }
    assert(cacheEntries == before)
    // the marker column adds no exchange: an aggregation on the
    // partition key plans as many as over a plain persist of the plan
    def exchanges(df: DataFrame): Int =
      "ENSURE_REQUIREMENTS".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val bySrc = edges.repartition(col("src"))
    val plain = bySrc.persist()
    val want = try exchanges(plain.groupBy("src").count()) finally plain.unpersist(blocking = true)
    Tables.persisted(bySrc) { pinned =>
      val agg = pinned.groupBy("src").count()
      assert(reads(agg) && exchanges(agg) == want, agg.queryExecution.executedPlan.toString)
    }
  }
}
