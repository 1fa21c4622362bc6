package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.mm.Multimodal
import graft.pipeline.Crawl
import graft.streaming.{IncrementalStream, SnapshotStore, StoreMaintenance}

/** The two replay/crash contracts every foreachBatch body keeps, one
  * table each: a snapshot-backed body skips a replayed batch id, and a
  * batch-partitioned body writes nothing for an empty micro-batch.
  */
class SinkContractSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = graft.core.Tables.events(spark, sfDir).localCheckpoint()
  private def eventsIn(lo: String, hi: String) =
    events.filter(col("ts") > lit(lo).cast("timestamp") &&
      col("ts") <= lit(hi).cast("timestamp"))
  // three time-sliced waves: ids 0 and 1 commit, the replay of id 1
  // carries the third (different) rows
  private lazy val eventWaves = Seq(
    eventsIn("1970-01-01", "2024-01-10"), eventsIn("2024-01-10", "2024-01-20"),
    eventsIn("2024-01-20", "2099-01-01"))
  private lazy val cdcWaves = eventWaves.map(_.select(col("user_id"),
    col("event_id"), col("ts"), col("event_type"),
    when(col("event_type") === "purchase", lit("delete"))
      .otherwise(lit("upsert")).as("op")))
  private lazy val crawlWaves = Seq(1, 2, 3).map { w =>
    Seq("https://site-a.com/p", s"http://site-b.org/q$w").map { u =>
      (u, s"<html><body><p>wave $w content long enough to clear the minimum</p></body></html>",
        w.toLong)
    }.toDF("url", "html", "fetched_at")
  }

  private val snapshotBodies: Seq[(String, () => Seq[DataFrame], (DataFrame, Long, String) => Unit)] = Seq(
    ("upsert", () => eventWaves, IncrementalStream.mergeUpsertBatch(_, _, _,
      Seq("user_id"), "ts", "event_id")),
    ("scd2", () => eventWaves, IncrementalStream.mergeScd2Batch(_, _, _,
      Seq("user_id"), Seq("event_type"), "ts", "event_id")),
    ("cdc", () => cdcWaves, IncrementalStream.mergeCdcBatch(_, _, _,
      Seq("user_id"), "op", "ts", "event_id")),
    ("agg", () => eventWaves,
      IncrementalStream.mergeAggBatch(_, _, _, "ts", "15 minutes", "value")),
    ("hist", () => eventWaves, IncrementalStream.mergeHistBatch(_, _, _,
      "ts", "1 day", "value", 0.0, 1000.0, 100)),
    ("distinct", () => eventWaves, IncrementalStream.mergeDistinctBatch(_, _, _,
      "ts", "1 day", "user_id")),
    ("crawl", () => crawlWaves, (b, id, dir) =>
      Crawl.crawlBatch(b, id, dir, Seq("blocked.net").toDF("domain"))))

  // order-free row multiset; binary cells compare by content
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.mkString("|")).sorted.toSeq

  snapshotBodies.foreach { case (name, waves, body) =>
    test(s"snapshot body skips a replayed batch id: $name") {
      val dir = tempDir(s"graft_replay_$name") + "/t"
      val Seq(w0, w1, other) = waves()
      body(w0, 0L, dir)
      body(w1, 1L, dir)
      val committed = rows(IncrementalStream.readUpsertTarget(spark, dir).get)
      assert(committed.nonEmpty)
      // at-least-once replay of id 1 carrying different rows: skipped
      body(other, 1L, dir)
      assert(rows(IncrementalStream.readUpsertTarget(spark, dir).get) == committed)
      assert(new SnapshotStore(spark, dir).lastCommittedBatch.contains(1L))
    }
  }

  private lazy val docs = graft.core.Tables.documents(spark, sfDir)
    .select("doc_id", "text").filter("doc_id < 60").localCheckpoint()

  private def img(id: Long, seed: Long): Multimodal.MediaRow = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val grays = (0 until 72).map(i => md.digest(s"$seed|$i".getBytes("UTF-8"))(0) & 0xff)
    Multimodal.MediaRow(id, "image", Multimodal.grayPixelGif(grays, 9, 8), 0, 0, 0)
  }
  private def clip(id: Long, seed: String): Multimodal.MediaRow = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val u = (0 until 32).flatMap(blk =>
      md.digest(s"$seed:$blk".getBytes("UTF-8")).map(_ & 0xff).toSeq)
    Multimodal.MediaRow(id, "audio", Multimodal.pcmWavU8(u), 0, 0, 0)
  }
  private lazy val images = (1L to 4L).map(i => img(i, i)).toDF()
  private lazy val clips = (1L to 4L).map(i => clip(i, s"c$i")).toDF()
  private lazy val emb = graft.core.Tables.embeddings(spark, sfDir).localCheckpoint()
  private lazy val coarse = graft.sim.Ivf.train(emb, 4, 2)
  private lazy val codebook = graft.sim.Pq.trainResidual(emb, coarse, m = 8, k = 16, iters = 2)

  // (name, input, body over (batch, id, dirs), number of store dirs);
  // the first dir always receives rows from a non-empty batch
  private val partitionedBodies: Seq[(String, () => DataFrame, (DataFrame, Long, Seq[String]) => Unit, Int)] = Seq(
    ("dedup", () => docs, (b, id, d) => IncrementalStream.dedupBatch(b, id, d(0), d(1)), 2),
    ("nearDup", () => docs, (b, id, d) =>
      IncrementalStream.nearDupBatch(b, id, d(0), d(1), threshold = 0.5), 2),
    ("containment", () => docs, (b, id, d) =>
      IncrementalStream.containmentBatch(b, id, d(0), d(1), k = 3), 2),
    ("image", () => images, (b, id, d) =>
      IncrementalStream.imageDedupBatch(b, id, d(0), d(1)), 2),
    ("audio", () => clips, (b, id, d) =>
      IncrementalStream.audioDedupBatch(b, id, d(0), d(1)), 2),
    ("ann", () => emb, (b, id, d) =>
      IncrementalStream.annIndexBatch(b, id, d(0), coarse, codebook), 1),
    ("bm25", () => docs, (b, id, d) =>
      IncrementalStream.bm25IndexBatch(b, id, d(0), d(1)), 2),
    ("curate", () => docs, (b, id, d) =>
      IncrementalStream.curateBatch(b, id, d(0), d(1), d(2)), 3))

  partitionedBodies.foreach { case (name, input, body, nDirs) =>
    test(s"batch-partitioned body writes nothing for an empty batch: $name") {
      val root = tempDir(s"graft_empty_$name")
      val dirs = (0 until nDirs).map(i => s"$root/d$i")
      body(input().limit(0), 0L, dirs)
      dirs.foreach(d => assert(!new java.io.File(s"$d/batch=0").exists, d))
      body(input(), 1L, dirs)
      assert(StoreMaintenance.read(spark, dirs.head).get
        .filter(col("batch") === 1).count() > 0)
    }
  }
}
