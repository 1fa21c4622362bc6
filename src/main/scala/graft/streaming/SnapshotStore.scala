package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DocFiles

/** Versioned parquet snapshot store with an atomic pointer and a
  * durable last-committed-batch id — the sink target behind the
  * foreachBatch merge bodies ([[IncrementalStream.mergeUpsertBatch]],
  * [[IncrementalStream.mergeAggBatch]] and their siblings), all of
  * which run through [[SnapshotStore.merge]].
  *
  * foreachBatch is at-least-once: after a failure between the sink's
  * write and the streaming checkpoint commit, the SAME batch id is
  * replayed. A non-idempotent sink (aggregate-state merge) must
  * therefore record which batch it last committed and skip replays,
  * and every commit must be all-or-nothing so a crash can never leave
  * a half-written state readable. This store provides both:
  *
  * Layout: `dir/snap-<batchId>/` (a complete parquet dataset, its
  * `_SUCCESS` marker written by the job) plus `dir/CURRENT` — a one
  * line text file naming the committed snapshot.
  *
  * Commit protocol: (1) write `snap-<id>` fully (a failed earlier
  * attempt of the same id is overwritten); (2) swap `CURRENT` with
  * [[DocFiles.write]] (the old pointer is parked aside until the new
  * one is in); (3) delete older snapshots. Readers resolve `CURRENT`
  * (or its parked copy) first and fall back to the highest snapshot
  * with a `_SUCCESS` marker, so every crash window is covered: before
  * (2) the old snapshot is still current (and, with no old snapshot,
  * the new COMPLETE one is found by the fallback scan — the batch is
  * then correctly treated as committed when its id replays); mid-swap
  * the parked pointer still names the old snapshot; after (2) the new
  * snapshot is current and survivors of (3) are ignored.
  *
  * Genuine IO errors propagate — a missing directory is "no state
  * yet", but a read failure is never silently treated as such (an
  * aggregate sink that resets on a transient FS error would
  * permanently discard accumulated state).
  *
  * A production deployment on a table format (Iceberg/Delta) gets the
  * same guarantees from the format's atomic commit + a batch-id table
  * property; this store is the plain-filesystem equivalent.
  */
class SnapshotStore(spark: SparkSession, dir: String) {

  private val root = new Path(dir)
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def currentPtr = new Path(root, "CURRENT")

  private def snapName(id: Long) = f"snap-$id%019d"
  private def parseId(name: String): Option[Long] =
    if (name.startsWith("snap-")) name.stripPrefix("snap-").toLongOption
    else None

  /** The committed snapshot: the pointer when it resolves, else the
    * highest COMPLETE (`_SUCCESS`-marked) snapshot — crash recovery
    * for a swap that was interrupted mid-protocol.
    */
  private def resolve(): Option[(Long, Path)] = {
    if (!fs.exists(root)) return None
    val fromPtr = DocFiles.read(fs, currentPtr).map(_.trim)
      .flatMap(name => parseId(name).map(id => (id, new Path(root, name))))
      .filter { case (_, p) => fs.exists(p) }
    fromPtr.orElse {
      fs.listStatus(root).toSeq
        .flatMap(s => parseId(s.getPath.getName).map(_ -> s.getPath))
        .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
        .sortBy(-_._1)
        .headOption
    }
  }

  /** Highest batch id whose snapshot committed; a replayed id <= this
    * must be skipped by non-idempotent sinks.
    */
  def lastCommittedBatch: Option[Long] = resolve().map(_._1)

  /** The committed snapshot as a DataFrame (None = no commit yet). */
  def read(): Option[DataFrame] =
    resolve().map { case (_, p) => spark.read.parquet(p.toString) }

  /** Atomically commit `df` as the snapshot for `batchId`. The plan
    * may READ the previous snapshot (merge-into-state): it is written
    * to a fresh directory, and the previous snapshot is only deleted
    * after both the write and the pointer swap complete.
    */
  def commit(df: DataFrame, batchId: Long): Unit = {
    val snap = new Path(root, snapName(batchId))
    df.write.mode("overwrite").parquet(snap.toString)
    DocFiles.write(fs, currentPtr, snapName(batchId))
    fs.listStatus(root).foreach { s =>
      if (parseId(s.getPath.getName).exists(_ != batchId))
        fs.delete(s.getPath, true)
    }
  }

  /** Garbage-collect crash debris: snapshots OTHER than the committed
    * one (a commit interrupted between write and pointer swap strands
    * its half-written `snap-*`; step (3) of a crashed commit strands
    * older complete ones) plus pointer temp and aside copies an
    * interrupted swap left ([[DocFiles.isDebris]]). Idempotent;
    * never touches the committed snapshot or the pointer, so readers
    * are unaffected. `graceMillis` (default 1 h) spares debris young
    * enough to be an IN-FLIGHT commit that has not swapped its pointer
    * yet — pass 0 only when no writer can be active. Returns how many
    * entries were removed.
    */
  def vacuum(graceMillis: Long = 3600000L): Int = {
    if (!fs.exists(root)) return 0
    val keep = resolve().map(_._1)
    val cutoff = System.currentTimeMillis() - graceMillis
    var removed = 0
    fs.listStatus(root).foreach { s =>
      val name = s.getPath.getName
      val stray = parseId(name) match {
        case Some(id) => !keep.contains(id)
        case None => DocFiles.isDebris(fs, s.getPath)
      }
      if (stray && DocFiles.idle(fs, s.getPath, cutoff)) {
        fs.delete(s.getPath, true); removed += 1
      }
    }
    removed
  }
}

object SnapshotStore {

  /** One replay-safe merge step of a foreachBatch body over the store
    * at `dir`: a replayed `batchId` (at or below the last committed
    * one) is skipped; otherwise `f` maps the committed snapshot (None
    * before the first commit) to the new state, which commits
    * atomically as `batchId`.
    */
  def merge(batch: DataFrame, batchId: Long, dir: String)
           (f: Option[DataFrame] => DataFrame): Unit = {
    val store = new SnapshotStore(batch.sparkSession, dir)
    if (store.lastCommittedBatch.exists(batchId <= _)) return // replay
    store.commit(f(store.read()), batchId)
  }
}
