package graft.sync

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.DocFiles

/** Cross-process sync mutex: a lease file with owner, pid, and a
  * heartbeat, so two sync drivers pointed at the same state/target
  * directory cannot interleave a parquet overwrite with a watermark
  * advance.
  *
  * Reference: src/oracle_duckdb_sync/state/sync_state.py:30-40 — a
  * PID-stamped lock file with a timeout and stale-lock detection.
  *
  * Shape: `storePath/_sync.lease.json` holding
  * `{"owner": ..., "pid": ..., "acquired_ms": ...}`. The file content
  * is IMMUTABLE for the lease's lifetime; the heartbeat is the file's
  * MODIFICATION TIME, refreshed in place with `setTimes` — renewing
  * never deletes or renames, so there is no instant at which a live
  * lease is absent (a delete-then-recreate renew would hand a
  * concurrent `tryAcquire` a winnable race).
  *
  *  - acquire: `fs.create(overwrite = false)` — one creator wins; a
  *    live foreign lease (heartbeat younger than `staleMillis`) loses.
  *  - stale takeover is FENCED: the taker atomically RENAMES the stale
  *    lease to a tombstone — rename succeeds for exactly one taker —
  *    then creates its own lease. Two takers can never both win
  *    (delete-then-create would let taker B delete taker A's brand-new
  *    lease; rename of the specific stale file cannot).
  *  - renew: refresh the mtime while holding; returns false when the
  *    lease was lost (deposed after a stale takeover) — callers MUST
  *    stop writing when it does.
  *  - release: delete — only by the current owner.
  *
  * Cadence contract: the holder must renew more often than
  * `staleMillis` (default 10 min) or a concurrent runner will depose
  * it mid-work. `SyncRunner.syncAllExclusive` renews between tables —
  * size `staleMillis` above the slowest single-table sync, or renew
  * inside the work loop (e.g. per `fullSyncInBatches` slice).
  *
  * On an object store without atomic exclusive-create/rename the same
  * layout works with conditional PUTs (if-none-match / if-match); the
  * Hadoop local/HDFS semantics used here are the test and on-prem path.
  */
class SyncLease(spark: SparkSession, storePath: String, val owner: String,
                staleMillis: Long = 600000L,
                nowMillis: () => Long = () => System.currentTimeMillis()) {

  require(staleMillis > 0, s"staleMillis must be positive: $staleMillis")

  private def fs: FileSystem =
    new Path(storePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def leasePath = new Path(storePath, "_sync.lease.json")

  private def pid: Long = ProcessHandle.current().pid()

  private def writeLease(acquiredMs: Long): Unit = {
    // exclusive create: overwrite = false throws if the file appeared
    // between our check and now — the loser of an acquire race fails here
    val out = fs.create(leasePath, false)
    try out.write(DocFiles.obj("owner" -> owner, "pid" -> pid, "acquired_ms" -> acquiredMs)
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // heartbeat = mtime, under the injectable clock (tests included)
    fs.setTimes(leasePath, nowMillis(), -1)
  }

  /** (owner, pid, heartbeatMs) of the current lease file, if any.
    * The heartbeat is the lease file's modification time. The file can
    * vanish BETWEEN the stat and the read (a fenced takeover's rename, a
    * release) — that is simply "no lease", never a crash.
    */
  def holder: Option[(String, Long, Long)] =
    try {
      val heartbeat = fs.getFileStatus(leasePath).getModificationTime
      for {
        body <- DocFiles.read(fs, leasePath)
        o <- DocFiles.str(body, "owner")
        p <- DocFiles.num(body, "pid")
      } yield (o, p, heartbeat)
    } catch { case _: java.io.FileNotFoundException => None }

  /** True iff this owner holds the lease after the call. Re-acquiring
    * a lease we already hold renews it (idempotent).
    */
  def tryAcquire(): Boolean = {
    val now = nowMillis()
    holder match {
      case None =>
        try { writeLease(now); true }
        catch { case _: java.io.IOException => false } // lost the create race
      case Some((o, _, _)) if o == owner =>
        renew()
      case Some((_, _, heartbeat)) if now - heartbeat > staleMillis =>
        // stale: the holder stopped heartbeating (crashed / wedged).
        // FENCE the takeover: rename the stale file to a tombstone —
        // atomic, exactly one concurrent taker succeeds — then create
        // our own lease. The loser's rename returns false (or throws)
        // and it correctly reports failure.
        val tombstone = new Path(storePath, s"._sync.lease.stale.$pid.$now")
        val fenced =
          try fs.rename(leasePath, tombstone)
          catch { case _: java.io.IOException => false }
        if (!fenced) false
        else {
          fs.delete(tombstone, false)
          try { writeLease(now); true }
          catch { case _: java.io.IOException => false }
        }
      case _ => false // live foreign lease
    }
  }

  /** Refresh the heartbeat — call between long steps while holding.
    * Returns false iff the lease is no longer ours (deposed by a stale
    * takeover, or released): the caller must STOP writing immediately.
    *
    * Check-act-verify: the ownership check, the mtime refresh, and a
    * RE-CHECK afterwards. A takeover landing between check and refresh
    * either removes the file under us (setTimes throws → false) or
    * installs the new holder's lease, which our setTimes touched — the
    * re-check sees the foreign owner and returns false, so a wedged
    * holder waking up mid-deposal can never believe it renewed.
    */
  def renew(): Boolean = {
    val owned = holder.exists(_._1 == owner)
    if (!owned) false
    else {
      // IOException → false: failing to prove renewal means stop
      // writing — the safe direction for a mutex
      val target = nowMillis()
      try fs.setTimes(leasePath, target, -1)
      catch { case _: java.io.IOException => return false }
      // Verify the heartbeat actually moved: on FileSystems where
      // setTimes is a silent no-op (several object-store connectors)
      // the holder would otherwise believe it renewed while the stale
      // clock keeps ticking toward a deposal. 2s slack absorbs
      // second-granularity mtimes; any real no-op is >2s behind by the
      // first renew after the cadence interval.
      holder.exists { case (o, _, hb) => o == owner && hb >= target - 2000L }
    }
  }

  /** Release if (and only if) held by this owner. */
  def release(): Unit =
    holder.foreach { case (o, _, _) =>
      if (o == owner) fs.delete(leasePath, false)
    }
}
