package graft

import java.sql.Timestamp

import graft.cache._
import graft.streaming.SnapshotStore
import graft.sync._

/** Operational-hardening specs: the cross-process sync lease, vacuum of
  * crash-stranded store versions, and the time-boxed batch sync
  * (reference: state/sync_state.py:30-40 lock file;
  * sync_engine.py:237-288 `sync_in_batches(max_duration)`).
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  // ---- cross-process sync lease ------------------------------------

  test("lease: exclusive acquire, idempotent re-acquire, release, stale takeover") {
    val dir = tempDir("graft-lease")
    var clock = 1000L
    val now = () => clock
    val a = new SyncLease(spark, dir, "runner-a", staleMillis = 500, nowMillis = now)
    val b = new SyncLease(spark, dir, "runner-b", staleMillis = 500, nowMillis = now)

    assert(a.tryAcquire())
    assert(a.tryAcquire()) // re-acquire by the holder renews, not fails
    assert(!b.tryAcquire()) // live foreign lease loses
    assert(b.holder.exists(_._1 == "runner-a"))

    a.release()
    assert(a.holder.isEmpty)
    assert(b.tryAcquire()) // free after release
    b.release()

    // stale takeover: holder stops heartbeating past staleMillis
    assert(a.tryAcquire())
    clock += 501
    assert(b.tryAcquire()) // a's heartbeat is stale — b takes over
    assert(b.holder.exists(_._1 == "runner-b"))
    // the deposed holder's renew reports the loss — it must stop writing
    assert(!a.renew())
    assert(b.renew())
    // a no longer holds it and cannot release b's lease
    a.release()
    assert(b.holder.exists(_._1 == "runner-b"))
    b.release()
  }

  test("lease: second runner on one state dir skips with an audit record, first syncs") {
    val srcDir = tempDir("graft-xl-src")
    val tgtDir = tempDir("graft-xl-tgt")
    val stateDir = tempDir("graft-xl-state")
    val logDir = tempDir("graft-xl-log")

    (1 to 8).map(i => (i.toLong, Timestamp.valueOf(f"2024-01-01 00:00:$i%02d"), s"v$i"))
      .toDF("id", "updated_at", "payload")
      .write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val repo = new TableConfigRepo(spark, tempDir("xc"))
    repo.upsert(TableConfig("S", "t", "t_sync", "id", timeColumn = Some("updated_at")))

    def mkRunner() = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, new StateStore(spark, stateDir), new SyncLogRepo(spark, logDir))

    // runner B finds A's lease live and must not touch source or target
    val held = new SyncLease(spark, stateDir, "runner-a")
    assert(held.tryAcquire())
    val skipped = mkRunner().syncAllExclusive(repo, new SyncLease(spark, stateDir, "runner-b"))
    assert(skipped.map(_.status) == Seq("skipped"))
    assert(skipped.head.errorMessage.exists(_.contains("runner-a")))
    assert(new StateStore(spark, stateDir).loadWatermark("t_sync").isEmpty)
    held.release()

    // with the lease free, the same call syncs and releases afterwards
    val done = mkRunner().syncAllExclusive(repo, new SyncLease(spark, stateDir, "runner-b"))
    assert(done.map(_.status) == Seq("completed") && done.head.totalRows == 8)
    assert(new SyncLease(spark, stateDir, "probe").holder.isEmpty) // released on exit

    // audit trail shows the skip then the completed run
    val log = new SyncLogRepo(spark, logDir)
    assert(log.recentLogs(5, Some("t_sync")).map(_.status) == Seq("completed", "skipped"))
  }

  // ---- vacuum: crash-stranded versions -----------------------------

  test("SnapshotStore.vacuum removes stranded snapshots and tmp, keeps the committed one") {
    val dir = tempDir("graft-vac-snap")
    val store = new SnapshotStore(spark, dir)
    store.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"), batchId = 7L)

    // simulate crashes: a half-written later snapshot (no pointer swap),
    // an older stranded complete snapshot, a leftover CURRENT.tmp (the
    // earlier temp name) and .CURRENT.tmp, and a parked .CURRENT.old
    // whose live pointer is back in place
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((3, "x")).toDF("id", "v").write.parquet(s"$dir/snap-${"%019d".format(8)}")
    Seq((0, "old")).toDF("id", "v").write.parquet(s"$dir/snap-${"%019d".format(3)}")
    Seq("CURRENT.tmp", ".CURRENT.tmp", ".CURRENT.old").foreach { name =>
      val tmp = fs.create(new org.apache.hadoop.fs.Path(root, name), true)
      tmp.write("snap-junk".getBytes); tmp.close()
    }

    assert(store.vacuum(graceMillis = 0) == 5)
    assert(store.lastCommittedBatch.contains(7L)) // committed entry untouched
    assert(store.read().get.count() == 2)
    assert(store.vacuum(graceMillis = 0) == 0) // idempotent
  }

  test("ParquetCacheProvider.vacuum removes stranded versions and empty keys, keeps committed entries") {
    val dir = tempDir("graft-vac-cache")
    val prov = new ParquetCacheProvider(spark, dir)
    prov.putEntry("k1", Seq((1, "a")).toDF("id", "v"), """{"m":1}""")

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(path: String, body: String): Unit = {
      val t = fs.create(new org.apache.hadoop.fs.Path(path), true)
      t.write(body.getBytes); t.close()
    }
    // files the earlier on-disk layout left under k1: a stranded
    // version dir and its pointer
    Seq((9, "z")).toDF("id", "v").write.parquet(s"$dir/k1/v-${"%010d".format(5)}/data")
    put(s"$dir/k1/CURRENT", "v-0000000005")
    // an entry-document write cut short before its swap: the temp copy
    put(s"$dir/k1/.entry.json.tmp", "junk")
    // an orphan key dir with no entry document at all
    Seq((4, "q")).toDF("id", "v").write.parquet(s"$dir/orphan/v-${"%010d".format(0)}/data")

    assert(prov.vacuum() == 0) // all of it younger than the grace window
    assert(prov.vacuum(graceMillis = 0) == 4)
    assert(prov.hasEntry("k1"))
    assert(prov.getData("k1").get.count() == 1) // committed entry untouched
    assert(prov.getMeta("k1").contains("""{"m":1}"""))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/k1")).map(_.getPath.getName).sorted
      .toSeq == Seq("entry.json", "slice-0000000000"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/orphan")))
    assert(prov.vacuum(graceMillis = 0) == 0) // idempotent
  }

  test("lease + batched sync compose: per-slice renewal keeps a long run alive, " +
    "a deposed runner stops at the slice boundary") {
    val stateDir = tempDir("graft-lb-state")
    var clock = 0L
    val now = () => clock
    val a = new SyncLease(spark, stateDir, "runner-a", staleMillis = 500, nowMillis = now)
    val b = new SyncLease(spark, stateDir, "runner-b", staleMillis = 500, nowMillis = now)
    val state = new StateStore(spark, stateDir)
    val table = (1 to 9).map(i => (i.toLong, s"r$i")).toDF("id", "v")

    // the documented cadence: renew inside the work loop — each slice
    // takes 300 "ms" (under staleMillis), so the lease never goes stale
    // across a 900ms three-slice run even though 900 > staleMillis
    assert(a.tryAcquire())
    val r = SyncOps.fullSyncInBatches(table, "id", 3, state, "t",
      nowMillis = now) { slice =>
      assert(a.renew(), "holder must still own the lease at every slice")
      slice.count(); clock += 300
    }
    assert(r.completed && r.rowsProcessed == 9)
    assert(!b.tryAcquire()) // fresh heartbeat: no takeover window opened
    a.release()

    // deposed mid-run: the holder stops at the slice boundary instead
    // of racing the new holder
    assert(b.tryAcquire())
    clock += 501 // b stops heartbeating → stale
    assert(a.tryAcquire()) // a deposes b
    var processed = 0
    val ex = intercept[IllegalStateException] {
      SyncOps.fullSyncInBatches(table, "id", 3, state, "t2",
        nowMillis = now) { slice =>
        if (!b.renew()) throw new IllegalStateException("lease lost — stop writing")
        processed += 1; slice.count()
      }
    }
    assert(ex.getMessage.contains("lease lost"))
    assert(processed == 0) // b never wrote a slice after losing the lease
    assert(state.loadPartialProgress("t2").isEmpty) // no progress recorded
  }

  // ---- time-boxed batch sync ---------------------------------------

  test("fullSyncInBatches pauses at the time budget and a later call completes") {
    val stateDir = tempDir("graft-tb-state")
    val logDir = tempDir("graft-tb-log")
    val state = new StateStore(spark, stateDir)
    val log = new SyncLogRepo(spark, logDir)
    val table = (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v")

    var clock = 0L
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def slurp(df: org.apache.spark.sql.DataFrame): Unit = {
      seen ++= df.select("id").as[Long].collect().sorted
      clock += 100 // each slice costs 100 "ms"
    }

    // budget 50ms: the first slice (in flight at the check) finishes,
    // then the deadline between slices pauses the run
    val r1 = SyncOps.fullSyncInBatches(table, "id", 3, state, "t",
      maxDurationMillis = 50, audit = Some(log), nowMillis = () => clock)(slurp)
    assert(!r1.completed && r1.slices == 1 && r1.rowsProcessed == 3)
    assert(seen.toSeq == Seq(1L, 2L, 3L))
    assert(state.loadPartialProgress("t").contains((3L, 3L))) // persisted, NOT cleared
    assert(log.recentLogs(1, Some("t")).head.status == "paused")

    // unbudgeted second call resumes past the completed slice and finishes
    val r2 = SyncOps.fullSyncInBatches(table, "id", 3, state, "t",
      audit = Some(log), nowMillis = () => clock)(slurp)
    assert(r2.completed && r2.rowsProcessed == 10 && r2.slices == 3)
    assert(seen.toSeq == (1L to 10L)) // no row re-processed, none skipped
    assert(state.loadPartialProgress("t").isEmpty) // cleared on completion
    val statuses = log.recentLogs(5, Some("t")).map(_.status)
    assert(statuses == Seq("completed", "paused"))

    assert(intercept[IllegalArgumentException](
      SyncOps.fullSyncInBatches(table, "id", 3, state, "t",
        maxDurationMillis = 0)(_ => ())).getMessage.contains("maxDurationMillis"))
  }
}
