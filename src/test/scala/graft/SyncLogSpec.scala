package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sync.{StateStore, SyncLogRepo, SyncOps}

/** Sync audit log + partial-progress resume specs (reference:
  * repository/sync_log_repo.py, sync_engine.py:568-760,
  * test/state/test_state_rollback.py).
  */
class SyncLogSpec extends SparkSpec {
  import spark.implicits._

  test("two syncs produce two ordered records, queryable as a DataFrame") {
    val dir = tempDir("graft-synclog")
    var now = 1000L
    val repo = new SyncLogRepo(spark, dir, () => { now += 10; now })
    val run1 = repo.logStart("orders", "full", syncId = "run-1")
    repo.logComplete(run1, totalRows = 500)
    val run2 = repo.logStart("orders", "incremental", syncId = "run-2")
    repo.logComplete(run2, totalRows = 42)

    val es = repo.entries()
    assert(es.map(_.syncId) == Seq("run-1", "run-2")) // start-time order
    assert(es.map(_.status) == Seq("completed", "completed"))
    assert(es.map(_.totalRows) == Seq(500L, 42L))
    assert(es.forall(e => e.endMillis.exists(_ > e.startMillis)))

    val df = repo.toDF()
    assert(df.count() == 2)
    assert(df.filter(col("syncType") === "incremental")
      .select("totalRows").as[Long].head() == 42L)
  }

  test("failures, per-table filters, statistics, retention") {
    val dir = tempDir("graft-synclog2")
    var now = 1000L
    val repo = new SyncLogRepo(spark, dir, () => { now += 10; now })
    repo.logComplete(repo.logStart("a", "full", "s1"), 100)
    repo.logFailure(repo.logStart("a", "incremental", "s2"), "boom:\n\t\"quoted\"")
    val running = repo.logStart("b", "full", "s3")

    assert(repo.getBySyncId("s2").exists(_.errorMessage.contains("boom:\n\t\"quoted\"")))
    assert(repo.recentLogs(limit = 2).map(_.syncId) == Seq("s3", "s2")) // newest first
    assert(repo.recentLogs(table = Some("a")).map(_.syncId) == Seq("s2", "s1"))

    val st = repo.statistics()
    assert(st.total == 3 && st.completed == 1 && st.failed == 1 && st.running == 1)
    assert(st.totalRowsSynced == 100 && st.avgRows == 100.0)
    val stA = repo.statistics(Some("a"))
    assert(stA.total == 2 && stA.running == 0)

    // retention: everything started before s3 goes away
    assert(repo.deleteOldLogs(running.startMillis) == 2)
    assert(repo.entries().map(_.syncId) == Seq("s3"))
  }

  test("resumable full sync: interruption resumes without re-reading finished slices") {
    val stateDir = tempDir("graft-resume")
    val state = new StateStore(spark, stateDir)
    val table = (1 to 95).map(i => (i.toLong, s"row$i")).toDF("id", "v")

    // first run dies in the third slice (after 2 complete 20-row slices)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    var slicesDone = 0
    val boom = intercept[RuntimeException] {
      SyncOps.fullSyncResumable(table, "id", 20, state, "t") { s =>
        if (slicesDone == 2) throw new RuntimeException("executor lost")
        seen += s.select("id").as[Long].collect().toSeq.sorted
        slicesDone += 1
      }
    }
    assert(boom.getMessage == "executor lost")
    assert(state.loadPartialProgress("t").contains((40L, 40L))) // 2 slices persisted
    assert(seen.flatten == (1L to 40L))

    // resumed run starts past id 40 — finished slices are never re-read
    val total = SyncOps.fullSyncResumable(table, "id", 20, state, "t") { s =>
      seen += s.select("id").as[Long].collect().toSeq.sorted
    }
    assert(total == 95L)
    assert(seen.flatten == (1L to 95L)) // every row exactly once overall
    assert(state.loadPartialProgress("t").isEmpty) // cleared on completion
  }

  test("resumable full sync: duplicate ids straddling a slice boundary are never dropped") {
    val stateDir = tempDir("graft-resume3")
    val state = new StateStore(spark, stateDir)
    // ids [1,2,2,3,3,3,4]: a pure LIMIT cut at sliceSize=2 would split
    // the id=2 (and id=3) tie groups and lose rows to the `> lastId`
    // filter of the next round
    val table = Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L).zipWithIndex
      .map { case (id, i) => (id, s"r$i") }.toDF("id", "v")
    var rows = Seq.empty[Long]
    val total = SyncOps.fullSyncResumable(table, "id", 2, state, "t3") { s =>
      rows = rows ++ s.select("id").as[Long].collect().sorted
    }
    assert(total == 7L)
    assert(rows.sorted == Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L))
    // non-integral id column rejected up front, not mid-sync
    intercept[IllegalArgumentException] {
      SyncOps.fullSyncResumable(table.withColumn("id", $"id".cast("string")),
        "id", 2, state, "t4")(_ => ())
    }
  }

  test("resumable full sync: clean single run covers the table in order") {
    val stateDir = tempDir("graft-resume2")
    val state = new StateStore(spark, stateDir)
    val table = (1 to 10).map(i => (i.toLong, i * 2)).toDF("id", "v")
    var rows = Seq.empty[Long]
    val total = SyncOps.fullSyncResumable(table, "id", 4, state, "t2") { s =>
      rows = rows ++ s.select("id").as[Long].collect().sorted
    }
    assert(total == 10L && rows == (1L to 10L))
  }
}
