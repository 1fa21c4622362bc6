package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sync._

/** Multi-table sync config + orchestration specs (reference:
  * table_config/service.py, application/sync_service.py).
  */
class SyncRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def srcRows(n: Int, bump: Map[Long, Int] = Map.empty) =
    (1 to n).map { i =>
      val v = bump.getOrElse(i.toLong, 0)
      (i.toLong, Timestamp.valueOf(f"2024-01-01 00:${(i + v * n) / 60}%02d:${(i + v * n) % 60}%02d"),
        s"v$i-$v")
    }.toDF("id", "updated_at", "payload")

  test("TableConfig validation + repo CRUD + toggle") {
    val dir = tempDir("graft-tc")
    val repo = new TableConfigRepo(spark, dir)
    val good = TableConfig("SALES", "HISTORY", "history", "id",
      timeColumn = Some("updated_at"), description = Some("sales history"))
    assert(repo.upsert(good).isRight)
    assert(repo.upsert(good.copy(primaryKey = "")).isLeft)       // required
    assert(repo.upsert(good.copy(batchSize = 0)).isLeft)
    assert(repo.upsert(good.copy(batchSize = 200000)).isLeft)

    assert(repo.get("history").contains(good))
    assert(repo.get("history").exists(_.sourceFullName == "SALES.HISTORY"))

    repo.upsert(TableConfig("SALES", "ORDERS", "orders_t", "o_id"))
    assert(repo.all().map(_.targetTable) == Seq("history", "orders_t"))
    assert(repo.toggleSync("orders_t", enabled = false))
    assert(repo.syncTargets.map(_.targetTable) == Seq("history"))
    assert(repo.delete("orders_t"))
    assert(repo.all().size == 1)
    assert(!repo.toggleSync("missing", enabled = true))
  }

  test("full sync then incremental: watermark advances, upsert keeps latest per pk") {
    val srcDir = tempDir("graft-runner-src")
    val tgtDir = tempDir("graft-runner-tgt")
    val stateDir = tempDir("graft-runner-state")
    val logDir = tempDir("graft-runner-log")
    val state = new StateStore(spark, stateDir)
    val log = new SyncLogRepo(spark, logDir)
    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, state, log)
    val cfg = TableConfig("S", "t", "t_sync", "id", timeColumn = Some("updated_at"))

    // first run: full
    srcRows(10).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = runner.syncTable(cfg)
    assert(r1.syncType == "full" && r1.status == "completed" && r1.totalRows == 10)
    assert(state.loadWatermark("t_sync").isDefined)
    assert(runner.target(cfg).count() == 10)

    // source gains 5 new rows AND updates row 3 (newer timestamp)
    srcRows(15, bump = Map(3L -> 1)).write.mode("overwrite")
      .parquet(s"$srcDir/t.parquet")
    val r2 = runner.syncTable(cfg)
    assert(r2.syncType == "incremental" && r2.status == "completed")
    assert(r2.totalRows == 6) // 5 new + 1 updated past the watermark
    val tgt = runner.target(cfg)
    assert(tgt.count() == 15) // upsert: no duplicate for id=3
    assert(tgt.filter(col("id") === 3).select("payload").as[String].head() == "v3-1")

    // nothing new: zero-row incremental, target untouched
    val r3 = runner.syncTable(cfg)
    assert(r3.syncType == "incremental" && r3.totalRows == 0)
    assert(runner.target(cfg).count() == 15)

    // audit trail holds all three runs in order
    assert(log.recentLogs(10, Some("t_sync")).map(_.syncType) ==
      Seq("incremental", "incremental", "full"))
  }

  test("an incremental cycle pulls each fresh source row once") {
    val state = new StateStore(spark, tempDir("graft-pull-state"))
    val cfg = TableConfig("S", "t", "t_pull", "id", timeColumn = Some("updated_at"))
    val pulled = spark.sparkContext.longAccumulator("fresh rows pulled")
    var src = srcRows(10)
    // the source counts each row past the stored watermark it hands over
    val runner = new SyncRunner(spark, c => {
      val wm = state.loadWatermark(c.targetTable).map(Timestamp.valueOf)
      val acc = pulled
      spark.createDataFrame(src.rdd.map { r =>
        if (wm.exists(r.getTimestamp(1).after(_))) acc.add(1L)
        r
      }, src.schema)
    }, tempDir("graft-pull-tgt"), state, new SyncLogRepo(spark, tempDir("graft-pull-log")))
    assert(runner.syncTable(cfg).syncType == "full")

    src = srcRows(15, bump = Map(3L -> 1))
    pulled.reset()
    val e = runner.syncTable(cfg)
    assert(e.syncType == "incremental" && e.totalRows == 6)
    assert(pulled.value == 6L) // 5 new + 1 updated, each pulled once
    assert(runner.target(cfg).count() == 15)
    assert(state.loadWatermark("t_pull").contains("2024-01-01 00:00:18"))
  }

  test("crash mid-swap: the target parked aside is restored, next cycle stays incremental") {
    val srcDir = tempDir("graft-swap-src")
    val tgtDir = tempDir("graft-swap-tgt")
    val state = new StateStore(spark, tempDir("graft-swap-st"))
    val log = new SyncLogRepo(spark, tempDir("graft-swap-lg"))
    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, state, log)
    val cfg = TableConfig("S", "t", "t_sync", "id", timeColumn = Some("updated_at"))
    srcRows(10).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    assert(runner.syncTable(cfg).syncType == "full")

    // the state a crash between the swap's two renames leaves: the
    // live target parked under its aside name, nothing at the live path
    val live = java.nio.file.Paths.get(tgtDir, "t_sync.parquet")
    val aside = java.nio.file.Paths.get(tgtDir, ".t_sync.parquet.old")
    java.nio.file.Files.move(live, aside)
    val src = srcRows(15, bump = Map(3L -> 1))
    src.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r = runner.syncTable(cfg)
    assert(r.syncType == "incremental" && r.status == "completed")
    assert(r.totalRows == 6) // not a full re-pull
    def rows(df: DataFrame) = df.select("id", "payload").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows(runner.target(cfg)) ==
      rows(SyncOps.upsertKeepLatest(src, Seq("id"), "updated_at", "id")))
    assert(!java.nio.file.Files.exists(aside))
  }

  test("partitioned sync: full then incremental rewrites only affected partitions") {
    val srcDir = tempDir("graft-psr-src")
    val tgtDir = tempDir("graft-psr-tgt")
    val state = new StateStore(spark, tempDir("psr-st"))
    val log = new SyncLogRepo(spark, tempDir("psr-lg"))
    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, state, log)
    val cfg = TableConfig("S", "t", "t_part", "id", timeColumn = Some("updated_at"))
    val bucket = date_format(col("updated_at"), "yyyy-MM")
    def df(rs: (Long, String, String)*) = rs.map { case (i, ts, v) =>
      (i, Timestamp.valueOf(ts), v)
    }.toDF("id", "updated_at", "payload")

    df((1, "2024-01-10 00:00:00", "a"), (2, "2024-02-10 00:00:00", "b"),
       (3, "2024-03-10 00:00:00", "c"))
      .write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r1 = runner.syncTablePartitioned(cfg, bucket)
    assert(r1.syncType == "full" && r1.status == "completed" && r1.totalRows == 3)
    assert(state.loadWatermark("t_part").exists(_.startsWith("2024-03-10")))
    val partDir = new java.io.File(s"$tgtDir/t_part.parquet", "__part=2024-02")
    val before = partDir.listFiles().map(f => f.getName -> f.lastModified()).toMap

    // source gains a 2024-04 row AND moves id=1 forward (stale version
    // in 2024-01 must vanish; 2024-02/03 stay byte-identical)
    df((1, "2024-01-10 00:00:00", "a"), (2, "2024-02-10 00:00:00", "b"),
       (3, "2024-03-10 00:00:00", "c"),
       (4, "2024-04-05 00:00:00", "d"), (1, "2024-04-06 00:00:00", "a2"))
      .write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val r2 = runner.syncTablePartitioned(cfg, bucket)
    assert(r2.syncType == "incremental" && r2.totalRows == 2)
    assert(partDir.listFiles().map(f => f.getName -> f.lastModified()).toMap == before)
    val got = PartitionedSync.read(spark, s"$tgtDir/t_part.parquet")
      .select("id", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    // the runner's read is the table as a caller sees it
    val tgt = runner.target(cfg)
    assert(!tgt.columns.contains(PartitionedSync.PartCol))
    assert(tgt.collect().toSet ==
      PartitionedSync.read(spark, s"$tgtDir/t_part.parquet").collect().toSet)
    assert(state.loadWatermark("t_part").exists(_.startsWith("2024-04-06")))

    // nothing new: zero-row incremental, watermark unchanged
    val r3 = runner.syncTablePartitioned(cfg, bucket)
    assert(r3.syncType == "incremental" && r3.totalRows == 0)
    assert(state.loadWatermark("t_part").exists(_.startsWith("2024-04-06")))
  }

  test("a flat target from before the partitioned layout gets a full re-sync, not a merge") {
    val srcDir = tempDir("graft-flat-src")
    val tgtDir = tempDir("graft-flat-tgt")
    val state = new StateStore(spark, tempDir("graft-flat-st"))
    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, state, new SyncLogRepo(spark, tempDir("graft-flat-lg")))
    val cfg = TableConfig("S", "t", "t_sync", "id", timeColumn = Some("updated_at"))
    // the old layout: plain parquet files at the root, a stored watermark,
    // and a row (id 99) the source no longer has
    srcRows(10).union(Seq((99L, Timestamp.valueOf("2024-01-01 00:00:01"), "gone"))
      .toDF("id", "updated_at", "payload"))
      .write.parquet(s"$tgtDir/t_sync.parquet")
    state.saveWatermark("t_sync", "2024-01-01 00:00:10")
    val src = srcRows(15, bump = Map(3L -> 1))
    src.write.parquet(s"$srcDir/t.parquet")

    val r = runner.syncTable(cfg)
    assert(r.syncType == "full" && r.status == "completed" && r.totalRows == 15)
    val root = new java.io.File(tgtDir, "t_sync.parquet").list().toSeq
    assert(root.exists(_.startsWith(s"${PartitionedSync.PartCol}=")))
    assert(!root.exists(_.endsWith(".parquet")))
    def rows(df: DataFrame) = df.select("id", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(runner.target(cfg)) == rows(src))
    assert(state.loadWatermark("t_sync").contains("2024-01-01 00:00:18"))
    // the next cycle merges into the partitioned target
    assert(runner.syncTable(cfg).syncType == "incremental")
  }

  test("QueryService reads a syncTable target as the source's columns and rows") {
    val srcDir = tempDir("graft-qs-src")
    val tgtDir = tempDir("graft-qs-tgt")
    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, new StateStore(spark, tempDir("graft-qs-st")),
      new SyncLogRepo(spark, tempDir("graft-qs-lg")))
    val cfg = TableConfig("S", "t", "t_sync", "id", timeColumn = Some("updated_at"))
    srcRows(10).write.parquet(s"$srcDir/t.parquet")
    runner.syncTable(cfg)
    val src = srcRows(15, bump = Map(3L -> 1))
    src.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    assert(runner.syncTable(cfg).syncType == "incremental")

    val qs = new graft.api.QueryService(spark, tgtDir)
    def got() = qs.queryTable("t_sync", orderBy = Seq("id"))
    val want = src.orderBy("id").collect().toSeq
    assert(got().columns.toSeq == src.columns.toSeq)
    assert(got().collect().toSeq == want)
    assert(qs.rowCount("t_sync") == 15)
    // a partition that a cut-short swap left parked aside is still read
    val root = new java.io.File(tgtDir, "t_sync.parquet")
    val part = root.list().filter(_.startsWith(s"${PartitionedSync.PartCol}=")).min
    assert(new java.io.File(root, part).renameTo(new java.io.File(root, s".$part.old")))
    assert(got().collect().toSeq == want)
  }

  test("an empty source syncs to an empty target that reads back") {
    val tgtDir = tempDir("graft-empty-tgt")
    val state = new StateStore(spark, tempDir("graft-empty-st"))
    val runner = new SyncRunner(spark, _ => srcRows(3).limit(0), tgtDir, state,
      new SyncLogRepo(spark, tempDir("graft-empty-lg")))
    val cfg = TableConfig("S", "t", "t_empty", "id", timeColumn = Some("updated_at"))
    val r = runner.syncTable(cfg)
    assert(r.syncType == "full" && r.status == "completed" && r.totalRows == 0)
    assert(runner.target(cfg).columns.toSeq == Seq("id", "updated_at", "payload"))
    assert(runner.target(cfg).count() == 0)
    assert(state.loadWatermark("t_empty").isEmpty)
  }

  test("testSync: row-limited, watermark untouched, next full sync unaffected") {
    val srcDir = tempDir("graft-test-src")
    val tgtDir = tempDir("graft-test-tgt")
    val state = new StateStore(spark, tempDir("ts"))
    val log = new SyncLogRepo(spark, tempDir("tl"))
    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, state, log)
    val cfg = TableConfig("S", "t", "t_sync", "id", timeColumn = Some("updated_at"))
    srcRows(50).write.mode("overwrite").parquet(s"$srcDir/t.parquet")

    // smoke run: target holds <= rowLimit rows, audit says "test",
    // no watermark appears
    val r = runner.testSync(cfg, rowLimit = 7)
    assert(r.syncType == "test" && r.status == "completed" && r.totalRows == 7)
    assert(runner.target(cfg).count() == 7)
    assert(state.loadWatermark("t_sync").isEmpty)

    // a limit above the source size takes everything, no error
    assert(runner.testSync(cfg, rowLimit = 1000).totalRows == 50)

    // the next real sync is a FULL one (no watermark was written) and
    // sees the complete source, not the rehearsal slice
    val full = runner.syncTable(cfg)
    assert(full.syncType == "full" && full.totalRows == 50)
    assert(state.loadWatermark("t_sync").isDefined)

    // after a real watermark exists, a test run still must not move it
    val wmBefore = state.loadWatermark("t_sync").get
    runner.testSync(cfg, rowLimit = 3)
    assert(state.loadWatermark("t_sync").contains(wmBefore))

    assert(log.recentLogs(10, Some("t_sync")).map(_.syncType) ==
      Seq("test", "full", "test", "test"))
    assert(intercept[IllegalArgumentException](
      runner.testSync(cfg, rowLimit = 0)).getMessage.contains("rowLimit"))
  }

  test("syncAll runs enabled targets, skips disabled, survives one failure") {
    val srcDir = tempDir("graft-runner2-src")
    val tgtDir = tempDir("graft-runner2-tgt")
    val state = new StateStore(spark, tempDir("s"))
    val log = new SyncLogRepo(spark, tempDir("l"))
    val repo = new TableConfigRepo(spark, tempDir("c"))
    repo.upsert(TableConfig("S", "a", "a_sync", "id"))
    repo.upsert(TableConfig("S", "missing", "b_sync", "id")) // source won't exist
    repo.upsert(TableConfig("S", "c", "c_sync", "id", syncEnabled = false))
    srcRows(4).write.mode("overwrite").parquet(s"$srcDir/a.parquet")

    val runner = new SyncRunner(spark,
      cfg => spark.read.parquet(s"$srcDir/${cfg.sourceTable}.parquet"),
      tgtDir, state, log)
    val results = runner.syncAll(repo)
    assert(results.size == 2) // c_sync skipped entirely
    val byTable = results.map(e => e.table -> e.status).toMap
    assert(byTable("a_sync") == "completed")
    assert(byTable("b_sync") == "failed")
    assert(log.entries().forall(_.table != "c_sync"))

    val st = runner.status()
    assert(st.map(_._1.table) == Seq("a_sync", "b_sync"))
    assert(st.find(_._1.table == "a_sync").exists(_._2.completed == 1))
  }
}
