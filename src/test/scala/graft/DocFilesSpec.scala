package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, date_format}

import graft.cache.{CachedQueryMetadata, ParquetCacheProvider}
import graft.streaming.{SnapshotStore, StoreMaintenance}
import graft.sync._

/** The shared metadata-document module ([[graft.core.DocFiles]]):
  * documents in the on-disk format written before it existed read back
  * unchanged, and every document write leaves the old document or the
  * new one readable when a crash or a failed rename hits it at any of
  * its filesystem steps ([[CrashFs]]). The same faults hit the sync
  * cycles and the partition swap that the sync merge and compaction
  * share: the next run recovers and converges.
  */
class DocFilesSpec extends SparkSpec {
  import spark.implicits._

  CrashFs.register(spark.sparkContext.hadoopConfiguration)

  private def put(dir: String, name: String, body: String): Unit = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }

  private def text(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), StandardCharsets.UTF_8)

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "v").as[(Long, String)].collect().toSeq.sorted

  test("documents in the earlier on-disk format read back unchanged") {
    val dir = tempDir("graft-doc-compat")
    // watermark, progress, schema pointer
    put(dir, "state/t.state.json", """{"table": "t", "last_value": "2024-01-01 00:00:10"}""")
    put(dir, "state/q.state.json", """{"table": "q", "last_value": "a\"b\\c"}""")
    put(dir, "state/t.progress.json", """{"table": "t", "rows_processed": 40, "last_row_id": 41}""")
    put(dir, "state/t.schema.v1.json", """{"type":"struct","fields":[]}""")
    put(dir, "state/t.schema.LATEST", "v1")
    val state = new StateStore(spark, s"$dir/state")
    assert(state.loadWatermark("t").contains("2024-01-01 00:00:10"))
    assert(state.loadWatermark("q").contains("a\"b\\c"))
    assert(state.loadPartialProgress("t").contains((40L, 41L)))
    assert(state.loadSchema("t").contains("""{"type":"struct","fields":[]}"""))
    assert(state.schemaVersions("t") == Seq("v1"))
    assert(state.checkpoint() == Map("t" -> "2024-01-01 00:00:10", "q" -> "a\"b\\c"))
    // the writer still produces that format
    state.saveWatermark("t", "2024-01-01 00:00:10")
    assert(text(dir, "state/t.state.json") ==
      """{"table": "t", "last_value": "2024-01-01 00:00:10"}""")

    // sync-log record whose error holds JSON unicode escapes
    put(dir, "log/s1.0.json", """{"sync_id": "s1", "table_name": "a", "sync_type": "full", "status": "running", "start_millis": 1010, "end_millis": null, "total_rows": 0, "error_message": null}""")
    put(dir, "log/s1.1.json", """{"sync_id": "s1", "table_name": "a", "sync_type": "full", "status": "failed", "start_millis": 1010, "end_millis": 1020, "total_rows": 0, "error_message": "boom:""" +
      "\\u000a\\u0009" + """\"quoted\""}""")
    assert(new SyncLogRepo(spark, s"$dir/log").entries() == Seq(SyncLogEntry("s1", "a",
      "full", "failed", 1010L, Some(1020L), 0L, Some("boom:\n\t\"quoted\""))))

    // table config with a raw newline in its description
    val cfgJson = """{"source_schema": "S", "source_table": "T", "target_table": "t", """ +
      """"primary_key": "id", "time_column": "ts", "sync_enabled": false, """ +
      """"batch_size": 500, "description": "line1""" + "\n" + """line2 \"q\""}"""
    put(dir, "cfg/t.config.json", cfgJson)
    val cfg = TableConfig("S", "T", "t", "id", Some("ts"), syncEnabled = false,
      batchSize = 500, description = Some("line1\nline2 \"q\""))
    assert(new TableConfigRepo(spark, s"$dir/cfg").all() == Seq(cfg))
    new TableConfigRepo(spark, s"$dir/cfg2").upsert(cfg.copy(description = Some("d")))
    assert(text(dir, "cfg2/t.config.json") == cfgJson.replace("line1\nline2 \\\"q\\\"", "d"))

    // sync lease
    put(dir, "lease/_sync.lease.json", """{"owner": "runner-\"a\"", "pid": 4242, "acquired_ms": 7}""")
    assert(new SyncLease(spark, s"$dir/lease", "me").holder
      .exists { case (o, p, _) => o == "runner-\"a\"" && p == 4242L })

    // cache: the entry document (slices, schema and meta in one)
    val metaJson = """{"last_timestamp": "2024-01-01 00:00:10", "row_count": 2, """ +
      """"cached_at": 1700000000000, "selected_conversions": {"d\"quoted": "datetime", "v_str": "numeric"}}"""
    val meta = CachedQueryMetadata(Some("2024-01-01 00:00:10"), 2L, 1700000000000L,
      Map("v_str" -> "numeric", "d\"quoted" -> "datetime"))
    assert(CachedQueryMetadata.fromJson(metaJson).contains(meta))
    assert(CachedQueryMetadata.toJson(meta) == metaJson)
    val data = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    def quoted(json: String) = "\"" + json.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val entryJson = """{"slices": ["slice-0000000000"], "schema": """ + quoted(data.schema.json) +
      """, "meta": """ + quoted(metaJson) + "}"
    data.write.parquet(s"$dir/cache/k/slice-0000000000")
    put(dir, "cache/k/entry.json", entryJson)
    val prov = new ParquetCacheProvider(spark, s"$dir/cache")
    assert(prov.getMeta("k").contains(metaJson))
    assert(rows(prov.getData("k").get) == rows(data))
    // the writer produces that document
    new ParquetCacheProvider(spark, s"$dir/cache2").putEntry("k", data, metaJson)
    assert(text(dir, "cache2/k/entry.json") == entryJson)

    // snapshot pointer
    data.write.parquet(s"$dir/snap/snap-0000000000000000007")
    put(dir, "snap/CURRENT", "snap-0000000000000000007")
    val snap = new SnapshotStore(spark, s"$dir/snap")
    assert(snap.lastCommittedBatch.contains(7L))
    assert(rows(snap.read().get) == rows(data))

    // store-compaction manifest: finish the deletion, then retention
    data.write.parquet(s"$dir/store/batch=0")
    data.write.parquet(s"$dir/store/batch=-1")
    put(dir, "store/batch=-1/_sources.json", """{"sources": ["batch=0", "batch=1"], "maxSourceId": 1}""")
    assert(StoreMaintenance.recover(spark, s"$dir/store") == Seq("batch=0"))
    assert(StoreMaintenance.dropBatchesBelow(spark, s"$dir/store", 2L) == Seq(-1L))
  }

  // ---- crash injection ----------------------------------------------

  /** Runs `write` on a fresh copy of the old state (made by `setup`)
    * once per fault point k = 1, 2, ... until it completes with no
    * fault left to inject. After each run `check(root, threw)` looks at
    * the state left behind (`threw`: the write did not return
    * normally). Points run four at a time, each on its own thread and
    * copy. Returns the number of fault points.
    */
  private def everyFault(fault: CrashFs.Fault)(setup: String => Unit)(write: String => Unit)
                        (check: (String, Boolean) => Unit): Int = {
    val width = 4
    def point(k: Int): Boolean = {
      val root = tempDir("graft-crash")
      setup(root)
      val (fired, threw) = CrashFs.inject(fault, k)(write(root))
      withClue(s"$fault at call $k: ")(check(root, threw))
      fired
    }
    val pool = Executors.newFixedThreadPool(width)
    try {
      // a point fires iff k <= the number of counted calls
      var n = 0
      var more = true
      while (more) {
        val wave = ((n + 1) to (n + width)).map(k =>
          pool.submit(new Callable[Boolean] { def call(): Boolean = point(k) }))
        val fired = wave.map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
        n += fired.count(identity)
        more = fired.forall(identity)
      }
      n
    } finally pool.shutdown()
  }

  /** `everyFault` under both faults; each must find at least one point. */
  private def bothFaults(setup: String => Unit)(write: String => Unit)
                        (check: (String, Boolean) => Unit): Unit =
    Seq(CrashFs.Crash, CrashFs.FalseRename).foreach { fault =>
      assert(everyFault(fault)(setup)(write)(check) > 0, s"no $fault point")
    }

  /** The old value, or the new one — always the new one once the write
    * returned normally.
    */
  private def oldOrNew[T](seen: T, old: T, now: T, threw: Boolean): Unit =
    if (threw) assert(seen == old || seen == now, s"neither old nor new: $seen")
    else assert(seen == now)

  test("crash injection: StateStore watermark, progress and schema writes") {
    def st(root: String) = new StateStore(spark, CrashFs.path(root))
    def plain(root: String) = new StateStore(spark, root)
    bothFaults(st(_).saveWatermark("t", "old"))(st(_).saveWatermark("t", "new \"1\"\n")) {
      (root, threw) =>
        oldOrNew(plain(root).loadWatermark("t"), Some("old"), Some("new \"1\"\n"), threw)
        assert(plain(root).checkpoint().keySet == Set("t"))
    }
    bothFaults(st(_).savePartialProgress("t", 10L, 11L))(st(_).savePartialProgress("t", 20L, 21L)) {
      (root, threw) =>
        oldOrNew(plain(root).loadPartialProgress("t"), Some((10L, 11L)), Some((20L, 21L)), threw)
    }
    bothFaults(st(_).saveSchema("t", "s1", "v1"))(st(_).saveSchema("t", "s2", "v2")) {
      (root, threw) =>
        oldOrNew(plain(root).loadSchema("t"), Some("s1"), Some("s2"), threw)
    }
  }

  test("crash injection: TableConfigRepo.upsert") {
    val old = TableConfig("S", "T", "t", "id", description = Some("old"))
    val now = old.copy(description = Some("new\n"), batchSize = 7)
    bothFaults(r => new TableConfigRepo(spark, CrashFs.path(r)).upsert(old))(
      r => new TableConfigRepo(spark, CrashFs.path(r)).upsert(now)) { (root, threw) =>
      val repo = new TableConfigRepo(spark, root)
      oldOrNew(repo.get("t"), Some(old), Some(now), threw)
      assert(repo.all().size == 1)
    }
  }

  test("crash injection: SnapshotStore.commit and ParquetCacheProvider putEntry / putMeta") {
    val old = Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
    val now = Seq((1L, "a2"), (3L, "c")).toDF("id", "v").coalesce(1)
    val template = tempDir("graft-crash-template")
    def prov(root: String) = new ParquetCacheProvider(spark, CrashFs.path(s"$root/cache"))
    new SnapshotStore(spark, CrashFs.path(s"$template/snap")).commit(old, 1L)
    prov(template).putEntry("k", old, "m1")
    // key "c" holds as many slices as an entry takes before an append
    // compacts it
    val tails = (1 until ParquetCacheProvider.CompactAt).map(i => Seq((10L + i, s"t$i")).toDF("id", "v"))
    prov(template).putEntry("c", old, "c1")
    tails.foreach(prov(template).appendEntry("c", _, "c1"))
    assert(new File(s"$template/cache/c").list().count(_.startsWith("slice-")) ==
      ParquetCacheProvider.CompactAt)
    val setup: String => Unit = copyTree(template, _)

    bothFaults(setup)(r => new SnapshotStore(spark, CrashFs.path(s"$r/snap")).commit(now, 2L)) {
      (root, threw) =>
        val s = new SnapshotStore(spark, s"$root/snap")
        oldOrNew((s.lastCommittedBatch, s.read().map(rows)),
          (Some(1L), Some(rows(old))), (Some(2L), Some(rows(now))), threw)
    }
    def cached(root: String, key: String = "k") = {
      val p = new ParquetCacheProvider(spark, s"$root/cache")
      (p.getMeta(key), p.getData(key).map(rows))
    }
    bothFaults(setup)(prov(_).putEntry("k", now, "m2")) { (root, threw) =>
      oldOrNew(cached(root), (Some("m1"), Some(rows(old))), (Some("m2"), Some(rows(now))), threw)
    }
    bothFaults(setup)(prov(_).putMeta("k", "m2")) { (root, threw) =>
      oldOrNew(cached(root), (Some("m1"), Some(rows(old))), (Some("m2"), Some(rows(old))), threw)
    }
    // a plain append adds a slice; a compacting one rewrites the entry
    // as one slice and deletes the slices it held
    bothFaults(setup)(prov(_).appendEntry("k", now, "m2")) { (root, threw) =>
      oldOrNew(cached(root), (Some("m1"), Some(rows(old))),
        (Some("m2"), Some((rows(old) ++ rows(now)).sorted)), threw)
    }
    val cOld = (rows(old) ++ tails.flatMap(rows)).sorted
    bothFaults(setup)(prov(_).appendEntry("c", now, "c2")) { (root, threw) =>
      oldOrNew(cached(root, "c"), (Some("c1"), Some(cOld)),
        (Some("c2"), Some((cOld ++ rows(now)).sorted)), threw)
      if (!threw)
        assert(new File(s"$root/cache/c").list().count(_.startsWith("slice-")) == 1)
    }
  }

  test("crash injection: a whole-table sync cycle stays incremental and converges") {
    def src(n: Int, bumped: Set[Long]) = (1 to n).map { i =>
      val b = bumped.contains(i.toLong)
      (i.toLong, Timestamp.valueOf(f"2024-01-01 00:00:${if (b) i + 30 else i}%02d"),
        if (b) s"v$i'" else s"v$i")
    }.toDF("id", "ts", "v").coalesce(1)
    val sources = Map("v1" -> src(4, Set.empty), "v2" -> src(6, Set(2L)))
    val cfg = TableConfig("S", "T", "t", "id", timeColumn = Some("ts"))
    def runner(root: String, version: String) = new SyncRunner(spark,
      _ => sources(version), s"$root/target",
      new StateStore(spark, s"$root/state"), new SyncLogRepo(spark, s"$root/log"))
    val expected = rows(SyncOps.upsertKeepLatest(sources("v2"), Seq("id"), "ts", "id"))
    val (wm1, wm2) = ("2024-01-01 00:00:04", "2024-01-01 00:00:32")

    val template = tempDir("graft-crash-sync")
    assert(runner(CrashFs.path(template), "v1").syncTable(cfg).syncType == "full")
    oneShufflePartition(bothFaults(copyTree(template, _))(
      r => runner(CrashFs.path(r), "v2").syncTable(cfg): Unit) { (root, threw) =>
        oldOrNew(new StateStore(spark, s"$root/state").loadWatermark("t"),
          Some(wm1), Some(wm2), threw)
        // the next cycle stays incremental and leaves the target converged
        val next = runner(CrashFs.path(root), "v2").syncTable(cfg)
        assert(next.syncType == "incremental" && next.status == "completed")
        assert(rows(runner(root, "v2").target(cfg)) == expected)
        assert(new StateStore(spark, s"$root/state").loadWatermark("t").contains(wm2))
        assert(new SyncLogRepo(spark, s"$root/log").entries().count(_.syncType == "full") == 1)
    })
  }

  /** A few rows per cycle: one shuffle partition keeps each cycle's tasks few. */
  private def oneShufflePartition(body: => Unit): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Names under `dir` that start with `.`: staging or aside debris. */
  private def hidden(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(_.startsWith("."))

  // three day buckets; the v2 cycle moves key 1 out of day 1 (whose
  // other rows stay), moves both keys of day 2 to day 3 (day 2 empties)
  // and adds key 7 to day 3
  private def at(day: Int, s: Int) = Timestamp.valueOf(f"2024-01-0$day 00:00:$s%02d")
  private val daysV1 = Seq((1L, at(1, 1), "a"), (2L, at(1, 2), "b"), (3L, at(1, 3), "c"),
    (4L, at(2, 4), "d"), (5L, at(2, 5), "e"), (6L, at(3, 6), "f"))
  private val daysV2 = daysV1.filterNot(r => Set(1L, 4L, 5L)(r._1)) ++
    Seq((1L, at(3, 31), "a'"), (4L, at(3, 34), "d'"), (5L, at(3, 35), "e'"), (7L, at(3, 37), "g"))
  private lazy val days = Map("v1" -> daysV1, "v2" -> daysV2)
    .map { case (k, v) => k -> v.toDF("id", "ts", "v").coalesce(1) }
  private val dayBucket = date_format(col("ts"), "yyyy-MM-dd")
  private val dayCfg = TableConfig("S", "T", "t", "id", timeColumn = Some("ts"))
  private def dayRunner(root: String, version: String) = new SyncRunner(spark,
    _ => days(version), s"$root/target",
    new StateStore(spark, s"$root/state"), new SyncLogRepo(spark, s"$root/log"))
  private def dayTable(root: String) = s"$root/target/t.parquet"
  private val (dayWm1, dayWm2) = ("2024-01-03 00:00:06", "2024-01-03 00:00:37")

  /** The state after a v2 cycle: the table, its two day partitions, the
    * watermark, and no staging or aside debris at the root or inside.
    */
  private def convergedDays(root: String): Unit = {
    assert(rows(PartitionedSync.read(spark, dayTable(root))) == rows(days("v2")))
    assert(hidden(dayTable(root)).isEmpty && hidden(s"$root/target").isEmpty)
    assert(new File(dayTable(root)).list().count(_.startsWith(PartitionedSync.PartCol)) == 2)
    assert(new StateStore(spark, s"$root/state").loadWatermark("t").contains(dayWm2))
  }

  test("crash injection: a partitioned sync cycle stays incremental and converges") {
    val template = tempDir("graft-crash-psync")
    assert(dayRunner(CrashFs.path(template), "v1").syncTablePartitioned(dayCfg, dayBucket).syncType == "full")
    oneShufflePartition(bothFaults(copyTree(template, _))(
      r => dayRunner(CrashFs.path(r), "v2").syncTablePartitioned(dayCfg, dayBucket): Unit) { (root, threw) =>
        oldOrNew(new StateStore(spark, s"$root/state").loadWatermark("t"),
          Some(dayWm1), Some(dayWm2), threw)
        val next = dayRunner(CrashFs.path(root), "v2").syncTablePartitioned(dayCfg, dayBucket)
        assert(next.syncType == "incremental" && next.status == "completed")
        convergedDays(root)
    })
  }

  test("crash injection: a full re-sync over a partitioned target leaves the old table or the new one") {
    // no watermark over a live target: the cycle rewrites the whole table
    val template = tempDir("graft-crash-resync")
    assert(dayRunner(CrashFs.path(template), "v1").syncTablePartitioned(dayCfg, dayBucket).syncType == "full")
    assert(new File(s"$template/state/t.state.json").delete())
    oneShufflePartition(bothFaults(copyTree(template, _))(
      r => dayRunner(CrashFs.path(r), "v2").syncTablePartitioned(dayCfg, dayBucket): Unit) { (root, threw) =>
        oldOrNew(rows(PartitionedSync.read(spark, dayTable(root))),
          rows(days("v1")), rows(days("v2")), threw)
        assert(dayRunner(CrashFs.path(root), "v2").syncTablePartitioned(dayCfg, dayBucket)
          .status == "completed")
        convergedDays(root)
    })
  }

  test("crash injection: Compaction.compact keeps every row and converges") {
    def part(ids: Range, grp: String) =
      ids.map(i => (i.toLong, s"v$i", grp)).toDF("id", "v", "grp").coalesce(1)
    val template = tempDir("graft-crash-compact")
    val plain = s"$template/t"
    PartitionedSync.writeFull(part(1 to 4, "a").union(part(5 to 8, "b")), col("grp"),
      CrashFs.path(plain))
    // fragment partition a: three more files
    (1 to 3).foreach { i =>
      part(10 * i to 10 * i + 1, "a").withColumn(PartitionedSync.PartCol, col("grp"))
        .write.mode("append").partitionBy(PartitionedSync.PartCol).parquet(CrashFs.path(plain))
    }
    assert(Compaction.census(spark, plain).map(s => s.partition -> s.files) == Seq("a" -> 4, "b" -> 1))
    val want = rows(PartitionedSync.read(spark, plain))
    def compact(root: String) = Compaction.compact(spark, CrashFs.path(s"$root/t"), 1L << 30)

    bothFaults(copyTree(template, _))(compact(_): Unit) { (root, _) =>
      // the next run recovers what a fault left, then compacts if needed
      compact(root)
      assert(rows(PartitionedSync.read(spark, s"$root/t")) == want)
      assert(Compaction.census(spark, s"$root/t").map(s => s.partition -> s.files) ==
        Seq("a" -> 1, "b" -> 1))
      assert(hidden(s"$root/t").isEmpty)
    }
  }
}
