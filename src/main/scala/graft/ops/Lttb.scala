package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.LocalGate

/** Largest-Triangle-Three-Buckets downsampling, distributed.
  *
  * Reference: src/oracle_duckdb_sync/data/lttb.py:92 (`_lttb_core`) —
  * first/last always kept; interior indices split into threshold-2
  * equal buckets; per bucket keep the point forming the largest
  * triangle with an anchor on each side.
  *
  * Two algorithm forms live here:
  *  - `downsampleExact` / `lttbIndices`: the textbook SEQUENTIAL
  *    algorithm, anchor = previously SELECTED point, integer bucket
  *    boundaries — index-exact vs the reference (`_lttb_core`,
  *    data/lttb.py:89-150). Sequential per series, distributed across
  *    series via mapGroups; a series is a viz slice that fits a task.
  *  - `downsample` / `downsampleRangePartitioned`: the PARALLEL
  *    approximation, anchor = previous bucket's AVERAGE. Every bucket
  *    selects independently — one groupBy for the averages, one
  *    self-join against tiny anchor tables (broadcast), one window
  *    argmax per bucket — so a single series of any size distributes.
  *    Visual fidelity is equivalent (both preserve local extrema) but
  *    the selected INDICES can differ from the reference; the spec
  *    pins the variant semantics explicitly.
  *
  * Two global-index strategies:
  *  - `downsample`: single-partition window row_number — fine up to
  *    ~10M points per series (viz inputs), simplest plan. Inputs the
  *    [[graft.core.LocalGate]] admits are collected once and selected
  *    on the driver (`local`, bit-identical to the staged plan); larger
  *    ones stage to parquet.
  *  - `downsampleRangePartitioned`: range-partition on x, sort within
  *    partitions, then a DataFrame-native contiguous index:
  *    `monotonically_increasing_id` stamps (pid, local ordinal) as rows
  *    stream out of each partition's sort, one tiny per-pid count job
  *    yields global offsets (and n), and a broadcast join adds them —
  *    no single-partition stage, no RDD detour, the 100 TB path. Spec
  *    pins it equal to `downsample`.
  */
object Lttb {

  /** Reference-exact sequential LTTB index selection.
    *
    * Behavioral anchor: src/oracle_duckdb_sync/data/lttb.py:89-150
    * (`_lttb_core`) — first/last always kept; bucket i spans
    * [int((i-1)·bs)+1, int(i·bs)+1); the left anchor is the previously
    * SELECTED point (not a bucket average); the right anchor is the
    * NEXT bucket's mean (clamped to n, falling back to the single
    * boundary point when the next bucket is empty); triangle area via
    * the cross-product form; ties keep the first maximum. The spec
    * pins index-exact equality against outputs computed by the
    * reference implementation.
    */
  def lttbIndices(x: Array[Double], y: Array[Double], threshold: Int): Array[Int] = {
    val n = x.length
    if (threshold >= n || threshold <= 2) return Array.range(0, n)
    val out = new Array[Int](threshold)
    out(0) = 0
    out(threshold - 1) = n - 1
    val bs = (n - 2).toDouble / (threshold - 2)
    var prevIdx = 0
    var i = 1
    while (i < threshold - 1) {
      val bucketStart = ((i - 1) * bs).toInt + 1
      val bucketEnd = math.min((i * bs).toInt + 1, n)
      val nextStart = (i * bs).toInt + 1
      val nextEnd = math.min(((i + 1) * bs).toInt + 1, n)
      var avgX = 0.0
      var avgY = 0.0
      if (nextEnd > nextStart) {
        var j = nextStart
        while (j < nextEnd) { avgX += x(j); avgY += y(j); j += 1 }
        avgX /= (nextEnd - nextStart)
        avgY /= (nextEnd - nextStart)
      } else {
        avgX = if (nextStart < n) x(nextStart) else x(n - 1)
        avgY = if (nextStart < n) y(nextStart) else y(n - 1)
      }
      val px = x(prevIdx)
      val py = y(prevIdx)
      var maxArea = -1.0
      var maxIdx = bucketStart
      var j = bucketStart
      while (j < bucketEnd) {
        val area = math.abs((px - avgX) * (y(j) - py) - (px - x(j)) * (avgY - py))
        if (area > maxArea) { maxArea = area; maxIdx = j }
        j += 1
      }
      out(i) = maxIdx
      prevIdx = maxIdx
      i += 1
    }
    out
  }

  /** Reference-exact LTTB over a DataFrame, distributed PER SERIES:
    * each `seriesCols` group sorts by x in its task and runs the
    * sequential kernel — right when there are many series of viz-slice
    * size (the reference's per-chart call pattern). With `seriesCols`
    * empty the whole input is one group (one task) — for a single
    * giant series use the parallel variant instead.
    */
  def downsampleExact(df: DataFrame, xCol: String, yCol: String,
                      threshold: Int, seriesCols: Seq[String] = Nil): DataFrame = {
    val schema = df.schema
    val xIdx = schema.fieldIndex(xCol)
    val yIdx = schema.fieldIndex(yCol)
    // shared coercion (exact-µs datetimes; null → -Infinity so null-x
    // rows sort first deterministically instead of NaN-scrambling)
    def num(v: Any): Double = graft.core.RowNum.num(v)
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    val keyIdxs = seriesCols.map(schema.fieldIndex)
    df.groupByKey { r: Row =>
      keyIdxs.map(i => String.valueOf(r.get(i))).mkString("\u0000")
    }(Encoders.STRING).flatMapGroups { (_, it) =>
      val rows = it.toArray.sortBy(r => num(r.get(xIdx)))
      val x = rows.map(r => num(r.get(xIdx)))
      val y = rows.map(r => num(r.get(yIdx)))
      lttbIndices(x, y, threshold).iterator.map(rows(_))
    }(rowEnc)
  }

  def downsample(df: DataFrame, xCol: String, yCol: String,
                 threshold: Int, tieBreak: Seq[String] = Nil): DataFrame = {
    if (threshold <= 2) return df.orderBy(xCol) // before any job — no n needed
    val n = df.count()
    if (threshold >= n) return df.orderBy(xCol)
    val indexed = df
      .withColumn("__x", col(xCol).cast("double"))
      .withColumn("__y", col(yCol).cast("double"))
      .withColumn("__i", row_number().over(
        Window.orderBy(col("__x") +: tieBreak.map(col): _*)) - 1)
    if (LocalGate.admitsRows(n)) return local(indexed, n, df.schema, threshold)
    // stage once — see the staging note on stage()
    val (st, _, cleanup) = stage(indexed)
    try core(st, n, df.schema, threshold)
    finally cleanup()
  }

  /** Materialize `df` to a temp parquet directory and hand back a fresh
    * scan of it plus a cleanup thunk.
    *
    * Why staging and not `persist()`: `core()` reads its input from
    * three separate actions. Caching it in the BlockManager made
    * q_lttb_downsample the ONLY bench query doing large block put/
    * evict/remove cycles, and three rounds of in-suite bench variance
    * (rounds 4-7, BENCH_TRACE_ANALYSIS.md) traced to exactly those
    * block-lock stalls — async drain was fixed, yet the driver's r7 run
    * still showed 5× modes. A one-pass parquet stage removes the
    * mechanism class entirely: downstream jobs are plain columnar scans
    * (column-pruned for the agg passes, OS-page-cache-fast locally),
    * and the `monotonically_increasing_id` snapshot is durably
    * consistent across actions by construction. At 100 TB this IS the
    * scale pattern — a multi-read operator stages to distributed
    * storage rather than pinning executor memory.
    *
    * CONTRACT: `graft.lttb.stagingDir` must name a path every executor
    * AND the driver can read/write (HDFS, object store, NFS). It is
    * REQUIRED whenever the master is not local — the JVM-temp default
    * would have each executor write its task's parquet part to its own
    * local /tmp and the driver's read-back would see a partial
    * directory: silent wrong results. [[stagingBase]] fails fast on
    * that combination instead (spec: LttbSpec "staging contract").
    */
  private[graft] def stagingBase(master: String, configured: Option[String]): String =
    configured.getOrElse {
      require(master.startsWith("local"),
        s"graft.lttb.stagingDir is required when spark.master ('$master') is " +
          "not local: the JVM-temp default stages each task's output on its " +
          "executor's OWN local disk, so a distributed run would read back a " +
          "partial directory — set it to a cluster-visible path (HDFS/S3/NFS)")
      sys.props.getOrElse("java.io.tmpdir", "/tmp")
    }

  private def stage(df: DataFrame): (DataFrame, String, () => Unit) = {
    val sp = df.sparkSession
    val base = stagingBase(sp.sparkContext.master,
      sp.conf.getOption("graft.lttb.stagingDir"))
    val dir = s"$base/graft-lttb-${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(dir)
    val cleanup = () => {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    (sp.read.parquet(dir), dir, cleanup)
  }

  /** Scale path: global index without a single-partition window.
    * repartitionByRange + sortWithinPartitions gives a total order
    * across partitions. The contiguous index stays DataFrame-native:
    * `monotonically_increasing_id()` encodes (partitionId << 33) +
    * local ordinal, assigned in the order rows stream out of each
    * partition's sort (the expression is nondeterministic to Catalyst,
    * so the projection cannot be reordered below the Sort); the staged
    * parquet footers give per-pid counts with NO job (≤ numPartitions
    * footer reads on the driver), hence both n and the cumulative
    * offsets; a broadcast join stamps `__i = offset(pid) + ordinal`.
    * Everything stays columnar/codegen — the previous rdd.zipWithIndex
    * form deserialized every row (maps included) to external Rows, ran
    * an extra count job, and cached an RDD-backed frame.
    */
  def downsampleRangePartitioned(df: DataFrame, xCol: String, yCol: String,
                                 threshold: Int, tieBreak: Seq[String] = Nil,
                                 numPartitions: Int = 0): DataFrame = {
    if (threshold <= 2) return df.orderBy(xCol) // before the sort/cache cycle
    val prepared = df
      .withColumn("__x", col(xCol).cast("double"))
      .withColumn("__y", col(yCol).cast("double"))
    val sortCols = (col("__x") +: tieBreak.map(col)).map(_.asc)
    val parts = if (numPartitions > 0) numPartitions
      else prepared.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = prepared.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
    // one pass writes the sorted+stamped rows; core()'s selection then
    // scans the staged parquet (see the staging note on stage())
    val (st, stagedDir, cleanup) = stage(sorted)
    try {
      // per-pid counts straight from the staged parquet FOOTERS — zero
      // Spark jobs: the stamping projection and the file write run in
      // the SAME task (no exchange between them), so task partition k
      // writes part-0000k and __mid's pid bits in that file are all k —
      // the footer record count of part-0000k IS pid k's row count.
      // (Empty partitions write no file and contribute no offset.)
      val sc = df.sparkSession.sparkContext.hadoopConfiguration
      val dirPath = new org.apache.hadoop.fs.Path(stagedDir)
      val pidCounts = dirPath.getFileSystem(sc).listStatus(dirPath).toSeq
        .flatMap { f =>
          "part-(\\d+)".r.findFirstMatchIn(f.getPath.getName).map { m =>
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, sc))
            try (m.group(1).toLong, reader.getRecordCount)
            finally reader.close()
          }
        }.sortBy(_._1)
      // the (pid << 33) + ordinal decomposition needs every partition's
      // ordinal to fit in 33 bits — a >8.6B-row range partition (skewed
      // x / too few partitions) would silently corrupt __i; fail loudly
      pidCounts.foreach { case (pid, c) =>
        require(c < (1L << 33),
          s"range partition $pid has $c rows >= 2^33; raise numPartitions " +
            "so monotonically_increasing_id ordinals cannot overflow into pid bits")
      }
      val n = pidCounts.map(_._2).sum
      if (threshold >= n) return df.orderBy(xCol)
      var acc = 0L
      val offsets = pidCounts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
      val sp = df.sparkSession
      import sp.implicits._
      val offDf = offsets.toSeq.toDF("__pid", "__off")
      val indexed = st
        .withColumn("__pid", shiftright(col("__mid"), 33))
        .join(broadcast(offDf), "__pid")
        .withColumn("__i", col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)))
        .drop("__pid", "__off", "__mid")
      core(indexed, n, df.schema, threshold)
    } finally cleanup()
  }

  // Scale note: the staging write assumes the input is the viz slice
  // (the reference range-filters before downsampling). For a
  // full-table 100 TB input, filter to the plotted range first — the
  // output is `threshold` rows either way.

  /** Shared bucket-anchor-argmax stage over a globally-indexed input
    * (`__x`, `__y`, `__i` ∈ [0, n)).
    *
    * EAGER: the result is at most `threshold` rows — it is computed
    * here and returned as a local relation, so callers can delete the
    * staged input immediately instead of holding it until some later
    * action (the round-3/4 bench variance traced to exactly that kind
    * of leak — one cached copy of the input per call, never freed,
    * compounding across a 63-query run).
    *
    * Driver-memory bound: eagerness moves `threshold × rowWidth` bytes
    * through the driver (ALL input columns ride in the argmax struct).
    * At viz thresholds (≤ ~10k rows) that is small, but with wide
    * binary/multimodal columns project the input down to the plotted
    * columns before calling — the operator cannot prune for you.
    *
    * The per-bucket argmax is a `max_by` aggregation, not a window:
    * partial aggregation reduces each bucket map-side to one candidate
    * row, so the shuffle carries ≤ threshold×partitions rows instead of
    * every interior row sorted per bucket.
    */
  private def core(indexed: DataFrame, n: Long, schema: StructType,
                   threshold: Int): DataFrame = {
    val cols = schema.fieldNames
    val bs = (n - 2).toDouble / (threshold - 2)
    val lastBucket = threshold - 3

    // the two endpoints become singleton buckets -1 and lastBucket+1:
    // their centroid IS the endpoint, so lag/lead over the centroid
    // table yields every bucket's prev/next anchor — no collected
    // endpoint literals, no separate anchor-table jobs. The whole
    // selection is ONE action (this matters: the operator used to run
    // 4 driver round-trips here, and at 100k-row viz slices scheduler
    // latency — not data — was the dominant cost)
    val bucketed = indexed.withColumn("__b",
      when(col("__i") === 0, lit(-1))
        .when(col("__i") === n - 1, lit(lastBucket + 1))
        .otherwise(least(floor((col("__i") - 1) / bs).cast("int"), lit(lastBucket))))

    // centroids: threshold rows — a single-partition window over them
    // is trivially fine at any input scale (threshold is a viz knob)
    val w = Window.orderBy(col("__b"))
    val anchors = bucketed
      .groupBy(col("__b"))
      .agg(avg(col("__x")).as("__ax"), avg(col("__y")).as("__ay"))
      .select(col("__b"),
        lag("__ax", 1).over(w).as("__px"), lag("__ay", 1).over(w).as("__py"),
        lead("__ax", 1).over(w).as("__nx"), lead("__ay", 1).over(w).as("__ny"))

    // argmax per bucket; ties keep the FIRST maximum: the ordering
    // struct compares (area, -index) lexicographically, so the max is
    // the largest area and, within equal areas, the smallest index —
    // same contract as the previous `row_number` form, minus its
    // full per-bucket sort. The endpoint buckets are singletons with a
    // null-anchor side — coalesce(area, 0) keeps their single row
    val selectedRows = bucketed
      .join(broadcast(anchors), "__b")
      .withColumn("__area", coalesce(abs(
        (col("__px") - col("__nx")) * (col("__y") - col("__py")) -
        (col("__px") - col("__x")) * (col("__ny") - col("__py"))), lit(0.0)))
      .groupBy(col("__b"))
      .agg(max_by(
        struct(struct(cols.map(col).toIndexedSeq: _*).as("r"), col("__i").cast("long").as("__i")),
        struct(col("__area"), (-col("__i").cast("long")).as("__negi"))).as("s"))
      .select(col("s.r").as("r"), col("s.__i").as("__i"))
      .collect()

    val ordered = selectedRows.map(r => (r.getStruct(0), r.getLong(1)))
      .sortBy(_._2)
      .map { case (r, _) => Row.fromSeq(r.toSeq) }
    localRelation(indexed, ordered.toIndexedSeq, schema)
  }

  /** Driver-local twin of [[core]] behind [[LocalGate]]: one collect of
    * the indexed frame (input columns + `__x`, `__y`, `__i`), then the
    * same selection on the driver — no stage write, groupBy, broadcast
    * join or `max_by` job. Bit-identical to `core()` step by step:
    *  - buckets: the same `when`/`floor`/`least` arithmetic on `__i`,
    *    so rows of a bucket are one contiguous `__i` run;
    *  - centroids: Spark `avg` — non-null doubles summed in `__i` order
    *    from 0.0, divided by the non-null count, null when none (the
    *    order `core()` sums in whenever its stage reads back as one
    *    partition, as a stage written in one parquet row group does);
    *  - anchors: the previous and next PRESENT bucket's centroid, as
    *    lag/lead over the centroid table;
    *  - area: the same expression in the same operation order, null
    *    (any null operand) coalesced to 0.0;
    *  - argmax: Spark's double ordering (NaN greatest), ties to the
    *    smallest `__i`, as `max_by` over `(area, -__i)`.
    */
  private def local(indexed: DataFrame, n: Long, schema: StructType,
                    threshold: Int): DataFrame = {
    val k = schema.length
    val (xi, yi, ii) = (k, k + 1, k + 2)
    val rows = indexed
      .select((schema.fieldNames :+ "__x" :+ "__y" :+ "__i").map(col).toIndexedSeq: _*)
      .collect().sortBy(_.getInt(ii))
    val bs = (n - 2).toDouble / (threshold - 2)
    val lastBucket = threshold - 3
    def bucket(i: Int): Int =
      if (i == 0) -1
      else if (i == n - 1) lastBucket + 1
      else math.min(math.floor((i - 1) / bs).toLong.toInt, lastBucket)
    def num(r: Row, c: Int): Option[Double] = if (r.isNullAt(c)) None else Some(r.getDouble(c))
    def avg(run: Range, c: Int): Option[Double] = {
      var (s, m) = (0.0, 0L)
      run.foreach(j => num(rows(j), c).foreach { v => s += v; m += 1 })
      if (m == 0) None else Some(s / m)
    }
    // bucket() is monotone in __i: each bucket is one contiguous run
    val bk = rows.map(r => bucket(r.getInt(ii)))
    val starts = rows.indices.filter(j => j == 0 || bk(j) != bk(j - 1))
    val runs = starts.zip(starts.tail :+ rows.length).map { case (a, z) => a until z }
    val centroids = runs.map(r => (avg(r, xi), avg(r, yi)))
    val picked = runs.indices.map { b =>
      val (px, py) = if (b > 0) centroids(b - 1) else (None, None)
      val (nx, ny) = if (b < runs.size - 1) centroids(b + 1) else (None, None)
      def area(r: Row): Double = (for {
        px <- px; py <- py; nx <- nx; ny <- ny; x <- num(r, xi); y <- num(r, yi)
      } yield math.abs((px - nx) * (y - py) - (px - x) * (ny - py))).getOrElse(0.0)
      // strictly greater keeps the first (smallest __i) of tied areas
      val (_, best) = runs(b).map(j => (area(rows(j)), j)).reduceLeft { (a, c) =>
        if (SQLOrderingUtil.compareDoubles(c._1, a._1) > 0) c else a
      }
      Row.fromSeq(rows(best).toSeq.take(k))
    }
    localRelation(indexed, picked, schema)
  }

  /** At most `threshold` selected rows as a local relation: collecting
    * it starts no job.
    */
  private def localRelation(like: DataFrame, rows: Seq[Row], schema: StructType): DataFrame =
    like.sparkSession.createDataFrame(rows.asJava, schema)
}
