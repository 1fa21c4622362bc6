package graft

import org.apache.spark.sql.functions._

import graft.core.LocalGate
import graft.ops.Lttb

class LttbSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` under the default gate (the driver-local kernel at
    * these sizes) and again with the distributed path forced.
    */
  private def onBothPaths(body: => Unit): Unit = {
    body
    LocalGate.distributed(body)
  }

  /** Sequential implementation of the SAME bucket-average-anchor
    * variant, to pin the distributed plan's exact semantics.
    */
  private def lttbSeq(xs: Array[Double], ys: Array[Double], thr: Int): Seq[Int] = {
    val n = xs.length
    if (thr >= n || thr <= 2) return xs.indices
    val bs = (n - 2).toDouble / (thr - 2)
    val lastBucket = thr - 3
    val byBucket = (1 until n - 1).groupBy(i =>
      math.min(math.floor((i - 1) / bs).toInt, lastBucket))
    def bAvg(b: Int): (Double, Double) = {
      val is = byBucket(b)
      (is.map(xs).sum / is.size, is.map(ys).sum / is.size)
    }
    val picks = (0 to lastBucket).map { b =>
      val (px, py) = if (b == 0) (xs(0), ys(0)) else bAvg(b - 1)
      val (nx, ny) = if (b == lastBucket) (xs(n - 1), ys(n - 1)) else bAvg(b + 1)
      byBucket(b).maxBy(i =>
        (math.abs((px - nx) * (ys(i) - py) - (px - xs(i)) * (ny - py)), -i))
    }
    0 +: picks :+ (n - 1)
  }

  test("distributed LTTB matches the sequential variant exactly") {
    val xs = (0 until 200).map(_.toDouble).toArray
    val ys = xs.map(x => math.sin(x / 7) * 100 + (if (x.toInt % 37 == 0) 500 else 0))
    val df = xs.zip(ys).toSeq.toDF("x", "y")
    onBothPaths {
      val got = Lttb.downsample(df, "x", "y", 20).select("x").as[Double].collect()
      val want = lttbSeq(xs, ys, 20).map(xs)
      assert(got.toSeq == want)
    }
  }

  test("keeps first and last, output size == threshold") {
    val df = (0 until 1000).map(i => (i.toDouble, math.cos(i / 11.0))).toDF("x", "y")
    onBothPaths {
      val got = Lttb.downsample(df, "x", "y", 50).select("x").as[Double].collect()
      assert(got.length == 50)
      assert(got.head == 0.0 && got.last == 999.0)
    }
  }

  test("range-partitioned index path == single-window path") {
    val xs = (0 until 500).map(_.toDouble).toArray
    val ys = xs.map(x => math.sin(x / 5) * 50 + (if (x.toInt % 23 == 0) 300 else 0))
    val df = xs.zip(ys).toSeq.toDF("x", "y").repartition(7)
    val a = Lttb.downsample(df, "x", "y", 40).select("x").as[Double].collect()
    val b = Lttb.downsampleRangePartitioned(df, "x", "y", 40, numPartitions = 5)
      .select("x").as[Double].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("no-op when threshold >= n") {
    val df = (0 until 10).map(i => (i.toDouble, 1.0)).toDF("x", "y")
    assert(Lttb.downsample(df, "x", "y", 100).count() == 10)
  }

  // ---- reference-exact sequential form --------------------------------
  // expected indices computed by running the reference `_lttb_core`
  // (data/lttb.py:89-150) on the same inputs — index-exact pinning.

  test("staging dirs are cleaned up, including on the threshold>=n early return") {
    val stagingBase = tempDir("graft_lttb_stage")
    spark.conf.set("graft.lttb.stagingDir", stagingBase)
    try onBothPaths {
      val df = (0 until 500).map(i => (i.toDouble, math.sin(i / 7.0))).toDF("x", "y")
      Lttb.downsample(df, "x", "y", 50).collect()
      Lttb.downsampleRangePartitioned(df, "x", "y", 50).collect()
      // early return inside the staged try block: threshold >= n
      Lttb.downsampleRangePartitioned(df, "x", "y", 10000).collect()
      val leftover = new java.io.File(stagingBase).listFiles()
      assert(leftover == null || leftover.isEmpty,
        s"staging dirs leaked: ${Option(leftover).toSeq.flatten.map(_.getName).mkString(", ")}")
    } finally spark.conf.unset("graft.lttb.stagingDir")
  }

  test("staging contract: unset stagingDir FAILS FAST off-local, passes locally") {
    // off-local with no configured dir: the JVM-temp default would
    // stage each task's parquet part on its executor's own disk and
    // the driver read-back would silently see a partial directory —
    // the contract is to refuse, loudly, at plan time
    val e = intercept[IllegalArgumentException] {
      Lttb.stagingBase("spark://cluster-master:7077", None)
    }
    assert(e.getMessage.contains("graft.lttb.stagingDir"))
    assert(e.getMessage.contains("spark://cluster-master:7077"))
    intercept[IllegalArgumentException] {
      Lttb.stagingBase("yarn", None)
    }
    // a configured cluster-visible dir is accepted on any master
    assert(Lttb.stagingBase("yarn", Some("hdfs:///tmp/lttb")) == "hdfs:///tmp/lttb")
    // local masters keep the JVM-temp default
    assert(Lttb.stagingBase("local[32]", None).nonEmpty)
  }

  test("lttbIndices: index-exact vs reference on a sine wave") {
    val x = Array.tabulate(100)(_.toDouble)
    val y = x.map(v => math.sin(v * 0.25))
    assert(Lttb.lttbIndices(x, y, 20).toSeq == Seq(
      0, 5, 9, 16, 20, 27, 31, 34, 42, 46, 54, 58, 65, 69, 72, 80, 84, 92, 95, 99))
  }

  test("lttbIndices: index-exact vs reference on constant series (first-of-bucket ties)") {
    val x = Array.tabulate(50)(_.toDouble)
    val y = Array.fill(50)(7.0)
    assert(Lttb.lttbIndices(x, y, 10).toSeq == Seq(0, 1, 7, 13, 19, 25, 31, 37, 43, 49))
  }

  test("lttbIndices: index-exact vs reference, preserves an isolated peak") {
    val x = Array.tabulate(100)(_.toDouble)
    val y = Array.fill(100)(0.0); y(50) = 100.0
    assert(Lttb.lttbIndices(x, y, 10).toSeq == Seq(0, 1, 13, 25, 49, 50, 62, 74, 86, 99))
  }

  test("lttbIndices: index-exact vs reference on non-divisible sawtooth") {
    val x = Array.tabulate(97)(_.toDouble)
    val y = x.map(v => (v % 10) * (1 + 0.01 * v))
    assert(Lttb.lttbIndices(x, y, 13).toSeq == Seq(
      0, 8, 10, 19, 30, 39, 50, 59, 61, 77, 80, 89, 96))
  }

  test("lttbIndices: n <= threshold returns all indices") {
    val x = Array.tabulate(5)(_.toDouble)
    assert(Lttb.lttbIndices(x, Array(1.0, 2.0, 3.0, 2.0, 1.0), 10).toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("downsampleExact: per-series mapGroups matches the kernel per group") {
    val xs = Array.tabulate(100)(_.toDouble)
    val rows = for {
      s <- Seq("a", "b")
      i <- 0 until 100
    } yield (s, xs(i), if (s == "a") math.sin(xs(i) * 0.25) else xs(i) % 10)
    val df = rows.toDF("series", "x", "y").repartition(8)
    val got = Lttb.downsampleExact(df, "x", "y", 20, Seq("series"))
      .orderBy("series", "x").select("series", "x").as[(String, Double)].collect()
    val wantA = Lttb.lttbIndices(xs, xs.map(v => math.sin(v * 0.25)), 20).map(xs).map(("a", _))
    val wantB = Lttb.lttbIndices(xs, xs.map(v => v % 10), 20).map(xs).map(("b", _))
    assert(got.toSeq == (wantA ++ wantB).toSeq)
  }

  test("downsampleExact: single global series (no key) equals the kernel") {
    val xs = Array.tabulate(200)(_.toDouble)
    val ys = xs.map(v => math.cos(v / 9) * 40)
    val df = xs.zip(ys).toSeq.toDF("x", "y").repartition(5)
    val got = Lttb.downsampleExact(df, "x", "y", 30)
      .orderBy("x").select("x").as[Double].collect()
    assert(got.toSeq == Lttb.lttbIndices(xs, ys, 30).map(xs).toSeq)
  }
}
