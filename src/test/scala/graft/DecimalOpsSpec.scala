package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DecimalKernels, DecimalOps}

/** Bit-identity of the fused decimal kernels vs the Catalyst
  * composition they replace — executed through real codegen, since
  * the convention's consumers are all codegen'd aggregation inputs.
  */
class DecimalOpsSpec extends AnyFunSuite with SparkSpec {

  /** Adversarial + random doubles: HALF_UP tie zones at both scales,
    * exact k/1e9 and k/1e12 lattice points and their neighbors, guard
    * boundaries, negatives, zeros, subnormal-ish, and > guard values.
    */
  private def fuzzValues(n: Int, seed: Long): Seq[Double] = {
    val rnd = new java.util.Random(seed)
    val out = Seq.newBuilder[Double]
    out += 0.0; out += -0.0; out += 1e-18; out += -1e-18
    out += 999999.999999999; out += -999999.999999999
    out += 1e6; out += 1e6 + 0.1; out += 2e3; out += 1999.9999995
    out += 4.9999999995e-1; out += 5.0000000005e-1
    var i = 0
    while (i < n) {
      val mode = i % 6
      val x = mode match {
        case 0 => // near the scale-9 HALF_UP boundary
          val k = rnd.nextLong() % 1000000000000L
          (k + 0.5 + (rnd.nextInt(21) - 10) * 1e-12) / 1e9
        case 1 => // exact 9-dp lattice
          (rnd.nextLong() % 1000000000000000L) / 1e9
        case 2 => // near the scale-12 boundary
          val k = rnd.nextLong() % 1000000000000000L
          (k + 0.5 + (rnd.nextInt(21) - 10) * 1e-9) / 1e12
        case 3 => // exact 6-dp lattice (the repo's round-6 outputs)
          (rnd.nextLong() % 1000000000L) / 1e6
        case 4 => // uniform magnitudes across the fast-path range
          (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13) - 6)
        case _ => // raw bit patterns, clamped finite
          val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
          if (d.isNaN || d.isInfinite) rnd.nextDouble() else d % 1e7
      }
      out += x
      i += 1
    }
    out.result()
  }

  test("round9dec == round(x,9).cast(decimal(30,12)) through codegen") {
    val xs = fuzzValues(200000, 42L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Tuple1(_)), 8)
    ).toDF("x")
    val mismatch = df.select(
        col("x"),
        round(col("x"), 9).cast("decimal(30,12)").as("ref"),
        DecimalOps.dec9(col("x")).as("fast"))
      .filter(!(col("ref") <=> col("fast")))
      .collect()
    assert(mismatch.isEmpty,
      s"round9dec mismatches: ${mismatch.take(5).mkString(", ")}")
  }

  test("dec12 == cast(x as decimal(30,12)) through codegen") {
    val xs = fuzzValues(200000, 7L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Tuple1(_)), 8)
    ).toDF("x")
    val mismatch = df.select(
        col("x"),
        col("x").cast("decimal(30,12)").as("ref"),
        DecimalOps.dec12(col("x")).as("fast"))
      .filter(!(col("ref") <=> col("fast")))
      .collect()
    assert(mismatch.isEmpty,
      s"dec12 mismatches: ${mismatch.take(5).mkString(", ")}")
  }

  test("round9Slow / round6 == round(x, 9) / round(x, 6) through codegen") {
    // the driver-local kernels' double rounding, bit for bit
    val xs = fuzzValues(200000, 11L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Tuple1(_)), 8)
    ).toDF("x")
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val mismatch = df.select(col("x"), round(col("x"), 9), round(col("x"), 6))
      .collect().filter { r =>
        val x = r.getDouble(0)
        bits(DecimalKernels.round9Slow(x)) != bits(r.getDouble(1)) ||
          bits(DecimalKernels.round6(x)) != bits(r.getDouble(2))
      }
    assert(mismatch.isEmpty,
      s"round9Slow/round6 mismatches: ${mismatch.take(5).mkString(", ")}")
  }

  test("kernel fast path == kernel slow path (pure JVM, high volume)") {
    val rnd = new java.util.Random(1L)
    var i = 0
    while (i < 2000000) {
      val x = fuzzOne(rnd, i)
      val fast9 = DecimalKernels.round9dec(x)
      val slow9 = DecimalKernels.dec12Slow(DecimalKernels.round9Slow(x))
      assert(fast9.toJavaBigDecimal.compareTo(slow9.toJavaBigDecimal) == 0,
        s"round9dec($x): $fast9 vs $slow9")
      if (math.abs(x) < 1e17) {
        val fast12 = DecimalKernels.dec12(x)
        val slow12 = DecimalKernels.dec12Slow(x)
        assert(fast12.toJavaBigDecimal.compareTo(slow12.toJavaBigDecimal) == 0,
          s"dec12($x): $fast12 vs $slow12")
      }
      i += 1
    }
  }

  private def fuzzOne(rnd: java.util.Random, i: Int): Double = (i % 5) match {
    case 0 => (rnd.nextLong() % 1000000000000L + 0.5 +
      (rnd.nextInt(21) - 10) * 1e-12) / 1e9
    case 1 => (rnd.nextLong() % 1000000000000000L) / 1e9
    case 2 => (rnd.nextLong() % 1000000000000000L + 0.5 +
      (rnd.nextInt(21) - 10) * 1e-9) / 1e12
    case 3 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(15) - 7)
    case _ =>
      val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (d.isNaN || d.isInfinite) rnd.nextDouble() else d % 1e8
  }

  test("null propagates; decimal sums agree end to end") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq((1L, Some(1.2345678949999), 0.123456), (1L, None, 0.5),
          (2L, Some(-7.5e-10), 255.0), (2L, Some(0.1), 0.9999995)), 2)
    ).toDF("k", "x", "y")
    val ref = df.groupBy("k")
      .agg(sum(round(col("x"), 9).cast("decimal(30,12)")).as("sx"),
        sum(col("y").cast("decimal(30,12)")).as("sy"))
    val fast = df.groupBy("k")
      .agg(sum(DecimalOps.dec9(col("x"))).as("sx"),
        sum(DecimalOps.dec12(col("y"))).as("sy"))
    assert(ref.orderBy("k").collect().toSeq ===
      fast.orderBy("k").collect().toSeq)
  }
}
