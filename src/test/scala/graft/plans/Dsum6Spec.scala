package graft.plans

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.SparkSuite

/** Pins [[Dsum6]]'s contract: BIT-IDENTICAL to the decimal formulation
  * it replaced — `sum(cast(x as decimal(38,6))).cast(double)` — on the
  * per-row domain the aggregate declares (|x| < ~4.6e12), including
  * null rows, all-null groups, NaN/Inf rows, negative zero, subnormal
  * noise, half-up rounding ties, and partial/merge paths (the suite's
  * 4 shuffle partitions force merges). Beyond the domain the aggregate
  * must FAIL LOUDLY, never degrade. The per-row kernel and the per-group
  * finish are also pinned value by value against their BigDecimal
  * definitions, where a group sum could hide per-row errors that cancel. */
class Dsum6Spec extends SparkSuite {

  import spark.implicits._

  private def decimalSum = (c: org.apache.spark.sql.Column) =>
    sum(c.cast(DecimalType(38, 6))).cast("double")

  private def assertIdentical(values: Seq[(Int, java.lang.Double)],
                              clue: String): Unit = {
    val df = values.toDF("k", "v").repartition(4, col("k"))
    val got = df.groupBy("k").agg(graft.functions.Det.dsum(col("v")).as("s"))
    val want = df.groupBy("k").agg(decimalSum(col("v")).as("s"))
    val diff = got.join(want, "k")
      .filter(!(got("s") <=> want("s"))).count()
    assert(diff === 0, s"$clue: $diff groups differ from the decimal formulation")
  }

  test("bit-identical on adversarial magnitudes, ties, and signs") {
    val rnd = new scala.util.Random(42)
    val adversarial: Seq[java.lang.Double] = Seq(
      0.0, -0.0, 1e-7, -1e-7, 0.0000005, -0.0000005, // half-up rounding ties at 6 dp
      0.1, 0.2, 0.3, 1.0 / 3.0, 2.0 / 3.0,
      4.6e12 - 1, -(4.6e12 - 1), 1234567.8901234,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE, // subnormals
      9.999999499999999e5, 1.0000004999999999)
    val random = Seq.fill(2000)(java.lang.Double.valueOf(
      (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13))))
    val rows = (adversarial ++ random).zipWithIndex.map { case (v, i) => (i % 7, v) }
    assertIdentical(rows, "adversarial+random")
  }

  test("null rows skip, all-null and empty groups yield null, NaN/Inf act as null") {
    val rows: Seq[(Int, java.lang.Double)] = Seq(
      (0, 1.5), (0, null), (0, 2.5),
      (1, null), (1, null), // all-null group -> null sum
      (2, java.lang.Double.NaN), (2, 3.0), // NaN contributes nothing
      (3, java.lang.Double.POSITIVE_INFINITY), (3, 4.0),
      (4, java.lang.Double.NEGATIVE_INFINITY))
    assertIdentical(rows, "null/NaN/Inf")
    // empty input -> null scalar, matching the decimal formulation
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("v", "double"))
    val s = empty.agg(graft.functions.Det.dsum(col("v"))).head()
    assert(s.isNullAt(0), "empty input must aggregate to null")
  }

  test("order- and partitioning-independence (the determinism contract)") {
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(5000)((rnd.nextDouble() - 0.5) * 1e9)
    val one = vals.toDF("v").coalesce(1)
      .agg(graft.functions.Det.dsum(col("v"))).head().getDouble(0)
    val shuffled = scala.util.Random.shuffle(vals).toDF("v").repartition(17)
      .agg(graft.functions.Det.dsum(col("v"))).head().getDouble(0)
    assert(one === shuffled, "sum must not depend on row order or partitioning")
  }

  test("per-row magnitude past the long-unscaled bound fails loudly") {
    val e = intercept[Exception] {
      Seq(5.0e12).toDF("v").agg(graft.functions.Det.dsum(col("v"))).head()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected a loud ArithmeticException, got: $e")
  }

  test("128-bit carry: limb boundary crossings sum exactly") {
    // ~4.6e12 rows of max magnitude would take hours; instead drive the
    // low limb across its boundary with repeated near-max values — the
    // sum (~9.2e18-scale unscaled) no longer fits one long, so a broken
    // carry would be off by 2^64 (~1.8e13 in column units)
    val v = 4.0e12
    val n = 4000 // n*v*1e6 = 1.6e22 unscaled >> 2^63
    val df = Seq.fill(n)(v).toDF("v").repartition(8)
    val got = df.agg(graft.functions.Det.dsum(col("v"))).head().getDouble(0)
    val want = df.agg(decimalSum(col("v"))).head().getDouble(0)
    assert(got === want, s"carry path: $got != $want")
    // and with mixed signs crossing zero repeatedly
    val mixed = (1 to n).map(i => if (i % 2 == 0) v else -v + 0.25)
    val got2 = mixed.toDF("v").repartition(8)
      .agg(graft.functions.Det.dsum(col("v"))).head().getDouble(0)
    val want2 = mixed.toDF("v").repartition(8)
      .agg(decimalSum(col("v"))).head().getDouble(0)
    assert(got2 === want2, s"signed carry path: $got2 != $want2")
  }

  // ---- per-row kernel and per-group finish, value by value ----

  /** `cast(d as decimal(38,6))`'s unscaled long, or the exception class
    * name: the definition [[UnscaledDec6.unscaled]] must reproduce. */
  private def reference(d: Double): Any =
    try {
      val u = JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).unscaledValue()
      if (u.bitLength() > 62) "ArithmeticException" else u.longValue()
    } catch { case e: NumberFormatException => e.getClass.getSimpleName }

  private def kernel(d: Double): Any =
    try UnscaledDec6.unscaled(d)
    catch { case e: RuntimeException => e.getClass.getSimpleName }

  /** `d` and its 1–4-ulp neighbours on both sides, with both signs. */
  private def withNeighbours(d: Double, out: scala.collection.mutable.ArrayBuilder[Double]): Unit = {
    var up = d
    var down = d
    out += d
    out += -d
    for (_ <- 1 to 4) {
      up = Math.nextUp(up)
      down = Math.nextDown(down)
      out += up; out += -up; out += down; out += -down
    }
  }

  /** ≥5M seeded doubles aimed at every place the fast path could go
    * wrong: ties, the 2^40 fast-path bound, the 2^62 domain edge, signs,
    * zeros and subnormals. */
  private lazy val kernelInputs: Array[Double] = {
    val rnd = new scala.util.Random(20261017)
    val out = Array.newBuilder[Double]
    // the nearest double to the HALF_UP tie k·5e-7 (k odd)
    def tie(k: Long): Double =
      new JBigDecimal(BigInteger.valueOf(k).multiply(BigInteger.valueOf(5)), 7).doubleValue()
    // every tie below 0.1, then odd k spread log-uniformly up to the
    // 4.6e12 domain edge (k < 2^63)
    var k = 1L
    while (k < 200000L) { withNeighbours(tie(k), out); k += 2 }
    for (_ <- 0 until 200000) {
      val bits = 1 + rnd.nextInt(62)
      val kk = ((1L << bits) + (rnd.nextLong() & ((1L << bits) - 1))) | 1L
      withNeighbours(tie(kk), out)
    }
    // both sides of the fast-path bound x = |d|·1e6 = 2^40
    val bound = 1099511.627776
    var a = bound
    var b = bound
    for (_ <- 0 until 20000) {
      out += a; out += -a; out += b; out += -b
      a = Math.nextUp(a); b = Math.nextDown(b)
    }
    for (_ <- 0 until 100000) out += bound * (0.99 + 0.02 * rnd.nextDouble())
    // both sides of the 2^62 unscaled domain edge (~4.6e12)
    val edge = 4611686018427.387904
    a = edge; b = edge
    for (_ <- 0 until 5000) {
      out += a; out += -a; out += b; out += -b
      a = Math.nextUp(a); b = Math.nextDown(b)
    }
    out ++= Seq(4.6e12, -4.6e12, 5e12, -5e12, 1e300, -1e300)
    // zeros, subnormals, the smallest normal
    out ++= Seq(0.0, -0.0, java.lang.Double.MIN_VALUE, -java.lang.Double.MIN_VALUE,
      java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL)
    for (_ <- 0 until 10000)
      out += java.lang.Double.longBitsToDouble(rnd.nextLong() & 0x800fffffffffffffL)
    // random magnitudes across the whole domain, and short decimals
    for (_ <- 0 until 1000000)
      out += (rnd.nextDouble() - 0.5) * Math.pow(10, rnd.nextInt(20) - 7)
    for (_ <- 0 until 300000)
      out += (rnd.nextLong() % 100000000000L) / Math.pow(10, rnd.nextInt(9))
    out.result()
  }

  test("per-row kernel: unscaled equals the BigDecimal reference on every value") {
    val in = kernelInputs
    assert(in.length >= 5000000, s"only ${in.length} inputs")
    val bad = in.iterator.filter(d => kernel(d) != reference(d)).take(5).toList
    val n = if (bad.isEmpty) 0 else in.count(d => kernel(d) != reference(d))
    assert(n === 0, s"$n of ${in.length} values differ; first: " +
      bad.map(d => s"$d -> ${kernel(d)} want ${reference(d)}").mkString(", "))
    // NaN and ±Inf keep the reference's exception
    for (d <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      assert(kernel(d) === reference(d), s"$d")
  }

  test("per-row kernel: interpreted eval and codegen agree") {
    val e = UnscaledDec6(BoundReference(0, DoubleType, nullable = true))
    val domain = kernelInputs.iterator.filter(d => Math.abs(d) < 4.6e12).take(500000)
    val special = Iterator[Any](null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0)
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    val n = (domain ++ special).count { v =>
      val r = InternalRow(v)
      val want = e.eval(r)
      val got = gen(r)
      if (want == null) !got.isNullAt(0) else got.isNullAt(0) || got.getLong(0) != want
    }
    assert(n === 0, s"$n rows differ between eval and codegen")
  }

  test("per-group finish: toDouble equals BigDecimal(hi·2^64+lo, 6).doubleValue") {
    def want(hi: Long, lo: Long): Double =
      new JBigDecimal(BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(java.lang.Long.toUnsignedString(lo))), 6).doubleValue()
    val rnd = new scala.util.Random(52)
    val centres = Seq(0L, 1L << 52, -(1L << 52), Long.MaxValue, Long.MinValue,
      (1L << 53) + 1, -(1L << 53) - 1)
    val pairs =
      (for {
        c <- centres
        off <- -2000L to 2000L
        hi <- Seq(0L, -1L, 1L, -2L)
      } yield (hi, c + off)) ++
        Seq.fill(200000)((rnd.nextLong() >> rnd.nextInt(64), rnd.nextLong())) ++
        Seq.fill(200000)({ val lo = rnd.nextLong() >> rnd.nextInt(64); (lo >> 63, lo) })
    val bad = pairs.filter { case (hi, lo) =>
      java.lang.Double.doubleToRawLongBits(Int128Dec6ToDouble.toDouble(hi, lo)) !=
        java.lang.Double.doubleToRawLongBits(want(hi, lo))
    }
    assert(bad.isEmpty, s"${bad.size} of ${pairs.size} differ; first: ${bad.take(5)}")
    val e = Int128Dec6ToDouble(BoundReference(0, LongType, nullable = false),
      BoundReference(1, LongType, nullable = false))
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    val genBad = pairs.take(100000).count { case (hi, lo) =>
      val r = InternalRow(hi, lo)
      gen(r).getDouble(0) != e.eval(r).asInstanceOf[Double]
    }
    assert(genBad === 0, s"$genBad (hi, lo) pairs differ between eval and codegen")
  }
}
