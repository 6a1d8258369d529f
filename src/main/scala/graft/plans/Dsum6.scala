package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native order-independent double SUM — the fast form of
  * `sum(cast(x as decimal(38,6))).cast(double)` (graft.functions.Det's
  * cross-engine determinism contract), BIT-IDENTICAL on its domain.
  *
  * Why: Spark's decimal(38,6) Sum keeps its accumulator above the
  * compact-long precision bound, so EVERY input row pays a
  * java.math.BigDecimal allocate-and-add inside the hash aggregate —
  * measured 3× the cost of a plain double sum on a 600k-row/200k-group
  * aggregation (0.72 s vs 0.25 s), and dsum routes ~100 registered
  * queries. This aggregate keeps the exact-decimal SEMANTICS but holds
  * the accumulator as a signed 128-bit integer in two long buffer slots:
  * the per-row value becomes its scale-6 unscaled long (the same
  * shortest-decimal-representation HALF_UP rounding Spark's double→
  * decimal cast applies — [[UnscaledDec6]]), update/merge are two-limb
  * long adds (whole-stage-codegen'd), and the per-GROUP finish is
  * Decimal(38,6).toDouble exactly ([[Int128Dec6ToDouble]]). Per row that
  * is a multiply, a floor and the limb adds, with no allocation, for
  * |x| < ~1.1e6 (scaled below 2^40) outside a 2^-9-wide band around
  * HALF_UP ties; larger magnitudes and tie-band values pay one
  * BigDecimal conversion.
  *
  * Domain: per-row |x| must stay below ~4.6e12 (unscaled magnitude
  * ≤ 2^62), which every domain-bounded metric column (prices, durations,
  * scores, byte counts) satisfies at ANY row count; [[UnscaledDec6]]
  * throws ArithmeticException beyond it rather than degrade silently —
  * route wider domains through the decimal formulation. The SUM itself
  * cannot overflow below ~1.7e32 in column units (2^127 / 1e6),
  * comparable to decimal(38,6)'s own 1e32 bound. NaN/±Inf rows
  * contribute null, exactly as the decimal cast does under non-ANSI
  * semantics. Bit-identity with the decimal formulation, including
  * null/empty groups and adversarial magnitudes, is property-pinned by
  * Dsum6Spec. */
case class Dsum6(child: Expression) extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dsum6"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dsum6 expects a double argument, got ${t.catalogString} — cast explicitly " +
        "(implicit widening of big integral types would silently lose precision)")
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, n)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  // limb arithmetic must wrap — two's-complement 128-bit addition — so
  // the adds are pinned to LEGACY eval mode regardless of session ANSI
  private def add(a: Expression, b: Expression) = Add(a, b, EvalMode.LEGACY)

  /** Unsigned carry-out of the low-limb addition a + b = s. */
  private def carryOf(a: Expression, b: Expression, s: Expression) =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    // evaluated once per row under whole-stage codegen (deterministic →
    // subexpression-eliminated across the update projection)
    val u = UnscaledDec6(child)
    val uv = Coalesce(Seq(u, Literal(0L))) // null row adds 0 to the limbs
    val newLo = add(lo, uv)
    val newHi = add(add(hi, ShiftRight(uv, Literal(63))), carryOf(lo, uv, newLo))
    Seq(newHi, newLo, If(IsNull(u), n, add(n, Literal(1L))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = add(lo.left, lo.right)
    val newHi = add(add(hi.left, hi.right), carryOf(lo.left, lo.right, newLo))
    Seq(newHi, newLo, add(n.left, n.right))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(n, Literal(0L)), Literal(null, DoubleType), Int128Dec6ToDouble(hi, lo))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Dsum6 = copy(child = newChildren.head)
}

object Dsum6 {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  val identifier: FunctionIdentifier = FunctionIdentifier("dsum6")
  val info: ExpressionInfo = new ExpressionInfo(classOf[Dsum6].getName, "dsum6")
  val builder: Seq[Expression] => Expression = args => Dsum6(args.head)
}

/** `x: double` → the unscaled long of `cast(x as decimal(38,6))`: the
  * shortest decimal representation of the double (BigDecimal.valueOf ==
  * Spark's Decimal-from-double construction) rounded HALF_UP to 6
  * fractional digits. Null for NaN/±Inf (what the cast yields under
  * non-ANSI); ArithmeticException past 2^62 unscaled — see [[Dsum6]]'s
  * domain note. */
case class UnscaledDec6(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unscaled_dec6 expects a double argument, got ${t.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null child, NaN, or ±Inf
  override def prettyName: String = "unscaled_dec6"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
      else java.lang.Long.valueOf(UnscaledDec6.unscaled(d))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val cls = classOf[UnscaledDec6].getName
    ev.copy(code =
      code"""
            |${c.code}
            |boolean ${ev.isNull} = true;
            |long ${ev.value} = 0L;
            |if (!${c.isNull} && !java.lang.Double.isNaN(${c.value})
            |    && !java.lang.Double.isInfinite(${c.value})) {
            |  ${ev.isNull} = false;
            |  ${ev.value} = $cls.unscaled(${c.value});
            |}
          """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): UnscaledDec6 =
    copy(child = newChild)
}

object UnscaledDec6 {

  private final val FastBound = 1099511627776.0 // 2^40
  private final val TieBand = 0.001953125 // 2^-9

  /** Fast path: HALF_UP of the double product x = |d|·1e6. Exact wherever
    * taken: d's shortest decimal s lies within ½ ulp(d) of d, and the
    * product rounds by ½ ulp(x) more, so x lies within 1.5 ulp(x) of
    * s·1e6 — under 2^-12 when x < 2^40. HALF_UP only jumps at frac = ½,
    * so outside the 2^-9 band around it, rounding x and rounding s·1e6
    * agree. The band, larger magnitudes, NaN and ±Inf take [[exact]].
    * Kept small so the JIT inlines it into the generated aggregate loop. */
  def unscaled(d: Double): Long = {
    val x = Math.abs(d) * 1e6
    val f = Math.floor(x)
    val frac = x - f
    if (x < FastBound && Math.abs(frac - 0.5) > TieBand) {
      val u = f.toLong + (if (frac > 0.5) 1L else 0L)
      if (d < 0) -u else u
    } else exact(d)
  }

  /** The reference conversion: BigDecimal.valueOf (Spark's Decimal-from-
    * double) rounded HALF_UP to 6 places, one BigDecimal per call. */
  private def exact(d: Double): Long = {
    val u = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue()
    if (u.bitLength() > 62)
      throw new ArithmeticException(
        s"dsum6: |$d| exceeds the ~4.6e12 per-row bound of a long unscaled value; " +
          "route this column through sum(cast(x as decimal(38,6)))")
    u.longValue()
  }
}

/** The 128-bit accumulator (hi, lo) as a double: BigDecimal(hi·2^64 +
  * lo, scale 6).doubleValue() — exactly Decimal(38,6).toDouble. Runs
  * once per GROUP; sums below 2^52 unscaled take one double division,
  * wider ones a BigInteger. */
case class Int128Dec6ToDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"int128_dec6_double expects (bigint, bigint), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "int128_dec6_double"

  override def nullSafeEval(hi: Any, lo: Any): Any =
    Int128Dec6ToDouble.toDouble(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) => {
      val cls = classOf[Int128Dec6ToDouble].getName
      s"${ev.value} = $cls.toDouble($hi, $lo);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128Dec6ToDouble =
    copy(left = newLeft, right = newRight)
}

object Int128Dec6ToDouble {

  private val Mask64 =
    java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)

  def toDouble(hi: Long, lo: Long): Double =
    // the value fits a long of magnitude < 2^52: both operands are exact
    // doubles, and one correctly rounded division is what JDK 17's
    // BigDecimal.doubleValue computes for such a compact value
    if (hi == (lo >> 63) && lo > -(1L << 52) && lo < (1L << 52)) lo.toDouble / 1e6
    else {
      val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(java.math.BigInteger.valueOf(lo).and(Mask64))
      new java.math.BigDecimal(bi, 6).doubleValue()
    }
}
