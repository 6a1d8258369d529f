package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine deterministic aggregation helpers.
  *
  * Floating-point SUM/AVG are order-dependent: a 32-thread Spark plan and a
  * single-threaded oracle accumulate in different orders and can differ in
  * the last ULPs, which breaks hash comparison. Routing the sum through an
  * exact DECIMAL accumulator makes the result independent of partitioning
  * and row order, so both engines produce bit-identical doubles. Everything
  * *non-reducing* on doubles (per-row arithmetic, comparisons, division of
  * two already-deterministic values) is exact IEEE and needs no special
  * handling — only order-dependent reductions over floats are routed
  * through decimals.
  */
object Det {
  // 32 integer digits of headroom: a per-row cast that overflowed would
  // error under ANSI mode (or silently null out a value otherwise) —
  // (38,6) keeps any realistic column magnitude exact.
  private val Acc = DecimalType(38, 6)

  /** Order-independent SUM over a double column (exact decimal
    * accumulate). Routed through the native 128-bit-integer accumulator
    * [[graft.plans.Dsum6]] — bit-identical to
    * `sum(cast(c as decimal(38,6))).cast(double)` on any domain-bounded
    * metric column (per-row |x| < ~4.6e12, loudly enforced). Per row it
    * costs a multiply, a floor and two long adds for |x| < ~1.1e6; larger
    * magnitudes and values next to a 6th-place rounding tie pay one
    * BigDecimal conversion, still no BigDecimal add. */
  def dsum(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.plans.Dsum6(ColumnBridge.expression(c)).toAggregateExpression())
  }

  /** The decimal-Sum formulation dsum replaced — kept for the spec that
    * pins bit-identity between the two. */
  private[graft] def dsumDecimal(c: Column): Column = sum(c.cast(Acc)).cast(DoubleType)

  /** Order-independent AVG: exact sum / non-null count (matches SQL AVG). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Epoch seconds as bigint — timestamp output that is precision-identical
    * across Spark (micros) and DuckDB (nanos). */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** NULL out a zero denominator — identical `nullif(x, 0)` semantics on
    * both engines (division by zero throws under Spark ANSI mode). */
  def nullIfZero(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  // ---- DuckDB-side equivalents, for building oracle SQL strings ----
  def sqlDsum(e: String): String = s"cast(sum(cast(($e) as decimal(38,6))) as double)"
  def sqlDavg(e: String): String = s"${sqlDsum(e)}/count($e)"
  def sqlEpochS(e: String): String = s"cast(floor(epoch($e)) as bigint)"
}
