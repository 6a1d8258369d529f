package graft.analytics

import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, Sum}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.DecimalType

import graft.{CacheScope, SparkSuite}
import graft.plans.Dsum6

/** Pins the Views' Spark-side dialect rewrite: every `sqlDsum` a view
  * writes must execute as the native [[Dsum6]], never as Spark's
  * BigDecimal-backed Sum over decimal(38,6). A view whose text stops
  * matching the rewrite still returns the right answer, so only the plan
  * shows the regression. */
class ViewsDialectSpec extends SparkSuite {

  private val sf = sfDir("0.001")

  /** Every physical node, through AQE stages, cached relations and
    * subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(nodes)
  }

  /** The distinct arguments of the `sqlDsum` emissions in a SQL text. */
  private def dsumArgs(sql: String): Set[String] = {
    val pre = "cast(sum(cast(("
    val suf = ") as decimal(38,6))) as double)"
    Iterator.iterate(sql.indexOf(pre))(p => sql.indexOf(pre, p + 1))
      .takeWhile(_ >= 0)
      .map(p => sql.substring(p + pre.length, sql.indexOf(suf, p)))
      .toSet
  }

  for (q <- Views.all) test(s"${q.name}: one Dsum6 per sqlDsum, no decimal(38,6) Sum") {
    val sql = q.oracle.getOrElse(fail(s"${q.name} has no SQL"))
    val df = q.run(spark, sf)
    val plan =
      try { df.collect(); df.queryExecution.executedPlan }
      finally CacheScope.releaseAll()
    val aggs = nodes(plan).collect { case a: BaseAggregateExec => a.aggregateExpressions }.flatten
    val decimalSums = aggs.map(_.aggregateFunction).collect {
      case s: Sum if s.child.dataType == DecimalType(38, 6) => s
    }
    assert(decimalSums.isEmpty, s"decimal Sum left in the plan: $decimalSums\n$plan")
    val dsum6Args = aggs.filter(a => a.mode == Final || a.mode == Complete)
      .map(_.aggregateFunction).collect { case d: Dsum6 => d.child.sql }.toSet
    assert(dsum6Args.size === dsumArgs(sql).size,
      s"Dsum6 over $dsum6Args, sqlDsum over ${dsumArgs(sql)}\n$plan")
  }
}
