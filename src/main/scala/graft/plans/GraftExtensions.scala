package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's Catalyst extensions, listed once. Both registration
  * paths iterate these lists: `spark.sql.extensions=graft.plans.GraftExtensions`
  * injects them when a session is built, and [[GraftExtensions.register]]
  * adds them to a session built without that conf (the driver's). A new
  * native function is one line in [[GraftExtensions.functions]]. */
object GraftExtensions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (CosineSimilarity.identifier, CosineSimilarity.info, CosineSimilarity.builder),
    (RollingMinHash.identifier, RollingMinHash.info, RollingMinHash.builder),
    (SimHash64.identifier, SimHash64.info, SimHash64.builder),
    (Md5SimHashBands.identifier, Md5SimHashBands.info, Md5SimHashBands.builder),
    (MinHash16.identifier, MinHash16.info, MinHash16.builder),
    (MinHashMd5.identifier, MinHashMd5.info, MinHashMd5.builder),
    (RollingArgminWindow.identifier, RollingArgminWindow.info, RollingArgminWindow.builder),
    (Md5WindowMin.identifier, Md5WindowMin.info, Md5WindowMin.builder),
    (MisraGries.identifier, MisraGries.info, MisraGries.builder),
    (TopKRows.identifier, TopKRows.info, TopKRows.builder),
    (CharNgrams.identifier, CharNgrams.info, CharNgrams.builder),
    (Dsum6.identifier, Dsum6.info, Dsum6.builder),
    (GramStats.identifier, GramStats.info, GramStats.builder))

  // conf-gated (spark.graft.autoBloomPrune); a no-op for every session
  // that does not opt in, so global injection is plan-preserving
  val optimizerRule = AutoBloomPrune
  // fires only on AsOfJoinNode (which only asofJoinNative constructs),
  // so global injection never touches another query's plan
  val plannerStrategy = AsOfJoinStrategy

  /** Runtime registration into an existing session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    val x = spark.experimental
    if (!x.extraOptimizations.contains(optimizerRule))
      x.extraOptimizations = x.extraOptimizations :+ optimizerRule
    if (!x.extraStrategies.contains(plannerStrategy))
      x.extraStrategies = x.extraStrategies :+ plannerStrategy
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — the idiomatic
  * production injection path for the lists above. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => GraftExtensions.optimizerRule)
    ext.injectPlannerStrategy(_ => GraftExtensions.plannerStrategy)
  }
}
