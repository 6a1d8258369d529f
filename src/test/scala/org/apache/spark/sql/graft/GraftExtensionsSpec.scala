package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

import _root_.graft.plans.{AsOfJoinStrategy, AutoBloomPrune, GraftExtensions}

/** The `spark.sql.extensions` path. It lives in this package because
  * `SparkSessionExtensions.registerFunctions` is `private[sql]`. */
class GraftExtensionsSpec extends _root_.graft.SparkSuite {

  test("GraftExtensions injects exactly the listed functions, rule and strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registered = ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName)
    assert(registered.sorted === GraftExtensions.functions.map(_._1.funcName).sorted)
    assert(ext.buildOptimizerRules(spark) === Seq(AutoBloomPrune))
    assert(ext.buildPlannerStrategies(spark) === Seq(AsOfJoinStrategy))
  }
}
