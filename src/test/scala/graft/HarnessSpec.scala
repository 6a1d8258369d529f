package graft

import org.apache.hadoop.fs.FileSystem

import graft.plans.{AsOfJoinStrategy, AutoBloomPrune, GraftExtensions}

class HarnessSpec extends SparkSuite {

  test("the shared test session carries the harness confs") {
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ===
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "10000")
    assert(spark.conf.get("spark.sql.ui.retainedExecutions") === "20")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get("fs.file.impl") === "graft.sources.NioLocalFileSystem")
    assert(FileSystem.get(new java.net.URI("file:///"), hadoop)
      .isInstanceOf[graft.sources.NioLocalFileSystem])
  }

  test("every native function in the extension list resolves in SQL") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.distinct.size === names.size)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    assert(spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float)), array(cast(1.0 as float)))")
      .head().getDouble(0) === 1.0)
    assert(spark.experimental.extraOptimizations.count(_ == AutoBloomPrune) === 1)
    assert(spark.experimental.extraStrategies.count(_ == AsOfJoinStrategy) === 1)
  }
}
