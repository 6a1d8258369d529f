package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}


/** Dumps `.explain("formatted")` for registered queries to files — the
  * plan receipts committed under `plans/r19/` (`<query>_<tag>.txt`).
  * Each query RUNS first so AQE's final plan is what gets printed
  * (mirrors PlanAudit's run-then-inspect discipline), then the formatted
  * string of the (re-)analyzed frame is written.
  *
  * `Test/runMain graft.ExplainDump <sfDir> <outDir> <tag> [queryName...]`
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val tag = args(2)
    val names = args.drop(3).toSeq
    Files.createDirectories(outDir)
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[explain] UNKNOWN QUERY $n")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          df.collect() // run to completion so AQE finalizes
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(outDir.resolve(s"${n}_$tag.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          println(s"[explain] wrote ${n}_$tag.txt")
          CacheScope.releaseAll()
      }
    }
    spark.stop()
  }
}
