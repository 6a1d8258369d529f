package graft

import org.apache.spark.sql.execution.SparkPlan

/** Plan-quality receipts for the headline queries: runs each query (so
  * AQE's FINAL plan is what gets audited), walks the executed plan, and
  * prints the facts a 100 TB plan review checks — shuffle count,
  * broadcast count, join strategies, whole-stage-codegen span count,
  * and per-scan column pruning + pushed filters. The output of this
  * main is the generated half of `PLAN_AUDIT_r12.md`.
  *
  * `Test/runMain graft.PlanAudit <sfDir> [queryName...]`
  */
object PlanAudit {

  private val DefaultQueries = Seq(
    "q01_pricing_summary", "q02_content_popularity", "q15_star_join",
    "q83_asof_native", "q84_asof_broadcast",
    "q88_range_bin_join", "q100_range_join_auto_salt",
    "l02_dedup_minhash_lsh", "q96_sketch_table_rollup")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    // walk through AQE wrapper nodes and reused stages so the FINAL
    // physical operators are counted, not the adaptive scaffolding
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedSubqueryExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"## $n\nUNKNOWN QUERY\n")
        case Some(fn) =>
      // reset the auto routers' debug mirrors so the receipt printed
      // below is THIS query's decision (single-threaded here, so the
      // JVM-global mirror is race-free)
      operators.RangeJoin.lastAutoRange = None
      operators.AsOfJoin.lastAutoAsOf = None
      val df = fn(spark, sfDir)
      df.collect()
      val all = nodes(df.queryExecution.executedPlan)
      def count(pred: String => Boolean): Int =
        all.count(p => pred(p.getClass.getSimpleName))
      val joins = all.map(_.getClass.getSimpleName)
        .filter(_.contains("Join")).groupBy(identity)
        .map { case (k, v) => s"$k x${v.size}" }.toSeq.sorted
      val scans = all.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          val pushed = f.metadata.getOrElse("PushedFilters", "[]")
          val schema = f.requiredSchema.fieldNames.mkString(",")
          val loc = f.metadata.getOrElse("Location", "").split('/').lastOption.getOrElse("")
          s"$loc read=[$schema] pushed=$pushed"
      }.distinct
      println(s"## $n")
      println(s"shuffle_exchanges=${count(s => s.startsWith("ShuffleExchange"))} " +
        s"broadcast_exchanges=${count(_.startsWith("BroadcastExchange"))} " +
        s"wholestage_codegen_spans=${count(_.startsWith("WholeStageCodegen"))} " +
        s"sorts=${count(_ == "SortExec")}")
      println(if (joins.isEmpty) "joins: none" else s"joins: ${joins.mkString(", ")}")
      scans.foreach(s => println(s"scan: $s"))
      // the auto routers' own decision receipt, next to the plan facts
      // (r13 verdict #7): what the engine decided and from what stats
      operators.RangeJoin.lastAutoRange.foreach { r =>
        println(f"auto_receipt: mode=${r.mode} binWidth=${r.binWidth} " +
          f"hotBinShare=${r.hotBinShare}%.3f hotBins=${r.hotBins.size} " +
          s"otherSideSplitBins=${r.pointHotBins.size} gridBins=${r.gridBins.size} " +
          s"demoted=${r.demoted.size} " +
          s"dims=${r.slicesA}x${r.slicesB} premiumBytes=${r.premiumBytes}")
      }
      operators.AsOfJoin.lastAutoAsOf.foreach { r =>
        println(f"auto_receipt: mode=${r.mode} hotKeyShare=${r.hotKeyShare}%.3f " +
          f"rightHotShare=${r.rightHotShare}%.3f hotKeys=${r.hotKeys.size} " +
          s"slicedKeys=${r.slicedKeys.size} griddedKeys=${r.griddedKeys.size} " +
          s"demotedKeys=${r.demotedKeys.size} " +
          s"dims=${r.slicesA}x${r.slicesB} premiumBytes=${r.premiumBytes}")
      }
      println()
      CacheScope.releaseAll()
      }
    }
    spark.stop()
  }
}
