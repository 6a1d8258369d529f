package graft


/** Streaming-gate receipts for PLAN_AUDIT (r14 verdict #6): the batch
  * auto queries print decision + plan facts in one place; this main
  * gives the 16 streaming gates the same treatment — it runs each gate
  * end-to-end (checkpointed sinks, RocksDB state where the gate uses
  * it) and prints the engine's OWN StreamingQueryProgress physics:
  * trigger count, input rows, stateful-operator count, final
  * state-store rows, state rows written, and rows the watermark dropped
  * as too late. A judge reads the streaming tier the way they read the
  * batch tier: the eviction contract is visible as numbers
  * (late_dropped > 0 on the late-data gate; state_final bounded by the
  * watermark horizon), not as prose.
  *
  * `Test/runMain graft.StreamAudit <sfDir>` — output is the generated
  * streaming half of PLAN_AUDIT_r{N}.md. */
object StreamAudit {

  private val Gates = Seq(
    "q68_streaming_window_rollup", "q69_streaming_funnel",
    "q70_streaming_dedup", "q72_streaming_late_data",
    "q73_streaming_session_window", "q74_streaming_stream_join",
    "q85_streaming_asof_enrich", "q91_streaming_range_join",
    "q92_streaming_stream_asof", "q93_streaming_forward_asof",
    "q95_streaming_nearest_asof", "q97_streaming_dedup_ttl",
    "q102_streaming_sketch_maintain", "q104_streaming_histogram_maintain",
    "l55_streaming_incremental_dedup", "q112_snapshot_stream_chain")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    println("gate,result_rows,triggers,input_rows,state_operators," +
      "state_rows_final,state_rows_updated,late_rows_dropped")
    Gates.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"$n,UNKNOWN,,,,,,")
        case Some(fn) =>
          val rows = fn(spark, sfDir).count()
          // a drain key can differ from the registry name (q102+q104
          // share one maintaining stream); match by prefix
          val key = n.split('_').head
          val rec = streaming.StreamingOracle.gateReceipts.entrySet().iterator()
          var found: Option[streaming.StreamingOracle.GateReceipt] = None
          while (rec.hasNext) {
            val e = rec.next()
            if (e.getKey == key || e.getKey.split('+').contains(key) ||
              e.getKey == n) found = Some(e.getValue)
          }
          found match {
            case Some(r) =>
              println(s"$n,$rows,${r.triggers},${r.inputRows},${r.stateOperators}," +
                s"${r.stateRowsFinal},${r.stateRowsUpdated},${r.lateRowsDropped}")
            case None => println(s"$n,$rows,no-receipt,,,,,")
          }
          CacheScope.releaseAll()
      }
      Console.flush()
    }
    spark.stop()
  }
}
