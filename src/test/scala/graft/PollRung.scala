package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.etl.SnapshotMerge

/** The offset-poll WIDTH rung (r16 verdict #4's Done criterion: SCALING
  * carries the rung): how much does ONE stream poll cost as the store's
  * committed-epoch history grows 10× → 100× → 1000×, with the tip
  * pointer vs the listing fallback?
  *
  * A store's manifest directory grows one entry per commit; a year-old
  * 30 s-trigger store holds ~10⁶. The pointer answers a poll with three
  * FS probes regardless of width; the fallback lists the directory —
  * O(total epochs) per poll. The rung fabricates widths (manifest
  * copies under bumped names — offset discovery reads only names + the
  * pointer) and times 200 polls per (width, mode).
  *
  * Run: sbt "Test/runMain graft.PollRung"
  * Output: CSV rows `width,mode,polls,total_ms,ms_per_poll`.
  */
object PollRung {

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    import spark.implicits._
    try {
      println("width,mode,polls,total_ms,ms_per_poll")
      Seq(10, 100, 1000, 10000).foreach { width =>
        val store = java.nio.file.Files
          .createTempDirectory(s"graft_pollrung_$width").toString + "/store"
        SnapshotMerge.upsert(spark, store,
          Seq((1L, "a", "d1", 10L)).toDF("id", "v", "day", "ts"),
          Seq("id"), "day")
        val m1 = java.nio.file.Path.of(store, "_GRAFT_SNAP_1")
        (2 to width).foreach { e =>
          java.nio.file.Files.copy(m1,
            java.nio.file.Path.of(store, s"_GRAFT_SNAP_$e"))
        }
        graft.sources.PointerFile.write(spark,
          new Path(store, "_GRAFT_TIP"), width.toLong)
        val polls = 200
        Seq("pointer", "listing").foreach { mode =>
          if (mode == "listing")
            java.nio.file.Files.delete(java.nio.file.Path.of(store, "_GRAFT_TIP"))
          // warmup
          (1 to 10).foreach(_ => SnapshotMerge.tipEpoch(spark, store))
          val t0 = System.nanoTime()
          var i = 0
          while (i < polls) {
            require(SnapshotMerge.tipEpoch(spark, store).contains(width.toLong))
            i += 1
          }
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"$width,$mode,$polls,$ms%.1f,${ms / polls}%.4f")
        }
      }
    } finally spark.stop()
  }
}
