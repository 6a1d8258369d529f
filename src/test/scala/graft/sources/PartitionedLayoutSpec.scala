package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The derived layouts are GateFixtures: an accessor builds its layout on
  * demand, so no caller has to run a rollup first, and the rollup then
  * reads exactly the directory the accessor returned. */
class PartitionedLayoutSpec extends graft.SparkSuite {

  /** A copy of the sf0.001 fixture under a path no memo in this JVM has
    * seen, so every layout below is built by the call that asks for it. */
  private def freshFixture(): Path = {
    val dir = Files.createTempDirectory("graft_layout_fresh")
    val listing = Files.list(java.nio.file.Paths.get(sfDir("0.001")))
    try listing.forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    finally listing.close()
    dir
  }

  private def readsOnly(rollup: DataFrame, dir: String, also: String*): Boolean =
    rollup.inputFiles.forall(f => (dir +: also).exists(d => f.contains(d)))

  test("histogram, sketch and partitioned accessors build before their rollups, and the rollups read them") {
    val fresh = freshFixture()
    try {
      val sf = fresh.toString
      val events = graft.Tables.events(spark, sf)

      val histDir = PartitionedLayout.histStoreDir(spark, sf)
      def hist() = spark.read.parquet(histDir)
        .select(col("day").cast("string"), col("bucket"), col("cnt"))
        .collect().toSet
      val histBefore = hist()
      assert(histBefore.toSeq.map(_.getLong(2)).sum ===
        events.filter(col("value").isNotNull).count(),
        "the histogram store counts every non-null value once")

      val sketchDir = PartitionedLayout.sketchTableDir(spark, sf)
      def sketches() = spark.read.parquet(sketchDir)
        .select(col("day").cast("string"), hll_sketch_estimate(col("sketch")), col("exact_dau"))
        .collect().toSet
      val sketchBefore = sketches()
      val dau = events.groupBy(to_date(col("ts")).cast("string"))
        .agg(countDistinct(col("user_id"))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sketchBefore.map(r => r.getString(0) -> r.getLong(2)).toMap === dau,
        "one sketch row per day, carrying that day's exact distinct users")

      val partDir = PartitionedLayout.partitionedEventsDir(spark, sf)
      def part() = spark.read.parquet(partDir)
        .select("event_id", "user_id", "event_type", "value").collect().toSet
      val partBefore = part()
      assert(partBefore === events.select("event_id", "user_id", "event_type", "value")
        .collect().toSet, "the partitioned copy holds every event")

      // the rollups now run and read the very directories returned above
      val histRollup = PartitionedLayout.quantileHistogramRollup(spark, sf)
      assert(histRollup.collect().nonEmpty && readsOnly(histRollup, histDir))
      val sketchRollup = PartitionedLayout.sketchTableRollup(spark, sf)
      assert(sketchRollup.collect().forall(_.getBoolean(2)))
      assert(readsOnly(sketchRollup, sketchDir, sf) &&
        sketchRollup.inputFiles.exists(_.contains(sketchDir)))
      val partRollup = PartitionedLayout.prunedDailyRollup(spark, sf)
      assert(partRollup.collect().nonEmpty && readsOnly(partRollup, partDir))

      // built once: the accessors return the same directories, unchanged
      assert(PartitionedLayout.histStoreDir(spark, sf) === histDir && hist() === histBefore)
      assert(PartitionedLayout.sketchTableDir(spark, sf) === sketchDir &&
        sketches() === sketchBefore)
      assert(PartitionedLayout.partitionedEventsDir(spark, sf) === partDir &&
        part() === partBefore)
    } finally graft.FileTree.delete(fresh)
  }
}
