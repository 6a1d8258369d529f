package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The phased incremental ETL job runner (reference:
  * etl_framework.py:412-488 ETLJobBase.run — extract → validate →
  * dedup → transform → load, with per-phase metrics).
  *
  * Differences from the reference, on purpose: phase counts come from one
  * cached pass instead of recomputing the frame per `df.count()` (the
  * reference recomputes the whole lineage at ETL:422/456), and the load
  * is a [[SnapshotMerge.upsert]] into the target store instead of blind
  * append.
  */
object EtlJob {

  final case class Metrics(
      extracted: Long, valid: Long, quarantined: Long,
      deduped: Long, loaded: Long, qualityScore: Double)

  def run(
      spark: SparkSession,
      source: DataFrame,
      targetDir: String,
      watermarkCol: String,
      keys: Seq[String],
      rules: Seq[Quality.Rule],
      transform: DataFrame => DataFrame,
      partitionCol: String,
      quarantineDir: Option[String] = None): Metrics = {

    // extract (incremental, pushdown-friendly watermark filter). The
    // watermark comes from the committed snapshot only: files a crashed
    // load left under the target belong to no manifest, so they can
    // neither raise the watermark nor be read as loaded rows.
    val fresh = SnapshotMerge.tipEpoch(spark, targetDir) match {
      case Some(e) => Incremental.newRows(source,
        SnapshotMerge.read(spark, targetDir, Some(e)), watermarkCol)
      case None => source
    }
    // every frame cached below is unpersisted however the run ends
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      val freshC = cache(fresh)
      val extracted = freshC.count()

      // validate + quarantine (the quarantine WRITE happens after a
      // successful load — the watermark only advances on success, so
      // writing earlier would duplicate quarantine rows on every retry)
      val validated = cache(Quality.validate(freshC, rules))
      val (clean, quarantined) = Quality.quarantine(validated)
      val validN = clean.count()
      val quarN = quarantined.count()
      val quality = if (extracted == 0) 1.0 else validN.toDouble / extracted

      // dedup — tie-break on every non-key column so equal-watermark
      // duplicates have a deterministic survivor (the keys themselves are
      // constant within a window partition and break no ties)
      val cleanCols = clean.drop("_dq_errors", "_dq_valid", "_dq_score")
      val tieBreak = Seq(col(watermarkCol)) ++
        cleanCols.columns.filterNot(c => keys.contains(c) || c == watermarkCol).sorted.map(col)
      val deduped = cache(Dedup.keepLatest(cleanCols, keys, tieBreak))
      val dedupN = deduped.count()

      // transform + load (partition-pruned snapshot MERGE; an empty
      // target bootstraps through the same call); count from the cached
      // frame so the transform runs once, not once per action
      val out = cache(transform(deduped))
      val loaded = out.count()
      SnapshotMerge.upsert(spark, targetDir, out, keys, partitionCol)
      quarantineDir.foreach(d => quarantined.write.mode(SaveMode.Append).parquet(d))

      Metrics(extracted, validN, quarN, dedupN, loaded, quality)
    } finally cached.foreach(_.unpersist())
  }
}
