package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private lazy val registry: Seq[Q] =
    operators.CoreQueries.all ++
      operators.ExtendedQueries.all ++
      operators.SurfaceQueries.all ++
      operators.FunnelQueries.all ++
      operators.AsOfJoin.all ++
      operators.RangeJoin.all ++
      operators.RuntimeFilter.all ++
      analytics.Views.all ++
      analytics.Calendar.all ++
      etl.Taxonomy.all ++
      etl.SnapshotMerge.all ++
      etl.Skew.all ++
      sources.PartitionedLayout.all ++
      streaming.StreamingOracle.all ++
      streaming.SnapshotStream.all ++
      llm.TextDedup.all ++
      llm.Similarity.all ++
      llm.TextStats.all ++
      llm.Sampling.all ++
      llm.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY §7.3 milestone: dedup + 10-min-bucket content popularity
    * (reference: real_time_streaming.py:315-345). */
  def entry(spark: SparkSession): DataFrame =
    operators.CoreQueries.contentPopularity(
      Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
