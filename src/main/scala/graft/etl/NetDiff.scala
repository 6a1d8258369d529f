package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-aggregation multiset diff of two same-schema frames — the shared
  * engine behind every CDF surface. A MERGE commit runs it once to record
  * its change set (the source against the rows it replaces, [[netted]]);
  * the feeds ([[SnapshotMerge.changes]], [[SnapshotMerge.changesKeyed]],
  * the streaming-source batches) scan that set on an adjacent hop and run
  * [[tagged]] over two manifests' changed partitions on every other range.
  *
  * Contract: [[tagged]]`(after, before)` is multiset-identical to
  *
  * {{{
  *   after.exceptAll(before).withColumn("_change_type", lit("insert"))
  *     .unionByName(
  *       before.exceptAll(after).withColumn("_change_type", lit("delete")))
  * }}}
  *
  * Why netting is exact: Spark plans ONE `exceptAll` as union(+1/−1) →
  * aggregate-by-every-column summing the weight → keep positives →
  * replicate (`RewriteExceptAll`). For a distinct row value with n_after
  * and n_before copies, the insert side emits max(n_after − n_before, 0)
  * rows and the delete side max(n_before − n_after, 0) — at most one of
  * the two is nonzero, and both equal |n_after − n_before|. So the PAIR
  * of exceptAlls is one signed aggregation read twice: net > 0 ⇒ that
  * many inserts, net < 0 ⇒ that many deletes. Running the pair as
  * written costs two aggregations and two scans of each side; netting
  * shares one aggregation and scans each side once — the diff phase of
  * a CDF over changed partitions halves.
  *
  * Row-equality semantics are inherited, not re-derived: the netted
  * aggregate groups by exactly the columns `RewriteExceptAll` groups by,
  * so null keys, NaN normalization and −0.0/+0.0 folding behave
  * bit-identically to the exceptAll pair.
  */
private[etl] object NetDiff {

  /** Full-row diff tagged `insert`/`delete` in `_change_type` (appended
    * after `after`'s columns — the exact schema of the exceptAll-pair
    * formulation). Replication of |net| copies goes through a transient
    * `sequence` array: a keyed store's diff has multiplicity 1 per row
    * value (full-row duplicates only), so the array is bounded by the
    * duplicate count of ONE row value, never a partition. */
  def tagged(after: DataFrame, before: DataFrame): DataFrame =
    netted(after.withColumn("_w", lit(1L)).unionByName(before.withColumn("_w", lit(-1L))))

  /** [[tagged]] over rows already signed in a last column `_w`: +1 for an
    * `after` row, −1 for a `before` row. The aggregation keeps its input's
    * partitioning where that clusters every column, so a single-partition
    * input is diffed with no shuffle. */
  def netted(signed: DataFrame): DataFrame = {
    val cols = signed.columns.toSeq.filterNot(_ == "_w")
    val net = signed
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_w")).as("_net"))
      .filter(col("_net") =!= 0L)
    net.select(cols.map(col) :+ col("_net") :+
        explode(expr("sequence(cast(1 as bigint), abs(_net))")).as("_i"): _*)
      .withColumn("_change_type",
        when(col("_net") > 0L, lit("insert")).otherwise(lit("delete")))
      .drop("_net", "_i")
  }
}
