package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lakehouse mutations as pure DataFrame transforms (no Delta jar in
  * this env).
  *
  * S7 MERGE upsert (reference: etl_framework.py:635-655, delta_setup.py:636-668),
  * S8 DELETE/UPDATE by predicate (delta_setup.py:670-702).
  *
  * Scale posture: `upsert` is one shuffled left-anti join on the merge keys
  * plus a union — both sides stay distributed; nothing is collected.
  * Persisting a merge is [[SnapshotMerge]]'s job: it applies these row
  * semantics to the touched partitions only and commits them as one
  * snapshot epoch.
  */
object Merge {

  /** Pure-DataFrame MERGE: rows of `target` whose key matches a `source`
    * row are replaced by the source row ("whenMatchedUpdateAll"); unmatched
    * source rows are inserted ("whenNotMatchedInsertAll"). */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** S8 DELETE: predicate-filtered rewrite. */
  def delete(target: DataFrame, cond: Column): DataFrame = target.filter(!cond || cond.isNull)

  /** S8 UPDATE: conditional column rewrite. ONE projection evaluates
    * every SET expression AND the predicate against the PRE-update row
    * — SQL/Delta UPDATE semantics (r16 review: the previous
    * `withColumn` fold let later entries and the re-evaluated
    * predicate see already-updated values, so
    * `Map("a" -> col("b"), "b" -> col("a"))` failed to swap and
    * results depended on Map insertion order). */
  def update(target: DataFrame, cond: Column, set: Map[String, Column]): DataFrame = {
    // resolve SET names case-insensitively (Spark's own default) and
    // FAIL on unknown columns — the select form would otherwise
    // silently no-op a typo'd name (the withColumn fold used to
    // resolve case-insensitively and append new columns; appending is
    // not an UPDATE, so unknown names are an error now, not a column)
    // Locale.ROOT fold: Spark's case-insensitive resolution is
    // locale-independent; a default-locale fold diverges under tr-TR
    val byLower = target.columns.map(c =>
      c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    val resolved: Map[String, Column] = set.map { case (k, v) =>
      byLower.getOrElse(k.toLowerCase(java.util.Locale.ROOT),
        throw new IllegalArgumentException(
        s"update: unknown column $k (have: ${target.columns.mkString(", ")})")) -> v
    }
    // two SET keys folding to one column (Map("V" -> x, "v" -> y)) would
    // silently collapse to whichever the Map iterates last — a typo'd
    // duplicate is an error under the fail-loud contract, not a
    // nondeterministic absorb
    if (resolved.size != set.size) {
      val colliding = set.keys.groupBy(_.toLowerCase(java.util.Locale.ROOT)).collect {
        case (_, ks) if ks.size > 1 => ks.mkString("/")
      }
      throw new IllegalArgumentException(
        s"update: SET entries collide on the same column " +
          s"(case-insensitive): ${colliding.mkString(", ")}")
    }
    target.select(target.columns.toIndexedSeq.map { name =>
      resolved.get(name) match {
        case Some(value) => when(cond, value).otherwise(col(name)).as(name)
        case None => col(name)
      }
    }: _*)
  }
}
