package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins [[GramStats]]'s contract: bit-identical per-doc
  * (n_grams, top_cnt, dup_grams) to the composed pipeline it replaced —
  * explode `concat_ws(' ')` adjacent bigrams, count per (doc, gram),
  * aggregate per doc — on real fixture text, adversarial token shapes
  * (empty tokens, all-identical tokens, unicode, two-token minimum),
  * and the null/short-array boundary. */
class GramStatsSpec extends SparkSuite {

  import spark.implicits._

  private def composed(docs: org.apache.spark.sql.DataFrame) = docs
    .withColumn("ts", split(col("text"), " "))
    .filter(size(col("ts")) >= 2)
    .select(col("doc_id"), explode(expr(
      """transform(sequence(0, size(ts)-2),
        |  i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2)))""".stripMargin)).as("g"))
    .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    .groupBy("doc_id")
    .agg(
      sum(col("cnt")).as("n_grams"),
      max(col("cnt")).as("top_cnt"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_grams"))

  private def native(docs: org.apache.spark.sql.DataFrame) = docs
    .withColumn("ts", split(col("text"), " "))
    .filter(size(col("ts")) >= 2)
    .select(col("doc_id"), expr("gram_stats(ts)").as("gs"))
    .select(col("doc_id"), col("gs.n_grams").as("n_grams"),
      col("gs.top_cnt").as("top_cnt"), col("gs.dup_grams").as("dup_grams"))

  private def assertIdentical(docs: org.apache.spark.sql.DataFrame,
                              clue: String): Unit = {
    GraftExtensions.register(spark)
    val got = native(docs).orderBy("doc_id").collect()
    val want = composed(docs).orderBy("doc_id").collect()
    assert(got.toSeq === want.toSeq, clue)
  }

  test("bit-identical to the composed explode+count pipeline on fixture text") {
    assertIdentical(
      graft.Tables.documents(spark, sfDir("0.001")).select("doc_id", "text"),
      "sf0.001 documents")
  }

  test("adversarial token shapes match the composed pipeline") {
    val docs = Seq(
      (1L, "a b a b a b"), // one dominant bigram both directions
      (2L, "x x x x"), // all-identical tokens
      (3L, "p q"), // exactly one window
      (4L, "a  b a"), // empty token from the double space
      (5L, " lead and trail "), // empty first/last tokens
      (6L, "µ ν µ ν µ"), // non-ASCII tokens
      (7L, "t1 t2 t3 t4 t5 t6 t7 t8"), // all-distinct grams
      (8L, "w w w a w w w") // runs split by a singleton
    ).toDF("doc_id", "text")
    assertIdentical(docs, "adversarial shapes")
  }

  test("short arrays yield null, filtered rows match the composed filter") {
    GraftExtensions.register(spark)
    val r = Seq("solo", "").toDF("text")
      .select(expr("gram_stats(split(text, ' '))").as("gs")).collect()
    assert(r.forall(_.isNullAt(0)),
      "under-2-token arrays must yield null (the callers' filter boundary)")
  }
}
