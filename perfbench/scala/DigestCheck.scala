package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of [[Main.digest]], run by perfbench/tests/test_digest.py:
  * exits non-zero, naming the property, if one does not hold. */
object DigestCheck {
  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", argv(0))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val failed = try {
      val base = Seq((1L, "a", 0.1 + 0.2 + 0.3), (2L, "b", 2.5), (3L, null, -1.0)).toDF("k", "s", "d")
      val d = Main.digest(base)
      Seq(
        "row count" -> (d._1 == 3L),
        "row order does not matter" ->
          (Main.digest(base.repartition(2).orderBy(col("k").desc)) == d),
        "a changed value changes the hash" ->
          (Main.digest(base.withColumn("d", when(col("k") === 2, 2.25).otherwise(col("d")))) != d),
        "a duplicated row changes the hash" ->
          (Main.digest(base.union(base.limit(1)))._2 != d._2),
        "double re-association reads as the same answer" ->
          (Main.digest(base.withColumn("d", when(col("k") === 1, lit(0.1) + (lit(0.2) + lit(0.3)))
            .otherwise(col("d")))) == d),
        "columns are hashed in order" -> (Main.digest(base.select("k", "d", "s")) != d),
        "map columns hash" ->
          (Main.digest(base.select(map(col("k"), col("s")).as("m")))._1 == 3L),
        "empty result" -> (Main.digest(base.limit(0)) == ((0L, "0")))
      ).collect { case (name, false) => name }
    } finally spark.stop()
    failed.foreach(n => System.err.println(s"digest property failed: $n"))
    if (failed.nonEmpty) sys.exit(1)
    println("digest properties hold")
  }
}
