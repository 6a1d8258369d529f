package graft

import org.apache.spark.sql.functions._

/** Dev-only: max portable-minhash band-bucket occupancy per scale —
  * whether MaxBucketDefault binds anywhere on the fixtures. */
object BucketCheck {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Seq("0.001", "0.01", "0.1").foreach { sf =>
      val docs = Tables.documents(spark, s"/root/testdata/sf$sf")
      val sigs = graft.llm.TextDedup.withPortableSignatures(docs)
      val bands = graft.llm.TextDedup.portableBandRows(sigs)
      val r = bands.groupBy("band_id", "band_hash").count()
        .agg(max("count"), count(lit(1))).head()
      println(s"sf$sf max_bucket=${r.getLong(0)} n_buckets=${r.getLong(1)}")
    }
    spark.stop()
  }
}
