package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational/streaming amplification smoke (dev harness, test scope —
  * the dedup-family twin lives in SCALING_r07.md): builds a 10×
  * amplified copy of the sf0.1 fixture and times the headline
  * relational/streaming queries at 1× and 10× through their REGISTERED
  * paths. Amplification is a deterministic shifted union — copy k
  * offsets every key id by k·10⁹ (events also shift user ids, so user
  * cardinality scales with the data and per-user row counts stay
  * fixture-shaped; lineitem/orders shift order keys together so join
  * selectivity is preserved; documents shift doc_id with text kept —
  * a crawl re-ingesting the same pages). Events are amplified on the
  * RAW `ts` column exactly as stored (ns-long or µs-timestamp fixture
  * generations alike) so the copy round-trips through the same reader
  * path as the fixture.
  *
  * Run: sbt "Test/runMain graft.ScaleSmoke"
  */
object ScaleSmoke {

  private val Copies = 10

  private def amplifyEvents(spark: SparkSession, base: String): DataFrame = {
    val raw = spark.read.parquet(s"$base/events.parquet") // ts stays a ns long
    // offset ≡ 0 mod lcm(32, 7, 11) = 2464 so every event_id-derived
    // fixture column (burst halves, %16 slices, %7/%11 window lengths)
    // duplicates across copies exactly — same as LadderScale
    (0 until Copies).map { k =>
      raw.select(
        (col("event_id") + lit(k * 999999616L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * 999999616L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
  }

  private def amplifyLineitem(spark: SparkSession, base: String): DataFrame = {
    val raw = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until Copies).map { k =>
      raw.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
    }.reduce(_ unionByName _)
  }

  private[graft] def build10x(spark: SparkSession, base: String): String = {
    val out = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_scale10x"))
    amplifyEvents(spark, base).write.parquet(s"$out/events.parquet")
    amplifyLineitem(spark, base).write.parquet(s"$out/lineitem.parquet")
    // orders shift WITH lineitem (same key offset), so every order keeps
    // its copy's lineitems and join selectivity is preserved; o_custkey
    // stays unshifted — the fixed customer dim simply owns 10× orders,
    // the fact-grows-dims-don't posture of a warehouse scale-up
    val rawOrders = spark.read.parquet(s"$base/orders.parquet")
    (0 until Copies).map { k =>
      rawOrders.withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))
    }.reduce(_ unionByName _).write.parquet(s"$out/orders.parquet")
    // documents: duplicate the corpus with shifted ids — a 10× crawl re-
    // ingesting the same pages, which is exactly the dedup-era workload
    val rawDocs = spark.read.parquet(s"$base/documents.parquet")
    (0 until Copies).map { k =>
      rawDocs.withColumn("doc_id", col("doc_id") + lit(k * 1000000000L))
    }.reduce(_ unionByName _).write.parquet(s"$out/documents.parquet")
    // embeddings: shifted vec ids with vectors kept — 10× the ANN corpus
    // (duplicated vectors are the adversarial case for the near-dup
    // tiers: every bucket fills, the caps have to hold)
    val rawEmb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until Copies).map { k =>
      rawEmb.withColumn("vec_id", col("vec_id") + lit(k * 1000000000L))
    }.reduce(_ unionByName _).write.parquet(s"$out/embeddings.parquet")
    // dims: 1× copies — at 100 TB the facts grow, the dims don't
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet").write.parquet(s"$out/$t.parquet")
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    val x10 = build10x(spark, base)
    // Default: the ENTIRE registry — every operator's ×10 cost ratio is
    // a measured row, not a design argument. Pass names to subset.
    val registry = SparkEntry.queries
    val names =
      if (args.nonEmpty) args.toSeq
      else registry.keys.toSeq.sorted

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      registry(name)(spark, dir).count()
      CacheScope.releaseAll()
      (System.nanoTime() - t0) / 1e9
    }

    // per (query, dir): one warm-up pass (JVM/codegen/layout build), one
    // timed pass — the steady-state per-query cost, matching Bench's
    // best-of protocol. Rows stream out as they complete so an
    // interrupted sweep still yields its finished measurements.
    println("query,base_sec,x10_sec,ratio")
    names.foreach { n =>
      try {
        val pairs = Seq(base, x10).map { dir =>
          time(n, dir); time(n, dir)
        }
        println(f"$n,${pairs.head}%.2f,${pairs.last}%.2f,${pairs.last / pairs.head}%.1f")
      } catch {
        case e: Throwable =>
          println(s"$n,ERR,ERR,${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}")
      }
      Console.flush()
    }
    spark.stop()
  }
}
