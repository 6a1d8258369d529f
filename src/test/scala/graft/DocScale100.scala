package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 100× document-corpus stress (dev harness, test scope — the
  * ScaleSmoke twin for VERDICT r9 item 7 and r10 item 7):
  *
  *  - FIXED-STATE tier: heavy-hitter (l50, Misra-Gries) and
  *    LM-familiarity (l51, bigram model) carry state bounded by the
  *    SKETCH or the VOCABULARY, not the corpus — at 100× documents their
  *    cost must stay ~linear in scan work and their output size flat.
  *  - DEDUP/SIMILARITY tier (round 11): MinHash-LSH (l02), SimHash
  *    (l03), exact n-gram verify (l04), dup components (l26), embedding
  *    dup clusters (l36), image dHash (l42). 100× duplication is the
  *    adversarial regime — every doc becomes a 100-clone cluster, so
  *    TRUE pairs grow ~100× faster than the corpus (C(100,2)/C(10,2) ≈
  *    110 per cluster); the claim under test is that COST tracks
  *    found-pairs + scan, never corpus² — the per-bucket caps bound
  *    every candidate path. Interpret sec against out_rows: a ratio
  *    near the pair growth is the operator working, not degrading.
  *
  * Amplification: shifted doc_id/vec_id copies with text/vector kept
  * (the ScaleSmoke recipe) — repeated content is exactly the regime a
  * crawl re-ingest produces. Offsets are multiples of 10⁹ ≡ 0 (mod 50),
  * so l42's synthesized image classes (doc_id % 50) duplicate across
  * copies exactly like the text does.
  *
  * Run: sbt "Test/runMain graft.DocScale100"
  */
object DocScale100 {

  private def amplifyDocs(spark: SparkSession, base: String, copies: Int,
                          out: String): String = {
    val raw = spark.read.parquet(s"$base/documents.parquet")
    (0 until copies).map { k =>
      raw.withColumn("doc_id", col("doc_id") + lit(k * 1000000000L))
    }.reduce(_ unionByName _).write.parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until copies).map { k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * 1000000000L))
    }.reduce(_ unionByName _).write.parquet(s"$out/embeddings.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    val scratch = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_doc100x"))
    // the 1×/10×/100× rungs; each dir carries documents + embeddings —
    // everything the probed tier reads
    val rungs: Seq[(Int, String)] = Seq(1, 10, 100).map { c =>
      val d = scratch.resolve(s"x$c").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      c -> amplifyDocs(spark, base, c, d)
    }

    val registry = SparkEntry.queries
    def run(name: String, dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = registry(name)(spark, dir).count()
      CacheScope.releaseAll()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // GRAFT_DOCSCALE_ONLY narrows the probed set (comma prefixes)
    val wanted = sys.env.get("GRAFT_DOCSCALE_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val probes = Seq(
      "l50_heavy_trigrams", "l51_lm_familiarity",       // fixed-state tier
      "l02_dedup_minhash_lsh", "l03_dedup_simhash",     // dedup tier
      "l04_ngram_jaccard", "l26_dedup_components", "l53_canonical_selection",
      "l36_embed_dup_clusters", "l42_image_neardup", "l54_image_dup_clusters")
      .filter(n => wanted.forall(_.exists(n.startsWith)))
    println("query,copies,sec,out_rows")
    for (name <- probes; (c, dir) <- rungs) {
      run(name, dir) // warm-up (codegen, shared-frame build)
      val (sec, rows) = run(name, dir)
      println(f"$name,$c,$sec%.2f,$rows")
      Console.flush()
    }
    spark.stop()
  }
}
