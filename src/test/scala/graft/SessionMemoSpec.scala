package graft

import org.apache.spark.sql.classic

/** The derived-table stores (SigStore, the q57/q63 quartile store) keep
  * their tables on disk through GateFixture, so once a harness releases
  * its query-scoped caches the session holds no persisted frame: no
  * plan, broadcast relation or cached block outlives the queries that
  * used it. */
class SessionMemoSpec extends SparkSuite {

  test("no session memo pins a plan: after l28, l03 and q57 nothing stays persisted") {
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    // a fresh copy of the fixture: no store has an entry for it yet
    val dir = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_memo_sf"))
    val src = java.nio.file.Paths.get(sfDir("0.001"))
    val files = java.nio.file.Files.list(src)
    try files.forEach(f => java.nio.file.Files.copy(f, dir.resolve(f.getFileName)))
    finally files.close()
    // start from an empty cache: earlier suites' frames are not this
    // spec's subject (suites run one after another, so none is in use)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try {
      for (q <- Seq("l28_minhash_portable", "l03_dedup_simhash", "q57_iqr_outliers")) {
        val rows = SparkEntry.queries(q)(spark, dir.toString).collect()
        assert(rows.nonEmpty, s"$q answered nothing")
      }
    } finally CacheScope.releaseAll()
    assert(sc.getPersistentRDDs.isEmpty,
      s"persisted after release: ${sc.getPersistentRDDs.values.map(_.toDebugString).mkString("\n")}")
    assert(cacheManager.isEmpty, "the session's cache manager still holds an entry")
  }
}
