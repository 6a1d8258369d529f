package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    def deleteOut(name: String): Unit = FileTree.delete(Paths.get(outDir, name))
    // Dev-only subset filter (comma-separated name prefixes): lets a
    // local iteration loop verify just the touched queries. Unset — the
    // driver's path — runs the full registry, unchanged.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter { case (n, _) => selected(n) }.foreach { case (name, fn) =>
      // pre-delete so a failed query can never leave a stale previous
      // result for the driver to greenwash as a PASS
      deleteOut(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        deleteOut(name)
      }
      finally CacheScope.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A GRAFT_VERIFY_ONLY dev run writes its subset map to a suffixed
    // path so it can never clobber the driver's full oracle_sql.json
    // (the same guard Bench.scala applies to BENCH_FULL.json).
    val oracleOut =
      if (only.isDefined) "oracle_sql.dev.json" else "oracle_sql.json"
    if (only.isEmpty) // a full run clears any stale dev-subset map
      Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.dev.json"))
    Files.writeString(Paths.get(s"$outDir/$oracleOut"), json)
    spark.stop()
  }
}
