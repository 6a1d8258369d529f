package graft

import org.apache.spark.sql.functions._

import graft.etl.SnapshotMerge

/** The bin-packed-compaction rung (r15 verdict #2's Done criterion:
  * "a LadderScale rung showing the straggler gone at 10×"): builds a
  * snapshot store whose single fat partition holds ~1 GB of
  * high-entropy rows across ~40 files, then times `compact` in the two
  * regimes on byte-identical store copies —
  *
  *  - `onefile`: `targetFileBytes = Long.MaxValue` reproduces the v1
  *    contract exactly (k = 1 bin → ONE task sorts and writes the
  *    whole partition — the straggler the verdict named);
  *  - `binpack`: the default 128 MiB target fans the partition into
  *    ⌈bytes/target⌉ parallel bins with `maxRecordsPerFile` bounding
  *    every output file.
  *
  * Each arm compacts a FRESH filesystem copy of the same store
  * (compaction is a mutation — re-running on a compacted store is a
  * no-op), alternating arms per pass so neither owns the warmer slot.
  * Prints per-pass rows plus the output-file receipt (count and max
  * bytes per variant) — the structural claim is k-way parallelism AND
  * bounded files, not only wall-clock.
  *
  * Run: sbt "Test/runMain graft.CompactRung [rows]"
  */
object CompactRung {

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(8000000L)
    val passes = sys.env.get("GRAFT_COMPACT_PASSES").map(_.toInt).getOrElse(2)
    val spark = Harness.session(Harness.cpus)

    val root = FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_compact_rung"))
    val template = root.resolve("template/store")

    // ~1 GB fat partition: high-entropy sha2 payloads parquet cannot
    // compress away (~130 B/row on disk), laid out as ~40 files (the way
    // a publish wrote it before publishes were binned) so the
    // fragmentation probe fires; one small partition rides along to
    // prove untouched partitions stay untouched
    val fat = spark.range(1, rows + 1).select(
      col("id"),
      concat_ws("", sha2(col("id").cast("string"), 256),
        sha2(concat(col("id").cast("string"), lit("x")), 256),
        sha2(concat(col("id").cast("string"), lit("y")), 256),
        sha2(concat(col("id").cast("string"), lit("z")), 256)).as("v"),
      lit("hot").as("day"), col("id").as("ts"))
      .repartitionByRange(40, col("id"))
      .unionByName(spark.range(-100, 0).select(
        col("id"), lit("small").as("v"), lit("cold").as("day"), col("id").as("ts")))
    graft.etl.LegacyStore.fragmented(spark, template.toString, fat, "day")
    val snap = SnapshotMerge.latestSnapshot(spark, template.toString).get
    val fatBytes = snap.stats("day=hot").bytes
    println(s"# fixture: ${rows} rows, day=hot ${snap.stats("day=hot").files} files, " +
      s"$fatBytes bytes (${fatBytes / 1048576} MiB)")

    def outFiles(store: String): (Int, Long) = {
      val s = SnapshotMerge.latestSnapshot(spark, store).get
      val d = new java.io.File(store, s"day=hot/__e=${s.parts("day=hot")}")
      val fs = d.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      (fs.length, if (fs.isEmpty) 0L else fs.map(_.length).max)
    }

    println("variant,pass,compact_sec,out_files,max_file_mib,rows_ok")
    val expected = rows + 100
    def run(variant: String, target: Long, pass: Int): Unit = {
      val work = root.resolve(s"${variant}_$pass")
      copyDir(root.resolve("template"), work)
      val store = work.resolve("store").toString
      val t0 = System.nanoTime()
      val e = SnapshotMerge.compact(spark, store,
        maxFilesPerPartition = 8, targetFileBytes = target)
      val sec = (System.nanoTime() - t0) / 1e9
      require(e.nonEmpty, "the fat partition must have been fragmented")
      val n = SnapshotMerge.read(spark, store).count()
      val (files, maxB) = outFiles(store)
      println(f"$variant,$pass,$sec%.2f,$files,${maxB / 1048576.0}%.1f,${n == expected}")
      Console.flush()
      CacheScope.releaseAll()
      FileTree.delete(work)
    }

    for (p <- 1 to passes) {
      if (p % 2 == 1) { run("onefile", Long.MaxValue, p); run("binpack", 128L << 20, p) }
      else { run("binpack", 128L << 20, p); run("onefile", Long.MaxValue, p) }
    }
    spark.stop()
  }
}
