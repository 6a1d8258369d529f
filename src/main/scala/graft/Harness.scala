package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession: Bench, Verify, the test
  * suite and the dev mains all run under these confs, so what the test
  * suite checks is what the oracle gate and the bench measure. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, default 4: the local slot count every main uses. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  // One warehouse per JVM, removed at exit: the suite and the mains never
  // save a catalog table they need to outlive the process.
  private lazy val warehouse: String =
    FileTree.deleteAtExit(java.nio.file.Files.createTempDirectory("graft_wh")).toString

  /** A `local[cpus]` session with `cpus` shuffle partitions, then
    * [[Tables.configure]] (UTC, the fixture timestamp settings, the
    * engine's extensions). Returns the active session if one exists. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // The SQL status store keeps each retained execution's plan
      // metrics on the heap whether or not a UI reads them; the default
      // retains 1,000 executions. Nothing here reads them back.
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", warehouse)
      // The generated-class cache is a STATIC conf defaulting to 100
      // entries; a 188-query registry emits thousands of codegen units
      // per pass, so at the default every query re-runs janino on every
      // pass — pure driver-side compile cost with no scale dependence
      // (the cache holds class references, not data). Sized to hold the
      // whole registry's units once.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Local-path checkpointing: the default FileContext-based manager
      // routes every offset/commit/state-delta rename through Hadoop's
      // getFileLinkStatus, which (absent libhadoop) FORKS a readlink/stat
      // process per checkpoint file — profiled at ~450 ms of addBatch
      // time per micro-batch even for 0-row batches. The FileSystem-based
      // manager is Spark's documented alternative with the same
      // rename-based atomicity for a single writer; on HDFS/object-store
      // checkpoints keep the default (its rename-fails-if-exists guards
      // concurrent drivers). Streaming-gate subset: 24.2 s -> 14.9 s.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // same fork class on the write path: absent libhadoop, every local
      // file create / mkdir forks a chmod — see NioLocalFileSystem
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
  }
}
