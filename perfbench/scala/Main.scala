package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark driver. One JVM per run: builds the session, runs one workload
  * and writes its raw measurements (op intervals, trace records) as JSON for
  * `perfbench/run.py`, which turns them into metrics.
  *
  * Args: workload seed seconds trace dataDir outDir t0Ms cores
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: String, t0: Long, cores: Int)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toLong, argv(7).toInt)
    val tSession = System.currentTimeMillis()
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - tSession) / 1000.0
    val raw = try {
      a.workload match {
        case "registry" => Registry.run(spark, a)
        case "ingest" => Ingest.run(spark, a)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally spark.stop()
    write(s"${a.out}/raw.json", raw + ("session_s" -> sessionS) + ("cores" -> a.cores))
  }

  /** The session graft's own Bench main builds (same confs), plus the
    * tracer's listener confs when tracing. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.out}/tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (a.trace)
      b.config("spark.extraListeners", classOf[Tracer].getName)
        .config("spark.sql.queryExecutionListeners", classOf[QeTracer].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(spark)
    spark
  }

  /** Row count and order-independent content hash of a result: the sum of
    * per-row xxhash64 values as an exact decimal. Floating columns hash
    * their 9-significant-digit rendering, so a re-association of a double
    * sum does not read as a different answer; maps hash their JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def now(): Long = System.currentTimeMillis()

  /** Heap in use after a full collection, in MB. Collected twice: the
    * first collection only queues Spark's cleanup of unreferenced
    * broadcast and shuffle blocks, which the second then frees. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def errMsg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(path: String, v: Map[String, Any]): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsString(toJava(v)).getBytes(StandardCharsets.UTF_8))
}
