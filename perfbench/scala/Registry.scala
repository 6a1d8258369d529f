package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry workloads: one client thread runs a panel of
  * `SparkEntry.queries`, in the seed's order, in a closed loop over one input
  * directory. Each timed op is `run(spark, dir)` (the build) followed by one
  * action that returns the result's row count and content digest. The
  * untimed cold warm-up pass writes each answer instead; that answer is the
  * reference every timed op must match and the one the DuckDB oracle
  * checks. */
object Registry {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Family of a query: the graft package of the object that registers it,
    * read from the class of its run function. */
  def family(fn: AnyRef): String = {
    val parts = fn.getClass.getName.split('.')
    if (parts.length >= 3 && parts(0) == "graft") parts(1) else "other"
  }

  /** The query panel every registry run times: the main engine families
    * (relational operators, LLM-data operators, analytics views, ETL,
    * streaming gates, source layouts), picked to spread over the
    * registry's cost range and to include the fixed-cost shapes the
    * roadmap targets (collect-then-broadcast planning, per-round job
    * loops, a streaming gate) beside scan-bound ones. */
  val Panel = Seq("q01_pricing_summary", "q106_asof_rslice_auto", "l03", "l28", "l36",
    "q97", "v01", "q103", "q49")

  /** The panel (or a fixed list of names or name prefixes) in the seed's
    * order. */
  def order(names: Iterable[String], wanted: Seq[String], seed: Long): Seq[String] = {
    val resolved = wanted.map { p =>
      names.filter(n => n == p || n.startsWith(p + "_")).toSeq.sorted.headOption
        .getOrElse(throw new IllegalArgumentException(s"no registered query $p"))
    }
    new scala.util.Random(seed).shuffle(resolved)
  }

  def run(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val dir = a.data
    val registry = graft.SparkEntry.queries
    val families = registry.toSeq.map { case (n, f) => n -> family(f) }.toMap
    val order = Registry.order(registry.keys,
      sys.props.get("perfbench.queries").map(_.split(',').toSeq).getOrElse(Panel), a.seed)

    // the sources layer's fixed cost: file listing and footer reads
    val tLoad = Main.now()
    TableNames.foreach(t => graft.Tables.table(spark, dir, t))
    val firstLoadS = (Main.now() - tLoad) / 1000.0

    // one op: the build, then its action: writing the answer (the cold
    // warm-up pass) or the answer's row count and digest (timed passes)
    var opSeq = 0
    def op(pass: Int, name: String, traced: Boolean, answer: Option[String]): Map[String, Any] = {
      opSeq += 1
      val tag = s"$opSeq:$name"
      spark.sparkContext.setLocalProperty(Trace.OpKey, tag)
      Trace.enabled = traced
      val gc0 = Main.gcMs()
      val cg0 = Main.codegenCompiles()
      val t0 = Main.now()
      var tBuild = -1L
      val res: Either[String, Option[(Long, String)]] =
        try {
          val df: DataFrame = registry(name)(spark, dir)
          tBuild = Main.now()
          answer match {
            case Some(path) => df.write.parquet(path); Right(None)
            case None => Right(Some(Main.digest(df)))
          }
        } catch { case e: Throwable => Left(Main.errMsg(e)) }
        finally graft.CacheScope.releaseAll()
      val t1 = Main.now()
      Trace.enabled = false
      spark.sparkContext.setLocalProperty(Trace.OpKey, null)
      Map("tag" -> tag, "pass" -> pass, "name" -> name, "family" -> families(name),
        "start" -> t0, "build_end" -> (if (tBuild < 0) t1 else tBuild), "end" -> t1,
        "traced" -> traced, "gc_ms" -> (Main.gcMs() - gc0),
        "compiles" -> (Main.codegenCompiles() - cg0),
        "ok" -> res.isRight, "error" -> res.left.toOption,
        "count" -> res.toOption.flatten.map(_._1), "digest" -> res.toOption.flatten.map(_._2))
    }

    def answerDir(name: String) = s"${a.out}/answers/$name"
    val tWarm = Main.now()
    val warmup = order.map(n => op(-1, n, traced = false, Some(answerDir(n))))
    val warmupS = (Main.now() - tWarm) / 1000.0
    val heapWarm = Main.liveHeapMb()
    val setupEnd = Main.now()

    // closed loop: whole passes over the panel in the seed's order until
    // the run's seconds are spent, at least two; when tracing, at least
    // four, odd passes traced and even passes the untraced control
    // (pass 0 only warms, so the control brackets the traced passes)
    val ops = Seq.newBuilder[Map[String, Any]]
    val tEnd = setupEnd + (a.seconds * 1000).toLong
    val minPasses = if (a.trace) 4 else 2
    var pass = 0
    while (pass < minPasses || Main.now() < tEnd) {
      val traced = a.trace && pass % 2 == 1
      order.foreach(n => ops += op(pass, n, traced, None))
      pass += 1
    }
    val windowEnd = Main.now()
    val heapEnd = Main.liveHeapMb()
    val storageBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

    // the reference each timed op must match: the warm-up's written answer
    val reference = warmup.filter(_("ok") == true).map { w =>
      val n = w("name").toString
      val (rows, hash) = Main.digest(spark.read.parquet(answerDir(n)))
      n -> Map("count" -> rows, "digest" -> hash)
    }.toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => order.contains(n) }

    Map("workload" -> "registry", "data" -> dir, "sample" -> order,
      "first_load_s" -> firstLoadS, "warmup_s" -> warmupS, "setup_end" -> setupEnd,
      "window_end" -> windowEnd, "passes" -> pass,
      "heap_mb" -> Seq(heapWarm, heapEnd), "storage_bytes" -> storageBytes,
      "warmup" -> warmup, "ops" -> ops.result(), "reference" -> reference,
      "oracle_sql" -> oracle,
      "jobs" -> Trace.jobRecords, "stages" -> Trace.stageRecords,
      "tasks" -> Trace.taskRecords, "qes" -> Trace.qeRecords,
      "progress" -> Trace.progressRecords, "trace_callback_ms" -> Trace.callbackNs.get / 1e6)
  }
}
