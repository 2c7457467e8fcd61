package lakebench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The metric catalogue. BENCHMARK.json lists the same names and units;
  * SelfTest holds the two in step. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_ms_p50" -> "ms",
    "live_heap_mb_max" -> "MB")

  val SqlClasses = Seq("count", "count_where", "minmax", "lsn_range", "group_by",
    "dpp_join", "spj_join")

  val PerLayer: Seq[(String, String)] = Seq(
    "changelog.gen_s" -> "s", "changelog.input_bytes_per_event" -> "B/event",
    "cdc.batch_ms_p50" -> "ms", "cdc.batch_ms_p90" -> "ms",
    "cdc.driver_self_ms_per_batch" -> "ms", "cdc.jobs_per_batch" -> "count",
    "cdc.task_cpu_s" -> "s", "cdc.shuffle_write_bytes_per_event" -> "B/event",
    "cdc.spill_bytes" -> "B", "cdc.task_skew" -> "ratio",
    "cdc.rows_written_per_event" -> "rows/event", "cdc.carried_rows_per_event" -> "rows/event",
    "cdc.stream_latest_offset_ms_p50" -> "ms", "cdc.stream_backlog_max_segments" -> "segments",
    "cdc.throughput_1cpu" -> "ev/s", "cdc.throughput_4cpu" -> "ev/s",
    "cdc.scaling_efficiency" -> "ratio",
    "lake.files_added_per_batch" -> "files", "lake.maintenance_commits" -> "count",
    "lake.bytes_written_per_event" -> "B/event", "lake.mor_chain_max" -> "files",
    "lake.mor_chain_avg" -> "files", "lake.manifest_load_ms" -> "ms",
    "lake.lookup_files_opened" -> "files", "lake.neg_lookup_files_opened" -> "files",
    "lake.range_files_scanned_share" -> "ratio", "lake.stored_bytes_per_row" -> "B/row") ++
    SqlClasses.map(c => s"sources.${c}_ms_p50" -> "ms") ++ Seq(
    "sources.planning_ms_p50" -> "ms", "sources.jobs_per_query" -> "count",
    "sources.metadata_answered" -> "count", "sources.spj_exchanges" -> "count",
    "sources.records_read_per_row_returned" -> "ratio",
    "sources.bytes_read_per_row_returned" -> "B/row", "sources.scan_task_cpu_s" -> "s",
    "search.job_busy_s" -> "s", "search.task_cpu_s" -> "s",
    "search.shuffle_write_bytes_per_event" -> "B/event",
    "search.index_bytes_per_event" -> "B/event", "search.jobs_per_query" -> "count") ++
    OperatorQueries.Headline.map(q => s"operators.${q}_ms_p50" -> "ms") ++ Seq(
    "operators.planning_ms_p50" -> "ms", "operators.task_cpu_s" -> "s",
    "operators.shuffle_write_bytes" -> "B", "operators.spill_bytes" -> "B",
    "jvm.gc_ms" -> "ms", "bench.generator_late_ms_max" -> "ms",
    "bench.tracing_overhead.throughput_per_s" -> "ratio",
    "bench.tracing_overhead.latency_ms_p50" -> "ratio",
    "bench.failed_ops_ratio" -> "ratio", "bench.trace_violations" -> "count",
    "host.nproc" -> "count", "host.steal_pct_max" -> "%", "host.pinned" -> "bool")

  val Workloads: Map[String, Run => Unit] = Map(
    "replay_bulk" -> ReplayBulk.run, "stream_trickle" -> StreamTrickle.run,
    "lake_read" -> LakeRead.run)
}

/** One benchmark run in one JVM:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --src <engine source root> [--trace-out <file>]`.
  * Prints a detail line (every workload-specific end-to-end figure and the
  * host facts) and, last, the result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Metrics.Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    graft.lake.LakeIO.delete(work.getPath)
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.lake.LakeIO.delete(work.getPath)))
    work.mkdirs()

    val cpus = Host.nproc
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lakebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", math.max(cpus * 2, 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val runId = s"$workload-${opts.getOrElse("seed", "0")}-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark.sparkContext, runId)
    val layers = Layers.scan(new File(opts("src")))
    val listener = if (traceOn) Some(new LayerListener(tracer, layers)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val r = new Run(spark, tracer, work, opts.getOrElse("seed", "0").toLong,
      opts.getOrElse("seconds", "10").toInt, listener)

    try {
      val heap0 = Host.liveHeapMb()
      r.note("session up")
      body(r)
      r.note("workload done")
      r.e2e("live_heap_mb_max") = (math.max(heap0, Host.liveHeapMb()), "MB")
      r.detail("live_heap_mb_max") = r.e2e("live_heap_mb_max")
      r.detail("setup_s") = r.e2e("setup_s")
      r.detail("failed_ops_ratio") =
        (r.failed.get.toDouble / math.max(r.attempted.get, 1L), "ratio")
      r.detail("host.nproc") = (cpus.toDouble, "count")
      Metrics.EndToEnd.foreach { case (m, _) =>
        r.check(s"end-to-end metric $m measured",
          r.e2e.get(m).exists(v => v._1 > 0 && !v._1.isInfinite), s"${r.e2e.get(m)}")
      }
      listener.foreach { l =>
        l.settle()
        val violations = traceViolations(tracer, l)
        r.check("trace spans nest", violations == 0, s"$violations violations")
        r.layer("bench.trace_violations") = (violations.toDouble, "count")
        opts.get("trace-out").foreach(f => writeTrace(new File(f), tracer.all ++ l.spans))
      }
      r.layer("bench.failed_ops_ratio") = r.detail("failed_ops_ratio")
      Seq("host.nproc", "host.steal_pct_max", "host.pinned").foreach(k =>
        r.detail.get(k).foreach(v => r.layer(k) = v))

      println(Json.obj(Seq("workload" -> Json.str(workload), "seed" -> r.seed.toString,
        "detail" -> metrics(r.detail.toSeq))))
      val reported =
        if (traceOn) Metrics.PerLayer.map { case (m, u) => m -> r.layer.getOrElse(m, (0.0, u)) }
        else Metrics.EndToEnd.map { case (m, u) => m -> r.e2e.getOrElse(m, (0.0, u)) }
      println(Json.obj(Seq("correct" -> r.correct.toString,
        "attempted" -> r.attempted.get.toString, "failed" -> r.failed.get.toString,
        "metrics" -> metrics(reported))))
    } finally {
      spark.stop()
      graft.lake.LakeIO.delete(work.getPath)
    }
  }

  private def metrics(ms: Seq[(String, (Double, String))]): String =
    Json.obj(ms.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  /** Jobs must lie inside their parent span and stages inside their job
    * (5 ms of clock slack: Spark stamps events in whole milliseconds). */
  def traceViolations(tracer: Tracer, l: LayerListener): Int = {
    val slack = 5.0
    val bench = tracer.all.filter(_.kind == "bench").map(s => s.id -> s).toMap
    val jobSpans = l.spans
    val byId = jobSpans.map(s => s.id -> s).toMap
    jobSpans.count { s =>
      val parent = if (s.kind == "job") bench.get(s.parent) else byId.get(s.parent)
      parent.exists(p => s.startMs < p.startMs - slack || s.endMs > p.endMs + slack)
    }
  }

  private def writeTrace(f: File, spans: Seq[Span]): Unit = {
    f.getAbsoluteFile.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "run" -> Json.str(s.runId), "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    } finally w.close()
  }
}

/** Just enough JSON writing for the result lines and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
