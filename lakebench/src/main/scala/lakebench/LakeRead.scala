package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.cdc.CdcDriver
import graft.changelog.ChangelogGen
import graft.lake.{Compaction, LakeTable}
import graft.search.SearchIndex

/** Read-only, closed loop, one client. Set-up builds a copy-on-write lake,
  * runs tombstone-GC compaction and writes a selective parquet dimension.
  * Each pass runs a fixed SQL mix through the graft catalog, a full-column
  * scan and positive/negative point lookups. Traced runs also measure the
  * operator queries (see [[OperatorQueries]]). */
object LakeRead extends AdaptiveSparkPlanHelper {
  val Events = 24000L
  val Segments = 2
  val Buckets = 16
  val LookupsPerPass = 12
  val MinPasses = 2
  /** A scan takes about 0.1 s here; three per pass steady its median. */
  val ScansPerPass = 3
  val SearchQueries = Seq(Seq("spark", "merge"), Seq("stream", "batch", "join"))

  def run(r: Run): Unit = {
    val spark = r.spark
    val cfg = ChangelogGen.Config(nEvents = Events, nConvs = Events / 200, skew = 1.2,
      segSize = Events / Segments, nSrcPartitions = 2, filesPerSeg = 1, seed = r.seed)

    // Set-up, repeated: changelog -> CoW lake -> tombstone GC -> dim.
    def setup(k: Int): (LakeTable, String, Double) = {
      val (res, ms) = r.tracer.timed("bench.setup", "bench") {
        val cl = r.dir(s"changelog-$k")
        r.tracer.span("changelog.gen", "changelog")(ChangelogGen.write(spark, cl, cfg))
        val lake = new LakeTable(spark, r.dir(s"lake-$k"))
        r.tracer.span("cdc.replay", "cdc")(new CdcDriver(spark, cl, lake,
          segmentsPerBatch = 2, nBuckets = Buckets, quiet = true, keepSnapshots = 2).run())
        r.tracer.span("lake.compact", "lake") {
          Compaction.compact(lake, tombstoneWatermark = Long.MaxValue)
          lake.expireSnapshots(1)
        }
        val dimDir = r.dir(s"dim-$k")
        val ids = lake.read().select("conv_id").distinct()
        val picked = ids.orderBy(xxhash64(col("conv_id"), lit(r.seed))).limit(8)
          .collect().map(_.getString(0)).toSeq
        ids.withColumn("pick", when(col("conv_id").isin(picked: _*), 1).otherwise(0))
          .write.mode("overwrite").parquet(dimDir)
        (lake, dimDir)
      }
      (res._1, res._2, ms / 1000)
    }
    val setups = (1 to 3).map(setup)
    for (k <- 1 to 2; n <- Seq("lake", "dim", "changelog")) r.rm(r.dir(s"$n-$k"))
    val (lake, dimDir, _) = setups.last
    r.e2e("setup_s") = (Stats.median(setups.map(_._3)), "s")
    r.note("set up")
    r.layer("changelog.gen_s") = (Stats.median(r.tracer.all
      .filter(_.name == "changelog.gen").map(_.durMs / 1000)), "s")

    val t = s"graft.`${lake.root}`"
    spark.read.parquet(dimDir).createOrReplaceTempView("bench_dim")
    val live = lake.read().cache()
    val rows = live.count()
    val (lsnLo, lsnHi) = {
      val x = live.agg(min("_lsn"), max("_lsn")).head()
      (x.getLong(0), x.getLong(1))
    }
    val lsnCut = lsnHi - (lsnHi - lsnLo) / 20 // the newest ~5% of the log
    // The SQL mix and, for each class, the same answer from lake.read().
    val mix: Seq[(String, String, () => Seq[Row])] = Seq(
      ("count", s"SELECT count(*) FROM $t", () => Seq(Row(rows))),
      ("count_where", s"SELECT count(*) FROM $t WHERE turn_idx >= 10",
        () => Seq(Row(live.filter(col("turn_idx") >= 10).count()))),
      ("minmax", s"SELECT min(_lsn), max(_lsn) FROM $t", () => Seq(Row(lsnLo, lsnHi))),
      ("lsn_range", s"SELECT count(*), sum(turn_idx) FROM $t WHERE _lsn >= $lsnCut",
        () => live.filter(col("_lsn") >= lsnCut)
          .agg(count(lit(1)), sum(col("turn_idx").cast("long"))).collect().toSeq),
      ("group_by", s"SELECT conv_id, count(*) FROM $t GROUP BY conv_id",
        () => live.groupBy("conv_id").count().collect().toSeq),
      ("dpp_join", s"""SELECT f.conv_id, f.turn_idx, f.text FROM $t f
                      |JOIN bench_dim d ON f.conv_id = d.conv_id WHERE d.pick = 1""".stripMargin,
        () => live.join(spark.table("bench_dim").filter(col("pick") === 1), "conv_id")
          .select("conv_id", "turn_idx", "text").collect().toSeq),
      ("spj_join", s"""SELECT count(*), sum(length(a.text) + length(b.text)) FROM $t a
                      |JOIN $t b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx""".stripMargin,
        () => live.as("a").join(live.as("b"), Seq("conv_id", "turn_idx"))
          .agg(count(lit(1)), sum(length(col("a.text")) + length(col("b.text")))).collect().toSeq))
    def bag(rs: Seq[Row]): Map[Seq[Any], Int] =
      rs.map(_.toSeq.map {
        case d: java.math.BigDecimal => BigDecimal(d)
        case v => v
      }).groupBy(identity).map { case (k, v) => k -> v.size }
    val expected = mix.map { case (name, _, ref) => name -> bag(ref()) }.toMap
    val scanRows = rows
    val scanSql = s"SELECT conv_id, turn_idx, role, text, tool, ts FROM $t"

    // Lookup keys: conversations spread evenly over the popularity ranks
    // (the generator's skew makes rank, not seed, set a key's size, so every
    // seed looks up the same mix of hot and cold keys); absent ones lie
    // inside the key range but were never written.
    val ranks = (0 until LookupsPerPass).map(i => i * cfg.nConvs / LookupsPerPass)
    val expectRows = live.filter(col("conv_id").isin(ranks.map(i => f"conv-$i%08d"): _*))
      .groupBy("conv_id").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val present = ranks.map(i => f"conv-$i%08d").filter(expectRows.contains)
    val absent = present.take(LookupsPerPass / 3).map(_ + "-x")
    // The search index over the lake, built once, and what a brute-force
    // scan answers for each query.
    val index = new LakeTable(spark, r.dir("index"))
    r.tracer.span("search.refresh", "search")(SearchIndex.refresh(spark, lake, index))
    val searchRef = SearchQueries.map(q => q -> Oracle.bruteSearch(live, q)).toMap
    live.unpersist()

    r.note("references computed")
    val gc0 = Host.gcMs()
    val steal0 = Host.cpuTimes()
    val qMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val qTraced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val scanMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val lookMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val searchMs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var posFiles = 0L
    var negFiles = 0L
    var spjExchanges = -1
    var pass = 0
    def onePass(tracedPass: Boolean): Unit = r.listening(tracedPass) {
      System.gc() // every pass starts from the same heap state
      mix.foreach { case (name, sql, _) =>
        r.op(s"sql.$name") {
          r.tracer.timed(s"sources.$name" + (if (tracedPass) "" else ".untraced"), "sources") {
            val df = spark.sql(sql)
            val out = df.collect().toSeq
            if (name == "spj_join") spjExchanges = exchanges(df)
            out
          }
        }.foreach { case (out, ms) =>
          (if (tracedPass) qTraced else qMs).getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
          r.check(s"lake_read $name == lake.read()", bag(out) == expected(name),
            s"${out.take(3)} vs ${expected(name).take(3)}")
        }
      }
      (1 to ScansPerPass).foreach { _ =>
        r.op("scan") {
          r.tracer.timed("sources.scan" + (if (tracedPass) "" else ".untraced"), "sources")(
            spark.sql(scanSql).write.format("noop").mode("overwrite").save())
        }.foreach { case (_, ms) => scanMs += ((ms, tracedPass)) }
      }
      SearchQueries.foreach { q =>
        r.op("search") {
          r.tracer.timed("search.query" + (if (tracedPass) "" else ".untraced"), "search")(
            SearchIndex.search(spark, index, q).collect()
              .map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq)
        }.foreach { case (out, ms) =>
          searchMs += ((ms, tracedPass))
          r.check(s"lake_read search ${q.mkString("+")} == scan", out == searchRef(q),
            s"$out != ${searchRef(q)}")
        }
      }
      present.foreach { k =>
        r.op("lookup")(r.tracer.timed("lake.lookup", "lake")(lake.lookup(k).count()))
          .foreach { case (n, ms) =>
            lookMs += ((ms, tracedPass))
            r.check(s"lake_read lookup $k rows", n == expectRows(k), s"$n != ${expectRows(k)}")
          }
        posFiles += lake.lookupFilesKeyed(Seq(k)).size
      }
      absent.foreach { k =>
        r.op("lookup.absent")(r.tracer.timed("lake.lookup", "lake")(lake.lookup(k).count()))
          .foreach { case (n, ms) =>
            lookMs += ((ms, tracedPass))
            r.check(s"lake_read absent lookup $k", n == 0L, s"$n rows")
          }
        negFiles += lake.lookupFilesKeyed(Seq(k)).size
      }
    }
    onePass(tracedPass = false) // warm
    qMs.clear(); qTraced.clear(); scanMs.clear(); lookMs.clear(); searchMs.clear(); posFiles = 0
    r.startWindow()
    while (pass < MinPasses || r.inWindow) {
      pass += 1
      onePass(tracedPass = r.traced && pass % 2 == 0)
    }
    r.check("lake_read absent lookups open no files", negFiles == 0, s"$negFiles files")
    val gcMs = Host.gcMs() - gc0
    val steal = Host.stealPct(steal0, Host.cpuTimes())

    def total(m: mutable.Map[String, mutable.ArrayBuffer[Double]]): Double =
      m.values.map(v => Stats.median(v.toSeq)).sum / 1000
    val scanU = scanMs.filterNot(_._2).map(_._1).toSeq
    val lookU = lookMs.filterNot(_._2).map(_._1).toSeq
    val scanRate = scanRows / (Stats.median(scanU) / 1000)
    r.e2e("throughput_per_s") = (scanRate, "1/s")
    r.e2e("latency_ms_p50") = (Stats.percentile(lookU, 0.5), "ms")
    r.detail("lookup_ms_p50") = (Stats.percentile(lookU, 0.5), "ms")
    r.detail("lookup_ms_p90") = (Stats.percentile(lookU, 0.9), "ms")
    r.detail("scan_rows_per_s") = (scanRate, "rows/s")
    r.detail("query_total_s") = (total(qMs), "s")
    r.detail("search_ms_p50") = (Stats.percentile(searchMs.filterNot(_._2).map(_._1).toSeq, 0.5), "ms")
    r.layer("search.index_bytes_per_event") = (r.dirBytes(index.root + "/data").toDouble / Events, "B/event")
    r.detail("host.steal_pct_max") = (if (steal.isEmpty) 0.0 else steal.values.max, "%")
    r.layer("jvm.gc_ms") = (gcMs, "ms")
    r.layer("lake.lookup_files_opened") = (posFiles.toDouble / (pass * present.size), "files")
    r.layer("lake.neg_lookup_files_opened") = (negFiles.toDouble, "files")
    r.layer("lake.manifest_load_ms") = (Stats.median((1 to 5).map(_ =>
      r.tracer.timed("lake.manifests", "lake")(lake.currentSnapshot.get.files)._2)), "ms")
    val snap = lake.currentSnapshot.get
    val (rangeFiles, allFiles) = lake.scanRangeFiles("_lsn", lsnCut, Long.MaxValue)
    r.layer("lake.range_files_scanned_share") =
      (rangeFiles.size.toDouble / math.max(allFiles, 1), "ratio")
    r.layer("lake.stored_bytes_per_row") = (snap.manifests.map(_.bytes).sum.toDouble / rows, "B/row")
    r.layer("sources.spj_exchanges") = (spjExchanges.toDouble, "count")

    if (r.traced) {
      val l = r.listener.get
      l.settle()
      mix.foreach { case (name, _, _) =>
        r.layer(s"sources.${name}_ms_p50") =
          (Stats.median(qTraced.getOrElse(name, mutable.ArrayBuffer(0.0)).toSeq), "ms")
      }
      val qNames = mix.map(m => s"sources.${m._1}")
      val self = qNames.flatMap(r.selfMs)
      r.layer("sources.planning_ms_p50") = (Stats.percentile(self, 0.5), "ms")
      val qSpans = r.tracer.all.filter(s => s.kind == "bench" && qNames.contains(s.name))
      val qJobs = r.jobsUnder(qSpans.map(_.id).toSet)
      r.layer("sources.jobs_per_query") = (qJobs.size.toDouble / qSpans.size, "count")
      val perSpan = qJobs.groupBy(_.parentSpan)
      r.layer("sources.metadata_answered") =
        (qSpans.count(s => !perSpan.contains(s.id)).toDouble / (qSpans.size / mix.size), "count")
      val qT = l.totals(j => qSpans.exists(_.id == j.parentSpan))
      val rowsOut = qTraced.size match {
        case 0 => 1.0
        case _ => expected.values.map(_.values.sum).sum.toDouble * (qSpans.size / mix.size)
      }
      r.layer("sources.records_read_per_row_returned") = (qT.recordsRead / rowsOut, "ratio")
      r.layer("sources.bytes_read_per_row_returned") = (qT.bytesRead / rowsOut, "B/row")
      val scanSpans = r.tracer.all.filter(s => s.kind == "bench" && s.name == "sources.scan").map(_.id).toSet
      val sc = l.totals(j => scanSpans.contains(j.parentSpan))
      r.layer("sources.scan_task_cpu_s") = (sc.cpuNs / 1e9 / math.max(scanSpans.size, 1), "s")
      val scanT = scanMs.filter(_._2).map(_._1).toSeq
      val lookT = lookMs.filter(_._2).map(_._1).toSeq
      if (scanT.nonEmpty)
        r.layer("bench.tracing_overhead.throughput_per_s") =
          (Stats.median(scanT) / Stats.median(scanU) - 1, "ratio")
      if (lookT.nonEmpty)
        r.layer("bench.tracing_overhead.latency_ms_p50") =
          (Stats.percentile(lookT, 0.5) / Stats.percentile(lookU, 0.5) - 1, "ratio")
      val searchJobs = l.jobs.values.filter(_.layer == "search").toSeq
      r.layer("search.job_busy_s") = (Stats.coverage(Long.MinValue, Long.MaxValue,
        searchJobs.map(j => (j.startMs, math.max(j.endMs, j.startMs)))) / 1000.0, "s")
      val sT = r.layerTotals("search")
      r.layer("search.task_cpu_s") = (sT.cpuNs / 1e9, "s")
      r.layer("search.shuffle_write_bytes_per_event") = (sT.shuffleWriteBytes.toDouble / Events, "B/event")
      r.layer("search.jobs_per_query") = (r.jobsPerSpan("search.query"), "count")
      OperatorQueries.measure(r)
    }
  }

  /** Shuffle exchanges in the executed plan (AQE stages included). */
  def exchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
}
