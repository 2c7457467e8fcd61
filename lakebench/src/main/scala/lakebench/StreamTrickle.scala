package lakebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.CdcStream
import graft.changelog.ChangelogGen
import graft.lake.{LakeTable, Snapshot}
import graft.search.SearchIndex

/** An open loop of small segments into the Structured Streaming tailer.
  * A publisher thread renames pre-generated segment directories into the
  * tailed directory on a fixed schedule; the tailer (ProcessingTime trigger)
  * writes a merge-on-read lake with automatic folds, snapshot retention and
  * a batched search-index refresh. One closed-loop reader issues point
  * lookups (hot, cold and absent keys) and index searches against the live
  * tables, so reads and writes contend as they would in service. */
object StreamTrickle {
  val SegEvents = 50L
  /** Warm-up: segments published one at a time (each applied before the
    * next) until the search index exists, at most this many. */
  val WarmSegments = 8
  /** One segment every 250 ms = 200 events/s, about half the rate this
    * tailer configuration sustains on 4 CPUs beside the reader. */
  val PublishEveryMs = 250L
  val Buckets = 8
  val Convs = 400L
  val TriggerMs = 100L
  val Queries = Seq(Seq("spark", "merge"), Seq("window"), Seq("stream", "batch", "join"))

  def run(r: Run): Unit = {
    val spark = r.spark
    val measured = (r.seconds * 1000 / PublishEveryMs).toInt
    val nSegs = WarmSegments + measured
    val cfg = ChangelogGen.Config(nEvents = nSegs * SegEvents, nConvs = Convs,
      skew = 1.2, segSize = SegEvents, nSrcPartitions = 1, filesPerSeg = 1, seed = r.seed)

    // Set-up, repeated: generate the segments three times, keep the last.
    val genS = (1 to 3).map { k =>
      val s = r.tracer.timed("changelog.gen", "changelog")(
        ChangelogGen.write(spark, r.dir(s"staging-$k"), cfg))._2 / 1000
      r.note(f"generated in $s%.2fs"); s
    }
    Seq(1, 2).foreach(k => r.rm(r.dir(s"staging-$k")))
    val staging = r.dir("staging-3")
    r.e2e("setup_s") = (Stats.median(genS), "s")
    r.note("set up")
    r.layer("changelog.gen_s") = (Stats.median(genS), "s")
    r.layer("changelog.input_bytes_per_event") =
      (r.dirBytes(staging).toDouble / cfg.nEvents, "B/event")

    // What "covered" means for each segment: the highest source offset it
    // carries per source partition.
    val stagedRaw = spark.read.option("mergeSchema", "true").parquet(staging)
    val schema = stagedRaw.drop("seg", "p").schema
    val segMax: Map[Long, Map[Int, Long]] = stagedRaw
      .groupBy(col("seg").cast("long"), col("_src_part")).agg(max("_src_off")).collect()
      .groupBy(_.getLong(0)).map { case (seg, rows) =>
        seg -> rows.map(x => x.getInt(1) -> x.getLong(2)).toMap }

    val tailed = r.dir("tailed")
    Files.createDirectories(Paths.get(tailed))
    val lake = new LakeTable(spark, r.dir("lake"))
    val index = new LakeTable(spark, r.dir("index"))
    def publish(seg: Long): Unit =
      Files.move(Paths.get(staging, s"seg=$seg"), Paths.get(tailed, s"seg=$seg"),
        StandardCopyOption.ATOMIC_MOVE)

    val triggers = new TriggerListener(r.tracer)
    spark.streams.addListener(triggers)
    val query = CdcStream.start(spark, tailed, lake, r.dir("checkpoint"), schema,
      nBuckets = Buckets, maxFilesPerTrigger = 1 << 20,
      trigger = Trigger.ProcessingTime(TriggerMs), searchIndex = Some(index),
      indexCompactChain = 8, indexEvery = 4, keepSnapshots = 8, mor = true,
      morCompactChain = 16)

    // Monitor: when each published segment became visible in a committed
    // snapshot's lineage; also every snapshot it saw (for fold counts).
    val published = new ConcurrentHashMap[Long, Double]() // seg -> scheduled ms
    val covered = new ConcurrentHashMap[Long, Double]()   // seg -> visible ms
    val seen = mutable.LinkedHashMap.empty[Long, Snapshot]
    @volatile var stop = false
    var backlogMax = 0
    val monitor = new Thread(() => {
      val mon = new LakeTable(spark, lake.root)
      while (!stop) {
        try mon.currentSnapshot.foreach { s =>
          val now = r.tracer.nowMs
          if (!seen.contains(s.snapshotId)) seen(s.snapshotId) = s
          val hw = s.lineage.map(l => l.srcPart -> l.maxOff).toMap
          published.keySet.asScala.filterNot(covered.containsKey).foreach { seg =>
            if (segMax(seg).forall { case (p, off) => hw.get(p).exists(_ >= off) })
              covered.put(seg, now)
          }
          backlogMax = math.max(backlogMax, published.size - covered.size)
        } catch { case _: Exception => () } // a snapshot mid-publish: next poll
        Thread.sleep(5)
      }
    }, "lakebench-monitor")
    monitor.setDaemon(true)
    monitor.start()

    def awaitCovered(n: Int, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (covered.size < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
      covered.size >= n
    }

    val lookups = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()
    val searches = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    var posFiles = 0L
    var posLookups = 0L
    var negFiles = 0L
    var t0 = 0.0
    var halfMs = 0.0
    var first = 0L // next segment to publish
    try {
      // Warm-up: the first segments create the table and warm the session.
      def publishNow(): Unit = {
        publish(first); published.put(first, r.tracer.nowMs); first += 1
      }
      while (SearchIndex.indexedSourceSnapshot(index) < 0 && first < WarmSegments) {
        publishNow()
        r.check("stream_trickle warm-up segment applied", awaitCovered(first.toInt, 120000))
      }
      r.check("stream_trickle index built", SearchIndex.indexedSourceSnapshot(index) >= 0)

      val steal0 = Host.cpuTimes()
      val gc0 = Host.gcMs()
      r.listener.foreach(_.enabled = false) // traced runs trace the second half
      t0 = r.tracer.nowMs
      halfMs = t0 + (measured / 2) * PublishEveryMs
      @volatile var publishing = true
      val publisher = new Thread(() => {
        (0 until measured).foreach { k =>
          val seg = first + k
          val at = t0 + k * PublishEveryMs
          val wait = at - r.tracer.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          if (r.traced && at >= halfMs) r.listener.foreach(_.enabled = true)
          publish(seg)
          late.add(r.tracer.nowMs - at)
          published.put(seg, at)
        }
        publishing = false
      }, "lakebench-publisher")
      val reader = new Thread(() => {
        val rl = new LakeTable(spark, lake.root)
        val ri = new LakeTable(spark, index.root)
        var i = 0
        while (publishing) {
          val tracedNow = r.tracer.nowMs >= halfMs
          i += 1
          i % 8 match {
            case 0 =>
              val q = Queries(i / 8 % Queries.size)
              r.op("search") {
                r.tracer.timed("search.query", "search")(SearchIndex.search(spark, ri, q).collect())
              }.foreach { case (_, ms) => searches.add((ms, tracedNow)) }
            case k =>
              // hot: the skewed head; cold: the tail; absent: inside the key
              // range but never written
              val key = k % 3 match {
                case 1 => f"conv-${i % 5}%08d"
                case 2 => f"conv-${Convs - 1 - i % 50}%08d"
                case _ => f"conv-${i % Convs}%08d-x"
              }
              r.op("lookup") {
                r.tracer.timed("lake.lookup", "lake")(rl.lookup(key).count())
              }.foreach { case (_, ms) => lookups.add((ms, tracedNow)) }
              val opened = rl.lookupFilesKeyed(Seq(key)).size
              if (k % 3 == 0) negFiles += opened else { posFiles += opened; posLookups += 1 }
          }
        }
      }, "lakebench-reader")
      r.startWindow()
      publisher.start(); reader.start()
      publisher.join(); reader.join()
      val windowS = (r.tracer.nowMs - t0) / 1000
      r.check("stream_trickle drained", awaitCovered(first.toInt + measured, 120000),
        s"${covered.size}/${first + measured} segments visible")
      r.note("drained")
      val gcMs = Host.gcMs() - gc0
      val steal = Host.stealPct(steal0, Host.cpuTimes())
      r.layer("jvm.gc_ms") = (gcMs, "ms")
      r.detail("host.steal_pct_max") = (if (steal.isEmpty) 0.0 else steal.values.max, "%")
      r.detail("windowS") = (windowS, "s")
    } finally {
      stop = true
      query.stop()
      monitor.join()
      r.note("stopped")
      spark.streams.removeListener(triggers)
    }

    val measuredSegs = (first until first + measured).toSeq
    val publishedEvents = (first + measured) * SegEvents.toDouble
    val fresh = measuredSegs.flatMap(s => Option(covered.get(s)).map(_ - published.get(s)))
    val (firstHalf, secondHalf) = measuredSegs.splitAt(measured / 2)
    val lookMs = lookups.asScala.map(_._1).toSeq
    val searchMs = searches.asScala.map(_._1).toSeq
    val windowS = r.detail.remove("windowS").map(_._1).getOrElse(r.seconds.toDouble)
    val ops = lookMs.size + searchMs.size
    // The tailer's processing rate: rows applied per second of trigger time,
    // over the triggers that started in the measured window.
    val busy = triggers.triggers.asScala.toSeq
      .filter(t => t.startMs >= t0 && t.attrs.getOrElse("input_rows", 0.0) > 0)
    val applyRate = busy.map(_.attrs("input_rows")).sum / (busy.map(_.durMs).sum / 1000)

    // Correctness: the drained lake equals the oracle of everything
    // published; the caught-up index answers like a brute-force scan.
    val events = spark.read.option("mergeSchema", "true").parquet(tailed)
    val want = Oracle.checksum(Oracle.expected(events))
    val got = Oracle.checksum(lake.read())
    r.check("stream_trickle lake == oracle", got == want, s"$got != $want")
    // The index may trail the lake by up to indexEvery batches: check it
    // against the snapshot it has indexed (retention keeps 2 x indexEvery).
    val live = lake.readAt(SearchIndex.indexedSourceSnapshot(index)).cache()
    Queries.foreach { q =>
      val engine = SearchIndex.search(spark, index, q).collect()
        .map(x => (x.getString(0), x.getInt(1), x.getLong(2))).toSeq
      val brute = Oracle.bruteSearch(live, q)
      r.check(s"stream_trickle search ${q.mkString("+")} == scan", engine == brute,
        s"$engine != $brute")
    }
    live.unpersist()
    r.check("stream_trickle absent lookups open no files", negFiles == 0, s"$negFiles files")
    r.note("checked")
    val last = lake.currentSnapshot.get
    val storedBytes = last.manifests.map(_.bytes).sum.toDouble / math.max(want._1, 1L)
    val chains = last.manifests.groupBy(_.bucket).values.map(_.map(_.nFiles).sum)

    r.e2e("throughput_per_s") = (applyRate, "1/s")
    r.detail("tailer_events_per_busy_s") = (applyRate, "ev/s")
    r.detail("reader_ops_per_s") = (ops / windowS, "1/s")
    r.e2e("latency_ms_p50") = (Stats.percentile(fresh, 0.5), "ms")
    r.detail("freshness_ms_p50") = (Stats.percentile(fresh, 0.5), "ms")
    r.detail("freshness_ms_p90") = (Stats.percentile(fresh, 0.9), "ms")
    r.detail("lookup_ms_p50") = (Stats.percentile(lookMs, 0.5), "ms")
    r.detail("lookup_ms_p90") = (Stats.percentile(lookMs, 0.9), "ms")
    r.detail("search_ms_p50") = (Stats.percentile(searchMs, 0.5), "ms")
    r.detail("stored_bytes_per_row") = (storedBytes, "B/row")
    r.detail("ingest_events_per_s") = (measured * SegEvents / windowS, "ev/s")
    r.detail("bench.generator_late_ms_max") = (late.asScala.max, "ms")
    r.layer("bench.generator_late_ms_max") = (late.asScala.max, "ms")
    r.layer("cdc.stream_backlog_max_segments") = (backlogMax.toDouble, "segments")
    r.layer("lake.mor_chain_max") = (chains.max.toDouble, "files")
    r.layer("lake.mor_chain_avg") = (chains.sum.toDouble / chains.size, "files")
    r.layer("lake.neg_lookup_files_opened") = (negFiles.toDouble, "files")
    r.layer("lake.lookup_files_opened") = (posFiles.toDouble / math.max(posLookups, 1L), "files")
    r.layer("lake.stored_bytes_per_row") = (storedBytes, "B/row")
    val snaps = seen.values.toSeq.sortBy(_.snapshotId)
    val folds = snaps.zip(snaps.drop(1)).count { case (a, b) => b.epoch == a.epoch }
    r.layer("lake.maintenance_commits") = (folds.toDouble, "count")
    val growth = snaps.zip(snaps.drop(1)).filter { case (a, b) => b.epoch > a.epoch }
      .map { case (a, b) => (b.totalFiles - a.totalFiles).toDouble }.filter(_ >= 0)
    if (growth.nonEmpty) r.layer("lake.files_added_per_batch") = (Stats.median(growth), "files")
    r.layer("lake.manifest_load_ms") =
      (Stats.median((1 to 5).map(_ => r.tracer.timed("lake.manifests", "lake")(
        lake.currentSnapshot.get.files)._2)), "ms")

    if (r.traced) {
      val l = r.listener.get
      l.settle()
      val trig = triggers.triggers.asScala.toSeq.filter(t =>
        t.startMs >= halfMs && t.attrs.getOrElse("input_rows", 0.0) > 0)
      trig.foreach(r.tracer.add)
      val orphanJobs = l.jobs.values.filter(_.parentSpan == 0L).toSeq
      def jobsIn(t: Span) = orphanJobs.filter(j => j.startMs >= t.startMs && j.startMs <= t.endMs)
      if (trig.nonEmpty) {
        val tms = trig.map(_.durMs)
        r.layer("cdc.batch_ms_p50") = (Stats.percentile(tms, 0.5), "ms")
        r.layer("cdc.batch_ms_p90") = (Stats.percentile(tms, 0.9), "ms")
        r.layer("cdc.driver_self_ms_per_batch") = (Stats.median(trig.map { t =>
          Stats.selfTime((t.startMs * 1000).toLong, (t.endMs * 1000).toLong,
            jobsIn(t).map(j => (j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000))) / 1000.0
        }), "ms")
        r.layer("cdc.jobs_per_batch") = (trig.map(t => jobsIn(t).size).sum.toDouble / trig.size, "count")
        r.layer("cdc.stream_latest_offset_ms_p50") =
          (Stats.percentile(trig.map(_.attrs.getOrElse("ms.latestOffset", 0.0)), 0.5), "ms")
      }
      val tracedEvents = secondHalf.size * SegEvents.toDouble
      val cdcT = r.layerTotals("cdc")
      r.layer("cdc.task_cpu_s") = (cdcT.cpuNs / 1e9, "s")
      r.layer("cdc.shuffle_write_bytes_per_event") = (cdcT.shuffleWriteBytes / tracedEvents, "B/event")
      r.layer("cdc.spill_bytes") = (cdcT.spillBytes.toDouble, "B")
      r.layer("cdc.task_skew") = (l.skew(_.layer == "cdc"), "ratio")
      val searchJobs = l.jobs.values.filter(_.layer == "search").toSeq
      r.layer("search.job_busy_s") = (Stats.coverage(Long.MinValue, Long.MaxValue,
        searchJobs.map(j => (j.startMs, math.max(j.endMs, j.startMs)))) / 1000.0, "s")
      val sT = r.layerTotals("search")
      r.layer("search.task_cpu_s") = (sT.cpuNs / 1e9, "s")
      r.layer("search.shuffle_write_bytes_per_event") = (sT.shuffleWriteBytes / tracedEvents, "B/event")
      r.layer("search.jobs_per_query") = (r.jobsPerSpan("search.query"), "count")
      val tracedFresh = secondHalf.flatMap(s => Option(covered.get(s)).map(_ - published.get(s)))
      val untracedFresh = firstHalf.flatMap(s => Option(covered.get(s)).map(_ - published.get(s)))
      if (tracedFresh.nonEmpty && untracedFresh.nonEmpty)
        r.layer("bench.tracing_overhead.latency_ms_p50") =
          (Stats.median(tracedFresh) / Stats.median(untracedFresh) - 1, "ratio")
      val (tOps, uOps) = (lookups.asScala ++ searches.asScala).partition(_._2)
      if (tOps.nonEmpty && uOps.nonEmpty)
        r.layer("bench.tracing_overhead.throughput_per_s") = (uOps.size.toDouble / tOps.size - 1, "ratio")
    }
    r.layer("search.index_bytes_per_event") =
      (r.dirBytes(index.root + "/data").toDouble / publishedEvents, "B/event")
    r.layer("lake.bytes_written_per_event") =
      (r.dirBytes(lake.root + "/data").toDouble / publishedEvents, "B/event")
  }
}
