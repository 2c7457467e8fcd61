package lakebench

import scala.collection.mutable

import graft.cdc.{CdcApply, CdcDriver}
import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/** A few large copy-on-write batches replayed by CdcDriver: the heavy merge
  * path. Each leg replays the whole changelog into a fresh lake, one
  * `run(maxBatches = 1)` call per batch. Untraced runs time all-CPU legs.
  * Traced runs interleave pairs of all-CPU and one-CPU legs (the JVM pinned
  * with taskset, same warmed session) on the same changelog for the scaling
  * pair, and alternate the listener between pairs to measure its cost. */
object ReplayBulk {
  val Events = 48000L
  val Segments = 4
  val Buckets = 8
  val MinLegs = 2

  def config(seed: Long): ChangelogGen.Config = ChangelogGen.Config(
    nEvents = Events, nConvs = Events / 200, skew = 1.2,
    evolveAt = Events / 2, segSize = Events / Segments, nSrcPartitions = 4,
    filesPerSeg = 1, seed = seed)

  final case class Leg(cpus: Int, traced: Boolean, batchMs: Seq[Double],
                       stats: Seq[CdcApply.ApplyStats], lakeDir: String) {
    def throughput: Double = Events / (batchMs.sum / 1000)
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val cfg = config(r.seed)
    val allCpus = Host.nproc

    // Set-up, repeated: generate the changelog three times, keep the last.
    val genS = (1 to 3).map { k =>
      val d = r.dir(s"changelog-$k")
      r.tracer.timed("changelog.gen", "changelog")(ChangelogGen.write(spark, d, cfg))._2 / 1000
    }
    val cl = r.dir("changelog-3")
    Seq(1, 2).foreach(k => r.rm(r.dir(s"changelog-$k")))
    r.e2e("setup_s") = (Stats.median(genS), "s")
    r.note("set up")
    r.layer("changelog.gen_s") = (Stats.median(genS), "s")
    r.layer("changelog.input_bytes_per_event") =
      (r.dirBytes(cl).toDouble / Events, "B/event")

    var legNo = 0
    val filesAdded = mutable.ArrayBuffer.empty[Double]
    var bytesAdded = 0L
    def leg(cpus: Int, traced: Boolean, maxBatches: Int = Segments): Leg = {
      legNo += 1
      val lakeDir = r.dir(s"lake-$legNo")
      val lake = new LakeTable(spark, lakeDir)
      val driver = new CdcDriver(spark, cl, lake, segmentsPerBatch = 1,
        nBuckets = Buckets, quiet = true, keepSnapshots = 2)
      val ms = mutable.ArrayBuffer.empty[Double]
      val stats = mutable.ArrayBuffer.empty[CdcApply.ApplyStats]
      var files = Map.empty[String, Long]
      var more = true
      while (more && ms.size < maxBatches) {
        r.op("cdc.batch") {
          r.tracer.timed(s"cdc.batch.${cpus}cpu" + (if (traced) "" else ".untraced"), "cdc")(
            driver.run(maxBatches = 1))
        } match {
          case Some((s, t)) if s.nonEmpty =>
            ms += t; stats ++= s
            if (traced) { // files this batch added (manifest reads stay outside the span)
              val now = lake.currentSnapshot.get.files.map(f => f.path -> f.bytes).toMap
              val added = now.filter { case (p, _) => !files.contains(p) }
              filesAdded += added.size.toDouble
              bytesAdded += added.values.sum
              files = now
            }
          case _ => more = false
        }
      }
      Leg(cpus, traced, ms.toSeq, stats.toSeq, lakeDir)
    }

    // Warm the session (codegen, class loading, JIT) on the same changelog:
    // half a leg covers both schemas and the first-batch and merge shapes.
    r.rm(r.listening(on = false)(leg(allCpus, traced = false, Segments / 2 + 1)).lakeDir)

    val steal0 = Host.cpuTimes()
    val gc0 = Host.gcMs()
    r.startWindow()
    val legs = mutable.ArrayBuffer.empty[Leg]
    var pinnedOk = true
    def runLeg(cpus: Int, traced: Boolean): Unit = {
      if (r.traced) pinnedOk &= Host.pin(cpus)
      System.gc() // every leg starts from the same heap state
      val l = r.listening(traced)(leg(cpus, traced))
      r.note(f"leg ${cpus}cpu ${l.throughput}%.0f ev/s")
      legs += l
      // keep only the newest lake of each configuration (checked below)
      legs.filter(o => o.cpus == cpus && o.lakeDir != l.lakeDir).foreach(o => r.rm(o.lakeDir))
    }
    var n = 0
    while (n < MinLegs || r.inWindow) {
      n += 1
      if (!r.traced) runLeg(allCpus, traced = false)
      else { // pairs, order alternating; odd pairs untraced
        val order = if (n % 2 == 1) Seq(allCpus, 1) else Seq(1, allCpus)
        order.foreach(c => runLeg(c, traced = n % 2 == 0))
      }
    }
    if (r.traced) pinnedOk &= Host.pin(allCpus)
    val gcMs = Host.gcMs() - gc0
    val steal = Host.stealPct(steal0, Host.cpuTimes())

    val many = legs.filter(_.cpus == allCpus)
    val one = legs.filter(_.cpus == 1)
    val thrMany = Stats.median(many.map(_.throughput).toSeq)
    val batchMs = many.flatMap(_.batchMs).toSeq

    // Correctness: the newest lake of each configuration equals the oracle.
    val events = spark.read.option("mergeSchema", "true").parquet(cl)
    val want = Oracle.checksum(Oracle.expected(events))
    (many.lastOption ++ one.lastOption).foreach { l =>
      val lake = new LakeTable(spark, l.lakeDir)
      val got = Oracle.checksum(lake.read())
      r.check(s"replay_bulk ${l.cpus}-cpu lake == oracle", got == want, s"$got != $want")
      val meta = lake.currentSnapshot.map(_.liveRows).getOrElse(-2L)
      r.check(s"replay_bulk ${l.cpus}-cpu liveRows == scan", meta == got._1,
        s"meta $meta, scan ${got._1}")
    }
    val last = new LakeTable(spark, many.last.lakeDir).currentSnapshot.get
    val storedBytes = last.manifests.map(_.bytes).sum.toDouble / math.max(want._1, 1L)

    r.e2e("throughput_per_s") = (thrMany, "1/s")
    r.e2e("latency_ms_p50") = (Stats.percentile(batchMs, 0.5), "ms")
    r.detail("ingest_events_per_s") = (thrMany, "ev/s")
    r.detail("stored_bytes_per_row") = (storedBytes, "B/row")
    r.detail("host.steal_pct_max") = (if (steal.isEmpty) 0.0 else steal.values.max, "%")
    r.layer("jvm.gc_ms") = (gcMs, "ms")

    // Layer view: the traced pairs' batch spans and their Spark jobs (the
    // listener is detached for the warm-up and the untraced pairs).
    val traced = legs.filter(_.traced)
    val tracedMany = many.filter(_.traced)
    if (traced.nonEmpty && tracedMany.nonEmpty) {
      val ev = traced.size * Events
      val cdcT = r.layerTotals("cdc")
      val tb = tracedMany.flatMap(_.batchMs).toSeq
      val stats = traced.flatMap(_.stats)
      r.layer("cdc.batch_ms_p50") = (Stats.percentile(tb, 0.5), "ms")
      r.layer("cdc.batch_ms_p90") = (Stats.percentile(tb, 0.9), "ms")
      r.layer("cdc.driver_self_ms_per_batch") =
        (Stats.median(r.selfMs(s"cdc.batch.${allCpus}cpu")), "ms")
      r.layer("cdc.jobs_per_batch") = (r.jobsPerSpan(s"cdc.batch.${allCpus}cpu"), "count")
      r.layer("cdc.task_cpu_s") = (cdcT.cpuNs / 1e9 / traced.size, "s")
      r.layer("cdc.shuffle_write_bytes_per_event") = (cdcT.shuffleWriteBytes.toDouble / ev, "B/event")
      r.layer("cdc.spill_bytes") = (cdcT.spillBytes.toDouble / traced.size, "B")
      r.layer("cdc.task_skew") = (r.listener.get.skew(_.layer == "cdc"), "ratio")
      r.layer("cdc.rows_written_per_event") = (stats.map(_.rowsOut).sum.toDouble / ev, "rows/event")
      r.layer("cdc.carried_rows_per_event") =
        (stats.map(_.actions.getOrElse("carried", 0L)).sum.toDouble / ev, "rows/event")
      r.layer("lake.files_added_per_batch") = (Stats.median(filesAdded.toSeq), "files")
      r.layer("lake.bytes_written_per_event") = (bytesAdded.toDouble / ev, "B/event")
      val untracedMany = many.filterNot(_.traced)
      if (untracedMany.nonEmpty) {
        val u = Stats.median(untracedMany.map(_.throughput).toSeq)
        val t = Stats.median(tracedMany.map(_.throughput).toSeq)
        r.layer("bench.tracing_overhead.throughput_per_s") = (u / t - 1, "ratio")
        val ub = untracedMany.flatMap(_.batchMs).toSeq
        r.layer("bench.tracing_overhead.latency_ms_p50") =
          (Stats.percentile(tb, 0.5) / Stats.percentile(ub, 0.5) - 1, "ratio")
      }
    }
    r.layer("lake.stored_bytes_per_row") = (storedBytes, "B/row")
    // The scaling pair: untraced pairs only when there are any.
    if (one.nonEmpty) {
      val clean = legs.filterNot(_.traced)
      val pairLegs = if (clean.exists(_.cpus == 1)) clean else legs
      val thr = (c: Int) => Stats.median(pairLegs.filter(_.cpus == c).map(_.throughput).toSeq)
      val eff = Stats.efficiency(thr(1), thr(allCpus), allCpus)
      r.layer("cdc.throughput_1cpu") = (thr(1), "ev/s")
      r.layer("cdc.throughput_4cpu") = (thr(allCpus), "ev/s")
      r.layer("cdc.scaling_efficiency") = (eff, "ratio")
      r.detail("scaling_efficiency") = (eff, "ratio")
      r.detail("host.pinned") = (if (pinnedOk) 1.0 else 0.0, "bool")
    }
  }
}
