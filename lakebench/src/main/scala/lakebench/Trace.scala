package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `kind` is "bench" (a harness call into a layer), "job"
  * or "stage" (from the Spark listener) or "trigger" (a streaming
  * micro-batch). Times are epoch milliseconds with sub-millisecond digits
  * for harness spans; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, runId: String, kind: String,
                      name: String, layer: String, startMs: Double,
                      endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Per-stage task totals gathered from `onTaskEnd`. */
final class StageTotals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Records harness spans. Each span publishes its id and layer as Spark
  * local properties, so every job submitted inside it (from this thread or
  * one it starts) names its parent span in `SparkListenerJobStart`. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  /** Run `f` as a span; returns its value and duration in ms. */
  def timed[A](name: String, layer: String)(f: => A): (A, Double) = {
    val id = nextId()
    val outer = stack.get
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    stack.set((id, layer) :: outer)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    sc.setLocalProperty(Tracer.LayerProp, layer)
    val start = nowMs
    try {
      val a = f
      val end = nowMs
      spans.add(Span(id, parent, runId, "bench", name, layer, start, end))
      (a, end - start)
    } finally {
      stack.set(outer)
      sc.setLocalProperty(Tracer.SpanProp, outer.headOption.map(_._1.toString).orNull)
      sc.setLocalProperty(Tracer.LayerProp, outer.headOption.map(_._2).orNull)
    }
  }

  def span[A](name: String, layer: String)(f: => A): A = timed(name, layer)(f)._1

  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val SpanProp = "lakebench.span"
  val LayerProp = "lakebench.layer"
}

/** Maps an engine source file name (as it appears in a Spark call site,
  * e.g. "CdcApply.scala") to the module it lives in. Built from the source
  * tree, so new files need no table here. */
final class Layers(fileToPkg: Map[String, String]) {
  def ofFile(file: String): Option[String] = fileToPkg.get(file).map {
    case "operators" | "expressions" | "functions" | "plans" | "Queries" => "operators"
    case other => other
  }

  /** Layer of a call site like "count at CdcApply.scala:410". */
  def ofCallSite(callSite: String): Option[String] =
    Option(callSite).flatMap { cs =>
      val at = cs.lastIndexOf(" at ")
      val loc = if (at >= 0) cs.substring(at + 4) else cs
      ofFile(loc.takeWhile(_ != ':').trim)
    }
}

object Layers {
  /** Index the `.scala` files of each `graft/<pkg>` directory under
    * `srcRoot`; top-level files map to their own base name (only
    * Queries.scala matters: it is `operators`). */
  def scan(srcRoot: java.io.File): Layers = {
    val graft = new java.io.File(srcRoot, "graft")
    def files(d: java.io.File) =
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    val top = files(graft).map(f => f.getName -> f.getName.stripSuffix(".scala"))
    val nested = Option(graft.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => files(d).map(f => f.getName -> d.getName))
    new Layers((top ++ nested).toMap)
  }
}

/** A Spark job as the listener saw it; `parentSpan` is the harness span
  * that submitted it (0 when none did, as for streaming triggers). */
final case class JobRec(spanId: Long, parentSpan: Long, layer: String,
                        callSite: String, startMs: Long, stageIds: Seq[Int],
                        var endMs: Long = -1L)

/** Turns Spark's own scheduler events into job and stage spans. Every
  * callback runs on the listener-bus thread, so the maps need no locking;
  * readers call [[settle]] first. */
final class LayerListener(tracer: Tracer, layers: Layers) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageTotals]
  val stageInfos = mutable.HashMap.empty[Int, StageInfo]
  /** Detached listeners cost nothing; jobs that start while detached are
    * ignored through to their end. */
  @volatile var enabled = true
  @volatile private var lastEventMs = System.currentTimeMillis()
  @volatile private var open = 0

  /** SQL execution id -> the action's call site (long form: one frame per
    * line). Adaptive execution submits a query's jobs from pool threads, so
    * their own call site names CompletableFuture, not the caller. */
  val sqlCallSites = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
      sqlCallSites(s.executionId) = s.details
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    lastEventMs = System.currentTimeMillis()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val stageName = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val sqlSite = prop("spark.sql.execution.id").flatMap(id => sqlCallSites.get(id.toLong))
    // the innermost engine frame of the action, else of the job itself
    val engineFrame = (sqlSite.toSeq.flatMap(_.split("\n")) :+ stageName)
      .find(f => layers.ofCallSite(frameSite(f)).isDefined)
    val callSite = prop("callSite.short").orElse(engineFrame).getOrElse(stageName)
    val parent = prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L)
    val layer = engineFrame.flatMap(f => layers.ofCallSite(frameSite(f)))
      .orElse(prop(Tracer.LayerProp)).getOrElse("other")
    jobs(e.jobId) = JobRec(tracer.nextId(), parent, layer, callSite, e.time,
      e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    open += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).filter(_.endMs < 0).foreach { j =>
      lastEventMs = System.currentTimeMillis()
      j.endMs = e.time
      open -= 1
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageJob.contains(e.stageInfo.stageId)) {
      lastEventMs = System.currentTimeMillis()
      stageInfos(e.stageInfo.stageId) = e.stageInfo
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && stageJob.contains(e.stageId)) {
      lastEventMs = System.currentTimeMillis()
      val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.taskMs += e.taskInfo.duration
    }
  }

  /** "graft.cdc.CdcApply$.apply(CdcApply.scala:400)" ->
    * "graft.cdc.CdcApply$.apply at CdcApply.scala:400";
    * a short call site passes through. */
  private def frameSite(frame: String): String = {
    val open = frame.lastIndexOf('(')
    if (open >= 0 && frame.endsWith(")"))
      frame.substring(0, open) + " at " + frame.substring(open + 1, frame.length - 1)
    else frame
  }

  /** Wait until every started job has ended and the bus has been quiet for
    * a moment (bounded), so the maps are complete. */
  def settle(maxWaitMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (System.currentTimeMillis() < deadline &&
        (open > 0 || System.currentTimeMillis() - lastEventMs < 300))
      Thread.sleep(50)
  }

  /** Job spans and their stage spans, for the trace file and self time. */
  def spans: Seq[Span] = jobs.toSeq.flatMap { case (jobId, j) =>
    val end = if (j.endMs >= 0) j.endMs else j.startMs
    val job = Span(j.spanId, j.parentSpan, tracer.runId, "job",
      s"job $jobId: ${j.callSite}", j.layer, j.startMs.toDouble, end.toDouble)
    val st = j.stageIds.flatMap(s => stageInfos.get(s).map(s -> _)).flatMap {
      case (sid, info) =>
        for (a <- info.submissionTime; b <- info.completionTime) yield {
          val t = stages.getOrElse(sid, new StageTotals)
          Span(tracer.nextId(), j.spanId, tracer.runId, "stage",
            s"stage $sid: ${info.name}", j.layer, a.toDouble, b.toDouble,
            Map("cpu_s" -> t.cpuNs / 1e9,
              "shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
              "spill_bytes" -> t.spillBytes.toDouble,
              "bytes_read" -> t.bytesRead.toDouble,
              "records_read" -> t.recordsRead.toDouble))
        }
    }
    job +: st
  }

  /** Stage totals of the jobs selected by `keep`. */
  def totals(keep: JobRec => Boolean): StageTotals = {
    val out = new StageTotals
    jobs.values.filter(keep).flatMap(_.stageIds).toSeq.distinct.foreach { s =>
      stages.get(s).foreach { t =>
        out.cpuNs += t.cpuNs; out.shuffleWriteBytes += t.shuffleWriteBytes
        out.spillBytes += t.spillBytes; out.bytesRead += t.bytesRead
        out.recordsRead += t.recordsRead; out.taskMs ++= t.taskMs
      }
    }
    out
  }

  /** max/median task time of the largest stage (by task count, then total
    * task time) among the selected jobs; 1.0 for a perfectly even stage. */
  def skew(keep: JobRec => Boolean): Double = {
    val cand = jobs.values.filter(keep).flatMap(_.stageIds).toSeq.distinct
      .flatMap(stages.get).filter(_.taskMs.nonEmpty)
    if (cand.isEmpty) 0.0
    else {
      val big = cand.maxBy(t => (t.taskMs.size, t.taskMs.sum))
      val med = Stats.median(big.taskMs.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else big.taskMs.max / med
    }
  }
}

/** Records each streaming trigger's progress: the `durationMs` breakdown
  * plus input rows, as a "trigger" span. */
final class TriggerListener(tracer: Tracer) extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Span]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val total = d.getOrElse("triggerExecution", 0.0)
    triggers.add(Span(tracer.nextId(), 0L, tracer.runId, "trigger",
      s"batch ${p.batchId}", "cdc", start, start + total,
      d.map { case (k, v) => s"ms.$k" -> v } + ("input_rows" -> p.numInputRows.toDouble)))
  }
}
