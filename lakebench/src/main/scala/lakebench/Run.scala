package lakebench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: its inputs, its scratch space and what it measured.
  * Workloads record end-to-end metrics (reported by untraced runs), layer
  * metrics (reported by traced runs) and details (workload-specific
  * end-to-end figures and host facts, printed on every run). */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: File,
                val seed: Long, val seconds: Int,
                val listener: Option[LayerListener]) {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  @volatile var correct = true

  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]

  def traced: Boolean = listener.isDefined

  def dir(name: String): String = new File(work, name).getAbsolutePath

  def rm(path: String): Unit = graft.lake.LakeIO.delete(path)

  /** Bytes of the data files under `path` (checksum side files excluded). */
  def dirBytes(path: String): Long = {
    val walk = java.nio.file.Files.walk(new File(path).toPath)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith("."))
      .map(p => java.nio.file.Files.size(p)).sum
    finally walk.close()
  }

  /** Run `f` with the Spark listener recording (`on`) or idle. */
  def listening[A](on: Boolean)(f: => A): A = listener match {
    case Some(l) =>
      val was = l.enabled
      l.enabled = on
      try f finally l.enabled = was
    case None => f
  }

  /** A correctness check: a failure fails the run and counts as a failed
    * operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      correct = false
      System.err.println(s"[lakebench] CHECK FAILED $name: $detail")
    }
  }

  /** One measured operation; an exception counts as a failed operation. */
  def op[A](name: String)(f: => A): Option[A] = {
    attempted.incrementAndGet()
    try Some(f) catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[lakebench] OP FAILED $name: $e")
        None
    }
  }

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def note(msg: String): Unit = System.err.println(
    f"[lakebench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  /** Wall-clock deadline of the measured window, started by [[startWindow]]. */
  private var deadlineNs = Long.MaxValue
  def startWindow(): Unit = {
    note("measuring")
    deadlineNs = System.nanoTime() + seconds * 1000000000L
  }
  def inWindow: Boolean = System.nanoTime() < deadlineNs

  /** Per-layer totals of the listener's jobs in `layerName` (zeros when the
    * run is untraced). */
  def layerTotals(layerName: String): StageTotals =
    listener.map(_.totals(_.layer == layerName)).getOrElse(new StageTotals)

  /** Jobs whose parent is one of `spanIds`. */
  def jobsUnder(spanIds: Set[Long]): Seq[JobRec] =
    listener.map(_.jobs.values.filter(j => spanIds.contains(j.parentSpan)).toSeq)
      .getOrElse(Nil)

  /** Self time of harness spans named `name`: span minus its jobs. */
  def selfMs(name: String): Seq[Double] = {
    val spans = tracer.all.filter(s => s.kind == "bench" && s.name == name)
    val byParent = listener.map(_.jobs.values.toSeq.groupBy(_.parentSpan))
      .getOrElse(Map.empty)
    val childSpans = tracer.all.filter(_.kind == "bench").groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(j => (j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000)) ++
        childSpans.getOrElse(s.id, Nil).map(c => ((c.startMs * 1000).toLong, (c.endMs * 1000).toLong))
      Stats.selfTime((s.startMs * 1000).toLong, (s.endMs * 1000).toLong, kids) / 1000.0
    }
  }

  /** Count of listener jobs parented by spans named `name`, per span. */
  def jobsPerSpan(name: String): Double = {
    val ids = tracer.all.filter(s => s.kind == "bench" && s.name == name).map(_.id).toSet
    if (ids.isEmpty) 0.0 else jobsUnder(ids).size.toDouble / ids.size
  }
}
