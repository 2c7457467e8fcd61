package lakebench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host facts and controls: CPU affinity, hypervisor steal, old-generation
  * occupancy and GC time. */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  private def run(cmd: String*): String = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    p.waitFor()
    out
  }

  /** Pin every thread of this JVM to CPUs 0..n-1 (threads started later
    * inherit the mask). `taskset -a` can stop part-way when a thread exits
    * under it, so each thread's mask is read back from /proc and fixed one
    * by one; true when every live thread ends up on exactly those CPUs. */
  def pin(n: Int): Boolean = try {
    val pid = ProcessHandle.current().pid().toString
    val want = (0 until n).toSet
    def allowed(tid: String): Option[Set[Int]] = try {
      val src = scala.io.Source.fromFile(s"/proc/self/task/$tid/status")
      try src.getLines().find(_.startsWith("Cpus_allowed_list:")).map(l =>
        l.split(":")(1).trim.split(",").flatMap { tok =>
          tok.split("-") match {
            case Array(a, b) => a.trim.toInt to b.trim.toInt
            case Array(a) if a.trim.nonEmpty => Seq(a.trim.toInt)
            case _ => Seq.empty[Int]
          }
        }.toSet)
      finally src.close()
    } catch { case _: java.io.IOException => None } // thread already gone
    def stragglers() = Option(new java.io.File("/proc/self/task").list()).toSeq.flatten
      .filter(t => allowed(t).exists(_ != want))
    run("taskset", "-apc", s"0-${n - 1}", pid)
    stragglers().foreach(t => run("taskset", "-pc", s"0-${n - 1}", t))
    stragglers().isEmpty
  } catch { case _: Exception => false }

  /** Per-CPU (steal, total) jiffies from /proc/stat. */
  def cpuTimes(): Map[Int, (Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().filter(l => l.startsWith("cpu") && !l.startsWith("cpu "))
      .map { l =>
        val f = l.trim.split("\\s+")
        val v = f.drop(1).map(_.toLong)
        f(0).stripPrefix("cpu").toInt -> (v(7), v.take(8).sum)
      }.toMap
    finally src.close()
  } catch { case _: Exception => Map.empty }

  /** Steal percentage per CPU between two [[cpuTimes]] samples. */
  def stealPct(a: Map[Int, (Long, Long)], b: Map[Int, (Long, Long)]): Map[Int, Double] =
    a.keys.filter(b.contains).map { c =>
      val dt = (b(c)._2 - a(c)._2).toDouble
      c -> (if (dt <= 0) 0.0 else 100.0 * (b(c)._1 - a(c)._1) / dt)
    }.toMap

  /** Old-generation occupancy right after a full collection, in MB
    * (MemoryPoolMXBean.getCollectionUsage of the tenured pool). */
  def liveHeapMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Total GC time of this JVM so far, in ms. */
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
}
