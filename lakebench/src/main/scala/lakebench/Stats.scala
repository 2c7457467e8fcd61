package lakebench

/** The harness's own arithmetic, kept free of Spark so the self-test can pin
  * it down exactly. */
object Stats {

  /** Samples that must lie beyond a reported percentile. A p90 over 30
    * samples would rest on 3 points; the rule instead reports the highest
    * percentile that still has this many samples above it. */
  val MinBeyond = 10

  /** The percentile actually reported when `p` is asked of `n` samples: `p`
    * itself when at least [[MinBeyond]] samples lie beyond it, otherwise the
    * highest percentile that leaves [[MinBeyond]] beyond (0 when even the
    * minimum cannot). */
  def effectivePercentile(p: Double, n: Int): Double = {
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    if (n <= MinBeyond) 0.0 else math.min(p, 1.0 - MinBeyond.toDouble / n)
  }

  /** Nearest-rank percentile under the [[MinBeyond]] rule. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val q = effectivePercentile(p, s.size)
    val rank = math.ceil(q * s.size).toInt - 1
    s(math.max(0, math.min(s.size - 1, rank)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Scaling efficiency of `cpus`-way parallelism: thr(cpus) / (cpus x thr(1)). */
  def efficiency(thrOne: Double, thrMany: Double, cpus: Int): Double = {
    require(thrOne > 0 && cpus > 0, "efficiency needs a positive 1-CPU rate")
    thrMany / (cpus * thrOne)
  }

  /** Length of the union of `children` intervals clipped to [lo, hi]. */
  def coverage(lo: Long, hi: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curHi) {
        if (curHi > curLo) covered += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (curHi > curLo) covered += curHi - curLo
    covered
  }

  /** Self time of a span: its duration minus the union of its children. */
  def selfTime(lo: Long, hi: Long, children: Seq[(Long, Long)]): Long =
    (hi - lo) - coverage(lo, hi, children)
}
