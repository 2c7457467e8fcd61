package lakebench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Checks of the harness's own logic: the percentile rule, the efficiency
  * and self-time arithmetic, the plain-Spark oracle on a hand-written
  * changelog, and that BENCHMARK.json names exactly the metrics and
  * workloads the harness reports. `--work <dir> --bench <BENCHMARK.json>`;
  * exits 1 on the first failure. */
object SelfTest {
  private var passed = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) {
      System.err.println(s"[selftest] FAILED $name $detail")
      sys.exit(1)
    }
    passed += 1
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    arithmetic()
    catalogue(new File(opts("bench")))
    oracle(new File(opts("work")))
    println(s"selftest: $passed checks passed")
  }

  def arithmetic(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    expect("p90 of 100 keeps p90", Stats.effectivePercentile(0.9, 100) == 0.9)
    expect("p90 of 100 is the 90th value", Stats.percentile(xs, 0.9) == 90.0)
    expect("p90 of 50 falls back to p80", Stats.effectivePercentile(0.9, 50) == 0.8)
    expect("p90 of 50 is the 40th value", Stats.percentile(xs.take(50), 0.9) == 40.0)
    expect("p50 of 20 keeps p50", Stats.percentile(xs.take(20), 0.5) == 10.0)
    expect("p50 of 12 falls back", Stats.percentile(xs.take(12), 0.5) == 2.0)
    expect("p50 of 10 is the minimum", Stats.percentile(xs.take(10).reverse, 0.5) == 1.0)
    expect("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("median odd", Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    expect("efficiency", math.abs(Stats.efficiency(100, 320, 4) - 0.8) < 1e-12)
    expect("perfect efficiency", Stats.efficiency(50, 200, 4) == 1.0)
    expect("coverage merges overlaps and clips",
      Stats.coverage(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L), (-5L, 0L))) == 50)
    expect("self time", Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    expect("self time of a leaf", Stats.selfTime(5, 9, Nil) == 4)
    expect("self time never negative",
      Stats.selfTime(0, 10, Seq((-10L, 20L), (0L, 10L))) == 0)
  }

  def catalogue(bench: File): Unit = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bench)
    def pairs(key: String) = {
      val it = tree.get(key).elements()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val n = it.next(); b += n.get("name").asText -> n.get("unit").asText }
      b.result()
    }
    expect("end_to_end matches the harness", pairs("end_to_end") == Metrics.EndToEnd,
      s"${pairs("end_to_end")}")
    expect("per_layer matches the harness", pairs("per_layer") == Metrics.PerLayer,
      s"${pairs("per_layer").diff(Metrics.PerLayer)} / ${Metrics.PerLayer.diff(pairs("per_layer"))}")
    val it = tree.get("workloads").elements()
    val names = Seq.newBuilder[String]
    while (it.hasNext) names += it.next().get("name").asText
    expect("every listed workload exists", names.result().toSet.subsetOf(Metrics.Workloads.keySet))
  }

  /** Two segments; the second adds `tool_meta`. They hold a duplicate
    * delivery, an update delivered before an older insert, a stale update,
    * a delete-then-reinsert and a delete of a key never written. */
  def oracle(work: File): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("lakebench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val base = Seq(StructField("op", StringType), StructField("conv_id", StringType),
        StructField("turn_idx", IntegerType), StructField("role", StringType),
        StructField("text", StringType), StructField("tool", StringType),
        StructField("ts", TimestampType), StructField("_lsn", LongType),
        StructField("_src_part", IntegerType), StructField("_src_off", LongType))
      val ts = new java.sql.Timestamp(1700000000000L)
      def ev(op: String, c: String, t: Int, text: String, lsn: Long, meta: Option[String]) =
        Row.fromSeq(Seq(op, c, t, "user", text, null, ts, lsn, 0, lsn) ++ meta.toSeq)
      val seg0 = Seq(
        ev("I", "c1", 0, "a", 1, None), ev("I", "c1", 1, "b", 2, None),
        ev("U", "c1", 0, "a2", 4, None), ev("I", "c2", 0, "x", 3, None),
        ev("I", "c1", 1, "b", 2, None))
      val seg1 = Seq(
        ev("D", "c2", 0, "x", 5, Some(null)), ev("I", "c2", 0, "y", 6, Some("{\"v\":1}")),
        ev("U", "c1", 1, "stale", 0, Some(null)), ev("D", "c3", 0, "z", 7, Some(null)))
      val dir = new File(work, "selftest-changelog").getPath
      spark.createDataFrame(spark.sparkContext.parallelize(seg0), StructType(base))
        .write.mode("overwrite").parquet(s"$dir/seg=0")
      spark.createDataFrame(spark.sparkContext.parallelize(seg1),
        StructType(base :+ StructField("tool_meta", StringType)))
        .write.mode("overwrite").parquet(s"$dir/seg=1")
      val events = spark.read.option("mergeSchema", "true").parquet(dir)
      val got = Oracle.expected(events).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(3), Option(r.getString(6)))).toSet
      val want = Set(("c1", 0, "a2", None), ("c1", 1, "b", None), ("c2", 0, "y", Some("{\"v\":1}")))
      expect("oracle folds the hand-written changelog", got == want, s"$got")
      val (n, h) = Oracle.checksum(Oracle.expected(events))
      val (n2, h2) = Oracle.checksum(Oracle.expected(events.repartition(3)))
      expect("checksum is order-independent", n == 3 && n == n2 && h == h2, s"$n $h / $n2 $h2")
    } finally spark.stop()
  }
}
