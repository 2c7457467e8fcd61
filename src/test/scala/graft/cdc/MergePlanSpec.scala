package graft.cdc

import scala.collection.mutable

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graft.BucketWriter

import graft.TestSpark
import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/** Physical-plan guard for the MERGE hot path: the whole upsert (union →
  * LWW dedup → change-feed classification → bucket-partitioned write) must
  * stay ONE shuffle and ONE sort, with the winner election running as the
  * streaming SortedLwwDedup operator (NOT a buffering WindowExec — if a
  * regression reintroduces a Window, an extra exchange, or an extra sort
  * into the merge write job, this spec fails). */
class MergePlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // every exchange kind (hash, range, direct partition id, broadcast, ...)
  private val exchangeRe = raw"\b\w*Exchange\b".r
  // shuffle exchange partition counts: the last argument of the
  // partitioning (`Exchange hashpartitioning(b#1, 32), ...`), or 1 for
  // `Exchange SinglePartition, ...`
  private def shuffleWidths(p: String): Seq[Int] =
    raw"\bExchange (\w+)(?:\((.*), (\d+)\))?,".r.findAllMatchIn(p).map { m =>
      if (m.group(1) == "SinglePartition") 1 else m.group(3).toInt
    }.toSeq
  // the merge's write plans: bucket writes (by the writer's execution name)
  // running the dedup operator
  private def mergeWrites(plans: mutable.ArrayBuffer[(String, String)])
      : Seq[String] = plans.synchronized(plans.toSeq.collect {
    case (BucketWriter.ExecutionName, p) if p.contains("SortedLwwDedup") => p
  })
  private def finalPlan(p0: String): String = p0.split("== Initial Plan ==")(0)
  private def shape(p: String): (Int, Int) = (
    exchangeRe.findAllIn(p).size, raw"\bSort \[".r.findAllIn(p).size)
  // records every executed plan with its execution name; delivery is
  // asynchronous
  private def recorder(plans: mutable.ArrayBuffer[(String, String)]) =
    new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += funcName -> qe.executedPlan.toString; () }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }

  test("merge+write plan: one exchange, one sort, streaming dedup operator") {
    val dir = TestSpark.tmpDir("plan-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 6,
      pUpdate = 0.3, pDelete = 0.05, pDup = 0.05, segSize = 1000))
    val lake = new LakeTable(spark, TestSpark.tmpDir("plan-lake"))

    val plans = mutable.ArrayBuffer[(String, String)]()
    val listener = recorder(plans)
    spark.listenerManager.register(listener)
    try {
      new CdcDriver(spark, dir, lake, segmentsPerBatch = 2, nBuckets = 8,
        quiet = true).run()
      // listener delivery is async; wait for the plans to arrive
      val deadline = System.nanoTime() + 10e9.toLong
      while (System.nanoTime() < deadline && mergeWrites(plans).isEmpty)
        Thread.sleep(50)
      // the merge write job: the bucket write whose plan carries the dedup
      // operator
      val writePlans = mergeWrites(plans)
      assert(writePlans.nonEmpty, "no merge write plan captured")
      writePlans.foreach { p0 =>
        // adaptive plans print "Final Plan" and "Initial Plan" sections —
        // count only the final one
        val p = finalPlan(p0)
        val (exchanges, sorts) = shape(p)
        assert(exchanges == 1, s"merge plan must have ONE exchange:\n$p")
        assert(sorts == 1, s"merge plan must have ONE sort:\n$p")
        assert(!p.contains("Window"),
          s"merge must not buffer through WindowExec:\n$p")
        // the fused sort-prefix columns are DERIVED — they must be computed
        // after the exchange (a Project on its output), never shuffled:
        // 16 bytes/row through the merge's main bandwidth consumer. The
        // tree prints children below their parent, so everything from the
        // Exchange line onward is the map side — _bk/_kh must not appear
        // there.
        val mapSide = p.substring(exchangeRe.findFirstMatchIn(p).get.start)
        assert(!mapSide.contains("_bk") && !mapSide.contains("_kh"),
          s"sort-prefix columns must not ride the shuffle:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("MoR plans: append never scans the lake; read resolves in one exchange") {
    val dir = TestSpark.tmpDir("plan-mor-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 6,
      pUpdate = 0.4, pDelete = 0.05, pDup = 0.05, segSize = 500))
    val lake = new LakeTable(spark, TestSpark.tmpDir("plan-mor-lake"))

    val plans = mutable.ArrayBuffer[(String, String)]()
    val listener = recorder(plans)
    spark.listenerManager.register(listener)
    try {
      new CdcDriver(spark, dir, lake, segmentsPerBatch = 1, nBuckets = 8,
        quiet = true, mor = true, morCompactChain = 0).run()
      val deadline = System.nanoTime() + 10e9.toLong
      while (System.nanoTime() < deadline && mergeWrites(plans).size < 4)
        Thread.sleep(50)
      val appendPlans = mergeWrites(plans)
      assert(appendPlans.size >= 4, "append write plans not captured")
      appendPlans.map(finalPlan).foreach { p =>
        assert(shape(p) == ((1, 1)),
          s"MoR append must stay one exchange + one sort:\n$p")
        assert(!p.contains("Window"), s"no WindowExec in the append:\n$p")
        // O(batch) writes: the ONLY parquet scan is the changelog batch —
        // a lake-data scan here would mean the state union crept back in
        val scans = raw"Scan parquet\b".r.findAllIn(p).size
        assert(scans == 1,
          s"MoR append must scan only the batch ($scans scans):\n$p")
        // the write TARGET is under /data/snap- by construction; only a
        // SCAN line mentioning it would mean state is being read
        assert(!p.linesIterator.exists(l =>
            l.contains("FileScan") && l.contains("/data/snap-")),
          s"MoR append must not read lake data files:\n$p")
      }

      // read-side resolution: one clustering exchange, one sort, streaming
      // dedup — and tombstone filtering stays ABOVE the dedup (a winner
      // must be elected before its tombstone can drop the key)
      plans.synchronized(plans.clear())
      lake.read().write.format("noop").mode("overwrite").save()
      val deadline2 = System.nanoTime() + 10e9.toLong
      while (System.nanoTime() < deadline2 &&
        plans.synchronized(!plans.exists(_._2.contains("SortedLwwDedup"))))
        Thread.sleep(50)
      val readPlan = plans.synchronized {
        plans.map(_._2).find(_.contains("SortedLwwDedup")).map(finalPlan)
      }
      assert(readPlan.isDefined, "resolved read plan not captured")
      readPlan.foreach { p =>
        assert(shape(p) == ((1, 1)),
          s"MoR read must resolve in one exchange + one sort:\n$p")
        assert(!p.contains("Window"), s"no WindowExec on the read:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("CoW merge: one reduce partition and one file per touched bucket") {
    import spark.implicits._
    def batch(keys: Seq[String], lsn0: Long) =
      keys.zipWithIndex.map { case (k, i) => (k, 0, lsn0 + i) }
        .toDF("conv_id", "turn_idx", "_lsn")
        .withColumn("op", lit("U"))
        .withColumn("text", col("_lsn").cast("string"))
        .withColumn("_src_part", lit(0))
        .withColumn("_src_off", col("_lsn"))

    val plans = mutable.ArrayBuffer[(String, String)]()
    val listener = recorder(plans)
    // apply a batch and return the merge write plan it ran
    def applied(lake: LakeTable, keys: Seq[String], epoch: Long,
                nBuckets: Int): (CdcApply.ApplyStats, String) = {
      plans.synchronized(plans.clear())
      val st = CdcApply.apply(lake, batch(keys, epoch * 100000L), epoch,
        nBuckets)
      val deadline = System.nanoTime() + 10e9.toLong
      def mergePlan = mergeWrites(plans).headOption
      while (System.nanoTime() < deadline && mergePlan.isEmpty)
        Thread.sleep(50)
      val plan = mergePlan
      assert(plan.isDefined, "merge write plan not captured")
      (st, finalPlan(plan.get))
    }
    def check(lake: LakeTable, keys: Seq[String], epoch: Long, nBuckets: Int,
              touched: Int): Unit = {
      val (st, p) = applied(lake, keys, epoch, nBuckets)
      assert(st.touchedSet.size == touched, s"touched ${st.touchedSet}")
      assert(shape(p) == ((1, 1)), s"one exchange + one sort:\n$p")
      assert(shuffleWidths(p) == Seq(st.touchedSet.size),
        s"one reduce partition per touched bucket ${st.touchedSet}:\n$p")
      val written = st.snapshot.files
        .filter(_.path.contains(s"/snap-${st.snapshot.snapshotId}-"))
      assert(written.map(_.bucket).sorted == st.touchedSet.toSeq.sorted,
        s"one file per touched bucket: ${written.map(_.path)}")
      assert(!spark.read.parquet(written.head.path).columns.contains("_p"),
        "the partition id column must not reach the files")
    }

    spark.listenerManager.register(listener)
    try {
      // dense: >= 64 rows per bucket touches all 8 buckets (rank = bucket)
      val dense = new LakeTable(spark, TestSpark.tmpDir("plan-direct-dense"))
      val denseKeys = (0 until 800).map(i => f"conv-$i%05d")
      check(dense, denseKeys, 1, 8, 8)
      check(dense, denseKeys.take(600), 2, 8, 8) // merges with state
      // sparse: 5 keys in each of 3 of 64 buckets (id = rank in touched set)
      val sparse = new LakeTable(spark, TestSpark.tmpDir("plan-direct-sparse"))
      val pick = (0 until 2000).map(i => f"conv-$i%05d")
        .groupBy(LakeTable.bucketOfValue(_, 64)).toSeq.sortBy(_._1)
        .take(3).flatMap(_._2.take(5))
      check(sparse, pick, 1, 64, 3)
      check(sparse, pick.drop(5), 2, 64, 2) // the two higher buckets
      check(sparse, pick.take(1), 3, 64, 1)
      assert(sparse.read().count() == pick.size)
    } finally spark.listenerManager.unregister(listener)
  }
}
