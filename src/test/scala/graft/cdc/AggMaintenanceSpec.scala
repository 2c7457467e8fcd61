package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/** The derived conv_agg table (the MatView.convAgg view) stays consistent
  * with the main table after an incremental multi-batch replay — equal to
  * recomputing the aggregates from scratch over final state (the
  * reference's activity-agg invariant). */
class AggMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type AggRow = (Int, Int, Int, Long, Map[String, Int])

  /** The conv_agg table's rows by conversation. */
  private def aggRows(agg: LakeTable): Map[String, AggRow] =
    agg.read().collect().map { r =>
      r.getAs[String]("conv_id") -> ((r.getAs[Int]("n_turns"),
        r.getAs[Int]("n_tool_turns"), r.getAs[Int]("max_turn_idx"),
        r.getAs[Long]("last_lsn"), scala.jdk.CollectionConverters
          .MapHasAsScala(r.getJavaMap[String, Int](r.fieldIndex("role_counts")))
          .asScala.toMap))
    }.toMap

  /** conv_agg recomputed from scratch over the main table's live rows. */
  private def recompute(main: LakeTable): Map[String, AggRow] = {
    val roles = main.read().groupBy("conv_id", "role").count().collect()
      .groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.map(r => r.getString(1) -> r.getLong(2).toInt).toMap }
    main.read()
      .groupBy("conv_id")
      .agg(count(lit(1)).cast("int").as("n_turns"),
        count(when(col("role") === "tool", 1)).cast("int").as("n_tool_turns"),
        max("turn_idx").as("max_turn_idx"),
        max("_lsn").as("last_lsn"))
      .collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), roles(r.getString(0))))).toMap
  }

  /** One upsert event for `conv`, at an lsn above anything generated. */
  private def oneTurn(conv: String) = spark.range(1).select(
    lit("U").as("op"), lit(conv).as("conv_id"), lit(0).as("turn_idx"),
    lit("user").as("role"), lit("prune probe").as("text"),
    lit(null).cast("string").as("tool"),
    lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
    lit(10000000L).as("_lsn"), lit(0).as("_src_part"),
    lit(10000000L).as("_src_off"))

  test("incrementally maintained conv_agg equals recompute-from-scratch") {
    val dir = TestSpark.tmpDir("agg-cl")
    // high delete rate + few turns per conv so some conversations vanish
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 4000, nConvs = 40, turnsPerConv = 3,
      pUpdate = 0.3, pDelete = 0.3, pDup = 0.1, segSize = 500))
    val main = new LakeTable(spark, TestSpark.tmpDir("agg-main"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-derived"))
    new CdcDriver(spark, dir, main, segmentsPerBatch = 2, nBuckets = 8,
      quiet = true, aggLake = Some(agg)).run()

    // derived table contents
    val got = agg.read().collect().map { r =>
      r.getAs[String]("conv_id") -> ((r.getAs[Int]("n_turns"),
        r.getAs[Int]("n_tool_turns"), r.getAs[Int]("max_turn_idx"),
        r.getAs[Long]("last_lsn"),
        Option(r.getJavaMap[String, Int](r.fieldIndex("role_counts")))
          .map(m => scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap)
          .getOrElse(Map.empty)))
    }.toMap

    // recompute from final main state
    val want = main.read()
      .groupBy("conv_id")
      .agg(count(lit(1)).cast("int").as("n"),
        count(when(col("role") === "tool", 1)).cast("int").as("nt"),
        max("turn_idx").as("mx"), max("_lsn").as("ml"))
      .collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    val wantRoles = main.read().groupBy("conv_id", "role").count().collect()
      .groupBy(_.getString(0))
      .map { case (c, rs) =>
        c -> rs.map(r => r.getString(1) -> r.getLong(2).toInt).toMap }

    assert(got.keySet == want.keySet, "conv sets differ (stale or missing aggs)")
    got.foreach { case (c, (n, nt, mx, ml, roles)) =>
      assert((n, nt, mx, ml) == want(c), s"agg mismatch for $c")
      assert(roles == wantRoles(c), s"role_counts mismatch for $c")
    }

    // rerun the whole driver: everything fenced, agg table unchanged
    val snapBefore = agg.currentSnapshot.get.snapshotId
    new CdcDriver(spark, dir, main, 2, 8, quiet = true, aggLake = Some(agg)).run()
    assert(agg.currentSnapshot.get.snapshotId == snapBefore)
  }

  test("agg catch-up: enabling the derived table after the fact backfills it") {
    val dir = TestSpark.tmpDir("agg-late-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 4,
      pUpdate = 0.3, pDelete = 0.2, pDup = 0.05, segSize = 500))
    val main = new LakeTable(spark, TestSpark.tmpDir("agg-late-main"))
    // replay fully WITHOUT the derived table
    new CdcDriver(spark, dir, main, 2, 8, quiet = true).run()
    // now attach an empty agg table: all batches fence, catch-up backfills
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-late-agg"))
    val stats = new CdcDriver(spark, dir, main, 2, 8, quiet = true,
      aggLake = Some(agg)).run()
    assert(stats.forall(_.skipped))
    val got = agg.read().select("conv_id", "n_turns").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val want = main.read().groupBy("conv_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toMap
    assert(got == want)
    assert(MatView.syncedMainSnapshot(agg) == main.currentSnapshot.get.snapshotId)
  }

  test("conv_agg folds a main-table rollback at the next catch-up") {
    val dir = TestSpark.tmpDir("agg-rb-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 4,
      pUpdate = 0.3, pDelete = 0.2, pDup = 0.05, segSize = 500))
    val main = new LakeTable(spark, TestSpark.tmpDir("agg-rb-main"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-rb-agg"))
    def driver() = new CdcDriver(spark, dir, main, segmentsPerBatch = 1,
      nBuckets = 8, quiet = true, aggLake = Some(agg))
    driver().run(maxBatches = 2)
    val mark = main.currentSnapshot.get.snapshotId
    driver().run()
    main.rollbackTo(mark)
    driver().run(maxBatches = 0) // the driver's start-up catch-up only
    assert(aggRows(agg) == recompute(main))
    assert(MatView.syncedMainSnapshot(agg) == main.currentSnapshot.get.snapshotId)
    // the rewound feed replays at the undone epochs and the agg follows
    assert(driver().run().count(!_.skipped) == 2)
    assert(aggRows(agg) == recompute(main))
  }

  /** The touchedHint contract: a maintenance batch synthesized FROM known
    * buckets (probeInfo + touchedHint + validate=false) runs exactly ONE
    * Spark action — the merge write. The round-2 verdict found the hint was
    * dead code and the bucket-probe job always ran; this pins the fix. */
  test("maintain with aligned buckets runs a single Spark job (hint honored)") {
    val dir = TestSpark.tmpDir("agg-jobs-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 4,
      pUpdate = 0.3, pDelete = 0.1, segSize = 1000))
    val main = new LakeTable(spark, TestSpark.tmpDir("agg-jobs-main"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-jobs-agg"))
    new CdcDriver(spark, dir, main, segmentsPerBatch = 2,
      nBuckets = 8, quiet = true, aggLake = Some(agg)).run()
    // a current view is a no-op: give it one fresh main commit to fold
    val conv = main.read().select("conv_id").head().getString(0)
    val touched = CdcApply.apply(main, oneTurn(conv),
      main.currentSnapshot.get.epoch + 1, nBuckets = 8).touchedSet
    assert(touched.nonEmpty)

    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { execs.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // refresh of an already-populated aligned agg table
      MatView.maintain(spark, main, agg, touched)
      // listener delivery is async: wait for the write's execution event
      val deadline = System.nanoTime() + 10e9.toLong
      while (System.nanoTime() < deadline && execs.get() < 1) Thread.sleep(50)
      Thread.sleep(1500) // grace: catch any EXTRA actions still in flight
      assert(execs.get() == 1,
        s"maintenance batch ran ${execs.get()} Spark actions, expected 1 " +
        "(bucket probe / validation scans must be skipped via the hint)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("maintenance rewrites only touched buckets of the derived table") {
    val dir = TestSpark.tmpDir("agg-prune-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 4000, nConvs = 60, turnsPerConv = 4,
      pUpdate = 0.3, pDelete = 0.1, pDup = 0.05, segSize = 2000))
    val main = new LakeTable(spark, TestSpark.tmpDir("agg-prune-main"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-prune-agg"))
    new CdcDriver(spark, dir, main, segmentsPerBatch = 2, nBuckets = 8,
      quiet = true, aggLake = Some(agg)).run()
    // derived table bucketed with the SAME scheme as the main lake — the
    // alignment that lets delete-detection prune instead of full-scanning
    assert(agg.currentSnapshot.get.nBuckets ==
      main.currentSnapshot.get.nBuckets)

    // incremental batch touching exactly one conversation
    val conv = main.read().select("conv_id").head().getString(0)
    val mainNB = main.currentSnapshot.get.nBuckets
    val touchedBucket = main.read()
      .filter(col("conv_id") === conv)
      .select(CdcApply.bucketOf(col("conv_id"), mainNB)).head().getInt(0)
    val epoch = main.currentSnapshot.get.epoch + 1
    val aggBefore = agg.currentSnapshot.get
    val stats = CdcApply.apply(main, oneTurn(conv), epoch, nBuckets = mainNB)
    assert(stats.touchedSet == Set(touchedBucket))
    MatView.maintain(spark, main, agg, stats.touchedSet)

    // files-written set of the maintenance commit is confined to the
    // touched bucket; every other bucket's files carried by path identity
    val aggAfter = agg.currentSnapshot.get
    val before = aggBefore.files.map(f => f.path -> f.bucket).toMap
    val newFiles = aggAfter.files.filterNot(f => before.contains(f.path))
    assert(newFiles.nonEmpty)
    assert(newFiles.map(_.bucket).toSet == Set(touchedBucket),
      s"maintenance rewrote untouched buckets: ${newFiles.map(_.bucket).toSet}")
    assert(aggAfter.files.filter(_.bucket != touchedBucket).map(_.path).toSet ==
      aggBefore.files.filter(_.bucket != touchedBucket).map(_.path).toSet)
  }

  test("diverged bucket schemes fall back to full delete-detection read") {
    val dir = TestSpark.tmpDir("agg-div-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 3,
      pUpdate = 0.3, pDelete = 0.3, pDup = 0.05, segSize = 500))
    val main = new LakeTable(spark, TestSpark.tmpDir("agg-div-main"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-div-agg"))
    new CdcDriver(spark, dir, main, 2, 8, quiet = true,
      aggLake = Some(agg)).run(maxBatches = 2)
    // re-bucket the derived table mid-replay: ids no longer aligned
    graft.lake.Compaction.rebucket(agg, 5)
    new CdcDriver(spark, dir, main, 2, 8, quiet = true,
      aggLake = Some(agg)).run()
    val got = agg.read().select("conv_id", "n_turns").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val want = main.read().groupBy("conv_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toMap
    assert(got == want)
  }

  test("kill/resume with derived table converges to the same aggregates") {
    val dir = TestSpark.tmpDir("agg-kill-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 3000, nConvs = 25, turnsPerConv = 4,
      pUpdate = 0.3, pDelete = 0.2, pDup = 0.1, segSize = 300))
    val mainRef = new LakeTable(spark, TestSpark.tmpDir("agg-kr-main-ref"))
    val aggRef = new LakeTable(spark, TestSpark.tmpDir("agg-kr-agg-ref"))
    new CdcDriver(spark, dir, mainRef, 2, 8, quiet = true,
      aggLake = Some(aggRef)).run()

    val main = new LakeTable(spark, TestSpark.tmpDir("agg-kr-main"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("agg-kr-agg"))
    new CdcDriver(spark, dir, main, 2, 8, quiet = true,
      aggLake = Some(agg)).run(maxBatches = 2) // "kill" after 2 batches
    new CdcDriver(spark, dir, main, 2, 8, quiet = true,
      aggLake = Some(agg)).run() // resume

    def dump(l: LakeTable) = l.read()
      .select("conv_id", "n_turns", "max_turn_idx", "last_lsn")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(dump(agg) == dump(aggRef))
  }
}
