package graft.cdc

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.changelog.ChangelogGen
import graft.lake.{LakeTable, PartitionLineage}

/** Dead-letter path: malformed change events (null key, null turn index,
  * unknown op) are quarantined with a reason, never merged, counted in
  * snapshot metrics, and replays stay idempotent — the reference's
  * failed-event side output (ActivityAggregateUpdaterConfig.scala:66-67,
  * ActivityAggregatesFunction.scala:135,143) plus its
  * failure-keeps-state-clean test
  * (ActivityAggregateUpdaterTaskTestSpec.scala:132-153). */
class QuarantineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("malformed events land in quarantine; table state unaffected") {
    val dir = TestSpark.tmpDir("quar-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 3000, nConvs = 30, turnsPerConv = 6,
      pUpdate = 0.3, pDelete = 0.08, pDup = 0.1, pBad = 0.15, segSize = 500))
    val events = spark.read.parquet(dir)
    val nInvalid = events
      .filter(CdcApply.invalidReason(Seq("I", "U", "D")).isNotNull).count()
    assert(nInvalid > 0, "fixture must actually contain malformed events")

    val lake = new LakeTable(spark, TestSpark.tmpDir("quar-lake"))
    val stats = new CdcDriver(spark, dir, lake, segmentsPerBatch = 2,
      nBuckets = 8, quiet = true).run()

    // state: exactly the fold of the VALID events (oracle filters them too)
    assert(CdcOracle.tableState(lake.read()) == CdcOracle.fold(events))

    // every malformed delivery is in the quarantine, with its reason
    val quar = spark.read.parquet(s"${lake.root}/quarantine")
    assert(quar.count() == nInvalid)
    assert(stats.map(_.failedEvents).sum == nInvalid)
    val reasons = quar.select("_reason").distinct().collect()
      .map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("null_key", "null_turn", "null_lsn", "bad_op")))
    assert(reasons.size >= 2, s"expected several failure kinds, got $reasons")
    // quarantined rows keep their full payload + lineage for reprocessing
    assert(quar.columns.toSet.intersect(
      Set("op", "conv_id", "_lsn", "_src_part", "_src_off")).size == 5)

    // metrics carried on the snapshots themselves
    assert(lake.snapshots.map(_.metrics.getOrElse("failedEvents", 0.0)).sum
      == nInvalid.toDouble)

    // replay: all batches fenced, quarantine not duplicated
    val snapBefore = lake.currentSnapshot.get.snapshotId
    val stats2 = new CdcDriver(spark, dir, lake, 2, 8, quiet = true).run()
    assert(stats2.forall(_.skipped))
    assert(lake.currentSnapshot.get.snapshotId == snapBefore)
    assert(spark.read.parquet(s"${lake.root}/quarantine").count() == nInvalid)
  }

  test("a fully-malformed batch advances the epoch without touching state") {
    val lake = new LakeTable(spark, TestSpark.tmpDir("quar-all-lake"))
    val good = spark.range(5).select(
      lit("I").as("op"), concat(lit("c"), col("id")).as("conv_id"),
      lit(0).as("turn_idx"), lit("user").as("role"), lit("t").as("text"),
      lit(null).cast("string").as("tool"),
      lit("2024-01-01").cast("timestamp").as("ts"),
      col("id").as("_lsn"), lit(0).as("_src_part"), col("id").as("_src_off"))
    CdcApply.apply(lake, good, epoch = 1, nBuckets = 4)
    val before = CdcOracle.tableState(lake.read())

    val bad = spark.range(3).select(
      lit("X").as("op"), lit(null).cast("string").as("conv_id"),
      lit(null).cast("int").as("turn_idx"), lit("user").as("role"),
      lit("t").as("text"), lit(null).cast("string").as("tool"),
      lit("2024-01-01").cast("timestamp").as("ts"),
      (col("id") + 100).as("_lsn"), lit(0).as("_src_part"),
      (col("id") + 100).as("_src_off"))
    val s = CdcApply.apply(lake, bad, epoch = 2, nBuckets = 4)
    assert(!s.skipped && s.failedEvents == 3 && s.rowsOut == 0)
    assert(lake.currentSnapshot.get.epoch == 2)
    assert(CdcOracle.tableState(lake.read()) == before)
  }

  test("a batch built on another session counts its invalid events") {
    // rows lsn0 until lsn0 + n over 40 conversations; `badAt` gets op 'X'
    def events(s: SparkSession, lsn0: Long, n: Long,
               badAt: Long = -1L): DataFrame =
      s.range(lsn0, lsn0 + n).select(
        when(col("id") === badAt, "X").otherwise("U").as("op"),
        format_string("c%02d", col("id") % 40).as("conv_id"),
        (col("id") % 7).cast("int").as("turn_idx"), lit("user").as("role"),
        col("id").cast("string").as("text"),
        lit(null).cast("string").as("tool"),
        lit("2024-01-01").cast("timestamp").as("ts"),
        col("id").as("_lsn"), lit(0).as("_src_part"), col("id").as("_src_off"))
    val lake = new LakeTable(spark, TestSpark.tmpDir("quar-session-lake"))
    CdcApply.apply(lake, events(spark, 0, 400), epoch = 1, nBuckets = 4)
    assert(lake.currentSnapshot.get.manifests.size == 4)

    // dense (>= 64 rows per bucket) and footer-proven key-clean, so no probe
    // scans the batch first: only the merge write, rooted in the lake's
    // session through its state read, observes it
    val other = spark.newSession()
    val bad = 1234L
    val batch = events(other, 1000, 300, badAt = bad)
    val st = Await.result(Future(CdcApply.apply(lake, batch, epoch = 2,
      probeInfo = Some(CdcApply.ProbeInfo(300L,
        Seq(PartitionLineage(0, 1000L, 1299L)), keysNullFree = true))))(
      ExecutionContext.global), 120.seconds)
    assert(!st.skipped && st.failedEvents == 1)
    val quar = spark.read.parquet(s"${lake.root}/quarantine/epoch=2")
    assert(quar.select("_lsn", "_reason").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq(bad -> "bad_op"))
    assert(CdcOracle.tableState(lake.read()) ==
      CdcOracle.fold(events(spark, 0, 400)
        .unionByName(events(spark, 1000, 300, badAt = bad))))
  }
}
