package graft.cdc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/** Generalized incrementally-maintained materialized view: per-batch
  * maintenance equals a from-scratch recompute (including group deletes),
  * late attachment backfills, the contract is fixed at creation, and
  * fencing holds across re-replays. */
class MatViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val aggs = Seq(
    MatView.AggCol("n_turns", "count(*)"),
    MatView.AggCol("n_tool", "count(case when role = 'tool' then 1 end)"),
    MatView.AggCol("max_turn", "max(turn_idx)"),
    MatView.AggCol("last_lsn", "max(_lsn)"))

  private def changelog(name: String): String = {
    val dir = TestSpark.tmpDir(s"mv-cl-$name")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 4000, nConvs = 30, turnsPerConv = 6,
      pUpdate = 0.35, pDelete = 0.15, pDup = 0.1, segSize = 500))
    dir
  }

  /** From-scratch recompute of the declared view over the live main state. */
  private def oracle(main: LakeTable): Set[Row] =
    main.read().groupBy("conv_id").agg(
      expr("count(*)").as("n_turns"),
      expr("count(case when role = 'tool' then 1 end)").as("n_tool"),
      expr("max(turn_idx)").as("max_turn"),
      expr("max(_lsn)").as("last_lsn"))
      .collect().toSet

  private def viewRows(view: LakeTable): Set[Row] =
    view.read().select("conv_id", "n_turns", "n_tool", "max_turn", "last_lsn")
      .collect().toSet

  test("per-batch maintained view equals a from-scratch recompute;" +
      " replays are fenced") {
    val dir = changelog("basic")
    val main = new LakeTable(spark, TestSpark.tmpDir("mv-main"))
    val view = new LakeTable(spark, TestSpark.tmpDir("mv-view"))
    def driver() = new CdcDriver(spark, dir, main, segmentsPerBatch = 1,
      nBuckets = 8, quiet = true, matView = Some(view), matViewAggs = aggs)
    driver().run()
    assert(viewRows(view) == oracle(main))
    // deletes happened (pDelete) and the view has no stale groups
    assert(view.read().count() == main.read().select("conv_id").distinct().count())
    // exactly-once: a full re-replay changes nothing anywhere
    val vSnap = view.currentSnapshot.get.snapshotId
    assert(driver().run().forall(_.skipped))
    assert(view.currentSnapshot.get.snapshotId == vSnap)
    // view table is keyed by the group key
    assert(view.currentSnapshot.get.keySpec ==
      graft.model.Schemas.KeySpec(Seq("conv_id"), Seq("conv_id")))
  }

  test("late attachment backfills; crash-window lag heals at next run") {
    val dir = changelog("late")
    val main = new LakeTable(spark, TestSpark.tmpDir("mv-l-main"))
    // first half replays with NO view
    new CdcDriver(spark, dir, main, segmentsPerBatch = 1, nBuckets = 8,
      quiet = true).run(maxBatches = 4)
    val view = new LakeTable(spark, TestSpark.tmpDir("mv-l-view"))
    // attach mid-stream: catchUp backfills, then per-batch maintenance
    new CdcDriver(spark, dir, main, segmentsPerBatch = 1, nBuckets = 8,
      quiet = true, matView = Some(view), matViewAggs = aggs).run()
    assert(viewRows(view) == oracle(main))
    // standalone catch-up on a current view is a no-op
    val before = view.currentSnapshot.get.snapshotId
    MatView.catchUp(spark, main, view)
    assert(view.currentSnapshot.get.snapshotId == before)
  }

  test("contract is fixed at creation: differing aggs refused, typos fail" +
      " at declaration, new view without aggs refused") {
    val dir = changelog("contract")
    val main = new LakeTable(spark, TestSpark.tmpDir("mv-c-main"))
    val view = new LakeTable(spark, TestSpark.tmpDir("mv-c-view"))
    new CdcDriver(spark, dir, main, segmentsPerBatch = 2, nBuckets = 8,
      quiet = true, matView = Some(view), matViewAggs = aggs).run()
    val other = Seq(MatView.AggCol("n_turns", "count(distinct role)"))
    val e = intercept[IllegalArgumentException] {
      MatView.maintain(spark, main, view, Set(0),
        aggs = Some(MatView.Config(other)))
    }
    assert(e.getMessage.contains("contract"))
    // typo fails eagerly at declaration of a NEW view
    val fresh = new LakeTable(spark, TestSpark.tmpDir("mv-c-fresh"))
    intercept[Exception] {
      MatView.maintain(spark, main, fresh, Set(0), aggs = Some(
        MatView.Config(Seq(MatView.AggCol("x", "count((")))))
    }
    // a new view without a declared contract is refused
    val fresh2 = new LakeTable(spark, TestSpark.tmpDir("mv-c-fresh2"))
    intercept[IllegalArgumentException] {
      MatView.maintain(spark, main, fresh2, Set(0))
    }
  }

  test("snapshot cursor: epoch-neutral DML on main folds at the next" +
      " catch-up, no source batch needed") {
    val dir = changelog("dml")
    val main = new LakeTable(spark, TestSpark.tmpDir("mv-dml-main"))
    val view = new LakeTable(spark, TestSpark.tmpDir("mv-dml-view"))
    new CdcDriver(spark, dir, main, segmentsPerBatch = 1, nBuckets = 8,
      quiet = true, matView = Some(view), matViewAggs = aggs).run()
    assert(viewRows(view) == oracle(main))
    val epochBefore = main.currentSnapshot.get.epoch
    // DELETE WHERE is a maintenance merge: epoch KEPT, snapshot advances
    graft.sql.GraftDml.delete(main, "role = 'tool'")
    assert(main.currentSnapshot.get.epoch == epochBefore)
    assert(viewRows(view) != oracle(main)) // view is now stale
    MatView.catchUp(spark, main, view)
    assert(viewRows(view) == oracle(main)) // snapshot cursor saw the DML
    assert(MatView.syncedMainSnapshot(view) ==
      main.currentSnapshot.get.snapshotId)
  }

  test("a main-table rollback folds at the next catch-up") {
    val dir = changelog("rollback")
    val main = new LakeTable(spark, TestSpark.tmpDir("mv-rb-main"))
    val view = new LakeTable(spark, TestSpark.tmpDir("mv-rb-view"))
    def driver() = new CdcDriver(spark, dir, main, segmentsPerBatch = 1,
      nBuckets = 8, quiet = true, matView = Some(view), matViewAggs = aggs)
    driver().run(maxBatches = 2)
    val mark = main.currentSnapshot.get.snapshotId
    driver().run()
    main.rollbackTo(mark)
    assert(viewRows(view) != oracle(main)) // the view is now ahead
    MatView.catchUp(spark, main, view)
    assert(viewRows(view) == oracle(main))
    assert(MatView.syncedMainSnapshot(view) ==
      main.currentSnapshot.get.snapshotId)
  }

  test("view survives a main-table rebucket (layout divergence fallback)") {
    val dir = changelog("rebucket")
    val main = new LakeTable(spark, TestSpark.tmpDir("mv-r-main"))
    val view = new LakeTable(spark, TestSpark.tmpDir("mv-r-view"))
    def driver() = new CdcDriver(spark, dir, main, segmentsPerBatch = 1,
      nBuckets = 8, quiet = true, matView = Some(view), matViewAggs = aggs)
    driver().run(maxBatches = 4)
    graft.lake.Compaction.rebucket(main, 32)
    driver().run() // view catch-up crosses the rebucket, then per-batch
    assert(viewRows(view) == oracle(main))
  }
}
