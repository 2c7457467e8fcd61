package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.{CdcApply, MatView}
import graft.search.SearchIndex

/** Snapshot rollback (the bad-batch undo) and retention-proof tags:
  * epoch rewind lets corrected batches replay at the undone epochs,
  * snapshot-diff followers (search index, derived aggregates) self-heal
  * with no rollback of their own, and tagged snapshots survive any expire
  * policy. */
class RollbackSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def batch(rows: Seq[(String, Int, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "text", "_lsn")
      .withColumn("op", lit("U"))
      .withColumn("role", lit("user"))
      .withColumn("_src_part", (col("_lsn") % 4).cast("int"))
      .withColumn("_src_off", col("_lsn"))
  }

  private def w1 = (0 until 12).flatMap { c =>
    (0 until 3).map(t => (f"conv$c%02d", t, s"alpha bravo c$c t$t", (c * 3 + t).toLong))
  }
  // the "bad" second batch: garbage text overwriting half the convs
  private def bad = (0 until 6).map(c => (f"conv$c%02d", 0, "CORRUPT", (100 + c).toLong))
  // the corrected second batch (same epoch slot after rollback)
  private def fixed = (0 until 6).map(c => (f"conv$c%02d", 0, s"charlie c$c", (100 + c).toLong))

  private def stateOf(lake: LakeTable): Set[String] =
    lake.read().select("conv_id", "turn_idx", "text", "_lsn")
      .collect().map(_.toString).toSet

  test("rollback undoes a bad batch; the corrected batch replays at the" +
      " undone epoch; time travel still shows the bad state") {
    for (mor <- Seq(false, true)) {
      val lake = new LakeTable(spark, TestSpark.tmpDir(s"rb-basic-$mor"))
      CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8, mor = mor)
      val good = lake.currentSnapshot.get
      val goodState = stateOf(lake)

      CdcApply.apply(lake, batch(bad), epoch = 2, nBuckets = 8, mor = mor)
      val badSnap = lake.currentSnapshot.get
      assert(stateOf(lake) != goodState)

      val rb = lake.rollbackTo(good.snapshotId)
      assert(rb.epoch == good.epoch, "epoch must rewind with the state")
      assert(rb.snapshotId == badSnap.snapshotId + 1,
        "rollback is a NEW snapshot, ids stay monotone")
      assert(stateOf(lake) == goodState)

      // the corrected batch applies at the very epoch the bad one consumed
      val st = CdcApply.apply(lake, batch(fixed), epoch = 2, nBuckets = 8,
        mor = mor)
      assert(!st.skipped, "the rewound fence must admit the corrected epoch")
      val texts = lake.read().filter(col("turn_idx") === 0)
        .select("conv_id", "text").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      (0 until 6).foreach(c => assert(texts(f"conv$c%02d") == s"charlie c$c"))
      assert(!texts.values.exists(_ == "CORRUPT"))

      // history intact until expired: the bad snapshot is still addressable
      val atBad = lake.readAt(badSnap.snapshotId)
        .filter(col("text") === "CORRUPT").count()
      assert(atBad == 6)
    }
  }

  test("tags are retention-proof and serve as rollback targets") {
    val lake = new LakeTable(spark, TestSpark.tmpDir("rb-tags"))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8)
    val pinned = lake.tag("audit-2024")
    val goodState = stateOf(lake)

    // churn: many epochs + aggressive retention
    (2 to 6).foreach { e =>
      CdcApply.apply(lake, batch(Seq((f"conv${e}0", 0, s"noise$e", 200L + e))),
        epoch = e, nBuckets = 8)
      lake.expireSnapshots(1)
    }
    assert(lake.snapshots.map(_.snapshotId).contains(pinned),
      "a tagged snapshot must survive expireSnapshots(1)")
    assert(lake.readTag("audit-2024").count() == 12 * 3)

    lake.rollbackTo(pinned)
    assert(stateOf(lake) == goodState)

    // immutability + untag-then-expire reclaims
    intercept[CommitConflictException] { lake.tag("audit-2024") }
    assert(lake.untag("audit-2024"))
    val (expired, _) = lake.expireSnapshots(1)
    assert(expired > 0, "untagged snapshots expire normally")
    assert(!lake.snapshots.map(_.snapshotId).contains(pinned))
  }

  test("snapshot-diff follower (search index) self-heals across a rollback") {
    val lake = new LakeTable(spark, TestSpark.tmpDir("rb-idx-lake"))
    val index = new LakeTable(spark, TestSpark.tmpDir("rb-idx-index"))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8)
    SearchIndex.refresh(spark, lake, index, nBuckets = 8)
    val good = lake.currentSnapshot.get

    CdcApply.apply(lake, batch(bad), epoch = 2, nBuckets = 8)
    SearchIndex.refresh(spark, lake, index, nBuckets = 8)
    assert(SearchIndex.search(spark, index, Seq("corrupt")).count() > 0)

    lake.rollbackTo(good.snapshotId)
    assert(SearchIndex.refresh(spark, lake, index, nBuckets = 8).isDefined,
      "the refresh must see the rollback snapshot as ordinary changes")
    assert(SearchIndex.search(spark, index, Seq("corrupt")).count() == 0,
      "postings of rolled-back rows must retract")
    assert(SearchIndex.search(spark, index, Seq("alpha"), topK = 100)
      .count() == 12 * 3)
  }

  test("derived aggregate follows a rollback through its snapshot cursor") {
    val lake = new LakeTable(spark, TestSpark.tmpDir("rb-agg-lake"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("rb-agg-agg"))
    def catchUp(view: LakeTable): Unit =
      MatView.catchUp(spark, lake, view, Some(MatView.convAgg))
    def rows(view: LakeTable): Set[String] = view.read()
      .select("conv_id", "n_turns", "max_turn_idx", "last_lsn", "role_counts")
      .collect().map(_.toString).toSet
    def freshBuild(name: String): Set[String] = {
      val fresh = new LakeTable(spark, TestSpark.tmpDir(name))
      catchUp(fresh)
      rows(fresh)
    }
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8)
    catchUp(agg)
    val good = lake.currentSnapshot.get

    CdcApply.apply(lake, batch(bad), epoch = 2, nBuckets = 8)
    catchUp(agg)
    val badRows = rows(agg)

    // main rolls back (epoch rewinds to 1); the agg is not rolled back:
    // its next catch-up folds the revert as one more forward change
    lake.rollbackTo(good.snapshotId)
    catchUp(agg)
    assert(rows(agg) == freshBuild("rb-agg-fresh1"))
    assert(rows(agg) != badRows)

    // the corrected batch re-applies at the undone epoch and is folded too
    val st3 = CdcApply.apply(lake, batch(fixed), epoch = 2, nBuckets = 8)
    assert(!st3.skipped)
    catchUp(agg)
    assert(rows(agg) == freshBuild("rb-agg-fresh2"),
      "agg after rollback + catch-up must equal a fresh build")
  }

  test("rollback refuses a missing/expired target and loses races loudly") {
    val lake = new LakeTable(spark, TestSpark.tmpDir("rb-refuse"))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8)
    intercept[NoSuchElementException] { lake.rollbackTo(999L) }
    intercept[IllegalArgumentException] {
      lake.rollbackTo(lake.currentSnapshot.get.snapshotId)
    }
  }
}
