package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/** Lake-to-lake cross-entity migration (reference merge-user-courses:
  * anti-join migrate + merge colliding rows, MergeOperations.scala:49,78-99)
  * as an engine operation with full CDC guarantees. */
class CrossMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("conversation merge: anti-join migrate, LWW collisions, source gone") {
    val dir = TestSpark.tmpDir("xm-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 4000, nConvs = 20, turnsPerConv = 8,
      pUpdate = 0.3, pDelete = 0.05, pDup = 0.05, segSize = 1000))
    val lake = new LakeTable(spark, TestSpark.tmpDir("xm-lake"))
    new CdcDriver(spark, dir, lake, 2, 8, quiet = true).run()

    // pick two conversations that both exist and overlap on some turns
    val convs = lake.read().select("conv_id").distinct()
      .orderBy("conv_id").limit(2).collect().map(_.getString(0))
    val Array(from, to) = convs
    def turnsOf(c: String) = lake.read().filter(col("conv_id") === c)
      .collect().map(r => r.getAs[Int]("turn_idx") ->
        ((r.getAs[Long]("_lsn"), r.getAs[String]("text")))).toMap
    val fromTurns = turnsOf(from)
    val toTurns = turnsOf(to)
    assert(fromTurns.nonEmpty && toTurns.nonEmpty)
    val epochBefore = lake.currentSnapshot.get.epoch

    val stats = CrossMerge.mergeConversations(lake, Seq(from -> to))
    assert(!stats.skipped)
    // maintenance semantics: migrations never consume source-epoch space
    // (an epoch bump would fence the NEXT changelog segment — data loss)
    assert(lake.currentSnapshot.get.epoch == epochBefore)

    // source conversation fully consumed
    assert(lake.read().filter(col("conv_id") === from).isEmpty)
    // target = union with per-turn LWW winner by ORIGINAL lsn
    val got = turnsOf(to).map { case (t, (_, text)) => t -> text }
    val want = (fromTurns.keySet ++ toTurns.keySet).map { t =>
      val winner = (fromTurns.get(t), toTurns.get(t)) match {
        case (Some((fl, ft)), Some((tl, tt))) => if (fl > tl) ft else tt
        case (Some((_, ft)), None) => ft
        case (None, Some((_, tt))) => tt
        case _ => fail("unreachable")
      }
      t -> winner
    }.toMap
    assert(got == want)

    // the merge went through the normal change-feed accounting
    assert(stats.actions.getOrElse("deleted", 0L) == fromTurns.size)
    // idempotent: the source is consumed, so re-running is a no-op
    val again = CrossMerge.mergeConversations(lake, Seq(from -> to))
    assert(again.skipped || again.rowsOut == 0)
    assert(CdcOracle.tableState(lake.read()).keySet
      .forall(_._1 != from))
    // and the lake still accepts the NEXT source batch (nothing fenced)
    val next = spark.range(1).select(
      org.apache.spark.sql.functions.lit("I").as("op"),
      org.apache.spark.sql.functions.lit("conv-post-merge").as("conv_id"),
      org.apache.spark.sql.functions.lit(0).as("turn_idx"),
      org.apache.spark.sql.functions.lit("user").as("role"),
      org.apache.spark.sql.functions.lit("after").as("text"),
      org.apache.spark.sql.functions.lit(null).cast("string").as("tool"),
      org.apache.spark.sql.functions.lit("2024-01-01").cast("timestamp").as("ts"),
      org.apache.spark.sql.functions.lit(99999999L).as("_lsn"),
      org.apache.spark.sql.functions.lit(0).as("_src_part"),
      org.apache.spark.sql.functions.lit(99999999L).as("_src_off"))
    val nstats = CdcApply.apply(lake, next,
      epoch = lake.currentSnapshot.get.epoch + 1, nBuckets = 8)
    assert(!nstats.skipped && nstats.actions.getOrElse("inserted", 0L) == 1L)
    // the synthesized lineage partition is marked as engine-internal
    assert(lake.currentSnapshot.get.lineage.exists(_.srcPart == -1))
  }

  test("derived conv_agg follows a migration at the next catch-up") {
    val dir = TestSpark.tmpDir("xm2-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 10, turnsPerConv = 6,
      pUpdate = 0.3, pDelete = 0.05, segSize = 1000))
    val lake = new LakeTable(spark, TestSpark.tmpDir("xm2-lake"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("xm2-agg"))
    new CdcDriver(spark, dir, lake, 2, 8, quiet = true,
      aggLake = Some(agg)).run()
    val convs = lake.read().select("conv_id").distinct()
      .orderBy("conv_id").limit(2).collect().map(_.getString(0))
    CrossMerge.mergeConversations(lake, Seq(convs(0) -> convs(1)))
    // migrations are epoch-neutral; the snapshot cursor still sees them
    MatView.catchUp(spark, lake, agg)

    val got = agg.read().select("conv_id", "n_turns").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val want = lake.read().groupBy("conv_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toMap
    assert(got == want)
    assert(!got.contains(convs(0)))
  }
}
