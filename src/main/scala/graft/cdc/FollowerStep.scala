package graft.cdc

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable
import graft.search.SearchIndex

/**
 * Derived-state upkeep after each commit, shared by every front end through
 * [[FeedStep]]: the materialized views (conv_agg is one), the search index
 * and the replica follow the lake, the MoR fold policy runs, and retention
 * expires what no follower still needs.
 *
 * Every follower is catch-up by construction (fenced no-op when current), so
 * one `catchUp` heals a crash that landed between a main commit and its
 * upkeep, backfills a follower attached after the fact, and stands in for
 * per-batch upkeep on a skipped (fenced) batch. Every follower keeps the same
 * cursor, the lake snapshot id it last folded plus 2 as its epoch, so
 * rollbacks, DML and migrations on the lake are ordinary forward changes.
 *
 * Retention reads the followers' cursors instead of guessing a floor: the
 * index and the replica diff from the source snapshot they last folded, so
 * the lake keeps every snapshot from the lower of the two up to its head
 * (snapshot ids are dense). A view recomputes the buckets changed since its
 * cursor and falls back to a superset when history is gone, so views set no
 * floor. Each derived table keeps `keepSnapshots` of its own history.
 */
private[graft] final class FollowerStep(
    spark: SparkSession,
    aggLake: Option[LakeTable] = None,
    matView: Option[LakeTable] = None,
    matViewAggs: Seq[MatView.AggCol] = Nil,
    searchIndex: Option[LakeTable] = None,
    indexCompactChain: Int = 16,
    indexEvery: Int = 1,
    replica: Option[LakeTable] = None,
    replicaWhere: String = "",
    replicaCols: Seq[String] = Nil,
    keepSnapshots: Int = 0,
    morCompactChain: Int = 16) {

  private val views: Seq[(LakeTable, Option[MatView.Config])] =
    aggLake.map(_ -> Some(MatView.convAgg)).toSeq ++ matView.map(_ ->
      (if (matViewAggs.nonEmpty) Some(MatView.Config(matViewAggs)) else None))
  private var appliedBatches = 0L

  /** Bring every follower up to the lake's current snapshot. */
  def catchUp(lake: LakeTable): Unit = {
    views.foreach { case (v, cfg) => MatView.catchUp(spark, lake, v, cfg) }
    searchIndex.foreach(refreshIndex(lake, _))
    replica.foreach(refreshReplica(lake, _))
  }

  /** Upkeep after one batch's commit (applied or fenced). */
  def afterCommit(lake: LakeTable, stats: CdcApply.ApplyStats): Unit = {
    if (stats.skipped) catchUp(lake)
    else {
      // LSM merge policy: bound the MoR delta chains before derived-table
      // work (the fold is a maintenance commit at the same epoch)
      if (lake.currentSnapshot.exists(_.mor))
        CdcApply.maybeFold(lake, morCompactChain)
      // a view diffs from its own cursor, so one refresh folds the batch
      // and any fold or concurrent commit since
      views.foreach { case (v, cfg) => MatView.catchUp(spark, lake, v, cfg) }
      // batched refresh: the index refresh is a net snapshot diff, so
      // refreshing every indexEvery batches amortizes the posting fan-out
      appliedBatches += 1
      if (appliedBatches % math.max(indexEvery, 1) == 0)
        searchIndex.foreach(refreshIndex(lake, _))
      replica.foreach(refreshReplica(lake, _))
    }
    retain(lake)
  }

  private def refreshIndex(lake: LakeTable, index: LakeTable): Unit = {
    SearchIndex.refresh(spark, lake, index)
    SearchIndex.maybeCompact(index, indexCompactChain, keepSnapshots)
  }

  private def refreshReplica(lake: LakeTable, rep: LakeTable): Unit =
    Replica.refreshAttached(spark, lake, rep, replicaWhere, replicaCols)

  /** Expire all but the newest `keepSnapshots` snapshots of the lake and of
    * each derived table (0 = keep everything), never the lake snapshot a
    * diffing follower still reads from. */
  private def retain(lake: LakeTable): Unit =
    if (keepSnapshots > 0) {
      val cursors = (searchIndex.map(SearchIndex.indexedSourceSnapshot) ++
        replica.map(Replica.syncedSourceSnapshot)).filter(_ >= 0)
      val needed =
        if (cursors.isEmpty) 0
        else lake.currentSnapshot
          .fold(0)(h => (h.snapshotId - cursors.min + 1).toInt)
      lake.expireSnapshots(math.max(keepSnapshots, needed))
      (views.map(_._1) ++ replica).foreach(_.expireSnapshots(keepSnapshots))
    }
}
