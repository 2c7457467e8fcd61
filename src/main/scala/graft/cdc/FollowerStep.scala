package graft.cdc

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable
import graft.search.SearchIndex

/**
 * Derived-state upkeep after each commit, shared by the batch driver and the
 * streaming tailer: the aggregate table, the materialized view, the search
 * index and the replica follow the lake, the MoR fold policy runs, and
 * retention expires what no follower still needs.
 *
 * Every follower is catch-up by construction (fenced no-op when current), so
 * one `catchUp` heals a crash that landed between a main commit and its
 * upkeep, backfills a follower attached after the fact, and stands in for
 * per-batch upkeep on a skipped (fenced) batch.
 *
 * Retention reads the followers' cursors instead of guessing a floor: the
 * index and the replica diff from the source snapshot they last folded, so
 * the lake keeps every snapshot from the lower of the two up to its head
 * (snapshot ids are dense). The aggregate table and the view recompute
 * touched buckets and fall back to a superset when history is gone
 * (Derived.missedBucketsWhere), so they set no floor. Each derived table
 * keeps `keepSnapshots` of its own history.
 */
private[cdc] final class FollowerStep(
    spark: SparkSession,
    aggLake: Option[LakeTable],
    matView: Option[LakeTable],
    matViewAggs: Seq[MatView.AggCol],
    searchIndex: Option[LakeTable],
    indexCompactChain: Int,
    indexEvery: Int,
    replica: Option[LakeTable],
    replicaWhere: String,
    replicaCols: Seq[String],
    keepSnapshots: Int,
    morCompactChain: Int) {

  private val matViewCfg =
    if (matViewAggs.nonEmpty) Some(MatView.Config(matViewAggs)) else None
  private var appliedBatches = 0L

  /** Bring every follower up to the lake's current snapshot. */
  def catchUp(lake: LakeTable): Unit = {
    aggLake.foreach(AggMaintenance.catchUp(spark, lake, _))
    matView.foreach(MatView.catchUp(spark, lake, _, matViewCfg))
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
      // derived tables key on the COMMITTED global epoch (distinct from the
      // per-source epoch when several feeds interleave)
      if (stats.touchedSet.nonEmpty) {
        aggLake.foreach(AggMaintenance.maintain(spark, lake, _,
          stats.touchedSet, stats.snapshot.epoch))
        matView.foreach(MatView.maintain(spark, lake, _, stats.touchedSet,
          stats.snapshot.epoch, aggs = matViewCfg))
      }
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
      (aggLake ++ matView ++ replica).foreach(_.expireSnapshots(keepSnapshots))
    }
}
