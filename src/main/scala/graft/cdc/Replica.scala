package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{ChangeFeedReader, LakeIO, LakeTable}

/**
 * Row-level filtered/projected REPLICA table, maintained incrementally from
 * the main lake's change feed — the third derived-table shape next to the
 * materialized views (MatView, conv_agg among them) and the inverted search
 * index (SearchIndex). The reference mirrors entity subsets from the same
 * stream that feeds the primary store: user-cache-updater-2.0 projects user
 * rows into Redis hashes (UserMetadataUpdater.scala:58-84), and the ES sinks
 * keep a projected document subset searchable
 * (ElasticSearchUtil.scala:49-156).
 * Here the mirror is a second LakeTable with the SAME key contract as the
 * source, holding `SELECT keyCols, cols FROM source WHERE predicate`.
 *
 * Maintenance is catch-up by construction: a refresh diffs the source
 * between the replica's last-synced snapshot and the current one
 * (ChangeFeedReader.between — O(changed buckets), never a source rescan)
 * and routes the per-key outcome through the normal epoch-fenced MERGE:
 *
 *   - post-image matches the predicate            → upsert of the projection
 *   - post-image does NOT match (row LEFT the set) → delete (no-op when the
 *     key was never in the replica — blind deletes are exactly-once safe)
 *   - source key deleted                           → delete
 *
 * Epochs encode the synced source snapshot (+2, like SearchIndex), so a
 * replayed refresh is fenced into a no-op, and a crash between a source
 * commit and its replica refresh self-heals at the next refresh. LSNs are
 * the refresh epoch itself: one row per key per refresh means no in-batch
 * conflict, and epochs are monotone across refreshes, so replica-internal
 * LWW always prefers the newer sync (the source's own per-key lsn ordering
 * is already folded into the feed's post-image).
 *
 * The (predicate, cols) pair is the replica's CONTRACT: persisted beside
 * the table at creation (replica-config.json, exclusive publish) and
 * refused if a later refresh passes something different — silently
 * switching predicates would strand rows that no refresh would ever
 * retract (same discipline as the search index's stop list).
 */
object Replica {

  final case class Config(predicate: String, cols: Seq[String])

  final case class RefreshStats(
      fromSnapshot: Long, toSnapshot: Long, rowsApplied: Long,
      stats: CdcApply.ApplyStats)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def configPath(replica: LakeTable): String =
    s"${replica.root}/replica-config.json"

  /** The persisted replica contract, None before the first refresh. */
  def config(replica: LakeTable): Option[Config] = {
    val p = configPath(replica)
    if (!LakeIO.exists(p)) None
    else Some(mapper.readValue(LakeIO.readBytes(p), classOf[Config]))
  }

  private def persistConfig(replica: LakeTable, cfg: Config): Config = {
    LakeIO.mkdirs(replica.root)
    LakeIO.publishExclusive(configPath(replica),
      mapper.writeValueAsBytes(cfg))
    // publishExclusive never overwrites: a crashed earlier creation may
    // have persisted a DIFFERENT contract — surface it, don't shadow it
    config(replica).get
  }

  /** Last source snapshot folded into the replica (encoded in its epoch). */
  def syncedSourceSnapshot(replica: LakeTable): Long =
    replica.currentSnapshot.map(_.epoch - 2).getOrElse(-1L)

  /** Catch the replica up to the source's current snapshot. Returns None
    * when the source is empty or the replica is already current. */
  def refresh(
      spark: SparkSession,
      source: LakeTable,
      replica: LakeTable,
      predicate: String,
      cols: Seq[String],
      nBuckets: Int = 64): Option[RefreshStats] = {
    val srcSnap = source.currentSnapshot.getOrElse(return None)
    val cfg = config(replica) match {
      case None => persistConfig(replica, Config(predicate, cols))
      case Some(stored) => stored
    }
    require(cfg == Config(predicate, cols),
      s"replica ${replica.root} was created with $cfg; refreshing with " +
      s"(${predicate}, $cols) would strand rows the old contract admitted " +
      "— rebuild the replica (drop its directory) to change it")

    val from = syncedSourceSnapshot(replica)
    if (from >= srcSnap.snapshotId) return None // already current
    require(source.snapshots.exists(_.snapshotId == from) || from < 0,
      s"replica is at source snapshot $from which has been expired from " +
      s"${source.root}; rebuild the replica or expire less aggressively")

    val ks = srcSnap.keySpec
    require(!cols.exists(ks.keyCols.contains),
      s"cols must not repeat the key columns ${ks.keyCols} (projected " +
      "automatically)")

    val feed = ChangeFeedReader.between(spark, source, from,
      srcSnap.snapshotId, imageCols = cols)
    val epoch = srcSnap.snapshotId + 2

    // post-image projection under the source column names, so the
    // predicate reads naturally (e.g. "role = 'assistant' AND ts >= ...")
    val post = feed.select(
      (ks.keyCols.map(col) :+ col("action")) ++
        cols.map(c => col(s"post_$c").as(c)): _*)
    val matches = coalesce(expr(predicate).cast("boolean"), lit(false))
    val batch = post.select(
      (when(col("action") === "deleted" || !matches, lit("D"))
        .otherwise(lit("U")).as("op") +:
        ks.keyCols.map(col)) ++
        cols.map(col) ++ Seq(
          lit(epoch).as("_lsn"),
          lit(0).as("_src_part"),
          lit(epoch).as("_src_off")): _*)

    val stats = CdcApply.apply(replica, batch, epoch, nBuckets, keys = ks)
    Some(RefreshStats(from, srcSnap.snapshotId, stats.rowsIn, stats))
  }

  /** Pipeline wiring: refresh under the PERSISTED contract when the caller
    * passes none (the steady-state per-batch call); a first refresh needs
    * both `predicate` and `cols`. Catch-up by construction either way. */
  def refreshAttached(
      spark: SparkSession,
      source: LakeTable,
      replica: LakeTable,
      predicate: String = "",
      cols: Seq[String] = Nil,
      nBuckets: Int = 64): Option[RefreshStats] =
    (config(replica), predicate.nonEmpty || cols.nonEmpty) match {
      case (Some(cfg), false) =>
        refresh(spark, source, replica, cfg.predicate, cfg.cols, nBuckets)
      case (_, _) =>
        require(predicate.nonEmpty && cols.nonEmpty,
          s"a new replica at ${replica.root} needs both a predicate " +
          "(rwhere=) and projected columns (rcols=)")
        refresh(spark, source, replica, predicate, cols, nBuckets)
    }
}
