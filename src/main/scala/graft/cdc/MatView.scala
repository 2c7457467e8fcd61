package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.{LakeIO, LakeTable}

/**
 * Incrementally-maintained MATERIALIZED VIEW: any set of Spark SQL
 * aggregate expressions grouped by the main table's bucket key, kept in
 * sync per batch at O(touched buckets) — the derived-aggregate shape next
 * to the inverted search index and the row-level replica. The reference
 * hand-writes one Flink job per derived aggregate
 * (ActivityAggregatesFunction, AssessmentAggregator, …); here a view is
 * DECLARED as `name=aggExpr` pairs and the engine owns the maintenance.
 * The conversation rollup `conv_agg` is one such declaration
 * ([[convAgg]]).
 *
 * Grouping is pinned to the main table's bucket columns: a group's rows
 * all live in one main bucket, so recomputing the groups of the TOUCHED
 * buckets from bucket-pruned state is exact — never a full scan, and
 * delete detection (groups whose last row vanished) prunes the same way
 * because the view table shares the main table's hash layout (bucket
 * count seeded at creation; a later divergence via rebucket of either
 * table falls back to a full view read).
 *
 * The agg list is the view's CONTRACT: persisted beside the table at
 * creation (matview-config.json, exclusive publish), parsed eagerly so a
 * typo fails at declaration, and refused if a later refresh passes a
 * different list (silently switching aggregates would leave stale columns
 * no refresh ever recomputes).
 *
 * The cursor is the one the search index and the replica use: the view's
 * epoch is the main snapshot id it folded plus 2, and every row a refresh
 * writes carries that value as its lsn. Main snapshot ids only grow, so
 * rollbacks, DML and migrations are ordinary forward changes: a replayed
 * refresh fences into a no-op, a newer one always wins LWW, and the view
 * never has to rewind with its source.
 */
object MatView {

  final case class AggCol(name: String, expr: String)
  final case class Config(aggs: Seq[AggCol])

  /** conv_agg: the per-conversation rollup of a transcript lake, with the
    * reference's map-valued column (test.cql:32-41 `agg map<text,int>`) as
    * `role_counts: map<string,int>`, roles in sorted order. */
  val convAgg: Config = Config(Seq(
    AggCol("n_turns", "cast(count(*) as int)"),
    AggCol("n_tool_turns",
      "cast(count(case when role = 'tool' then 1 end) as int)"),
    AggCol("max_turn_idx", "max(turn_idx)"),
    AggCol("last_lsn", "max(_lsn)"),
    AggCol("role_counts", "map_from_entries(transform(" +
      "array_sort(array_distinct(collect_list(role))), r -> " +
      "struct(r, size(filter(collect_list(role), x -> x = r)))))")))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def configPath(view: LakeTable): String =
    s"${view.root}/meta/matview-config.json"

  /** Last main-table snapshot folded into the view (encoded in its epoch;
    * -1 before the first refresh). */
  def syncedMainSnapshot(view: LakeTable): Long =
    view.currentSnapshot.map(_.epoch - 2).getOrElse(-1L)

  /** The persisted view contract, None before the first maintenance. */
  def config(view: LakeTable): Option[Config] = {
    val p = configPath(view)
    if (!LakeIO.exists(p)) None
    else Some(mapper.readValue(LakeIO.readBytes(p), classOf[Config]))
  }

  private def persistConfig(spark: SparkSession, view: LakeTable,
                            cfg: Config): Config = {
    require(cfg.aggs.nonEmpty, "a materialized view needs at least one " +
      "aggregate column (name=aggExpr)")
    val names = cfg.aggs.map(_.name)
    require(names.distinct == names, s"duplicate view column in $names")
    // parse NOW: a typo must fail at declaration, not inside maintenance
    // (functions.expr is lazy in the unified-Column API — use the parser)
    cfg.aggs.foreach(a => spark.sessionState.sqlParser.parseExpression(a.expr))
    LakeIO.mkdirs(s"${view.root}/meta")
    if (!LakeIO.publishExclusive(configPath(view),
        mapper.writeValueAsBytes(cfg)))
      config(view).getOrElse(
        throw new IllegalStateException("concurrent view creation raced"))
    else cfg
  }

  /** Recompute the view rows of all groups in main-table `buckets` and
    * upsert them into `viewLake` as of the main lake's current snapshot;
    * groups with no remaining live row become deletes. A view already at
    * that snapshot is fenced into a no-op. `aggs` declares a NEW view's
    * contract; an existing view's persisted contract is authoritative and a
    * differing `aggs` is refused. */
  def maintain(
      spark: SparkSession,
      mainLake: LakeTable,
      viewLake: LakeTable,
      buckets: Set[Int],
      aggs: Option[Config] = None): CdcApply.ApplyStats =
    refresh(spark, mainLake, mainLake.currentSnapshot.getOrElse(
      throw new IllegalStateException(
        s"${mainLake.root} has no snapshot — nothing to maintain from")),
      viewLake, buckets, aggs)

  /** Bring the view up to the main lake's current snapshot: recompute the
    * buckets whose manifests changed since the snapshot it last folded.
    * Heals a crash between a main commit and its refresh, backfills a view
    * attached after the fact, and folds every kind of main commit (source
    * batches, DML, migrations, rollbacks) alike. No-op when current. */
  def catchUp(spark: SparkSession, mainLake: LakeTable, viewLake: LakeTable,
              aggs: Option[Config] = None): Unit = {
    val synced = syncedMainSnapshot(viewLake)
    val snaps = mainLake.snapshotsFrom(synced)
    snaps.lastOption.filter(_.snapshotId > synced).foreach { head =>
      refresh(spark, mainLake, head, viewLake,
        changedBuckets(snaps, synced), aggs)
    }
  }

  /** Buckets whose manifests changed after snapshot `since`, given the
    * retained snapshots from `since` on (oldest first) — O(snapshots ×
    * buckets) metadata compare, no manifest loads. Diffing runs over
    * CONSECUTIVE RETAINED snapshots, so expired history accumulates into the
    * first retained pair (a superset — safe); a first snapshot whose parent
    * is gone diffs against None = all its buckets. Falls back to ALL
    * current buckets when the table was re-bucketed inside the range
    * (old-space ids no longer address current buckets). */
  private def changedBuckets(snaps: Seq[graft.lake.Snapshot],
                             since: Long): Set[Int] = {
    val head = snaps.last
    val changed = snaps.zip(None +: snaps.map(Some(_)))
      .filter(_._1.snapshotId > since)
    if (changed.exists(_._1.nBuckets != head.nBuckets))
      (0 until head.nBuckets).toSet
    else changed.flatMap { case (s, parentOpt) =>
      val parentRefs = parentOpt
        .map(_.manifests.map(r => r.bucket -> r.path).toMap)
        .getOrElse(Map.empty[Int, String])
      s.manifests.filter(r => !parentRefs.get(r.bucket).contains(r.path))
        .map(_.bucket)
    }.toSet
  }

  /** [[maintain]] stamped with `mainSnap`, read before the buckets were
    * chosen: the state read sees that snapshot or a newer one, so the view
    * never claims a main snapshot it has not folded. */
  private def refresh(
      spark: SparkSession,
      mainLake: LakeTable,
      mainSnap: graft.lake.Snapshot,
      viewLake: LakeTable,
      buckets: Set[Int],
      aggs: Option[Config]): CdcApply.ApplyStats = {
    val groupCols = mainSnap.keySpec.bucketCols
    val cfg = config(viewLake) match {
      case Some(stored) =>
        aggs.filter(_ != stored).foreach { a =>
          throw new IllegalArgumentException(
            s"view contract mismatch: stored ${stored.aggs}, passed " +
            s"${a.aggs} — a view's aggregate list is fixed at creation")
        }
        stored
      case None => persistConfig(spark, viewLake, aggs.getOrElse(
        throw new IllegalArgumentException(
          s"${viewLake.root} is a new view: pass its aggregate list")))
    }
    require(!cfg.aggs.exists(a => groupCols.contains(a.name)),
      s"agg column names collide with group key $groupCols")

    val mainBuckets = mainSnap.nBuckets
    val state0 = mainLake.readBuckets(Some(buckets))
    val state =
      if (mainSnap.mor && state0.columns.contains("_lsn"))
        graft.plans.LwwResolve.resolve(state0, mainSnap.keySpec, mainBuckets,
          spark.sessionState.conf.numShufflePartitions)
      else state0
    val live = if (state.columns.contains("_tombstone"))
      state.filter(!col("_tombstone")) else state

    val upserts = live.groupBy(groupCols.map(col): _*)
      .agg(expr(cfg.aggs.head.expr).as(cfg.aggs.head.name),
        cfg.aggs.tail.map(a => expr(a.expr).as(a.name)): _*)

    // groups in the touched buckets whose every live row vanished → deletes
    val viewNB = viewLake.currentSnapshot.map(_.nBuckets)
    val deleted = viewNB match {
      case None => None // empty view: nothing to delete
      case Some(n) =>
        val existing =
          if (n == mainBuckets) viewLake.readBuckets(Some(buckets))
          else viewLake.readBuckets(None) // layouts diverged: full read
        val liveView =
          if (existing.columns.contains("_tombstone"))
            existing.filter(!col("_tombstone"))
          else existing
        Some(liveView
          .select(groupCols.map(col): _*)
          .filter(CdcApply.bucketOfCols(groupCols.map(col), mainBuckets)
            .isin(buckets.toSeq.map(Integer.valueOf): _*))
          .join(upserts.select(groupCols.map(col): _*), groupCols, "left_anti"))
    }

    val evUpserts = upserts.withColumn("op", lit("U"))
    val batch0 = deleted match {
      case None => evUpserts
      case Some(d) =>
        evUpserts.unionByName(d.withColumn("op", lit("D")),
          allowMissingColumns = true)
    }
    val epoch = mainSnap.snapshotId + 2
    val batch = batch0
      .withColumn("_lsn", lit(epoch))
      .withColumn("_src_part", lit(0))
      .withColumn("_src_off", lit(epoch))

    // The batch is engine-synthesized (keys from lake state, ops literal):
    // skip the validation count, hand the lineage over directly, and — when
    // the bucket layouts are aligned — hand over the touched buckets too
    // (every group comes from main buckets `buckets`, and alignment makes
    // its view bucket the same id). One Spark job: the merge write.
    val hint = if (viewNB.forall(_ == mainBuckets)) Some(buckets) else None
    CdcApply.apply(viewLake, batch, epoch, nBuckets = mainBuckets,
      probeInfo = Some(CdcApply.ProbeInfo(0L,
        Seq(graft.lake.PartitionLineage(0, epoch, epoch)))),
      validate = false, touchedHint = hint,
      keys = graft.model.Schemas.KeySpec(groupCols, groupCols))
  }
}
