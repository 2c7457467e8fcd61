package graft.cdc

import org.apache.spark.sql.SparkSession

import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/**
 * Deterministic incremental driver: tails a changelog directory of
 * `seg=N/` parquet segments and applies them to the lake table in
 * micro-batches of `segmentsPerBatch` segments.
 *
 * The checkpoint IS the lake commit log: each snapshot's `epoch` is the
 * number of source segments applied so far, so resume-after-kill needs no
 * side state — a fresh driver reads the current snapshot and continues from
 * `epoch` (reference analogue: Flink checkpoint + store-checksum-after-write,
 * FlinkUtil.scala:16-32 + CollectionProgressCompleteFunction.scala:58-62;
 * ours is strictly stronger because data+position commit atomically).
 *
 * Per-batch metrics (rows/sec) are printed as one JSON line each and stored
 * in the snapshot metadata (north rule: per-batch rows/sec + lineage).
 */
final class CdcDriver(
    spark: SparkSession,
    changelogDir: String,
    lake: LakeTable,
    segmentsPerBatch: Int = 4,
    nBuckets: Int = 64,
    saltBuckets: Int = 0,
    quiet: Boolean = false,
    /** optional derived conv_agg table, maintained after every batch
      * (AggMaintenance) under the same epoch fencing */
    aggLake: Option[LakeTable] = None,
    /** the feed contains op='P' partial-column patch events */
    patchEnabled: Boolean = false,
    /** classify + count per-row change actions (CdcApply change feed);
      * turn off for pure-ingest throughput */
    changeFeed: Boolean = true,
    /** optional secondary search index (graft.search.SearchIndex postings
      * table), refreshed after every batch from the change-feed images —
      * the reference mirrors every entity update into Elasticsearch from
      * the same stream (ElasticSearchUtil.scala:62-106) */
    searchIndex: Option[LakeTable] = None,
    /** auto-compact the index once any bucket's delta chain reaches this
      * many segments (LSM merge policy; 0 = never — manual CLI only) */
    indexCompactChain: Int = 16,
    /** refresh the search index every N applied batches instead of every
      * batch (1 = per batch). The refresh is a NET snapshot diff, so
      * batching both amortizes the fixed posting-write fan-out (one
      * bucketed delta write per refresh, not per batch) and indexes a
      * hot key's text ONCE per window instead of once per update — the
      * posting write amplification that capped index-on replay
      * throughput. A completed run ends with a catch-up refresh, so it
      * leaves the index current; retention keeps the index's diff base
      * (see keepSnapshots). */
    indexEvery: Int = 1,
    /** snapshot retention: after each batch, expire all but the newest N
      * snapshots of the lake (and derived agg table), reclaiming data files
      * only they reference. 0 = keep everything (manual `expire` CLI).
      * Copy-on-write retains every superseded bucket file until expiry, so
      * an unbounded-history 10^10-event replay would hold O(batches x
      * touched data) on disk; retention bounds that at O(N x table).
      * Trade: time travel / snapshot-diff change feeds reach back only N
      * snapshots. Retention also keeps every lake snapshot an attached
      * follower still diffs from: the search index and the replica record
      * the source snapshot they last folded, and nothing at or after the
      * lower of the two expires (crash windows included). Derived tables
      * keep N snapshots of their own history. */
    keepSnapshots: Int = 0,
    /** merge-on-read ingest (seeds a NEW table; an existing table's stored
      * mode wins): batches append per-bucket delta files instead of
      * rewriting touched buckets — O(batch) writes for update-heavy trickle
      * feeds into a large table; readers resolve LWW over the chain. See
      * CdcApply `mor`. */
    mor: Boolean = false,
    /** automatic LSM merge policy for a MoR lake: after each batch, fold
      * any bucket whose delta chain reached this many segments
      * (CdcApply.maybeFold; 0 = never — manual CLI `fold` only). */
    morCompactChain: Int = 16,
    /** optional filtered/projected row-level replica (graft.cdc.Replica),
      * refreshed after every batch from the change feed — the reference
      * mirrors entity subsets into Redis/ES from the same stream. The
      * contract persists with the replica; where/cols seed a NEW one. */
    replica: Option[LakeTable] = None,
    replicaWhere: String = "",
    replicaCols: Seq[String] = Nil,
    /** optional generalized materialized view (graft.cdc.MatView): SQL
      * aggregates grouped by the bucket key, maintained after every batch
      * at O(touched buckets). `matViewAggs` declares a NEW view's contract
      * (name=aggExpr pairs); an existing view's persisted contract wins. */
    matView: Option[LakeTable] = None,
    matViewAggs: Seq[MatView.AggCol] = Nil,
    /** MULTI-FEED ingest: name this driver's feed and it fences on its own
      * per-source epoch (snapshot.sourceEpochs) — several drivers tailing
      * DIFFERENT changelogs interleave into one table, each exactly-once.
      * Pair with a distinct `partBase` per feed so lineage stays
      * per-(feed, partition). The feeds own lsn comparability: lsn is the
      * global LWW version across all of them. */
    source: Option[String] = None,
    /** added to every `_src_part` (data column AND lineage) — the
      * namespace that keeps two feeds' partition ids distinct. */
    partBase: Int = 0,
    /** changelog segment format: "parquet" (default — footer-derived
      * probe/schema/lineage, the performance path) or "json"
      * (Debezium-style envelopes, graft.changelog.JsonChangelog — pays a
      * parse per event and the merge's fallback probe scan; corrupt lines
      * quarantine). */
    format: String = "parquet") {

  private val followers = new FollowerStep(spark, aggLake, matView,
    matViewAggs, searchIndex, indexCompactChain, indexEvery, replica,
    replicaWhere, replicaCols, keepSnapshots, morCompactChain)
  private val feed = new FeedProbe(lake, partBase)

  /** Apply up to `maxBatches` pending micro-batches; returns per-batch stats.
    * Safe to call again after a crash or mid-run stop. */
  def run(maxBatches: Int = Int.MaxValue): Seq[CdcApply.ApplyStats] = {
    // Follower catch-up: a crash between a main commit and its upkeep
    // leaves a follower behind while the main batch is fenced on resume —
    // reconcile from the lake commit log (also the path that backfills a
    // follower attached after the fact).
    followers.catchUp(lake)
    val segs = ChangelogGen.listSegments(changelogDir)
    // EPOCH-DOMAIN GUARDS (round-3 advice): epochs are only comparable
    // within one driver discipline. An UNNAMED replay resumes from the
    // scalar epoch — on a multi-feed table that is a global commit COUNTER
    // (advances per commit across all feeds), not a segment cursor, so a
    // plain replay would silently skip segments and report them drained.
    // Likewise a source whose epochs were minted by a streaming checkpoint
    // (batchId-based) must not be advanced by segment-based batch epochs.
    lake.currentSnapshot.foreach { s =>
      if (source.isEmpty && s.sourceEpochsOrEmpty.nonEmpty)
        throw new IllegalStateException(
          s"${lake.root} is ingested by NAMED sources " +
          s"(${s.sourceEpochsOrEmpty.keys.toSeq.sorted.mkString(",")}): an " +
          "unnamed replay would resume from the global commit counter and " +
          "skip segments — name this feed (source=...)")
    }
    val boundCkpt = lake.streamBinding(source.getOrElse(""))
    if (boundCkpt.isDefined)
      throw new IllegalStateException(
        s"${lake.root} source '${source.getOrElse("")}' is bound to " +
        s"streaming checkpoint ${boundCkpt.get}: its epochs are " +
        "checkpoint-relative batchIds, not segment cursors — drive it with " +
        "CdcStream (or use a differently-named source for batch backfill)")
    val applied = lake.currentSnapshot.map(s =>
      source match {
        case Some(id) => s.sourceEpoch(id) // per-feed resume cursor
        case None => s.epoch
      }).getOrElse(0L)
    val pending = segs.filter(_ >= applied)
    val out = scala.collection.mutable.ArrayBuffer[CdcApply.ApplyStats]()
    pending.grouped(segmentsPerBatch).take(maxBatches).foreach { group =>
      val paths = group.map(s => s"$changelogDir/seg=$s")
      val probe =
        if (format == "json") None // no footers; merge runs its probe scan
        else CdcApply.phase("driver-footer-probe") {
          feed.probe(FooterProbe.fromSegDirs(paths, _, _))
        }
      // The footer probe already read every file's footer — its embedded
      // Spark schema JSONs give the batch's (additively merged) schema for
      // free, so the usual distributed mergeSchema inference job (a serial
      // per-batch cost that Amdahl-limits scaling) only runs as a fallback.
      val batch0 = CdcApply.phase("driver-read-schema") {
        if (format == "json")
          graft.changelog.JsonChangelog.readSegments(spark, paths, changelogDir)
        else probe.flatMap(p => FooterProbe.mergedSchema(p.schemaJsons)) match {
          case Some(sc) => spark.read.schema(sc)
            .option("basePath", changelogDir).parquet(paths: _*)
          case None => spark.read
            .option("mergeSchema", "true") // additive evolution across segments
            .option("basePath", changelogDir) // seg=/p= dirs share one root
            .parquet(paths: _*)
        }
      }
      // `seg=`/`p=` path dirs (sharded binlog layout) surface as partition
      // columns duplicating the data; their real job is footer probing
      val batch = feed.shift(batch0.drop("p", "seg"))
      // epoch = exclusive upper segment bound -> fencing token
      val epoch = group.max + 1
      val stats = CdcApply.apply(lake, batch, epoch, nBuckets, saltBuckets,
        probeInfo = probe, patchEnabled = patchEnabled,
        changeFeed = changeFeed, mor = mor, source = source)
      followers.afterCommit(lake, stats)
      out += stats
      if (!quiet) {
        val s = stats
        val cf = Seq("inserted", "updated", "deleted", "delete_noop", "carried")
          .map(k => s""""$k":${s.actions.getOrElse(k, 0L)}""").mkString(",")
        println(
          s"""{"batchEpoch":$epoch,"snapshotId":${s.snapshot.snapshotId},""" +
          s""""rowsIn":${s.rowsIn},"rowsOut":${s.rowsOut},""" +
          s""""failedEvents":${s.failedEvents},""" +
          s""""touchedBuckets":${s.touchedBuckets},""" +
          f""""durationSec":${s.durationSec}%.3f,"rowsPerSec":${s.eventsPerSec}%.1f,""" +
          s""""skipped":${s.skipped},"changeFeed":{$cf}}""")
      }
    }
    // batched refresh: the window may end mid-cycle — a completed run
    // leaves every follower current (fenced no-op when it is)
    followers.catchUp(lake)
    out.toSeq
  }
}
