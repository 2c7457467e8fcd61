package graft.cdc

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable
import graft.streaming.GraftSink

/**
 * Structured Streaming front-end for the same MERGE: tails the changelog
 * directory with the built-in file source and writes it through the
 * `graft-lake` sink, which applies each micro-batch with the driver's
 * [[FeedStep]] — footer probe of the batch's files included (JSON and flat
 * `seg=N/` feeds fall back to the merge's probe scan). The V1 sink is
 * at-least-once — after a crash the last batch can be re-delivered with the
 * same batchId — and the epoch fence makes it exactly-once (the reference's
 * at-least-once Kafka sinks + conditional writes,
 * FlinkKafkaConnector.scala:18 + AssessmentAggregatorFunction.scala:138-162).
 *
 * Epochs: streaming batchIds restart at the checkpoint, so they are offset
 * by +1 (epoch = batchId + 1) to keep epoch 0 meaning "nothing applied".
 * Because epochs are checkpoint-relative, the lake records which checkpoint
 * drives it (LakeTable.bindStream): pairing a FRESH checkpoint with a
 * populated lake would restart batchIds at 0 and silently fence every
 * early batch — the binding check turns that data-loss footgun into a loud
 * failure at start.
 *
 * Triggers: `Trigger.AvailableNow` drains the current backlog and exits
 * (deterministic replay); `Trigger.ProcessingTime(interval)` is the live
 * always-on tailer (reference analogue: the count-or-timeout hybrid
 * trigger, jobs-core CountTriggerWithTimeout.scala:15-48 — size batching
 * maps to maxFilesPerTrigger, the timeout to the processing interval).
 */
object CdcStream {

  /** Start the tailer and return the query handle (caller owns stop). */
  def start(
      spark: SparkSession,
      changelogDir: String,
      lake: LakeTable,
      checkpointDir: String,
      schema: StructType,
      nBuckets: Int = 64,
      saltBuckets: Int = 0,
      maxFilesPerTrigger: Int = 16,
      /** optional derived conv_agg table: the [[MatView.convAgg]]
        * materialized view, caught up per micro-batch like `matView` */
      aggLake: Option[LakeTable] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      patchEnabled: Boolean = false,
      changeFeed: Boolean = true,
      /** optional secondary search index, refreshed per micro-batch —
        * the reference mirrors entity updates into Elasticsearch from the
        * same stream (ElasticSearchUtil.scala:62-106); refresh is catch-up
        * by construction, so fenced/replayed batches self-heal */
      searchIndex: Option[LakeTable] = None,
      /** auto-compact the index once any bucket's delta chain reaches this
        * many segments (LSM merge policy; 0 = never) */
      indexCompactChain: Int = 16,
      /** refresh the index every N applied micro-batches (1 = per batch;
        * see CdcDriver.indexEvery — the refresh is a net snapshot diff, so
        * batching amortizes the posting fan-out). A live tailer's index
        * lags at most N batches; a query drained from `start` may leave it
        * mid-window until the next start catches it up ([[run]] catches up
        * when it ends, as does the `index` CLI). Retention keeps the
        * index's diff base (see keepSnapshots). */
      indexEvery: Int = 1,
      /** expire all but the newest N snapshots after each micro-batch
        * (0 = keep everything), never one an attached follower still diffs
        * from — see CdcDriver.keepSnapshots */
      keepSnapshots: Int = 0,
      /** merge-on-read ingest (seeds a NEW lake; an existing lake's stored
        * mode wins — see CdcApply `mor`) */
      mor: Boolean = false,
      /** automatic LSM merge policy for a MoR lake: fold any bucket whose
        * delta chain reached this many segments (0 = never) */
      morCompactChain: Int = 16,
      /** optional filtered/projected row-level replica (graft.cdc.Replica),
        * refreshed per micro-batch — the contract persists with the
        * replica; where/cols seed a NEW one */
      replica: Option[LakeTable] = None,
      replicaWhere: String = "",
      replicaCols: Seq[String] = Nil,
      /** optional generalized materialized view (graft.cdc.MatView),
        * maintained per micro-batch; aggs seed a NEW view's contract */
      matView: Option[LakeTable] = None,
      matViewAggs: Seq[MatView.AggCol] = Nil,
      /** MULTI-FEED: name this tailer's feed — it binds its checkpoint
        * and fences per source (snapshot.sourceEpochs), so several
        * tailers/replays interleave into one table. Pair with a distinct
        * partBase; lsn stays the global LWW version (see CdcDriver). */
      source: Option[String] = None,
      partBase: Int = 0,
      /** test-only fault hook, invoked per micro-batch BEFORE the merge —
        * lets specs inject a transient failure to exercise supervision */
      onBatch: Long => Unit = _ => (),
      /** changelog segment format: "parquet" or "json" (Debezium-style
        * envelopes via JsonChangelog — `schema` is ignored; the sidecar
        * types the rows). */
      format: String = "parquet"): StreamingQuery =
    tail(spark, changelogDir, checkpointDir, schema, maxFilesPerTrigger,
      trigger, onBatch, format, new FeedStep(lake, nBuckets, saltBuckets,
        patchEnabled, changeFeed, mor, source, partBase, new FollowerStep(
          spark, aggLake, matView, matViewAggs, searchIndex,
          indexCompactChain, indexEvery, replica, replicaWhere, replicaCols,
          keepSnapshots, morCompactChain)))

  /** [[start]] with its per-batch step already built, so [[run]] can reuse
    * one step across restarts and catch it up after a drain. */
  private def tail(
      spark: SparkSession,
      changelogDir: String,
      checkpointDir: String,
      schema: StructType,
      maxFilesPerTrigger: Int,
      trigger: Trigger,
      onBatch: Long => Unit,
      format: String,
      step: FeedStep): StreamingQuery = {
    bindOrRefuse(step.lake, checkpointDir, step.source)
    // Follower reconciliation: a crash between a main commit and its
    // upkeep leaves a follower behind while the replayed batch fences, and
    // a drained run may end mid index window — catch up from the commit
    // log before tailing.
    step.catchUp()
    val src =
      if (format == "json") {
        val rs = graft.changelog.JsonChangelog.rowSchema(changelogDir)
        graft.changelog.JsonChangelog.project(
          spark.readStream
            .schema(graft.changelog.JsonChangelog.envelopeSchema(rs))
            .option("mode", "PERMISSIVE") // corrupt lines → quarantine
            .option("maxFilesPerTrigger", maxFilesPerTrigger)
            .option("recursiveFileLookup", "true")
            .json(changelogDir), rs)
      } else spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        // recursive lookup: tails both flat `seg=N/` and sharded
        // `seg=N/p=P/` archive layouts without partition-column inference
        .option("recursiveFileLookup", "true")
        .parquet(changelogDir)
    GraftBridge.startSink(src,
      new GraftSink(step, probeInput = format != "json", onBatch),
      checkpointDir, trigger)
  }

  /** Run to termination (AvailableNow: drain-and-exit; a live trigger runs
    * until the caller stops the query) under fixed-delay restart
    * supervision: a failed stream (one transient FS hiccup would otherwise
    * end the deployment) restarts from its checkpoint up to
    * `restartAttempts` times, `restartDelayMs` apart (0 attempts = start
    * once and rethrow a failure) — the reference runs every job under
    * exactly this policy (jobs-core base-config.conf:27-28
    * `restart-strategy fixed-delay, attempts 3, delay 30s`;
    * FlinkUtil.scala:37). A successful stop (caller
    * `stop()`, or AvailableNow drain) ends supervision; a batch that keeps
    * failing exhausts the attempts and rethrows the LAST failure loudly.
    * Progress RESETS the attempt budget (any committed batch means the
    * stream is healthy again), so a long-lived tailer doesn't die on the
    * 4th transient hiccup of its lifetime. After a successful stop every
    * follower is caught up to the lake head. */
  def run(
      spark: SparkSession,
      changelogDir: String,
      lake: LakeTable,
      checkpointDir: String,
      schema: StructType,
      nBuckets: Int = 64,
      saltBuckets: Int = 0,
      maxFilesPerTrigger: Int = 16,
      aggLake: Option[LakeTable] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      patchEnabled: Boolean = false,
      changeFeed: Boolean = true,
      searchIndex: Option[LakeTable] = None,
      indexCompactChain: Int = 16,
      indexEvery: Int = 1,
      keepSnapshots: Int = 0,
      restartAttempts: Int = 0,
      restartDelayMs: Long = 30000L,
      mor: Boolean = false,
      morCompactChain: Int = 16,
      replica: Option[LakeTable] = None,
      replicaWhere: String = "",
      replicaCols: Seq[String] = Nil,
      matView: Option[LakeTable] = None,
      matViewAggs: Seq[MatView.AggCol] = Nil,
      source: Option[String] = None,
      partBase: Int = 0,
      onBatch: Long => Unit = _ => (),
      format: String = "parquet"): Unit = {
    val step = new FeedStep(lake, nBuckets, saltBuckets, patchEnabled,
      changeFeed, mor, source, partBase, new FollowerStep(spark, aggLake,
        matView, matViewAggs, searchIndex, indexCompactChain, indexEvery,
        replica, replicaWhere, replicaCols, keepSnapshots, morCompactChain))
    var attempt = 0
    var running = true
    while (running) {
      val epochBefore = lake.currentSnapshot.map(_.epoch).getOrElse(0L)
      val q = tail(spark, changelogDir, checkpointDir, schema,
        maxFilesPerTrigger, trigger, onBatch, format, step)
      try {
        q.awaitTermination()
        running = false // clean termination (drain done or caller stop)
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          val progressed =
            lake.currentSnapshot.map(_.epoch).getOrElse(0L) > epochBefore
          if (progressed) attempt = 0
          attempt += 1
          if (attempt > restartAttempts) throw e
          System.err.println(
            s"[CdcStream] stream failed (attempt $attempt/$restartAttempts)," +
            s" restarting from checkpoint in ${restartDelayMs}ms: " +
            s"${e.getMessage}")
          Thread.sleep(restartDelayMs)
      }
    }
    // batched refresh: a drain may end mid index window — like
    // CdcDriver.run, a completed run leaves every follower current
    step.catchUp()
  }

  /** Enforce the one-lake-one-checkpoint pairing. The checkpoint side
    * carries `graft-binding.json` (created here on first use); the lake side
    * stores the same id in its metadata (LakeTable.bindStream). Every
    * mismatch — fresh checkpoint against a populated lake, a checkpoint
    * with history against an unbound lake, or two different checkpoints —
    * fails loudly instead of silently fencing new data. */
  private[graft] def bindOrRefuse(lake: LakeTable, checkpointDir: String,
                                  source: Option[String]): Unit = {
    graft.lake.LakeIO.mkdirs(checkpointDir)
    val f = s"$checkpointDir/graft-binding.json"
    val ckptId =
      if (!graft.lake.LakeIO.exists(f)) {
        val id = UUID.randomUUID().toString
        // exclusive publish: two racing stream starts agree on one identity
        graft.lake.LakeIO.publishExclusive(f,
          s"""{"checkpointId":"$id"}""".getBytes("UTF-8"))
        new String(graft.lake.LakeIO.readBytes(f), "UTF-8") match {
          case s =>
            """"checkpointId"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s)
              .map(_.group(1)).getOrElse(id)
        }
      } else {
        val s = new String(graft.lake.LakeIO.readBytes(f), "UTF-8")
        """"checkpointId"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s)
          .map(_.group(1))
          .getOrElse(throw new IllegalStateException(
            s"unreadable checkpoint binding $f"))
      }
    val srcKey = source.getOrElse("")
    lake.streamBinding(srcKey) match {
      case Some(bound) if bound == ckptId => // matched pairing: resume
      case Some(bound) =>
        throw new IllegalStateException(
          s"lake ${lake.root} is bound to checkpoint $bound" +
          (if (srcKey.isEmpty) "" else s" for source $srcKey") +
          s" but $checkpointDir carries $ckptId — streaming epochs are " +
          "checkpoint-relative, so a different checkpoint would silently " +
          "fence its batches; use the original checkpoint or a fresh lake")
      // a NAMED source fences on its own per-source epoch, so a fresh
      // checkpoint is safe as long as THIS source has no prior progress —
      // a populated table built by other feeds is fine
      case None if source.isDefined =>
        if (lake.currentSnapshot.exists(_.sourceEpoch(source.get) > 0))
          throw new IllegalStateException(
            s"refusing fresh checkpoint $checkpointDir: source " +
            s"${source.get} already progressed to epoch " +
            s"${lake.currentSnapshot.get.sourceEpoch(source.get)} in " +
            s"${lake.root}; its batchIds would restart at 0 and every " +
            "early batch would be silently fenced (dropped)")
        lake.bindStream(ckptId, srcKey)
      case None if lake.currentSnapshot.isEmpty =>
        lake.bindStream(ckptId) // first pairing: fresh lake + this checkpoint
      case None
        if graft.lake.LakeIO.list(s"$checkpointDir/offsets").nonEmpty =>
        // populated lake + a checkpoint that already has streaming history
        // but predates the binding feature: this is the lake's original
        // checkpoint resuming — backfill the binding instead of bricking it
        System.err.println(
          s"[CdcStream] backfilling stream binding for ${lake.root} from " +
          s"pre-binding checkpoint $checkpointDir")
        lake.bindStream(ckptId)
      case None =>
        throw new IllegalStateException(
          s"refusing fresh checkpoint $checkpointDir against populated " +
          s"unbound lake ${lake.root}: batchIds would restart at 0 and " +
          "every early batch would be silently fenced (dropped); stream " +
          "into a fresh lake, or keep using the batch driver for this one")
    }
  }
}
