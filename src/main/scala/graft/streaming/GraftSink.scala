package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.cdc.{CdcStream, FeedStep, FollowerStep}
import graft.lake.{LakeIO, LakeTable}
import graft.model.Schemas

/**
 * The lake as a first-class Structured Streaming SINK:
 *
 * {{{
 *   events.writeStream.format("graft-lake")
 *     .option("path", "/data/transcripts")
 *     .option("checkpointLocation", ckpt)
 *     .start()
 * }}}
 *
 * Each micro-batch runs the batch driver's per-batch step
 * ([[graft.cdc.FeedStep]]: the epoch-fenced CDC MERGE, then the
 * [[graft.cdc.FollowerStep]] upkeep) and prints its JSON stats line on
 * stderr. The V1 sink is at-least-once (a crashed batch is re-delivered
 * with the same batchId); the commit epoch is batchId + 1, so the epoch
 * fence makes it exactly-once. The checkpoint⇄lake binding refuses a fresh
 * checkpoint against a populated lake, as CdcStream does. The CdcStream
 * tailer writes through this sink; with the `graft-changes` SOURCE on one
 * lake and this sink on another, a lake→transform→lake cascade is plain
 * `readStream → select → writeStream`, exactly-once at both ends (see
 * [[GraftCascade]]; the reference wires this job-by-job, each Flink job
 * consuming AND re-emitting Kafka topics, FlinkKafkaConnector.scala:13-18).
 *
 * Input contract = the changelog-event shape (CdcApply): `op` plus the
 * business/key columns, `_lsn` as the global version, `_src_part`/`_src_off`
 * lineage. Through this provider the rows are an arbitrary transformed
 * stream, not files — so no footer fast path: the merge pays the one probe
 * pass a JSON feed pays (BASELINE.md round-3 JSON numbers). Only the
 * tailer's sink probes its changelog files' footers (`probeInput`).
 *
 * Options (contract values seed a NEW lake; an existing lake's stored
 * contract is authoritative, exactly like the batch driver):
 *   nbuckets, salt       — bucket layout / skew salting for the merge
 *   keycols, bucketcols  — csv KeySpec seed (default transcripts)
 *   patch                — accept op='P' partial-column patches
 *   changefeed           — per-batch delta classification (default true)
 *   mor                  — merge-on-read seed; `morchain` bounds chains
 *   keep                 — expire all but the newest N snapshots per batch
 *   source               — named feed: per-source fencing (multi-feed)
 */
class GraftSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft buckets on the table's key spec — partitionBy is not the knob")
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft sink requires .option(\"path\", <lake root>)"))
    val ckpt = parameters.getOrElse("checkpointLocation",
      throw new IllegalArgumentException(
        "graft sink requires .option(\"checkpointLocation\", …) — its " +
        "exactly-once fence is the checkpointed batchId"))
    val keys = (parameters.get("keycols"), parameters.get("bucketcols")) match {
      case (None, None) => Schemas.KeySpec.transcripts
      case (Some(kc), bc) =>
        val keyCols = kc.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val bucketCols = bc.map(_.split(",").map(_.trim).filter(_.nonEmpty)
          .toSeq).getOrElse(keyCols)
        Schemas.KeySpec(bucketCols, keyCols)
      case (None, Some(_)) => throw new IllegalArgumentException(
        "bucketcols without keycols — pass both (or neither for the " +
        "transcripts default)")
    }
    val spark = sqlContext.sparkSession
    LakeIO.mkdirs(path)
    val lake = new LakeTable(spark, path)
    // refuse a fresh checkpoint against a populated lake before any batch
    val source = parameters.get("source").filter(_.nonEmpty)
    CdcStream.bindOrRefuse(lake, ckpt, source)
    new GraftSink(new FeedStep(lake,
      nBuckets = parameters.get("nbuckets").map(_.toInt).getOrElse(64),
      saltBuckets = parameters.get("salt").map(_.toInt).getOrElse(0),
      patchEnabled = parameters.get("patch").exists(_.toBoolean),
      changeFeed = parameters.get("changefeed").forall(_.toBoolean),
      mor = parameters.get("mor").exists(_.toBoolean),
      source = source, partBase = 0,
      followers = new FollowerStep(spark,
        keepSnapshots = parameters.get("keep").map(_.toInt).getOrElse(0),
        morCompactChain = parameters.get("morchain").map(_.toInt).getOrElse(16)),
      keys = keys))
  }
}

/** `probeInput`: the batch's input files are changelog files to footer-probe
  * (the tailer). `onBatch`: test-only fault hook, run before the merge. */
private[graft] class GraftSink(
    step: FeedStep,
    probeInput: Boolean = false,
    onBatch: Long => Unit = _ => ()) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    onBatch(batchId)
    val probe = if (probeInput) step.probeFiles(data.inputFiles.toSeq) else None
    // the lake's session, not the micro-batch's: an observe completes only
    // in the session that registered it, where the merge's plan is rooted
    val stats = step.apply(
      GraftBridge.batchDataFrame(step.lake.spark, data), batchId + 1, probe)
    // stderr, so a CLI's stdout stays a clean JSON protocol
    System.err.println(stats.json(batchId + 1))
  }

  override def toString: String = s"GraftSink[${step.lake.root}]"
}
