package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Minimal accessor for `Dataset.ofRows` (private[sql]) so graft can wrap a
  * custom logical operator ([[graft.plans.SortedLwwDedup]]) into a public
  * DataFrame. Lives under `org.apache.spark.sql` purely for the access
  * qualifier — the standard extension-point pattern for third-party
  * operators that compose with the public Dataset API. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The persisted RDD behind an eager `localCheckpoint` result (the
    * LogicalRDD its plan wraps), so iterative operators can release a
    * superseded checkpoint generation PRECISELY. The alternative — diffing
    * `sc.getPersistentRDDs` around the checkpoint call — captures RDDs
    * persisted concurrently by other threads on the shared context and
    * unpersists someone else's live checkpoint (unrecoverable: truncated
    * lineage cannot recompute). */
  def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }

  /** A BATCH DataFrame's rows as a STREAMING DataFrame with the given
    * schema — what a V1 streaming `Source.getBatch` must return
    * (MicroBatchExecution asserts `isStreaming`). The rows stay a lazy
    * distributed RDD (`queryExecution.toRdd`), nothing is collected; this
    * is the same construction the built-in Kafka source uses
    * (`internalCreateDataFrame(rdd, schema, isStreaming = true)`). */
  def streamingDataFrame(spark: SparkSession, batch: DataFrame,
                         schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = batch.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd
    classic.internalCreateDataFrame(rdd, schema, isStreaming = true)
  }

  /** A streaming DataFrame that THROWS `msg` when (and only when) its rows
    * are computed — for a V1 source whose batch range has become
    * unserviceable: returning it keeps harmless plan-only engine calls
    * working (restart recovery re-fetches the last committed batch and
    * discards it unexecuted) while any genuine consumer of the rows fails
    * loudly. */
  def streamingPoisonFrame(spark: SparkSession,
                           schema: org.apache.spark.sql.types.StructType,
                           msg: String): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val poison = spark.sparkContext.parallelize(Seq(0), 1)
      .mapPartitions[org.apache.spark.sql.catalyst.InternalRow] { _ =>
        throw new IllegalStateException(msg)
      }
    classic.internalCreateDataFrame(poison, schema, isStreaming = true)
  }

  /** The rows a V1 streaming `Sink.addBatch` receives, re-wrapped as a
    * plain BATCH DataFrame that downstream batch operators (the CDC merge)
    * can drive with their own actions. The incoming frame is bound to the
    * micro-batch's IncrementalExecution — re-planning it in a new query
    * would re-analyze streaming leaves — so we lift its executed rows
    * (`queryExecution.toRdd`, still a lazy distributed RDD; nothing is
    * collected) exactly the way the built-in ForeachBatchSink does
    * (`LogicalRDD.fromDataset(data.queryExecution.toRdd, …,
    * isStreaming = false)`). */
  def batchDataFrame(spark: SparkSession, data: DataFrame): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd
    classic.internalCreateDataFrame(rdd, data.schema, isStreaming = false)
  }

  /** Start `src` into a V1 `sink` instance (append mode), as
    * `DataStreamWriter` starts its built-in `ForeachBatchSink`. */
  def startSink(src: DataFrame, sink: Sink, checkpointDir: String,
                trigger: Trigger): StreamingQuery = {
    val ds = src.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sessionState.streamingQueryManager.startQuery(None,
      Some(checkpointDir), ds, Map.empty, sink, OutputMode.Append(),
      trigger = trigger)
  }

  /** Catalyst Expression -> public Column, for operators that rewrite a
    * parsed expression tree before use — e.g. CHECK constraints
    * substituting NULL for table columns a batch doesn't carry yet
    * (CdcApply.checkColumn). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The reverse direction: a public Column's Catalyst expression, for
    * composing built-in column arithmetic INTO a custom native expression
    * (e.g. the zone-scaled lanes feeding `BitInterleave64`). */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
