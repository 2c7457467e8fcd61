package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.lake.{DataFileMeta, LakeIO, ParquetFooters}

/** The lake's one data-file writer: writes a frame's rows as parquet under
  * `dataDir/b=<bucket>/` and returns each file's manifest entry.
  *
  * The lake commits by publishing a snapshot that lists its files, into a
  * data dir no other write uses ([[graft.lake.LakeTable.newDataDir]]), so
  * Hadoop's output-commit protocol (`_temporary` attempt dirs, a rename per
  * task, `_SUCCESS`) and the driver-side re-listing and footer re-read
  * after it are redundant. Here each task writes straight to the final
  * path and returns the [[DataFileMeta]] of every file it closed, read
  * from the footer it just wrote; only the attempts the job accepted are
  * returned, so a manifest built from the result never lists a file of a
  * failed or duplicate attempt. The Hadoop conf that
  * `ParquetFileFormat.prepareWrite` fills (field ids, timestamp type,
  * blooms, codec — all as `DataFrameWriter.parquet` would set them) is
  * built once on the driver and broadcast, instead of being shipped and
  * decoded inside every task.
  *
  * Lives under `org.apache.spark.sql` for the classic-API access it needs
  * (the frame's `QueryExecution`, `SQLExecution`, `SerializableConfiguration`);
  * Spark treats frames of this package as its own, so a job's call site
  * still names the engine file that asked for the write. */
object BucketWriter {

  /** The execution name of every write; a `QueryExecutionListener` sees it
    * as `funcName`. */
  val ExecutionName = "graftBucketWrite"

  /** The files written, in task order, and the frame's named `observe`
    * metrics as this write's execution computed them. */
  final case class Written(files: Seq[DataFileMeta], observed: Map[String, Row])

  /** Write `df` (an int column `b` plus the data columns) into `dataDir`, a
    * fresh directory this write owns. Each task starts a new file when `b`
    * changes and every `maxRecordsPerFile` rows (the option, else the
    * session's `spark.sql.files.maxRecordsPerFile`), so rows clustered by
    * `b` within a partition give one file per bucket per task. A failed
    * task deletes the files it wrote; a failed job also deletes `dataDir`.
    * Key min/max are recorded for `statsCol` when the frame types it as a
    * string (lookup pruning compares strings). */
  def write(df: DataFrame, dataDir: String, statsCol: String,
            options: Map[String, String] = Map.empty): Written = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val spark = qe.sparkSession
    val schema = df.schema
    val bIndex = schema.fieldIndex("b")
    val dataSchema = StructType(schema.fields.patch(bIndex, Nil, 1))
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val job = Job.getInstance(hadoopConf)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, options, dataSchema)
    val maxRecords = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxRecordsPerFile") => v.toLong
    }.getOrElse(spark.sessionState.conf.maxRecordsPerFile)
    val dir = LakeIO.fs(dataDir).makeQualified(new Path(dataDir)).toString
    val conf = SerializableConfiguration.broadcast(spark.sparkContext,
      job.getConfiguration)
    val task = new WriteTask(factory, conf, schema, bIndex, dataSchema,
      Some(statsCol).filter(c => dataSchema.exists(f =>
        f.name == c && f.dataType == StringType)),
      maxRecords, dir, java.util.UUID.randomUUID().toString)
    try {
      val files = SQLExecution.withNewExecutionId(qe, Some(ExecutionName)) {
        val rdd = qe.toRdd
        spark.sparkContext.runJob(rdd, task.run _).toSeq.flatten
      }
      Written(files, qe.observedMetrics)
    } catch {
      case t: Throwable =>
        try LakeIO.delete(dataDir) catch { case NonFatal(e) => t.addSuppressed(e) }
        throw t
    } finally conf.destroy()
  }

  private final class WriteTask(
      factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration],
      schema: StructType,
      bIndex: Int,
      dataSchema: StructType,
      stringCol: Option[String],
      maxRecords: Long,
      dir: String,
      writeId: String) extends Serializable {

    def run(ctx: TaskContext, rows: Iterator[InternalRow]): Seq[DataFileMeta] = {
      val attempt = new TaskAttemptID(new TaskID(new JobID(writeId, 0),
        TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
      val hadoop = new TaskAttemptContextImpl(conf.value.value, attempt)
      val taskConf: Configuration = hadoop.getConfiguration
      val project = UnsafeProjection.create(schema.fields.indices
        .filter(_ != bIndex)
        .map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)))
      val closed = ArrayBuffer[(String, Int)]()
      var writer: OutputWriter = null
      var path: String = null
      var bucket = 0
      var n = 0L
      def close(): Unit = if (writer != null) {
        writer.close()
        writer = null
        closed += path -> bucket
      }
      try {
        while (rows.hasNext) {
          val row = rows.next()
          val b = row.getInt(bIndex)
          if (writer == null || b != bucket || (maxRecords > 0 && n >= maxRecords)) {
            close()
            bucket = b
            n = 0
            path = f"$dir/b=$b/part-${ctx.partitionId()}%05d-$writeId-" +
              f"a${ctx.attemptNumber()}-c${closed.size}%03d.parquet"
            writer = factory.newInstance(path, dataSchema, hadoop)
          }
          writer.write(project(row))
          n += 1
        }
        close()
        closed.toSeq.map { case (p, b) =>
          ParquetFooters.dataFileMeta(LakeIO.pathString(new Path(p)), b,
            stringCol, taskConf)
        }
      } catch {
        case t: Throwable =>
          if (writer != null)
            try writer.close() catch { case NonFatal(e) => t.addSuppressed(e) }
          (closed.map(_._1) ++ Option(path)).distinct.foreach { p =>
            try {
              val hp = new Path(p)
              hp.getFileSystem(taskConf).delete(hp, false)
            } catch { case NonFatal(e) => t.addSuppressed(e) }
          }
          throw t
      }
    }
  }
}
