package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.types.Metadata

import graft.lake.{Branch, LakeTable, Snapshot}
import graft.sources.{GraftCatalog, GraftInputPartition, GraftTable}

/**
 * SQL/DataFrame surface over a graft lake. `GraftSql.table(spark, dir)`
 * returns a plain DataFrame (register it as a temp view and it is plain
 * SQL) planned by the catalog's own DSv2 scan ([[graft.sources.GraftTable]]
 * / [[graft.sources.GraftScan]]) without any session catalog config: WHERE
 * clauses file-prune (zone maps, bucket + key range, bloom/dictionary
 * membership), claimed conjuncts unlock metadata COUNT/MIN/MAX, equally
 * sharded lakes join without a shuffle, and merge-on-read chains resolve
 * inside the reader. The pruning the CLI `range`/`lookup` paths do
 * explicitly happens implicitly for any WHERE clause. The reference's
 * equivalent read surface is direct Cassandra partition-key reads
 * (jobs-core CassandraUtil.scala:29-77) — restated here as
 * predicate-to-file pruning so it composes with the whole relational
 * algebra rather than a point-get API.
 *
 * Snapshot isolation: the relation pins the snapshot current at
 * `table()` time; concurrent commits don't shift results mid-query.
 * Re-create the DataFrame (or view) to see newer data.
 */
object GraftSql {

  /** The lake's live rows as a DataFrame whose WHERE clauses file-prune.
    * `asOf >= 0` time-travels to that snapshot (it must not be expired).
    * Internal `_tombstone` is hidden (as in [[LakeTable.read]]); `_lsn`,
    * `_src_part` and `_src_off` stay visible as ordinary columns (the V2
    * table exposes them as metadata columns), in snapshot schema order. */
  def table(spark: SparkSession, root: String, asOf: Long = -1L): DataFrame = {
    val lake = new LakeTable(spark, root)
    val s =
      if (asOf < 0) lake.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"no snapshot committed in $root"))
      else lake.snapshots.find(_.snapshotId == asOf).getOrElse(
        throw new NoSuchElementException(
          s"no snapshot $asOf in $root (expired or never committed)"))
    // the catalog doubles as the FunctionCatalog that resolves the table's
    // `bucket` transform — storage-partitioned joins need it
    val rel = DataSourceV2Relation.create(new GraftTable(lake, s),
      Some(new GraftCatalog), Some(Identifier.of(Array.empty, root)))
      .withMetadataColumns()
    // empty metadata: the engine columns' attributes carry Spark's
    // metadata-column marker, which must not leak into the public schema
    val out = s.schema.fields.toSeq.filterNot(_.name == "_tombstone").map { f =>
      Alias(rel.output.find(_.name == f.name).get, f.name)(
        explicitMetadata = Some(Metadata.empty))
    }
    org.apache.spark.sql.graft.GraftBridge.ofRows(spark, Project(out, rel))
  }

  /** The snapshot a [[table]] frame pinned. */
  def snapshotOf(lakeFrame: DataFrame): Option[Snapshot] =
    lakeFrame.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation => r.table
    }.collect { case t: GraftTable => t.snapshot }

  /** File accounting for a query over [[table]] frames: (files its graft
    * scans were planned over — every [[GraftInputPartition]]'s files after
    * plan-time pruning — and the files of the snapshots `lakes` pinned).
    * A metadata-answered aggregate plans no scan and reads 0 files. */
  def fileCounts(query: DataFrame, lakes: Seq[DataFrame]): (Int, Int) = {
    val scanned = query.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.inputPartitions.collect {
        case p: GraftInputPartition => p.files.length
      }.sum
    }.sum
    (scanned, lakes.flatMap(snapshotOf).map(_.totalFiles).sum)
  }

  /** Metadata TABLES (Iceberg `table.files` / `.snapshots` / `.history`
    * analogue): the lake's own bookkeeping as small driver-built
    * DataFrames, so operational questions — which files hold a key range,
    * what did each commit do, where is the feed — are plain SQL joins
    * against the data instead of bespoke CLI parsing. Keys: "files",
    * "snapshots", "lineage", "tags", "branches". All O(metadata); the
    * files table loads manifests (O(table files), driver-side JSON). */
  def metadataTables(spark: SparkSession,
                     root: String): Map[String, DataFrame] = {
    import spark.implicits._
    val lake = new LakeTable(spark, root)
    val files = lake.currentSnapshot.toSeq.flatMap(_.files).map(f =>
      (f.path, f.bucket, f.rows, f.liveRows, f.bytes, f.minKey, f.maxKey))
      .toDF("path", "bucket", "rows", "live_rows", "bytes",
        "min_key", "max_key")
    val snaps = lake.snapshots.map { s =>
      (s.snapshotId, s.parentId, s.epoch, s.schemaVersion, s.nBuckets,
       s.mor, s.totalRows, s.totalFiles,
       s.metrics.toSeq.sortBy(_._1)
         .map { case (k, v) => s"$k=$v" }.mkString(","))
    }.toDF("snapshot_id", "parent_id", "epoch", "schema_version",
      "n_buckets", "mor", "rows", "files", "metrics")
    val lineage = lake.currentSnapshot.toSeq.flatMap(_.lineage)
      .map(l => (l.srcPart, l.minOff, l.maxOff))
      .toDF("src_part", "min_off", "max_off")
    val tags = lake.tags.toSeq.sorted.toDF("name", "snapshot_id")
    val branches = Branch.list(lake)
      .map(b => (b.name, b.baseSnapshotId, b.baseEpoch))
      .toDF("name", "base_snapshot_id", "base_epoch")
    Map("files" -> files, "snapshots" -> snaps, "lineage" -> lineage,
      "tags" -> tags, "branches" -> branches)
  }
}
