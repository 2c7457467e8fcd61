package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDeleteV2, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{MetadataBuilder, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{LakeTable, Snapshot}
import graft.model.Schemas

/** One graft lake pinned at one snapshot, as a Spark V2 [[Table]].
  *
  * - `schema()` is the PUBLIC shape — what `LakeTable.read()` returns: the
  *   snapshot schema minus the internal `_tombstone` column, with the
  *   table-internal parquet field ids stripped (they are column IDENTITY
  *   for rename/drop evolution, not user metadata — leaking them lets a
  *   derived write produce duplicate-id files).
  * - `partitioning()` reports `bucket(nBuckets, bucketCols…)` so two lakes
  *   sharded the same way join WITHOUT a shuffle under
  *   `spark.sql.sources.v2.bucketing.enabled` (see [[GraftBucketFunction]]).
  * - Reads are snapshot-isolated: the snapshot was pinned at `loadTable`
  *   time, so a query never sees a concurrent commit mid-plan.
  * - Writes go through the V1 write bridge as op='I' upserts via the same
  *   validated maintenance MERGE as SQL INSERT ([[graft.sql.GraftDml]]):
  *   `df.writeTo("graft.`…`").append()` — new keys insert, existing keys
  *   become LWW updates, CHECK constraints and quarantine apply. Overwrite
  *   is refused (a CDC table's history is the changelog, not a truncate).
  */
final class GraftTable(val lake: LakeTable, val snapshot: Snapshot)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with SupportsDeleteV2 {

  override def name(): String = s"graft.`${lake.root}`"

  override def schema(): StructType = GraftTable.publicSchema(snapshot)

  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(snapshot.nBuckets,
      snapshot.keySpec.bucketCols: _*))

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("snapshot-id", snapshot.snapshotId.toString)
    m.put("epoch", snapshot.epoch.toString)
    m.put("mode", if (snapshot.mor) "merge-on-read" else "copy-on-write")
    m.put("buckets", snapshot.nBuckets.toString)
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_READ)
    s.add(TableCapability.V1_BATCH_WRITE)
    s
  }

  /** Engine columns — `_lsn` (the change sequence the LWW election ran
    * on), `_src_part`/`_src_off` (per-partition source lineage) — are
    * METADATA columns, Iceberg-style: selectable on demand
    * (`SELECT _lsn FROM …`) but never part of `SELECT *` or the write
    * contract (the maintenance merge ASSIGNS them, an `append()` must not
    * be asked to supply them). */
  override def metadataColumns(): Array[MetadataColumn] =
    snapshot.schema.fields
      .filter(f => f.name.startsWith("_") && f.name != "_tombstone")
      .map { f =>
        new MetadataColumn {
          override def name(): String = f.name
          override def dataType(): org.apache.spark.sql.types.DataType =
            f.dataType
          override def isNullable: Boolean = true
          override def comment(): String = f.name match {
            case "_lsn" => "change sequence of the winning version (LWW order)"
            case "_src_part" => "source partition of the winning change"
            case "_src_off" => "source offset of the winning change"
            case _ => "engine-internal column"
          }
        }: MetadataColumn
      }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(lake, snapshot)

  /** `DELETE FROM graft.`…` WHERE …` in plain Spark SQL: the analyzed
    * predicate round-trips through [[V2PredicateSql]] into the engine's
    * own predicate DML ([[graft.sql.GraftDml.delete]]) — the SAME
    * tombstone merge as the CLI/SQL front doors, so history, change feed,
    * lineage and commit-race retry all apply. A bare `DELETE FROM t`
    * (ALWAYS_TRUE) tombstones every live row — a rollback-able DML event,
    * NOT a metadata truncate. Untranslatable conditions (nested fields,
    * functions) are refused at analysis time. */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    V2PredicateSql.conjunction(predicates).isDefined

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val where = V2PredicateSql.conjunction(predicates).getOrElse(
      throw new UnsupportedOperationException(
        "DELETE condition not translatable to the engine's predicate DML " +
        s"(${predicates.mkString(" AND ")}) — supported: comparisons, " +
        "IS [NOT] NULL, IN, AND/OR/NOT over top-level columns and literals"))
    graft.sql.GraftDml.delete(lake, where)
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit = {
              if (overwrite) throw new UnsupportedOperationException(
                "overwrite/truncate through the catalog is not supported — " +
                "a CDC table's state is rebuilt by replaying its changelog " +
                "(or use rollback for time travel)")
              // internal columns (_lsn) ride the public read schema but are
              // ASSIGNED by the maintenance merge, never supplied by a write
              val cleaned = data.drop(
                data.columns.filter(_.startsWith("_")).toIndexedSeq: _*)
              graft.sql.GraftDml.insert(lake, cleaned)
              ()
            }
          }
      }
    }
}

object GraftTable {
  /** The snapshot's user-facing schema: internal tombstone column dropped,
    * every other `_`-prefixed engine column surfaced as a METADATA column
    * instead (selectable, never demanded by writes), field-id metadata
    * stripped. */
  def publicSchema(s: Snapshot): StructType =
    StructType(s.schema.fields.toIndexedSeq
      .filterNot(_.name.startsWith("_"))
      .map { f =>
        if (!f.metadata.contains(Schemas.FieldIdKey)) f
        else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .remove(Schemas.FieldIdKey).build())
      })
}
