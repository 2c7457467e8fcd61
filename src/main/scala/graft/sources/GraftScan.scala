package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.lake.{DataFileMeta, LakeTable, ParquetFooters, Snapshot}

/** Scan planning for [[GraftTable]].
  *
  * File pruning happens at PLAN time from lake metadata — the same three
  * ladders as the engine's own SQL pushdown (`graft.sql.GraftPushdown`),
  * re-expressed over the V2 `Filter` API:
  *   1. zone maps: range/equality conjuncts on integral/timestamp/date
  *      columns intersect per-file [min, max] (whole delta CHAINS on
  *      merge-on-read — pruning single chain files could elect a stale
  *      winner);
  *   2. bucket-key equality: equality on ALL bucket columns prunes to one
  *      bucket, then per-file key ranges and bloom/dictionary membership;
  *   3. string equality on any other column: bloom/dictionary chunk
  *      evidence per file (CoW) / chain (MoR).
  * Every filter is ALSO returned as residual, so pruning can only drop
  * whole files the predicate provably cannot match — never rows.
  *
  * Partitions are per BUCKET (each carries its chain's files), implement
  * [[HasPartitionKey]], and the scan reports [[KeyGroupedPartitioning]]
  * over the table's `bucket` transform — a join of two equally-sharded
  * lakes on the bucket columns plans with ZERO exchanges
  * (storage-partitioned join).
  *
  * Merge-on-read chains resolve INSIDE the partition reader: a bucket's
  * files hold every version of its keys, so a per-bucket hash election
  * (max `_lsn` wins, tombstone winners dropped) needs no shuffle at all —
  * memory is O(live keys per bucket), the same bound the engine's
  * compaction fold already assumes.
  */
final class GraftScanBuilder(lake: LakeTable, snapshot: Snapshot)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private val publicSchema = GraftTable.publicSchema(snapshot)
  private var required: StructType = publicSchema
  private var pushed: Array[Filter] = Array.empty
  private var kept: Option[Seq[DataFileMeta]] = None
  private var aggResult: Option[(StructType, Array[Any], String)] = None

  /** Filter CLAIMING (exact pushdown, not just IO pruning): a conjunct is
    * accepted — removed from the residual Spark re-applies — when the
    * plan-time file pruning already makes it a tautology: every kept file's
    * zone bounds lie FULLY inside the predicate's range and the column is
    * provably null-free in that file (zone bounds say nothing about nulls,
    * and a NULL compares to neither side). Copy-on-write only — claiming
    * requires per-row exactness, and claimed conjuncts are what unlocks
    * aggregate pushdown (Spark only pushes an Aggregate whose child has no
    * post-scan Filter). Files pruned by the same predicate provably hold
    * no matching row, so dropping them keeps the claim exact. */
  /** Do this file's name-keyed zone stats describe what a read of `c`
    * RETURNS? Reads resolve columns by field id — after a drop+re-add of
    * the same name an old file's stats describe bytes the read surfaces as
    * NULLs. Exact claims therefore require the file's recorded id to match
    * the current schema's (or a pre-field-id table, where names are stable
    * because rename/drop is refused). */
  private def statsTrusted(f: DataFileMeta, c: String): Boolean =
    snapshot.schema.fields.find(_.name == c)
      .flatMap(graft.model.Schemas.fieldId) match {
      case Some(id) => f.zoneFieldId(c) == id
      case None => f.zoneFieldId(c) == 0L
    }

  private def residualOf(filters: Array[Filter],
                         files: Seq[DataFileMeta]): Array[Filter] = {
    if (snapshot.mor) return filters
    def coveredBy(c: String, lo: Long, hi: Long): Boolean =
      GraftScan.zoneEligible(snapshot, c) && files.forall { f =>
        statsTrusted(f, c) && f.nullFree(c) && f.zone(c).exists {
          case (mn, mx) => mn >= lo && mx <= hi }
      }
    filters.filterNot {
      case org.apache.spark.sql.sources.IsNotNull(c) =>
        GraftScan.zoneEligible(snapshot, c) &&
        files.forall(f => statsTrusted(f, c) && f.nullFree(c))
      case EqualTo(c, v) =>
        GraftScan.statsLong(v).exists(x => coveredBy(c, x, x))
      case GreaterThan(c, v) =>
        GraftScan.statsLong(v).exists(x =>
          x < Long.MaxValue && coveredBy(c, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) =>
        GraftScan.statsLong(v).exists(x => coveredBy(c, x, Long.MaxValue))
      case LessThan(c, v) =>
        GraftScan.statsLong(v).exists(x =>
          x > Long.MinValue && coveredBy(c, Long.MinValue, x - 1))
      case LessThanOrEqual(c, v) =>
        GraftScan.statsLong(v).exists(x => coveredBy(c, Long.MinValue, x))
      case _ => false
    }
  }

  private var residual: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    val files = GraftScan.planKept(snapshot, filters)
    kept = Some(files)
    residual = residualOf(filters, files)
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  /** COMPLETE pushdown of metadata-answerable aggregates — zero data IO,
    * zero Spark jobs ([[GraftAggScan]] is a LocalScan):
    *
    *  - bare `count(*)`: the snapshot's audited live-row count
    *    (`Snapshot.liveRows`, O(1)), or — covering cf-disabled lineages
    *    too — the sum of per-file live counts.
    *  - `count(*)` under a WHERE whose every conjunct was CLAIMED (see
    *    [[pushFilters]]): the sum of the KEPT files' exact per-file live
    *    counts — pruned files provably hold no matching row, kept files'
    *    rows all match, and tombstones are already excluded per file.
    *  - `min(col)` / `max(col)` over zone-eligible columns when every kept
    *    file is tombstone-free (liveRows == rows — a tombstoned row's value
    *    sits in the zone bounds but not in the live set) and carries zone
    *    stats: fold of the per-file bounds. Parquet min/max skip nulls,
    *    matching SQL MIN/MAX.
    *
    * Merge-on-read tables refuse (multi-version chains have no per-file
    * truth pre-election); any unclaimed residual refuses (Spark would not
    * offer the Aggregate anyway); unknown live counts refuse. Time travel
    * composes — the builder holds the `VERSION AS OF` snapshot. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = planAgg(agg)
    aggResult.isDefined
  }

  /** min/max answerable iff every kept file is tombstone-free (a
    * tombstoned row's value sits in the zone bounds but not in the live
    * set), carries trusted zone stats for the column, and — because an
    * all-null file is indistinguishable from a stats-less one — has them
    * at all. Parquet min/max skip nulls, matching SQL MIN/MAX. */
  private def minMaxEligible(files: Seq[DataFileMeta], c: String): Boolean =
    GraftScan.zoneEligible(snapshot, c) && files.forall(f =>
      f.liveRows == f.rows && statsTrusted(f, c) && f.zone(c).isDefined)

  private def planAgg(agg: Aggregation): Option[(StructType, Array[Any], String)] = {
    if (snapshot.mor || agg.groupByExpressions.nonEmpty) return None
    if (agg.aggregateExpressions.isEmpty) return None
    val files = kept.getOrElse(GraftScan.planKept(snapshot, pushed))
    // every pushed conjunct must have been claimed for the file set to be
    // the predicate's exact extent (Spark only offers the Aggregate when
    // no residual Filter remains, so this re-check is belt+braces)
    val filtered = pushed.nonEmpty
    if (filtered && residual.nonEmpty) return None
    def colName(e: V2Expression): Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        Some(n.fieldNames.head)
      case _ => None
    }
    def fieldType(c: String): Option[DataType] =
      snapshot.schema.fields.find(_.name == c).map(_.dataType)
    /** zone-domain long -> Catalyst internal value of the column's type */
    def internal(c: String, v: Long): Any = fieldType(c) match {
      case Some(IntegerType) => v.toInt
      case Some(ShortType) => v.toShort
      case Some(ByteType) => v.toByte
      case Some(DateType) => v.toInt // days
      case _ => v // long / timestamp micros
    }
    val parts = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        val n =
          if (!filtered && snapshot.liveRows >= 0) snapshot.liveRows
          else if (files.forall(_.liveRows >= 0)) files.map(_.liveRows).sum
          else return None
        (StructField("count(*)", LongType, nullable = false), n: Any)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
        val c = colName(m.column).getOrElse(return None)
        if (!minMaxEligible(files, c)) return None
        val v: Any =
          if (files.isEmpty) null
          else internal(c, files.flatMap(_.zone(c)).map(_._1).min)
        (StructField(s"min($c)", fieldType(c).getOrElse(return None)), v)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
        val c = colName(m.column).getOrElse(return None)
        if (!minMaxEligible(files, c)) return None
        val v: Any =
          if (files.isEmpty) null
          else internal(c, files.flatMap(_.zone(c)).map(_._2).max)
        (StructField(s"max($c)", fieldType(c).getOrElse(return None)), v)
      case _ => return None
    }
    Some((StructType(parts.map(_._1)), parts.map(_._2).toArray,
      parts.map(_._1.name).mkString(", ")))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values, desc)) =>
      new GraftAggScan(lake, snapshot, schema, values, desc)
    case None => new GraftScan(lake, snapshot, required, pushed, kept)
  }
}

/** Metadata-only aggregate answer: a [[LocalScan]] the planner lowers to a
  * driver-side LocalTableScanExec — COUNT(*) (optionally under a fully
  * claimed WHERE) and zone-derived MIN/MAX of a 100 TB lake cost one
  * snapshot-metadata read and zero executor work. */
final class GraftAggScan(lake: LakeTable, snapshot: Snapshot,
                         schema: StructType, values: Array[Any], desc: String)
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] =
    Array(InternalRow.fromSeq(values.toIndexedSeq))
  override def description(): String =
    s"graft ${lake.root} metadata agg [$desc] = ${values.mkString(", ")}"
}

final class GraftScan(lake: LakeTable, snapshot: Snapshot,
                      required: StructType, pushed: Array[Filter],
                      preKept: Option[Seq[DataFileMeta]] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  private val spark = lake.spark
  private val ks = snapshot.keySpec

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"graft ${lake.root} snapshot=${snapshot.snapshotId} " +
    s"buckets=${snapshot.nBuckets}${if (snapshot.mor) " mor" else ""}"

  // ---------------------------- plan-time file pruning (see GraftScan.planKept)

  private lazy val keptFiles: Seq[DataFileMeta] =
    preKept.getOrElse(GraftScan.planKept(snapshot, pushed))

  // -------------------------------------------------- partitions + readers

  /** Every kept file provably tombstone-free (exact per-file live counts)?
    * Then the scan need not read `_tombstone` at all — no decode, no
    * per-row liveness check on either path. Runtime filtering only
    * shrinks the kept set, so the proof survives it. */
  private lazy val allKeptClean: Boolean =
    !snapshot.mor && keptFiles.nonEmpty &&
    keptFiles.forall(f => f.liveRows >= 0 && f.liveRows == f.rows)

  /** Columns the READER needs beyond the projection: MoR election needs the
    * key columns + `_lsn`; live-row filtering needs `_tombstone` when the
    * snapshot stores it (skipped when every kept file is provably clean).
    * Read schema keeps the snapshot's field ids so rename/drop evolution
    * resolves by id against old files. */
  private lazy val readStruct: StructType = {
    val names = required.fields.map(_.name).toSeq
    val extra =
      (if (snapshot.mor) ks.keyCols :+ "_lsn" else Seq.empty) ++
      (if (snapshot.schema.fieldNames.contains("_tombstone") && !allKeptClean)
         Seq("_tombstone") else Seq.empty)
    val want = (names ++ extra.filterNot(names.contains)).toSet
    StructType(snapshot.schema.fields.toIndexedSeq.filter(f => want(f.name)))
  }

  private def partitionsFor(files: Seq[DataFileMeta]): Array[InputPartition] = {
    val conf = spark.sessionState.newHadoopConf()
    val byBucket = files.groupBy(_.bucket).toSeq.sortBy(_._1)
    // file lengths for split planning: one parallel driver stat pass over
    // the surviving (post-prune) files
    val lens: Map[String, Long] = ParquetFooters.parMap(
      byBucket.flatMap(_._2.map(_.path)).distinct) { p =>
        val hp = new Path(p)
        p -> hp.getFileSystem(conf).getFileStatus(hp).getLen
      }.toMap
    byBucket.map { case (b, fs) =>
      GraftInputPartition(b, fs.map(f => (f.path, lens(f.path))).toArray,
        fs.map(_.rows).sum): InputPartition
    }.toArray
  }

  private lazy val basePartitions: Array[InputPartition] =
    partitionsFor(keptFiles)

  // ------------------------------------------- runtime (join-driven) pruning

  /** Distinct build-side key values delivered by Spark's dynamic pruning at
    * EXECUTION time (the V2 twin of dynamic partition pruning). Bucket-level
    * pruning is O(values) hashes regardless of set size; the per-file
    * bloom/dictionary probe is capped so driver planning stays bounded. */
  @volatile private var runtimeKept: Option[Seq[DataFileMeta]] = None
  /** What the executed runtime filter pruned, as DSv2 driver metrics:
    * Spark posts them right after runtime filtering, so they land in this
    * scan node's SQL metrics (`EXPLAIN`, SQL UI, listener events) per
    * query. Empty until [[filter]] runs. */
  @volatile private var runtimeMetrics: Array[CustomTaskMetric] = Array.empty

  private val MaxMembershipProbeValues = 64

  /** Every bucket column is runtime-filterable. A join on ALL of them
    * addresses buckets through the cross product of the per-column IN-sets
    * (a superset of the true tuple set — always safe to prune with); a join
    * on a subset still gets per-file membership evidence on its columns. */
  override def filterAttributes(): Array[NamedReference] =
    ks.bucketCols.map(c => Expressions.column(c)).toArray

  override def filter(predicates: Array[V2Predicate]): Unit = {
    def refName(e: V2Expression): Option[String] = e match {
      case n: NamedReference => Some(n.fieldNames.mkString("."))
      case _ => None
    }
    // Spark ships each build side's distinct join keys as a per-column IN
    // (single value: =) over the declared filter attributes
    val byCol: Map[String, Seq[Any]] = predicates.toSeq.flatMap { p =>
      p.name match {
        case "IN" | "=" if p.children.nonEmpty =>
          refName(p.children.head).filter(ks.bucketCols.contains).map { c =>
            c -> p.children.tail.toSeq.collect { case l: V2Literal[_] =>
              CatalystTypeConverters.convertToScala(l.value, l.dataType)
            }.filter(_ != null).distinct
          }
        case _ => None
      }
    }.groupBy(_._1).map { case (c, vs) =>
      // several independent filters on one column are each a necessary
      // condition — the smallest set prunes hardest
      c -> vs.map(_._2).minBy(_.size)
    }
    if (byCol.isEmpty || byCol.values.exists(_.isEmpty)) return

    // 1. bucket pruning: needs a value set for EVERY bucket column (the
    //    shard hash covers all of them); candidate buckets = hashes of the
    //    per-column cross product, intersected with the plan-time survivors
    val haveAllCols = ks.bucketCols.forall(byCol.contains)
    val bucketKept: Seq[DataFileMeta] =
      if (haveAllCols && GraftScan.bucketTupleCount(
            ks.bucketCols.map(byCol(_).size)) <= GraftScan.MaxBucketTuples) {
        val tuples = ks.bucketCols.map(byCol)
          .foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
            acc.flatMap(t => vs.map(t :+ _)))
        val buckets = tuples
          .map(t => LakeTable.bucketOfValues(t, snapshot.nBuckets)).toSet
        keptFiles.filter(f => buckets.contains(f.bucket))
      } else keptFiles

    // 2. within surviving buckets: bloom/dictionary evidence per column,
    //    per file (CoW) or whole delta chain (MoR — single chain files must
    //    never drop, a pruned newer version would elect a stale winner)
    val kept = byCol.foldLeft(bucketKept) { case (fs, (c, values)) =>
      if (values.size > MaxMembershipProbeValues) fs
      else {
        val verdicts = ParquetFooters.parMap(fs)(f =>
          (f, ParquetFooters.mightContainAny(f.path, c, values)))
        if (!snapshot.mor) verdicts.filter(_._2 != Some(false)).map(_._1)
        else verdicts.groupBy(_._1.bucket).values.collect {
          case g if g.exists(_._2 != Some(false)) => g.map(_._1)
        }.toSeq.flatten
      }
    }
    runtimeKept = Some(kept)
    runtimeMetrics = GraftScan.RuntimeFilterMetrics.zip(Seq[Long](
      byCol.size, byCol.values.map(_.size).sum,
      basePartitions.length, kept.map(_.bucket).distinct.size,
      keptFiles.size, kept.size)).map { case (m, v) =>
      new CustomTaskMetric {
        override def name(): String = m.name()
        override def value(): Long = v
      }: CustomTaskMetric
    }
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    GraftScan.RuntimeFilterMetrics

  override def reportDriverMetrics(): Array[CustomTaskMetric] = runtimeMetrics

  override def planInputPartitions(): Array[InputPartition] =
    runtimeKept match {
      case Some(files) => partitionsFor(files)
      case None => basePartitions
    }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array[V2Expression](
        Expressions.bucket(snapshot.nBuckets, ks.bucketCols: _*)),
      basePartitions.length)

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = keptFiles.map(_.rows).sum
    private val bytes = {
      val b = keptFiles.map(_.bytes).sum
      if (b > 0) b else rows * 64L // pre-byte-stats manifests: rough row guess
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row-group-level parquet filters: always safe on CoW (residuals
    // re-apply row-level); on MoR only key-column predicates are safe —
    // a non-key predicate could drop a row group holding the NEWEST
    // version of a key and elect a stale winner
    val readNames = readStruct.fieldNames.toSet
    val parquetFilters = pushed.toSeq.filter { f =>
      val refs = f.references.toSet
      refs.nonEmpty && refs.subsetOf(readNames) &&
      (!snapshot.mor || refs.subsetOf(ks.keyCols.toSet))
    }
    // COLUMNAR on copy-on-write only when every kept file is provably
    // tombstone-free (allKeptClean): `_tombstone` is then not read at all
    // and the vectorized reader's batches pass through zero-copy. A
    // tombstone-sprinkled table stays row-based — measured A/B: a per-batch
    // live-row compaction copy ran ~0.8x the row path, whose per-row work
    // rides the same vectorized decoder. Tombstone-GC compaction makes an
    // aged table clean, flipping its scans columnar. MoR stays row-based —
    // the per-bucket LWW election is inherently row-at-a-time.
    val fmt = new ParquetFileFormat
    val columnar = !snapshot.mor && readStruct.fields.nonEmpty &&
      allKeptClean && fmt.supportBatch(spark, readStruct)
    val readFunc = fmt.buildReaderWithPartitionValues(
      spark,
      dataSchema = snapshot.schema,
      partitionSchema = StructType(Nil),
      requiredSchema = readStruct,
      filters = parquetFilters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      hadoopConf = spark.sessionState.newHadoopConf())

    val keyOrds =
      if (snapshot.mor) ks.keyCols.map(readStruct.fieldIndex).toArray
      else Array.empty[Int]
    val lsnOrd =
      if (readStruct.fieldNames.contains("_lsn"))
        readStruct.fieldIndex("_lsn") else -1
    val tombOrd =
      if (readStruct.fieldNames.contains("_tombstone"))
        readStruct.fieldIndex("_tombstone") else -1
    val projOrds = required.fields.map(f => readStruct.fieldIndex(f.name))
    // MoR election strategy cutover: chains up to this many rows elect in
    // an executor-heap hash map (fast path); larger chains — a hot bucket
    // at 100x scale must not OOM — go through the SPILLABLE sort election
    val hashElectMax = spark.conf
      .getOption("spark.graft.mor.electHashMaxRows")
      .map(_.toLong).getOrElse(4000000L)
    new GraftReaderFactory(readFunc, readStruct, snapshot.mor,
      keyOrds, lsnOrd, tombOrd, projOrds, columnar, hashElectMax)
  }
}

object GraftScan {
  /** Bucket addressing hashes the (capped) cross product of the per-column
    * IN-sets — O(tuples) driver hashes. Above the cap the bucket set is
    * near-saturated anyway (tuples >> buckets), so skipping loses nothing. */
  private[sources] val MaxBucketTuples = 1 << 16

  /** Size of the cross product of the per-column IN-sets, saturating once
    * it passes [[MaxBucketTuples]]: the running product is multiplied only
    * while it is at most the cap, so no step can overflow. */
  private[sources] def bucketTupleCount(sizes: Seq[Int]): Long =
    sizes.foldLeft(1L)((a, b) => if (a > MaxBucketTuples) a else a * b)

  /** The runtime filter's driver metrics, in the order [[GraftScan.filter]]
    * reports them. */
  private[sources] val RuntimeFilterMetrics: Array[CustomMetric] = Array(
    new RuntimeFilterColumns, new RuntimeFilterValues,
    new RuntimeFilterBucketsBefore, new RuntimeFilterBucketsAfter,
    new RuntimeFilterFilesBefore, new RuntimeFilterFilesAfter)

  /** long value in the zone-stats physical domain (micros for timestamps,
    * days for dates), None for types zone maps don't cover. */
  private[sources] def statsLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private[sources] def zoneEligible(snapshot: Snapshot, name: String): Boolean =
    snapshot.schema.fields.exists(f => f.name == name && (f.dataType match {
      case IntegerType | LongType | ShortType | ByteType |
           TimestampType | DateType => true
      case _ => false
    }))

  /** PLAN-time file pruning from lake metadata (shared by the builder —
    * which also needs the kept set for filter claiming and aggregate
    * pushdown — and the scan): the three ladders documented on the class. */
  private[sources] def planKept(snapshot: Snapshot,
                                pushed: Array[Filter]): Seq[DataFileMeta] = {
    val ks = snapshot.keySpec
    // 1. zone ranges (conjunction; intersect per-column bounds)
    val ranges = pushed.toSeq.flatMap {
      case EqualTo(c, v) if zoneEligible(snapshot, c) =>
        statsLong(v).map(x => (c, x, x))
      case GreaterThan(c, v) if zoneEligible(snapshot, c) =>
        statsLong(v).map(x => (c, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) if zoneEligible(snapshot, c) =>
        statsLong(v).map(x => (c, x, Long.MaxValue))
      case LessThan(c, v) if zoneEligible(snapshot, c) =>
        statsLong(v).map(x => (c, Long.MinValue, x - 1))
      case LessThanOrEqual(c, v) if zoneEligible(snapshot, c) =>
        statsLong(v).map(x => (c, Long.MinValue, x))
      case _ => None
    }
    val byCol = ranges.groupBy(_._1).map { case (c, rs) =>
      (c, rs.map(_._2).max, rs.map(_._3).min)
    }.toSeq
    val zoneKept =
      if (byCol.isEmpty) snapshot.files
      else LakeTable.pruneByRanges(snapshot, byCol)._1

    // 2. full bucket-key equality -> bucket + key-range + membership
    val eqs: Map[String, Any] = pushed.collect {
      case EqualTo(c, v) if v != null => c -> v
    }.toMap
    val keyVals: Option[Seq[Any]] =
      if (ks.bucketCols.forall(eqs.contains)) Some(ks.bucketCols.map(eqs))
      else None
    val keyKept = keyVals match {
      case Some(vs) =>
        val keyFiles = LakeTable.pruneByKey(snapshot, vs).map(_.path).toSet
        LakeTable.filterByMembership(
          zoneKept.filter(f => keyFiles.contains(f.path)),
          ks.bucketCols.head, vs.head)
      case None => zoneKept
    }

    // 3. string equality on non-key columns -> bloom/dictionary evidence
    val probedAlready: Set[String] =
      if (keyVals.isDefined) Set(ks.bucketCols.head) else Set.empty
    val strEqs = pushed.collect {
      case EqualTo(c, v: String)
        if v != null && !probedAlready.contains(c) &&
           snapshot.schema.fields.exists(f =>
             f.name == c && f.dataType == StringType) => (c, v)
    }
    strEqs.distinct.foldLeft(keyKept) { case (fs, (c, v)) =>
      LakeTable.pruneByMembership(snapshot, fs, c, v)
    }
  }
}

/** Runtime (join-driven) filter metrics of a [[GraftScan]]. Spark's SQL
  * status listener re-instantiates a metric class by name to aggregate its
  * values, so each metric is a concrete class with a no-arg constructor. */
sealed abstract class RuntimeFilterMetric(metricName: String, desc: String)
    extends CustomSumMetric {
  override def name(): String = metricName
  override def description(): String = desc
}
final class RuntimeFilterColumns extends RuntimeFilterMetric(
  "runtimeFilterColumns", "runtime filter columns")
final class RuntimeFilterValues extends RuntimeFilterMetric(
  "runtimeFilterValues", "runtime filter values")
final class RuntimeFilterBucketsBefore extends RuntimeFilterMetric(
  "runtimeFilterBucketsBefore", "runtime filter buckets before")
final class RuntimeFilterBucketsAfter extends RuntimeFilterMetric(
  "runtimeFilterBucketsAfter", "runtime filter buckets after")
final class RuntimeFilterFilesBefore extends RuntimeFilterMetric(
  "runtimeFilterFilesBefore", "runtime filter files before")
final class RuntimeFilterFilesAfter extends RuntimeFilterMetric(
  "runtimeFilterFilesAfter", "runtime filter files after")

/** One bucket's surviving chain: (path, fileLength) pairs plus the chain's
  * total metadata row count (sizes the MoR election strategy). The
  * partition KEY is the bucket id — the value of the reported `bucket`
  * transform — which is what lets Spark line buckets up across two scans. */
final case class GraftInputPartition(bucket: Int,
                                     files: Array[(String, Long)],
                                     rows: Long = 0L)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

final class GraftReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    readStruct: StructType, mor: Boolean,
    keyOrds: Array[Int], lsnOrd: Int, tombOrd: Int, projOrds: Array[Int],
    columnar: Boolean = false, hashElectMaxRows: Long = 4000000L)
    extends PartitionReaderFactory {

  /** Hash election: one pass, O(live keys in chain) executor heap — the
    * fast path for ordinarily-sized buckets. Ties on _lsn are
    * byte-identical redeliveries (LwwResolve contract) — last wins. */
  private def hashElect(raw: Iterator[InternalRow]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyOrds.map(i =>
      BoundReference(i, readStruct.fields(i).dataType, nullable = true)))
    val winners = new java.util.HashMap[UnsafeRow, InternalRow]()
    raw.foreach { r =>
      val k = keyProj(r)
      val cur = winners.get(k)
      if (cur == null || lsnOrd < 0 || r.getLong(lsnOrd) >= cur.getLong(lsnOrd))
        winners.put(k.copy(), r.copy())
    }
    winners.values().iterator().asScala
  }

  /** SPILLABLE election for chains past `hashElectMaxRows` (a hot bucket at
    * 100x scale must not OOM an executor): the chain is fed through
    * Spark's external row sorter — which spills to disk under memory
    * pressure — ordered by (key ASC, _lsn DESC), and the winner of each
    * key is the FIRST row of its group, elected streaming with O(1) state.
    * Same tie semantics as the hash path (equal-lsn rows are byte-identical
    * redeliveries, any wins). */
  private def sortElect(raw: Iterator[InternalRow]): Iterator[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder, SortPrefix}
    import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
    import org.apache.spark.sql.execution.UnsafeExternalRowSorter
    import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
    if (lsnOrd < 0 || keyOrds.isEmpty) return hashElect(raw)
    val firstType = readStruct.fields(keyOrds(0)).dataType
    val prefixComparator = firstType match {
      case StringType => PrefixComparators.STRING
      case BinaryType => PrefixComparators.BINARY
      case IntegerType | LongType | ShortType | ByteType |
           TimestampType | DateType => PrefixComparators.LONG
      case _ => return hashElect(raw) // no order-consistent prefix
    }
    val sortExprs =
      keyOrds.toIndexedSeq.map(i => SortOrder(
        BoundReference(i, readStruct.fields(i).dataType, nullable = true),
        Ascending)) :+
      SortOrder(BoundReference(lsnOrd, readStruct.fields(lsnOrd).dataType,
        nullable = true), Descending)
    val ordering = new LazilyGeneratedOrdering(sortExprs)
    val prefixExpr = SortPrefix(sortExprs.head)
    val prefixProj = UnsafeProjection.create(Seq(prefixExpr))
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow)
          : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val pr = prefixProj.apply(row)
        result.isNull = pr.isNullAt(0)
        result.value =
          if (result.isNull) prefixExpr.nullValue else pr.getLong(0)
        result
      }
    }
    val pageSize = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes
    val sorter = UnsafeExternalRowSorter.create(
      readStruct, ordering, prefixComparator, prefixComputer, pageSize, false)
    val toUnsafe = UnsafeProjection.create(readStruct)
    val sorted = sorter.sort(raw.map(toUnsafe.apply))
    val keyProj = UnsafeProjection.create(keyOrds.map(i =>
      BoundReference(i, readStruct.fields(i).dataType, nullable = true)))
    new Iterator[InternalRow] {
      private var lastKey: UnsafeRow = _
      private var nextRow: InternalRow = _
      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && sorted.hasNext) {
          val r = sorted.next()
          val k = keyProj(r)
          if (lastKey == null || k != lastKey) {
            lastKey = k.copy()
            // the sorter's iterator REUSES its row buffer on next() — the
            // winner must be copied out (winners only, never the chain)
            nextRow = r.copy()
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; advance(); r
      }
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar

  private def partitionedFile(path: String, len: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(path), 0L, len,
      Array.empty[String], 0L, 0L, Map.empty)

  /** Columnar read of a copy-on-write bucket. The scan is columnar only
    * when every kept file is provably tombstone-free, and then reads no
    * `_tombstone` at all, so the vectorized parquet reader's batches pass
    * through ZERO-COPY: a reprojected ColumnarBatch over the same vectors. */
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val batches: Iterator[ColumnarBatch] =
      p.files.iterator.flatMap { case (path, len) =>
        readFunc(partitionedFile(path, len)).asInstanceOf[Iterator[Any]]
          .map {
            case b: ColumnarBatch => new ColumnarBatch(
              projOrds.map(b.column(_): ColumnVector), b.numRows())
            // the format was built with RETURNING_BATCH=true under a
            // supportBatch schema — a row here would mean silent data loss
            // downstream, so fail loudly instead of filtering it out
            case other => throw new IllegalStateException(
              s"vectorized parquet read of $path returned " +
              s"${other.getClass.getName} instead of a ColumnarBatch")
          }
      }

    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean =
        if (batches.hasNext) { current = batches.next(); true } else false
      override def get(): ColumnarBatch = current
      override def close(): Unit = ()
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]

    def fileRows(path: String, len: Long): Iterator[InternalRow] =
      readFunc(partitionedFile(path, len))
        .asInstanceOf[Iterator[Any]].flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }

    val raw: Iterator[InternalRow] =
      p.files.iterator.flatMap { case (path, len) => fileRows(path, len) }

    def live(r: InternalRow): Boolean =
      tombOrd < 0 || r.isNullAt(tombOrd) || !r.getBoolean(tombOrd)

    val resolved: Iterator[InternalRow] =
      if (!mor) raw.filter(live)
      else if (p.rows <= hashElectMaxRows) hashElect(raw).filter(live)
      else sortElect(raw).filter(live)

    val proj = UnsafeProjection.create(projOrds.map(i =>
      BoundReference(i, readStruct.fields(i).dataType, nullable = true)))
    val out = resolved.map(proj)

    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (out.hasNext) { current = out.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
