package graft.lake

import java.util.UUID

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** One parquet data file owned by a snapshot, with per-file key stats used
  * for bucket/key pruning on the MERGE read path (the Spark-side analogue of
  * the reference's Cassandra partition-key point reads) plus zone-map
  * bounds (`zoneCols`/`zoneMins`/`zoneMaxs`, aligned arrays) for every
  * top-level INT32/INT64 column — ts (micros), turn_idx, _lsn, … — the
  * file-skipping statistics real table formats keep in their manifests.
  * Zone arrays may be null when the manifest predates the feature; readers
  * go through [[DataFileMeta.zone]], which treats that as "no stats" (kept,
  * never pruned). */
final case class DataFileMeta(
    path: String, bucket: Int, rows: Long, minKey: String, maxKey: String,
    zoneCols: Array[String] = Array.empty,
    zoneMins: Array[Long] = Array.empty,
    zoneMaxs: Array[Long] = Array.empty,
    /** compressed data bytes (0 in pre-bytes manifests = "no stats") —
      * feeds size-aware maintenance advice (Doctor) */
    bytes: Long = 0L,
    /** EXACT non-tombstone row count (= `rows` for tombstone-free files);
      * -1 = unknown (pre-liveRows manifest, or an undecodable tombstone
      * chunk). On copy-on-write snapshots the per-file live counts sum to
      * the snapshot's live count, which powers metadata-only filtered
      * COUNT(*) and the tombstone-free gate of min/max pushdown. */
    liveRows: Long = -1L,
    /** aligned with zoneCols: column provably null-free in this file
      * (zone bounds say nothing about nulls, so exact predicate coverage
      * needs this); null/empty in pre-feature manifests = unknown. */
    zoneNullFree: Array[Boolean] = Array.empty,
    /** aligned with zoneCols: the parquet FIELD ID the file stores the
      * column under (0 = none recorded). Stats are name-keyed while reads
      * resolve by id — after a drop+re-add of a name, an old file's stats
      * describe bytes the read surfaces as NULLs, so EXACT consumers
      * (filter claiming, min/max pushdown) must match ids first; IO-only
      * pruning needs no such check (a pruned old file's read-NULLs could
      * not have matched the predicate anyway). */
    zoneFieldIds: Array[Long] = Array.empty) {
  /** [min, max] of `column` in this file, None when not collected (pre-zone
    * manifest, all-null file, or a block without stats). */
  def zone(column: String): Option[(Long, Long)] = {
    if (zoneCols == null || zoneMins == null || zoneMaxs == null) return None
    val i = zoneCols.indexOf(column)
    if (i < 0) None else Some((zoneMins(i), zoneMaxs(i)))
  }
  /** Is `column` provably null-free in this file? Pre-feature manifests
    * (no flags recorded) answer false — never claim what wasn't audited. */
  def nullFree(column: String): Boolean = {
    if (zoneCols == null || zoneNullFree == null) return false
    val i = zoneCols.indexOf(column)
    i >= 0 && i < zoneNullFree.length && zoneNullFree(i)
  }
  /** Field id the file stores `column` under; 0 = none recorded. */
  def zoneFieldId(column: String): Long = {
    if (zoneCols == null || zoneFieldIds == null) return 0L
    val i = zoneCols.indexOf(column)
    if (i >= 0 && i < zoneFieldIds.length) zoneFieldIds(i) else 0L
  }
  /** Can this file contain a value of `column` in [lo, hi]? No stats = yes. */
  def mayOverlap(column: String, lo: Long, hi: Long): Boolean =
    zone(column) match {
      case Some((mn, mx)) => !(mx < lo || mn > hi)
      case None => true
    }
}

/** Per-source-partition lineage: the source offset range whose changes are
  * contained in (this and all ancestor) snapshots. North-rule requirement:
  * per-partition (source offset range -> snapshot id). */
final case class PartitionLineage(srcPart: Int, minOff: Long, maxOff: Long)

/** One per-bucket manifest file owned by a snapshot: `path` is a JSON list
  * of the bucket's [[DataFileMeta]]. A commit writes manifests only for the
  * buckets it rewrote and carries the parent's refs for the rest, so commit
  * metadata is O(touched buckets), not O(table files) — the manifest-tree
  * shape real table formats use (a flat in-snapshot file list stops
  * scaling once the table holds millions of files). */
final case class ManifestRef(bucket: Int, path: String, rows: Long,
                             nFiles: Int,
                             /** compressed data bytes of the listed files
                               * (0 in pre-bytes snapshots = "no stats") —
                               * lets size-aware advice stay metadata-only */
                             bytes: Long = 0L)

object Manifests {
  private[lake] val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def load(ref: ManifestRef): Seq[DataFileMeta] =
    mapper.readValue(LakeIO.readBytes(ref.path),
      classOf[Array[DataFileMeta]]).toSeq

  def loadAll(refs: Seq[ManifestRef]): Seq[DataFileMeta] =
    if (refs.size > 8) ParquetFooters.parMap(refs)(load).flatten
    else refs.flatMap(load)
}

final case class Snapshot(
    snapshotId: Long,
    parentId: Long,
    /** Fencing token: the checkpointed batch epoch that produced this
      * snapshot. A commit with epoch <= current snapshot's epoch is a no-op
      * replay and must be skipped (exactly-once; the stronger form of the
      * reference's store-checksum-only-after-write discipline,
      * CollectionProgressCompleteFunction.scala:58-62). */
    epoch: Long,
    schemaJson: String,
    schemaVersion: Int,
    nBuckets: Int,
    manifests: Seq[ManifestRef],
    lineage: Seq[PartitionLineage],
    metrics: Map[String, Double],
    /** Key contract of the table (graft.model.Schemas.KeySpec), stored at
      * creation so every applier/reader agrees; null in pre-keyspec
      * metadata -> transcript default via [[keySpec]]. */
    bucketCols: Seq[String] = Seq("conv_id"),
    keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
    /** Merge-on-read (LSM) table: ingest APPENDS per-bucket delta files
      * instead of rewriting touched buckets, so a bucket's manifest chain
      * can hold multiple versions of a key; readers resolve last-writer-
      * wins by `_lsn` ([[graft.plans.LwwResolve]]) and per-bucket folds
      * (CdcApply.foldBuckets) bound the chain. Set at table creation by
      * the first commit, authoritative thereafter (like nBuckets /
      * keySpec). Missing in pre-MoR metadata -> false (copy-on-write). */
    mor: Boolean = false,
    /** Per-source fencing tokens for MULTI-FEED ingest: each named source
      * (e.g. a binlog shard group, a backfill feed) fences on its OWN
      * high-water epoch while the scalar `epoch` stays the global
      * monotone commit cursor (derived tables, rollback, maintenance all
      * key on it). Empty for single-feed tables — the scalar epoch then
      * fences exactly as before. Carried by every commit. */
    sourceEpochs: Map[String, Long] = Map.empty,
    /** High-water mark of every field id EVER assigned to this table --
      * including ids of DROPPED columns, which the current schema no
      * longer shows. Additive evolution allocates from
      * `max(lastFieldId, max(schema ids)) + 1`, so a dropped id is never
      * recycled (recycling would resurrect the dropped column's stored
      * values under the new name). 0 in pre-field-id metadata -> callers
      * fall back to the schema-derived max. */
    lastFieldId: Long = 0L,
    /** EXACT live (non-tombstone, LWW-resolved) row count, maintained from
      * the change feed's audited state transitions (`inserted - deleted`
      * per merge; maintenance rewrites and folds carry it — they never
      * change the live set). -1 = unknown: pre-liveRows metadata, a commit
      * made with the change feed disabled, or a merge-on-read table (MoR
      * appends are blind to stored state by design — there is no
      * write-side transition audit to account from). Powers metadata-only
      * `SELECT count(*)` through the V2 catalog on copy-on-write tables —
      * O(1) driver work, zero data IO; unknown counts fall back to the
      * real scan. */
    liveRows: Long = -1L) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Null-safe (pre-multi-source metadata deserializes the field as null)
    * and boxing-safe (Jackson erases the Long values to Integer). */
  @com.fasterxml.jackson.annotation.JsonIgnore
  def sourceEpochsOrEmpty: Map[String, Long] =
    if (sourceEpochs == null) Map.empty
    else sourceEpochs.asInstanceOf[Map[String, Any]].map { case (k, v) =>
      k -> v.asInstanceOf[Number].longValue }
  @com.fasterxml.jackson.annotation.JsonIgnore
  def sourceEpoch(source: String): Long =
    sourceEpochsOrEmpty.getOrElse(source, 0L)

  @com.fasterxml.jackson.annotation.JsonIgnore
  def keySpec: graft.model.Schemas.KeySpec =
    if (bucketCols == null || keyCols == null || bucketCols.isEmpty)
      graft.model.Schemas.KeySpec.transcripts // pre-keyspec metadata
    else graft.model.Schemas.KeySpec(bucketCols, keyCols)

  /** All data files, resolved through the per-bucket manifests. Cold-path
    * convenience (expire, audits, tests) — hot paths resolve only the
    * buckets they touch. */
  @com.fasterxml.jackson.annotation.JsonIgnore
  def files: Seq[DataFileMeta] = Manifests.loadAll(manifests)

  @com.fasterxml.jackson.annotation.JsonIgnore
  def totalRows: Long = manifests.map(_.rows).sum
  @com.fasterxml.jackson.annotation.JsonIgnore
  def totalFiles: Int = manifests.map(_.nFiles).sum
}

final class CommitConflictException(msg: String) extends RuntimeException(msg)

/**
 * Minimal Iceberg-style copy-on-write lake table: parquet data files +
 * versioned JSON snapshot metadata, committed by atomic rename. No jar for a
 * real table format exists in this sandbox, and the north rule's semantics
 * (idempotent epoch-fenced commits, per-partition lineage, additive schema
 * evolution, snapshot isolation) are implemented here directly.
 *
 * Layout:
 *   root/meta/v%012d.json   — snapshot metadata, highest version = current
 *   root/data/snap-<id>-<uuid>/b=<bucket>/part-*.parquet
 *
 * Crash safety: data files are written BEFORE the metadata publish, each
 * at its final path inside a fresh `snap-` dir
 * (`org.apache.spark.sql.graft.BucketWriter`). A failed task attempt
 * deletes the files it wrote, and the manifests list only the files of the
 * attempts the job accepted; a write that crashes leaves its files in a
 * `snap-` dir no snapshot references, which readers never see and
 * [[gcOrphans]] removes (tested in LakeTableSpec).
 */
final class LakeTable(val spark: SparkSession, val root: String) {
  // Column identity by parquet field id (rename/drop evolution): the writer
  // stamps ids from the table schema, the reader matches by id whenever the
  // READ schema carries ids — pre-field-id tables have id-less schemas and
  // keep plain name matching, so these session flags are safe globally.
  spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  private val metaDir = s"$root/meta"
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def dataRoot: String = s"$root/data"

  private def versionPath(id: Long): String = f"$metaDir/v$id%012d.json"

  private def versionIds: Seq[Long] =
    LakeIO.list(metaDir)
      .filter { case (name, _, isDir) =>
        !isDir && name.startsWith("v") && name.endsWith(".json") }
      .map(_._1.stripPrefix("v").stripSuffix(".json").toLong)

  private def loadSnapshot(id: Long): Snapshot = {
    val s = mapper.readValue(LakeIO.readBytes(versionPath(id)), classOf[Snapshot])
    if (s.manifests == null) // pre-manifest-format metadata: fail loudly
      throw new IllegalStateException(
        s"snapshot $id at $root was written by a pre-manifest version of " +
        "this engine (flat 'files' list); rebuild the lake by replaying " +
        "its changelog — silent null manifests would NPE far from here")
    s
  }

  def currentSnapshot: Option[Snapshot] = {
    val versions = versionIds
    if (versions.isEmpty) None else Some(loadSnapshot(versions.max))
  }

  /** All snapshots, oldest first (time travel / lineage audit). */
  def snapshots: Seq[Snapshot] = snapshotsFrom(Long.MinValue)

  /** The retained snapshots with id >= `id`, oldest first — a follower's
    * diff range loads only the snapshots after its cursor. */
  def snapshotsFrom(id: Long): Seq[Snapshot] =
    versionIds.filter(_ >= id).sorted.map(loadSnapshot)

  /** Latest snapshot committed at or before `tsMillis` (SQL `TIMESTAMP AS
    * OF`). Commit time is the version file's mtime, set once at the atomic
    * publish — the same clock age-based retention expires on. */
  def snapshotIdAsOf(tsMillis: Long): Option[Long] =
    versionIds.sorted
      .filter(id => LakeIO.mtime(versionPath(id)) <= tsMillis).lastOption

  /** Fresh unique directory for a new snapshot's data files. The uuid keeps
    * retried attempts of the same epoch from colliding. */
  def newDataDir(snapshotId: Long): String =
    s"$dataRoot/snap-$snapshotId-${UUID.randomUUID().toString.take(8)}"

  /** Write one manifest file per bucket in `byBucket`; the returned refs go
    * into the new snapshot alongside the parent's refs for untouched
    * buckets. Written BEFORE the snapshot publish — a crash in between
    * leaves orphan manifests no snapshot references. */
  def writeManifests(snapshotId: Long,
                     byBucket: Map[Int, Seq[DataFileMeta]]): Seq[ManifestRef] = {
    val mdir = s"$metaDir/manifests"
    LakeIO.mkdirs(mdir)
    // independent per-bucket files — parallel metadata IO, like the footer
    // stats reads (serial, this is ~0.5 s of driver time per 64-bucket
    // batch; a fixed cost that eats scaling headroom as the distributed
    // merge gets faster)
    ParquetFooters.parMap(byBucket.toSeq.sortBy(_._1)) { case (b, fs) =>
      val path =
        s"$mdir/m-$snapshotId-b$b-${UUID.randomUUID().toString.take(8)}.json"
      LakeIO.writeBytes(path, mapper.writeValueAsBytes(fs.toArray))
      ManifestRef(b, path, fs.map(_.rows).sum, fs.size, fs.map(_.bytes).sum)
    }
  }

  /** Read the current table state restricted to `buckets` (None = all).
    * Only the selected buckets' manifests are opened — metadata IO on the
    * read path is O(selected buckets) like the data IO. Missing columns in
    * old files (pre-evolution) surface as nulls because the read is
    * schema-first — the additive-evolution read path. */
  def readBuckets(buckets: Option[Set[Int]]): DataFrame =
    currentSnapshot match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new StructType())
      case Some(s) =>
        val refs = buckets match {
          case None => s.manifests
          case Some(bs) => s.manifests.filter(r => bs.contains(r.bucket))
        }
        val files = Manifests.loadAll(refs)
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
        else
          spark.read.schema(s.schema).parquet(files.map(_.path): _*)
    }

  /** The data files a point lookup for `convId` must open: the key's bucket
    * manifest filtered by per-file [minKey, maxKey] — the read-path consumer
    * of the footer stats the writer collects (the reference's entire access
    * pattern is key point reads, jobs-core CassandraUtil.scala:29-77).
    * File ranges are tight after compaction (bucket files are key-sorted
    * and split by maxRecordsPerFile); fresh merge output is hash-sorted so
    * ranges may span the bucket. */
  def lookupFiles(convId: String): Seq[DataFileMeta] = lookupFilesKeyed(Seq(convId))

  /** Generic form: one value per keySpec.bucketCols entry (typed to match
    * the table schema — String/Int/Long). Files whose footer stats were not
    * collected (non-string bucket key: maxKey empty) are kept — bucket
    * pruning still applies, range pruning needs string stats. */
  def lookupFilesKeyed(bucketValues: Seq[Any],
                       bloom: Boolean = true): Seq[DataFileMeta] =
    currentSnapshot match {
      case None => Seq.empty
      case Some(s) =>
        val cand = LakeTable.pruneByKey(s, bucketValues)
        // Bloom/dictionary probe per candidate: within a bucket, fresh merge
        // output is hash-ordered so [minKey, maxKey] spans the bucket and
        // prunes nothing — the file-level membership evidence (parquet
        // bloom, or the chunk dictionary when all pages are dict-encoded)
        // is what skips MoR chain files / pre-compaction files that don't
        // hold the key. O(candidates) small footer IOs on the driver;
        // inconclusive probes keep the file (never a correctness risk).
        if (!bloom || cand.isEmpty) cand
        else LakeTable.filterByMembership(
          cand, s.keySpec.bucketCols.head, bucketValues.head)
    }

  /** Key-range-pruned point lookup of one conversation's live rows. */
  def lookup(convId: String): DataFrame = lookupKeyed(Seq(convId))

  /** Generic point lookup: live rows of the entity whose bucket-column
    * values are `bucketValues` (in keySpec.bucketCols order). */
  def lookupKeyed(bucketValues: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val s = currentSnapshot.getOrElse(return spark.emptyDataFrame)
    val files = lookupFilesKeyed(bucketValues)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
    val pred = s.keySpec.bucketCols.zip(bucketValues)
      .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
    val df = resolveIfMor(
      spark.read.schema(s.schema).parquet(files.map(_.path): _*).filter(pred),
      s, nPart = 2)
    graft.model.Schemas.stripFieldIds(
      if (df.columns.contains("_tombstone"))
        df.filter(not(col("_tombstone"))).drop("_tombstone")
      else df)
  }

  /** MoR read resolution: collapse the bucket chains' multi-version rows to
    * their LWW winners (tombstones kept — the caller filters). No-op on
    * copy-on-write snapshots, where every key already has exactly one row.
    * `nPart` sizes the clustering exchange: full shuffle width for table
    * scans, a handful of partitions for single-entity point lookups (32
    * near-empty tasks would dominate a one-conversation read). */
  private def resolveIfMor(df: DataFrame, s: Snapshot,
                           nPart: Int = -1): DataFrame =
    if (!s.mor || !df.columns.contains("_lsn")) df
    else graft.plans.LwwResolve.resolve(df, s.keySpec, s.nBuckets,
      if (nPart > 0) nPart else spark.sessionState.conf.numShufflePartitions)

  /** Public read: current live rows (tombstoned keys filtered out; the
    * tombstone mechanics stay internal to the MERGE path). */
  def read(): DataFrame = {
    val df = currentSnapshot match {
      case Some(s) => resolveIfMor(readBuckets(None), s)
      case None => readBuckets(None)
    }
    val live =
      if (df.columns.contains("_tombstone"))
        df.filter(!org.apache.spark.sql.functions.col("_tombstone"))
          .drop("_tombstone")
      else df
    // field ids are TABLE-INTERNAL column identity: strip them from public
    // reads so a user frame derived from this one never writes a parquet
    // file with (possibly duplicate, via multi-aliasing) ids
    graft.model.Schemas.stripFieldIds(live)
  }

  /** Time travel: the table's live rows as of `snapshotId` (snapshot must
    * not have been expired). Carried-forward files and manifests are shared
    * between snapshots, so this costs only the old snapshot's metadata. */
  def readAt(snapshotId: Long): DataFrame = {
    val s = snapshots.find(_.snapshotId == snapshotId).getOrElse(
      throw new NoSuchElementException(
        s"no snapshot $snapshotId in $root (expired or never committed)"))
    val files = s.files
    val df = resolveIfMor(
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
      else spark.read.schema(s.schema).parquet(files.map(_.path): _*),
      s)
    graft.model.Schemas.stripFieldIds(
      if (df.columns.contains("_tombstone"))
        df.filter(!org.apache.spark.sql.functions.col("_tombstone"))
          .drop("_tombstone")
      else df)
  }

  /** Metadata-only column RENAME (Iceberg `renameColumn` semantics): a new
    * snapshot carries the renamed schema over the SAME manifests and data
    * files — old files resolve the column by its stable field id, so their
    * values appear under the new name with zero data rewritten. Time travel
    * to an older snapshot still shows the old name. Refused for key/bucket
    * columns (the key contract is by name: feeds, manifests and lookups all
    * address them), internal `_` columns, and tables created before
    * field-id support (their files would resolve by name and the renamed
    * column would read as nulls). Derived consumers that reference the old
    * name (replica predicates, agg/index refresh SQL, patch feeds) fail
    * loudly on their next refresh — coordinate the rename with them. */
  def renameColumn(from: String, to: String): Snapshot = {
    val s = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot in $root"))
    val sch = s.schema
    require(graft.model.Schemas.hasFieldIds(sch),
      s"table $root was created before field-id support; rename needs " +
      "column identity (recreate or full-rewrite the table first)")
    require(!from.contains(".") && !to.contains("."),
      s"nested fields cannot be renamed ($from): field ids are top-level " +
      "only — a nested rename has no column identity to resolve old files " +
      "by. Evolve the feed additively (new nested field) instead")
    require(sch.fieldNames.contains(from), s"no column $from in $root")
    require(!sch.fieldNames.contains(to), s"column $to already exists")
    require(!from.startsWith("_") && !to.startsWith("_"),
      "internal columns cannot be renamed")
    require(!s.keySpec.keyCols.contains(from),
      s"key column $from cannot be renamed — the key contract is by name " +
      "(stored KeySpec, manifests, lookups)")
    val ns = org.apache.spark.sql.types.StructType(
      sch.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    commit(s.copy(snapshotId = s.snapshotId + 1, parentId = s.snapshotId,
      schemaJson = ns.json, schemaVersion = s.schemaVersion + 1,
      lastFieldId = math.max(s.lastFieldId,
        graft.model.Schemas.maxFieldId(sch))),
      maintenance = true)
  }

  /** Metadata-only column DROP: the field leaves the current schema; data
    * files keep the bytes (reads never project them), historic snapshots
    * still show the column via time travel. A later batch that re-introduces
    * the name creates a NEW column under a fresh field id — the dropped
    * values never resurrect (old files match by id, not name). Note the
    * additive-evolution consequence: a feed that still emits the column
    * will re-create it on its next batch, so retire it feed-side first.
    * Same restrictions as rename. */
  def dropColumn(name: String): Snapshot = {
    val s = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot in $root"))
    val sch = s.schema
    require(graft.model.Schemas.hasFieldIds(sch),
      s"table $root was created before field-id support; drop needs " +
      "column identity (a re-added name would resurrect old values)")
    require(!name.contains("."),
      s"nested fields cannot be dropped ($name): field ids are top-level " +
      "only — drop the whole column, or stop emitting the field feed-side " +
      "(reads of absent nested fields are null)")
    require(sch.fieldNames.contains(name), s"no column $name in $root")
    require(!name.startsWith("_"), "internal columns cannot be dropped")
    require(!s.keySpec.keyCols.contains(name),
      s"key column $name cannot be dropped")
    val ns = org.apache.spark.sql.types.StructType(
      sch.fields.filterNot(_.name == name))
    // record the PRE-drop max id: the dropped id must stay reserved
    commit(s.copy(snapshotId = s.snapshotId + 1, parentId = s.snapshotId,
      schemaJson = ns.json, schemaVersion = s.schemaVersion + 1,
      lastFieldId = math.max(s.lastFieldId,
        graft.model.Schemas.maxFieldId(sch))),
      maintenance = true)
  }

  /** The data files a zone-pruned range scan must open, with the total file
    * count for observability. Granularity follows the storage mode:
    *
    *  - copy-on-write: FILE-level — every key has exactly one live row, so a
    *    file whose [min, max] for `column` misses [lo, hi] can hold no
    *    qualifying row.
    *  - merge-on-read: BUCKET-level — LWW election needs a key's whole delta
    *    chain (pruning single chain files could elect a stale version whose
    *    value IS in range), but a bucket none of whose files overlaps cannot
    *    produce a winner in range, so whole buckets drop.
    *
    * The CDC-natural win: "rows whose winning change is recent" (`ts`, or
    * `_lsn` for change-cursor consumers) skips every bucket that no recent
    * batch touched — untouched buckets' files keep their old bounds. */
  def scanRangeFiles(column: String, lo: Long, hi: Long)
      : (Seq[DataFileMeta], Int) = scanRangesFiles(Seq((column, lo, hi)))

  /** Multi-predicate form: files that may hold a row satisfying EVERY
    * range (conjunction). A file (CoW) / bucket (MoR) survives only if it
    * overlaps all of them, so pruned sets intersect. */
  def scanRangesFiles(ranges: Seq[(String, Long, Long)])
      : (Seq[DataFileMeta], Int) =
    currentSnapshot match {
      case None => (Seq.empty, 0)
      case Some(s) => LakeTable.pruneByRanges(s, ranges)
    }

  /** Zone-map-pruned range scan: live rows with `column` in [lo, hi]
    * (inclusive). `lo`/`hi` are in the column's PHYSICAL stats domain —
    * epoch micros for TimestampType, epoch days for DateType, the value
    * itself for integral types; other types throw (string range pruning is
    * the bucket-key `lookup` path, everything else has no zone stats).
    * Residual filtering runs after pruning, so the result equals
    * `read().filter(column between lo and hi)` exactly — pruning is an IO
    * optimization, never a semantic change. */
  def scanRange(column: String, lo: Long, hi: Long): DataFrame =
    scanRanges(Seq((column, lo, hi)))

  /** Conjunction of ranges, pruned through [[scanRangesFiles]]; result
    * equals `read().filter(r1 && r2 && …)` exactly. */
  def scanRanges(ranges: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, not}
    import org.apache.spark.sql.types._
    require(ranges.nonEmpty, "scanRanges needs at least one range")
    val s = currentSnapshot.getOrElse(return spark.emptyDataFrame)
    val residual = ranges.map { case (column, lo, hi) =>
      val field = s.schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(
          s"scanRange column $column is not in the table schema"))
      field.dataType match {
        case TimestampType =>
          expr(s"unix_micros(`$column`)").between(lit(lo), lit(hi))
        case TimestampNTZType =>
          // NTZ literals compare in the column's own (local) domain —
          // exactly the domain the parquet stats are in; no session-tz
          // dependence
          def ntz(us: Long) = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          col(column).between(lit(ntz(lo)), lit(ntz(hi)))
        case DateType =>
          expr(s"unix_date(`$column`)").between(lit(lo), lit(hi))
        case ByteType | ShortType | IntegerType | LongType =>
          col(column).between(lit(lo), lit(hi))
        case dt =>
          throw new IllegalArgumentException(
            s"scanRange supports integral/timestamp/date columns; $column" +
            s" is $dt (string point/range lookups go through lookupKeyed)")
      }
    }.reduce(_ && _)
    val (files, _) = scanRangesFiles(ranges)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s.schema)
        .filter(residual)
    val df = resolveIfMor(
      spark.read.schema(s.schema).parquet(files.map(_.path): _*), s)
    val live =
      if (df.columns.contains("_tombstone"))
        df.filter(not(col("_tombstone"))).drop("_tombstone")
      else df
    graft.model.Schemas.stripFieldIds(live.filter(residual))
  }

  /** Atomically publish `snap` as the next version. Epoch fencing: if an
    * equal-or-newer epoch is already committed, the commit is skipped and
    * the existing snapshot returned (idempotent replay). Maintenance commits
    * (compaction — no new source data) keep the current epoch: they fence
    * only on strictly-older epochs and still take the next snapshot id, so
    * a concurrent duplicate still loses on the version-file atomic rename. */
  def commit(snap: Snapshot, maintenance: Boolean = false): Snapshot = {
    LakeIO.mkdirs(metaDir)
    currentSnapshot.foreach { cur =>
      if (maintenance) {
        // a maintenance commit prepared against epoch E while a concurrent
        // source commit moved the table to E' is a CONFLICT (recompute and
        // re-apply), not a silent fence and not a plain caller error
        if (snap.epoch != cur.epoch)
          throw new CommitConflictException(
            s"maintenance commit must keep epoch ${cur.epoch}, got " +
            s"${snap.epoch} — a concurrent commit moved the table; " +
            "recompute against the current state")
      } else {
        // STALENESS before the epoch fence: a commit prepared against an
        // older snapshot must CONFLICT (the caller re-applies against the
        // winner), never be silently fenced — with multi-feed ingest a
        // racing source's global epoch overtakes this one's, and fencing
        // first would swallow the losing feed's batch as a "replay".
        if (snap.snapshotId <= cur.snapshotId)
          throw new CommitConflictException(
            s"stale snapshot id ${snap.snapshotId}, current is ${cur.snapshotId}")
        if (cur.epoch >= snap.epoch) return cur // fenced: replayed batch
      }
      require(snap.snapshotId == cur.snapshotId + 1,
        s"snapshot id ${snap.snapshotId} must follow ${cur.snapshotId}")
    }
    val target = versionPath(snap.snapshotId)
    // Exclusive publish is the commit-race arbiter: link(2) EEXIST on
    // local FS, create-no-overwrite on HDFS (see LakeIO.publishExclusive —
    // a rename would silently REPLACE an existing version on POSIX and let
    // a maintenance commit overwrite a just-committed applier snapshot).
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(snap)
    if (!LakeIO.publishExclusive(target, bytes))
      throw new CommitConflictException(s"version ${snap.snapshotId} exists")
    snap
  }

  /** Maintenance commit with BUCKET-DISJOINT REBASE on a lost race: the
    * optimistic-concurrency rule every production table format runs so
    * background maintenance never stalls ingest (Iceberg's commit retry
    * re-validates only the files a rewrite touched). The caller prepared
    * `newRefs` for `rewrittenBuckets` against `basedOn`; if a concurrent
    * commit wins the version race but left every rewritten bucket's
    * manifest set UNCHANGED, the result is rebased onto the winner — the
    * winner's manifests everywhere else, ours for the rewritten buckets,
    * the winner's epoch/lineage/schema adopted — and retried. Rewritten
    * files were written under `basedOn`'s schema; schema-first reads with
    * field-id matching upcast/null-fill them exactly like the pre-rewrite
    * files they replaced, so adopting a concurrently-evolved schema is
    * sound. A winner that touched a rewritten bucket, or re-bucketed the
    * table, is a REAL conflict: recompute (CommitConflictException). */
  def commitRebasing(basedOn: Snapshot, rewrittenBuckets: Set[Int],
                     newRefs: Seq[ManifestRef], metrics: Map[String, Double],
                     attempts: Int = 5): Snapshot = {
    var base = basedOn
    var left = attempts
    while (true) {
      val snap = Snapshot(base.snapshotId + 1, base.snapshotId, base.epoch,
        base.schemaJson, base.schemaVersion, base.nBuckets,
        base.manifests.filterNot(r => rewrittenBuckets(r.bucket)) ++ newRefs,
        base.lineage, metrics,
        bucketCols = base.bucketCols, keyCols = base.keyCols, mor = base.mor,
        sourceEpochs = base.sourceEpochsOrEmpty,
        lastFieldId = base.lastFieldId,
        liveRows = base.liveRows) // rewrites never change the live set
      try return commit(snap, maintenance = true)
      catch {
        case e: CommitConflictException =>
          left -= 1
          if (left <= 0) throw e
          val cur = currentSnapshot.get
          if (cur.nBuckets != basedOn.nBuckets)
            throw new CommitConflictException(
              s"table re-bucketed ${basedOn.nBuckets} -> ${cur.nBuckets} " +
              "under the rewrite — recompute")
          def refsOf(s: Snapshot) = s.manifests
            .filter(r => rewrittenBuckets(r.bucket)).map(_.path).toSet
          if (refsOf(cur) != refsOf(basedOn))
            throw new CommitConflictException(
              s"concurrent commit touched rewritten buckets " +
              s"${rewrittenBuckets.toSeq.sorted.take(8).mkString(",")}… — " +
              "recompute against the current state")
          base = cur // disjoint winner: rebase and retry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Roll the table back to `targetId`: a NEW snapshot (next id, parent =
    * the current head) carrying the target's manifests, schema, lineage AND
    * epoch verbatim — the undo of bad batches every production table format
    * ships (Iceberg `rollback_to_snapshot`), expressed as one more commit so
    * snapshot ids stay monotone and every snapshot-diff consumer
    * (ChangeFeedReader / ChangeFeedFollower / Replica / SearchIndex.refresh)
    * sees the revert as ordinary inverse changes and self-heals.
    *
    * EPOCH REWIND is deliberate: the fence returns to the target's epoch, so
    * corrected source batches can re-apply at the undone epochs (the CDC
    * use: roll back, fix the feed, replay from the target's changelog
    * position). Derived tables (materialized views, conv_agg, the search
    * index, replicas) cursor on snapshot ids, never on the epoch, so they
    * fold the rollback at their next catch-up and need no rollback of
    * their own. One consumer needs care: a live streaming tailer's
    * checkpoint does NOT rewind, so rolled-back batches are not re-delivered
    * on resume (stop the stream first; use rollback on streamed lakes to
    * undo admin/DML state, not feed data).
    *
    * Concurrency: the exclusive version-file publish is the arbiter, same
    * as every commit; a lost race retries against the new head (the target
    * state is id-addressed, so retrying is always sound). */
  def rollbackTo(targetId: Long, attempts: Int = 5): Snapshot = {
    var left = attempts
    while (true) {
      val cur = currentSnapshot.getOrElse(
        throw new IllegalStateException(s"no snapshot in $root"))
      if (!versionIds.contains(targetId))
        throw new NoSuchElementException(
          s"no snapshot $targetId in $root (expired or never committed) — " +
          "tag snapshots you may need to return to (tags are retention-proof)")
      require(targetId < cur.snapshotId,
        s"rollback target $targetId is not before the head ${cur.snapshotId}")
      val target = loadSnapshot(targetId)
      val snap = target.copy(
        snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId,
        metrics = Map("rollbackOf" -> targetId.toDouble,
          "rolledBackFrom" -> cur.snapshotId.toDouble),
        // the high-water mark only grows: field ids assigned by the undone
        // commits stay reserved even though their columns vanished with the
        // rollback (re-adding the name later must mint a FRESH id)
        lastFieldId = math.max(target.lastFieldId, cur.lastFieldId))
      LakeIO.mkdirs(metaDir)
      val bytes =
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(snap)
      if (LakeIO.publishExclusive(versionPath(snap.snapshotId), bytes))
        return snap
      left -= 1
      if (left <= 0) throw new CommitConflictException(
        s"rollback to $targetId lost $attempts commit races")
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------------------ tags

  /** Named snapshot refs (Iceberg tags): retention-proof pins for audit
    * states and rollback targets. One immutable file per tag under
    * meta/tags/ — atomic create-no-overwrite, like version files. */
  private def tagsDir: String = s"$metaDir/tags"
  private def tagPath(name: String): String = s"$tagsDir/$name.json"
  private def validTagName(name: String): Boolean =
    name.nonEmpty && name.forall(c =>
      Character.isLetterOrDigit(c) || c == '-' || c == '_' || c == '.')

  /** Pin `snapshotId` (default: the current head) under `name`. Tags are
    * immutable — re-pointing is untag + tag, so a concurrent reader never
    * sees a tag silently move. */
  def tag(name: String, snapshotId: Long = -1L): Long = {
    require(validTagName(name), s"invalid tag name: $name")
    val id =
      if (snapshotId >= 0) snapshotId
      else currentSnapshot.map(_.snapshotId).getOrElse(
        throw new IllegalStateException(s"no snapshot in $root"))
    require(versionIds.contains(id), s"no snapshot $id in $root")
    LakeIO.mkdirs(tagsDir)
    val bytes = mapper.writeValueAsBytes(Map("snapshotId" -> id))
    if (!LakeIO.publishExclusive(tagPath(name), bytes))
      throw new CommitConflictException(
        s"tag $name already exists (tags are immutable: untag first)")
    id
  }

  def untag(name: String): Boolean = {
    if (!LakeIO.exists(tagPath(name))) return false
    LakeIO.delete(tagPath(name)); true
  }

  /** All tags, name -> snapshot id. */
  def tags: Map[String, Long] = {
    if (!LakeIO.exists(tagsDir)) return Map.empty
    LakeIO.list(tagsDir)
      .filter { case (n, _, isDir) => !isDir && n.endsWith(".json") }
      .map { case (n, p, _) =>
        // Jackson + Scala Map erasure yields Integer for small values
        val m = mapper.readValue(LakeIO.readBytes(p),
          classOf[Map[String, Any]])
        n.stripSuffix(".json") -> m("snapshotId").toString.toLong
      }.toMap
  }

  /** Live rows as of the tagged snapshot. */
  def readTag(name: String): DataFrame = readAt(
    tags.getOrElse(name, throw new NoSuchElementException(
      s"no tag $name in $root")))

  // ----------------------------------------------------------- CHECK rules

  /** Table-level CHECK constraints (Delta-style `ADD CONSTRAINT`): named
    * SQL boolean expressions every ingested event must satisfy — enforced
    * inside the merge's validation pass, violations dead-lettered to the
    * quarantine with reason `check:<name>` (CdcApply). SQL semantics: a
    * constraint rejects only when the expression is definitively FALSE
    * (NULL passes, as in standard SQL CHECK) — so partial patch events
    * whose untouched columns read null are not spuriously rejected; a
    * patch's constraint coverage is its own columns (document feed-side).
    *
    * Stored as one immutable file per constraint under meta/checks/ (the
    * tag pattern — atomic create-no-overwrite, no snapshot threading), so
    * constraints survive replays and kill/resume by construction and are
    * table-level, not snapshot-versioned. */
  private def checksDir: String = s"$metaDir/checks"
  private def checkPath(name: String): String = s"$checksDir/$name.json"

  /** Install a constraint. `validateExisting` scans the current live rows
    * first and refuses if any violates (the Delta discipline — a constraint
    * must hold for the whole table, not just future writes). */
  def addCheck(name: String, exprSql: String,
               validateExisting: Boolean = true): Unit = {
    require(validTagName(name), s"invalid constraint name: $name")
    // parse now: a typo must fail here, not inside the next merge
    // (functions.expr is LAZY in the unified-Column API — use the parser)
    spark.sessionState.sqlParser.parseExpression(exprSql)
    if (validateExisting && currentSnapshot.isDefined) {
      val bad = read().filter(org.apache.spark.sql.functions.expr(exprSql) <=>
        org.apache.spark.sql.functions.lit(false))
      if (!bad.isEmpty)
        throw new IllegalArgumentException(
          s"constraint $name ($exprSql) is violated by existing rows — " +
          "clean the table first (DML DELETE/UPDATE) or fix the expression")
    }
    LakeIO.mkdirs(checksDir)
    val bytes = mapper.writeValueAsBytes(Map("expr" -> exprSql))
    if (!LakeIO.publishExclusive(checkPath(name), bytes))
      throw new CommitConflictException(
        s"constraint $name already exists (drop it first to change)")
  }

  def dropCheck(name: String): Boolean = {
    if (!LakeIO.exists(checkPath(name))) return false
    LakeIO.delete(checkPath(name)); true
  }

  /** All constraints, name -> SQL expression. */
  def checks: Map[String, String] = {
    if (!LakeIO.exists(checksDir)) return Map.empty
    LakeIO.list(checksDir)
      .filter { case (n, _, isDir) => !isDir && n.endsWith(".json") }
      .map { case (n, p, _) =>
        val m = mapper.readValue(LakeIO.readBytes(p),
          classOf[Map[String, String]])
        n.stripSuffix(".json") -> m("expr")
      }.toMap
  }

  // ------------------------------------------------- map put-all contracts

  /** Map columns with ADDITIVE patch semantics (the reference's
    * `QueryBuilder.putAll` map<text,int> upserts,
    * ActivityAggregatesFunction.scala:301-310; `agg map<text,int>` at
    * test.cql:36-38): a patch event (op='P') carrying the column MERGES its
    * entries into the stored map (new keys win on collision) instead of
    * replacing the whole column; an explicit unset (Schemas.UnsetCol) still
    * clears it. Stored as one immutable file per column under
    * meta/mapmerge/ — the checks pattern: table-level, write-once, survives
    * replay/kill/resume, read by CdcApply.patchMerge per batch (cheap
    * metadata; empty for tables without the contract). */
  private def mapMergeDir: String = s"$metaDir/mapmerge"
  private def mapMergePath(name: String): String = s"$mapMergeDir/$name.json"

  /** Declare `colName` additive under patches. The column need not exist
    * yet (a patch feed may introduce it additively); when it does exist it
    * must be a MapType — enforced at merge time against the batch schema. */
  def setMapPutAll(colName: String): Unit = {
    require(validTagName(colName), s"invalid column name: $colName")
    LakeIO.mkdirs(mapMergeDir)
    val bytes = mapper.writeValueAsBytes(Map("col" -> colName))
    if (!LakeIO.publishExclusive(mapMergePath(colName), bytes))
      throw new CommitConflictException(
        s"map put-all contract for $colName already exists")
  }

  def dropMapPutAll(colName: String): Boolean = {
    if (!LakeIO.exists(mapMergePath(colName))) return false
    LakeIO.delete(mapMergePath(colName)); true
  }

  /** Columns under the additive-map patch contract. */
  def mapPutAllCols: Set[String] = {
    if (!LakeIO.exists(mapMergeDir)) return Set.empty
    LakeIO.list(mapMergeDir)
      .filter { case (n, _, isDir) => !isDir && n.endsWith(".json") }
      .map(_._1.stripSuffix(".json")).toSet
  }

  /** Expire all but the newest `keepLast` snapshots: their metadata files
    * are removed and any data file or manifest referenced ONLY by expired
    * snapshots is deleted (manifests are shared across snapshots by
    * carry-over, so retention is by reference count against the retained
    * set). A data file is listed by exactly ONE manifest — file and
    * manifest are created together by the same write, and carry-over shares
    * the manifest by path rather than re-listing files — so dead files are
    * exactly the files of expired-only manifests, and the whole operation
    * is O(expired work): per-batch retention (CdcDriver.keepSnapshots)
    * never loads the retained snapshots' manifest contents, which at a
    * 32k-bucket table would be a serial per-batch driver tax. Returns
    * (snapshots expired, data files deleted). */
  def expireSnapshots(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = snapshots
    if (all.size <= keepLast) return (0, 0)
    expireThese(all, all.splitAt(all.size - keepLast)._1)
  }

  /** AGE-based retention (the reference's knob is time, e.g. a 7-day dedup
    * TTL — activity-aggregate-updater.conf:36): expire every snapshot whose
    * commit time (version-file mtime — set once at the atomic publish,
    * never touched again) is older than `maxAgeMs`, ALWAYS keeping the
    * current head regardless of age. Tags remain retention-proof. An
    * operator wanting "keep 7 days of time travel" calls this with
    * 7*24*3600*1000 on any cadence; combine with keepLast by calling both. */
  def expireSnapshotsOlderThan(maxAgeMs: Long): (Int, Int) = {
    require(maxAgeMs >= 0, "maxAgeMs must be >= 0")
    val all = snapshots
    if (all.size <= 1) return (0, 0)
    val now = System.currentTimeMillis()
    val old = all.dropRight(1) // the head never expires
      .filter(s => now - LakeIO.mtime(versionPath(s.snapshotId)) >= maxAgeMs)
    if (old.isEmpty) return (0, 0)
    expireThese(all, old)
  }

  /** Shared expiry core: delete `candidates` (minus tagged pins) and every
    * manifest/data file only they reference. `all` must be the full current
    * snapshot list (reference counting needs the retained side). */
  private def expireThese(all: Seq[Snapshot],
                          candidates: Seq[Snapshot]): (Int, Int) = {
    // tagged snapshots are retention-proof: audit pins and rollback targets
    // survive any retention policy until explicitly untagged
    val tagged = tags.values.toSet
    val candidateIds = candidates.map(_.snapshotId).toSet
    val (expired, retained) = all.partition(s =>
      candidateIds.contains(s.snapshotId) && !tagged.contains(s.snapshotId))
    if (expired.isEmpty) return (0, 0)
    val liveManifests = retained.flatMap(_.manifests.map(_.path)).toSet
    val deadRefs = expired.flatMap(_.manifests).distinctBy(_.path)
      .filterNot(r => liveManifests.contains(r.path))
    val dead = Manifests.loadAll(deadRefs).map(_.path)
    dead.foreach(LakeIO.delete)
    deadRefs.foreach(r => LakeIO.delete(r.path))
    expired.foreach(s => LakeIO.delete(versionPath(s.snapshotId)))
    (expired.size, dead.size)
  }

  /** Streaming-checkpoint binding: the identity of the ONE Structured
    * Streaming checkpoint allowed to drive this lake — PER NAMED SOURCE
    * for multi-feed streaming (each feed's epochs are relative to its own
    * checkpoint's batchIds; the empty source is the single-feed default).
    * Pairing a fresh checkpoint with prior progress would silently fence
    * (drop) every early batch — the binding lets CdcStream refuse that
    * pairing loudly instead. */
  private def bindingPath(source: String): String =
    if (source.isEmpty) s"$metaDir/stream-binding.json"
    else s"$metaDir/stream-binding-$source.json"

  def streamBinding(source: String = ""): Option[String] = {
    val p = bindingPath(source)
    if (!LakeIO.exists(p)) return None
    val m = mapper.readValue(LakeIO.readBytes(p),
      classOf[Map[String, String]])
    m.get("checkpointId")
  }

  /** Write-once (atomic exclusive publish): records the checkpoint id. */
  def bindStream(checkpointId: String, source: String = ""): Unit = {
    LakeIO.mkdirs(metaDir)
    val bytes = mapper.writeValueAsBytes(Map("checkpointId" -> checkpointId))
    if (!LakeIO.publishExclusive(bindingPath(source), bytes))
      throw new CommitConflictException(
        s"lake already bound to checkpoint " +
        s"${streamBinding(source).getOrElse("?")}" +
        (if (source.isEmpty) "" else s" for source $source"))
  }

  /** Data directories on disk that no snapshot references (crash orphans). */
  def orphanDataDirs(): Seq[String] = {
    val referenced = snapshots.flatMap(_.files.map(f =>
      java.nio.file.Paths.get(f.path).getParent.getParent.toString)).toSet
    LakeIO.list(dataRoot).filter(_._3).map(_._2)
      .filterNot(referenced.contains)
  }

  /** Remove crash leftovers: data directories and manifest files no
    * snapshot references, but only those older than `minAgeMs` — an
    * IN-FLIGHT commit's just-written data dir and manifests look exactly
    * like orphans until its snapshot publishes, so age is the safety
    * fence (the same discipline as Iceberg's remove_orphan_files).
    * Returns (data dirs deleted, manifest files deleted). */
  def gcOrphans(minAgeMs: Long = 3600 * 1000L): (Int, Int) = {
    val now = System.currentTimeMillis()
    def oldEnough(p: String) = now - LakeIO.mtime(p) >= minAgeMs
    val deadDirs = orphanDataDirs().filter(oldEnough)
    deadDirs.foreach(LakeIO.delete)
    // manifest paths are stored as written (possibly relative) while
    // listing returns FS-qualified paths — compare by unique file name
    val referencedNames = snapshots
      .flatMap(_.manifests.map(r => r.path.split('/').last)).toSet
    val deadManifests = LakeIO.list(s"$metaDir/manifests")
      .filter { case (name, path, isDir) =>
        !isDir && !referencedNames.contains(name) && oldEnough(path) }
      .map(_._2)
    deadManifests.foreach(LakeIO.delete)
    (deadDirs.size, deadManifests.size)
  }
}

object LakeTable {
  /** Driver-side mirror of CdcApply.bucketOf — evaluates Spark's own
    * XxHash64 expression (seed 42, the `functions.xxhash64` default) so a
    * point lookup lands in exactly the bucket the writer used. */
  def bucketOfValue(convId: String, nBuckets: Int): Int =
    bucketOfValues(Seq(convId), nBuckets)

  /** Multi-column form: values in keySpec.bucketCols order, typed to match
    * the table columns (String/Int/Long/Boolean — Literal-representable). */
  def bucketOfValues(values: Seq[Any], nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      values.map(v => org.apache.spark.sql.catalyst.expressions.Literal(v)),
      42L).eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** Zone-map pruning against an EXPLICIT snapshot (instance methods use the
    * current one; the SQL relation pins the snapshot it was created on for
    * snapshot isolation). Granularity follows the storage mode — file-level
    * on copy-on-write, whole-delta-chain on merge-on-read (pruning single
    * chain files could elect a stale version whose value IS in range; a
    * bucket none of whose files overlaps every range cannot produce a
    * winner that satisfies the conjunction). Returns (kept files, total). */
  def pruneByRanges(s: Snapshot, ranges: Seq[(String, Long, Long)])
      : (Seq[DataFileMeta], Int) = {
    // a MoR bucket's chain spans SEVERAL manifest refs (one per delta
    // segment) — group before deciding, the whole chain lives or dies
    val byBucket = s.manifests.groupBy(_.bucket).view
      .mapValues(Manifests.loadAll).toSeq
    val total = byBucket.map(_._2.size).sum
    def may(f: DataFileMeta): Boolean =
      ranges.forall { case (c, lo, hi) => f.mayOverlap(c, lo, hi) }
    val kept =
      if (!s.mor) byBucket.flatMap(_._2.filter(may))
      else byBucket.collect {
        case (_, fs) if ranges.forall { case (c, lo, hi) =>
          fs.exists(_.mayOverlap(c, lo, hi)) } => fs
      }.flatten
    (kept, total)
  }

  /** Bucket + key-range pruning against an explicit snapshot: the files a
    * point lookup of the entity with `bucketValues` must open. Files whose
    * footer stats were not collected (non-string bucket key: maxKey empty)
    * are kept — bucket pruning still applies, range pruning needs string
    * stats. Safe under MoR: every file that may CONTAIN the key survives,
    * so the LWW election sees the key's full chain. */
  /** Drop candidate files whose bloom filter / full dictionary PROVES the
    * value absent (ParquetFooters.mightContain); inconclusive evidence
    * keeps the file. O(candidates) parallel driver footer IOs. Shared by
    * the point-lookup path and the SQL scan's key-equality pruning
    * (graft.sources.GraftScan) so probe semantics can never diverge
    * between them. */
  def filterByMembership(files: Seq[DataFileMeta], column: String,
                         value: Any): Seq[DataFileMeta] =
    ParquetFooters.parMap(files)(f =>
        (f, ParquetFooters.mightContain(f.path, column, value)))
      .filter(_._2 != Some(false)).map(_._1)

  /** Membership pruning for a NON-KEY equality (`role = 'tool'`) at the
    * storage mode's safe granularity: per FILE on copy-on-write (the
    * residual filter is row-level, a file provably without the value
    * contributes nothing), but per whole delta CHAIN on merge-on-read —
    * dropping a single chain file that lacks the value could remove the
    * NEWEST version of a key and elect a stale winner that spuriously
    * matches; a bucket NONE of whose files might contain the value cannot
    * elect a matching winner, so only whole chains die. Mirrors the
    * granularity contract of [[pruneByRanges]]. */
  def pruneByMembership(s: Snapshot, files: Seq[DataFileMeta],
                        column: String, value: Any): Seq[DataFileMeta] =
    if (!s.mor) filterByMembership(files, column, value)
    else {
      val verdicts = ParquetFooters.parMap(files)(f =>
        (f, ParquetFooters.mightContain(f.path, column, value)))
      verdicts.groupBy(_._1.bucket).values.collect {
        case fs if fs.exists(_._2 != Some(false)) => fs.map(_._1)
      }.toSeq.flatten
    }

  def pruneByKey(s: Snapshot, bucketValues: Seq[Any]): Seq[DataFileMeta] = {
    val b = bucketOfValues(bucketValues, s.nBuckets)
    val ranged = bucketValues.head match {
      case v: String => Some(v)
      case _ => None // range stats are string-keyed only
    }
    s.manifests.filter(_.bucket == b).flatMap(Manifests.load)
      .filter(f => f.maxKey == null || f.maxKey.isEmpty ||
        ranged.forall(v => f.minKey <= v && v <= f.maxKey))
  }
}
