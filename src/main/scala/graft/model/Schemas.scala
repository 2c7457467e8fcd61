package graft.model

import org.apache.spark.sql.types._

/**
 * Core data contracts of the CDC engine (SURVEY.md §7.1).
 *
 * The changelog event mirrors the reference's envelope identity/ordering
 * fields: the dedup/order token `lsn` plays the role of the reference's
 * event checksum + timestamp (reference: jobs-core Event.scala:15-19,54-56),
 * and (src_partition, src_offset) is the Kafka lineage pair the reference
 * carries on JobRequest (reference: JobRequestSerde.scala:22-35).
 */
object Schemas {

  /** Target lake-table business columns (BASELINE.json input_hint).
    * Key columns are declared nullable because a real changelog contains
    * garbage: the engine validates and quarantines rather than assuming
    * the feed honors the contract (CdcApply.invalidReason). */
  val transcriptFields: Seq[StructField] = Seq(
    StructField("conv_id", StringType, nullable = true),
    StructField("turn_idx", IntegerType, nullable = true),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true)
  )

  /** Engine metadata columns persisted in the lake table rows: the change
    * sequence that won LWW for this row plus its source lineage. */
  val metaFields: Seq[StructField] = Seq(
    StructField("_lsn", LongType, nullable = true),
    StructField("_src_part", IntegerType, nullable = true),
    StructField("_src_off", LongType, nullable = true)
  )

  /** Changelog event schema (v1, before schema evolution). */
  val changeEventSchema: StructType = StructType(
    StructField("op", StringType, nullable = true) +:
      transcriptFields ++: metaFields
  )

  /** Additive evolution column that appears mid-stream (FIXTURES.md §2.3.6). */
  val evolutionField: StructField =
    StructField("tool_meta", StringType, nullable = true)

  /** Changelog event schema (v2, after additive evolution). */
  val changeEventSchemaV2: StructType =
    StructType(changeEventSchema.fields :+ evolutionField)

  val keyCols: Seq[String] = Seq("conv_id", "turn_idx")

  /** Table key contract: `bucketCols` (the hash-shard / conversation-level
    * key — all rows of one entity co-locate in one bucket) must be a subset
    * of `keyCols` (the full primary key a change event addresses).
    *
    * The engine is key-generic: the spec is stored in the lake's snapshot
    * metadata at table creation and every applier reads it back from there
    * — so one engine hosts the reference's differently-keyed tables at once
    * (e.g. `user_enrolments(userid, courseid, batchid)` and
    * `user_activity_agg((activity_type, activity_id), context_id, user_id)`,
    * lms-jobs/activity-aggregate-updater/src/test/resources/test.cql:32-60)
    * next to the transcript default `(conv_id; conv_id, turn_idx)`. */
  final case class KeySpec(bucketCols: Seq[String], keyCols: Seq[String]) {
    require(bucketCols.nonEmpty && keyCols.nonEmpty, "key spec must be non-empty")
    require(bucketCols.forall(keyCols.contains),
      s"bucket cols $bucketCols must be a subset of key cols $keyCols")
    /** key columns beyond the bucket (sub-entity address, e.g. turn_idx) */
    def restCols: Seq[String] = keyCols.filterNot(bucketCols.contains)
  }

  object KeySpec {
    /** BASELINE.json input_hint: transcripts keyed (conv_id, turn_idx),
      * sharded by conversation. */
    val transcripts: KeySpec = KeySpec(Seq("conv_id"), keyCols)
  }

  val OpInsert = "I"
  val OpUpdate = "U"
  val OpDelete = "D"

  /** Partial-column (patch) update: only the event's NON-NULL business
    * columns overwrite the current image; null means "not set" (the
    * Debezium-partial-image convention). Opt-in via `patchEnabled` — the
    * reference's map put-all / field-level hash update semantics
    * (ActivityAggregatesFunction.scala:301-310,
    * user-cache-updater-2.0 UserMetadataUpdater.scala:86-105). */
  val OpPatch = "P"

  /** Optional batch-side meta column on patch feeds (`array<string>`): the
    * listed business columns are CLEARED (set to null) as of the patch's
    * lsn — the encoding a partial feed needs for "this field was removed",
    * which plain null cannot express (null means "not touched"). If a column
    * is both set and listed, the unset wins. Reference analogue: the
    * field-level hash deletes on user-cache upserts,
    * user-org-jobs/user-cache-updater-2.0/.../UserMetadataUpdater.scala:142-153
    * (`removeEmptyFields`/`removeFrameworkFields` -> `hdelWithRetry`).
    * Never persisted in the lake table (engine meta, like `op`). */
  val UnsetCol = "unset_cols"

  /** LOSSLESS widening-promotion lattice for schema evolution beyond
    * additive columns: a stored column may grow to a strictly wider numeric
    * type mid-stream (the int counter that outgrows 2^31 — Iceberg's
    * `updateColumn` type promotion, and exactly the set Spark 4's parquet
    * readers upcast natively when the read schema is wider than the file:
    * byte→short→int→long, float→double, {byte,short,int}→double).
    * long→double and int→float are REFUSED — they lose integer precision
    * (53- / 24-bit mantissas), and a lossy "widening" silently corrupts
    * LWW state. Returns the wider type, or None when the pair is not a
    * lossless promotion (a real schema break: fail loudly, never coerce). */
  /** Nullability-blind type equality (Spark's DataType.sameType is
    * private[sql]): complex columns routinely differ only in containsNull
    * flags between a written file and the expression that produced it, and
    * that difference is not a type change. */
  def sameIgnoringNull(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
        f.name == g.name && sameIgnoringNull(f.dataType, g.dataType)
      }
    case (x: ArrayType, y: ArrayType) =>
      sameIgnoringNull(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      sameIgnoringNull(x.keyType, y.keyType) &&
        sameIgnoringNull(x.valueType, y.valueType)
    case _ => a == b
  }

  /** Stable per-column field ids (Iceberg's column-identity mechanism,
    * carried on the parquet metadata key Spark's writer/reader honor):
    * assigned once at table creation and on each additive column, never
    * reused. They make column RENAME a metadata-only operation (old files
    * resolve by id, not name) and make a re-added name a NEW column whose
    * old values never resurrect. Id matching activates only when the READ
    * schema carries ids, so pre-field-id tables keep name matching. */
  val FieldIdKey = "parquet.field.id"

  def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  def hasFieldIds(s: StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(f => fieldId(f).isDefined)

  def withFieldId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(FieldIdKey, id).build())

  /** Fresh-table assignment: ids 1..n in schema order. */
  def assignFieldIds(s: StructType): StructType =
    StructType(s.fields.zipWithIndex.map { case (f, i) =>
      withFieldId(f, i + 1L)
    })

  def maxFieldId(s: StructType): Long =
    s.fields.flatMap(fieldId).foldLeft(0L)(math.max)

  /** Next id from the CURRENT schema alone — callers allocating new ids
    * must take `math.max(nextFieldId(schema), snapshot.lastFieldId + 1)`:
    * after a dropColumn the schema no longer shows the dropped id, and
    * recycling it would resurrect the dropped column's stored values. */
  def nextFieldId(s: StructType): Long = maxFieldId(s) + 1L

  /** Strip field-id metadata from a DataFrame that leaves the table
    * boundary (change-feed deltas, verification dumps): aliases inherit
    * their source column's id, so a derived frame carrying `pre_x`/`post_x`
    * from one source column would write a parquet file with DUPLICATE ids —
    * unreadable under id-matching. Table ids are table-internal identity;
    * derived outputs are new schemas and carry none. */
  def stripFieldIds(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!df.schema.fields.exists(f => f.metadata.contains(FieldIdKey))) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (!f.metadata.contains(FieldIdKey)) col(f.name)
      else {
        val m = new MetadataBuilder().withMetadata(f.metadata)
          .remove(FieldIdKey).build()
        col(f.name).as(f.name, m)
      }
    }: _*)
  }

  /** Re-stamp field-id metadata onto a DataFrame immediately before a
    * data-file write: plan transformations (aliases, coalesce projections,
    * aggregates) drop column metadata, and a data file written WITHOUT its
    * ids would read as all-nulls under the table's id-carrying schema.
    * One extra codegen'd projection; columns not in `schema` (e.g. the
    * partition column) pass through untouched. */
  def stampFieldIds(df: org.apache.spark.sql.DataFrame,
                    schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val byName = schema.fields.map(f => f.name -> f).toMap
    df.select(df.columns.toIndexedSeq.map { c =>
      byName.get(c) match {
        case Some(f) if f.metadata.contains(FieldIdKey) =>
          col(c).as(c, f.metadata)
        case _ => col(c)
      }
    }: _*)
  }

  private val intChain: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if sameIgnoringNull(a, b) => Some(a)
    case _ if intChain.contains(a) && intChain.contains(b) =>
      Some(if (intChain(a) >= intChain(b)) a else b)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case (t, DoubleType) if intChain.get(t).exists(_ <= 2) => Some(DoubleType)
    case (DoubleType, t) if intChain.get(t).exists(_ <= 2) => Some(DoubleType)
    // NESTED evolution (the reference stores UDT structs and
    // list<frozen<map>> columns — AssessmentAggregatorFunction.scala:222-231,
    // test.cql:48): struct columns merge field-wise by NAME — common fields
    // widen recursively, a field present on only one side adopts (additive,
    // null-filled on the other; a batch missing a nested field never shrinks
    // the stored type). Stored field order is kept, new batch fields append.
    // Any non-widenable common field fails the WHOLE column loudly.
    // Boundary (pinned by spec): nested fields carry no field ids, so
    // rename/drop inside a struct is refused — a renamed nested field is an
    // incompatible add+remove only when its type also changed; same-typed it
    // behaves as drop+add (old values null out), which is why renameColumn
    // refuses dotted paths instead of guessing.
    case (x: StructType, y: StructType) =>
      val yByName = y.fields.map(f => f.name -> f).toMap
      val xNames = x.fieldNames.toSet
      val merged = x.fields.map { f =>
        yByName.get(f.name) match {
          case Some(g) => widen(f.dataType, g.dataType) match {
            case Some(w) => f.copy(dataType = w,
              nullable = f.nullable || g.nullable)
            case None => return None
          }
          case None => f // batch lacks it: keep stored shape (null-filled)
        }
      }
      val added = y.fields.filterNot(f => xNames.contains(f.name))
        .map(_.copy(nullable = true)) // absent in stored files => nullable
      Some(StructType(merged ++ added))
    case (x: ArrayType, y: ArrayType) =>
      widen(x.elementType, y.elementType)
        .map(e => ArrayType(e, x.containsNull || y.containsNull))
    case (x: MapType, y: MapType) if sameIgnoringNull(x.keyType, y.keyType) =>
      // keys are identity, never widened (a widened key would re-key rows)
      widen(x.valueType, y.valueType)
        .map(v => MapType(x.keyType, v,
          x.valueContainsNull || y.valueContainsNull))
    case _ => None
  }

  /** Lossless upcast of `c` (typed `from`) to the widened `to` — the
    * column-level counterpart of [[widen]]. Spark's `cast` refuses
    * struct-to-struct casts that ADD fields, so struct columns rebuild
    * field-by-field (new fields null), arrays map elements, maps map
    * values; scalars fall back to a plain cast. A null struct/array/map
    * stays null (never becomes a struct of nulls). */
  def upcast(c: org.apache.spark.sql.Column, from: DataType,
             to: DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (from, to) match {
      case _ if sameIgnoringNull(from, to) => c
      case (f: StructType, t: StructType) =>
        val fb = f.fields.map(x => x.name -> x).toMap
        val rebuilt = struct(t.fields.toIndexedSeq.map { tf =>
          fb.get(tf.name) match {
            case Some(ff) =>
              upcast(c.getField(tf.name), ff.dataType, tf.dataType).as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }: _*)
        when(c.isNull, lit(null).cast(t)).otherwise(rebuilt)
      case (f: ArrayType, t: ArrayType) =>
        transform(c, e => upcast(e, f.elementType, t.elementType))
      case (f: MapType, t: MapType) =>
        transform_values(c, (_, v) => upcast(v, f.valueType, t.valueType))
      case _ => c.cast(to)
    }
  }
}
