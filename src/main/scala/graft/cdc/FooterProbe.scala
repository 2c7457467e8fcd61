package graft.cdc

/**
 * Footer-derived batch metadata for a changelog batch: per-source-partition
 * lineage + row count + key-null-freedom proof for a set of changelog
 * parquet files, computed from parquet FOOTERS on the driver (O(files)
 * metadata IO, no cluster scan — the reference reads the same lineage
 * token off each Kafka record, JobRequestSerde.scala:22-35).
 *
 * With this in hand, CdcApply needs exactly ONE data pass per batch: the
 * validation count rides the merge via `observe`, the lineage probe and the
 * row count come from here, and dense batches skip the bucket probe.
 */
object FooterProbe {

  /** Additive union of the distinct footer schemas (fields in order of first
    * appearance, all nullable — a file missing a later-added column reads it
    * as null). None on a same-name type conflict or unparseable JSON: the
    * caller then falls back to Spark's distributed mergeSchema inference,
    * which handles type widening. */
  def mergedSchema(schemaJsons: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    if (schemaJsons.isEmpty) return None
    try {
      val schemas = schemaJsons.map(j =>
        DataType.fromJson(j).asInstanceOf[StructType])
      val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
      schemas.foreach(_.fields.foreach { f =>
        out.get(f.name) match {
          case None => out(f.name) = f.copy(nullable = true)
          case Some(g) if graft.model.Schemas.sameIgnoringNull(
            g.dataType, f.dataType) => // already recorded
          case Some(g) =>
            // mid-batch widening (Schemas.widen): read the whole batch with
            // the wider type — parquet upcasts the narrow files natively.
            // A non-widening conflict falls back to Spark's mergeSchema,
            // which fails loudly on it (feed-contract break).
            graft.model.Schemas.widen(g.dataType, f.dataType) match {
              case Some(w) => out(f.name) = g.copy(dataType = w)
              case None => return None
            }
        }
      })
      Some(StructType(out.values.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Core: (srcPartition, filePath) pairs -> ProbeInfo, or None when any
    * populated file lacks `_src_off` footer stats (recording corrupted
    * lineage bounds would be worse than one probe scan). */
  def fromFiles(perPart: Seq[(Int, String)], keyCols: Set[String],
                bucketKeys: Seq[String])
      : Option[CdcApply.ProbeInfo] = {
    if (perPart.isEmpty) return None
    val stats = graft.lake.ParquetFooters.parMap(perPart) { case (part, path) =>
      // ONE footer open per file: rows + lineage bounds + the key-null proof
      // + per-bucket-col mins + embedded schema. The applier may skip the
      // key checks of the validation scan only if footers PROVE them
      // impossible: zero nulls in the key columns AND EVERY bucket column's
      // min excludes empty/whitespace-leading strings (an all-blank key
      // sorts before any printable character, so it would BE the min if
      // present) — invalidReason quarantines a blank in ANY bucket column,
      // so the proof must cover them all, not just the head.
      val s = graft.lake.ParquetFooters.probeStats(
        path, "_src_off", keyCols, bucketKeys)
      val nonBlank = s.minBucketKeys.forall(m => m.nonEmpty && m.head > ' ')
      (part, s.rows, s.offBounds, s.keysNullFree && nonBlank, s.schemaJson)
    }
    if (stats.exists(s => s._2 > 0 && s._3.isEmpty)) return None
    val lineage = stats.filter(_._3.nonEmpty).groupBy(_._1).map {
      case (part, xs) =>
        graft.lake.PartitionLineage(part,
          xs.map(_._3.get._1).min, xs.map(_._3.get._2).max)
    }.toSeq.sortBy(_.srcPart)
    Some(CdcApply.ProbeInfo(stats.map(_._2).sum, lineage,
      keysNullFree = stats.forall(_._4),
      // order-stable distinct: additive evolution means later files extend
      // earlier ones; the merge below unions fields by first appearance.
      // ANY file without embedded schema metadata (non-Spark writer) voids
      // the fast path entirely — a schema built from the Spark-written
      // subset would silently drop that file's extra columns; the
      // mergeSchema fallback handles mixed batches correctly.
      schemaJsons =
        if (stats.exists(_._5.isEmpty)) Nil
        else stats.flatMap(_._5).distinct))
  }
}
