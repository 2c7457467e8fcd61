package graft.cdc

/**
 * Footer-derived batch metadata shared by the batch driver and the streaming
 * tailer: per-source-partition lineage + row count + key-null-freedom proof
 * for a set of changelog parquet files, computed from parquet FOOTERS on the
 * driver (O(files) metadata IO, no cluster scan — the reference reads the
 * same lineage token off each Kafka record, JobRequestSerde.scala:22-35).
 *
 * With this in hand, CdcApply needs exactly ONE data pass per batch: the
 * validation count rides the merge via `observe`, the lineage probe and the
 * row count come from here, and dense batches skip the bucket probe.
 */
object FooterProbe {

  private val partRe = raw"/p=(\d+)/".r

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

  /** Probe from `seg=N/p=P/` segment directories (batch driver layout).
    * Returns None when the layout lacks `p=` dirs (flat segments fall back
    * to CdcApply's probe scan). */
  def fromSegDirs(segDirs: Seq[String], keyCols: Set[String],
                  bucketKeys: Seq[String])
      : Option[CdcApply.ProbeInfo] = {
    val perPart = segDirs.flatMap { d =>
      graft.lake.LakeIO.list(d)
        .filter { case (name, _, isDir) => isDir && name.startsWith("p=") }
        .flatMap { case (name, path, _) =>
          val part = name.stripPrefix("p=").toInt
          graft.lake.LakeIO.list(path)
            .filter(_._1.endsWith(".parquet")).map(f => part -> f._2)
        }
    }
    fromFiles(perPart, keyCols, bucketKeys)
  }

  /** Probe from concrete data-file paths (the streaming micro-batch's
    * `DataFrame.inputFiles`): source partition parsed from the `/p=P/` path
    * component. Returns None if any file lacks it. */
  def fromInputFiles(paths: Seq[String], keyCols: Set[String],
                     bucketKeys: Seq[String])
      : Option[CdcApply.ProbeInfo] = {
    val perPart = paths.map { p =>
      partRe.findFirstMatchIn(p) match {
        case Some(m) => m.group(1).toInt -> p
        case None => return None // flat layout: fall back to the probe scan
      }
    }
    fromFiles(perPart, keyCols, bucketKeys)
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

/** One feed's footer probe against one lake, shared by the batch driver and
  * the tailer. The null-free proof covers the LAKE'S OWN key columns:
  * probing the transcript names against a generic-key table would "prove"
  * the wrong columns null-free and let a null real key skip validation (a
  * fresh lake seeds as transcripts, which is also what both loops' merge
  * seeds; the spec is fixed once that first commit lands). Multi-feed
  * ingest namespaces the feed's partition ids by `partBase`, in the data
  * and in the probe's lineage alike. */
private[cdc] final class FeedProbe(lake: graft.lake.LakeTable, partBase: Int) {

  /** Probe a batch's files: `probeFiles` is [[FooterProbe.fromSegDirs]] or
    * [[FooterProbe.fromInputFiles]] applied to them. */
  def probe(probeFiles: (Set[String], Seq[String]) => Option[CdcApply.ProbeInfo])
      : Option[CdcApply.ProbeInfo] = {
    val ks = lake.currentSnapshot.map(_.keySpec)
      .getOrElse(graft.model.Schemas.KeySpec.transcripts)
    val p = probeFiles(ks.keyCols.toSet + "_lsn", ks.bucketCols)
    if (partBase == 0) p
    else p.map(p => p.copy(lineage = p.lineage.map(l =>
      l.copy(srcPart = l.srcPart + partBase))))
  }

  /** The batch with its `_src_part` column namespaced. */
  def shift(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (partBase == 0) batch
    else batch.withColumn("_src_part",
      org.apache.spark.sql.functions.col("_src_part") +
        org.apache.spark.sql.functions.lit(partBase))
}
