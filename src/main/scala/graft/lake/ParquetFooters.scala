package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet footer reads, without touching data pages (O(files) small IOs;
  * driver-side callers fan out with [[parMap]]):
  *  - [[writeStats]] / [[dataFileMeta]]: the per-file stats a commit
  *    records in its manifests (row and live counts, key min/max, zone
  *    maps), read by the write task that just closed the file
  *    (`org.apache.spark.sql.graft.BucketWriter`) with that task's conf;
  *  - [[probeStats]]: the changelog probe's lineage, row count, key-null
  *    proof and embedded schema, one open per file;
  *  - [[mightContain]] / [[mightContainAny]]: bloom or dictionary
  *    membership for point-lookup pruning;
  *  - [[nullCounts]]: per-column null totals. */
object ParquetFooters {

  private val conf = new Configuration()

  /** Total null counts for `columns`, or None if any populated block lacks
    * statistics for one of them (callers must then assume nulls exist). */
  def nullCounts(path: String, columns: Set[String]): Option[Map[String, Long]] = {
    withFooter(path) { footer =>
      val acc = scala.collection.mutable.Map(columns.toSeq.map(_ -> 0L): _*)
      var missing = false
      footer.getBlocks.forEach { block =>
        val seen = scala.collection.mutable.Set[String]()
        block.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (columns.contains(name)) {
            if (c.getStatistics != null && c.getStatistics.isNumNullsSet) {
              acc(name) += c.getStatistics.getNumNulls
              seen += name
            }
          }
        }
        if (block.getRowCount > 0 && seen.size < columns.size) missing = true
      }
      if (missing) None else Some(acc.toMap)
    }
  }

  /** Everything the changelog probe needs from one footer in ONE open:
    * (rows, _src_off bounds or None, key columns null-free, per-bucket-col
    * mins, embedded Spark schema JSON). A multi-thousand-file batch pays one
    * metadata IO per file instead of four. `minBucketKeys` aligns with the
    * `bucketKeys` argument; an entry is "" when ANY populated block lacks
    * min/max stats for that column (a stats-less block could HIDE a blank
    * key, so the file-level min must not pretend to cover it). */
  final case class ProbeFileStats(rows: Long, offBounds: Option[(Long, Long)],
                                  keysNullFree: Boolean,
                                  minBucketKeys: Seq[String],
                                  schemaJson: Option[String])
  def probeStats(path: String, offCol: String, keyCols: Set[String],
                 bucketKeys: Seq[String]): ProbeFileStats =
    withFooter(path) { footer =>
      var rows = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue; var offMissing = false
      val nulls = scala.collection.mutable.Map(keyCols.toSeq.map(_ -> 0L): _*)
      var nullsMissing = false
      val minKey = scala.collection.mutable.Map[String, String]()
      val minKeyMissing = scala.collection.mutable.Set[String]()
      footer.getBlocks.forEach { block =>
        rows += block.getRowCount
        var offFound = false
        val keyMinFound = scala.collection.mutable.Set[String]()
        val nullSeen = scala.collection.mutable.Set[String]()
        block.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          val st = c.getStatistics
          if (st != null && !st.isEmpty) {
            if (name == offCol) {
              offFound = true
              val lo = st.genericGetMin.asInstanceOf[java.lang.Long]
              val hi = st.genericGetMax.asInstanceOf[java.lang.Long]
              if (lo < mn) mn = lo
              if (hi > mx) mx = hi
            }
            if (bucketKeys.contains(name)) {
              keyMinFound += name
              val lo = st.minAsString()
              if (!minKey.get(name).exists(_ <= lo)) minKey(name) = lo
            }
          }
          if (keyCols.contains(name) && st != null && st.isNumNullsSet) {
            nulls(name) += st.getNumNulls
            nullSeen += name
          }
        }
        if (block.getRowCount > 0) {
          if (!offFound) offMissing = true
          if (nullSeen.size < keyCols.size) nullsMissing = true
          bucketKeys.foreach(k => if (!keyMinFound(k)) minKeyMissing += k)
        }
      }
      ProbeFileStats(
        rows,
        if (offMissing || mn > mx) None else Some((mn, mx)),
        !nullsMissing && nulls.values.forall(_ == 0L),
        bucketKeys.map(k =>
          if (minKeyMissing(k)) "" else minKey.getOrElse(k, "")),
        Option(footer.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")))
    }

  /** Everything the WRITE side records per data file in ONE footer open:
    * row count, bucket-key string min/max (when `stringCol` is set), and
    * zone-map bounds for every top-level INT32/INT64 column — ints, longs,
    * timestamps (TIMESTAMP_MICROS) and dates land in parquet as INT32/INT64,
    * so one pass covers `ts`, `turn_idx`, `_lsn`, … A column qualifies only
    * when EVERY populated block carries min/max statistics for it (a
    * stats-less block could hide out-of-range values, so a file-level bound
    * must not pretend to cover it); all-null blocks simply contribute
    * nothing. The read-path consumer is [[LakeTable.scanRange]]. */
  final case class WriteFileStats(rows: Long, minKey: String, maxKey: String,
                                  zoneCols: Array[String],
                                  zoneMins: Array[Long],
                                  zoneMaxs: Array[Long],
                                  /** compressed data bytes (block sums) —
                                    * feeds size-aware maintenance advice */
                                  bytes: Long = 0L,
                                  /** EXACT non-tombstone row count (`rows`
                                    * when the file has no `_tombstone`
                                    * column) — feeds metadata-only filtered
                                    * COUNT(*) and the tombstone-free gate
                                    * of min/max pushdown */
                                  liveRows: Long = -1L,
                                  /** aligned with zoneCols: the column is
                                    * provably null-free in this file (every
                                    * block's numNulls recorded as 0) —
                                    * required before a range predicate on
                                    * it can be CLAIMED as exactly covered
                                    * (zone bounds say nothing about nulls) */
                                  zoneNullFree: Array[Boolean] = Array.empty,
                                  /** aligned with zoneCols: the parquet
                                    * FIELD ID the file stores the column
                                    * under (0 = none). Zone stats are
                                    * name-keyed, but reads resolve by id —
                                    * after a drop+re-add of the same name
                                    * an old file's stats describe a column
                                    * the read returns as NULLs, so exact
                                    * claims must match ids first */
                                  zoneFieldIds: Array[Long] = Array.empty)
  def writeStats(path: String, stringCol: Option[String],
                 hadoopConf: Configuration = conf): WriteFileStats =
    withFooter(path, hadoopConf) { footer =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      var rows = 0L; var bytes = 0L
      var mnK: String = null; var mxK: String = null
      val zMin = scala.collection.mutable.Map[String, Long]()
      val zMax = scala.collection.mutable.Map[String, Long]()
      val dropped = scala.collection.mutable.Set[String]()
      val nulled = scala.collection.mutable.Set[String]()
      // live (non-tombstone) rows: a block contributes rows - trues, where
      // trues comes from boolean stats when decisive (all-false/all-null ->
      // 0; all-true -> rows - nulls); a mixed block defers to an exact
      // single-column page decode after the footer pass
      var sawTomb = false; var tombTrues = 0L; var tombAmbiguous = false
      footer.getBlocks.forEach { block =>
        rows += block.getRowCount
        bytes += block.getCompressedSize
        val populated = block.getRowCount > 0
        block.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          val st = c.getStatistics
          val hasStats = st != null && !st.isEmpty
          if (stringCol.contains(name) && hasStats) {
            val lo = st.minAsString(); val hi = st.maxAsString()
            if (mnK == null || lo < mnK) mnK = lo
            if (mxK == null || hi > mxK) mxK = hi
          }
          if (name == "_tombstone" && populated) {
            sawTomb = true
            if (c.getPrimitiveType.getPrimitiveTypeName != BOOLEAN)
              tombAmbiguous = true
            else if (hasStats) {
              val mx = st.genericGetMax.asInstanceOf[java.lang.Boolean]
              val mn = st.genericGetMin.asInstanceOf[java.lang.Boolean]
              if (!mx) () // no trues in this block
              else if (mn && st.isNumNullsSet)
                tombTrues += block.getRowCount - st.getNumNulls
              else tombAmbiguous = true // mixed: decode decides
            } else if (st != null && st.isNumNullsSet &&
                       st.getNumNulls == block.getRowCount) {
              () // all-null block: every row live
            } else tombAmbiguous = true
          }
          if (!name.contains('.') &&
              (c.getPrimitiveType.getPrimitiveTypeName == INT64 ||
               c.getPrimitiveType.getPrimitiveTypeName == INT32)) {
            if (hasStats) {
              val lo = st.genericGetMin.asInstanceOf[Number].longValue()
              val hi = st.genericGetMax.asInstanceOf[Number].longValue()
              if (!zMin.get(name).exists(_ <= lo)) zMin(name) = lo
              if (!zMax.get(name).exists(_ >= hi)) zMax(name) = hi
              if (!(st.isNumNullsSet && st.getNumNulls == 0L)) nulled += name
            } else if (populated &&
                       !(st != null && st.isNumNullsSet &&
                         st.getNumNulls == block.getRowCount)) {
              // populated block, no usable bounds, not provably all-null
              dropped += name
            } else nulled += name // all-null block: not null-free
          }
        }
      }
      val keep = (zMin.keySet -- dropped).toArray.sorted
      val live =
        if (!sawTomb) rows
        else if (!tombAmbiguous) rows - tombTrues
        else countBooleanTrue(path, "_tombstone", hadoopConf)
          .map(rows - _).getOrElse(-1L)
      val schema = footer.getFileMetaData.getSchema
      val ids = keep.map { c =>
        if (!schema.containsField(c)) 0L
        else Option(schema.getType(schema.getFieldIndex(c)).getId)
          .map(_.intValue.toLong).getOrElse(0L)
      }
      WriteFileStats(rows, Option(mnK).getOrElse(""),
        Option(mxK).getOrElse(""), keep,
        keep.map(zMin), keep.map(zMax), bytes, live,
        keep.map(c => !nulled.contains(c)), ids)
    }

  /** The manifest entry of the data file at `path` in bucket `bucket`:
    * [[writeStats]] of its footer. */
  def dataFileMeta(path: String, bucket: Int, stringCol: Option[String],
                   hadoopConf: Configuration): DataFileMeta = {
    val st = writeStats(path, stringCol, hadoopConf)
    DataFileMeta(path, bucket, st.rows, st.minKey, st.maxKey,
      st.zoneCols, st.zoneMins, st.zoneMaxs, st.bytes,
      st.liveRows, st.zoneNullFree, st.zoneFieldIds)
  }

  /** EXACT count of `true` values in a top-level boolean column, decoding
    * ONLY that column's pages (a projected row-group read — the boolean
    * chunk is bit-packed, ~rows/8 bytes of IO). Used when footer boolean
    * stats cannot decide a file's tombstone count (mixed true/false
    * blocks). None on any decode failure — the caller records the live
    * count as UNKNOWN rather than guessing (exactness is the whole point
    * of the stat). */
  private def countBooleanTrue(path: String, column: String,
                               hadoopConf: Configuration): Option[Long] = {
    import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
    try {
      val reader = open(path, hadoopConf)
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        if (!fileSchema.containsField(column)) return Some(0L)
        val projection = new org.apache.parquet.schema.MessageType(
          fileSchema.getName,
          fileSchema.getType(fileSchema.getFieldIndex(column)))
        reader.setRequestedSchema(projection)
        val cd = projection.getColumns.get(0)
        val prim = new PrimitiveConverter {}
        val group: GroupConverter = new GroupConverter {
          override def getConverter(i: Int): Converter = prim
          override def start(): Unit = ()
          override def end(): Unit = ()
        }
        val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
        var trues = 0L
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val crs = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
            pages, group, projection, createdBy)
          val cr = crs.getColumnReader(cd)
          val n = pages.getRowCount
          var i = 0L
          while (i < n) {
            if (cr.getCurrentDefinitionLevel == cd.getMaxDefinitionLevel &&
                cr.getBoolean) trues += 1
            cr.consume()
            i += 1
          }
          pages = reader.readNextRowGroup()
        }
        Some(trues)
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Exact-or-probabilistic membership probe for `value` in `column`,
    * per row group, without touching data pages:
    *
    *  - a parquet BLOOM FILTER on the chunk answers "definitely absent /
    *    might contain" (the writer enables blooms on the leading bucket-key
    *    column — [[graft.lake.LakeIO.bloomWriteOptions]]);
    *  - a chunk whose data pages are ALL dictionary-encoded answers
    *    EXACTLY by dictionary membership (parquet-mr skips the bloom for
    *    such chunks since the dictionary subsumes it — same rule as
    *    parquet's own row-group DictionaryFilter, applied here at FILE
    *    level from the manifest's candidate list).
    *
    * Some(false) = no row group can contain the value (safe to skip the
    * file); Some(true) = some row group may; None = inconclusive (no bloom
    * or dictionary evidence for some populated row group, unsupported
    * type, or a read error) — callers MUST keep the file. */
  def mightContain(path: String, column: String, value: Any): Option[Boolean] =
    mightContainAny(path, column, Seq(value))

  /** Multi-value form of [[mightContain]] with ONE footer open per file:
    * Some(false) = NO listed value can be present in any row group (safe
    * to skip the file), Some(true) = some row group may contain some
    * value, None = inconclusive — callers MUST keep the file. The probe
    * set is bounded by callers (the V2 scan's runtime join filter caps
    * it), so per-block work stays O(values). */
  def mightContainAny(path: String, column: String,
                      values: Seq[Any]): Option[Boolean] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.io.api.Binary
    try {
      val reader = open(path)
      try {
        val colDesc = reader.getFooter.getFileMetaData.getSchema
          .getColumns.asScala.find(_.getPath.mkString(".") == column)
        var might = false
        var inconclusive = false
        reader.getFooter.getBlocks.asScala
          .filter(_.getRowCount > 0).foreach { block =>
          if (!might) {
            block.getColumns.asScala
              .find(_.getPath.toDotString == column) match {
              case None => inconclusive = true
              case Some(c) =>
                val bf = reader.getBloomFilterDataReader(block).readBloomFilter(c)
                if (bf != null) {
                  values.foreach { value =>
                    if (!might) {
                      val h = value match {
                        case s: String => Some(bf.hash(Binary.fromString(s)))
                        case i: Int => Some(bf.hash(i))
                        case l: Long => Some(bf.hash(l))
                        case _ => None
                      }
                      h match {
                        case Some(hash) => if (bf.findHash(hash)) might = true
                        case None => inconclusive = true
                      }
                    }
                  }
                } else if (allPagesDictEncoded(c) && colDesc.isDefined) {
                  // the concrete reader class is package-private; go through
                  // the public DictionaryPageReadStore interface
                  val store: org.apache.parquet.column.page.DictionaryPageReadStore =
                    reader.getDictionaryReader(block)
                  val dp = store.readDictionaryPage(colDesc.get)
                  if (dp == null) inconclusive = true
                  else {
                    val dict = dp.getEncoding.initDictionary(colDesc.get, dp)
                    val n = dict.getMaxId + 1
                    // probe supported-typed values for a definitive verdict;
                    // unsupported-typed values only force inconclusive when no
                    // supported value already proves the file might match
                    val (supported, unsupported) = values.partition {
                      case _: String | _: Int | _: Long => true
                      case _ => false
                    }
                    val found = supported.exists {
                      case s: String =>
                        val b = Binary.fromString(s)
                        (0 until n).exists(dict.decodeToBinary(_) == b)
                      case i: Int => (0 until n).exists(dict.decodeToInt(_) == i)
                      case l: Long => (0 until n).exists(dict.decodeToLong(_) == l)
                      case _ => false
                    }
                    if (found) might = true
                    else if (unsupported.nonEmpty) inconclusive = true
                  }
                } else inconclusive = true
            }
          }
        }
        if (might) Some(true)
        else if (inconclusive) None
        else Some(false)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** parquet-mr DictionaryFilter's rule: the chunk's dictionary is
    * authoritative only when no data page fell back to plain encoding. */
  private def allPagesDictEncoded(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
    val es = c.getEncodingStats
    es != null && es.hasDictionaryPages && !es.hasNonDictionaryEncodedPages
  }

  private def withFooter[A](path: String, hadoopConf: Configuration = conf)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val reader = open(path, hadoopConf)
    try f(reader.getFooter) finally reader.close()
  }

  // Read options come from the shared, already-loaded `conf`: the one-arg
  // `open(InputFile)` re-parses Hadoop's XML defaults into a fresh
  // Configuration on every open, which costs more than the footer read
  // itself. They are built per open: a reader's codec factory is not
  // thread-safe, and parMap decodes files in parallel.
  private def open(path: String,
                   hadoopConf: Configuration = conf): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), hadoopConf),
      HadoopReadOptions.builder(hadoopConf).build())

  // One pool for every footer fan-out (its workers are daemon threads that
  // idle out), instead of a new pool — and new threads — per call.
  private lazy val footerPool =
    new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(16))

  /** Parallel map over independent footer reads. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.collection.parallel.CollectionConverters._
    val par = xs.par
    par.tasksupport = footerPool
    par.map(f).seq
  }
}
