package graft.lake

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply

/**
 * Lake maintenance: bucket compaction + tombstone GC.
 *
 * Over a long replay every batch rewrites touched buckets, but tombstones
 * (persisted deletes, see CdcApply) accumulate forever and bucket
 * directories can collect multiple small files. `compact` rewrites the
 * whole table into one file chain per bucket, dropping tombstones whose
 * lsn is below `tombstoneWatermark` — safe once the source can no longer
 * re-deliver offsets below that watermark (the caller owns that retention
 * contract, exactly like dropping the reference's 7-day dedup-checksum TTL,
 * activity-aggregate-updater.conf:36).
 *
 * The commit is a maintenance commit: same epoch (no source data consumed),
 * next snapshot id — so a crashed/rerun CDC driver resumes exactly where it
 * left off, and time travel to pre-compaction snapshots still works.
 */
object Compaction {

  final case class CompactionStats(
      snapshot: Snapshot, filesBefore: Int, filesAfter: Int,
      rowsBefore: Long, rowsAfter: Long, tombstonesDropped: Long)

  def compact(
      lake: LakeTable,
      tombstoneWatermark: Long = Long.MinValue,
      /** split bucket files at this many rows (0 = one file per bucket).
        * Compacted files are conv_id-sorted, so splitting yields
        * key-range-disjoint files — what makes LakeTable.lookup's
        * min/max pruning tight. */
      targetFileRows: Long = 0L,
      /** cluster the rewrite on this column instead of the key: rows sort
        * `(bucket, clusterCol, key…)`, so with `targetFileRows` splitting
        * each file covers a NARROW clusterCol range and the zone maps make
        * `scanRange` prune almost everything outside the window — the
        * Z-order/cluster-by maintenance real table formats run on cold
        * data. Hash-bucketed writes spray every batch's time range across
        * all buckets, so without this an aged table's ts zones all span
        * the full history and nothing prunes. Trade-off (documented, safe):
        * files stop being key-range-disjoint, so `lookup`'s string min/max
        * pruning degrades to bucket-level — correctness is untouched
        * (overlap checks only widen). */
      clusterCol: Option[String] = None,
      /** compact only these buckets, carrying the rest by path — the
        * incremental / cold-bucket maintenance a live table runs next to
        * ingest. The commit REBASES on a lost race when the concurrent
        * winner touched only other buckets (LakeTable.commitRebasing), so
        * cold-bucket compaction never stalls hot-bucket ingest and never
        * recomputes for it. */
      buckets: Option[Set[Int]] = None,
      /** MULTI-column clustering (2–4 numeric/timestamp columns).
        * `zorder = false` sorts lexicographically — tight zones on the
        * FIRST column only. `zorder = true` sorts on the interleaved-bit
        * Z-value of all of them (each zone-scaled to 16 bits against its
        * GLOBAL range, read from the snapshot's own file zone maps —
        * metadata-only, no extra data pass), so every clustered dimension
        * prunes: the standard answer to "queries filter on ts OR on _lsn"
        * where one sort order can't serve both. Linear 16-bit scaling, not
        * rank-based — good when values aren't pathologically clumped at
        * one point of the range (lsns and timestamps aren't); pruning is
        * an IO optimization only, correctness never depends on it. */
      clusterCols: Seq[String] = Nil,
      zorder: Boolean = false): CompactionStats = {
    require(clusterCol.isEmpty || clusterCols.isEmpty,
      "pass clusterCol OR clusterCols, not both")
    rewrite(lake, tombstoneWatermark, newBuckets = None, targetFileRows,
      if (clusterCols.nonEmpty) clusterCols else clusterCol.toSeq,
      buckets, zorder)
  }

  /** Re-bucket the table (e.g. 64 -> 4096 as it grows): rewrite into
    * `newBuckets` hash buckets as a maintenance commit. Subsequent CDC
    * applies adopt the new count from the snapshot automatically.
    *
    * SHUFFLE-FREE when the counts are aligned (one divides the other):
    * buckets are `pmod(xxhash64(key), n)`, and `pmod(h, M) ==
    * pmod(pmod(h, N), M)` whenever M divides N — so in a k-way split
    * (N -> kN) every row of old bucket b lands in {b, b+N, …, b+(k-1)N},
    * and in a k-way merge (kN -> N) all of old bucket b lands in `b mod N`.
    * Rows never cross old-bucket boundaries, so the rewrite is per-bucket
    * local IO: read old bucket files, write new bucket dirs, NO exchange.
    * At 100 TB that is the difference between streaming the table once and
    * a full-table shuffle. Non-aligned counts (8 -> 12) fall back to the
    * explicit repartition. Output files stay key-sorted per task; file
    * counts carry over from the old layout (a split does not compact —
    * run incremental `compact(buckets=…)` afterwards to consolidate). */
  def rebucket(lake: LakeTable, newBuckets: Int,
               targetFileRows: Long = 0L): CompactionStats =
    rewrite(lake, Long.MinValue, Some(newBuckets), targetFileRows, Nil, None)

  /** Test seam: runs `beforeCommit` between the rewrite and its commit to
    * make commit races deterministic in specs. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** The Z-value sort column: each cluster column zone-scaled to a 16-bit
    * lane against its GLOBAL [min, max] — read from the snapshot's own
    * per-file zone maps (driver metadata, no data pass; one fallback agg
    * only for columns some file predates zone stats for) — then
    * bit-interleaved by the codegen'd [[graft.expressions.BitInterleave64]]. */
  private def zValueColumn(
      spark: org.apache.spark.sql.SparkSession,
      cur: Snapshot,
      subset: Option[Set[Int]],
      kept: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val fields = cur.schema.fields.map(f => f.name -> f.dataType).toMap
    def phys(c: String): org.apache.spark.sql.Column = fields(c) match {
      case TimestampType => expr(s"unix_micros(`$c`)")
      case DateType => expr(s"unix_date(`$c`)")
      case ByteType | ShortType | IntegerType | LongType =>
        col(c).cast(LongType)
      case dt => throw new IllegalArgumentException(
        s"zorder clusters numeric/timestamp/date columns; $c is " +
        dt.simpleString)
    }
    val refs = subset match {
      case None => cur.manifests
      case Some(bs) => cur.manifests.filter(r => bs(r.bucket))
    }
    val files = Manifests.loadAll(refs)
    val metaRanges: Map[String, Option[(Long, Long)]] = cols.map { c =>
      val zs = files.map(_.zone(c))
      c -> (if (files.nonEmpty && zs.forall(_.isDefined))
        Some((zs.flatten.map(_._1).min, zs.flatten.map(_._2).max)) else None)
    }.toMap
    val needAgg = cols.filter(metaRanges(_).isEmpty)
    val aggRanges: Map[String, (Long, Long)] =
      if (needAgg.isEmpty) Map.empty
      else {
        val aggs = needAgg.flatMap(c => Seq(min(phys(c)), max(phys(c))))
        val row = kept.agg(aggs.head, aggs.tail: _*).head()
        needAgg.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(2 * i)) (0L, 0L)
                else (row.getLong(2 * i), row.getLong(2 * i + 1)))
        }.toMap
      }
    val bridge = org.apache.spark.sql.graft.GraftBridge
    val lanes = cols.map { c =>
      val (mn, mx) = metaRanges(c).getOrElse(aggRanges(c))
      val span = math.max(mx.toDouble - mn.toDouble, 1.0)
      val scaled = ((phys(c).cast("double") - lit(mn.toDouble)) / lit(span) *
        lit(65535.0)).cast("long")
      // nulls sort first (lane 0), like a NULLS FIRST sort would
      least(greatest(coalesce(scaled, lit(0L)), lit(0L)), lit(65535L))
    }
    bridge.column(graft.expressions.BitInterleave64(
      lanes.map(bridge.expression)))
  }

  private def rewrite(
      lake: LakeTable,
      tombstoneWatermark: Long,
      newBuckets: Option[Int],
      targetFileRows: Long,
      clusterCols: Seq[String],
      bucketSubset: Option[Set[Int]],
      zorder: Boolean = false): CompactionStats = {
    val cur = lake.currentSnapshot.getOrElse(
      throw new IllegalStateException("nothing to compact: empty table"))
    val spark = lake.spark
    val nB = newBuckets.getOrElse(cur.nBuckets)
    require(newBuckets.isEmpty || bucketSubset.isEmpty,
      "rebucketing must rewrite the whole table")
    bucketSubset.foreach(bs => require(
      bs.nonEmpty && bs.forall(b => b >= 0 && b < cur.nBuckets),
      s"bucket subset $bs out of range [0, ${cur.nBuckets})"))

    val ks = cur.keySpec
    val raw0 = lake.readBuckets(bucketSubset)
    // A MoR table's buckets hold multi-version chains: resolve LWW FIRST,
    // then apply the tombstone watermark — filtering unresolved chains would
    // drop a winning tombstone while keeping the older live version it
    // fences (resurrection). The rewrite doubles as a full chain fold.
    val raw =
      if (cur.mor && raw0.columns.contains("_lsn"))
        graft.plans.LwwResolve.resolve(raw0, ks, cur.nBuckets,
          spark.sessionState.conf.numShufflePartitions)
      else raw0
    val kept =
      if (raw.columns.contains("_tombstone"))
        raw.filter(!col("_tombstone") || col("_lsn") >= tombstoneWatermark)
      else raw
    val withB = kept.withColumn("b",
      CdcApply.bucketOfCols(ks.bucketCols.map(col), nB))

    clusterCols.foreach { c =>
      require(kept.columns.contains(c),
        s"cluster column $c is not in the table schema")
      require(!ks.keyCols.headOption.contains(c),
        s"clustering on the leading key column $c is the default sort")
    }
    require(!zorder || (clusterCols.size >= 2 && clusterCols.size <= 4),
      s"zorder interleaves 2-4 cluster columns, got ${clusterCols.size}")
    val dataDir = lake.newDataDir(cur.snapshotId + 1)
    LakeIO.ensureMicrosTimestamps(spark)
    val clusterSort: Seq[org.apache.spark.sql.Column] =
      if (!zorder) clusterCols.map(col)
      else Seq(zValueColumn(spark, cur, bucketSubset, kept, clusterCols))
    val sortCols =
      col("b") +: (clusterSort ++ ks.keyCols.map(col))
    // Aligned rebucket (one count divides the other) never moves a row
    // across old-bucket boundaries (see rebucket doc), so the exchange is
    // pure waste: keep the scan's partitioning (old bucket dirs) and let
    // partitionBy route each task's rows to its few new dirs locally.
    // MoR tables excluded: the LWW resolve above already re-partitioned.
    val alignedRebucket = newBuckets.isDefined && nB != cur.nBuckets &&
      !cur.mor && (nB % cur.nBuckets == 0 || cur.nBuckets % nB == 0)
    val stamped = graft.model.Schemas.stampFieldIds(withB, cur.schema)
    val writer = (if (alignedRebucket) stamped
                  else stamped.repartitionById(nB, col("b")))
      .sortWithinPartitions(sortCols: _*)
      .write.options(LakeIO.bloomWriteOptions(ks.bucketCols.head))
      .partitionBy("b")
    (if (targetFileRows > 0)
       writer.option("maxRecordsPerFile", targetFileRows)
     else writer).parquet(dataDir)

    val statsCol = ks.bucketCols.head
    val statsIsString = cur.schema.fields.find(_.name == statsCol)
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    val newFiles = {
      val work = LakeIO.list(dataDir)
        .filter { case (name, _, isDir) => isDir && name.startsWith("b=") }
        .flatMap { case (name, path, _) =>
          val b = name.stripPrefix("b=").toInt
          LakeIO.list(path).filter(_._1.endsWith(".parquet"))
            .map(x => (b, x._2))
        }
      ParquetFooters.parMap(work) { case (b, p) =>
        val st = ParquetFooters.writeStats(p,
          if (statsIsString) Some(statsCol) else None)
        DataFileMeta(p, b, st.rows, st.minKey, st.maxKey,
          st.zoneCols, st.zoneMins, st.zoneMaxs, st.bytes,
          st.liveRows, st.zoneNullFree, st.zoneFieldIds)
      }
    }

    // rowsBefore counts only what this rewrite READ (the subset's rows on
    // an incremental run) so tombstonesDropped stays meaningful
    val rowsBefore = bucketSubset match {
      case None => cur.totalRows
      case Some(bs) => cur.manifests.filter(r => bs(r.bucket)).map(_.rows).sum
    }
    val rowsAfter = newFiles.map(_.rows).sum
    val newRefs = lake.writeManifests(cur.snapshotId + 1,
      newFiles.groupBy(_.bucket))
    beforeCommitHook()
    val committed = bucketSubset match {
      case Some(bs) =>
        // incremental run: rebase onto a concurrent winner that left the
        // compacted buckets untouched, conflict loudly otherwise
        lake.commitRebasing(cur, bs, newRefs,
          Map("compaction" -> 1.0, "rowsBefore" -> rowsBefore.toDouble,
            "rowsAfter" -> rowsAfter.toDouble))
      case None =>
        val snap = Snapshot(cur.snapshotId + 1, cur.snapshotId, cur.epoch,
          cur.schemaJson, cur.schemaVersion, nB, newRefs, cur.lineage,
          Map("compaction" -> 1.0, "rowsBefore" -> rowsBefore.toDouble,
            "rowsAfter" -> rowsAfter.toDouble) ++
            newBuckets.map(_ => "rebucketShuffleFree" ->
              (if (alignedRebucket) 1.0 else 0.0)),
          bucketCols = ks.bucketCols, keyCols = ks.keyCols, mor = cur.mor,
          sourceEpochs = cur.sourceEpochsOrEmpty,
          lastFieldId = cur.lastFieldId,
          liveRows = cur.liveRows) // rewrites never change the live set
        lake.commit(snap, maintenance = true)
    }
    val filesBefore = bucketSubset match {
      case None => cur.totalFiles
      case Some(bs) => cur.manifests.filter(r => bs(r.bucket)).map(_.nFiles).sum
    }
    CompactionStats(committed, filesBefore, newFiles.size,
      rowsBefore, rowsAfter, rowsBefore - rowsAfter)
  }
}
