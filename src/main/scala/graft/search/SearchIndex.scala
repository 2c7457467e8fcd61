package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.lake.{ChangeFeedReader, DataFileMeta, LakeTable, ParquetFooters, Snapshot}
import graft.model.Schemas

/**
 * Incrementally-maintained inverted text index over a transcript lake — the
 * Spark-native restatement of the reference's secondary search index
 * (reference S11: every entity update is mirrored into Elasticsearch from
 * the same stream, jobs-core ElasticSearchUtil.scala:62-106
 * addDocument/updateDocument; e.g. user-ownership-transfer updates the user
 * search doc per event, UserOwnershipTransferFunction.scala). Instead of a
 * remote search cluster, the index IS a second LakeTable of postings
 *
 *   postings(term string, conv_id string, turn_idx int, tf int,
 *            _lsn long, _tombstone boolean)
 *   bucketed by hash(term); key = (term, conv_id, turn_idx)
 *
 * Incrementality: a refresh reads the source lake's snapshot-diff change
 * feed WITH before/after text images (ChangeFeedReader `imageCols` — the
 * Debezium before/after envelope) and synthesizes posting DELTAS: the old
 * image's terms as tombstone retractions at lsn 2e, the new image's terms
 * as assertions at lsn 2e+1 (e = this refresh's index epoch), so a term
 * present in both old and new deterministically survives with the new tf.
 *
 * Storage is LSM-SHAPED, not copy-on-write: a refresh APPENDS its delta
 * files to the term buckets (the new snapshot carries the parent's
 * manifests plus the delta manifests) and never rewrites stored postings —
 * per-refresh cost is O(changed rows' text), full stop. The merge-per-
 * refresh formulation was measured at 12x the source replay's cost at 8M
 * events because text updates touch essentially every term bucket, turning
 * each refresh into a full-index rewrite; that is exactly the workload
 * LSM/segment designs (Elasticsearch, Lucene) exist for. Readers resolve
 * last-writer-wins per (term, conv_id, turn_idx) by `_lsn` over the pruned
 * file set; [[compact]] folds the delta log back to one resolved chain per
 * bucket under a maintenance commit (then `expireSnapshots` reclaims the
 * superseded files).
 *
 * NOTE: do not run the generic [[graft.lake.Compaction]] with a tombstone
 * watermark against an index directory — it drops tombstones WITHOUT
 * resolving LWW first, which would resurrect retracted postings. Use
 * [[compact]]; it resolves, then drops.
 *
 * The index epoch encodes the last indexed source snapshot (+2), so a
 * replayed refresh is epoch-fenced into a no-op exactly like a replayed
 * source batch, and a crash between a source commit and its index refresh
 * self-heals on the next refresh (it always catches up from whatever the
 * index last saw). Term queries read ONLY the query terms' buckets and,
 * via per-file [min,max] term stats (delta files are term-sorted), only
 * the files covering a query term — O(query) IO on a 100 TB corpus. Hot
 * terms ("the") are excluded via the persisted stop list (see
 * [[stopList]]), the same hot-key discipline as DedupOps' dfCap.
 */
object SearchIndex {

  /** Posting-table key contract: one row per (term, document key). */
  val postingKeys: Schemas.KeySpec =
    Schemas.KeySpec(Seq("term"), Seq("term", "conv_id", "turn_idx"))

  /** Search terms of a text column: non-empty words of the normalized form
    * (lowercase, punctuation stripped — TextFunctions.normalized, so the
    * index and the exact-dedup/fingerprint surface agree on tokenization). */
  def terms(text: Column): Column =
    filter(split(graft.functions.TextFunctions.normalized(text), " "),
      t => length(t) > 0)

  /** (term, conv_id, turn_idx, tf) postings of the given text column.
    * The groupBy computes per-document term frequencies with map-side
    * partial aggregation (docs are narrow, so most tf collapsing happens
    * before the exchange). Two in-row alternatives were measured SLOWER at
    * 8M events: a per-row term->tf map diff costs O(terms²) string compares
    * per document (625 for a 25-term doc — higher-order-function lambdas
    * re-evaluate per element), and a posting-level full-outer diff join
    * adds a shuffle that outweighs its write savings unless consecutive
    * document versions share most terms. */
  private def postings(rows: DataFrame, textCol: String): DataFrame =
    rows.select(col("conv_id"), col("turn_idx"),
        explode(terms(col(textCol))).as("term"))
      .groupBy("term", "conv_id", "turn_idx")
      .agg(count(lit(1)).cast("int").as("tf"))

  /** The source snapshot id the index has indexed through (-1 = nothing).
    * Encoded in the index lake's epoch (epoch = source snapshot id + 2, so
    * epochs stay strictly positive and monotone with source commits). */
  def indexedSourceSnapshot(index: LakeTable): Long =
    index.currentSnapshot.map(_.epoch - 2).getOrElse(-1L)

  final case class RefreshStats(
      fromSourceSnapshot: Long,
      toSourceSnapshot: Long,
      changedRows: Long,
      snapshot: Snapshot)

  /** The index's persisted stop list ("the"-grade hot terms excluded from
    * indexing — they skew their term bucket and poison AND-query pruning at
    * corpus scale, the same hot-key problem DedupOps caps with dfCap). The
    * list is FIXED at index creation and stored beside the index so every
    * later refresh retracts and asserts under the same term set — a
    * refresh-to-refresh change would strand old postings of newly-stopped
    * terms. Derive candidates from [[documentFrequencies]] on a built
    * index, then rebuild with the chosen list. */
  def stopList(index: LakeTable): Set[String] = {
    val f = s"${index.root}/stoplist.txt"
    if (!graft.lake.LakeIO.exists(f)) Set.empty
    else new String(graft.lake.LakeIO.readBytes(f), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
  }

  private def persistStopList(index: LakeTable, terms: Set[String]): Unit =
    if (terms.nonEmpty) {
      graft.lake.LakeIO.mkdirs(index.root)
      graft.lake.LakeIO.publishExclusive(s"${index.root}/stoplist.txt",
        terms.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    }

  /** Append `deltas` (term, conv_id, turn_idx, tf, _lsn, _tombstone) as new
    * per-bucket files. `replaceBuckets = None` keeps ALL the parent's
    * manifests (LSM append — a refresh); `Some(bs)` drops the parent's
    * manifests for exactly those buckets (a compaction rewrite of them —
    * including a bucket whose resolved content is now empty, which simply
    * ends with no files). Files are term-sorted so footer [min,max] term
    * stats prune tightly. */
  private def appendCommit(
      index: LakeTable,
      deltas: DataFrame,
      epoch: Long,
      nBuckets: Int,
      replaceBuckets: Option[Set[Int]],
      maintenance: Boolean): (Snapshot, Long) = {
    val t0 = System.nanoTime()
    val cur = index.currentSnapshot
    val nB = cur.map(_.nBuckets).getOrElse(nBuckets)
    val snapshotId = cur.map(_.snapshotId + 1).getOrElse(0L)
    val withB = deltas
      .withColumn("b", CdcApply.bucketOfCols(Seq(col("term")), nB))
    val dataDir = index.newDataDir(snapshotId)
    withB
      .repartitionById(math.max(nB, 1), col("b"))
      .sortWithinPartitions("b", "term", "conv_id", "turn_idx")
      // term blooms: `search` point-looks-up each query term over the
      // bucket's delta chain — same membership pruning as the main lake's
      // MoR chains (LakeTable.lookupFilesKeyed probes them)
      .write.options(graft.lake.LakeIO.bloomWriteOptions("term"))
      .partitionBy("b").parquet(dataDir)
    val files = graft.lake.LakeIO.list(dataDir)
      .filter { case (name, _, isDir) => isDir && name.startsWith("b=") }
      .flatMap { case (name, path, _) =>
        val b = name.stripPrefix("b=").toInt
        graft.lake.LakeIO.list(path)
          .filter(_._1.endsWith(".parquet")).map(f => b -> f._2)
      }
    val metas = ParquetFooters.parMap(files) { case (b, p) =>
      val st = ParquetFooters.writeStats(p, Some("term"))
      DataFileMeta(p, b, st.rows, st.minKey, st.maxKey,
        st.zoneCols, st.zoneMins, st.zoneMaxs, st.bytes,
        st.liveRows, st.zoneNullFree, st.zoneFieldIds)
    }
    val newRefs = index.writeManifests(snapshotId, metas.groupBy(_.bucket))
    val carried = replaceBuckets match {
      case None => cur.map(_.manifests).getOrElse(Seq.empty)
      case Some(bs) => cur.map(_.manifests).getOrElse(Seq.empty)
        .filterNot(r => bs.contains(r.bucket))
    }
    val rowsOut = metas.map(_.rows).sum
    val durationSec = (System.nanoTime() - t0) / 1e9
    val metrics = Map("rowsIn" -> rowsOut.toDouble,
      "rowsOut" -> rowsOut.toDouble, "durationSec" -> durationSec)
    replaceBuckets match {
      // per-bucket compaction: rebase over a concurrent refresh that
      // touched only OTHER buckets (LakeTable.commitRebasing) — the fold
      // lands instead of skipping its cycle; a refresh that extended a
      // compacted bucket's chain still conflicts for the caller to skip
      case Some(bs) if maintenance && cur.isDefined =>
        (index.commitRebasing(cur.get, bs, newRefs, metrics), rowsOut)
      case _ =>
        val snap = Snapshot(snapshotId, cur.map(_.snapshotId).getOrElse(-1L),
          epoch, withB.drop("b").schema.json,
          cur.map(_.schemaVersion).getOrElse(1), nB,
          carried ++ newRefs, Seq.empty, metrics,
          bucketCols = postingKeys.bucketCols, keyCols = postingKeys.keyCols,
          lastFieldId = cur.map(_.lastFieldId).getOrElse(0L))
        (index.commit(snap, maintenance = maintenance), rowsOut)
    }
  }

  /** Bring the index up to date with `source`'s current snapshot. A fresh
    * index does a full build through the same code path (diff against the
    * empty table = everything inserted). Idempotent: a refresh against an
    * already-indexed snapshot is epoch-fenced into a no-op. `textCol` must
    * be a string column of the source table. */
  def refresh(
      spark: SparkSession,
      source: LakeTable,
      index: LakeTable,
      textCol: String = "text",
      nBuckets: Int = 64,
      /** hot terms to exclude; honored on the FIRST build and persisted —
        * later refreshes always use the persisted list (see [[stopList]]) */
      stopTerms: Set[String] = Set.empty): Option[RefreshStats] = {
    val srcSnap = source.currentSnapshot.getOrElse(return None)
    val stored = stopList(index)
    val stop =
      if (index.currentSnapshot.isEmpty) { // first build fixes the list
        persistStopList(index, stopTerms)
        // publishExclusive never overwrites: if a crashed first build
        // already persisted a DIFFERENT list, surface it instead of
        // silently indexing under the in-memory one
        val effective = stopList(index)
        require(stopTerms.isEmpty || effective == stopTerms,
          s"index ${index.root} already carries stop list $effective from " +
          "an earlier (crashed) build; pass that list or clear the " +
          "directory to change it")
        effective
      } else {
        require(stopTerms.isEmpty || stopTerms == stored,
          s"index ${index.root} was built with stop list $stored; a " +
          "different list would strand old postings — rebuild the index " +
          "to change it")
        stored
      }
    require(srcSnap.keySpec == Schemas.KeySpec.transcripts,
      s"SearchIndex indexes transcript-keyed tables; this lake is keyed " +
      s"${srcSnap.keySpec}")
    val from = indexedSourceSnapshot(index)
    if (from >= srcSnap.snapshotId) return None // already current
    require(source.snapshots.exists(s => s.snapshotId == from) || from < 0,
      s"index is at source snapshot $from which has been expired from " +
      s"${source.root}; rebuild the index (drop its directory) or expire " +
      "less aggressively")

    val feed = ChangeFeedReader.between(spark, source, from,
      srcSnap.snapshotId, imageCols = Seq(textCol))
    // The posting delta log. LSNs: retractions at 2e, assertions at 2e+1
    // (e = this refresh's index epoch) — monotone across refreshes, and
    // within one refresh the new image's postings win LWW over the
    // retraction of a term the row still contains.
    val epoch = srcSnap.snapshotId + 2
    def dropStop(df: DataFrame): DataFrame =
      if (stop.isEmpty) df
      else df.filter(!col("term").isin(stop.toSeq: _*))
    // Posting delta log: the old image's terms as tombstone retractions at
    // lsn 2e, the new image's terms as assertions at lsn 2e+1 — a term in
    // both images is retracted and immediately re-asserted, with the
    // assertion winning LWW. (Emitting only CHANGED terms was measured
    // slower at 8M events on both in-row and join formulations — see
    // [[postings]]; the blanket retract/assert keeps the refresh at two
    // narrow aggregations plus the bucketed write.)
    val retract = dropStop(postings(
      feed.filter(col(s"pre_$textCol").isNotNull), s"pre_$textCol"))
      .withColumn("_lsn", lit(epoch * 2))
      .withColumn("_tombstone", lit(true))
    val assert_ = dropStop(postings(
      feed.filter(col("action") =!= "deleted" &&
        col(s"post_$textCol").isNotNull), s"post_$textCol"))
      .withColumn("_lsn", lit(epoch * 2 + 1))
      .withColumn("_tombstone", lit(false))

    val (snap, rows) = appendCommit(index, retract.unionByName(assert_),
      epoch, nBuckets, replaceBuckets = None, maintenance = false)
    Some(RefreshStats(from, srcSnap.snapshotId, rows, snap))
  }

  /** LWW resolution of an (append-log) posting frame: latest `_lsn` per
    * (term, conv_id, turn_idx), tombstones dropped after winning. Identity
    * on compacted data (one row per key). */
  private def resolve(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("term", "conv_id", "turn_idx")
      .orderBy(col("_lsn").desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_tombstone"))
      .drop("_rn")
  }

  /** AND-semantics term search against the index: documents containing ALL
    * `queryTerms`, ranked by total term frequency (ties by key). IO is
    * pruned to the query terms' buckets AND, through the per-file
    * [minKey, maxKey] term stats, to the files whose term range covers a
    * query term — the lake-native analogue of an ES term query. The LWW
    * window runs over the pruned rows only. */
  def search(
      spark: SparkSession,
      index: LakeTable,
      queryTerms: Seq[String],
      topK: Int = 10): DataFrame = {
    val emptyResult = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("conv_id", StringType),
          StructField("turn_idx", IntegerType),
          StructField("score", LongType))))
    }
    val snap = index.currentSnapshot.getOrElse(return emptyResult)
    // Query terms MUST pass the same tokenization the index used
    // (TextFunctions.normalized: lowercase, non-alphanumerics to spaces) —
    // "Fox!" has to find the posting stored as "fox", and "don't" has to
    // become the two indexed terms "don"/"t". Stop-listed terms carry no
    // postings: drop them from the query (standard search-engine behavior),
    // and an all-stop/all-blank query is an empty result, not an error.
    val stop = stopList(index)
    // Locale.ROOT: the index side lowercases via Spark's locale-independent
    // lower(); a default-locale toLowerCase would tokenize differently on
    // e.g. tr-TR JVMs ("INDEX" -> "ındex") and miss indexed terms.
    val wanted = queryTerms
      .flatMap(_.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("[^a-z0-9\\s]", " ").split("\\s+"))
      .distinct.filter(t => t.nonEmpty && !stop.contains(t))
    if (wanted.isEmpty) return emptyResult
    val files = wanted.flatMap(t => index.lookupFilesKeyed(Seq(t)))
      .map(_.path).distinct
    val base =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      else spark.read.schema(snap.schema).parquet(files: _*)
    resolve(base.filter(col("term").isin(wanted: _*)))
      .groupBy("conv_id", "turn_idx")
      .agg(count(lit(1)).as("_nterms"), sum(col("tf")).as("score"))
      .filter(col("_nterms") === wanted.size) // resolved: unique per term
      .select(col("conv_id"), col("turn_idx"), col("score"))
      .orderBy(col("score").desc, col("conv_id"), col("turn_idx"))
      .limit(topK)
  }

  /** Fold the delta log back to one resolved file chain per bucket: LWW per
    * key, tombstones dropped (resolution is per-key and every key lives
    * wholly in one bucket, so dropping retraction AND retracted together is
    * exact bucket-locally too). `buckets = None` compacts everything;
    * `Some(bs)` rewrites only those buckets and carries the rest's
    * manifests untouched — the per-bucket merge a skewed workload needs
    * (hot term buckets fold often, cold ones never pay the rewrite).
    * Maintenance commit — same epoch, so the next refresh fences exactly as
    * before; run `expireSnapshots` after to reclaim superseded delta
    * files. */
  def compact(index: LakeTable,
              buckets: Option[Set[Int]] = None): Option[Snapshot] = {
    val cur = index.currentSnapshot.getOrElse(return None)
    val target = buckets.getOrElse(cur.manifests.map(_.bucket).toSet)
    if (target.isEmpty) return None
    val resolved = resolve(index.readBuckets(Some(target)))
    val (snap, _) = appendCommit(index, resolved, cur.epoch, cur.nBuckets,
      replaceBuckets = Some(target), maintenance = true)
    Some(snap)
  }

  /** Max delta-chain length across buckets: how many manifest segments a
    * single-bucket term lookup must merge — the LSM read amplification
    * (1 = fully compacted; each refresh appends one segment per touched
    * bucket). O(1) driver metadata, no file IO. */
  def maxChainLength(index: LakeTable): Int =
    index.currentSnapshot.map { s =>
      if (s.manifests.isEmpty) 0
      else s.manifests.groupBy(_.bucket).values.map(_.size).max
    }.getOrElse(0)

  /** Threshold-triggered compaction — the automatic segment-merge policy
    * every LSM store runs (Lucene/ES merge on write; an unmerged index
    * degrades reads linearly in refresh count, which at 10^10-event scale
    * with thousands of maintained batches would be unbounded). Folds ONLY
    * the buckets whose chain reached `maxChain` — under term-frequency skew
    * a hot bucket hits the threshold every few refreshes while cold ones
    * sit at chain 1, and a whole-index fold on every trigger would
    * re-introduce (amortized) exactly the O(index) rewrite the LSM append
    * design removed. Superseded delta files are reclaimed by
    * `expireSnapshots(keepSnapshots)` (0 = caller keeps history — the
    * `keep=0` contract — and reclaims via the expire CLI).
    * Best-effort: a commit race with a concurrent maintainer skips this
    * cycle (the next refresh re-triggers) rather than failing the pipeline
    * — compaction is an optimization, never required for correctness. */
  def maybeCompact(index: LakeTable, maxChain: Int,
                   keepSnapshots: Int = 2): Option[Snapshot] = {
    if (maxChain <= 0) return None
    val hot = index.currentSnapshot.map(_.manifests.groupBy(_.bucket)
      .collect { case (b, rs) if rs.size >= maxChain => b }.toSet)
      .getOrElse(Set.empty)
    if (hot.isEmpty) None
    else
      try {
        val s = compact(index, Some(hot))
        if (s.isDefined && keepSnapshots > 0)
          index.expireSnapshots(keepSnapshots)
        s
      } catch {
        case _: graft.lake.CommitConflictException => None
      }
  }

  /** The resolved live postings (term, conv_id, turn_idx, tf) — the
    * logical content of the index regardless of how many delta files
    * currently back it. */
  def resolvedPostings(index: LakeTable): DataFrame =
    resolve(index.readBuckets(None))
      .select("term", "conv_id", "turn_idx", "tf")

  /** Per-term document frequency from the index (for stop-listing hot terms
    * or IDF weighting) — resolves the delta log first, so shadowed and
    * retracted postings never count. */
  def documentFrequencies(index: LakeTable): DataFrame =
    resolvedPostings(index).groupBy("term").agg(count(lit(1)).as("df"))
}
