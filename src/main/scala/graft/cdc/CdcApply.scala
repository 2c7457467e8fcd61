package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeTable, PartitionLineage, Snapshot}

/**
 * The MERGE: applies one micro-batch of change events to the lake table.
 *
 * Spark-first formulation — instead of translating the reference's
 * read-merge-write loop (ActivityAggregatesFunction.scala:74,218-289: point
 * SELECT .. IN, merge in memory, CQL BATCH UPDATE), the whole upsert is ONE
 * shuffle:
 *
 *   union(current-state rows of touched buckets, batch change rows)
 *     one reduce task per touched bucket(conv_id)     — the only exchange
 *     sortWithinPartitions(bucket, keyhash, key, lsn desc)
 *     first-row-per-key, streaming (LWW winner)       — reuses the sort
 *     bucket writer: one file per bucket, stats back  — no extra sort
 *
 * Deletes persist as tombstone rows. This subsumes within-batch dedup
 * (reference D2: AssessmentAggregatorFunction.scala:164-168),
 * LWW-vs-stored-state (reference D3: :138-162) and delete-by-key
 * (CassandraUtil.scala:79-94) in a single pass; see lwwDedup for why this
 * beats the groupBy(max_by(struct)) formulation. An explicit two-phase
 * salted variant (`saltBuckets > 0`) splits hot buckets for adversarial
 * skew (reference analogue: explicit window shards,
 * ActivityAggregateUpdaterStreamTask.scala:80-86).
 *
 * Scale design: the table is hash-bucketed by conv_id; only buckets present
 * in the batch are read and rewritten (copy-on-write), so batch cost is
 * O(touched data), not O(table). Lineage/row counts come from changelog
 * parquet footers (or a two-int-column probe), file stats from the footers
 * the write tasks just wrote — all metadata work is O(files), not O(rows).
 */
object CdcApply {

  final case class ApplyStats(
      snapshot: Snapshot,
      skipped: Boolean,
      rowsIn: Long,
      rowsOut: Long,
      touchedBuckets: Int,
      durationSec: Double,
      /** the touched bucket ids (drives derived-table maintenance) */
      touchedSet: Set[Int] = Set.empty,
      /** events that failed validation and were quarantined this batch */
      failedEvents: Long = 0L,
      /** change-feed breakdown of the touched-bucket merge:
        * inserted / updated / deleted / delete_noop / carried row counts
        * (the reference's start/complete/audit delta derivation,
        * ActivityAggregatesFunction.scala:244-248) */
      actions: Map[String, Long] = Map.empty) {
    def eventsPerSec: Double = if (durationSec > 0) rowsIn / durationSec else 0

    /** The per-batch JSON metrics line every front end prints. */
    def json(epoch: Long): String = {
      val cf = Seq("inserted", "updated", "deleted", "delete_noop", "carried")
        .map(k => s""""$k":${actions.getOrElse(k, 0L)}""").mkString(",")
      s"""{"batchEpoch":$epoch,"snapshotId":${snapshot.snapshotId},""" +
      s""""rowsIn":$rowsIn,"rowsOut":$rowsOut,"failedEvents":$failedEvents,""" +
      s""""touchedBuckets":$touchedBuckets,""" +
      f""""durationSec":$durationSec%.3f,"rowsPerSec":$eventsPerSec%.1f,""" +
      s""""skipped":$skipped,"changeFeed":{$cf}}"""
    }
  }

  // names of the merge's `observe` metrics
  private val InvalidMetric = "graft_invalid_events"
  private val ChangeFeedMetric = "graft_change_feed"

  def bucketOf(convId: Column, nBuckets: Int): Column =
    bucketOfCols(Seq(convId), nBuckets)

  /** Multi-column bucket hash (keySpec.bucketCols order). */
  def bucketOfCols(cols: Seq[Column], nBuckets: Int): Column =
    pmod(xxhash64(cols: _*), lit(nBuckets.toLong)).cast("int")

  /** Validation verdict per event: null = valid, else the failure reason.
    * The engine-level guard the reference applies per event before state
    * writes (isValidEvent: EnrolmentReconciliationFn.scala:67,
    * MergeOperations-P5), with failures routed to the dead-letter store
    * (reference: failedEventOutputTag,
    * ActivityAggregateUpdaterConfig.scala:66-67,
    * ActivityAggregatesFunction.scala:135,143). Key-generic: a blank/null
    * bucket column is `null_key`, a null non-bucket key column `null_turn`
    * (the names stay stable across key specs for quarantine consumers). */
  def invalidReason(allowedOps: Seq[String],
                    keys: graft.model.Schemas.KeySpec): Column = {
    val bucketNull = keys.bucketCols
      .map(n => col(n).isNull || trim(col(n).cast("string")) === "")
      .reduce(_ || _)
    val restNull = keys.restCols
      .map(n => col(n).isNull)
      .foldLeft(lit(false))(_ || _)
    when(bucketNull, "null_key")
      .when(restNull, "null_turn")
      .when(col("_lsn").isNull, "null_lsn")
      .when(col("op").isNull || !col("op").isin(allowedOps: _*), "bad_op")
  }

  def invalidReason(allowedOps: Seq[String]): Column =
    invalidReason(allowedOps, graft.model.Schemas.KeySpec.transcripts)

  /** Parse a CHECK constraint against THIS batch's columns: references to
    * table columns the batch doesn't carry (yet — additive evolution) read
    * as NULL, which is exactly what the merge would store for them. A check
    * like `value >= 0` then passes (SQL CHECK passes on NULL) while
    * `value IS NOT NULL` rejects — both the semantics the stored row will
    * actually have. Resolution is case-insensitive like Spark's. */
  private[cdc] def checkColumn(spark: org.apache.spark.sql.SparkSession,
                               exprSql: String,
                               batchCols: Seq[String]): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bridge = org.apache.spark.sql.graft.GraftBridge
    val lower = batchCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // parse EAGERLY (functions.expr is lazy in the unified-Column API —
    // its SqlExpression node only parses at analysis, too late to rewrite)
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val fixed = parsed.transform {
      case u: UnresolvedAttribute
        if !lower.contains(u.name.toLowerCase(java.util.Locale.ROOT)) =>
        Literal(null)
    }
    bridge.column(fixed)
  }

  /** Select `schema`'s columns from df in order, null-filling absentees —
    * the additive-schema-evolution alignment (unionByName semantics made
    * explicit so both sides get identical column order). */
  private def align(df: DataFrame, schema: StructType,
                    extras: Seq[(String, Column)] = Nil): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(schema.fields.map { f =>
      present.get(f.name) match {
        // lossless upcast to the (possibly widened) target type — narrow
        // batch columns into a widened table, and old stored state under a
        // just-widened schema, both land on the same type before the union.
        // sameType (nullability-blind): complex columns routinely differ
        // only in containsNull flags, and ANSI cast refuses a
        // nullable-to-non-nullable map "cast" that moves no data
        case Some(t) if graft.model.Schemas.sameIgnoringNull(t, f.dataType) =>
          col(f.name)
        // structural upcast (Schemas.upcast): plain cast for scalars; a
        // struct widened by nested-additive evolution rebuilds field-wise
        // (cast refuses struct casts that add fields)
        case Some(t) =>
          graft.model.Schemas.upcast(col(f.name), t, f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq ++ extras.map { case (n, c) => c.as(n) }: _*)
  }

  /** Apply one batch. `batch` must contain `op` plus the lake columns
    * (any additive new columns are adopted into the table schema).
    * Idempotent: a batch whose `epoch` is <= the committed epoch is skipped
    * without reading or writing anything (exactly-once under replay). */
  private val timing = sys.env.get("GRAFT_TIMING").contains("1")
  private[cdc] def phase[A](name: String)(f: => A): A = {
    if (!timing) f
    else {
      val t = System.nanoTime()
      val r = f
      System.err.println(f"[timing] $name: ${(System.nanoTime() - t) / 1e9}%.2f s")
      r
    }
  }

  /** Lineage + row count when the caller derived them from changelog file
    * footers (FeedStep.probe / probeFiles) — skips the probe scan.
    * `keysNullFree`: footer null-counts prove conv_id/turn_idx/_lsn contain
    * no nulls, so validation reduces to a one-column op scan.
    * `schemaJsons`: the distinct Spark StructType JSONs found in the files'
    * footer key-value metadata — lets the driver read the batch with an
    * explicit (additively merged) schema instead of running the distributed
    * mergeSchema inference job, removing a serial per-batch Spark job. */
  final case class ProbeInfo(rowsIn: Long, lineage: Seq[PartitionLineage],
                             keysNullFree: Boolean = false,
                             schemaJsons: Seq[String] = Nil)

  def apply(
      lake: LakeTable,
      batch: DataFrame,
      epoch: Long,
      nBuckets: Int = 64,
      saltBuckets: Int = 0,
      probeInfo: Option[ProbeInfo] = None,
      validate: Boolean = true,
      /** accept op='P' partial-column patch events (Schemas.OpPatch): only
        * the event's non-null business columns overwrite the image. Uses an
        * aggregation-based merge plan instead of the window plan; a feed
        * declares patch support statically, like a Debezium connector. */
      patchEnabled: Boolean = false,
      /** classify every surviving row (inserted/updated/deleted/...) and
        * count via observe — the audit change feed. Costs one extra window
        * over the merge's existing exchange+sort; opt out for pure-ingest
        * throughput (counts then absent from metrics). */
      changeFeed: Boolean = true,
      /** engine-internal data operation (e.g. CrossMerge) that must NOT
        * consume source-epoch space: commits keep the current epoch (like
        * compaction), so the next source segment/streaming batch is never
        * fenced out by an admin operation. */
      maintenance: Boolean = false,
      /** the caller PROVABLY knows every bucket the batch touches (e.g.
        * MatView/CrossMerge synthesize the batch from those very
        * buckets) — skips the bucket-probe scan. Extra buckets are
        * harmless; a missing one would lose rows, so only pass a hint you
        * can prove complete. */
      touchedHint: Option[Set[Int]] = None,
      /** key contract SEEDING a new table; once the table exists its
        * snapshot's stored spec is authoritative (like nBuckets). */
      keys: graft.model.Schemas.KeySpec =
        graft.model.Schemas.KeySpec.transcripts,
      /** merge-on-read SEED for a new table (stored flag authoritative once
        * the table exists, like nBuckets/keys): ingest APPENDS per-bucket
        * delta files — O(batch) write cost regardless of table size — and
        * readers resolve LWW over the chain (LakeTable read paths /
        * graft.plans.LwwResolve). The LSM half of the CoW/MoR trade: right
        * for update-heavy trickle feeds into a large table, where
        * copy-on-write rewrites whole touched buckets per batch. Chains are
        * bounded by [[foldBuckets]] / [[maybeFold]]. Patch events (op='P')
        * require the stored base image at write time and are refused. */
      mor: Boolean = false,
      /** engine-internal: copy-on-write-rewrite the touchedHint buckets of
        * a MoR table even though the table is append-mode — the per-bucket
        * chain fold (compaction) that bounds read amplification. Callers
        * use [[foldBuckets]], not this flag. */
      fold: Boolean = false,
      /** MULTI-FEED ingest: a named source fences on its OWN high-water
        * epoch (snapshot.sourceEpochs) instead of the table's scalar
        * epoch, so independent feeds — binlog shard groups, a backfill
        * next to the live tail — interleave into one table, each
        * exactly-once, without fencing each other out. The committed
        * scalar epoch then just advances by one (the global commit
        * cursor derived tables and rollback key on). The caller owns
        * lsn comparability across feeds (lsn is THE global version) and
        * should namespace `_src_part` per source (CdcDriver partBase). */
      source: Option[String] = None): ApplyStats = {
    val t0 = System.nanoTime()
    // Lost a commit race to a concurrent applier (version file taken). The
    // atomic link(2) publish is the arbiter: re-apply against the refreshed
    // snapshot with ALL mode flags forwarded — if the winner already
    // covered our epoch the retry is fenced at entry; a maintenance retry
    // whose epoch moved fails loudly on the entry `require` instead of
    // being silently fenced as a normal apply (a lost migration must never
    // look like success); otherwise the merge recomputes over the winner's
    // state (Iceberg-style commit retry; our data dir becomes an orphan
    // that readers never see). Retries bounded by epoch progress.
    def retry(): ApplyStats =
      apply(lake, batch, epoch, nBuckets, saltBuckets, probeInfo, validate,
        patchEnabled, changeFeed, maintenance, touchedHint, keys, mor, fold,
        source)
    val cur = lake.currentSnapshot
    require(source.isEmpty || !maintenance,
      "maintenance applies are source-less (they consume no feed)")
    if (!maintenance) cur match {
      case Some(s) if source.isDefined =>
        if (s.sourceEpoch(source.get) >= epoch)
          return ApplyStats(s, skipped = true, 0, 0, 0, 0.0) // fenced
      case Some(s) if s.epoch >= epoch =>
        return ApplyStats(s, skipped = true, 0, 0, 0, 0.0) // fenced
      case _ =>
    } else cur.foreach { s =>
      // A maintenance apply (migration, derived-table refresh) whose epoch
      // is no longer current was SUPERSEDED by a concurrent source commit:
      // its synthesized batch is stale. Surface a typed conflict so the
      // caller recomputes against the winner's state — never a silent fence
      // (a lost migration must not look like success).
      if (s.epoch != epoch)
        throw new graft.lake.CommitConflictException(
          s"maintenance apply targets epoch $epoch but the table moved to " +
          s"epoch ${s.epoch}: recompute the maintenance batch against the " +
          "current state and re-apply")
    }
    // The table's bucket count is authoritative once it exists (the caller's
    // value only seeds a new table) — re-bucketing happens via
    // Compaction.rebucket, and appliers pick the new count up here.
    val nB = cur.map(_.nBuckets).getOrElse(nBuckets)
    val ks = cur.map(_.keySpec).getOrElse(keys)
    // storage mode is a TABLE property: the caller's `mor` only seeds a new
    // table; an existing table's stored flag wins (mixing modes silently
    // would corrupt reader expectations). `fold` temporarily reverts one
    // apply to copy-on-write semantics to collapse chains.
    val tableMor = cur.map(_.mor).getOrElse(mor)
    val morMode = tableMor && !fold
    require(!(morMode && patchEnabled),
      "patch events (op='P') need the stored base image at write time; " +
      "merge-on-read tables defer state reads — use copy-on-write for " +
      "patch feeds")
    require(!fold || tableMor,
      "fold is the MoR chain compaction; this table is copy-on-write")
    // per-batch inserted/updated/... classification needs the stored image;
    // MoR defers all state reads, so the audit feed comes from the
    // snapshot-diff ChangeFeedReader instead (exact, replayable, off the
    // ingest hot path).
    val cfOn = changeFeed && !morMode
    val spark = lake.spark

    // Dead-letter quarantine: events failing validation never reach the
    // merge (a null key would otherwise group as a key; an unknown op would
    // silently upsert). The invalid count rides the merge job itself via
    // `observe` on the batch leg — a clean feed pays ZERO extra passes for
    // validation; only a corrupted batch pays a quarantine re-scan after
    // the merge. Quarantine output is per-epoch, overwritten on retry — as
    // idempotent as the merge itself.
    val allowedOps =
      Seq(graft.model.Schemas.OpInsert, graft.model.Schemas.OpUpdate,
        graft.model.Schemas.OpDelete) ++
        (if (patchEnabled) Seq(graft.model.Schemas.OpPatch) else Nil)
    // Table-level CHECK constraints compose onto the engine's structural
    // validation: a row is rejected only when a constraint is definitively
    // FALSE (NULL passes — standard SQL CHECK, and what keeps partial patch
    // events from spurious rejection). Violations quarantine with reason
    // `check:<name>` like any invalid event. Cheap metadata read; empty on
    // tables without constraints.
    val checks = if (validate) lake.checks else Map.empty[String, String]
    val reason = checks.toSeq.sortBy(_._1)
      .foldLeft(invalidReason(allowedOps, ks)) { case (r, (n, e)) =>
        r.when(checkColumn(spark, e, batch.columns.toSeq) <=> lit(false),
          s"check:$n")
      }
    // Fast-path predicate: when footer null-counts prove the key columns
    // null-free (ProbeInfo.keysNullFree), the clean-feed check scans ONLY
    // the op column; op validity can never come from footers (unknown op
    // codes sort inside the [min,max] of the valid ones). Constraints
    // reference business columns footers cannot prove — they disable the
    // narrow-scan shortcut (the full reason rides the merge's observe
    // either way, so a clean feed still pays zero extra passes).
    val checkPred =
      if (probeInfo.exists(_.keysNullFree) && checks.isEmpty)
        (col("op").isNull || !col("op").isin(allowedOps: _*))
      else reason.isNotNull
    // The invalid count is a named observation, read from the metrics of
    // a plan that ran it: the merge write, else the first probe. Reading
    // it off that plan needs no listener, so it works whichever session
    // the batch was built on. When no plan that ran carries it (none
    // scanned the batch, or the optimizer emptied one whose every row is
    // provably invalid), the count takes its own scan.
    val batchObserved =
      if (validate)
        batch.observe(InvalidMetric,
          sum(when(checkPred, 1L).otherwise(0L)).as("invalid"))
      else batch
    val cleanBatch =
      if (validate) batchObserved.filter(!checkPred) else batchObserved
    // the probes' observations, the earlier probe's kept
    var probeObserved = Map.empty[String, Row]
    def invalidCount(observed: Map[String, Row]): Long =
      if (!validate) 0L
      else (probeObserved ++ observed).get(InvalidMetric) match {
        case Some(r) => if (r.isNullAt(0)) 0L else r.getLong(0)
        case None => phase("validate") {
          batchObserved.filter(checkPred).count() }
      }
    // Rare path: only a corrupted batch pays this second scan.
    def quarantine(nInvalid: Long): Unit = if (nInvalid > 0) {
      val qdir = s"${lake.root}/quarantine/epoch=$epoch"
      phase("quarantine") {
        batch.withColumn("_reason", reason)
          .filter(col("_reason").isNotNull)
          .write.mode("overwrite").parquet(qdir)
      }
    }

    // Target schema = current lake schema + any new batch columns (additive).
    // Lake rows additionally carry `_tombstone` (persisted deletes — see the
    // read-side comment below).
    val batchDataFields = batch.schema.fields
      .filterNot(f => f.name == "op" ||
        f.name == graft.model.Schemas.UnsetCol) :+
      org.apache.spark.sql.types.StructField("_tombstone",
        org.apache.spark.sql.types.BooleanType, nullable = false)
    val targetSchema = cur match {
      // fresh table: stable field ids 1..n (column identity for
      // rename/drop evolution — Schemas.FieldIdKey)
      case None => graft.model.Schemas.assignFieldIds(StructType(batchDataFields))
      case Some(s) =>
        val known = s.schema.fieldNames.toSet
        val batchByName = batchDataFields.map(f => f.name -> f).toMap
        // Widening promotion (Schemas.widen): a stored column whose batch
        // counterpart arrives with a LOSSLESSLY wider numeric type adopts
        // the wider type; old narrow files stay on disk and upcast at read
        // (schema-first reads — Spark 4 parquet readers do the promotion
        // natively). An incompatible change (string vs int, long vs double)
        // is a feed-contract break and fails loudly — coercing it silently
        // would corrupt every LWW winner that follows.
        val widened = s.schema.fields.map { f =>
          batchByName.get(f.name) match {
            case Some(bf)
              if !graft.model.Schemas.sameIgnoringNull(bf.dataType, f.dataType) =>
              graft.model.Schemas.widen(f.dataType, bf.dataType) match {
                case Some(w) => f.copy(dataType = w)
                case None => throw new IllegalArgumentException(
                  s"incompatible type change for column ${f.name}: table " +
                  s"has ${f.dataType.simpleString}, batch has " +
                  s"${bf.dataType.simpleString} — not a lossless widening")
              }
            case _ => f
          }
        }
        // additive columns get the next never-reused field ids (a re-added
        // name after an explicit dropColumn is a NEW column: old files'
        // same-named data stays dead, matched by id)
        val fresh = batchDataFields.filterNot(f => known(f.name))
        val stamped =
          if (!graft.model.Schemas.hasFieldIds(s.schema)) fresh // legacy table
          else {
            // allocate past the table's all-time high-water mark, not just
            // the current schema's max: a dropped column's id must never be
            // recycled (it would resurrect the dropped values by id-match)
            val base = math.max(
              graft.model.Schemas.nextFieldId(s.schema), s.lastFieldId + 1)
            fresh.zipWithIndex.map { case (f, i) =>
              graft.model.Schemas.withFieldId(f, base + i)
            }
          }
        StructType(widened ++ stamped)
    }
    // High-water mark for the committed snapshot (carried through drops)
    val lastFieldId = math.max(
      cur.map(_.lastFieldId).getOrElse(0L),
      graft.model.Schemas.maxFieldId(targetSchema))
    val schemaVersion = cur match {
      case None => 1
      case Some(s) =>
        if (targetSchema.length > s.schema.length ||
            targetSchema.fields.zip(s.schema.fields)
              .exists { case (n, o) => n.dataType != o.dataType })
          s.schemaVersion + 1
        else s.schemaVersion
    }

    // Lineage + row count: from the caller's footer-derived ProbeInfo when
    // available, else a two-int-column scan (no string decode; routed
    // through batchObserved so it also fills the validation observation).
    val (rowsIn, batchLineage) = probeInfo match {
      case Some(pi) => (pi.rowsIn, pi.lineage)
      case None =>
        val probe = phase("probe") {
          val q = batchObserved
            .select(col("_src_part"), col("_src_off"))
            .groupBy("_src_part")
            .agg(min("_src_off").as("lo"), max("_src_off").as("hi"),
              count(lit(1)).as("n"))
          val rows = q.collect()
          probeObserved = q.queryExecution.observedMetrics
          rows
        }
        (probe.map(_.getAs[Long]("n")).sum,
          probe.toSeq.map(r => PartitionLineage(
            r.getAs[Int]("_src_part"), r.getAs[Long]("lo"), r.getAs[Long]("hi"))))
    }
    // Touched buckets drive copy-on-write pruning. A dense batch (>= 64 rows
    // per bucket on average) touches every bucket with near-certainty, so the
    // conv_id scan is skipped; including an untouched bucket is harmless
    // (its rows are rewritten unchanged), excluding a touched one never
    // happens. Small batches do the exact column-pruned scan — unless the
    // caller handed over a provably complete hint (MatView/CrossMerge
    // synthesize the batch FROM those buckets). The hint is bucket-space
    // relative: trust it only if the table still has the bucket count the
    // caller computed it under (a concurrent rebucket invalidates it).
    // The dense all-buckets shortcut counts on rowsIn ~= valid rows: with
    // validation on but unproven (no footer null-proof), a mostly-invalid
    // dense batch would trigger an O(table) rewrite for a handful of
    // survivors — take the exact probe (over cleanBatch, so invalid rows
    // don't count) unless footers prove the keys clean or validation is off.
    val denseTrusted = !validate || probeInfo.exists(_.keysNullFree)
    // MoR appends never read state, so the touched set is not needed before
    // the write — it falls out of the written files afterwards (zero probe).
    val touched: Set[Int] =
      if (morMode) Set.empty
      else touchedHint.filter(_ => nB == nBuckets).getOrElse {
        phase("probe-buckets") {
          if (denseTrusted && rowsIn >= nB.toLong * 64) (0 until nB).toSet
          else {
            val q = cleanBatch
              .select(bucketOfCols(ks.bucketCols.map(col), nB).as("b"))
              .distinct()
            val bs = q.collect().map(_.getInt(0)).toSet
            probeObserved = q.queryExecution.observedMetrics ++ probeObserved
            bs
          }
        }
      }
    val snapshotId = cur.map(_.snapshotId + 1).getOrElse(0L)
    val parentId = cur.map(_.snapshotId).getOrElse(-1L)
    // multi-feed: the committed scalar epoch is just the next global
    // commit cursor; the caller's per-source epoch lands in sourceEpochs
    val commitEpoch = source match {
      case Some(_) => cur.map(_.epoch).getOrElse(0L) + 1
      case None => epoch
    }
    val srcEpochs = cur.map(_.sourceEpochsOrEmpty).getOrElse(Map.empty) ++
      source.map(_ -> epoch)

    // Merge lineage: extend offset ranges seen so far.
    val prevLineage = cur.map(_.lineage).getOrElse(Seq.empty)
      .map(l => l.srcPart -> l).toMap
    val lineage = (prevLineage.values ++ batchLineage)
      .groupBy(_.srcPart).map { case (p, ls) =>
        PartitionLineage(p, ls.map(_.minOff).min, ls.map(_.maxOff).max)
      }.toSeq.sortBy(_.srcPart)

    if (if (morMode) rowsIn == 0 else touched.isEmpty) {
      // Empty (or fully-quarantined) batch: advance the epoch, carry all
      // files forward. Same maintenance mode + conflict-retry discipline as
      // the main commit path (a maintenance apply landing here must not be
      // silently fenced, and a lost commit race must retry, not crash).
      val nInvalid = invalidCount(Map.empty)
      quarantine(nInvalid)
      val snap = Snapshot(snapshotId, parentId, commitEpoch, targetSchema.json,
        schemaVersion, nB, cur.map(_.manifests).getOrElse(Seq.empty),
        lineage, Map("rowsIn" -> rowsIn.toDouble, "rowsOut" -> 0.0,
          "durationSec" -> 0.0, "failedEvents" -> nInvalid.toDouble),
        bucketCols = ks.bucketCols, keyCols = ks.keyCols, mor = tableMor,
        sourceEpochs = srcEpochs,
        lastFieldId = lastFieldId,
        // empty/fully-quarantined batch: the live set is untouched
        liveRows = cur.map(_.liveRows).getOrElse(0L))
      val committed =
        try lake.commit(snap, maintenance = maintenance)
        catch { case _: graft.lake.CommitConflictException => return retry() }
      return ApplyStats(committed, committed.snapshotId != snapshotId, rowsIn,
        0, 0, (System.nanoTime() - t0) / 1e9, Set.empty,
        failedEvents = nInvalid)
    }
    // Skew-free pruning of the state read AND the plan: an initial/bulk-load
    // batch (no stored rows in any touched bucket) needs no union with state,
    // no `_hl` rollup window, and classifies trivially (nothing can be
    // carried/updated/deleted when there is nothing stored).
    // A MoR append behaves exactly like a bulk-load batch: no state union,
    // no `_hl` rollup, no classification — the batch's in-batch LWW winners
    // (with delete tombstones) ARE the delta files.
    val stateEmpty = morMode ||
      !cur.exists(_.manifests.exists(r => touched.contains(r.bucket)))

    // Read-side: only the touched buckets of the current state. Deletes are
    // PERSISTED as tombstone rows (`_tombstone = true`, keeping their lsn):
    // without them, a delete applied in batch N followed by an at-least-once
    // re-delivery of an OLDER event in batch N+k would resurrect the key
    // (the out-of-order case CdcPropertySpec's permutation test exercises).
    // Public reads filter tombstones (LakeTable.read).
    // `_st` marks rows that came from stored state (vs the batch); `_hl`
    // accumulates "this key had a live stored row" through the dedup phases
    // — together they drive the change-feed action classification below.
    // (name, batch-side expr, state-side expr): `_patch` marks patch rows,
    // `_unset` carries the patch's cleared-column list (Schemas.UnsetCol),
    // null on full-image rows and on feeds without the column.
    val unsetType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType)
    val patchExtra: Seq[(String, Column, Column)] =
      if (patchEnabled) Seq(
        ("_patch", col("op") === lit(graft.model.Schemas.OpPatch), lit(false)),
        ("_unset",
          if (batch.columns.contains(graft.model.Schemas.UnsetCol))
            col(graft.model.Schemas.UnsetCol)
          else lit(null).cast(unsetType),
          lit(null).cast(unsetType)))
      else Nil
    val currentRows = align(lake.readBuckets(Some(touched)), targetSchema,
      ("_st" -> lit(true)) +: patchExtra.map { case (n, _, s) => n -> s })
    val batchRows = align(
      cleanBatch.withColumn("_tombstone",
        col("op") === lit(graft.model.Schemas.OpDelete)),
      targetSchema,
      ("_st" -> lit(false)) +: patchExtra.map { case (n, b, _) => n -> b })
    val unioned =
      (if (stateEmpty) batchRows else currentRows.unionByName(batchRows))
        .withColumn("b", bucketOfCols(ks.bucketCols.map(col), nB))
        .withColumn("_hl",
          when(col("_st") && !col("_tombstone"), 1).otherwise(0))
    // LWW winner per key in ONE shuffle: the caller's exchange clusters the
    // rows by bucket (a function of the bucket cols, so every key is
    // partition-local), the merge sorts within partitions by (bucket,
    // keyhash, key, lsn desc), then elects the first row of each key with
    // the STREAMING SortedLwwDedup operator — plan: Exchange -> Sort ->
    // SortedLwwDedup, whose output the bucket writer streams one bucket at
    // a time. The custom operator replaces the earlier
    // Window(lag)+Filter formulation: WindowExec buffers every partition
    // group in full (an extra pass of all row bytes through memory, twice
    // with the `_hl` rollup window), which made the reduce stage
    // memory-bandwidth-bound; the sorted-stream election holds ONE row and
    // folds the `_hl` per-key max in the same pass — see
    // graft.plans.SortedLwwDedup. (The window plan itself had been measured
    // ~5x faster than groupBy(max_by(struct)), which cannot hash-aggregate.)
    // Sort key prefix `_kh` = xxhash64(bucket cols): rows of one key stay
    // adjacent (key cols break rare hash ties) while the sort runs on
    // radix-friendly longs instead of common-prefix strings.
    // Ties on lsn (a redelivered duplicate racing the already-stored image)
    // break in favor of the stored row (`_st DESC`, omitted on bulk-load
    // batches where it is a constant), so the change feed deterministically
    // classifies pure redeliveries as `carried`, not `updated`.
    def lwwDedup(shuffled: DataFrame, partCols: Seq[String]): DataFrame = {
      // `_bk` fuses (bucket, keyhash-high-bits) into ONE non-negative long
      // and leads the sort: the external sorter computes its 8-byte radix
      // prefix from the FIRST sort column only, and a per-task-near-constant
      // `b` there would force virtually every comparison through the full
      // row comparator (string keys). `_bk` order implies `b` order, so the
      // bucket writer sees each bucket's rows contiguously.
      require(nB <= (1 << 17), s"bucket count $nB exceeds the 17-bit _bk field")
      val orderSpec: Seq[(String, Boolean)] =
        (("_bk" -> false) +: ("_kh" -> false) +: ks.keyCols.map(_ -> false)) ++
          (("_lsn" -> true) +:
            (if (stateEmpty) Nil else Seq("_st" -> true)))
      // `_kh`/`_bk` are derived from columns the row already carries, so
      // compute them AFTER the exchange (a Project between Exchange and
      // Sort, same codegen stage as the sort input): 16 bytes/row never
      // enter the shuffle, which is the merge's main memory-bandwidth
      // consumer at high core counts.
      val sorted = shuffled
        .withColumn("_kh", xxhash64(ks.bucketCols.map(col): _*))
        .withColumn("_bk", shiftleft(col("b").cast("long"), 46)
          .bitwiseOR(shiftrightunsigned(col("_kh"), 18)))
        .sortWithinPartitions(orderSpec.map { case (n, desc) =>
          if (desc) col(n).desc else col(n)
        }: _*)
      graft.plans.SortedLwwDedup.dedup(sorted, partCols,
        "_kh" +: ks.keyCols, orderSpec,
        // the `_hl` rollup is only meaningful when stored rows exist: on an
        // initial/bulk-load batch every key's `_hl` is the literal 0
        rollupCol = if (cfOn && !stateEmpty) Some("_hl") else None)
        .drop("_kh", "_bk")
    }

    // Reduce-stage sizing. The copy-on-write merge gives each touched bucket
    // exactly ONE reduce task through Spark's direct partition-id shuffle
    // (repartitionById): the id is the bucket's rank in the sorted touched
    // set (`b` itself when every bucket is touched), looked up in a length-nB
    // array and carried as the int column `_p` the dedup clusters on (an id
    // EXPRESSION would not satisfy the dedup's clustering and Catalyst would
    // add a second exchange; untouched slots stay -1, as every row's bucket
    // is in `touched`). No task is empty or carries two buckets — a hash
    // exchange of |touched| bucket values into |touched| slots leaves ~40% of
    // tasks empty and stacks up to ~4 buckets on one — and each bucket still
    // lands wholly in one task, so one file is written per touched bucket.
    // The MoR append and the salted dedup keep a hash exchange. A MoR append
    // has no touched set before the write, so it is sized by the session's
    // shuffle width (a bucket still lands wholly in one task: ONE delta file
    // per bucket per batch, and its chain grows by exactly one segment); the
    // salted phases spread each bucket's salts over 4x the touched count.
    def hashDedup(df: DataFrame, partCols: Seq[String]): DataFrame = {
      val nPart =
        if (morMode) math.max(spark.sessionState.conf.numShufflePartitions, 1)
        else math.max(touched.size * 4, 1)
      lwwDedup(df.repartition(nPart, partCols.map(col): _*), partCols)
    }

    // Hot-conversation skew: optional two-phase salted dedup — phase 1 splits
    // each bucket across `saltBuckets` partitions (per-salt winners), phase 2
    // resolves the per-salt winners globally. Identical duplicate deliveries
    // share an lsn and therefore a salt, so phase 1 already collapses them.
    val merged =
      if (patchEnabled)
        // the aggregate's output is not `b`-ordered: group each task's rows
        // by bucket so the writer opens one file per bucket per task
        patchMerge(unioned, targetSchema, ks, lake.mapPutAllCols)
          .sortWithinPartitions("b")
      else if (saltBuckets > 0) {
        val salted = hashDedup(
          unioned.withColumn("_salt",
            pmod(xxhash64(col("_lsn")), lit(saltBuckets.toLong))),
          Seq("b", "_salt"))
        hashDedup(salted.drop("_salt"), Seq("b"))
      } else if (morMode) hashDedup(unioned, Seq("b"))
      else {
        val rankOf = Array.fill(nB)(-1)
        touched.toSeq.sorted.zipWithIndex.foreach { case (b, r) => rankOf(b) = r }
        lwwDedup(unioned
          .withColumn("_p", element_at(typedLit(rankOf), col("b") + 1))
          .repartitionById(touched.size, col("_p")), Seq("_p"))
          .drop("_p")
      }

    // Change-feed classification of each surviving row, counted via a named
    // `observe` DURING the write job (zero extra pass, no per-row action
    // string — the counts are sums of boolean conditions over the merge's
    // existing `_st`/`_tombstone`/`_hl` columns, which constant-fold on
    // bulk-load batches). Reference analogue: start/complete/audit deltas
    // derived from the pre-vs-post image,
    // ActivityAggregatesFunction.scala:244-248.
    def cnt(pred: Column, name: String): Column =
      sum(when(pred, 1L).otherwise(0L)).as(name)
    val isCarried = col("_st")
    val hadLive = col("_hl") === 1
    val observed = if (!cfOn) merged.drop("_st", "_hl") else merged
      .observe(ChangeFeedMetric,
        cnt(!isCarried && !col("_tombstone") && !hadLive, "inserted"),
        cnt(!isCarried && !col("_tombstone") && hadLive, "updated"),
        cnt(!isCarried && col("_tombstone") && hadLive, "deleted"),
        cnt(!isCarried && col("_tombstone") && !hadLive, "delete_noop"),
        cnt(isCarried, "carried"))
      .drop("_st", "_hl")

    // Write-side: copy-on-write rewrite of touched buckets only.
    val dataDir = lake.newDataDir(snapshotId)
    graft.lake.LakeIO.ensureMicrosTimestamps(spark)
    // Bloom filters only on MoR tables (delta appends AND folds — a folded
    // base file keeps serving future chains): multi-file bucket chains are
    // where membership pruning pays (LakeIO.bloomWriteOptions). A CoW
    // rewrite leaves ~one live file per bucket, so the lookup benefit is
    // nil there while the filter costs 3-8% of the merge write (measured,
    // BASELINE.md round-3); compaction output gets blooms either way.
    val writeOpts =
      if (tableMor) graft.lake.LakeIO.bloomWriteOptions(ks.bucketCols.head)
      else Map.empty[String, String]
    // Each file's manifest entry (row count + bucket-key min/max +
    // INT32/INT64 zone maps) comes back from the write task that closed it,
    // read from the footer it just wrote. Zone maps feed LakeTable.scanRange
    // (ts/_lsn/turn_idx file skipping).
    val written = phase("merge+write") {
      org.apache.spark.sql.graft.BucketWriter.write(
        graft.model.Schemas.stampFieldIds(observed, targetSchema), dataDir,
        ks.bucketCols.head, writeOpts)
    }
    val actionCounts: Map[String, Long] =
      written.observed.get(ChangeFeedMetric)
        .map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))
        .getOrElse(Map.empty).map { case (k, v) =>
          k -> (v match { case n: Number => n.longValue(); case _ => 0L })
        }
    // the write scanned the batch, so its plan carries the validation count
    val nInvalid = invalidCount(written.observed)
    quarantine(nInvalid)
    val newFiles = written.files
    val rowsOut = newFiles.map(_.rows).sum
    // The batch's real touched set: pre-computed for copy-on-write (it
    // drives the state read), derived from the written delta files for MoR
    // (where nothing needed it earlier).
    val touchedOut = if (morMode) newFiles.map(_.bucket).toSet else touched
    // Commit metadata is O(touched): one manifest file per rewritten bucket;
    // untouched buckets carry the parent's manifest refs by path. A MoR
    // append REPLACES nothing — every parent ref is carried and the delta
    // refs extend the buckets' chains.
    val newRefs = phase("manifests") {
      lake.writeManifests(snapshotId, newFiles.groupBy(_.bucket)) }
    val carried = cur.map(_.manifests).getOrElse(Seq.empty)
      .filterNot(r => !morMode && touched.contains(r.bucket))

    val durationSec = (System.nanoTime() - t0) / 1e9
    // Exact live-count lineage: the change feed's audited transitions give
    // the merge's net live delta (inserted - deleted; delete_noop and
    // carried are net-zero by construction). A cf-disabled commit has no
    // audited delta, so it poisons the count to "unknown" rather than
    // letting a metadata COUNT(*) drift from the truth.
    val parentLive = cur.map(_.liveRows).getOrElse(0L)
    val liveRows =
      if (fold) parentLive // a fold rewrites chains; the live set is untouched
      else if (!cfOn || parentLive < 0) -1L
      else parentLive + actionCounts.getOrElse("inserted", 0L) -
        actionCounts.getOrElse("deleted", 0L)
    val snap = Snapshot(snapshotId, parentId, commitEpoch, targetSchema.json,
      schemaVersion, nB, carried ++ newRefs, lineage,
      Map("rowsIn" -> rowsIn.toDouble, "rowsOut" -> rowsOut.toDouble,
        "durationSec" -> durationSec,
        "eventsPerSec" -> (if (durationSec > 0) rowsIn / durationSec else 0.0),
        "failedEvents" -> nInvalid.toDouble) ++
        actionCounts.map { case (k, v) => s"cf_$k" -> v.toDouble },
      bucketCols = ks.bucketCols, keyCols = ks.keyCols, mor = tableMor,
      sourceEpochs = srcEpochs,
      lastFieldId = lastFieldId,
      liveRows = liveRows)
    val committed =
      try phase("commit") { lake.commit(snap, maintenance = maintenance) }
      catch { case _: graft.lake.CommitConflictException => return retry() }
    val skipped = committed.snapshotId != snapshotId // lost a fencing race
    ApplyStats(committed, skipped, rowsIn, rowsOut, touchedOut.size,
      durationSec, touchedOut, failedEvents = nInvalid,
      actions = actionCounts)
  }

  /** Per-bucket delta-chain lengths of a MoR snapshot (manifest refs per
    * bucket) — metadata-only, drives the fold policy. */
  def chainLengths(snap: Snapshot): Map[Int, Int] =
    snap.manifests.groupBy(_.bucket).map { case (b, rs) => b -> rs.size }

  /** Fold the delta chains of `buckets` on a merge-on-read table: rewrite
    * each chosen bucket as one LWW-resolved file chain (tombstones kept —
    * they still fence late re-deliveries; [[graft.lake.Compaction]] owns
    * watermark-based tombstone GC). This is the LSM merge policy's unit of
    * work, expressed as an EMPTY maintenance batch through the normal merge:
    * the CoW path unions the chosen buckets' state with nothing, elects
    * winners, rewrites exactly those buckets, and commits at the same epoch
    * — so fencing, kill/resume, commit races, lineage and time travel hold
    * without any new machinery (the same move SearchIndex.compact makes for
    * the posting index). Folding is an optimization, never required for
    * correctness: a lost commit race (CommitConflictException) can simply be
    * skipped by policy-driven callers — the next append re-triggers it. */
  def foldBuckets(lake: LakeTable, buckets: Set[Int]): ApplyStats = {
    val cur = lake.currentSnapshot.getOrElse(
      throw new IllegalStateException("nothing to fold: empty table"))
    require(cur.mor, s"${lake.root} is copy-on-write; folds are MoR-only")
    val spark = lake.spark
    val batchSchema = StructType(
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType) +:
      cur.schema.fields.filterNot(_.name == "_tombstone"))
    val emptyBatch = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batchSchema)
    apply(lake, emptyBatch, cur.epoch, cur.nBuckets,
      probeInfo = Some(ProbeInfo(0L, Nil, keysNullFree = true)),
      validate = false, changeFeed = false, maintenance = true,
      touchedHint = Some(buckets), fold = true)
  }

  /** Threshold-triggered fold (the automatic LSM merge policy): fold every
    * bucket whose delta chain reached `chainThreshold` segments. Returns the
    * buckets folded (empty = nothing due or lost a benign commit race). */
  def maybeFold(lake: LakeTable, chainThreshold: Int): Set[Int] = {
    if (chainThreshold <= 0) return Set.empty
    val due = lake.currentSnapshot.map(chainLengths)
      .getOrElse(Map.empty)
      .collect { case (b, n) if n >= chainThreshold => b }.toSet
    if (due.isEmpty) return Set.empty
    try { foldBuckets(lake, due); due }
    catch { case _: graft.lake.CommitConflictException => Set.empty }
  }

  /** Patch-aware merge (op='P'): per key, the winning FULL image (highest
    * lsn among state rows + batch I/U/D, ties to state) is the base, and
    * any patch NEWER than the base overlays its non-null columns
    * column-wise (latest non-null setter wins per column — the map put-all
    * of the reference, ActivityAggregatesFunction.scala:301-310). A patch
    * newer than a tombstone resurrects the key with only its own fields;
    * patches at or below the base lsn are redeliveries and are ignored.
    *
    * ORDERING CONTRACT: patch feeds assume per-key in-order FIRST delivery
    * (the Kafka-partition / Debezium guarantee) — the stored image's lsn is
    * a per-key high watermark, so a patch first-delivered AFTER a
    * higher-lsn image has already been applied would be dropped (its column
    * effects are unrecoverable from a partial event). At-least-once
    * REdelivery in any order remains safe (redelivered patches were already
    * folded into the image when first seen). Full-image feeds (I/U/D only)
    * stay permutation-invariant as before (CdcPropertySpec).
    *
    * Plan shape: ONE aggregation exchange on (b, conv_id, turn_idx) with
    * map-side partial max/max_by combine (skew collapses before the
    * shuffle, so no salting phase is needed). The window plan cannot
    * express per-column fold, hence the separate opt-in path; output
    * contract matches lwwDedup's (`_st` = carried flag, `_hl` = had live
    * stored row) so the change-feed classification downstream is shared.
    *
    * `putAllCols` (LakeTable.mapPutAllCols): map columns with ADDITIVE
    * patch semantics — the reference's `QueryBuilder.putAll`
    * (ActivityAggregatesFunction.scala:301-310, `agg map<text,int>` at
    * test.cql:36-38). A patch carrying such a column MERGES its entries
    * into the running map (patch keys win on collision) instead of
    * replacing it; folding is in lsn order across ALL newer-than-base
    * patches (latest-setter-per-column is wrong for maps — an early
    * patch's untouched entries must survive a later partial one), an
    * explicit unset still clears the whole column, and a newer full image
    * still replaces it wholesale. The fold stays inside the same single
    * aggregation exchange: collect_list of this key's newer patch maps
    * (bounded by events-per-key-per-batch), then a codegen'd
    * `aggregate()` fold — no extra shuffle, no UDF. */
  private def patchMerge(unioned: DataFrame, targetSchema: StructType,
                         ks: graft.model.Schemas.KeySpec,
                         putAllCols: Set[String] = Set.empty): DataFrame = {
    val metaCols = Set("_lsn", "_src_part", "_src_off", "_tombstone")
    val keyCols = ks.keyCols
    val dataCols = targetSchema.fields.map(_.name)
      .filterNot(n => keyCols.contains(n) || metaCols(n)).toSeq
    val putAll = dataCols.filter(putAllCols).toSet
    putAll.foreach { c =>
      val dt = targetSchema.fields.find(_.name == c).get.dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.MapType],
        s"map put-all contract on $c requires a map column; found " +
        dt.simpleString)
    }
    val isPatch = col("_patch")
    // ordering key preferring (lsn, state-on-tie); null for patches so
    // max_by skips them when electing the base image
    val baseOrder = when(!isPatch, struct(col("_lsn"), col("_st")))
    val winOrder = struct(col("_lsn"), col("_st"))
    val aggs = Seq(
      max_by(struct((dataCols ++ Seq("_tombstone", "_lsn")).map(col): _*),
        baseOrder).as("_base"),
      max(col("_lsn")).as("_maxlsn"),
      max(when(isPatch, col("_lsn"))).as("_maxplsn"),
      max(when(col("_st"), col("_lsn"))).as("_statelsn"),
      max(when(col("_st") && !col("_tombstone"), 1).otherwise(0)).as("_hadlive"),
      max_by(struct(col("_src_part"), col("_src_off")), winOrder).as("_wsrc")
    ) ++ dataCols.flatMap { c =>
      // a column is "touched" by a patch when it carries a non-null value OR
      // is listed in the patch's unset_cols (explicit clear — Schemas.UnsetCol);
      // the unset wins when both, and the cleared value is a typed null
      val unset = coalesce(array_contains(col("_unset"), lit(c)), lit(false))
      if (putAll(c))
        // additive map: EVERY touching patch matters, not just the latest —
        // collect (lsn, unset, value), sorted by lsn for the output fold.
        // array_sort with an explicit lsn comparator: structs containing
        // maps have no natural ordering (sort_array refuses them).
        Seq(array_sort(collect_list(
          when(isPatch && (col(c).isNotNull || unset),
            struct(col("_lsn").as("l"), unset.as("u"), col(c).as("v")))),
          (a, b) => when(a.getField("l") < b.getField("l"), -1)
            .when(a.getField("l") > b.getField("l"), 1).otherwise(0))
          .as(s"_pp_$c"))
      else {
        val setter =
          when(isPatch && (col(c).isNotNull || unset), col("_lsn"))
        Seq(max_by(when(!unset, col(c)), setter).as(s"_p_$c"),
          max(setter).as(s"_pl_$c"))
      }
    }
    val g = unioned
      .groupBy(col("b") +: keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val baseLsn = col("_base").getField("_lsn")
    val baseTomb = col("_base").getField("_tombstone")
    val noBase = lit(Long.MinValue)
    val patchNewer = col("_maxplsn") > coalesce(baseLsn, noBase)
    val outCols = targetSchema.fields.map(_.name).map {
      case k if keyCols.contains(k) => col(k)
      case "_lsn" => col("_maxlsn").as("_lsn")
      case "_src_part" => col("_wsrc").getField("_src_part").as("_src_part")
      case "_src_off" => col("_wsrc").getField("_src_off").as("_src_off")
      case "_tombstone" =>
        (coalesce(baseTomb, lit(false)) &&
          !coalesce(patchNewer, lit(false))).as("_tombstone")
      case c if putAll(c) =>
        // fold newer-than-base patches in lsn order over the base map:
        // unset clears, a set merges entries with the patch winning
        // collisions (putAll). Tombstoned/absent base starts from null —
        // resurrection carries only patch entries.
        val mt = targetSchema.fields.find(_.name == c).get.dataType
        val entries = filter(col(s"_pp_$c"),
          e => e.getField("l") > coalesce(baseLsn, noBase))
        val init = when(!coalesce(baseTomb, lit(true)),
          col("_base").getField(c))
        aggregate(entries, init,
          (acc, e) => when(e.getField("u"),
            lit(null).cast(mt)) // explicit clear: fold restarts from empty
            .otherwise(when(acc.isNull, e.getField("v"))
              .otherwise(map_concat(
                map_filter(acc, (k, v0) => { val _ = v0
                  !array_contains(map_keys(e.getField("v")), k) }),
                e.getField("v"))))).as(c)
      case c =>
        when(col(s"_pl_$c") > coalesce(baseLsn, noBase), col(s"_p_$c"))
          // tombstoned/absent base contributes nothing: resurrection is
          // patch-fields-only
          .otherwise(when(!coalesce(baseTomb, lit(true)),
            col("_base").getField(c)))
          .as(c)
    }.toSeq ++ Seq(
      col("b"),
      (col("_statelsn").isNotNull && col("_maxlsn") <= col("_statelsn"))
        .as("_st"),
      col("_hadlive").as("_hl"))
    g.select(outCols: _*)
  }

}
