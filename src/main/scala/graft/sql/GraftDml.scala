package graft.sql

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.lake.{LakeTable, PartitionLineage}
import graft.model.Schemas

/**
 * SQL DML over a graft lake: `DELETE FROM t WHERE …` and
 * `UPDATE t SET c = expr, … WHERE …`, compiled into ONE synthesized change
 * batch applied through the same epoch-fenced MERGE as source batches
 * (the CrossMerge pattern) — so exactly-once fencing, tombstone persistence,
 * change-feed accounting, derived-table maintenance (via touchedSet), time
 * travel and commit-race retry all hold for admin mutations exactly as for
 * CDC ingest. The reference's equivalent is its admin-triggered state
 * rewrites (e.g. merge-user-courses deleting consumed source rows,
 * lms-jobs/merge-user-courses/.../MergeOperations.scala:49-99) — restated
 * here as declarative predicates instead of per-key client calls.
 *
 * Scale shape: the matched-row read goes through [[GraftSql.table]] — the
 * catalog's DSv2 scan — so the WHERE clause file-prunes (zone maps, bucket
 * + key-range, bloom) at plan time, before any data IO; the write rewrites only the matched rows' buckets (copy-on-write)
 * or appends per-bucket deltas (merge-on-read). A predicate touching 0.1% of
 * a 100 TB table reads and writes ~0.1% of it.
 *
 * Semantics:
 *  - DELETE persists tombstones at an lsn above every stored lsn of the
 *    touched buckets, so late re-deliveries of older images cannot resurrect
 *    the keys (same discipline as feed deletes).
 *  - UPDATE writes full-image upserts computed from the current LWW winners
 *    (merge-on-read chains are resolved before the SET expressions apply).
 *  - `SET new_col = expr` on a column the table lacks ADDS it through the
 *    normal additive schema evolution; an incompatible type change fails
 *    loudly (CdcApply widening rules).
 *  - Key columns and internal `_` columns cannot be SET (identity moves are
 *    [[graft.cdc.CrossMerge]] territory).
 *  - The commit is a MAINTENANCE commit: it keeps the current epoch, so the
 *    next source segment / streaming batch is never fenced out by an admin
 *    mutation. Concurrency: a source commit landing mid-DML surfaces as a
 *    commit conflict and the whole statement recomputes against the winner's
 *    state (bounded attempts) — the mutation lands on current state or fails
 *    loudly, never silently.
 */
object GraftDml {

  /** Parse and run one DML statement. The table name in the statement is
    * documentation only — the lake IS the table. */
  def sql(lake: LakeTable, statement: String,
          maxAttempts: Int = 5): CdcApply.ApplyStats = {
    val s = statement.trim
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    if (lower.startsWith("delete")) {
      val afterFrom = keywordTail(s, "delete", "from")
      val wi = topLevelKeyword(afterFrom, "where").getOrElse(
        throw new IllegalArgumentException(
          "DELETE requires a WHERE clause (use WHERE true to match all rows)"))
      delete(lake, afterFrom.substring(wi + "where".length).trim, maxAttempts)
    } else if (lower.startsWith("update")) {
      val afterSet = keywordTail(s, "update", "set")
      val wi = topLevelKeyword(afterSet, "where").getOrElse(
        throw new IllegalArgumentException(
          "UPDATE requires a WHERE clause (use WHERE true to match all rows)"))
      val sets = splitTopLevel(afterSet.substring(0, wi), ',').map { a =>
        val eq = a.indexOf('=')
        require(eq > 0, s"malformed assignment: $a")
        (a.substring(0, eq).trim, a.substring(eq + 1).trim)
      }
      update(lake, sets, afterSet.substring(wi + "where".length).trim,
        maxAttempts)
    } else if (lower.startsWith("insert")) {
      parseInsert(lake, s, maxAttempts)
    } else if (lower.startsWith("merge")) {
      parseMerge(lake, s, maxAttempts)
    } else throw new IllegalArgumentException(
      "unsupported DML (DELETE FROM … WHERE … | UPDATE … SET … WHERE … | " +
      s"INSERT INTO … | MERGE INTO … USING … ON … WHEN …): $s")
  }

  /** Insert `rows` (business + key columns; internal `_` columns and `op`
    * are synthesized) as op='I' upserts through the maintenance MERGE.
    * Rows whose keys already exist become plain LWW updates — SQL INSERT
    * over a CDC table is upsert by construction (the reference's admin
    * migration inserts, MergeOperations.scala:49-99, carry the same
    * semantics: the write wins over whatever is stored). New columns are
    * adopted through additive schema evolution; structural validation and
    * CHECK constraints run (bad rows quarantine at the current epoch). */
  def insert(lake: LakeTable, rows: org.apache.spark.sql.DataFrame,
             maxAttempts: Int = 5): CdcApply.ApplyStats =
    withConflictRetry(maxAttempts) {
      val snap = lake.currentSnapshot.getOrElse(
        throw new IllegalStateException(
          s"no snapshot committed in ${lake.root} — seed the table with a " +
          "replay batch first (INSERT needs the stored key/bucket contract)"))
      val ks = snap.keySpec
      ks.keyCols.foreach(k => require(rows.columns.contains(k),
        s"INSERT rows must carry key column $k"))
      require(!rows.columns.exists(c => c.startsWith("_") || c == "op"),
        "INSERT rows must not carry internal columns or op")
      applySynthesized(lake, snap,
        rows.withColumn("op", lit(Schemas.OpInsert)), validate = true)
    }

  // ---------------------------------------------------------- INSERT INTO

  /** `INSERT INTO t (c1, …) VALUES (…), (…)` — literals parsed by Spark's
    * own VALUES clause — or `INSERT INTO t [(c1, …)] SELECT …` (the SELECT
    * may read any registered temp view). */
  private def parseInsert(lake: LakeTable, s: String,
                          maxAttempts: Int): CdcApply.ApplyStats = {
    val spark = lake.spark
    val toks = s.split("\\s+", 4)
    require(toks.length >= 4 && toks(1).equalsIgnoreCase("into"),
      s"malformed INSERT statement (INSERT INTO <t> …): $s")
    var rest = toks(3).trim
    // optional column list
    val cols: Seq[String] =
      if (rest.startsWith("(")) {
        val close = matchingParen(rest, 0)
        val list = splitTopLevel(rest.substring(1, close), ',')
        rest = rest.substring(close + 1).trim
        list
      } else Nil
    val lower = rest.toLowerCase(java.util.Locale.ROOT)
    val df =
      if (lower.startsWith("values")) {
        require(cols.nonEmpty,
          "INSERT … VALUES requires an explicit column list " +
          "(INSERT INTO t (c1, c2, …) VALUES …)")
        spark.sql(
          s"SELECT * FROM VALUES ${rest.substring("values".length)} " +
          s"AS v(${cols.mkString(", ")})")
      } else if (lower.startsWith("select")) {
        val sel = spark.sql(rest)
        if (cols.isEmpty) sel
        else {
          require(sel.columns.length == cols.length,
            s"SELECT yields ${sel.columns.length} columns, the INSERT " +
            s"list names ${cols.length}")
          sel.toDF(cols: _*)
        }
      } else throw new IllegalArgumentException(
        s"INSERT INTO expects VALUES or SELECT, got: $rest")
    insert(lake, df, maxAttempts)
  }

  // ------------------------------------------------------------ MERGE INTO

  /** `MERGE INTO t [AS a] USING (<subquery>)|<view> [AS] s ON <key equi
    * conjunction> WHEN MATCHED THEN UPDATE SET c = expr, … | WHEN MATCHED
    * THEN DELETE | WHEN NOT MATCHED THEN INSERT * | WHEN NOT MATCHED BY
    * SOURCE THEN DELETE | WHEN NOT MATCHED BY SOURCE THEN UPDATE SET …` —
    * compiled to ONE synthesized op-tagged batch (U/D for matched, I for
    * not-matched, D/U for target rows absent from the source) through the
    * same maintenance MERGE as every other DML verb.
    *
    * Deliberate subset: the ON clause must be an equality conjunction over
    * EXACTLY the table's key columns (the engine's merge primitive is
    * key-addressed — an arbitrary theta-ON would be a different operator).
    * Cost note: a BY SOURCE clause turns the plan's left join into a FULL
    * OUTER join — every live target row must be checked against the source,
    * so the statement reads the whole table (inherent to the semantics, the
    * "sync table to source" shape); without it the target side is only
    * joined, never anti-scanned. */
  private def parseMerge(lake: LakeTable, s: String,
                         maxAttempts: Int): CdcApply.ApplyStats = {
    val spark = lake.spark
    val ui = topLevelKeyword(s, "using").getOrElse(
      throw new IllegalArgumentException(s"MERGE needs USING: $s"))
    val oi = topLevelKeyword(s, "on").getOrElse(
      throw new IllegalArgumentException(s"MERGE needs ON: $s"))
    require(ui < oi, s"malformed MERGE (USING must precede ON): $s")
    // target + alias: MERGE INTO <t> [AS] [<alias>]
    val intoToks = s.substring(0, ui).trim.split("\\s+").toSeq
    require(intoToks.length >= 3 && intoToks(1).equalsIgnoreCase("into"),
      s"malformed MERGE statement (MERGE INTO <t> …): $s")
    val tAlias = intoToks.filterNot(_.equalsIgnoreCase("as")).last
    // source + alias
    var srcPart = s.substring(ui + "using".length, oi).trim
    val (srcSql, srcTail) =
      if (srcPart.startsWith("(")) {
        val close = matchingParen(srcPart, 0)
        (srcPart.substring(1, close), srcPart.substring(close + 1).trim)
      } else {
        val sp = srcPart.split("\\s+", 2)
        (s"SELECT * FROM ${sp(0)}", if (sp.length > 1) sp(1).trim else sp(0))
      }
    val tailToks = srcTail.split("\\s+").filterNot(_.equalsIgnoreCase("as"))
      .filter(_.nonEmpty)
    require(tailToks.nonEmpty,
      s"MERGE source needs an alias (USING (…) AS s): $srcPart")
    val sAlias = tailToks.last
    // WHEN clauses
    val wi = topLevelKeyword(s, "when").getOrElse(
      throw new IllegalArgumentException(s"MERGE needs WHEN clauses: $s"))
    val onSql = s.substring(oi + "on".length, wi).trim
    val snap = lake.currentSnapshot.getOrElse(
      throw new IllegalStateException(
        s"no snapshot committed in ${lake.root} — nothing to merge into"))
    val ks = snap.keySpec
    // the ON conjunction must cover exactly the key columns, by equality
    val covered = splitTopLevelWord(onSql, "and").map { conj =>
      val sides = splitTopLevel(conj, '=')
      require(sides.length == 2, s"ON conjunct must be an equality: $conj")
      val names = sides.map(_.trim).map { q =>
        val parts = q.split("\\.").map(_.trim.stripPrefix("`").stripSuffix("`"))
        require(parts.length == 2 &&
          (parts(0) == tAlias || parts(0) == sAlias),
          s"ON sides must be <$tAlias|$sAlias>.<key>: $conj")
        (parts(0), parts(1))
      }
      require(names.map(_._1).toSet == Set(tAlias, sAlias) &&
        names(0)._2 == names(1)._2,
        s"ON conjunct must equate the SAME key column across " +
        s"$tAlias and $sAlias: $conj")
      names(0)._2
    }.toSet
    require(covered == ks.keyCols.toSet,
      s"MERGE ON must cover exactly the key columns " +
      s"${ks.keyCols.mkString(", ")} (got ${covered.toSeq.sorted.mkString(", ")})")

    // WHEN clause parsing (UPDATE SET | DELETE | INSERT * | BY SOURCE …)
    var matchedSets: Option[Seq[(String, String)]] = None
    var matchedDelete = false
    var insertAll = false
    var bySourceSets: Option[Seq[(String, String)]] = None
    var bySourceDelete = false
    def parseSets(clause: String): Seq[(String, String)] = {
      // index the ORIGINAL clause (cl is whitespace-normalized)
      val si = topLevelKeyword(clause, "set").getOrElse(
        throw new IllegalArgumentException(s"UPDATE needs SET: $clause"))
      splitTopLevel(clause.substring(si + "set".length), ',').map { a =>
        val eq = a.indexOf('=')
        require(eq > 0, s"malformed assignment: $a")
        (a.substring(0, eq).trim, a.substring(eq + 1).trim)
      }
    }
    var rest = s.substring(wi)
    while (rest.nonEmpty) {
      val next = topLevelKeyword(rest.substring(4), "when").map(_ + 4)
      val clause = next.map(rest.substring(0, _)).getOrElse(rest).trim
      val cl = clause.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("\\s+", " ")
      if (cl.startsWith("when not matched by source then update set ")) {
        require(bySourceSets.isEmpty && !bySourceDelete,
          "at most one WHEN NOT MATCHED BY SOURCE clause is supported")
        bySourceSets = Some(parseSets(clause))
      } else if (cl == "when not matched by source then delete") {
        require(bySourceSets.isEmpty && !bySourceDelete,
          "at most one WHEN NOT MATCHED BY SOURCE clause is supported")
        bySourceDelete = true
      } else if (cl.startsWith("when matched then update set ")) {
        require(matchedSets.isEmpty && !matchedDelete,
          "at most one WHEN MATCHED clause is supported")
        matchedSets = Some(parseSets(clause))
      } else if (cl == "when matched then delete") {
        require(matchedSets.isEmpty && !matchedDelete,
          "at most one WHEN MATCHED clause is supported")
        matchedDelete = true
      } else if (cl == "when not matched then insert *") {
        insertAll = true
      } else throw new IllegalArgumentException(
        "unsupported MERGE clause (WHEN MATCHED THEN UPDATE SET …, WHEN " +
        "MATCHED THEN DELETE, WHEN NOT MATCHED THEN INSERT *, WHEN NOT " +
        s"MATCHED BY SOURCE THEN DELETE | UPDATE SET …): $clause")
      rest = next.map(rest.substring(_)).getOrElse("")
    }
    require(matchedSets.isDefined || matchedDelete || insertAll ||
      bySourceSets.isDefined || bySourceDelete,
      "MERGE needs at least one supported WHEN clause")
    (matchedSets.toSeq ++ bySourceSets.toSeq).foreach(_.foreach { case (c, _) =>
      val cn = c.stripPrefix(s"$tAlias.")
      require(!ks.keyCols.contains(cn),
        s"key column $cn cannot be SET")
      require(!cn.startsWith("_") && cn != "op",
        s"internal column $cn cannot be SET")
    })
    // on the BY SOURCE leg every source column is NULL, so a SET naming one
    // would silently null the column: it must resolve on the target alone
    lazy val tgtOnly = GraftSql.table(spark, lake.root).alias(tAlias)
    bySourceSets.foreach(_.foreach { case (c, e) =>
      val err = scala.util.Try(tgtOnly.select(expr(e))).failed.toOption
      require(err.isEmpty,
        s"NOT MATCHED BY SOURCE UPDATE must resolve against $tAlias alone " +
        s"(source columns are NULL on that leg): $c = $e: " +
        err.map(_.getMessage).orNull)
    })

    withConflictRetry(maxAttempts) {
      val cur = lake.currentSnapshot.get
      val src = spark.sql(srcSql).alias(sAlias)
      val tgt = GraftSql.table(spark, lake.root, asOf = cur.snapshotId)
        .alias(tAlias)
      val joinCond = ks.keyCols
        .map(k => col(s"$sAlias.$k") === col(s"$tAlias.$k")).reduce(_ && _)
      val needBySource = bySourceSets.isDefined || bySourceDelete
      // a BY SOURCE clause needs the unmatched TARGET rows too — full
      // outer; otherwise the cheaper left join (target never anti-scanned)
      val joined = src.join(tgt, joinCond,
        if (needBySource) "full_outer" else "left")
      // key columns are null-free in the table, so a null target key IS
      // "not matched"; under full outer a null SOURCE key marks a target
      // row no source row addressed
      val tgtPresent = col(s"$tAlias.${ks.keyCols.head}").isNotNull
      val srcPresent = col(s"$sAlias.${ks.keyCols.head}").isNotNull
      val isMatched =
        if (needBySource) tgtPresent && srcPresent else tgtPresent
      val tableCols = cur.schema.fields.map(_.name)
        .filterNot(n => n.startsWith("_")).toSeq
      val srcCols = src.columns.toSet // alias() leaves column names intact
      def img(fromTarget: Boolean,
              sets: Option[Seq[(String, String)]])
          : Seq[org.apache.spark.sql.Column] =
        tableCols.map { c =>
          if (fromTarget) {
            sets.flatMap(_.find(_._1.stripPrefix(s"$tAlias.") == c))
              .map { case (_, e) => expr(e).as(c) }
              .getOrElse(col(s"$tAlias.$c").as(c))
          } else if (ks.keyCols.contains(c) || srcCols.contains(c))
            col(s"$sAlias.$c").as(c)
          else lit(null).cast(cur.schema(c).dataType).as(c)
        }
      val legs = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      if (matchedSets.isDefined)
        legs += joined.filter(isMatched)
          .select(img(fromTarget = true, matchedSets) :+
            lit(Schemas.OpUpdate).as("op"): _*)
      if (matchedDelete)
        legs += joined.filter(isMatched)
          .select(img(fromTarget = true, None) :+
            lit(Schemas.OpDelete).as("op"): _*)
      if (insertAll)
        legs += joined.filter(!tgtPresent)
          .select(img(fromTarget = false, None) :+
            lit(Schemas.OpInsert).as("op"): _*)
      if (bySourceSets.isDefined)
        legs += joined.filter(tgtPresent && !srcPresent)
          .select(img(fromTarget = true, bySourceSets) :+
            lit(Schemas.OpUpdate).as("op"): _*)
      if (bySourceDelete)
        legs += joined.filter(tgtPresent && !srcPresent)
          .select(img(fromTarget = true, None) :+
            lit(Schemas.OpDelete).as("op"): _*)
      val batch = legs.result().reduce(_ unionByName _)
      applySynthesized(lake, cur, batch, validate = true)
    }
  }

  /** Shared tail for INSERT/MERGE: synthesize `_lsn` above every stored lsn
    * of the touched buckets (so late re-deliveries of older images cannot
    * beat the admin write — same discipline as DELETE/UPDATE), probe the
    * provably-complete touched set from the batch's own keys, and apply as
    * a maintenance merge at the current epoch. */
  private def applySynthesized(lake: LakeTable, snap: graft.lake.Snapshot,
                               batch0: org.apache.spark.sql.DataFrame,
                               validate: Boolean): CdcApply.ApplyStats = {
    val ks = snap.keySpec
    val probe = batch0
      .groupBy(CdcApply.bucketOfCols(ks.bucketCols.map(col), snap.nBuckets)
        .as("b"))
      .count().collect()
    val buckets = probe.map(_.getInt(0)).toSet
    val n = probe.map(_.getLong(1)).sum
    if (n == 0)
      return CdcApply.ApplyStats(snap, skipped = true, 0, 0, 0, 0.0)
    val maxRow = lake.readBuckets(Some(buckets)).agg(max("_lsn")).head()
    val synthLsn = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 1
    val batch = batch0
      .withColumn("_lsn", lit(synthLsn))
      .withColumn("_src_part", lit(-1))
      .withColumn("_src_off", lit(synthLsn))
    CdcApply.apply(lake, batch, epoch = snap.epoch, nBuckets = snap.nBuckets,
      maintenance = true, validate = validate,
      probeInfo = Some(CdcApply.ProbeInfo(n,
        Seq(PartitionLineage(-1, synthLsn, synthLsn)))),
      touchedHint = Some(buckets))
  }

  /** Tombstone every live row matching `whereSql`. */
  def delete(lake: LakeTable, whereSql: String,
             maxAttempts: Int = 5): CdcApply.ApplyStats =
    withConflictRetry(maxAttempts) { once(lake, None, whereSql) }

  /** Rewrite every live row matching `whereSql` with the SET expressions
    * applied (full-image upserts from the current winners). */
  def update(lake: LakeTable, sets: Seq[(String, String)], whereSql: String,
             maxAttempts: Int = 5): CdcApply.ApplyStats = {
    require(sets.nonEmpty, "UPDATE needs at least one SET assignment")
    val names = sets.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate SET columns: ${names.mkString(", ")}")
    withConflictRetry(maxAttempts) { once(lake, Some(sets), whereSql) }
  }

  private def withConflictRetry(maxAttempts: Int)(
      body: => CdcApply.ApplyStats): CdcApply.ApplyStats = {
    var last: graft.lake.CommitConflictException = null
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      try return body
      catch { case e: graft.lake.CommitConflictException => last = e }
    }
    throw new graft.lake.CommitConflictException(
      s"DML lost $maxAttempts commit races: ${last.getMessage}")
  }

  private def once(lake: LakeTable, sets: Option[Seq[(String, String)]],
                   whereSql: String): CdcApply.ApplyStats = {
    val spark = lake.spark
    val snap = lake.currentSnapshot.getOrElse(
      throw new IllegalStateException(
        s"no snapshot committed in ${lake.root} — nothing to mutate"))
    val ks = snap.keySpec
    sets.foreach(_.foreach { case (c, _) =>
      require(!ks.keyCols.contains(c),
        s"key column $c cannot be SET — identity moves are CrossMerge " +
        "territory (delete + re-insert under the new key)")
      require(!c.startsWith("_") && c != "op",
        s"internal column $c cannot be SET")
    })
    // Matched LIVE rows through the pruned SQL relation, pinned to `snap`
    // (snapshot isolation: the maintenance apply below conflicts loudly if
    // the table moved, and the caller's retry recomputes from fresh state).
    val matched = GraftSql.table(spark, lake.root, asOf = snap.snapshotId)
      .filter(expr(whereSql))
    // One probe job: the matched buckets AND the matched row count.
    val probe = matched
      .groupBy(CdcApply.bucketOfCols(ks.bucketCols.map(col), snap.nBuckets)
        .as("b"))
      .count().collect()
    val buckets = probe.map(_.getInt(0)).toSet
    val nMatched = probe.map(_.getLong(1)).sum
    if (nMatched == 0)
      return CdcApply.ApplyStats(snap, skipped = true, 0, 0, 0, 0.0)
    // Synthesized lsn: strictly above every STORED lsn of the touched
    // buckets — including tombstones and superseded MoR chain versions
    // (readBuckets is the raw read) — so a late re-delivery of an older
    // image can never beat the administrative mutation.
    val maxRow = lake.readBuckets(Some(buckets)).agg(max("_lsn")).head()
    val synthLsn = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)) + 1
    val mutated = sets match {
      case None => matched.withColumn("op", lit(Schemas.OpDelete))
      case Some(ss) =>
        ss.foldLeft(matched) { case (df, (c, e)) => df.withColumn(c, expr(e)) }
          .withColumn("op", lit(Schemas.OpUpdate))
    }
    val batch = mutated
      .withColumn("_lsn", lit(synthLsn))
      .withColumn("_src_part", lit(-1)) // engine-synthesized, not source data
      .withColumn("_src_off", lit(synthLsn))
    // `buckets` is provably complete: every batch row's bucket values come
    // from matched rows, whose buckets are exactly `buckets`. (On MoR tables
    // the hint is unused — appends derive touched from the written files.)
    CdcApply.apply(lake, batch, epoch = snap.epoch, nBuckets = snap.nBuckets,
      maintenance = true, validate = false,
      probeInfo = Some(CdcApply.ProbeInfo(nMatched,
        Seq(PartitionLineage(-1, synthLsn, synthLsn)))),
      touchedHint = Some(buckets))
  }

  // ------------------------------------------------------------- parsing

  /** Tail of `s` after leading keyword `k1`, the table name, and keyword
    * `k2` ("delete from <t> …" → tail after <t>; "update <t> set …" → tail
    * after set). Case-insensitive, whitespace-tolerant. */
  private def keywordTail(s: String, k1: String, k2: String): String = {
    val toks = s.split("\\s+", 4)
    val (t2, rest) =
      if (k1 == "delete") {
        require(toks.length >= 4 && toks(1).equalsIgnoreCase(k2),
          s"malformed $k1 statement: $s")
        (toks(2), toks(3))
      } else {
        require(toks.length >= 4 && toks(2).equalsIgnoreCase(k2),
          s"malformed $k1 statement: $s")
        (toks(1), toks(3))
      }
    require(t2.nonEmpty, s"missing table name in: $s")
    rest
  }

  /** Index of the first occurrence of word `kw` at paren/quote depth 0,
    * on its own word boundaries; None if absent. */
  private def topLevelKeyword(s: String, kw: String): Option[Int] = {
    var i = 0; var depth = 0; var quote: Char = 0
    val n = s.length; val k = kw.length
    while (i < n) {
      val c = s.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        i += 1
      } else c match {
        case '\'' | '"' | '`' => quote = c; i += 1
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, k) &&
              (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1))) &&
              (i + k >= n || !Character.isLetterOrDigit(s.charAt(i + k))))
            return Some(i)
          i += 1
      }
    }
    None
  }

  /** Index just past the matching close paren of the open paren at `open`. */
  private def matchingParen(s: String, open: Int): Int = {
    require(s.charAt(open) == '(', s"expected ( at $open in: $s")
    var i = open; var depth = 0; var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** Split on word `w` (case-insensitive, word boundaries) at depth 0. */
  private def splitTopLevelWord(s: String, w: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var rest = s
    var base = 0
    var idx = topLevelKeyword(rest, w)
    while (idx.isDefined) {
      out += s.substring(start, base + idx.get)
      start = base + idx.get + w.length
      base = start
      rest = s.substring(start)
      idx = topLevelKeyword(rest, w)
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Split on `sep` at paren/quote depth 0 (SET lists whose expressions
    * contain commas inside function calls or string literals). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0; var i = 0; var depth = 0; var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case `sep` if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
