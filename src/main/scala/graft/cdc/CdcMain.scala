package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/**
 * spark-submit entry point for the CDC engine (north rule: "run via
 * spark-submit at N and 4N executors").
 *
 * Usage:
 *   CdcMain gen     <changelogDir> <nEvents> [nConvs] [skew] [evolveAt] [segSize]
 *   CdcMain replay  <changelogDir> <lakeDir> [segmentsPerBatch] [nBuckets]
 *                   [saltBuckets] [aggDir|-] [patch] [nocf] [format=json]
 *                   [source=<id> partbase=<n>] — multi-feed: a named
 *                   source fences on its own epoch and namespaces its
 *                   partition ids, so several changelogs interleave into
 *                   one table, each exactly-once (`state` then shows
 *                   sourceEpochs); lsn stays the global LWW version
 *   CdcMain tojson  <parquetChangelogDir> <jsonDir> — convert a changelog
 *                   to Debezium-style JSON envelopes (replay format=json)
 *   CdcMain stream  <changelogDir> <lakeDir> <ckptDir> [nBuckets]
 *                   [saltBuckets] [maxFilesPerTrigger] [liveIntervalMs]
 *                   [format=json]
 *   CdcMain state   <lakeDir>      — row count + order-independent checksum
 *   CdcMain history <lakeDir> [n]  — the newest n snapshots (default 20),
 *                   one JSON line each: id/parent/epoch/schemaVersion/
 *                   rows/files + the commit's recorded metrics (rowsIn,
 *                   eventsPerSec, change-feed counts, rollbackOf, …)
 *   CdcMain lookup  <lakeDir> <value> [value...] — point lookup of one
 *                   entity (keySpec.bucketCols order); prints the rows and
 *                   the file counts after each pruning stage (bucket ->
 *                   key min/max -> bloom/dictionary membership)
 *   CdcMain rename  <lakeDir> <from> <to> — metadata-only column rename
 *                   (old files resolve by field id; key/internal cols refused)
 *   CdcMain dropcol <lakeDir> <col>     — metadata-only column drop
 *                   (re-added name = new column; old values never resurrect)
 *   CdcMain compact <lakeDir> [tombstoneWatermark] [cluster=<col>[,<col>…]]
 *                   [zorder] [filerows=<n>] [buckets=<a,b,c>] — cluster=
 *                   sorts each bucket's rewrite on the column(s) (files
 *                   become range-disjoint in them, making zone-map `range`
 *                   scans selective); bare `zorder` sorts on the
 *                   interleaved-bit Z-value of 2-4 cluster columns instead,
 *                   so EVERY clustered column prunes (pair with filerows=);
 *                   filerows= splits bucket files at n rows; buckets=
 *                   compacts only those buckets (incremental; the commit
 *                   rebases over disjoint concurrent ingest)
 *   CdcMain matview <lakeDir> <viewDir> [mvagg="n=count(*);s=sum(x)"] —
 *                   catch up (or backfill/create, with mvagg=) a
 *                   generalized materialized view: SQL aggregates grouped
 *                   by the bucket key, maintained at O(touched buckets);
 *                   also per-batch via replay flags mv=<dir> mvagg=…
 *   CdcMain branch  <lakeDir> create|publish|discard <name> — writable
 *                   branch (full write-audit-publish): create shallow-forks
 *                   the table metadata (zero data copied; fork pinned on
 *                   main by a retention-proof tag); ingest/DML/constraints
 *                   run against <lakeDir>/branches/<name> with every
 *                   engine surface; publish fast-forwards main to the
 *                   branch head as ONE atomic commit (refuses if main
 *                   moved); discard deletes only what the branch wrote
 *   CdcMain branch  <lakeDir> list
 *   CdcMain doctor  <lakeDir> [apply] [chainmax=] [target=<rowsPerBucket>]
 *                   [maxbuckets=] [skew=] [keep=] — metadata-only health
 *                   report + maintenance advice (fold/compact worst
 *                   buckets, aligned rebucket target, skew hotspots,
 *                   snapshot retention); O(nBuckets) driver work, zero
 *                   Spark jobs. `apply` executes the non-destructive
 *                   advice (fold/compact, capped); rebucket/expire stay
 *                   operator decisions
 *   CdcMain rebucket <lakeDir> <newBuckets> [filerows=<n>] — partition
 *                   evolution as the table grows (e.g. 32 → 128): shuffle-
 *                   free per-bucket split/merge when one count divides the
 *                   other (rows never cross old-bucket boundaries under
 *                   pmod hashing), full repartition otherwise; maintenance
 *                   commit (same epoch), appliers adopt the new count
 *   CdcMain expire  <lakeDir> [keepLast]
 *   CdcMain gc      <lakeDir> [minAgeMs]      — age-fenced orphan cleanup
 *   CdcMain changes <lakeDir> <fromSnapId> [toSnapId]  — snapshot-diff feed
 *   CdcMain cascade <upLakeDir> <downLakeDir> <ckptDir> [nbuckets=N] —
 *                   follow an upstream lake's change feed into a downstream
 *                   LAKE (graft-changes source → GraftCascade.toEvents →
 *                   graft-lake sink), exactly-once at both ends; drains the
 *                   backlog and exits, re-run to catch up
 *   CdcMain follow  <lakeDir> <consumerDir> [imagecols=<a,b>] — exactly-once
 *                   downstream drain: folds everything since the consumer's
 *                   persisted cursor into one parquet delta batch, then
 *                   advances the cursor; {"drained":false} when current
 *   CdcMain merge   <lakeDir> <fromConv> <toConv>      — migration (epoch-neutral)
 *   CdcMain index   <lakeDir> <indexDir> [nBuckets]    — search-index refresh
 *   CdcMain search  <indexDir> <term> [term...]        — AND term query, top 10
 *   CdcMain index-compact <indexDir>   — fold the index delta log (LWW)
 *
 *   CdcMain fold    <lakeDir> [chainThreshold] — MoR delta-chain fold
 *   CdcMain range   <lakeDir> <column> <lo> <hi> — zone-map-pruned scan of
 *                   live rows with column in [lo,hi] (ts in epoch micros,
 *                   _lsn/ints raw); prints rows + files pruned/total
 *   CdcMain replica <lakeDir> <replicaDir> [rwhere=<sql>] [rcols=<a,b,c>]
 *                   [nBuckets] — manual filtered-replica refresh (catch-up;
 *                   where/cols seed a NEW replica, persisted thereafter)
 *   CdcMain sql     <lakeDir> <query> [asof=<snapshotId|tag>]
 *                   [join=name:dir,…] — run SQL against the lake as temp
 *                   view `lake` through graft.sql.GraftSql: WHERE clauses
 *                   on zone-mapped/key columns file-prune transparently;
 *                   asof= time-travels to a snapshot or tag; join=
 *                   registers other lakes for cross-lake joins; metadata
 *                   views lake_files/lake_snapshots/lake_lineage/
 *                   lake_tags/lake_branches are registered alongside;
 *                   prints rows + filesScanned/filesTotal
 *   CdcMain dml     <lakeDir> <statement> — DELETE FROM t WHERE … |
 *                   UPDATE t SET c = expr, … WHERE … through the same
 *                   epoch-fenced maintenance merge (graft.sql.GraftDml);
 *                   matched reads file-prune, writes touch only matched
 *                   buckets, the epoch is kept (source feeds never fenced)
 *   CdcMain check   <lakeDir> add <name> <expr> [novalidate] — table-level
 *                   CHECK constraint enforced in the merge's validation
 *                   (violations quarantine with reason check:<name>; NULL
 *                   passes, SQL semantics); existing rows are validated
 *                   unless novalidate. `check <lakeDir> drop <name>` |
 *                   `check <lakeDir> list`
 *   CdcMain tag     <lakeDir> <name> [snapshotId] — retention-proof named
 *                   snapshot pin (default: current head); immutable
 *   CdcMain untag   <lakeDir> <name>
 *   CdcMain tags    <lakeDir>           — list tags
 *   CdcMain requeue <lakeDir> <epoch> — dead-letter replay: re-validate
 *                   quarantine/epoch=N against the table's CURRENT rules
 *                   (constraint fixed/dropped), merge clean rows at their
 *                   ORIGINAL lsns (LWW decides; no resurrection), return
 *                   still-bad rows to the same dir; idempotent
 *   CdcMain clone   <srcLake> <dstLake> [snapshotId|tagName] — deep,
 *                   independent copy at a snapshot (default current):
 *                   file bytes + stats + chains preserved, epoch/lineage
 *                   carried (the clone resumes the same feed), CHECK
 *                   constraints inherited; source expiry can't break it
 *   CdcMain rollback <lakeDir> <snapshotId|tagName> [agg=<aggDir>] — revert
 *                   the table to a prior snapshot as a NEW commit (epoch
 *                   rewinds so corrected batches can replay; snapshot-diff
 *                   followers self-heal); agg= rolls an epoch-cursored
 *                   derived table back in tandem
 *
 * `replay` and `stream` accept `mor` (merge-on-read ingest: batches APPEND
 * per-bucket delta files instead of rewriting touched buckets — O(batch)
 * writes for update-heavy trickle feeds; readers resolve LWW over the
 * chain) and `morchain=<n>` (automatic LSM merge policy: fold any bucket
 * whose chain reaches n segments, default 16; 0 = manual `fold` only).
 *
 * `replay` and `stream` accept `idx=<dir>`: maintain a secondary search
 * index per batch from the same pipeline (the reference mirrors entity
 * updates into Elasticsearch from the same stream); `idxchain=<n>`:
 * auto-compact the index once any bucket's delta chain reaches n segments
 * (LSM merge policy, default 16; 0 = manual `index-compact` only); and
 * `keep=<n>`: snapshot retention — expire all but the newest n snapshots
 * after each batch, reclaiming superseded copy-on-write files (0 = keep
 * all; floor 2 with a derived table/index attached).
 *
 * `replay` and `stream` accept `rep=<dir>` with `rwhere=<sql>` and
 * `rcols=<a,b,c>`: maintain a filtered/projected row replica per batch
 * from the change feed (the reference mirrors entity subsets into
 * Redis/ES from the same stream); where/cols seed a NEW replica and
 * persist with it — later runs may omit them.
 *
 * Parallelism comes from SPARK_GRAFT_CPUS (local[N]) or the real cluster's
 * spark-submit config; shuffle partitions follow the core count.
 */
object CdcMain {

  /** `<name>=<value>` flag-style argument (idx=/idxchain=/keep=): flags
    * never occupy positional slots, and only KNOWN names are recognized —
    * a bare contains("=") would silently swallow a positional path like
    * /data/run=5/agg. */
  private def flag(rest: List[String], name: String): Option[String] =
    rest.find(_.startsWith(name + "=")).map(_.drop(name.length + 1))
  private val flagNames =
    Seq("idx", "idxchain", "idxevery", "keep", "morchain", "rep", "rwhere", "rcols",
      "cluster", "filerows", "imagecols", "buckets", "format", "agg",
      "mv", "mvagg", "source", "partbase", "olderthan", "segsize", "convs",
      "images", "startfrom", "nbuckets", "asof", "join")
  private val bareWords =
    Set("patch", "nocf", "mor", "control", "noidx", "zorder")
  private def positionals(rest: List[String]): List[String] =
    rest.filterNot(a => bareWords.contains(a) ||
      flagNames.exists(n => a.startsWith(n + "=")))

  /** "n=count(*);s=sum(score)" -> AggCol pairs (semicolons separate pairs
    * because aggregate SQL freely contains commas). */
  private def parseAggs(spec: Option[String]): Seq[MatView.AggCol] =
    spec.map(_.split(";").toSeq.filter(_.nonEmpty).map { p =>
      val i = p.indexOf('=')
      require(i > 0, s"mvagg entry '$p' is not name=aggExpr")
      MatView.AggCol(p.take(i).trim, p.drop(i + 1).trim)
    }).getOrElse(Nil)

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // binlog segments are modest files; smaller split size keeps scan
      // parallelism >= cores even on a handful of segments
      .config("spark.sql.files.maxPartitionBytes", s"${32 * 1024 * 1024}")
      // Long-lived ingest sessions accumulate shuffle files until the
      // driver's ContextCleaner notices the dead ShuffleDependency objects
      // — with a big heap that can be never (Spark's default periodic GC is
      // 30 min; a multi-hour replay leaked 50+ GB of /tmp blockmgr spill
      // before dying ENOSPC). A 2-minute periodic GC bounds the window.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
    val s = (if (sys.props.contains("spark.master")) b
             else b.master(s"local[$cpus]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: n :: rest =>
      val spark = session()
      val cfg = ChangelogGen.Config(
        nEvents = n.toLong,
        nConvs = rest.headOption.map(_.toLong).getOrElse(math.max(n.toLong / 200, 10L)),
        skew = rest.lift(1).map(_.toDouble).getOrElse(1.0),
        evolveAt = rest.lift(2).map(_.toLong).getOrElse(-1L),
        segSize = rest.lift(3).map(_.toLong).getOrElse(100000L),
        pUpdate = 0.3, pDelete = 0.05, pDup = 0.05)
      val t0 = System.nanoTime()
      ChangelogGen.write(spark, dir, cfg)
      println(f"""{"generated":${cfg.nEvents},"dir":"$dir","sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
      spark.stop()

    case "replay" :: changelogDir :: lakeDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val pos = positionals(rest)
      val driver = new CdcDriver(spark, changelogDir, lake,
        segmentsPerBatch = pos.headOption.map(_.toInt).getOrElse(4),
        nBuckets = pos.lift(1).map(_.toInt).getOrElse(64),
        saltBuckets = pos.lift(2).map(_.toInt).getOrElse(0),
        aggLake = pos.lift(3).filter(_ != "-")
          .map(d => new LakeTable(spark, d)),
        patchEnabled = rest.contains("patch"),
        changeFeed = !rest.contains("nocf"),
        // idx=<dir>: maintain a secondary search index per batch;
        // idxchain=<n>: LSM merge threshold (auto-compact, 0 = never);
        // keep=<n>: snapshot retention (expire after each batch; 0 = all)
        searchIndex = flag(rest, "idx").map(d => new LakeTable(spark, d)),
        indexCompactChain = flag(rest, "idxchain").map(_.toInt).getOrElse(16),
        // idxevery=<n>: refresh the index every n batches (net snapshot
        // diff, so hot keys index once per window — see CdcDriver)
        indexEvery = flag(rest, "idxevery").map(_.toInt).getOrElse(1),
        keepSnapshots = flag(rest, "keep").map(_.toInt).getOrElse(0),
        mor = rest.contains("mor"),
        morCompactChain = flag(rest, "morchain").map(_.toInt).getOrElse(16),
        // rep=<dir>: maintain a filtered/projected row replica per batch;
        // rwhere=<sql> + rcols=<a,b,c> seed a NEW replica's contract
        replica = flag(rest, "rep").map(d => new LakeTable(spark, d)),
        replicaWhere = flag(rest, "rwhere").getOrElse(""),
        replicaCols = flag(rest, "rcols")
          .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        // source=<id> + partbase=<n>: multi-feed ingest — this replay
        // fences on its own per-source epoch and namespaces its partition
        // ids, so several feeds interleave into one table exactly-once
        source = flag(rest, "source"),
        partBase = flag(rest, "partbase").map(_.toInt).getOrElse(0),
        // mv=<dir>: maintain a generalized materialized view per batch;
        // mvagg="n=count(*);s=sum(score)" seeds a NEW view's contract
        // (semicolon-separated name=aggExpr pairs)
        matView = flag(rest, "mv").map(d => new LakeTable(spark, d)),
        matViewAggs = parseAggs(flag(rest, "mvagg")),
        // format=json: Debezium-style envelope segments (JsonChangelog)
        format = flag(rest, "format").getOrElse("parquet"))
      val t0 = System.nanoTime()
      val stats = driver.run()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = stats.map(_.rowsIn).sum
      println(f"""{"replayed":$rows,"batches":${stats.size},"sec":$sec%.1f,"eventsPerSec":${if (sec > 0) rows / sec else 0.0}%.1f}""")
      spark.stop()

    case "stream" :: changelogDir :: lakeDir :: ckptDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      // Streaming schema is fixed per run: infer the current (possibly
      // evolved) changelog schema from the segment footers, so additive
      // columns are picked up at stream (re)start — the standard Structured
      // Streaming schema-evolution pattern.
      val fmt = flag(rest, "format").getOrElse("parquet")
      val inferred =
        if (fmt == "json") new org.apache.spark.sql.types.StructType() // sidecar-typed
        else org.apache.spark.sql.types.StructType(
          spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true")
            .parquet(changelogDir).schema
            .fields.filterNot(f => f.name == "p" || f.name == "seg"))
      val pos = positionals(rest)
      // optional 4th arg: live processing interval in ms (0/absent = drain
      // the backlog with AvailableNow and exit; >0 = always-on tailer)
      val liveMs = pos.lift(3).map(_.toLong).getOrElse(0L)
      val trig =
        if (liveMs > 0)
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(liveMs)
        else org.apache.spark.sql.streaming.Trigger.AvailableNow()
      // fixed-delay restart supervision (reference: base-config.conf:27-28)
      // — a transient batch failure restarts the tailer from its checkpoint
      // instead of ending an always-on deployment
      CdcStream.run(spark, changelogDir, lake, ckptDir, inferred,
        nBuckets = pos.headOption.map(_.toInt).getOrElse(64),
        saltBuckets = pos.lift(1).map(_.toInt).getOrElse(0),
        maxFilesPerTrigger = pos.lift(2).map(_.toInt).getOrElse(16),
        trigger = trig,
        searchIndex = flag(rest, "idx").map(d => new LakeTable(spark, d)),
        indexCompactChain = flag(rest, "idxchain").map(_.toInt).getOrElse(16),
        indexEvery = flag(rest, "idxevery").map(_.toInt).getOrElse(1),
        keepSnapshots = flag(rest, "keep").map(_.toInt).getOrElse(0),
        mor = rest.contains("mor"),
        morCompactChain = flag(rest, "morchain").map(_.toInt).getOrElse(16),
        replica = flag(rest, "rep").map(d => new LakeTable(spark, d)),
        replicaWhere = flag(rest, "rwhere").getOrElse(""),
        replicaCols = flag(rest, "rcols")
          .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        matView = flag(rest, "mv").map(d => new LakeTable(spark, d)),
        matViewAggs = parseAggs(flag(rest, "mvagg")),
        // source=<id> + partbase=<n>: multi-feed tailer (per-source
        // checkpoint binding + epoch fencing; see replay)
        source = flag(rest, "source"),
        partBase = flag(rest, "partbase").map(_.toInt).getOrElse(0),
        restartAttempts = 3,
        format = fmt)
      lake.currentSnapshot.foreach(s =>
        println(s"""{"snapshotId":${s.snapshotId},"epoch":${s.epoch}}"""))
      spark.stop()

    case "gc" :: lakeDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val (dirs, mans) = lake.gcOrphans(
        rest.headOption.map(_.toLong).getOrElse(3600 * 1000L))
      println(s"""{"orphanDataDirsDeleted":$dirs,"orphanManifestsDeleted":$mans}""")
      spark.stop()

    case "changes" :: lakeDir :: fromId :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val df = graft.lake.ChangeFeedReader.between(spark, lake, fromId.toLong,
        rest.headOption.map(_.toLong).getOrElse(-1L))
      val counts = df.groupBy("action").count().collect()
        .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").mkString(",")
      println(s"""{"changes":{$counts}}""")
      spark.stop()

    case "merge" :: lakeDir :: fromConv :: toConv :: Nil =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      // maintenance operation: keeps the current epoch (never fences the
      // next source segment/streaming batch)
      val st = CrossMerge.mergeConversations(lake, Seq(fromConv -> toConv))
      println(s"""{"merged":"$fromConv->$toConv","epoch":${st.snapshot.epoch},""" +
        s""""rowsOut":${st.rowsOut},"actions":{${st.actions.map { case (k, v) =>
          s""""$k":$v""" }.mkString(",")}}}""")
      spark.stop()

    case "index" :: lakeDir :: indexDir :: rest =>
      val spark = session()
      val source = new LakeTable(spark, lakeDir)
      val index = new LakeTable(spark, indexDir)
      graft.search.SearchIndex.refresh(spark, source, index,
        nBuckets = rest.headOption.map(_.toInt).getOrElse(64)) match {
        case None => println("""{"refreshed":false,"reason":"already current or empty source"}""")
        case Some(st) => println(
          s"""{"refreshed":true,"fromSourceSnapshot":${st.fromSourceSnapshot},""" +
          s""""toSourceSnapshot":${st.toSourceSnapshot},""" +
          s""""postingDeltas":${st.changedRows},""" +
          s""""indexSnapshotId":${st.snapshot.snapshotId}}""")
      }
      spark.stop()

    case "index-compact" :: indexDir :: Nil =>
      val spark = session()
      val index = new LakeTable(spark, indexDir)
      graft.search.SearchIndex.compact(index) match {
        case None => println("""{"compacted":false,"reason":"empty index"}""")
        case Some(s) => println(
          s"""{"compacted":true,"snapshotId":${s.snapshotId},""" +
          s""""rows":${s.metrics.getOrElse("rowsOut", 0.0).toLong}}""")
      }
      spark.stop()

    case "search" :: indexDir :: terms if terms.nonEmpty =>
      val spark = session()
      val index = new LakeTable(spark, indexDir)
      val hits = graft.search.SearchIndex.search(spark, index, terms).collect()
      println(hits.map(r =>
        s"""{"conv_id":"${r.getString(0)}","turn_idx":${r.getInt(1)},""" +
        s""""score":${r.getLong(2)}}""").mkString("[", ",", "]"))
      spark.stop()

    case "fold" :: lakeDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val threshold = rest.headOption.map(_.toInt).getOrElse(2)
      val folded = CdcApply.maybeFold(lake, threshold)
      val chains = lake.currentSnapshot.map(CdcApply.chainLengths)
        .getOrElse(Map.empty)
      val maxChain = if (chains.isEmpty) 0 else chains.values.max
      println(s"""{"foldedBuckets":${folded.size},"maxChain":$maxChain}""")
      spark.stop()

    // expire <lake> [keepLast] [olderthan=<ms>] — count-based retention,
    // age-based retention (the reference's 7-day-TTL shape), or both
    case "expire" :: lakeDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val byAge = flag(rest, "olderthan").map(_.toLong)
        .map(lake.expireSnapshotsOlderThan).getOrElse((0, 0))
      val byCount = positionals(rest).headOption.map(_.toInt)
        .orElse(if (byAge == (0, 0) && flag(rest, "olderthan").isEmpty)
          Some(1) else None) // bare `expire <lake>` keeps the old default
        .map(lake.expireSnapshots).getOrElse((0, 0))
      println(s"""{"snapshotsExpired":${byAge._1 + byCount._1},""" +
        s""""filesDeleted":${byAge._2 + byCount._2}}""")
      spark.stop()

    case "compact" :: lakeDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      // Default KEEPS all tombstones (Long.MinValue watermark), matching
      // Compaction.compact's own safe default — dropping them requires an
      // explicit watermark argument, because a tombstone GC'd too early lets
      // an at-least-once redelivery of an older event resurrect deleted keys.
      val wm = positionals(rest).headOption.map(_.toLong)
        .getOrElse(Long.MinValue)
      // cluster=<col>[,<col>…] + filerows=<n>: sort the rewrite on the
      // columns within each bucket and split files, so zone maps become
      // selective on cold data; bare word `zorder` sorts on the
      // interleaved-bit Z-value instead (every clustered column prunes)
      // buckets=0,3,9: incremental compaction of only those buckets (rest
      // carried by path; commit rebases over disjoint concurrent ingest)
      val clusterList = flag(rest, "cluster")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      val st = graft.lake.Compaction.compact(lake, wm,
        targetFileRows = flag(rest, "filerows").map(_.toLong).getOrElse(0L),
        clusterCol = if (clusterList.size == 1) Some(clusterList.head) else None,
        buckets = flag(rest, "buckets")
          .map(_.split(",").filter(_.nonEmpty).map(_.toInt).toSet),
        clusterCols = if (clusterList.size > 1) clusterList else Nil,
        zorder = rest.contains("zorder"))
      println(s"""{"filesBefore":${st.filesBefore},"filesAfter":${st.filesAfter},""" +
        s""""rowsBefore":${st.rowsBefore},"rowsAfter":${st.rowsAfter},""" +
        s""""tombstonesDropped":${st.tombstonesDropped},""" +
        s""""snapshotId":${st.snapshot.snapshotId}}""")
      spark.stop()

    case "matview" :: lakeDir :: viewDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val view = new LakeTable(spark, viewDir)
      val aggs = parseAggs(flag(rest, "mvagg"))
      // refreshed by SNAPSHOT id: an epoch-neutral fold (DML on main)
      // advances the view snapshot while keeping its epoch
      val before = view.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
      MatView.catchUp(spark, lake, view,
        if (aggs.nonEmpty) Some(MatView.Config(aggs)) else None)
      val after = view.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
      println(s"""{"refreshed":${after != before},""" +
        s""""epoch":${view.currentSnapshot.map(_.epoch).getOrElse(-1L)},""" +
        s""""rows":${view.currentSnapshot.map(_.totalRows).getOrElse(0L)},""" +
        s""""aggs":${MatView.config(view).map(_.aggs.size).getOrElse(0)}}""")
      spark.stop()

    case "branch" :: lakeDir :: "create" :: name :: Nil =>
      val spark = session()
      val b = graft.lake.Branch.create(new LakeTable(spark, lakeDir), name)
      println(s"""{"branch":"${b.name}","baseSnapshotId":${b.baseSnapshotId},""" +
        s""""baseEpoch":${b.baseEpoch},"dir":"$lakeDir/branches/${b.name}"}""")
      spark.stop()

    case "branch" :: lakeDir :: "publish" :: name :: Nil =>
      val spark = session()
      val s = graft.lake.Branch.publish(new LakeTable(spark, lakeDir), name)
      println(s"""{"published":"$name","snapshotId":${s.snapshotId},""" +
        s""""epoch":${s.epoch},"rows":${s.totalRows}}""")
      spark.stop()

    case "branch" :: lakeDir :: "discard" :: name :: Nil =>
      val spark = session()
      val n = graft.lake.Branch.discard(new LakeTable(spark, lakeDir), name)
      println(s"""{"discarded":"$name","filesDeleted":$n}""")
      spark.stop()

    case "branch" :: lakeDir :: "list" :: Nil =>
      val spark = session()
      val bs = graft.lake.Branch.list(new LakeTable(spark, lakeDir))
        .map(b => s"""{"name":"${b.name}","baseSnapshotId":${b.baseSnapshotId},"baseEpoch":${b.baseEpoch}}""")
      println(s"""{"branches":[${bs.mkString(",")}]}""")
      spark.stop()

    case "doctor" :: lakeDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val t = graft.lake.Doctor.Thresholds(
        chainMax = flag(rest, "chainmax").map(_.toInt).getOrElse(16),
        rowsPerBucketTarget =
          flag(rest, "target").map(_.toLong).getOrElse(4_000_000L),
        maxBuckets = flag(rest, "maxbuckets").map(_.toInt).getOrElse(4096),
        skewFactor = flag(rest, "skew").map(_.toDouble).getOrElse(4.0),
        keepSnapshots = flag(rest, "keep").map(_.toInt).getOrElse(32))
      graft.lake.Doctor.examine(lake, t) match {
        case None => println("""{"healthy":true,"empty":true}""")
        case Some(r) =>
          val applied =
            if (rest.contains("apply"))
              graft.lake.Doctor.applySafe(lake, r, t)
            else Nil
          val adv = r.advice.map(a =>
            s"""{"action":"${a.action}","args":"${a.args}",""" +
            s""""reason":"${a.reason.replace("\"", "'")}"}""").mkString(",")
          println(s"""{"healthy":${r.advice.isEmpty},""" +
            s""""snapshotId":${r.snapshotId},"nBuckets":${r.nBuckets},""" +
            s""""mor":${r.mor},"rows":${r.rows},"files":${r.files},""" +
            s""""snapshotsRetained":${r.snapshotsRetained},""" +
            s""""bytes":${r.bytes},""" +
            s""""meanBytesPerBucket":${r.meanBytesPerBucket},""" +
            s""""maxBytesPerBucket":${r.maxBytesPerBucket},""" +
            s""""meanRowsPerBucket":${r.meanRowsPerBucket},""" +
            s""""maxRowsPerBucket":${r.maxRowsPerBucket},""" +
            s""""maxChain":${r.maxChain},""" +
            s""""quarantinedEpochs":[${r.quarantinedEpochs.mkString(",")}],""" +
            s""""liveBranches":[${r.liveBranches.map(b => s""""$b"""").mkString(",")}],""" +
            s""""advice":[$adv],""" +
            s""""applied":[${applied.map(a => s""""$a"""").mkString(",")}]}""")
      }
      spark.stop()

    case "rebucket" :: lakeDir :: n :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      // shuffle-free when old/new counts are aligned (one divides the
      // other); shuffleFree in the output reports which plan ran
      val st = graft.lake.Compaction.rebucket(lake, n.toInt,
        targetFileRows = flag(rest, "filerows").map(_.toLong).getOrElse(0L))
      println(s"""{"nBuckets":${st.snapshot.nBuckets},""" +
        s""""shuffleFree":${st.snapshot.metrics.getOrElse("rebucketShuffleFree", 0.0) == 1.0},""" +
        s""""filesBefore":${st.filesBefore},"filesAfter":${st.filesAfter},""" +
        s""""rowsBefore":${st.rowsBefore},"rowsAfter":${st.rowsAfter},""" +
        s""""snapshotId":${st.snapshot.snapshotId}}""")
      spark.stop()

    case "follow" :: lakeDir :: consumerDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      graft.lake.ChangeFeedFollower.drain(spark, lake, consumerDir,
        imageCols = flag(rest, "imagecols")
          .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)) match {
        case None => println("""{"drained":false}""")
        case Some(s) =>
          println(s"""{"drained":true,"from":${s.from},"to":${s.to},""" +
            s""""rows":${s.rows},"out":"${s.out}"}""")
      }
      spark.stop()

    // Push twin of `follow`: subscribe to the lake's change feed through
    // the Structured Streaming source (format "graft-changes") and append
    // every delta row to a parquet sink, offsets checkpointed — re-running
    // against the same checkpoint emits only what committed since.
    //   subscribe <lakeDir> <outDir> <ckptDir> [images=<csv|*|none>]
    //     [startfrom=<snapshotId|tag>]
    case "subscribe" :: lakeDir :: outDir :: ckptDir :: rest =>
      val spark = session()
      val reader = spark.readStream.format("graft-changes")
        .option("path", lakeDir)
      flag(rest, "images").foreach(v => reader.option("images", v))
      flag(rest, "startfrom").foreach(v => reader.option("startfrom", v))
      val q = reader.load().writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val total = spark.read.parquet(outDir).count()
      println(s"""{"subscribed":true,"sinkRows":$total,"out":"$outDir"}""")
      spark.stop()

    // Lake→lake cascade: follow an upstream lake's change feed into a
    // downstream LAKE (graft-changes source → GraftCascade.toEvents →
    // graft sink), exactly-once at both ends. Drains the backlog and
    // exits; re-run to catch up (or wire ProcessingTime for always-on).
    //   cascade <upLakeDir> <downLakeDir> <ckptDir> [nbuckets=N]
    case "cascade" :: upDir :: downDir :: ckptDir :: rest =>
      val spark = session()
      val q = spark.readStream.format("graft-changes")
        .option("path", upDir)
        .option("withsnapshot", "true")
        .load()
        .transform(graft.streaming.GraftCascade.toEvents)
        .writeStream.format("graft-lake")
        .option("path", downDir)
        .option("checkpointLocation", ckptDir)
        .option("nbuckets", flag(rest, "nbuckets").getOrElse("64"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val down = new LakeTable(spark, downDir)
      println(s"""{"cascaded":true,"downRows":${down.read().count()},""" +
        s""""downSnapshot":${down.currentSnapshot.map(_.snapshotId).getOrElse(-1L)}}""")
      spark.stop()

    case "replica" :: lakeDir :: replicaDir :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val rep = new LakeTable(spark, replicaDir)
      val st = Replica.refreshAttached(spark, lake, rep,
        predicate = flag(rest, "rwhere").getOrElse(""),
        cols = flag(rest, "rcols")
          .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        nBuckets = positionals(rest).headOption.map(_.toInt).getOrElse(64))
      st match {
        case None => println("""{"refreshed":false}""")
        case Some(s) =>
          println(s"""{"refreshed":true,"fromSnapshot":${s.fromSnapshot},""" +
            s""""toSnapshot":${s.toSnapshot},"rowsApplied":${s.rowsApplied},""" +
            s""""replicaRows":${rep.read().count()}}""")
      }
      spark.stop()

    case "sql" :: lakeDir :: query :: rest =>
      val spark = session()
      // asof=<snapshotId|tagName>: run the query against that snapshot's
      // rows (time travel) — tags resolve by name, else numeric id
      val asOf = flag(rest, "asof").map { v =>
        new LakeTable(spark, lakeDir).tags.getOrElse(v,
          try v.toLong catch { case _: NumberFormatException =>
            throw new NoSuchElementException(
              s"asof=$v is neither a tag nor a snapshot id") })
      }.getOrElse(-1L)
      graft.sql.GraftSql.table(spark, lakeDir, asOf)
        .createOrReplaceTempView("lake")
      // metadata tables: lake_files / lake_snapshots / lake_lineage /
      // lake_tags / lake_branches (Iceberg metadata-table analogue)
      graft.sql.GraftSql.metadataTables(spark, lakeDir).foreach {
        case (n, df) => df.createOrReplaceTempView(s"lake_$n")
      }
      // join=name:dir,name2:dir2 — register other lakes (same pushdown)
      // for cross-lake joins in the same query
      flag(rest, "join").foreach(_.split(",").filter(_.nonEmpty).foreach { p =>
        val i = p.indexOf(':')
        require(i > 0, s"join entry '$p' is not name:dir")
        graft.sql.GraftSql.table(spark, p.drop(i + 1))
          .createOrReplaceTempView(p.take(i))
      })
      val df = spark.sql(query)
      val rows = df.count()
      // file-level pruning observability: the parquet scans the optimizer
      // actually planned vs the snapshot's total (same counters as `range`)
      val scanned = df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.sum
      val lk = new LakeTable(spark, lakeDir)
      val total = (if (asOf < 0) lk.currentSnapshot
                   else lk.snapshots.find(_.snapshotId == asOf))
        .map(_.totalFiles).getOrElse(0)
      println(s"""{"rows":$rows,"filesScanned":$scanned,"filesTotal":$total,""" +
        s""""snapshotId":${if (asOf < 0) lk.currentSnapshot.map(_.snapshotId).getOrElse(-1L) else asOf}}""")
      spark.stop()

    case "history" :: lakeDir :: rest =>
      val spark = session()
      val n = rest.headOption.map(_.toInt).getOrElse(20)
      val lake = new LakeTable(spark, lakeDir)
      lake.snapshots.takeRight(n).foreach { s =>
        val ms = s.metrics.toSeq.sortBy(_._1)
          .map { case (k, v) =>
            val vs = if (v == v.floor && math.abs(v) < 1e15)
              v.toLong.toString else v.toString
            s""""$k":$vs"""
          }.mkString(",")
        println(s"""{"snapshotId":${s.snapshotId},"parentId":${s.parentId},""" +
          s""""epoch":${s.epoch},"schemaVersion":${s.schemaVersion},""" +
          s""""rows":${s.totalRows},"files":${s.totalFiles},""" +
          s""""metrics":{$ms}}""")
      }
      spark.stop()

    case "check" :: lakeDir :: "add" :: name :: exprSql :: rest =>
      val spark = session()
      new LakeTable(spark, lakeDir).addCheck(name, exprSql,
        validateExisting = !rest.contains("novalidate"))
      println(s"""{"check":"$name","added":true}""")
      spark.stop()

    case "check" :: lakeDir :: "drop" :: name :: Nil =>
      val spark = session()
      val removed = new LakeTable(spark, lakeDir).dropCheck(name)
      println(s"""{"check":"$name","removed":$removed}""")
      spark.stop()

    case "check" :: lakeDir :: "list" :: Nil =>
      val spark = session()
      val cs = new LakeTable(spark, lakeDir).checks.toSeq.sortBy(_._1)
        .map { case (n, e) => s""""$n":"${e.replace("\"", "\\\"")}"""" }
        .mkString(",")
      println(s"""{"checks":{$cs}}""")
      spark.stop()

    case "tag" :: lakeDir :: name :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val id = lake.tag(name, rest.headOption.map(_.toLong).getOrElse(-1L))
      println(s"""{"tag":"$name","snapshotId":$id}""")
      spark.stop()

    case "untag" :: lakeDir :: name :: Nil =>
      val spark = session()
      val removed = new LakeTable(spark, lakeDir).untag(name)
      println(s"""{"tag":"$name","removed":$removed}""")
      spark.stop()

    case "tags" :: lakeDir :: Nil =>
      val spark = session()
      val ts = new LakeTable(spark, lakeDir).tags.toSeq.sortBy(_._1)
        .map { case (n, id) => s""""$n":$id""" }.mkString(",")
      println(s"""{"tags":{$ts}}""")
      spark.stop()

    case "requeue" :: lakeDir :: epoch :: Nil =>
      val spark = session()
      val st = Requeue.requeue(new LakeTable(spark, lakeDir), epoch.toLong)
      println(s"""{"found":${st.found},"applied":${st.applied},""" +
        s""""stillFailed":${st.stillFailed},""" +
        s""""archivedTo":"${st.archivedTo}"}""")
      spark.stop()

    case "clone" :: srcDir :: dstDir :: rest =>
      val spark = session()
      val src = new LakeTable(spark, srcDir)
      val asOf = rest.headOption.map(t => t.toLongOption.getOrElse(
        src.tags.getOrElse(t, throw new NoSuchElementException(
          s"no tag $t in $srcDir")))).getOrElse(-1L)
      val snap = graft.lake.Clone.deepClone(src, dstDir, asOf)
      println(s"""{"cloned":"$srcDir","to":"$dstDir",""" +
        s""""fromSnapshot":${snap.metrics("clonedFromSnapshot").toLong},""" +
        s""""rows":${snap.totalRows},"files":${snap.totalFiles},""" +
        s""""epoch":${snap.epoch}}""")
      spark.stop()

    case "rollback" :: lakeDir :: target :: rest =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val targetId = target.toLongOption.getOrElse(
        lake.tags.getOrElse(target, throw new NoSuchElementException(
          s"no tag $target in $lakeDir")))
      val snap = lake.rollbackTo(targetId)
      // coupled rollback of an epoch-cursored derived table: without it the
      // agg sits AHEAD of the rewound main epoch and stops catching up
      val aggOut = flag(rest, "agg").map { aggDir =>
        val agg = new LakeTable(spark, aggDir)
        agg.rollbackEpochs(snap.epoch) match {
          case Some(aid) if agg.currentSnapshot.exists(_.epoch > snap.epoch) =>
            val as = agg.rollbackTo(aid)
            s""","agg":{"snapshotId":${as.snapshotId},"epoch":${as.epoch}}"""
          case _ => s""","agg":{"unchanged":true}"""
        }
      }.getOrElse("")
      println(s"""{"rolledBackTo":$targetId,""" +
        s""""snapshotId":${snap.snapshotId},"epoch":${snap.epoch},""" +
        s""""rows":${lake.read().count()}$aggOut}""")
      spark.stop()

    case "dml" :: lakeDir :: statement :: Nil =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val st = graft.sql.GraftDml.sql(lake, statement)
      val actions = st.actions.map { case (k, v) => s""""$k":$v""" }
        .mkString(",")
      println(s"""{"matched":${st.rowsIn},"skipped":${st.skipped},""" +
        s""""touchedBuckets":${st.touchedBuckets},""" +
        s""""snapshotId":${st.snapshot.snapshotId},""" +
        s""""epoch":${st.snapshot.epoch},"actions":{$actions}}""")
      spark.stop()

    case "range" :: lakeDir :: rest if rest.size >= 3 && rest.size % 3 == 0 =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      // any number of (column, lo, hi) triples — conjunction, pruned sets
      // intersect (e.g. `range lake ts <w1> <w2> _lsn 0 500000`)
      val ranges = rest.grouped(3).map {
        case List(c, lo, hi) => (c, lo.toLong, hi.toLong)
      }.toSeq
      val (kept, total) = lake.scanRangesFiles(ranges)
      val n = lake.scanRanges(ranges).count()
      println(s"""{"rows":$n,"filesScanned":${kept.size},""" +
        s""""filesTotal":$total}""")
      spark.stop()

    // Convert a parquet changelog into the Debezium-style JSON-envelope
    // flavor (same seg=N/p=P layout + a _schema.json type sidecar), then
    // replay with `replay <jsonDir> <lake> ... format=json`.
    case "tojson" :: parquetCl :: jsonDir :: Nil =>
      val spark = session()
      graft.changelog.JsonChangelog.fromParquet(spark, parquetCl, jsonDir)
      println(s"""{"converted":"$parquetCl","to":"$jsonDir"}""")
      spark.stop()

    // Metadata-only schema evolution: rename resolves old files by field
    // id (zero rewrite); drop removes the column from the current schema
    // (a re-added name is a new column — old values never resurrect).
    case "rename" :: lakeDir :: from :: to :: Nil =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val s = lake.renameColumn(from, to)
      println(s"""{"renamed":"$from","to":"$to","snapshotId":${s.snapshotId},""" +
        s""""schemaVersion":${s.schemaVersion}}""")
      spark.stop()

    case "dropcol" :: lakeDir :: name :: Nil =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      val s = lake.dropColumn(name)
      println(s"""{"dropped":"$name","snapshotId":${s.snapshotId},""" +
        s""""schemaVersion":${s.schemaVersion}}""")
      spark.stop()

    // Point lookup of one entity (values in keySpec.bucketCols order,
    // typed from the table schema). Prints the live rows plus the file
    // counts at each pruning stage: bucket manifest -> key min/max ->
    // bloom/dictionary membership.
    case "lookup" :: lakeDir :: values if values.nonEmpty =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      lake.currentSnapshot match {
        case None => println("""{"rows":0}""")
        case Some(snap) =>
          val bc = snap.keySpec.bucketCols
          require(values.size == bc.size,
            s"lookup takes exactly ${bc.size} value(s) for bucket columns " +
            s"${bc.mkString("(", ", ", ")")}, got ${values.size} -- a " +
            "truncated zip would hash the wrong bucket and report rows:0")
          val types = bc.map(c =>
            snap.schema.fields.find(_.name == c).map(_.dataType))
          val typed: Seq[Any] = values.zip(types).map {
            case (v, Some(org.apache.spark.sql.types.IntegerType)) => v.toInt
            case (v, Some(org.apache.spark.sql.types.LongType)) => v.toLong
            case (v, _) => v
          }
          val bucketFiles = snap.files.count(_.bucket ==
            LakeTable.bucketOfValues(typed, snap.nBuckets))
          val ranged = lake.lookupFilesKeyed(typed, bloom = false).size
          val opened = lake.lookupFilesKeyed(typed).size
          val rows = lake.lookupKeyed(typed).collect()
          rows.foreach(println)
          println(s"""{"rows":${rows.length},"bucketFiles":$bucketFiles,""" +
            s""""afterKeyRange":$ranged,"afterMembership":$opened}""")
      }
      spark.stop()

    // Endurance soak whose FULL changelog never exists on disk: generate a
    // chunk of the deterministic feed, replay it with EVERY maintenance
    // policy on (keep=N retention, maintained search index, conv_agg,
    // matview, filtered replica; mor optional), optionally replay the same
    // chunk into a plain CONTROL lake, delete the applied segment dirs,
    // repeat — so a 10^9-event run costs O(chunk) changelog disk. Prints
    // one JSON line per chunk (throughput curve + free disk) and a summary
    // with the final state checksum (and control equality when enabled).
    // Crash-safe resume: segments already applied are fenced; rerunning
    // regenerates at most one chunk (identical bytes, deterministic gen).
    //   endure <workDir> <totalEvents> <chunkEvents> [segPerBatch] [nBuckets]
    //     [segsize=N] [keep=N] [control] [mor] [noidx] [nocf]
    case "endure" :: workDir :: total :: chunkSz :: rest =>
      // ONE SESSION PER CHUNK: a single multi-hour session accumulates
      // shuffle files until the driver's periodic GC reaps the dead
      // dependencies; restarting the session at each chunk boundary deletes
      // its blockmgr/spill dirs outright, hard-bounding scratch disk at
      // O(one chunk) no matter how long the run is. (session() also sets
      // spark.cleaner.periodicGC.interval=2min for the within-chunk window.)
      var spark = session()
      val totalEv = total.toLong
      val chunkEv = chunkSz.toLong
      val pos = positionals(rest)
      val segPerBatch = pos.headOption.map(_.toInt).getOrElse(4)
      val nBuckets = pos.lift(1).map(_.toInt).getOrElse(64)
      val segSize = flag(rest, "segsize").map(_.toLong).getOrElse(2000000L)
      val keep = flag(rest, "keep").map(_.toInt).getOrElse(2)
      val withControl = rest.contains("control")
      val mor = rest.contains("mor")
      require(chunkEv % segSize == 0 && chunkEv > 0,
        s"chunk $chunkEv must be a positive multiple of segsize $segSize")
      new java.io.File(workDir).mkdirs()
      val clDir = s"$workDir/changelog"
      def lake = new LakeTable(spark, s"$workDir/lake")
      def ctl = new LakeTable(spark, s"$workDir/control")
      // convs= bounds the KEY SPACE independently of event count — a
      // 10^9-event run over a bounded entity population is the reference's
      // actual shape (unbounded activity events folding into bounded
      // aggregate state) and keeps the lake's live rows (and disk) O(keys)
      val cfg = graft.changelog.ChangelogGen.Config(nEvents = totalEv,
        nConvs = flag(rest, "convs").map(_.toLong)
          .getOrElse(math.max(totalEv / 200, 10L)),
        segSize = segSize,
        pUpdate = 0.3, pDelete = 0.05, pDup = 0.05)
      def freeGb: Double =
        new java.io.File(workDir).getUsableSpace / 1e9
      def driverFor(l: LakeTable, policies: Boolean) =
        if (!policies) new CdcDriver(spark, clDir, l, segPerBatch, nBuckets,
          quiet = true, keepSnapshots = keep, mor = mor,
          changeFeed = !rest.contains("nocf"))
        else new CdcDriver(spark, clDir, l, segPerBatch, nBuckets,
          quiet = true, keepSnapshots = keep, mor = mor,
          aggLake = Some(new LakeTable(spark, s"$workDir/agg")),
          searchIndex = if (rest.contains("noidx")) None
            else Some(new LakeTable(spark, s"$workDir/idx")),
          indexEvery = flag(rest, "idxevery").map(_.toInt).getOrElse(1),
          replica = Some(new LakeTable(spark, s"$workDir/replica")),
          replicaWhere = "role = 'assistant'",
          replicaCols = Seq("role", "text", "ts"),
          matView = Some(new LakeTable(spark, s"$workDir/mv")),
          matViewAggs = parseAggs(Some("n=count(1);maxlsn=max(_lsn)")))
      def checksum(l: LakeTable): (Long, String) = l.currentSnapshot match {
        case None => (0L, "0")
        case Some(_) =>
          val t = l.read()
          val hashCols = t.schema.fields.toIndexedSeq.sortBy(_.name).map { f =>
            f.dataType match {
              case _: org.apache.spark.sql.types.MapType =>
                to_json(sort_array(map_entries(col(f.name))))
              case _ => col(f.name)
            }
          }
          val row = t.select(count(lit(1)).as("n"),
            sum(xxhash64(hashCols: _*).cast("decimal(38,0)")).as("ck")).head()
          (row.getLong(0), String.valueOf(row.getDecimal(1)))
      }
      val t00 = System.nanoTime()
      // resume at the chunk containing the applied cursor (epoch = applied
      // segment bound; deterministic gen makes regeneration idempotent)
      val appliedEv = math.min(
        lake.currentSnapshot.map(_.epoch * segSize).getOrElse(0L),
        if (withControl)
          ctl.currentSnapshot.map(_.epoch * segSize).getOrElse(0L)
        else Long.MaxValue)
      var lo = math.min(appliedEv / chunkEv * chunkEv, totalEv)
      var applied = 0L
      while (lo < totalEv) {
        val hi = math.min(lo + chunkEv, totalEv)
        val tg = System.nanoTime()
        // a crash can leave this chunk's segments half-generated (or
        // generated-but-unapplied): regeneration APPENDS parquet files, so
        // drop the stale dirs first — applied segments in the chunk are
        // regenerated byte-identical and stay fenced, unapplied ones are
        // replayed exactly once instead of twice
        graft.changelog.ChangelogGen.listSegments(clDir)
          .filter(sg => sg >= lo / segSize && sg < (hi + segSize - 1) / segSize)
          .foreach(sg => graft.lake.LakeIO.delete(s"$clDir/seg=$sg"))
        graft.changelog.ChangelogGen.writeRange(spark, clDir, cfg, lo, hi)
        val genSec = (System.nanoTime() - tg) / 1e9
        val t0 = System.nanoTime()
        val stats = driverFor(lake, policies = true).run()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = stats.map(_.rowsIn).sum
        applied += rows
        val ctlSec =
          if (!withControl) 0.0
          else {
            val tc = System.nanoTime()
            driverFor(ctl, policies = false).run()
            (System.nanoTime() - tc) / 1e9
          }
        // both lakes have consumed every segment below the safe cursor —
        // the chunk's disk is reclaimed before the next one generates
        val safeSeg = math.min(
          lake.currentSnapshot.map(_.epoch).getOrElse(0L),
          if (withControl) ctl.currentSnapshot.map(_.epoch).getOrElse(0L)
          else Long.MaxValue)
        graft.changelog.ChangelogGen.listSegments(clDir)
          .filter(_ < safeSeg)
          .foreach(sg => graft.lake.LakeIO.delete(s"$clDir/seg=$sg"))
        println(f"""{"chunk":[$lo,$hi],"events":$rows,"genSec":$genSec%.1f,""" +
          f""""applySec":$sec%.1f,"eventsPerSec":${if (sec > 0) rows / sec else 0.0}%.1f,""" +
          f""""controlSec":$ctlSec%.1f,"freeGb":$freeGb%.1f}""")
        lo = hi
        // chunk boundary: retire the session (and its scratch disk)
        if (lo < totalEv) { spark.stop(); spark = session() }
      }
      val totalSec = (System.nanoTime() - t00) / 1e9
      val (rowsP, ckP) = checksum(lake)
      val (rowsC, ckC) = if (withControl) checksum(ctl) else (0L, "")
      println(f"""{"endured":$totalEv,"appliedRows":$applied,""" +
        f""""totalSec":$totalSec%.1f,""" +
        f""""eventsPerSec":${if (totalSec > 0) applied / totalSec else 0.0}%.1f,""" +
        s""""rows":$rowsP,"checksum":"$ckP"""" +
        (if (withControl)
          s""","controlRows":$rowsC,"controlChecksum":"$ckC",""" +
          s""""match":${rowsP == rowsC && ckP == ckC}"""
         else "") +
        f""","freeGb":$freeGb%.1f}""")
      spark.stop()

    case "state" :: lakeDir :: Nil =>
      val spark = session()
      val lake = new LakeTable(spark, lakeDir)
      lake.currentSnapshot match {
        case None => println("""{"rows":0,"checksum":0,"snapshot":null}""")
        case Some(snap) =>
          val t = lake.read()
          // map columns are not hashable (order-ambiguous) — canonicalize
          // them as sorted-entry JSON before the row hash. Columns hash in
          // NAME order, so two logically-equal tables whose physical column
          // order differs (e.g. a mid-stream additive column lands at the
          // end on the parquet path but mid-schema via a JSON-envelope
          // replay's sidecar) produce the same checksum.
          val hashCols = t.schema.fields.toIndexedSeq.sortBy(_.name).map { f =>
            f.dataType match {
              case _: org.apache.spark.sql.types.MapType =>
                to_json(sort_array(map_entries(col(f.name))))
              case _ => col(f.name)
            }
          }
          val row = t.select(
            count(lit(1)).as("n"),
            sum(xxhash64(hashCols: _*)
              .cast("decimal(38,0)")).as("ck")).head()
          val morInfo =
            if (!snap.mor) ""
            else {
              val chains = CdcApply.chainLengths(snap)
              s""""mor":true,"maxChain":${
                if (chains.isEmpty) 0 else chains.values.max},"""
            }
          val srcInfo =
            if (snap.sourceEpochsOrEmpty.isEmpty) ""
            else s""""sourceEpochs":{${snap.sourceEpochsOrEmpty.toSeq.sorted
              .map { case (k, v) => s""""$k":$v""" }.mkString(",")}},"""
          println(s"""{"rows":${row.getLong(0)},"checksum":${row.getDecimal(1)},""" +
            // audited metadata count (-1 = unknown): must equal "rows"
            // whenever >= 0 — the scanned count is the ground truth this
            // cross-checks against
            s""""liveRowsMeta":${snap.liveRows},""" +
            s""""snapshotId":${snap.snapshotId},"epoch":${snap.epoch},""" +
            morInfo + srcInfo +
            s""""schemaVersion":${snap.schemaVersion},""" +
            s""""lineage":${snap.lineage.map(l =>
              s"""{"part":${l.srcPart},"lo":${l.minOff},"hi":${l.maxOff}}""")
              .mkString("[", ",", "]")}}""")
      }
      spark.stop()

    case _ =>
      System.err.println("usage: gen|replay|state ... (see scaladoc)")
      sys.exit(2)
  }
}
