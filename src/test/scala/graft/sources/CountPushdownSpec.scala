package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.CdcApply
import graft.lake.LakeTable

/** Metadata-only aggregates through the V2 catalog, provably without data
  * IO (the spec deletes a data file from disk and the answers survive):
  *
  *  - bare `SELECT count(*)`: `Snapshot.liveRows` (audited change-feed
  *    transitions), or the sum of per-file live counts when the audit is
  *    poisoned (cf-disabled commits);
  *  - `count(*)` under a WHERE whose every conjunct is CLAIMED (each kept
  *    file's zone bounds fully inside the range, column null-free): sum of
  *    the kept files' exact live counts;
  *  - `min/max(col)` on tombstone-free copy-on-write files: zone-bound
  *    folds.
  *
  * Partial coverage, tombstones (for min/max), and merge-on-read all fall
  * back to the real scan — exactness is the gate, never an estimate. */
class CountPushdownSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s
  }

  private def batch(rows: Seq[(String, Int, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "_lsn", "op")
      .withColumn("role", lit("user"))
      .withColumn("text", concat(lit("t-"), col("_lsn")))
      .withColumn("_src_part", (col("_lsn") % 4).cast("int"))
      .withColumn("_src_off", col("_lsn"))
  }

  /** wave1: 32 convs x 4 turns = 128 live. wave2: 8 updates, 8 deletes of
    * live keys, 4 inserts of new keys -> 124 live. */
  private def seed(name: String, mor: Boolean,
                   cf: Boolean = true): (LakeTable, String) = {
    val dir = TestSpark.tmpDir(name)
    val lake = new LakeTable(spark, dir)
    val w1 = (0 until 32).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong, "U")))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8, mor = mor,
      changeFeed = cf)
    val w2 =
      (0 until 2).flatMap(c => (0 until 4).map(t =>
        (f"conv$c%02d", t, (1000 + c * 4 + t).toLong, "D"))) ++
      (2 until 4).flatMap(c => (0 until 4).map(t =>
        (f"conv$c%02d", t, (1100 + c * 4 + t).toLong, "U"))) ++
      (0 until 4).map(t => ("convX", t, (1200 + t).toLong, "U"))
    CdcApply.apply(lake, batch(w2), epoch = 2, nBuckets = 8, mor = mor,
      changeFeed = cf)
    (lake, dir)
  }

  private def countSql(dir: String, suffix: String = ""): Long =
    spark.sql(s"SELECT count(*) FROM graft.`$dir`$suffix").head().getLong(0)

  test("bare count(*) answers from metadata — no data IO (CoW)") {
    val (lake, dir) = seed("cnt-cow", mor = false)
    val truth = lake.read().count()
    assert(truth == 124L, "seed arithmetic drifted")
    assert(lake.currentSnapshot.get.liveRows == truth,
      "audited liveRows diverges from the scanned truth")
    assert(countSql(dir) == truth)

    // the proof it never touched data: remove a data file from disk —
    // the metadata count still answers; a PARTIALLY-covered WHERE (files
    // span turn_idx 0..3, so >= 2 covers no file fully) must stay a real
    // scan and break on the missing file
    val victim = lake.currentSnapshot.get.files.head.path
    assert(new java.io.File(victim).delete(), s"could not delete $victim")
    assert(countSql(dir) == truth,
      "count(*) read data files — pushdown did not happen")
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM graft.`$dir` WHERE turn_idx >= 2")
        .head()
    }
  }

  test("fully-covered WHERE: filtered count answers from per-file live counts") {
    val (lake, dir) = seed("cnt-covered", mor = false)
    val truth = lake.read().count() // 124, with tombstones in the files
    // turn_idx in [0, 3] and _lsn <= 5000 hold on EVERY file -> claimed ->
    // the filtered count is the sum of exact per-file live counts
    assert(countSql(dir, " WHERE turn_idx >= 0") == truth)
    assert(countSql(dir, " WHERE _lsn <= 5000 AND turn_idx <= 3") == truth)
    // proof of zero data IO: the covered count survives a deleted file
    val victim = lake.currentSnapshot.get.files.head.path
    assert(new java.io.File(victim).delete(), s"could not delete $victim")
    assert(countSql(dir, " WHERE turn_idx >= 0") == truth,
      "covered filtered count read data files — claiming did not happen")
  }

  test("mixed pruned + claimed WHERE: the count reads only the kept files'" +
      " metadata") {
    val dir = TestSpark.tmpDir("cnt-mixed")
    val lake = new LakeTable(spark, dir)
    def withTs(df: DataFrame) =
      df.withColumn("ts", timestamp_seconds(lit(1704067200L) + col("_lsn")))
    val w1 = (0 until 32).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong, "U")))
    CdcApply.apply(lake, withTs(batch(w1)), epoch = 1, nBuckets = 1)
    val w2 = (0 until 4).flatMap(c => (0 until 4).map(t =>
      (f"conv$c%02d", t, (1000 + c * 4 + t).toLong, if (c < 2) "D" else "U")))
    CdcApply.apply(lake, withTs(batch(w2)), epoch = 2, nBuckets = 1)
    // one bucket clustered on ts and split every 16 rows: the files cover
    // disjoint, ascending ts ranges
    graft.lake.Compaction.compact(lake, targetFileRows = 16,
      clusterCol = Some("ts"))
    val files = lake.currentSnapshot.get.files.sortBy(_.zone("ts").get._1)
    assert(files.size >= 4, s"${files.size} files")
    // `ts >= mid` at a file boundary: the files before it are pruned, every
    // file from it on lies fully inside the range (claimed)
    val mid = files(files.size / 2).zone("ts").get._1
    assert(files.forall { f =>
      val (lo, hi) = f.zone("ts").get
      hi < mid || lo >= mid })
    val midLit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.EPOCH.plus(mid, java.time.temporal.ChronoUnit.MICROS))
    val where = s" WHERE ts >= TIMESTAMP '$midLit'"
    val total = lake.read().count()
    val truth = lake.read().filter(col("ts") >= timestamp_micros(lit(mid)))
      .count()
    assert(truth > 0 && truth < total && truth != total - truth,
      s"truth $truth of $total does not tell the halves apart")
    assert(countSql(dir, where) == truth)

    // delete one pruned file and one kept file: the answer still equals
    // the truth, so it is the kept files' live counts, read from metadata
    for (f <- Seq(files.head, files.last))
      assert(new java.io.File(f.path).delete(), s"could not delete ${f.path}")
    assert(countSql(dir, where) == truth,
      "mixed pruned+claimed count read data files or the wrong files")
    intercept[Exception] { // a real scan of the kept half breaks
      spark.sql(s"SELECT sum(turn_idx) FROM graft.`$dir`$where").head()
    }
  }

  test("min/max answer from zone bounds on tombstone-free files") {
    val dir = TestSpark.tmpDir("cnt-minmax")
    val lake = new LakeTable(spark, dir)
    val w1 = (0 until 32).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong, "U")))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8)
    val row = spark.sql(
      s"SELECT min(_lsn), max(_lsn), max(turn_idx) FROM graft.`$dir`").head()
    assert(row.getLong(0) == 0L && row.getLong(1) == 127L &&
      row.getInt(2) == 3)
    // combined with a fully-covered WHERE, still metadata-only
    val filtered = spark.sql(
      s"SELECT max(_lsn), count(*) FROM graft.`$dir` WHERE turn_idx >= 0")
      .head()
    assert(filtered.getLong(0) == 127L && filtered.getLong(1) == 128L)
    // zero-IO proof
    val victim = lake.currentSnapshot.get.files.head.path
    assert(new java.io.File(victim).delete(), s"could not delete $victim")
    assert(spark.sql(s"SELECT max(_lsn) FROM graft.`$dir`").head()
      .getLong(0) == 127L, "max read data files — pushdown did not happen")
  }

  test("tombstones refuse min/max (a dead row's value sits in the bounds)") {
    val (lake, dir) = seed("cnt-minmax-tomb", mor = false)
    // deletes landed: conv00/conv01 rows are tombstoned, so their _lsn
    // values (1000..1007) are in the files' zone bounds but NOT live —
    // pushdown must refuse and the real scan must exclude them
    val got = spark.sql(s"SELECT max(_lsn) FROM graft.`$dir`").head().getLong(0)
    val truth = lake.read().agg(max(col("_lsn"))).head().getLong(0)
    assert(got == truth, "max over a tombstoned table diverges")
    assert(got < 1000L || got >= 1100L,
      "a tombstoned row's lsn leaked into max")
  }

  test("merge-on-read: blind appends report unknown; count falls back") {
    val (lake, dir) = seed("cnt-mor", mor = true)
    assert(lake.currentSnapshot.get.liveRows == -1L,
      "a MoR append has no write-side audit — it must not claim a count")
    assert(countSql(dir) == lake.read().count())
    // folds carry the (unknown) count rather than inventing one
    CdcApply.foldBuckets(lake, (0 until 8).toSet)
    assert(lake.currentSnapshot.get.liveRows == -1L)
    assert(countSql(dir) == 124L)
  }

  test("WHERE blocks the pushdown; filtered counts stay exact") {
    val (lake, dir) = seed("cnt-where", mor = false)
    val truth = lake.read().filter(col("turn_idx") >= 2).count()
    assert(countSql(dir, " WHERE turn_idx >= 2") == truth)
  }

  test("change-feed-disabled commit: per-file live counts still answer") {
    val (lake, dir) = seed("cnt-nocf", mor = false, cf = false)
    assert(lake.currentSnapshot.get.liveRows == -1L,
      "a cf-disabled merge must not claim an audited count")
    val truth = lake.read().count()
    assert(countSql(dir) == truth)
    // the audit is poisoned but the per-FILE live counts (footer-derived
    // at write time) are exact on CoW — the count is still metadata-only
    val victim = lake.currentSnapshot.get.files.head.path
    assert(new java.io.File(victim).delete(), s"could not delete $victim")
    assert(countSql(dir) == truth,
      "cf-disabled count read data files — per-file sum did not happen")
  }

  test("DML and maintenance keep the audited count exact") {
    val (lake, dir) = seed("cnt-dml", mor = false)
    graft.sql.GraftDml.sql(lake, "DELETE FROM lake WHERE conv_id = 'conv05'")
    assert(lake.currentSnapshot.get.liveRows == 120L)
    assert(countSql(dir) == 120L)
    graft.lake.Compaction.compact(lake) // rewrite: live set unchanged
    assert(countSql(dir) == 120L)
  }

  test("time travel counts the pinned snapshot, not the head") {
    val (lake, dir) = seed("cnt-tt", mor = false)
    val firstId = lake.snapshots.map(_.snapshotId).min
    assert(countSql(dir, s" VERSION AS OF $firstId") == 128L,
      "time travel must answer from the pinned snapshot's own count")
    assert(countSql(dir) == 124L)
  }
}
