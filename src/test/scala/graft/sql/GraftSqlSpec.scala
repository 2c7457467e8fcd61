package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.CdcApply
import graft.lake.LakeTable
import graft.sources.{GraftInputPartition, GraftScan}

/** The SQL surface must be (a) semantically invisible — any query through
  * `GraftSql.table` equals the same query over `lake.read()` — and (b)
  * physically pruned: WHERE clauses on zone-mapped columns / the bucket key
  * reach the graft DSv2 scan as a SMALLER FILE LIST, and narrow SELECTs
  * reach it as a narrow read schema. Both halves asserted here, CoW and
  * MoR. */
class GraftSqlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def micros(s: String): Long =
    java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli * 1000L

  private def batch(rows: Seq[(String, Int, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "tstr", "_lsn")
      .withColumn("op", lit("U"))
      .withColumn("role", lit("user"))
      .withColumn("text", concat(lit("t-"), col("_lsn")))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", to_timestamp(col("tstr")))
      .drop("tstr")
      .withColumn("_src_part", (col("_lsn") % 4).cast("int"))
      .withColumn("_src_off", col("_lsn"))
  }

  /** W1 inserts 48 convs, W2 updates ONE conv — the CDC-natural zone shape:
    * only the touched bucket's files reach into W2. */
  private def seedLake(name: String, mor: Boolean): LakeTable = {
    val lake = new LakeTable(spark, TestSpark.tmpDir(name))
    val w1 = (0 until 48).flatMap { c =>
      (0 until 4).map(t =>
        (f"conv$c%02d", t, s"2024-01-0${1 + c % 5}T00:00:00", (c * 4 + t).toLong))
    }
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8, mor = mor)
    val w2 = (0 until 4).map(t =>
      ("conv03", t, "2024-02-01T00:00:00", (1000 + t).toLong))
    CdcApply.apply(lake, batch(w2), epoch = 2, nBuckets = 8, mor = mor)
    lake
  }

  /** Files the executed graft scan reads: every file of every
    * [[GraftInputPartition]] (one per surviving bucket). */
  private def filesScanned(df: DataFrame): Int =
    TestSpark.scanOf(df).inputPartitions
      .map(_.asInstanceOf[GraftInputPartition].files.length).sum

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("SQL over the relation equals the same query over read() — CoW") {
    val lake = seedLake("sql-cow", mor = false)
    GraftSql.table(spark, lake.root).createOrReplaceTempView("lake_cow")
    val viaSql = spark.sql(
      "SELECT conv_id, turn_idx, _lsn FROM lake_cow " +
      "WHERE ts >= TIMESTAMP'2024-02-01 00:00:00' ORDER BY conv_id, turn_idx")
    val direct = lake.read()
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
      .select("conv_id", "turn_idx", "_lsn").orderBy("conv_id", "turn_idx")
    assert(rowsOf(viaSql) == rowsOf(direct))
    assert(viaSql.count() == 4)
  }

  test("zone-map range pruning reaches the parquet file list") {
    val lake = seedLake("sql-prune", mor = false)
    val total = lake.currentSnapshot.get.totalFiles
    val df = GraftSql.table(spark, lake.root)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    val n = filesScanned(df)
    assert(n < total, s"expected pruning: $n vs total $total")
    assert(df.count() == 4)
    // disjoint window prunes everything
    val none = GraftSql.table(spark, lake.root)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
    assert(none.count() == 0)
    assert(filesScanned(none) == 0)
  }

  test("bucket-key equality prunes to the key's bucket — CoW and MoR") {
    for (mor <- Seq(false, true)) {
      val lake = seedLake(s"sql-key-$mor", mor = mor)
      val total = lake.currentSnapshot.get.totalFiles
      val df = GraftSql.table(spark, lake.root).filter(col("conv_id") === "conv07")
      assert(filesScanned(df) < total,
        s"key pruning (mor=$mor): ${filesScanned(df)} vs $total")
      val expect = lake.lookup("conv07")
        .select("conv_id", "turn_idx", "_lsn")
      assert(rowsOf(df.select("conv_id", "turn_idx", "_lsn")) == rowsOf(expect))
      assert(df.count() == 4)
    }
  }

  test("string equality on a non-key column prunes files; MoR stays" +
      " chain-safe") {
    import spark.implicits._
    def b(rows: Seq[(String, Int, String, Long)]): DataFrame =
      rows.toDF("conv_id", "turn_idx", "role", "_lsn")
        .withColumn("op", lit("U"))
        .withColumn("text", concat(lit("t-"), col("_lsn")))
        .withColumn("_src_part", (col("_lsn") % 4).cast("int"))
        .withColumn("_src_off", col("_lsn"))
    for (mor <- Seq(false, true)) {
      val lake = new LakeTable(spark, TestSpark.tmpDir(s"sql-memb-$mor"))
      // only conv03's rows carry role='tool'; every other bucket's files
      // hold a single-value dictionary that PROVES 'tool' absent
      val w1 = (0 until 48).flatMap { c =>
        (0 until 4).map(t => (f"conv$c%02d", t,
          if (c == 3) "tool" else "user", (c * 4 + t).toLong))
      }
      CdcApply.apply(lake, b(w1), epoch = 1, nBuckets = 8, mor = mor)
      // a NEWER version of conv03 turn 0 WITHOUT the probed value — on MoR
      // a per-file prune would drop this delta and elect the stale 'tool'
      // row; chain granularity must keep the whole chain instead
      CdcApply.apply(lake, b(Seq(("conv03", 0, "user", 1000L))),
        epoch = 2, nBuckets = 8, mor = mor)

      val df = GraftSql.table(spark, lake.root).filter(col("role") === "tool")
      assert(rowsOf(df) == rowsOf(lake.read().filter(col("role") === "tool")),
        s"mor=$mor")
      assert(!df.filter(col("conv_id") === "conv03").select("turn_idx")
        .collect().map(_.getInt(0)).contains(0),
        s"mor=$mor: updated-away version resurfaced through pruning")
      val total = lake.currentSnapshot.get.files.size
      val n = filesScanned(df)
      assert(n < total, s"mor=$mor membership pruning: $n of $total files")
    }
  }

  test("MoR: LWW election stays above the residual filter") {
    val lake = seedLake("sql-mor", mor = true)
    GraftSql.table(spark, lake.root).createOrReplaceTempView("lake_mor")
    // conv03 was updated in W2: a W1-window query must NOT resurrect its
    // stale W1 versions (the winners are in W2, outside the window)
    val w1 = spark.sql(
      "SELECT conv_id FROM lake_mor WHERE ts < TIMESTAMP'2024-01-31 00:00:00'")
    assert(!w1.collect().map(_.getString(0)).contains("conv03"))
    assert(w1.count() == 47 * 4)
    // and the full scan equals read()
    val all = spark.sql("SELECT conv_id, turn_idx, _lsn FROM lake_mor")
    assert(rowsOf(all) == rowsOf(lake.read().select("conv_id", "turn_idx", "_lsn")))
  }

  test("narrow SELECT reads a narrow parquet schema") {
    val lake = seedLake("sql-cols", mor = false)
    val df = GraftSql.table(spark, lake.root).select("conv_id")
    val scan = TestSpark.scanOf(df).scan.asInstanceOf[GraftScan]
    assert(scan.readSchema().fieldNames.toSeq == Seq("conv_id"))
    // _tombstone may be read too — the liveness filter needs it unless
    // every kept file is provably tombstone-free; everything else (role,
    // text, tool, ts, _lsn, turn_idx) must be pruned away
    assert(scan.readStruct.fieldNames.toSet - "_tombstone" == Set("conv_id"),
      s"read schema: ${scan.readStruct.fieldNames.toSeq}")
  }

  test("column contract: snapshot schema minus _tombstone, in order," +
      " without field-id or metadata-column metadata") {
    val lake = seedLake("sql-schema", mor = false)
    val snap = lake.currentSnapshot.get
    // the snapshot's columns carry field ids — the frame must strip them
    assert(snap.schema.fields.exists(graft.model.Schemas.fieldId(_).isDefined))
    val want = snap.schema.fields.toSeq.filterNot(_.name == "_tombstone")
      .map(f => (f.name, f.dataType))
    assert(Seq("_lsn", "_src_part", "_src_off").forall(want.map(_._1).contains))
    for (df <- Seq(GraftSql.table(spark, lake.root),
                   GraftSql.table(spark, lake.root,
                     asOf = lake.snapshots.head.snapshotId))) {
      val got = df.schema
      assert(got.fields.toSeq.map(f => (f.name, f.dataType)) == want)
      assert(got.fields.forall(_.metadata == Metadata.empty),
        got.fields.map(f => s"${f.name}: ${f.metadata.json}").mkString("; "))
    }
  }

  test("_lsn range prunes files and equals read()") {
    val lake = seedLake("sql-lsn", mor = false)
    val total = lake.currentSnapshot.get.totalFiles
    val df = GraftSql.table(spark, lake.root).filter(col("_lsn") >= 1000)
      .select("conv_id", "turn_idx", "_lsn")
    val n = filesScanned(df)
    assert(n < total, s"expected _lsn pruning: $n vs total $total")
    assert(rowsOf(df) == rowsOf(lake.read().filter(col("_lsn") >= 1000)
      .select("conv_id", "turn_idx", "_lsn")))
    assert(df.count() == 4)
  }

  test("TIMESTAMP_NTZ ranges prune by zone map — GraftSql and the catalog") {
    val lake = new LakeTable(spark, TestSpark.tmpDir("sql-ntz"))
    def ntzBatch(rows: Seq[(String, Int, String, Long)]): DataFrame =
      batch(rows).withColumn("at", col("ts").cast("timestamp_ntz"))
    val w1 = (0 until 48).flatMap { c =>
      (0 until 4).map(t =>
        (f"conv$c%02d", t, s"2024-01-0${1 + c % 5}T00:00:00", (c * 4 + t).toLong))
    }
    CdcApply.apply(lake, ntzBatch(w1), epoch = 1, nBuckets = 8)
    CdcApply.apply(lake, ntzBatch((0 until 4).map(t =>
      ("conv03", t, "2024-02-01T00:00:00", (1000 + t).toLong))),
      epoch = 2, nBuckets = 8)
    val snap = lake.currentSnapshot.get
    assert(snap.schema("at").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val lo = java.time.LocalDateTime.parse("2024-01-31T12:00:00")
    val expect = rowsOf(lake.read().filter(col("at") >= lit(lo))
      .select("conv_id", "turn_idx", "_lsn"))
    assert(expect.size == 4)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    for (df <- Seq(
        GraftSql.table(spark, lake.root).filter(col("at") >= lit(lo))
          .select("conv_id", "turn_idx", "_lsn"),
        spark.sql(s"SELECT conv_id, turn_idx, _lsn FROM graft.`${lake.root}`" +
          " WHERE at >= TIMESTAMP_NTZ'2024-01-31 12:00:00'"))) {
      val n = filesScanned(df)
      assert(n < snap.totalFiles, s"NTZ pruning: $n vs total ${snap.totalFiles}")
      assert(rowsOf(df) == expect)
    }
  }

  test("file accounting of a two-lake join counts every registered lake") {
    val a = seedLake("sql-fa", mor = false)
    val b = seedLake("sql-fb", mor = false)
    val ta = GraftSql.table(spark, a.root)
    val tb = GraftSql.table(spark, b.root)
    ta.createOrReplaceTempView("fa")
    tb.createOrReplaceTempView("fb")
    val q = spark.sql(
      """SELECT count(*) AS n FROM fa JOIN fb
        |ON fa.conv_id = fb.conv_id AND fa.turn_idx = fb.turn_idx
        |WHERE fb._lsn >= 1000""".stripMargin)
    assert(q.head().getLong(0) == 4)
    val (scanned, total) = GraftSql.fileCounts(q, Seq(ta, tb))
    assert(total == a.currentSnapshot.get.totalFiles +
      b.currentSnapshot.get.totalFiles)
    assert(scanned > 0 && scanned < total, s"$scanned of $total")
    assert(GraftSql.snapshotOf(tb).map(_.snapshotId) ==
      b.currentSnapshot.map(_.snapshotId))
  }

  test("time travel: asOf pins the pre-update snapshot") {
    val lake = seedLake("sql-asof", mor = false)
    val first = lake.snapshots.head.snapshotId
    val old = GraftSql.table(spark, lake.root, asOf = first)
      .filter(col("conv_id") === "conv03").select("_lsn")
    assert(old.collect().map(_.getLong(0)).toSet == Set(12L, 13L, 14L, 15L))
    val now = GraftSql.table(spark, lake.root)
      .filter(col("conv_id") === "conv03").select("_lsn")
    assert(now.collect().map(_.getLong(0)).toSet == Set(1000L, 1001L, 1002L, 1003L))
  }

  test("range conjunction intersects prunes; aggregates work through views") {
    val lake = seedLake("sql-conj", mor = false)
    GraftSql.table(spark, lake.root).createOrReplaceTempView("lake_conj")
    val df = spark.sql(
      "SELECT count(*) AS n FROM lake_conj " +
      "WHERE ts >= TIMESTAMP'2024-02-01 00:00:00' AND _lsn >= 1002")
    assert(df.collect().head.getLong(0) == 2)
    val direct = lake.read()
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")) &&
        col("_lsn") >= 1002)
    assert(direct.count() == 2)
  }

  test("metadata tables mirror the snapshot's bookkeeping and join with" +
      " the data") {
    val lake = seedLake("sql-meta", mor = false)
    lake.tag("pin")
    val meta = GraftSql.metadataTables(spark, lake.root)
    val snap = lake.currentSnapshot.get
    assert(meta("files").count() == snap.totalFiles)
    assert(meta("files").agg(org.apache.spark.sql.functions.sum("rows"))
      .head().getLong(0) == snap.totalRows)
    assert(meta("snapshots").count() == lake.snapshots.size)
    assert(meta("snapshots").filter(col("snapshot_id") === snap.snapshotId)
      .select("epoch").head().getLong(0) == snap.epoch)
    assert(meta("lineage").count() == snap.lineage.size)
    assert(meta("tags").filter(col("name") === "pin").count() == 1)
    assert(meta("branches").isEmpty)
    // operational join: per-bucket live rows vs manifest-declared rows
    GraftSql.table(spark, lake.root).createOrReplaceTempView("mlake")
    meta("files").createOrReplaceTempView("mfiles")
    val joined = spark.sql(
      """SELECT f.bucket, f.declared, count(l.conv_id) AS live
        |FROM (SELECT bucket, sum(rows) AS declared FROM mfiles GROUP BY bucket) f
        |LEFT JOIN mlake l ON pmod(xxhash64(l.conv_id), 8) = f.bucket
        |GROUP BY f.bucket, f.declared""".stripMargin)
    // declared >= live everywhere (declared counts tombstones too)
    assert(joined.collect().forall(r => r.getLong(1) >= r.getLong(2)))
  }

  test("cross-lake joins: two lakes registered in one query") {
    val a = seedLake("sql-xa", mor = false)
    val b = seedLake("sql-xb", mor = false)
    GraftSql.table(spark, a.root).createOrReplaceTempView("xa")
    GraftSql.table(spark, b.root).createOrReplaceTempView("xb")
    val n = spark.sql(
      """SELECT count(*) AS n FROM xa JOIN xb
        |ON xa.conv_id = xb.conv_id AND xa.turn_idx = xb.turn_idx""".stripMargin)
      .head().getLong(0)
    assert(n == a.read().count()) // same seed -> full match
  }
}
