package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.scanOf
import graft.cdc.CdcApply
import graft.lake.LakeTable

/** Columnar V2 catalog reads on copy-on-write, gated on PROVABLY
  * tombstone-free kept files (exact per-file live counts): batches then
  * pass through zero-copy from the vectorized parquet reader, and the
  * scan doesn't even read `_tombstone`. A tombstone-sprinkled table stays
  * row-based — measured A/B showed the per-batch live-row compaction copy
  * running ~0.8x the row path, whose per-row work rides the same
  * vectorized decoder — and tombstone-GC compaction flips an aged table's
  * scans columnar. Results must equal the engine's own read path exactly
  * in every mode, and merge-on-read stays row-based (the per-bucket LWW
  * election is row-at-a-time). */
class ColumnarReadSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s
  }

  private def batch(rows: Seq[(String, Int, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "_lsn", "op")
      .withColumn("role",
        when(col("turn_idx") % 2 === 0, "user").otherwise("assistant"))
      .withColumn("text", concat(lit("t-"), col("_lsn")))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", to_timestamp(lit("2024-03-01T00:00:00")))
      .withColumn("_src_part", (col("_lsn") % 4).cast("int"))
      .withColumn("_src_off", col("_lsn"))
  }

  private def seed(name: String, mor: Boolean): (LakeTable, String) = {
    val dir = TestSpark.tmpDir(name)
    val lake = new LakeTable(spark, dir)
    val w1 = (0 until 24).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong, "U")))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = 8, mor = mor)
    // deletes land tombstones inside otherwise-live files
    val w2 = (0 until 3).flatMap(c =>
      (0 until 2).map(t => (f"conv$c%02d", t, (500 + c * 2 + t).toLong, "D")))
    CdcApply.apply(lake, batch(w2), epoch = 2, nBuckets = 8, mor = mor)
    (lake, dir)
  }

  test("tombstoned CoW stays row-based; tombstone-GC flips it columnar") {
    val (lake, dir) = seed("col-cow", mor = false)
    val sql = s"SELECT conv_id, turn_idx, role, text, ts FROM graft.`$dir`"
    val want = lake.read()
      .select("conv_id", "turn_idx", "role", "text", "ts")
      .collect().map(_.toString).sorted.toSeq

    // deletes sprinkled tombstones into the files: the scan must refuse
    // columnar (per-batch compaction copies measured slower than rows)
    val dirty = spark.sql(sql)
    assert(!scanOf(dirty).supportsColumnar,
      "a tombstone-sprinkled scan must stay row-based")
    assert(dirty.collect().map(_.toString).sorted.toSeq == want)

    // tombstone-GC compaction (source done => watermark above all lsns)
    // makes every file provably clean -> the same scan goes columnar and
    // no longer reads _tombstone at all
    graft.lake.Compaction.compact(lake, tombstoneWatermark = Long.MaxValue)
    val clean = spark.sql(sql)
    assert(scanOf(clean).supportsColumnar,
      "a provably tombstone-free scan must be columnar")
    val got = clean.collect().map(_.toString).sorted.toSeq
    assert(got == want, "columnar read diverges from the engine read")
    // tombstoned keys must be gone
    assert(!got.exists(_.startsWith("[conv00,0,")),
      "a tombstoned row leaked through the columnar path")
  }

  test("a delete-free table is columnar from birth; filters stay exact") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("col-clean")
    val lake = new LakeTable(spark, dir)
    val w = (0 until 24).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong, "U")))
    CdcApply.apply(lake, batch(w), epoch = 1, nBuckets = 8)
    val df = spark.sql(
      s"SELECT conv_id, turn_idx FROM graft.`$dir` WHERE role = 'user'")
    assert(scanOf(df).supportsColumnar,
      "an insert-only table's files are clean — scan must be columnar")
    val want = lake.read().filter(col("role") === "user").count()
    assert(df.count() == want)
  }

  test("tombstone-GC'd CoW with decimal and array columns reads columnar") {
    // the columnar path is a zero-copy passthrough: any column type the
    // vectorized parquet reader batches reads columnar
    val dir = TestSpark.tmpDir("col-types")
    val lake = new LakeTable(spark, dir)
    def typed(rows: Seq[(String, Int, Long, String)]): DataFrame =
      batch(rows)
        .withColumn("amount", (col("_lsn") / 100).cast("decimal(18,2)"))
        .withColumn("vec", array(col("_lsn").cast("double"), lit(0.5)))
    val w1 = (0 until 24).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong, "U")))
    CdcApply.apply(lake, typed(w1), epoch = 1, nBuckets = 8)
    val w2 = (0 until 3).map(c => (f"conv$c%02d", 0, (500 + c).toLong, "D"))
    CdcApply.apply(lake, typed(w2), epoch = 2, nBuckets = 8)
    graft.lake.Compaction.compact(lake, tombstoneWatermark = Long.MaxValue)

    val cols = Seq("conv_id", "turn_idx", "amount", "vec")
    val df = spark.sql(s"SELECT ${cols.mkString(", ")} FROM graft.`$dir`")
    assert(scanOf(df).supportsColumnar,
      "a provably tombstone-free scan must be columnar for any batch type")
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = lake.read().select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "columnar read of decimal/array columns diverges")
  }

  test("merge-on-read stays row-based (election is row-at-a-time)") {
    val (lake, dir) = seed("col-mor", mor = true)
    val df = spark.sql(
      s"SELECT conv_id, turn_idx, text FROM graft.`$dir`")
    assert(!scanOf(df).supportsColumnar,
      "MoR scan must not claim columnar support")
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = lake.read().select("conv_id", "turn_idx", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("columnar + runtime filtering + SPJ surfaces stay exact") {
    val (lake, dir) = seed("col-rtf", mor = false)
    import spark.implicits._
    val dimDir = TestSpark.tmpDir("col-rtf-dim")
    (0 until 24).map(c => (f"conv$c%02d", if (c % 7 == 0) 1 else 0))
      .toDF("conv_id", "pick").write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("col_dim")
    val df = spark.sql(
      s"""SELECT t.conv_id, t.turn_idx FROM graft.`$dir` t
         |JOIN col_dim d ON t.conv_id = d.conv_id WHERE d.pick = 1""".stripMargin)
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = lake.read()
      .join(spark.read.parquet(dimDir).filter(col("pick") === 1), "conv_id")
      .select("conv_id", "turn_idx")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // the runtime filter reached the scan with the dim's picked keys
    val values = scanOf(df).metrics("runtimeFilterValues").value
    assert(values == (0 until 24).count(_ % 7 == 0),
      s"runtime filter delivered $values values to the scan")
  }
}
