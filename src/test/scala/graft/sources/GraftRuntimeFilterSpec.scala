package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.CdcApply
import graft.lake.LakeTable
import graft.model.Schemas.KeySpec

/** Runtime (join-driven) filtering — the V2 twin of dynamic partition
  * pruning. A selective dimension joined on the bucket-key column(s) must
  * prune the fact lake's input partitions AT EXECUTION time: Spark ships
  * the build side's distinct keys to [[GraftScan.filter]], the scan hashes
  * them to buckets (the exact write-path shard function — for multi-column
  * bucket keys, over the cross product of the per-column IN-sets) and drops
  * every untouched bucket, then bloom/dictionary evidence drops files
  * inside survivors (whole chains on MoR). Results must equal the
  * unfiltered join exactly — pruning is IO-only, never semantics. The
  * pruning facts are read from the executed scan node's SQL metrics. */
class GraftRuntimeFilterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s
  }

  private val nBuckets = 16
  private val nConvs = 64

  private def batch(rows: Seq[(String, Int, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "_lsn")
      .withColumn("op", lit("U"))
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
    val w1 = (0 until nConvs).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong)))
    CdcApply.apply(lake, batch(w1), epoch = 1, nBuckets = nBuckets, mor = mor)
    val w2 = (0 until 8).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (1000 + c * 4 + t).toLong)))
    CdcApply.apply(lake, batch(w2), epoch = 2, nBuckets = nBuckets, mor = mor)
    (lake, dir)
  }

  /** Small parquet-backed dimension (a LocalRelation would have its
    * selective filter constant-folded away before the PartitionPruning
    * rule runs, so no runtime filter would ever be planned). The flag is
    * an INT compared with `= 1` — a boolean `= true` simplifies to a bare
    * attribute, which Spark's isLikelySelective rejects, and no dynamic
    * pruning gets planned at all. */
  private def dimView(name: String, picked: Seq[String]): Unit = {
    import spark.implicits._
    val dir = TestSpark.tmpDir(s"$name-dim")
    val pickedSet = picked.toSet
    (0 until nConvs).map { c =>
      val id = f"conv$c%02d"; (id, if (pickedSet.contains(id)) 1 else 0)
    }.toDF("conv_id", "pick")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(name)
  }

  /** The executed fact scan's runtime-filter metrics, keyed without the
    * `runtimeFilter` prefix. All zero unless Spark invoked
    * [[GraftScan.filter]], which it does only when a planned runtime filter
    * reaches the scan. */
  private def rtfMetrics(df: DataFrame): Map[String, Long] =
    TestSpark.scanOf(df).metrics.collect {
      case (k, m) if k.startsWith("runtimeFilter") =>
        k.stripPrefix("runtimeFilter") -> m.value
    }

  private def joinSql(dir: String, dim: String): String =
    s"""SELECT t.conv_id, t.turn_idx, t.text
       |FROM graft.`$dir` t JOIN $dim d ON t.conv_id = d.conv_id
       |WHERE d.pick = 1""".stripMargin

  for (mor <- Seq(false, true)) {
    test(s"selective dim join prunes fact buckets at execution (mor=$mor)") {
      val (lake, dir) = seed(s"rtf-$mor", mor)
      val picked = Seq("conv01", "conv05", "conv42")
      dimView(s"rtf_dim_$mor", picked)

      // oracle: plain lake read joined without any catalog machinery
      val expected = lake.read()
        .filter(col("conv_id").isin(picked: _*))
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .collect().map(_.toString).sorted

      val df = spark.sql(joinSql(dir, s"rtf_dim_$mor"))
      val got = df.collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq, "runtime-filtered join diverges")

      // the metrics are only set by GraftScan.filter, which Spark invokes
      // exclusively when a planned runtime filter reaches the scan — the
      // delivered values prove DPP planned AND executed
      val rep = rtfMetrics(df)
      assert(rep("Columns") > 0,
        "scan.filter() was never invoked — no runtime filter planned")
      // filter() only admits bucket columns: the one bucket column here
      assert(rep("Columns") == 1 && rep("Values") == picked.size)
      // exact bucket arithmetic: only the picked conversations' buckets open
      val wantBuckets = picked
        .map(v => LakeTable.bucketOfValues(Seq(v), nBuckets)).toSet
      assert(rep("BucketsAfter") <= wantBuckets.size,
        s"kept ${rep("BucketsAfter")} buckets, picked keys live in " +
        s"${wantBuckets.size}")
      assert(rep("BucketsAfter") < rep("BucketsBefore") &&
        rep("BucketsBefore") >= 12,
        s"no real pruning: ${rep("BucketsBefore")} -> ${rep("BucketsAfter")}")
      assert(rep("FilesAfter") < rep("FilesBefore"),
        s"file count did not shrink: ${rep("FilesBefore")} -> " +
        s"${rep("FilesAfter")}")
    }
  }

  test("runtime filter values beyond the probe cap still prune buckets") {
    val (lake, dir) = seed("rtf-cap", mor = false)
    // every conversation picked: bucket set covers everything, the filter
    // becomes a no-op prune — results must still be exact
    dimView("rtf_dim_all", (0 until nConvs).map(c => f"conv$c%02d"))
    val df = spark.sql(joinSql(dir, "rtf_dim_all"))
    val got = df.collect().map(_.toString).sorted
    val expected = lake.read()
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .collect().map(_.toString).sorted
    assert(got.toSeq == expected.toSeq)
    // zero on both sides when no runtime filter ran
    val rep = rtfMetrics(df)
    assert(rep("BucketsAfter") == rep("BucketsBefore"),
      "all keys picked: every bucket must survive")
  }

  /** Multi-column bucket key (the reference's enrolment shape,
    * user-org test.cql:3-17): a join on BOTH bucket columns addresses
    * buckets through the cross product of the per-column IN-sets — a
    * superset of the true tuple set, so pruning stays safe while the
    * picked pairs' buckets are guaranteed kept. */
  test("multi-column bucket key: join on all columns prunes buckets") {
    import spark.implicits._
    val nB = 16
    val dir = TestSpark.tmpDir("rtf-multi")
    val lake = new LakeTable(spark, dir)
    val keys = KeySpec(Seq("userid", "courseid"),
      Seq("userid", "courseid", "batchid"))
    val ev = (0 until 48).flatMap { u =>
      (0 until 4).map { c =>
        (f"user$u%02d", f"course$c", s"batch${c % 2}",
         (u * 4 + c).toLong, u * 10 + c)
      }
    }.toDF("userid", "courseid", "batchid", "_lsn", "progress")
      .withColumn("op", lit("U"))
      .withColumn("_src_part", lit(0))
      .withColumn("_src_off", col("_lsn"))
    CdcApply.apply(lake, ev, epoch = 1, nBuckets = nB, keys = keys)

    // parquet-backed dim of (userid, courseid) pairs, selectively flagged
    val dimDir = TestSpark.tmpDir("rtf-multi-dim")
    val picked = Set(("user03", "course1"), ("user17", "course2"))
    (0 until 48).flatMap { u => (0 until 4).map { c =>
      val id = (f"user$u%02d", f"course$c")
      (id._1, id._2, if (picked.contains(id)) 1 else 0)
    }}.toDF("userid", "courseid", "pick")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("rtf_multi_dim")

    val expected = lake.read()
      .join(spark.read.parquet(dimDir).filter(col("pick") === 1)
              .select("userid", "courseid"),
            Seq("userid", "courseid"))
      .select("userid", "courseid", "batchid", "progress")
      .collect().map(_.toString).sorted

    val df = spark.sql(
      s"""SELECT t.userid, t.courseid, t.batchid, t.progress
         |FROM graft.`$dir` t JOIN rtf_multi_dim d
         |  ON t.userid = d.userid AND t.courseid = d.courseid
         |WHERE d.pick = 1""".stripMargin)
    val got = df.collect().map(_.toString).sorted
    assert(got.toSeq == expected.toSeq, "multi-column runtime join diverges")

    val rep = rtfMetrics(df)
    assert(rep("Columns") > 0,
      "scan.filter() was never invoked — no runtime filter planned")
    // filter() only admits bucket columns: both of them must be filtered
    assert(rep("Columns") == keys.bucketCols.size,
      s"both bucket columns must be runtime-filtered, got ${rep("Columns")}")
    // cross product of 2 userids x 2 courseids = 4 tuples -> at most 4
    // buckets survive (the 2 true pairs' buckets are among them)
    assert(rep("BucketsAfter") <= 4 &&
      rep("BucketsAfter") < rep("BucketsBefore"),
      s"no real pruning: ${rep("BucketsBefore")} -> ${rep("BucketsAfter")}")
    picked.foreach { case (u, c) =>
      assert(got.exists(_.contains(u)), s"picked pair ($u,$c) lost")
    }
  }

  /** The cross-product size saturates before it multiplies: three IN-sets
    * of 2^21 values would wrap a plain product to Long.MinValue, pass the
    * cap check and materialize 2^63 tuples on the driver. */
  test("bucket-tuple count saturates instead of overflowing past the cap") {
    val cap = GraftScan.MaxBucketTuples
    assert(GraftScan.bucketTupleCount(Seq(2, 3, 4)) == 24)
    assert(GraftScan.bucketTupleCount(Seq(cap)) == cap)
    assert(GraftScan.bucketTupleCount(Seq(cap, 2)) > cap)
    val huge = GraftScan.bucketTupleCount(Seq(1 << 21, 1 << 21, 1 << 21))
    assert(huge > cap, s"3 x 2^21 values must exceed the cap, got $huge")
  }
}
