package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.CdcApply
import graft.lake.LakeTable

/** SQL DML (DELETE/UPDATE … WHERE) through the epoch-fenced maintenance
  * merge: semantics (tombstones that fence re-delivery, full-image updates,
  * additive SET of a new column), physics (untouched buckets carried by
  * path), and the admin-op contract (epoch kept — the source feed is never
  * fenced; time travel sees the pre-DML state; concurrent source commits
  * retry, not lose). */
class GraftDmlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def batch(rows: Seq[(String, Int, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "_lsn")
      .withColumn("op", lit("U"))
      .withColumn("role", lit("user"))
      .withColumn("text", concat(lit("t-"), col("_lsn")))
      .withColumn("_src_part", (col("_lsn") % 4).cast("int"))
      .withColumn("_src_off", col("_lsn"))
  }

  /** 24 convs x 4 turns. */
  private def seed(name: String, mor: Boolean = false): LakeTable = {
    val lake = new LakeTable(spark, TestSpark.tmpDir(name))
    val rows = (0 until 24).flatMap { c =>
      (0 until 4).map(t => (f"conv$c%02d", t, (c * 4 + t).toLong))
    }
    CdcApply.apply(lake, batch(rows), epoch = 1, nBuckets = 8, mor = mor)
    lake
  }

  private def keysOf(df: DataFrame): Set[(String, Int)] =
    df.select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  test("DELETE: matched rows tombstoned, untouched buckets carried by path," +
      " epoch kept, time travel intact") {
    val lake = seed("dml-del")
    val pre = lake.currentSnapshot.get
    val preKeys = keysOf(lake.read())

    val st = GraftDml.sql(lake,
      "DELETE FROM lake WHERE conv_id = 'conv03' OR conv_id = 'conv07'")
    assert(!st.skipped && st.rowsIn == 8)
    assert(st.actions.getOrElse("deleted", 0L) == 8)

    val post = lake.currentSnapshot.get
    assert(post.epoch == pre.epoch, "DML must not consume source-epoch space")
    assert(keysOf(lake.read()) ==
      preKeys.filterNot(k => k._1 == "conv03" || k._1 == "conv07"))
    assert(lake.lookup("conv03").isEmpty)

    // copy-on-write physics: only the matched conversations' buckets rewrote
    val touched = Set("conv03", "conv07")
      .map(LakeTable.bucketOfValue(_, pre.nBuckets))
    val preRefs = pre.manifests.map(r => r.bucket -> r.path).toMap
    post.manifests.foreach { r =>
      if (touched.contains(r.bucket)) assert(r.path != preRefs(r.bucket))
      else assert(r.path == preRefs(r.bucket),
        s"untouched bucket ${r.bucket} must carry its manifest by path")
    }

    // time travel: the pre-DML snapshot still shows the rows
    assert(keysOf(lake.readAt(pre.snapshotId)) == preKeys)

    // the feed continues: next source epoch applies normally
    CdcApply.apply(lake, batch(Seq(("conv90", 0, 500L))), epoch = 2,
      nBuckets = 8)
    assert(keysOf(lake.read()).contains(("conv90", 0)))
  }

  test("DELETE tombstones fence a late re-delivery of older images") {
    val lake = seed("dml-del-fence")
    GraftDml.delete(lake, "conv_id = 'conv05'")
    // at-least-once: the original (pre-delete) images show up again in a
    // later batch at a higher epoch — their lsns are below the tombstones'
    val redeliver = batch((0 until 4).map(t => ("conv05", t, (5 * 4 + t).toLong)))
    CdcApply.apply(lake, redeliver, epoch = 2, nBuckets = 8)
    assert(lake.lookup("conv05").isEmpty,
      "a DML delete must not be undone by re-delivered older images")
  }

  test("UPDATE: full-image rewrite of matched winners; parser handles" +
      " commas and keywords inside literals") {
    val lake = seed("dml-upd")
    val expect = lake.read()
      .withColumn("role",
        when(col("turn_idx") >= 2, upper(col("role"))).otherwise(col("role")))
      .withColumn("text",
        when(col("turn_idx") >= 2, concat(col("text"), lit(", where x")))
          .otherwise(col("text")))
      .select("conv_id", "turn_idx", "role", "text")
      .collect().map(_.toString).toSet

    val st = GraftDml.sql(lake,
      "UPDATE lake SET role = upper(role), " +
      "text = concat(text, ', where x') WHERE turn_idx >= 2")
    assert(st.rowsIn == 24 * 2)
    assert(st.actions.getOrElse("updated", 0L) == 48)
    val got = lake.read().select("conv_id", "turn_idx", "role", "text")
      .collect().map(_.toString).toSet
    assert(got == expect)
  }

  test("UPDATE SET of a new column is additive schema evolution") {
    val lake = seed("dml-upd-new")
    GraftDml.sql(lake,
      "UPDATE lake SET flagged = 'pii' WHERE conv_id = 'conv01'")
    val df = lake.read()
    assert(df.columns.contains("flagged"))
    val byConv = df.select("conv_id", "flagged").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(byConv("conv01") == Some("pii"))
    assert(byConv("conv02").isEmpty, "unmatched rows must read null")
  }

  test("MoR table: DELETE/UPDATE append deltas; parent chain carried") {
    val lake = seed("dml-mor", mor = true)
    val pre = lake.currentSnapshot.get
    GraftDml.delete(lake, "conv_id = 'conv04'")
    GraftDml.update(lake, Seq("role" -> "'admin'"), "conv_id = 'conv06'")
    val post = lake.currentSnapshot.get
    // appends: every parent manifest is still referenced
    val postPaths = post.manifests.map(_.path).toSet
    assert(pre.manifests.forall(r => postPaths.contains(r.path)))
    assert(lake.lookup("conv04").isEmpty)
    assert(lake.lookup("conv06").select("role").collect()
      .forall(_.getString(0) == "admin"))
    assert(lake.read().count() == 23 * 4)
  }

  test("no-op DML: zero matched rows commits nothing") {
    val lake = seed("dml-noop")
    val pre = lake.currentSnapshot.get.snapshotId
    val st = GraftDml.delete(lake, "conv_id = 'no-such-conv'")
    assert(st.skipped && st.rowsIn == 0)
    assert(lake.currentSnapshot.get.snapshotId == pre)
  }

  test("refusals: key/internal SET, missing WHERE, unsupported statement") {
    val lake = seed("dml-refuse")
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake, "UPDATE lake SET conv_id = 'x' WHERE true")
    }
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake, "UPDATE lake SET _lsn = 0 WHERE true")
    }
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake, "DELETE FROM lake")
    }
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake, "INSERT INTO lake VALUES (1)")
    }
  }

  test("INSERT INTO VALUES: new keys land, existing keys upsert, epoch kept") {
    val lake = seed("dml-ins")
    val pre = lake.currentSnapshot.get
    val st = GraftDml.sql(lake,
      "INSERT INTO lake (conv_id, turn_idx, role, text) VALUES " +
      "('convNEW', 0, 'admin', 'hello'), " + // brand-new key
      "('conv02', 1, 'admin', 'fixed')")     // existing key: upsert wins
    assert(!st.skipped && st.rowsIn == 2)
    assert(lake.currentSnapshot.get.epoch == pre.epoch,
      "INSERT must not consume source-epoch space")
    val niu = lake.lookup("convNEW").head()
    assert(niu.getAs[String]("role") == "admin")
    val upd = lake.lookup("conv02").filter(col("turn_idx") === 1).head()
    assert(upd.getAs[String]("text") == "fixed",
      "INSERT on an existing key is an upsert (the admin write wins)")
    // the synthesized lsn fences re-delivery of the old image
    CdcApply.apply(lake, batch(Seq(("conv02", 1, 9L))), epoch = 2, nBuckets = 8)
    assert(lake.lookup("conv02").filter(col("turn_idx") === 1).head()
      .getAs[String]("text") == "fixed")
  }

  test("INSERT INTO SELECT reads a registered view") {
    val lake = seed("dml-ins-sel")
    lake.read().filter(col("conv_id") === "conv01")
      .select(concat(lit("copy-"), col("conv_id")).as("conv_id"),
        col("turn_idx"), col("role"), col("text"))
      .createOrReplaceTempView("to_copy")
    val st = GraftDml.sql(lake, "INSERT INTO lake SELECT * FROM to_copy")
    assert(st.rowsIn == 4)
    assert(lake.lookup("copy-conv01").count() == 4)
  }

  test("MERGE INTO: matched UPDATE SET + not-matched INSERT *") {
    val lake = seed("dml-merge")
    val pre = lake.currentSnapshot.get
    import spark.implicits._
    // source: two existing keys + one new key
    Seq(("conv01", 0, "patched-a"), ("conv02", 3, "patched-b"),
      ("convX", 7, "fresh"))
      .toDF("conv_id", "turn_idx", "text")
      .createOrReplaceTempView("fixes")
    val st = GraftDml.sql(lake,
      "MERGE INTO lake AS t USING fixes AS s " +
      "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
      "WHEN MATCHED THEN UPDATE SET text = s.text " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(!st.skipped && st.rowsIn == 3)
    assert(lake.currentSnapshot.get.epoch == pre.epoch)
    assert(lake.lookup("conv01").filter(col("turn_idx") === 0).head()
      .getAs[String]("text") == "patched-a")
    assert(lake.lookup("conv02").filter(col("turn_idx") === 3).head()
      .getAs[String]("text") == "patched-b")
    val fresh = lake.lookup("convX").head()
    assert(fresh.getAs[String]("text") == "fresh")
    assert(fresh.getAs[String]("role") == null,
      "INSERT * null-fills table columns the source lacks")
    // matched rows keep unassigned columns
    assert(lake.lookup("conv01").filter(col("turn_idx") === 0).head()
      .getAs[String]("role") == "user")
  }

  test("MERGE INTO: matched DELETE; subquery source") {
    val lake = seed("dml-merge-del")
    val st = GraftDml.sql(lake,
      "MERGE INTO lake AS t USING " +
      "(SELECT 'conv03' AS conv_id, 0 AS turn_idx UNION ALL " +
      " SELECT 'conv03', 1 UNION ALL SELECT 'convZZ', 0) AS s " +
      "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
      "WHEN MATCHED THEN DELETE")
    assert(st.rowsIn == 2, "only the matched keys delete")
    assert(lake.lookup("conv03").count() == 2) // turns 2,3 remain
    // the tombstones fence re-delivery
    CdcApply.apply(lake, batch(Seq(("conv03", 0, 12L))), epoch = 2, nBuckets = 8)
    assert(lake.lookup("conv03").count() == 2)
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE DELETE syncs table to source") {
    val lake = seed("dml-merge-bysrc")
    import spark.implicits._
    // source = the desired final population: conv00/conv01 (all turns) + one
    // new key; everything else must go
    val keep = (0 until 2).flatMap(c =>
      (0 until 4).map(t => (f"conv$c%02d", t, s"sync-$c-$t")))
    (keep :+ (("convN", 0, "new")))
      .toDF("conv_id", "turn_idx", "text")
      .createOrReplaceTempView("sync_src")
    val st = GraftDml.sql(lake,
      "MERGE INTO lake AS t USING sync_src AS s " +
      "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
      "WHEN MATCHED THEN UPDATE SET text = s.text " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    // 8 matched updates + 1 insert + 88 source-absent deletes
    assert(!st.skipped && st.rowsIn == 97)
    assert(st.actions.getOrElse("deleted", 0L) == 88)
    val rows = lake.read()
    assert(rows.count() == 9)
    assert(keysOf(rows) ==
      (keep.map(k => (k._1, k._2)).toSet + (("convN", 0))))
    assert(rows.filter(col("conv_id") === "conv00" && col("turn_idx") === 1)
      .head().getAs[String]("text") == "sync-0-1")
    assert(lake.lookup("conv05").isEmpty, "source-absent rows must delete")
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE UPDATE SET flags stale rows only") {
    val lake = seed("dml-merge-bysrc-upd")
    import spark.implicits._
    Seq(("conv00", 0)).toDF("conv_id", "turn_idx")
      .createOrReplaceTempView("still_live")
    val st = GraftDml.sql(lake,
      "MERGE INTO lake AS t USING still_live AS s " +
      "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET role = 'stale'")
    assert(st.rowsIn == 95)
    val rows = lake.read()
    assert(rows.count() == 96, "the UPDATE leg must not delete anything")
    assert(rows.filter(col("role") === "stale").count() == 95)
    assert(rows.filter(col("conv_id") === "conv00" && col("turn_idx") === 0)
      .head().getAs[String]("role") == "user",
      "the one source-matched row keeps its image")
  }

  test("MERGE BY SOURCE UPDATE: SET must resolve on the target alone") {
    val lake = seed("dml-merge-bysrc-guard")
    import spark.implicits._
    Seq(("conv00", 0, "x")).toDF("conv_id", "turn_idx", "text")
      .createOrReplaceTempView("guard_src")
    val merge = "MERGE INTO lake AS t USING guard_src AS s " +
      "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
    // a backtick-quoted alias still names a source column
    val e = intercept[IllegalArgumentException] {
      GraftDml.sql(lake, merge + "text = `s`.text")
    }
    assert(e.getMessage.contains("must resolve against t alone"))
    assert(e.getMessage.contains("UNRESOLVED_COLUMN"))
    assert(lake.read().filter(col("text").isNull).count() == 0)
    // any other analysis error keeps its own cause in the message
    val fn = intercept[IllegalArgumentException] {
      GraftDml.sql(lake, merge + "text = upperr(t.text)")
    }
    assert(fn.getMessage.contains("UNRESOLVED_ROUTINE"))
    // a double-quoted string that contains the alias is a literal
    val st = GraftDml.sql(lake, merge + "role = \"s.stale\"")
    assert(st.rowsIn == 95)
    assert(lake.read().filter(col("role") === "s.stale").count() == 95)
  }

  test("MERGE refusals: non-key ON, missing alias, key SET") {
    val lake = seed("dml-merge-refuse")
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake,
        "MERGE INTO lake AS t USING fixes AS s ON t.conv_id = s.conv_id " +
        "WHEN MATCHED THEN DELETE") // turn_idx not covered
    }
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake,
        "MERGE INTO lake AS t USING fixes AS s " +
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
        "WHEN MATCHED THEN UPDATE SET conv_id = s.conv_id")
    }
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake,
        "MERGE INTO lake AS t USING (SELECT 1) ON t.conv_id = s.conv_id " +
        "WHEN MATCHED THEN DELETE") // subquery without alias
    }
    // BY SOURCE UPDATE referencing the source alias: source columns are all
    // NULL on that leg (full-outer anti side) — SET text = s.text would
    // silently null the column; standard MERGE dialects reject it, so do we
    intercept[IllegalArgumentException] {
      GraftDml.sql(lake,
        "MERGE INTO lake AS t USING fixes AS s " +
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET text = s.text")
    }
  }

  test("a concurrent source commit retries the MERGE — both effects land") {
    val lake = seed("dml-merge-race")
    import spark.implicits._
    Seq(("conv11", 0, "merged")).toDF("conv_id", "turn_idx", "text")
      .createOrReplaceTempView("race_fix")
    val merge = new Thread(() =>
      GraftDml.sql(lake,
        "MERGE INTO lake AS t USING race_fix AS s " +
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
        "WHEN MATCHED THEN UPDATE SET text = s.text"))
    val src = new Thread(() =>
      CdcApply.apply(lake, batch(Seq(("conv92", 0, 900L))), epoch = 2,
        nBuckets = 8))
    merge.start(); src.start(); merge.join(30000); src.join(30000)
    assert(lake.lookup("conv11").filter(col("turn_idx") === 0).head()
      .getAs[String]("text") == "merged", "the MERGE must land")
    assert(lake.lookup("conv92").count() == 1, "the source batch must land")
  }

  test("a concurrent source commit retries the DML — both effects land") {
    val lake = seed("dml-race")
    val dml = new Thread(() =>
      GraftDml.delete(lake, "conv_id = 'conv08'"))
    val src = new Thread(() =>
      CdcApply.apply(lake, batch(Seq(("conv09", 0, 900L), ("conv09", 1, 901L))),
        epoch = 2, nBuckets = 8))
    dml.start(); src.start(); dml.join(30000); src.join(30000)
    assert(lake.lookup("conv08").isEmpty, "the DML delete must land")
    assert(lake.lookup("conv09").filter(col("_lsn") >= 900).count() == 2,
      "the source batch must land")
  }
}
