package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.CdcDriver
import graft.changelog.ChangelogGen
import graft.lake.LakeTable

/** The `graft` streaming sink and the lake→lake cascade built on it:
  * `graft-changes` source → GraftCascade.toEvents → `graft` sink. The
  * downstream lake must track the upstream LIVE IMAGE exactly — through
  * incremental drains, deletes, redelivered batches (epoch fence), and an
  * upstream ROLLBACK (where upstream lsns move DOWN and only the
  * snapshot-stamped versioning can follow). */
class GraftSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkUpstream(tag: String, events: Int = 4000)
      : (LakeTable, CdcDriver) = {
    val dir = TestSpark.tmpDir(s"gsink-cl-$tag")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = events, nConvs = 30, turnsPerConv = 6,
      pUpdate = 0.4, pDelete = 0.15, pDup = 0.1, segSize = 500))
    val lake = new LakeTable(spark, TestSpark.tmpDir(s"gsink-up-$tag"))
    (lake, new CdcDriver(spark, dir, lake, segmentsPerBatch = 1,
      nBuckets = 8, quiet = true))
  }

  /** Drain the cascade to exhaustion (AvailableNow); `opts` are extra sink
    * options. */
  private def cascade(up: LakeTable, downRoot: String, ckpt: String,
                      opts: Map[String, String] = Map.empty): Unit = {
    val q = spark.readStream.format("graft-changes")
      .option("path", up.root)
      .option("withsnapshot", "true")
      .load()
      .transform(GraftCascade.toEvents)
      .writeStream.format("graft-lake")
      .option("path", downRoot)
      .option("checkpointLocation", ckpt)
      .option("nbuckets", "8")
      .options(opts)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Live business image keyed for comparison. */
  private def image(lake: LakeTable): Map[(String, Int), (String, String)] =
    lake.read().select("conv_id", "turn_idx", "role", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getString(2), r.getString(3))).toMap

  test("cascade tracks the upstream live image across incremental drains") {
    val (up, driver) = mkUpstream("track")
    val down = TestSpark.tmpDir("gsink-down-track")
    val ckpt = TestSpark.tmpDir("gsink-ckpt-track")

    driver.run(maxBatches = 3)
    cascade(up, down, ckpt)
    val downLake = new LakeTable(spark, down)
    assert(image(downLake) == image(up))
    assert(image(downLake).nonEmpty)

    // more upstream commits (updates + deletes) fold into the next drain
    driver.run(maxBatches = 3)
    cascade(up, down, ckpt)
    assert(image(downLake) == image(up))

    // drained and current: another run moves nothing and commits nothing
    val snaps = downLake.snapshots.size
    cascade(up, down, ckpt)
    assert(downLake.snapshots.size == snaps)
  }

  test("sink upkeep: morchain bounds the delta chains and keep bounds the" +
      " retained snapshots") {
    val (up, driver) = mkUpstream("upkeep")
    val down = TestSpark.tmpDir("gsink-down-upkeep")
    val ckpt = TestSpark.tmpDir("gsink-ckpt-upkeep")
    val downLake = new LakeTable(spark, down)
    for (_ <- 0 until 4) {
      driver.run(maxBatches = 2)
      cascade(up, down, ckpt,
        Map("mor" -> "true", "morchain" -> "2", "keep" -> "1"))
      val head = downLake.currentSnapshot.get
      assert(head.mor)
      val chains = graft.cdc.CdcApply.chainLengths(head)
      assert(chains.nonEmpty && chains.values.max < 3, s"chains $chains")
      assert(downLake.snapshots.size <= 1,
        s"${downLake.snapshots.size} snapshots retained with keep=1")
      assert(image(downLake) == image(up))
    }
  }

  test("redelivered batch fences to a no-op (exactly-once)") {
    val (up, driver) = mkUpstream("fence", events = 1500)
    driver.run(maxBatches = 2)
    val down = TestSpark.tmpDir("gsink-down-fence")

    val sink = new GraftSink(new graft.cdc.FeedStep(new LakeTable(spark, down),
      nBuckets = 8, saltBuckets = 0, patchEnabled = false, changeFeed = true,
      mor = false, source = None, partBase = 0,
      followers = new graft.cdc.FollowerStep(spark, morCompactChain = 0)))
    val delta = graft.lake.ChangeFeedReader.between(spark, up, -1L,
      up.currentSnapshot.get.snapshotId,
      imageCols = Seq("role", "text", "tool", "ts"))
      .withColumn("_commit_snapshot",
        lit(up.currentSnapshot.get.snapshotId))
    val events = GraftCascade.toEvents(delta)
    sink.addBatch(0L, events)
    val downLake = new LakeTable(spark, down)
    val after = downLake.currentSnapshot.get
    // V1 sinks are at-least-once: the same batchId arrives again after a
    // crash-recovery — the epoch fence must swallow it without a commit
    sink.addBatch(0L, events)
    assert(downLake.currentSnapshot.get.snapshotId == after.snapshotId)
    assert(image(downLake) == image(up))
  }

  test("upstream rollback is followed (snapshot-stamped versions)") {
    val (up, driver) = mkUpstream("rb")
    val down = TestSpark.tmpDir("gsink-down-rb")
    val ckpt = TestSpark.tmpDir("gsink-ckpt-rb")

    driver.run(maxBatches = 2)
    val pin = up.currentSnapshot.get.snapshotId
    val imageAtPin = image(up)
    driver.run(maxBatches = 2)
    cascade(up, down, ckpt)
    val downLake = new LakeTable(spark, down)
    assert(image(downLake) == image(up))
    assert(image(downLake) != imageAtPin) // the later batches moved rows

    // roll the upstream back: its lsns move DOWN; the feed reports the
    // reverted winners as updated/inserted/deleted rows and the cascade
    // must apply them even though every upstream lsn lost ground
    up.rollbackTo(pin)
    cascade(up, down, ckpt)
    assert(image(downLake) == imageAtPin)
  }

  test("delete then re-insert across separate drains") {
    val ups = TestSpark.tmpDir("gsink-up-dri")
    val up = new LakeTable(spark, ups)
    val down = TestSpark.tmpDir("gsink-down-dri")
    val ckpt = TestSpark.tmpDir("gsink-ckpt-dri")
    import spark.implicits._
    def ev(op: String, conv: String, turn: Int, text: String, lsn: Long)
        : DataFrame =
      Seq((op, conv, turn, "user", text, "", lsn))
        .toDF("op", "conv_id", "turn_idx", "role", "text", "tool", "_lsn")
        .withColumn("ts", lit(null).cast("timestamp"))
        .withColumn("_src_part", lit(0)).withColumn("_src_off", col("_lsn"))
    graft.cdc.CdcApply.apply(up, ev("U", "c1", 0, "hello", 10L)
      .unionByName(ev("U", "c2", 0, "other", 11L)), epoch = 1, nBuckets = 4)
    cascade(up, down, ckpt)
    val downLake = new LakeTable(spark, down)
    assert(image(downLake).contains(("c1", 0)))

    graft.cdc.CdcApply.apply(up, ev("D", "c1", 0, null, 12L),
      epoch = 2, nBuckets = 4)
    cascade(up, down, ckpt)
    assert(!image(downLake).contains(("c1", 0)))

    graft.cdc.CdcApply.apply(up, ev("U", "c1", 0, "back", 13L),
      epoch = 3, nBuckets = 4)
    cascade(up, down, ckpt)
    assert(image(downLake)(("c1", 0))._2 == "back")
    assert(image(downLake) == image(up))
  }

  test("fresh checkpoint against a populated lake refuses at start") {
    val (up, driver) = mkUpstream("bind", events = 1000)
    driver.run(maxBatches = 1)
    val down = TestSpark.tmpDir("gsink-down-bind")
    cascade(up, down, TestSpark.tmpDir("gsink-ckpt-bind1"))
    // the populated downstream is bound to its original checkpoint; a
    // FRESH checkpoint restarts batchIds at 0 and would silently fence
    // every early batch — the sink must refuse before any batch runs
    val e = intercept[Exception] {
      cascade(up, down, TestSpark.tmpDir("gsink-ckpt-bind2"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("bound to checkpoint")))
  }

  test("additive upstream evolution flows through a restarted cascade") {
    // upstream gains a column between drains: the restarted stream's
    // schema resolution picks it up (images=* re-resolves at start) and
    // the sink's merge adopts it additively downstream
    val dir = TestSpark.tmpDir("gsink-cl-evo")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 3000, nConvs = 20, turnsPerConv = 6,
      pUpdate = 0.4, pDelete = 0.1, segSize = 1000,
      evolveAt = 2000)) // tool_meta exists only from delivery 2000 on
    val up = new LakeTable(spark, TestSpark.tmpDir("gsink-up-evo"))
    val driver = new CdcDriver(spark, dir, up, segmentsPerBatch = 1,
      nBuckets = 8, quiet = true)
    val down = TestSpark.tmpDir("gsink-down-evo")
    val ckpt = TestSpark.tmpDir("gsink-ckpt-evo")

    driver.run(maxBatches = 2) // pre-evolution segments only
    cascade(up, down, ckpt)
    val downLake = new LakeTable(spark, down)
    assert(!downLake.read().columns.contains("tool_meta"))

    driver.run() // the rest, including the evolved segments
    assert(up.read().columns.contains("tool_meta"))
    cascade(up, down, ckpt) // restarted stream adopts the wider schema
    assert(downLake.read().columns.contains("tool_meta"))
    assert(image(downLake) == image(up))
    // the evolved column's VALUES made it across, not just the column
    def metaOf(l: LakeTable) = l.read()
      .filter(col("tool_meta").isNotNull)
      .select("conv_id", "turn_idx", "tool_meta").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.get(2).toString).toMap
    assert(metaOf(downLake) == metaOf(up))
    assert(metaOf(downLake).nonEmpty)
  }

  test("toEvents demands the snapshot stamp and images") {
    val (up, driver) = mkUpstream("opts", events = 800)
    driver.run(maxBatches = 1)
    val noStamp = spark.readStream.format("graft-changes")
      .option("path", up.root).load()
    val e1 = intercept[IllegalArgumentException] {
      GraftCascade.toEvents(noStamp)
    }
    assert(e1.getMessage.contains("withsnapshot"))
    val noImages = spark.readStream.format("graft-changes")
      .option("path", up.root).option("images", "none")
      .option("withsnapshot", "true").load()
    val e2 = intercept[IllegalArgumentException] {
      GraftCascade.toEvents(noImages)
    }
    assert(e2.getMessage.contains("images"))
  }
}
