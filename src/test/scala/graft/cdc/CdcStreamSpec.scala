package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.changelog.ChangelogGen
import graft.lake.LakeTable
import graft.model.Schemas
import graft.search.SearchIndex

/** The Structured Streaming front-end: file-source tail + foreachBatch MERGE
  * fenced on the checkpointed batchId (north rule's binlog tailer shape). */
class CdcStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming replay equals fold oracle and resumes from checkpoint") {
    val dir = TestSpark.tmpDir("stream-cl")
    val cfg = ChangelogGen.Config(
      nEvents = 3000, nConvs = 30, turnsPerConv = 8,
      pUpdate = 0.35, pDelete = 0.08, pDup = 0.1, segSize = 500)
    ChangelogGen.write(spark, dir, cfg)

    val lake = new LakeTable(spark, TestSpark.tmpDir("stream-lake"))
    val agg = new LakeTable(spark, TestSpark.tmpDir("stream-agg"))
    val ckpt = TestSpark.tmpDir("stream-ckpt")

    // first run: consume at most a few files per trigger, AvailableNow drains all
    CdcStream.run(spark, dir, lake, ckpt, Schemas.changeEventSchema,
      nBuckets = 8, maxFilesPerTrigger = 2, aggLake = Some(agg))
    val events = spark.read.parquet(dir)
    assert(CdcOracle.tableState(lake.read()) == CdcOracle.fold(events))
    // streaming-maintained derived table equals recompute-from-scratch
    val gotAgg = agg.read().select("conv_id", "n_turns").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val wantAgg = lake.read().groupBy("conv_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toMap
    assert(gotAgg == wantAgg)
    val snapAfter = lake.currentSnapshot.get

    // re-run against the same checkpoint: nothing new -> no new snapshots
    CdcStream.run(spark, dir, lake, ckpt, Schemas.changeEventSchema,
      nBuckets = 8, maxFilesPerTrigger = 2)
    assert(lake.currentSnapshot.get.snapshotId == snapAfter.snapshotId)

    // append two more segments mid-stream; the tailer picks up only the delta
    val more = ChangelogGen.Config(cfg.nEvents + 1000, nConvs = 30,
      turnsPerConv = 8, pUpdate = 0.35, pDelete = 0.08, pDup = 0.1, segSize = 500)
    ChangelogGen.events(spark, more, cfg.nEvents, more.nEvents, withEvolution = false)
      .withColumn("p", org.apache.spark.sql.functions.col("_src_part"))
      .repartition(1)
      .write.mode("append").partitionBy("seg", "p").parquet(dir)
    CdcStream.run(spark, dir, lake, ckpt, Schemas.changeEventSchema,
      nBuckets = 8, maxFilesPerTrigger = 2)
    val eventsAll = spark.read.parquet(dir)
    assert(CdcOracle.tableState(lake.read()) == CdcOracle.fold(eventsAll))
    assert(lake.currentSnapshot.get.snapshotId > snapAfter.snapshotId)
  }

  test("streaming-maintained materialized view equals a from-scratch" +
      " recompute, across checkpoint resume") {
    val dir = TestSpark.tmpDir("stream-mv-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 3000, nConvs = 30, turnsPerConv = 8,
      pUpdate = 0.35, pDelete = 0.08, pDup = 0.1, segSize = 500))
    val lake = new LakeTable(spark, TestSpark.tmpDir("stream-mv-lake"))
    val view = new LakeTable(spark, TestSpark.tmpDir("stream-mv-view"))
    val ckpt = TestSpark.tmpDir("stream-mv-ckpt")
    val aggs = Seq(MatView.AggCol("n_turns", "count(*)"),
      MatView.AggCol("last_lsn", "max(_lsn)"))
    CdcStream.run(spark, dir, lake, ckpt, Schemas.changeEventSchema,
      nBuckets = 8, maxFilesPerTrigger = 2, matView = Some(view),
      matViewAggs = aggs)
    def got() = view.read().select("conv_id", "n_turns", "last_lsn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def want() = lake.read().groupBy("conv_id")
      .agg(org.apache.spark.sql.functions.expr("count(*)").as("n"),
        org.apache.spark.sql.functions.expr("max(_lsn)").as("l"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got() == want())
    // drained re-run: view untouched
    val vs = view.currentSnapshot.get.snapshotId
    CdcStream.run(spark, dir, lake, ckpt, Schemas.changeEventSchema,
      nBuckets = 8, maxFilesPerTrigger = 2, matView = Some(view))
    assert(view.currentSnapshot.get.snapshotId == vs)
  }

  test("live ProcessingTime tailer converges to the same state as replay") {
    val dir = TestSpark.tmpDir("live-cl")
    val cfg = ChangelogGen.Config(
      nEvents = 2000, nConvs = 25, turnsPerConv = 6,
      pUpdate = 0.3, pDelete = 0.08, pDup = 0.1, segSize = 400)
    ChangelogGen.write(spark, dir, cfg)
    val lake = new LakeTable(spark, TestSpark.tmpDir("live-lake"))
    val q = CdcStream.start(spark, dir, lake, TestSpark.tmpDir("live-ckpt"),
      Schemas.changeEventSchema, nBuckets = 8, maxFilesPerTrigger = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
    try {
      q.processAllAvailable() // live trigger: block until backlog drained
      // the tailer keeps running; state must already equal the full fold
      assert(CdcOracle.tableState(lake.read()) ==
        CdcOracle.fold(spark.read.parquet(dir)))
      // append a segment while live — the running query picks it up
      val more = ChangelogGen.Config(cfg.nEvents + 800, nConvs = 25,
        turnsPerConv = 6, pUpdate = 0.3, pDelete = 0.08, pDup = 0.1, segSize = 400)
      ChangelogGen.events(spark, more, cfg.nEvents, more.nEvents, withEvolution = false)
        .withColumn("p", org.apache.spark.sql.functions.col("_src_part"))
        .repartition(1)
        .write.mode("append").partitionBy("seg", "p").parquet(dir)
      q.processAllAvailable()
      assert(CdcOracle.tableState(lake.read()) ==
        CdcOracle.fold(spark.read.parquet(dir)))
    } finally { q.stop(); q.awaitTermination() }
  }

  /** Restart supervision (reference: fixed-delay restart strategy,
    * jobs-core base-config.conf:27-28): one transient batch failure must
    * not end the tailer — it restarts from the checkpoint and converges;
    * a PERSISTENT failure exhausts the attempts and surfaces loudly. */
  test("supervised tailer survives a transient batch failure and converges") {
    val dir = TestSpark.tmpDir("sup-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 2000, nConvs = 20, turnsPerConv = 6,
      pUpdate = 0.3, pDelete = 0.08, pDup = 0.1, segSize = 500))
    val lake = new LakeTable(spark, TestSpark.tmpDir("sup-lake"))
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    CdcStream.run(spark, dir, lake, TestSpark.tmpDir("sup-ckpt"),
      Schemas.changeEventSchema, nBuckets = 8, maxFilesPerTrigger = 4,
      restartAttempts = 3, restartDelayMs = 100,
      onBatch = { batchId =>
        // fail the second micro-batch exactly once (transient FS hiccup)
        if (batchId == 1 && failures.getAndIncrement() == 0)
          throw new RuntimeException("injected transient failure")
      })
    assert(failures.get() >= 1, "fault hook never fired")
    assert(CdcOracle.tableState(lake.read()) ==
      CdcOracle.fold(spark.read.parquet(dir)))

    // a persistent failure must exhaust the attempts and rethrow loudly
    val lake2 = new LakeTable(spark, TestSpark.tmpDir("sup2-lake"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.run(spark, dir, lake2,
        TestSpark.tmpDir("sup2-ckpt"), Schemas.changeEventSchema,
        nBuckets = 8, restartAttempts = 2, restartDelayMs = 50,
        onBatch = _ => throw new RuntimeException("permanent failure"))
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
    assert(chain.exists(_.contains("permanent failure")))
  }

  test("fresh checkpoint against a populated lake fails loudly") {
    val dir = TestSpark.tmpDir("bind-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 1000, nConvs = 10, turnsPerConv = 5, segSize = 500))
    // lake populated by the BATCH driver (no stream binding)
    val lake = new LakeTable(spark, TestSpark.tmpDir("bind-lake"))
    new CdcDriver(spark, dir, lake, 1, 8, quiet = true).run()
    val e = intercept[IllegalStateException] {
      CdcStream.run(spark, dir, lake, TestSpark.tmpDir("bind-ckpt"),
        Schemas.changeEventSchema, nBuckets = 8)
    }
    assert(e.getMessage.contains("fenced"))

    // lake streamed under checkpoint A refuses checkpoint B
    val lake2 = new LakeTable(spark, TestSpark.tmpDir("bind2-lake"))
    CdcStream.run(spark, dir, lake2, TestSpark.tmpDir("bind2-ckptA"),
      Schemas.changeEventSchema, nBuckets = 8)
    val e2 = intercept[IllegalStateException] {
      CdcStream.run(spark, dir, lake2, TestSpark.tmpDir("bind2-ckptB"),
        Schemas.changeEventSchema, nBuckets = 8)
    }
    assert(e2.getMessage.contains("bound to checkpoint"))
  }

  /** Every follower's content, as plain sets: the conv_agg table, the
    * materialized view, the replica and the resolved index postings. */
  private def followerState(agg: LakeTable, view: LakeTable, rep: LakeTable,
                            idx: LakeTable) = (
    agg.read().select("conv_id", "n_turns").collect()
      .map(r => (r.getString(0), r.getInt(1).toLong)).toSet,
    view.read().select("conv_id", "n_turns", "last_lsn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
    rep.read().select("conv_id", "turn_idx", "role", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .toSet,
    postings(idx))

  private def postings(idx: LakeTable) =
    SearchIndex.resolvedPostings(idx).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getAs[Number](3).longValue)).toSet

  /** The same follower content built from scratch over `lake`'s state. */
  private def fromScratch(lake: LakeTable, name: String) = {
    import org.apache.spark.sql.functions.expr
    val full = new LakeTable(spark, TestSpark.tmpDir(s"$name-idx-full"))
    SearchIndex.refresh(spark, lake, full)
    val live = lake.read()
    (live.groupBy("conv_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet,
      live.groupBy("conv_id")
        .agg(expr("count(*)").as("n"), expr("max(_lsn)").as("l")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      live.filter(expr("role = 'assistant'"))
        .select("conv_id", "turn_idx", "role", "text").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
        .toSet,
      postings(full))
  }

  test("driver and tailer with every follower attached leave identical," +
      " from-scratch-equal derived state") {
    val dir = TestSpark.tmpDir("parity-cl")
    // one file per segment: a one-file trigger is a one-segment batch
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = 3000, nConvs = 30, turnsPerConv = 8, pUpdate = 0.35,
      pDelete = 0.08, pDup = 0.1, segSize = 500, nSrcPartitions = 1,
      filesPerSeg = 1))
    val aggs = Seq(MatView.AggCol("n_turns", "count(*)"),
      MatView.AggCol("last_lsn", "max(_lsn)"))
    def tables(side: String) = Seq("lake", "agg", "mv", "rep", "idx")
      .map(t => new LakeTable(spark, TestSpark.tmpDir(s"parity-$side-$t")))
    val Seq(lakeD, aggD, mvD, repD, idxD) = tables("d")
    new CdcDriver(spark, dir, lakeD, segmentsPerBatch = 1, nBuckets = 8,
      quiet = true, aggLake = Some(aggD), searchIndex = Some(idxD),
      indexEvery = 3, keepSnapshots = 1, replica = Some(repD),
      replicaWhere = "role = 'assistant'", replicaCols = Seq("role", "text"),
      matView = Some(mvD), matViewAggs = aggs).run()
    val Seq(lakeS, aggS, mvS, repS, idxS) = tables("s")
    CdcStream.run(spark, dir, lakeS, TestSpark.tmpDir("parity-ckpt"),
      Schemas.changeEventSchema, nBuckets = 8, maxFilesPerTrigger = 1,
      aggLake = Some(aggS), searchIndex = Some(idxS), indexEvery = 3,
      keepSnapshots = 1, replica = Some(repS),
      replicaWhere = "role = 'assistant'", replicaCols = Seq("role", "text"),
      matView = Some(mvS), matViewAggs = aggs)

    val oracle = CdcOracle.fold(spark.read.parquet(dir))
    assert(CdcOracle.tableState(lakeD.read()) == oracle)
    assert(CdcOracle.tableState(lakeS.read()) == oracle)
    val driverSide = followerState(aggD, mvD, repD, idxD)
    val tailerSide = followerState(aggS, mvS, repS, idxS)
    assert(driverSide == fromScratch(lakeD, "parity-d"))
    assert(tailerSide == fromScratch(lakeS, "parity-s"))
    assert(driverSide == tailerSide)
    assert(driverSide.productIterator.forall(
      _.asInstanceOf[Set[_]].nonEmpty), "a follower is vacuously empty")
    // every follower is current, and retention kept only what they need
    for ((lake, idx, rep) <- Seq((lakeD, idxD, repD), (lakeS, idxS, repS))) {
      val head = lake.currentSnapshot.get.snapshotId
      assert(SearchIndex.indexedSourceSnapshot(idx) == head)
      assert(Replica.syncedSourceSnapshot(rep) == head)
      assert(lake.snapshots.size <= 3, s"${lake.snapshots.size} retained")
    }
  }

  test("a lagging index's diff base survives retention while another feed" +
      " commits") {
    val cfg = ChangelogGen.Config(nEvents = 2200, nConvs = 20,
      turnsPerConv = 6, pUpdate = 0.3, pDelete = 0.08, pDup = 0.1,
      segSize = 200, nSrcPartitions = 1, filesPerSeg = 1)
    val dirA = TestSpark.tmpDir("lag-a")
    ChangelogGen.write(spark, dirA, cfg.copy(nEvents = 1000)) // 5 segments
    val dirB = TestSpark.tmpDir("lag-b") // segments 5..10: 6 backfill commits
    ChangelogGen.events(spark, cfg, 1000, 2200, withEvolution = false)
      .withColumn("p", org.apache.spark.sql.functions.col("_src_part"))
      .repartition(1)
      .write.mode("overwrite").partitionBy("seg", "p").parquet(dirB)
    val lake = new LakeTable(spark, TestSpark.tmpDir("lag-lake"))
    val idx = new LakeTable(spark, TestSpark.tmpDir("lag-idx"))
    val ckpt = TestSpark.tmpDir("lag-ckpt")
    def tail(onBatch: Long => Unit) =
      CdcStream.start(spark, dirA, lake, ckpt, Schemas.changeEventSchema,
        nBuckets = 8, maxFilesPerTrigger = 1, searchIndex = Some(idx),
        indexEvery = 2, keepSnapshots = 1, source = Some("a"),
        onBatch = onBatch).awaitTermination()
    // the index refreshes after batch 1 and next after batch 3; the named
    // backfill lands its commits just before batch 2, so the index's diff
    // base falls more than 2 x indexEvery snapshots behind the head
    tail(batchId => if (batchId == 2)
      new CdcDriver(spark, dirB, lake, segmentsPerBatch = 1, nBuckets = 8,
        quiet = true, source = Some("b"), partBase = 1000).run())
    tail(_ => ()) // drained re-run: start catches the index up
    val events = spark.read.parquet(dirA).drop("seg", "p")
      .unionByName(spark.read.parquet(dirB).drop("seg", "p")
        .withColumn("_src_part",
          org.apache.spark.sql.functions.col("_src_part") + 1000))
    assert(CdcOracle.tableState(lake.read()) == CdcOracle.fold(events))
    assert(SearchIndex.indexedSourceSnapshot(idx) ==
      lake.currentSnapshot.get.snapshotId)
    assert(postings(idx) == fromScratch(lake, "lag")._4)
  }
}
