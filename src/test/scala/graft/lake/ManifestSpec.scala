package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.{CdcApply, CdcDriver}
import graft.changelog.ChangelogGen
import graft.search.SearchIndex

/** Manifest-tree metadata scaling: a commit writes one manifest per TOUCHED
  * bucket and carries the parent's refs for the rest, so commit metadata
  * stays O(touched) as the table grows — plus key-range-pruned point
  * lookups over the per-file min/max stats. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def build(n: Int, buckets: Int): (LakeTable, String) = {
    val dir = TestSpark.tmpDir("man-cl")
    ChangelogGen.write(spark, dir, ChangelogGen.Config(
      nEvents = n, nConvs = 60, turnsPerConv = 4,
      pUpdate = 0.3, pDelete = 0.05, pDup = 0.05, segSize = n / 4))
    val lake = new LakeTable(spark, TestSpark.tmpDir("man-lake"))
    new CdcDriver(spark, dir, lake, segmentsPerBatch = 2, nBuckets = buckets,
      quiet = true).run()
    (lake, dir)
  }

  test("single-bucket commit writes exactly one new manifest, carries rest") {
    val (lake, _) = build(4000, 16)
    val before = lake.currentSnapshot.get
    assert(before.manifests.size == 16)

    val conv = lake.read().select("conv_id").head().getString(0)
    val batch = spark.range(1).select(
      lit("U").as("op"), lit(conv).as("conv_id"), lit(0).as("turn_idx"),
      lit("user").as("role"), lit("manifest probe").as("text"),
      lit(null).cast("string").as("tool"),
      lit("2024-01-01").cast("timestamp").as("ts"),
      lit(9999999L).as("_lsn"), lit(0).as("_src_part"),
      lit(9999999L).as("_src_off"))
    val manifestsDir = new java.io.File(s"${lake.root}/meta/manifests")
    val nManifestsBefore = manifestsDir.listFiles().length
    val stats = CdcApply.apply(lake, batch, before.epoch + 1, nBuckets = 16)
    assert(stats.touchedSet.size == 1)

    val after = lake.currentSnapshot.get
    // exactly one manifest written by this commit
    assert(manifestsDir.listFiles().length == nManifestsBefore + 1)
    // untouched buckets carry the parent's refs by PATH identity
    val changed = after.manifests.toSet -- before.manifests.toSet
    assert(changed.map(_.bucket) == stats.touchedSet)
    assert(after.manifests.count(r => !stats.touchedSet(r.bucket)) == 15)
    assert(after.manifests.filter(r => !stats.touchedSet(r.bucket)).toSet ==
      before.manifests.filterNot(r => stats.touchedSet(r.bucket)).toSet)
    // snapshot json itself is O(buckets), not O(files): it never embeds
    // the file list
    val snapJson = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"${lake.root}/meta", f"v${after.snapshotId}%012d.json"))
    assert(!snapJson.contains(".parquet"))
    // and the state is intact
    assert(lake.read().filter(col("conv_id") === conv &&
      col("turn_idx") === 0).head().getAs[String]("text") == "manifest probe")
  }

  test("point lookup opens only min/max-matching files of one bucket") {
    val (lake, _) = build(6000, 2)
    // compact with small files so each bucket splits into several
    // key-range-disjoint parquet files
    Compaction.compact(lake, targetFileRows = 15L)
    val snap = lake.currentSnapshot.get
    val conv = lake.read().select("conv_id").distinct().head().getString(0)
    val bucket = LakeTable.bucketOfValue(conv, snap.nBuckets)
    val bucketFiles = snap.files.filter(_.bucket == bucket)
    assert(bucketFiles.size > 3, s"need a multi-file bucket, got ${bucketFiles.size}")

    val opened = lake.lookupFiles(conv)
    assert(opened.nonEmpty)
    assert(opened.forall(_.bucket == bucket))
    assert(opened.size < bucketFiles.size,
      s"lookup should prune within the bucket: ${opened.size} vs ${bucketFiles.size}")

    // and the lookup result equals the full-scan answer
    val got = lake.lookup(conv).collect().map(_.toSeq).toSet
    val want = lake.read().filter(col("conv_id") === conv)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("time travel: readAt returns the historic live state") {
    val (lake, dir) = build(3000, 8)
    val snaps = lake.snapshots
    assert(snaps.size >= 2)
    val old = snaps.head
    // readAt(old) == fold of the segments old.epoch covers
    val oldState = lake.readAt(old.snapshotId)
      .select("conv_id", "turn_idx", "_lsn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val events = spark.read.parquet(dir)
      .filter(col("_lsn") < old.epoch * 750) // epoch = segments applied * segSize
    // cheaper sanity: old state is a consistent snapshot — its max lsn is
    // below the newest snapshot's, and current read differs
    val curState = lake.read()
      .select("conv_id", "turn_idx", "_lsn").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(oldState.nonEmpty && oldState != curState)
    assert(oldState.map(_._3).max <= curState.map(_._3).max)
    assert(events.count() > 0)
    intercept[NoSuchElementException] { lake.readAt(9999L) }
  }

  test("footer null-counts distinguish clean and corrupted changelogs") {
    val clean = TestSpark.tmpDir("nc-clean")
    ChangelogGen.write(spark, clean, ChangelogGen.Config(
      nEvents = 1000, nConvs = 10, turnsPerConv = 4, segSize = 1000))
    val dirty = TestSpark.tmpDir("nc-dirty")
    ChangelogGen.write(spark, dirty, ChangelogGen.Config(
      nEvents = 1000, nConvs = 10, turnsPerConv = 4, segSize = 1000,
      pBad = 0.3))
    def files(d: String) =
      new java.io.File(s"$d/seg=0").listFiles().toSeq
        .filter(_.isDirectory).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    val keys = Set("conv_id", "turn_idx", "_lsn")
    val cleanCounts = files(clean).flatMap(p =>
      ParquetFooters.nullCounts(p, keys))
    assert(cleanCounts.nonEmpty && cleanCounts.forall(_.values.forall(_ == 0L)))
    val dirtyTotal = files(dirty).flatMap(p =>
      ParquetFooters.nullCounts(p, keys)).flatMap(_.values).sum
    assert(dirtyTotal > 0L, "corrupted changelog must show footer nulls")
  }

  test("expire removes manifests referenced only by expired snapshots") {
    val (lake, _) = build(3000, 8)
    val manifestsDir = new java.io.File(s"${lake.root}/meta/manifests")
    val before = manifestsDir.listFiles().length
    val (snaps, _) = lake.expireSnapshots(1)
    assert(snaps > 0)
    val live = lake.currentSnapshot.get.manifests.map(_.path).toSet
    val onDisk = manifestsDir.listFiles().map(_.getPath).toSet
    assert(onDisk == live, "only the retained snapshot's manifests remain")
    assert(onDisk.size < before)
    // table still reads fine
    assert(lake.read().count() > 0)
  }

  /** The written-file layout contract every bucketed writer shares: each
    * snapshot's new manifests list exactly the `.parquet` files under one
    * `snap-<id>-*` data dir, each in its own `b=<bucket>` dir, and each
    * entry carries that file's footer stats. Returns the new entries per
    * snapshot id. */
  private def assertLayout(t: LakeTable, statsCol: String)
      : Map[Long, Seq[DataFileMeta]] = {
    import scala.jdk.CollectionConverters._
    def canon(p: String) = new java.io.File(p).getCanonicalPath
    def entry(m: DataFileMeta) = (m.rows, m.minKey, m.maxKey,
      m.zoneCols.toSeq, m.zoneMins.toSeq, m.zoneMaxs.toSeq, m.bytes,
      m.liveRows, m.zoneNullFree.toSeq, m.zoneFieldIds.toSeq)
    val snaps = t.snapshots
    snaps.map { s =>
      val parentRefs = snaps.find(_.snapshotId == s.parentId)
        .map(_.manifests.toSet).getOrElse(Set.empty)
      val metas = Manifests.loadAll(s.manifests.filterNot(parentRefs))
      if (metas.nonEmpty) {
        val dirs = metas.map(m =>
          new java.io.File(canon(m.path)).getParentFile.getParentFile).distinct
        assert(dirs.size == 1, s"snapshot ${s.snapshotId}: $dirs")
        assert(dirs.head.getName.startsWith(s"snap-${s.snapshotId}-"))
        val (parquet, other) = java.nio.file.Files.walk(dirs.head.toPath)
          .iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toFile).toSeq.partition(_.getName.endsWith(".parquet"))
        assert(metas.map(m => canon(m.path)).sorted ==
          parquet.map(_.getCanonicalPath).sorted,
          s"snapshot ${s.snapshotId}: registered != written")
        // no output-commit leftovers: only the local FS's .crc side files
        assert(other.nonEmpty && other.forall(_.getName.endsWith(".crc")),
          other.map(_.getName))
        assert(!new java.io.File(dirs.head, "_temporary").exists)
        metas.foreach { m =>
          assert(new java.io.File(m.path).getParentFile.getName ==
            s"b=${m.bucket}")
          val st = ParquetFooters.writeStats(m.path, Some(statsCol))
          assert(entry(m) == entry(DataFileMeta(m.path, m.bucket, st.rows,
            st.minKey, st.maxKey, st.zoneCols, st.zoneMins, st.zoneMaxs,
            st.bytes, st.liveRows, st.zoneNullFree, st.zoneFieldIds)),
            m.path)
        }
      }
      s.snapshotId -> metas
    }.toMap
  }

  test("merge, compaction and index refresh register exactly the parquet" +
      " files they wrote, with their footer stats") {
    val (lake, _) = build(2000, 4)
    val merged = assertLayout(lake, "conv_id")
    assert(merged.size >= 2 && merged.values.forall(_.nonEmpty))
    val compacted = Compaction.compact(lake, targetFileRows = 20)
    val split = assertLayout(lake, "conv_id")(compacted.snapshot.snapshotId)
    assert(split.groupBy(_.bucket).values.exists(_.size > 1),
      "targetFileRows split no bucket")
    val index = new LakeTable(spark, TestSpark.tmpDir("man-idx"))
    SearchIndex.refresh(spark, lake, index, nBuckets = 4)
    assert(assertLayout(index, "term").values.flatten.nonEmpty)
  }
}
