package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.lake.{LakeIO, LakeTable}
import graft.model.Schemas

/** One feed against one lake, and the one way to apply a batch of it, for
  * the batch driver and the `graft-lake` sink the tailer writes through:
  * namespace `_src_part` by `partBase` (multi-feed ingest; the probe's
  * lineage too), merge (CdcApply), then the [[FollowerStep]] upkeep. The
  * footer probe's null-free proof covers the LAKE'S OWN key columns (the
  * seed `keys` until the first commit fixes the spec): proving the wrong
  * columns null-free would let a null real key skip validation. */
private[graft] final class FeedStep(
    val lake: LakeTable,
    nBuckets: Int,
    saltBuckets: Int,
    patchEnabled: Boolean,
    changeFeed: Boolean,
    mor: Boolean,
    val source: Option[String],
    partBase: Int,
    followers: FollowerStep,
    keys: Schemas.KeySpec = Schemas.KeySpec.transcripts) {

  /** Probe `seg=N/p=P/` segment dirs; None when the layout lacks `p=` dirs
    * (flat segments fall back to CdcApply's probe scan). */
  def probe(segDirs: Seq[String]): Option[CdcApply.ProbeInfo] =
    fromFiles(segDirs.flatMap(LakeIO.partitionFiles(_, "p")))

  /** Probe files by their own `p=P` parent dirs; None unless every file
    * has one, so no file is dropped from `rowsIn` or lineage. */
  def probeFiles(files: Seq[String]): Option[CdcApply.ProbeInfo] = {
    val parts = files.map(f => LakeIO.partitionOf(f, "p").map(_ -> f))
    if (parts.exists(_.isEmpty)) None else fromFiles(parts.flatten)
  }

  private def fromFiles(perPart: Seq[(Int, String)]) = {
    val ks = lake.currentSnapshot.map(_.keySpec).getOrElse(keys)
    FooterProbe.fromFiles(perPart.map(f => (f._1 + partBase, f._2)),
      ks.keyCols.toSet + "_lsn", ks.bucketCols)
  }

  /** Merge one batch at `epoch` (fenced if applied), then the upkeep. */
  def apply(batch: DataFrame, epoch: Long,
            probe: Option[CdcApply.ProbeInfo]): CdcApply.ApplyStats = {
    val shifted =
      if (partBase == 0) batch
      else batch.withColumn("_src_part", col("_src_part") + lit(partBase))
    val stats = CdcApply.apply(lake, shifted, epoch, nBuckets, saltBuckets,
      probeInfo = probe, patchEnabled = patchEnabled, changeFeed = changeFeed,
      keys = keys, mor = mor, source = source)
    followers.afterCommit(lake, stats)
    stats
  }

  /** Bring every follower up to the lake's current snapshot. */
  def catchUp(): Unit = followers.catchUp(lake)
}
