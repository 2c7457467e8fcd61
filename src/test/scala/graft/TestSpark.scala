package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.Assertions

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fresh scratch dir under target/ (tests must not write outside the repo). */
  def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/test-tmp/$name-${System.nanoTime()}")
    d.mkdirs()
    d.getPath
  }

  /** The executed graft scan node, unwrapped from AQE (adaptive plan and
    * query stages). Runs the query only if it has not run yet, so the
    * adaptive plan is final: every action resets the plan's SQL metrics,
    * and the scan's driver metrics are posted once, on its first run. */
  def scanOf(df: DataFrame): BatchScanExec = {
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if !a.isFinalPlan => df.collect()
      case _ =>
    }
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.GraftScan] =>
        Seq(b)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).headOption
      .getOrElse(Assertions.fail("no graft BatchScanExec in the plan"))
  }
}
