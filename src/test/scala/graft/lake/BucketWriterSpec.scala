package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BucketWriter
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The bucket writer's contract: files land at their final path under
  * `b=<bucket>/`, the result lists exactly the files on disk with their
  * footer stats, and a failed write leaves no data file behind. */
class BucketWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // one partition, ids 0..999: bucket 0 holds 0..499, bucket 1 500..999;
  // with `failAt`, the row of that id raises while its bucket's file is open
  private def frame(failAt: Option[Long]): DataFrame = {
    val id = failAt match {
      case Some(n) => when(col("id") === n, raise_error(lit("boom")))
        .otherwise(col("id"))
      case None => col("id")
    }
    spark.range(0, 1000, 1, 1).select(
      (col("id") / 500).cast("int").as("b"), id.as("id"),
      format_string("k%04d", col("id")).as("k"))
  }

  private def parquetUnder(dir: String): Seq[String] = {
    val root = new java.io.File(dir).toPath
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.walk(root).iterator.asScala
      .map(_.toFile).filter(_.getName.endsWith(".parquet"))
      .map(_.getCanonicalPath).toSeq.sorted
  }

  private def canon(m: DataFileMeta) = new java.io.File(m.path).getCanonicalPath

  test("a failed write leaves no parquet file; a clean one returns exactly" +
      " the files on disk") {
    val dir = TestSpark.tmpDir("bucket-writer")
    val e = intercept[Exception](BucketWriter.write(frame(Some(700L)), dir, "k"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    assert(parquetUnder(dir).isEmpty)

    val w = BucketWriter.write(frame(None), dir, "k")
    assert(w.files.map(canon).sorted == parquetUnder(dir))
    assert(w.files.map(m => m.bucket -> m.rows).sorted == Seq(0 -> 500L, 1 -> 500L))
    w.files.foreach { m =>
      assert(new java.io.File(m.path).getParentFile.getName == s"b=${m.bucket}")
      assert(m.minKey == f"k${m.bucket * 500}%04d" &&
        m.maxKey == f"k${m.bucket * 500 + 499}%04d")
      assert(m.zone("id").contains((m.bucket * 500L, m.bucket * 500L + 499)))
    }
    assert(spark.read.parquet(w.files.map(_.path): _*).columns.toSeq ==
      Seq("id", "k"))
  }

  test("maxRecordsPerFile splits a bucket's rows across files") {
    val dir = TestSpark.tmpDir("bucket-writer-split")
    val w = BucketWriter.write(frame(None), dir, "k",
      Map("maxRecordsPerFile" -> "300"))
    assert(w.files.map(canon).sorted == parquetUnder(dir))
    assert(w.files.map(m => m.bucket -> m.rows).sorted ==
      Seq(0 -> 200L, 0 -> 300L, 1 -> 200L, 1 -> 300L))
  }
}
