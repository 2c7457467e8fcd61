package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class NativeExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def registered(): Unit = GraftFunctions.register(spark)

  test("graft_minhash64 matches a sequential Scala reference") {
    registered()
    import spark.implicits._
    val s = "the quick brown fox"
    val got = Seq(s).toDF("t")
      .select(call_function("graft_minhash64", col("t"), lit(4), lit(3)))
      .head().getSeq[Long](0)
    // reference: xxhash64(seed=j) over byte 4-shingles
    val bytes = s.getBytes("UTF-8")
    val want = (0 until 3).map { j =>
      (0 to bytes.length - 4).map { i =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + i, 4, j)
      }.min
    }
    assert(got == want)
  }

  test("graft_minhash64: identical strings share signatures, null-safe") {
    registered()
    import spark.implicits._
    val df = Seq(
      (1L, "spark native cdc merge engine"),
      (2L, "spark native cdc merge engine"),
      (3L, "completely different words entirely"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val sigs = df.select(col("id"),
        call_function("graft_minhash64", col("t"), lit(5), lit(8)).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(4L) == null)
    // short string (< k): all minima stay at sentinel
    val short = Seq("ab").toDF("t")
      .select(call_function("graft_minhash64", col("t"), lit(5), lit(2)))
      .head().getSeq[Long](0)
    assert(short == Seq(Long.MaxValue, Long.MaxValue))
  }

  test("graft_cosine_f32 equals the declarative zip_with/aggregate cosine") {
    registered()
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.5f, -0.25f, 0.125f), Array(0.5f, -0.25f, 0.125f))
    ).toDF("a", "b")
    val declarative = graft.operators.SimilarityOps.cosine(col("a"), col("b"))
    val rows = df.select(
        round(call_function("graft_cosine_f32", col("a"), col("b")), 6).as("nat"),
        declarative.as("dec"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("functions also work through plain SQL (extension-style registration)") {
    registered()
    import spark.implicits._
    Seq(("hello world hello")).toDF("t").createOrReplaceTempView("nat_t")
    val n = spark.sql(
      "SELECT size(graft_minhash64(t, 4, 6)) AS n FROM nat_t").head().getInt(0)
    assert(n == 6)
  }

  test("graft_zvalue SQL function: interleave + null safety + arity check") {
    registered()
    import spark.implicits._
    val got = Seq((65535L, 0L), (0L, 65535L), (1L, 1L))
      .toDF("a", "b")
      .selectExpr("graft_zvalue(a, b) AS z").as[Long].collect().toSeq
    assert(got == Seq(0x55555555L, 0xAAAAAAAAL, 3L))
    val n = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .selectExpr("graft_zvalue(a, b) AS z").collect().head
    assert(n.isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT graft_zvalue(1L)").collect()
    }
  }

  test("RHP signature: a null element signs as NULL in both forms") {
    registered()
    import spark.implicits._
    import graft.operators.SimilarityOps
    val vecs = Seq(
      Seq[java.lang.Double](0.5, -0.25, 0.125, 1.0),
      Seq[java.lang.Double](-0.5, 0.75, null, 1.0),
      null)
    val local = vecs.zipWithIndex.toDF("v", "id")
    // dim 4: 8 planes picks the declarative tree inside rhpSignature, 20
    // planes the native kernel; each form is also checked on its own, both
    // interpreted (local relation) and code-generated (after a shuffle,
    // with codegen fallback off so a broken kernel call cannot hide)
    val codegenFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try Seq(local, local.repartition(2)).foreach { df =>
      Seq(8, 20).foreach { planes =>
        val forms = Seq(
          SimilarityOps.rhpSignature(col("v"), 4, planes),
          SimilarityOps.rhpSignatureDeclarative(col("v"), 4, planes),
          call_function("graft_rhpsig64", col("v"), lit(planes), lit(42L)))
        val rows = df.select(col("id") +: forms: _*).collect()
          .map(r => r.getInt(0) -> (1 to 3).map(i => Option(r.get(i)))).toMap
        assert(rows(0).forall(_ == rows(0).head) && rows(0).head.isDefined,
          s"planes=$planes: forms disagree on a null-free vector ${rows(0)}")
        assert(rows(1) == Seq(None, None, None),
          s"planes=$planes: a null element must sign as NULL ${rows(1)}")
        assert(rows(2) == Seq(None, None, None),
          s"planes=$planes: a NULL vector must sign as NULL ${rows(2)}")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", codegenFallback)
  }
}
