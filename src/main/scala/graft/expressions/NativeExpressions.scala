package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the production (non-oracle) hash paths —
 * single-pass, allocation-free inner loops with whole-stage-codegen via a
 * static helper call (no UDF serialization, no per-row closure dispatch):
 *
 *  - [[XxMinHash64]]: MinHash signature over byte-level k-shingles of a
 *    string in ONE pass — no shingle array materialization at all, unlike
 *    the declarative `transform(sequence(...))` formulation which allocates
 *    O(len) UTF8Strings per row per hash function.
 *  - [[FloatVectorCosine]]: cosine similarity of two float vectors in one
 *    fused loop (dot + both norms), reading ArrayData directly — the
 *    `zip_with`+`aggregate` formulation allocates an intermediate array and
 *    evaluates three separate folds.
 *
 * Registered as SQL functions `graft_minhash64(text, k, n)` and
 * `graft_cosine_f32(a, b)` by [[GraftFunctions.register]] /
 * [[GraftExtensions]] (for `spark.sql.extensions` on spark-submit).
 */
object NativeKernels {

  /** MinHash over byte-level k-shingles; hash family = xxhash64 seeded by
    * the hash index. Returns UnsafeArrayData of n minima (Long.MaxValue for
    * strings shorter than k). */
  def minhash64(s: UTF8String, k: Int, n: Int): ArrayData = {
    val bytes = s.getBytes // may copy; single allocation per row
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val limit = bytes.length - k
    var i = 0
    while (i <= limit) {
      var j = 0
      while (j < n) {
        val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + i, k, j)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Bit-interleave the low 16 bits of n lanes (lane 0 least significant)
    * — the Morton/Z-value a multi-column clustered compaction sorts on, so
    * files become range-tight in EVERY clustered dimension at once instead
    * of only the leading sort column. */
  private def zloop(vals: Array[Long]): Long = {
    val n = vals.length
    var z = 0L
    var j = 0
    while (j < n) {
      val x = vals(j)
      var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (i * n + j)
        i += 1
      }
      j += 1
    }
    z
  }
  def z2(a: Long, b: Long): Long = zloop(Array(a, b))
  def z3(a: Long, b: Long, c: Long): Long = zloop(Array(a, b, c))
  def z4(a: Long, b: Long, c: Long, d: Long): Long = zloop(Array(a, b, c, d))

  /** Random-hyperplane LSH signature in ONE fused loop — the native form
    * of `SimilarityOps.rhpSignature`, bit-for-bit identical to the
    * declarative expression (same xxhash64-derived weights, same
    * index-order summation) but O(1) expression nodes where the
    * declarative tree is O(dim x planes) hash nodes — codegen-hostile past
    * dim ~128. Weight(p, i) = pmod(xxhash64(seed, p, i), 1e6)/1e6 - 0.5,
    * reproducing Spark's XxHash64 chain over (long seed, int p, int i). */
  def rhpSig(vec: ArrayData, planes: Int, seed: Long, isDouble: Boolean): Long = {
    val dim = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val hp = XXH64.hashInt(p, XXH64.hashLong(seed, 42L))
      var proj = 0.0
      var i = 0
      while (i < dim) {
        val h = XXH64.hashInt(i, hp)
        val m = ((h % 1000000L) + 1000000L) % 1000000L
        val w = m.toDouble / 1000000.0 - 0.5
        val x = if (isDouble) vec.getDouble(i) else vec.getFloat(i).toDouble
        proj += x * w
        i += 1
      }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def hasNull(vec: ArrayData): Boolean =
    (0 until vec.numElements()).exists(vec.isNullAt)

  /** The `nProbe` nearest IVF cells of a vector by (squared L2, cell id):
    * one fused pass over the broadcast centroid matrix — no per-row
    * struct/array materialization, no O(cells) expression tree. `cents`
    * is (cellIds, matrix) as broadcast by `SimilarityOps.ivfTopK`. */
  def ivfNearestCells(v: ArrayData,
                      cents: (Array[Int], Array[Array[Double]]),
                      nProbe: Int, isDouble: Boolean): ArrayData = {
    val (ids, mat) = cents
    val n = mat.length
    val keep = math.min(nProbe, n)
    val bestD = new Array[Double](keep)
    val bestC = new Array[Int](keep)
    java.util.Arrays.fill(bestD, Double.PositiveInfinity)
    java.util.Arrays.fill(bestC, Int.MaxValue)
    var c = 0
    while (c < n) {
      val ce = mat(c)
      val dim = math.min(v.numElements(), ce.length)
      var d = 0.0
      var i = 0
      while (i < dim) {
        val x = (if (isDouble) v.getDouble(i) else v.getFloat(i).toDouble) - ce(i)
        d += x * x
        i += 1
      }
      val id = ids(c)
      // insertion into the small sorted (d, id) top list
      if (d < bestD(keep - 1) ||
          (d == bestD(keep - 1) && id < bestC(keep - 1))) {
        var j = keep - 1
        while (j > 0 && (d < bestD(j - 1) ||
               (d == bestD(j - 1) && id < bestC(j - 1)))) {
          bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1)
          j -= 1
        }
        bestD(j) = d; bestC(j) = id
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bestC)
  }

  /** Fused cosine: dot(a,b) / (|a||b|) in double precision, index order. */
  def cosineF32(a: ArrayData, b: ArrayData): Double = {
    val len = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < len) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }
}

case class XxMinHash64(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  require(k > 0 && numHashes > 0, "k and numHashes must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash64"

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.minhash64(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.NativeKernels.minhash64($c, $k, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): XxMinHash64 =
    copy(child = newChild)
}

case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType} and ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_f32"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeKernels.cosineF32(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.NativeKernels.cosineF32($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorCosine =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature as one codegen'd node — the scale form
  * of `SimilarityOps.rhpSignature` for wide vectors / many planes, where
  * the declarative tree (dim x planes xxhash64 nodes) overwhelms codegen.
  * Registered as SQL function `graft_rhpsig64(vec, planes, seed)`. */
case class RhpSignature64(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression {
  require(planes > 0 && planes <= 63, s"planes must be in [1, 63]: $planes")

  private def isDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got $dt")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rhpsig64"

  // A null element leaves the projection undefined: the signature is NULL,
  // the same as the declarative form's null-propagating arithmetic.
  private def elementsNullable = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  override def nullable: Boolean = child.nullable || elementsNullable

  override protected def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    if (elementsNullable && NativeKernels.hasNull(vec)) null
    else NativeKernels.rhpSig(vec, planes, seed, isDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = s"${ev.value} = graft.expressions.NativeKernels.rhpSig(" +
        s"$c, $planes, ${seed}L, $isDouble);"
      if (!elementsNullable) sig
      else s"if (graft.expressions.NativeKernels.hasNull($c)) " +
        s"${ev.isNull} = true; else $sig"
    })

  override protected def withNewChildInternal(newChild: Expression): RhpSignature64 =
    copy(child = newChild)
}

/** The `nProbe` nearest IVF cells by (squared L2, cell id) against a
  * TORRENT-BROADCAST centroid matrix: the expression serializes as a tiny
  * broadcast handle, so the plan (and every task binary) stays KB-sized
  * even at 65k cells x 768 dims (~400 MB of centroids) — the scale ceiling
  * the earlier centroid-literal formulation hit. Internal to
  * `SimilarityOps.ivfTopK` (a Broadcast cannot be a SQL literal). */
case class IvfNearestCells(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])],
    nProbe: Int)
    extends UnaryExpression {
  require(nProbe > 0, s"nProbe must be positive: $nProbe")

  private def isDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got $dt")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells"

  override protected def nullSafeEval(input: Any): Any =
    NativeKernels.ivfNearestCells(
      input.asInstanceOf[ArrayData], bc.value, nProbe, isDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("ivfBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.NativeKernels.ivfNearestCells($c, " +
      s"(scala.Tuple2) $bcRef.value(), $nProbe, $isDouble)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestCells =
    copy(child = newChild)
}

/** Z-value (Morton code) of 2–4 long lanes, each expected in [0, 65535]
  * (the caller zone-scales raw values down to 16 bits): interleaves their
  * low 16 bits, lane 0 least significant. Sorting on this value gives the
  * multi-dimensional clustering `Compaction.compact(zorder = true)` uses —
  * a codegen'd static call, never a UDF, per the engine's §2.10 policy. */
case class BitInterleave64(children: Seq[Expression]) extends Expression {
  require(children.size >= 2 && children.size <= 4,
    s"graft_zvalue interleaves 2-4 columns, got ${children.size}")

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint lanes, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_zvalue"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[Long](children.size)
    var j = 0
    while (j < vals.length) {
      val v = children(j).eval(input)
      if (v == null) return null
      vals(j) = v.asInstanceOf[Long]
      j += 1
    }
    children.size match {
      case 2 => NativeKernels.z2(vals(0), vals(1))
      case 3 => NativeKernels.z3(vals(0), vals(1), vals(2))
      case _ => NativeKernels.z4(vals(0), vals(1), vals(2), vals(3))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{Block, EmptyBlock}
    val gens = children.map(_.genCode(ctx))
    val anyNull =
      if (nullable) gens.map(_.isNull).mkString("(", " || ", ")") else "false"
    val call = s"graft.expressions.NativeKernels.z${children.size}(" +
      gens.map(_.value).mkString(", ") + ")"
    val childCode =
      gens.map(_.code).foldLeft(EmptyBlock: Block)((acc, b) => code"$acc\n$b")
    ev.copy(code =
      code"""$childCode
         |boolean ${ev.isNull} = $anyNull;
         |long ${ev.value} = 0L;
         |if (!${ev.isNull}) ${ev.value} = $call;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitInterleave64 =
    copy(children = newChildren)
}
