package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>`): brute-force cosine top-k as the exact baseline, plus two
 * scale paths — random-hyperplane LSH bucketing and IVF coarse quantization.
 *
 * Scale design: brute force is O(Q×N) and only acceptable for small query
 * sets (it broadcasts the query side). The LSH/IVF variants turn the cross
 * join into an equi-join on a compact bucket key, so the shuffle carries
 * (bucket, id, vector) once instead of N×Q pairs; candidate scoring stays
 * inside whole-stage codegen (`zip_with`/`aggregate`, no UDF).
 */
object SimilarityOps {

  /** dot(a,b) computed sequentially in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to 6 dp so independent evaluation orders
    * (and external oracles) agree bit-for-bit. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Exact brute-force top-k cosine neighbors of each query vector.
    * `queries` is broadcast (small side); ranking tie-breaks on neighbor id
    * for full determinism. Self-matches are excluded. With `native = true`
    * the fused-loop `graft_cosine_f32` Catalyst expression scores pairs
    * (requires `GraftFunctions.register(spark)` / GraftExtensions). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      native: Boolean = false): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val simExpr =
      if (native) round(call_function("graft_cosine_f32", col("_qv"), col("_cv")), 6)
      else cosine(col("_qv"), col("_cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), simExpr.as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Random-hyperplane LSH signature: `planes` sign bits, one per
    * pseudo-random hyperplane. Plane p's component i is derived
    * deterministically from xxhash64(p, i) — no RNG state, reproducible at
    * any parallelism. Returns a bigint bucket id.
    *
    * Two bit-identical implementations (NativeExpressionsSpec pins the
    * equality; a vector with a null element signs as NULL in both): the
    * declarative tree below for small shapes, and the fused-loop
    * [[graft.expressions.RhpSignature64]] kernel once
    * `planes > 16 || dim > 128` — at dim 768 the declarative form is
    * dim x planes xxhash64 nodes, which overwhelms whole-stage codegen. */
  def rhpSignature(vec: Column, dim: Int, planes: Int, seed: Long = 42L): Column =
    if (planes > 16 || dim > 128) {
      val bridge = org.apache.spark.sql.graft.GraftBridge
      bridge.column(graft.expressions.RhpSignature64(
        bridge.expression(vec), planes, seed))
    } else rhpSignatureDeclarative(vec, dim, planes, seed)

  /** The declarative form — public so the spec can pin native equality. */
  def rhpSignatureDeclarative(vec: Column, dim: Int, planes: Int,
                              seed: Long = 42L): Column =
    (0 until planes).map { p =>
      val proj = (0 until dim).map { i =>
        // hash -> pseudo-uniform in [-0.5, 0.5)
        val h = xxhash64(lit(seed), lit(p), lit(i))
        element_at(vec, i + 1).cast("double") *
          (pmod(h, lit(1000000L)).cast("double") / 1000000.0 - 0.5)
      }.reduce(_ + _)
      // a null element nulls `proj` and with it the whole signature
      when(proj >= 0, lit(1L << p)).when(proj < 0, lit(0L))
    }.reduce(_ + _)

  /** Planes needed so the expected bucket occupancy ~= targetBucketSize:
    * log2(n / target), clamped to [4, 24]. A FIXED plane count is the
    * round-1 scale bug: 8 planes = 256 buckets forever, so within-bucket
    * all-pairs scoring grows ~N²/256 — plane count must grow with the
    * corpus. */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 64L): Int = {
    val ratio = math.max(corpusSize.toDouble / math.max(targetBucketSize, 1L), 2.0)
    math.min(24, math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** LSH-bucketed ANN: score only candidates sharing the query's bucket.
    * Probing `multiProbe` extra buckets (flipping one sign bit) trades
    * recall for cost. Returns top-k per query among candidates.
    * `planes <= 0` derives the plane count from the corpus size
    * (planesFor), keeping bucket occupancy — and therefore candidate-pair
    * cost — bounded as the corpus grows. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, planes: Int, k: Int, multiProbe: Int = 0): DataFrame = {
    val nPlanes = if (planes > 0) planes else planesFor(corpus.count())
    val sig = rhpSignature(col(vecCol), dim, nPlanes)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      sig.as("_bucket"))
    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
      sig.as("_qsig"))
    // probe buckets: exact signature + signatures with one flipped bit
    val probes = array((lit(0L) +: (0 until math.min(multiProbe, nPlanes))
      .map(b => lit(1L << b))): _*)
    val q = qBase.select(col("query_id"), col("_qv"),
      explode(transform(probes, f => col("_qsig").bitwiseXOR(f))).as("_bucket"))
    val scored = q.join(c, Seq("_bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("sim"))
      .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Standard IVF sizing: nlist ≈ sqrt(N), clamped to [8, 2^16] — cell
    * count must grow with the corpus or per-cell candidate lists become
    * the same O(N) scan IVF exists to avoid. */
  def cellsFor(corpusSize: Long): Int =
    math.min(1 << 16, math.max(8, math.ceil(math.sqrt(
      math.max(corpusSize, 1L).toDouble)).toInt))

  /** IVF (inverted-file) ANN: k-means-lite coarse quantizer. Centroids are
    * the per-cell mean of a deterministic hash-assignment refined by
    * `iters` Lloyd iterations (all DataFrame aggs, driver collects only
    * `cells` centroid rows). Search probes `nProbe` nearest cells.
    * `cells <= 0` derives the cell count from the corpus size (cellsFor).
    *
    * Scale design: the centroid matrix travels as a TORRENT BROADCAST
    * consumed by the fused-loop [[graft.expressions.IvfNearestCells]]
    * kernel — the plan and every task binary stay KB-sized even at
    * production cell counts (65k cells x 768 dims ~ 400 MB), where the
    * earlier literal-expression formulation built tens of millions of
    * plan nodes on the driver. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, cells: Int, k: Int, nProbe: Int = 2, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bridge = org.apache.spark.sql.graft.GraftBridge
    val nCells = if (cells > 0) cells else cellsFor(corpus.count())

    def broadcastCents(cents: Array[(Int, Seq[Double])])
        : org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])] = {
      val sorted = cents.sortBy(_._1)
      spark.sparkContext.broadcast(
        (sorted.map(_._1), sorted.map(_._2.toArray)))
    }
    def nearestCells(v: Column, bc: org.apache.spark.broadcast.Broadcast[
        (Array[Int], Array[Array[Double]])], n: Int): Column =
      bridge.column(graft.expressions.IvfNearestCells(
        bridge.expression(v), bc, n))

    val base = corpus.select(col(idCol).as("_id"),
      transform(col(vecCol), _.cast("double")).as("_v"))
    // initial assignment: hash of id -> cell
    var assigned = base.withColumn("_cell",
      pmod(xxhash64(col("_id")), lit(nCells.toLong)).cast("int"))
    var bc: org.apache.spark.broadcast.Broadcast[
      (Array[Int], Array[Array[Double]])] = null
    for (_ <- 0 until iters) {
      // per-dimension mean via posexplode + avg (map-side combinable; the
      // driver only ever collects `cells` centroid rows)
      val cents = assigned
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_i", "_x")))
        .groupBy("_cell", "_i").agg(avg("_x").as("_m"))
        .groupBy("_cell")
        .agg(transform(
          array_sort(collect_list(struct(col("_i"), col("_m")))),
          x => x.getField("_m")).as("_centroid"))
      bc = broadcastCents(cents.as[(Int, Seq[Double])].collect())
      assigned = base.withColumn("_cell",
        element_at(nearestCells(col("_v"), bc, 1), 1))
    }

    val c = assigned.select(col("_id").as("neighbor_id"), col("_v").as("_cv"),
      col("_cell").as("_probe"))
    val q = queries
      .select(col(idCol).as("query_id"), transform(col(vecCol), _.cast("double")).as("_qv"))
      .withColumn("_probe", explode(nearestCells(col("_qv"), bc, nProbe)))
    val scored = q.join(c, Seq("_probe"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("_qv"), col("_cv")).as("sim"))
      .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
