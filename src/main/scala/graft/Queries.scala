package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._
import graft.operators.{DedupOps, GraphOps, HierarchyOps, MultimodalOps, SimilarityOps}

/**
 * The operator catalog as runnable queries over the driver's testdata
 * tables, each paired (in [[SparkEntry.oracleSql]]) with ANSI SQL the DuckDB
 * oracle replays on the same parquet files.
 *
 * Determinism contract (what makes hash-compare possible):
 *  - float aggregations are quantized to integer cents BEFORE summing
 *    (sum of int64 is order-independent; sum of double is not);
 *  - similarity scores are computed from quantized int64 vectors, so both
 *    engines derive bit-identical doubles;
 *  - ratio thresholds are integer cross-multiplications (inter*5 >= uni),
 *    never float comparisons;
 *  - every output has a unique key column set and no raw timestamps.
 */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** round(x*100) cents as long — the exact-sum money representation. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ---------------------------------------------------------------- core SQL

  /** A1 (TPC-H Q1 shape): pushdown filter + hash agg with exact sums. */
  def q01PricingAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_cents"),
        count(lit(1)).as("count_order"))

  /** P1/P2/P9: filter + projection with date/case scalar functions. */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100.0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_month"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit("hot"))
          .otherwise(lit("cold")).as("priority_class"),
        cents(col("o_totalprice")).as("total_cents"))

  /** P3: explode/flatMap — word frequencies from document tokens. */
  def q03ExplodeWordcount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** P4/D1: composite-key MD5 checksum + per-type distinct counts. */
  def q04Checksum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        md5(concat_ws("|", col("user_id"), col("event_type"),
          col("event_id"))).as("ck"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("ck")).as("n_distinct"))

  /** P8: slugify scalar over part names. */
  def q05Slugify(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey"), slugify(col("p_name")).as("slug"))

  /** D2/R1 — THE LWW window: latest event per user (row_number over
    * (key, order by seq desc) = 1), the core CDC dedup primitive. */
  def q06LwwLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"))
  }

  /** J2/D3 — the MERGE image: full-outer state-vs-batch with LWW winner.
    * State = LWW of first-half events, batch = second half; winner by
    * highest event_id; 'error' events act as deletes. */
  def q07MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val mid = lit("2024-01-15").cast("timestamp")
    def lww(df: DataFrame) = {
      val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }
    val state = lww(ev.filter(col("ts") < mid))
    val batch = lww(ev.filter(col("ts") >= mid))
    state.as("s").join(batch.as("b"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("b.event_id"), col("s.event_id")).as("final_event_id"),
        coalesce(col("b.event_type"), col("s.event_type")).as("final_event_type"),
        when(col("b.event_id").isNotNull && col("s.event_id").isNotNull, "updated")
          .when(col("b.event_id").isNotNull, "inserted")
          .otherwise("carried").as("merge_action"))
      .filter(col("final_event_type") =!= "error") // delete semantics
  }

  /** J1/S9: fact-to-dimension star join (dims broadcast) + exact agg. */
  def q08JoinDim(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .as("revenue_cents"),
        count(lit(1)).as("n_items"))

  /** J1: fact-to-fact sort-merge join + agg. */
  def q09JoinFact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_orderkey").as("n_orders"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))

  /** J5: left-anti — customers with no pending ('P') orders, per segment. */
  def q10LeftAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_no_orders"))

  /** J6: left-semi — customers with >= 1 finished order, per nation. */
  def q11Semi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_customers"))

  /** J2: full-outer reconciliation of per-customer order totals vs account. */
  def q12FullOuter(s: SparkSession, dir: String): DataFrame = {
    val po = t(s, dir, "orders").groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("ordered_cents"))
    val c = t(s, dir, "customer")
      .select(col("c_custkey").as("custkey"), cents(col("c_acctbal")).as("acct_cents"))
    c.join(po, Seq("custkey"), "full_outer")
      .select(col("custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("ordered_cents"), lit(0L)).as("ordered_cents"),
        coalesce(col("acct_cents"), lit(0L)).as("acct_cents"))
  }

  /** J8: theta join against an inline criteria table (score-vs-threshold). */
  def q13ThetaJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val criteria = Seq(
      ("1-URGENT", 50000.0), ("2-HIGH", 100000.0), ("3-MEDIUM", 150000.0),
      ("4-NOT SPECIFIED", 200000.0), ("5-LOW", 250000.0))
      .toDF("priority", "min_total")
    t(s, dir, "orders")
      .join(broadcast(criteria),
        col("o_orderpriority") === col("priority") &&
          col("o_totalprice") >= col("min_total"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_qualifying"),
        sum(cents(col("o_totalprice"))).as("sum_cents"))
  }

  /** A4/A5: argmax — best order per customer (max total, tiebreak orderkey). */
  def q14Argmax(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_orders", count(lit(1)).over(Window.partitionBy("o_custkey")))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("best_orderkey"),
        cents(col("o_totalprice")).as("best_cents"),
        col("n_orders"))
  }

  /** A8: rollup over region/nation with exact cents sums. */
  def q15Rollup(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("rn"), col("n_name").as("nn"),
        cents(col("c_acctbal")).as("bc"))
      .createOrReplaceTempView("q15_base")
    s.sql(
      """SELECT coalesce(rn, 'ALL') AS r_name, coalesce(nn, 'ALL') AS n_name,
        |  count(1) AS n, sum(bc) AS bal_cents
        |FROM q15_base GROUP BY ROLLUP(rn, nn)""".stripMargin)
  }

  /** R4: array set ops — segments present/missing per nation. */
  def q16SetOps(s: SparkSession, dir: String): DataFrame = {
    val allSegs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sort_array(collect_set("c_mktsegment")).as("segs"))
      .select(col("n_name"),
        array_join(col("segs"), ",").as("segments_present"),
        array_join(array_except(allSegs, col("segs")), ",").as("segments_missing"),
        size(array_intersect(allSegs, col("segs"))).as("n_present"))
  }

  /** R5: deterministic top-k with tiebreak. */
  def q17TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"))

  /** R3: distinct on a projection. */
  def q18Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()

  /** R4/M4: union-by-name with additive schema evolution (missing columns
    * null-filled), the batch shape of the CDC schema-evolution path. */
  def q19UnionEvolve(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val mid = lit("2024-01-15").cast("timestamp")
    val v1 = ev.filter(col("ts") < mid).select(col("event_id"), col("event_type"))
    val v2 = ev.filter(col("ts") >= mid).select(col("event_id"), col("event_type"),
      cents(col("value")).as("value_cents"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("value_cents"), lit(0L))).as("sum_value_cents"),
        count(col("value_cents")).as("n_with_value"))
  }

  /** P7: JSON field extraction (regex form — identical dialect both sides). */
  def q20JsonPath(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))

  /** P9/W2: event-time daily windows per type with exact value sums. */
  def q21WindowTime(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))

  // ------------------------------------------------- training-data pipeline

  /** Exact dedup: normalized-content checksum survivors per language. */
  def q22DedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val survivors = DedupOps.exactDedup(docs, "doc_id", "text")
    docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(survivors.groupBy("lang").agg(count(lit(1)).as("n_unique")), Seq("lang"))
  }

  /** MinHash(md5 family, 4 hashes over word-3-shingles) + LSH(2 bands x 2
    * rows) candidates, verified with exact word-3-shingle overlap.
    * Integer threshold: inter*5 >= uni. */
  def q23MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val withSig = DedupOps.withMinhashSignatureWords(
      docs.select(col("doc_id"), col("text")), "text", 3, 4, "_sig")
    val cands = DedupOps.lshCandidates(withSig, "doc_id", "_sig", bands = 2, rowsPerBand = 2)
    val sh = DedupOps.withWordShingleSet(
        docs.select(col("doc_id"), col("text")), "text", 3, "sh")
      .select(col("doc_id"), col("sh"))
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sha"), col("shb"))).as("inter"),
        (size(col("sha")) + size(col("shb")) -
          size(array_intersect(col("sha"), col("shb")))).as("uni"))
      .filter(col("inter") * 5 >= col("uni"))
  }

  /** 16-bit SimHash fingerprint per document (md5-hex-derived token bits). */
  def q24Simhash(s: SparkSession, dir: String): DataFrame =
    DedupOps.withSimhash(t(s, dir, "documents"), "text", 16, "simhash")
      .select(col("doc_id"), col("simhash"))

  /** SimHash near-dup pairs: hamming <= 3 via pigeonhole chunk join
    * (complete: 4 chunks > 3 bit flips). */
  def q25SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val h = q24Simhash(s, dir)
    DedupOps.simhashPairs(h, "doc_id", "simhash", bits = 16, chunks = 4, maxHamming = 3)
  }

  /** Word-3-gram Jaccard near-dups blocked by language (inter*5 >= uni).
    * Scale shape: candidate pairs come from an equi-join restricted to RARE
    * shingles (document frequency <= 50 within the language block) — a hot
    * shingle shared by d documents would otherwise contribute d² join rows
    * ("one of the" makes that quadratic at corpus scale) — then candidates
    * are verified EXACTLY against the full shingle sets, so the df cap
    * affects only candidate recall, never a reported pair's inter/uni.
    * The operator form (with drop logging) is DedupOps.ngramJaccardPairs. */
  def q26NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val dfCap = 50
    val d = t(s, dir, "documents")
    val shingled = DedupOps.withWordShingleSet(d, "text", 3, "sh")
    val sh = shingled.select(col("lang"), col("doc_id"), explode(col("sh")).as("s"))
    val rare = sh.join(
      sh.groupBy("lang", "s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap),
      Seq("lang", "s"))
    val cands = rare.as("a").join(rare.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = shingled.select(col("doc_id"), col("sh"))
    cands
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sha"), col("shb"))).as("inter"),
        (size(col("sha")) + size(col("shb")) -
          size(array_intersect(col("sha"), col("shb")))).cast("int").as("uni"))
      .filter(col("inter") * 5 >= col("uni"))
  }

  /** Quantize embedding to int64 (round(x*100)) — makes every dot product
    * exact and order-independent, so similarity doubles are bit-identical
    * across engines and partitionings. */
  private def quantVec(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 100).cast("long"))

  private def idotq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** md5-derived integer hyperplane projection sign bit sum for planes
    * [pFrom, pTo): the oracle-reproducible random-hyperplane family shared
    * by q27 and q29 (weight w(p,i) = hex4(md5("p:i")) - 32768), one exact
    * dot product per plane (not 64 terms each: q27 outgrew codegen). */
  private def md5PlaneBucket(q: Column, dim: Int, pFrom: Int, pTo: Int): Column =
    (pFrom until pTo).map { p =>
      val w = (0 until dim).map(i => Integer.parseInt(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$p:$i").take(4), 16) - 32768L)
      val proj = idotq(slice(q, 1, dim), typedLit(w))
      when(proj >= 0, lit(1L << (p - pFrom))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding near-duplicate pairs: cosine >= 0.4 via integer cross-compare
    * 25*dot^2 >= 4*na*nb (0.4^2 = 4/25), dot > 0.
    * Scale shape (round-2 fix): candidates come from 6 random-hyperplane
    * hash TABLES of 3 planes each (multi-table LSH: a pair is a candidate
    * if it collides in ANY table — P[collide] ≈ 1-(1-(1-θ/π)³)⁶ ≈ 0.8 at
    * cos 0.4) and are then verified EXACTLY, replacing the old all-pairs
    * O(n²) self-join. Brute force remains as the recall baseline
    * (SimilarityOps.bruteForceTopK; recall measured in SimilarityOpsSpec). */
  def q27EmbedNeardup(s: SparkSession, dir: String): DataFrame = {
    val dim = 64; val tables = 6; val planesPerTable = 3
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), quantVec(col("embedding")).as("q"))
    val tb = array((0 until tables).map { tt =>
      struct(lit(tt).as("t"),
        md5PlaneBucket(col("q"), dim, tt * planesPerTable,
          (tt + 1) * planesPerTable).as("bk"))
    }: _*)
    val banded = e.select(col("vec_id"), explode(tb).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bk").as("bk"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cands
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        idotq(col("qa"), col("qb")).as("dot"),
        idotq(col("qa"), col("qa")).as("na"),
        idotq(col("qb"), col("qb")).as("nb"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 25 >= col("na") * col("nb") * 4)
      .select(col("vec_a"), col("vec_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("cos_sim"))
  }

  /** Brute-force exact ANN: top-5 cosine neighbors for query vectors
    * (vec_id < 20), similarity from quantized ints (bit-exact). */
  def q28AnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), quantVec(col("embedding")).as("q"))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = broadcast(queries).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (idotq(col("qq"), col("q")).cast("double") /
          (sqrt(idotq(col("qq"), col("qq")).cast("double")) *
            sqrt(idotq(col("q"), col("q")).cast("double")))).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** LSH-bucketed ANN (oracle-reproducible CATALOG variant — this pins 8
    * planes purely so DuckDB can reproduce it at sf0.01; a FIXED plane
    * count does NOT scale, because bucket occupancy grows ~N/2^planes).
    * PRODUCTION ENTRY: `SimilarityOps.lshTopK(planes <= 0)` — it derives
    * the plane count from the corpus size (`SimilarityOps.planesFor`),
    * keeping candidate-pair cost bounded as the corpus grows; the bound is
    * asserted by SimilarityOpsSpec ("planesFor keeps candidate pairs
    * bounded on a growing corpus"). */
  def q29AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val dim = 64; val planes = 8
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), quantVec(col("embedding")).as("q"))
    val withB = e.withColumn("bucket",
      md5PlaneBucket(col("q"), dim, 0, planes))
    val scored = withB.as("a").join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        (idotq(col("a.q"), col("b.q")).cast("double") /
          (sqrt(idotq(col("a.q"), col("a.q")).cast("double")) *
            sqrt(idotq(col("b.q"), col("b.q")).cast("double")))).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Text quality metrics — all integer-valued (ratios left to consumers). */
  def q30TextQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      subwordTokenCount(col("text")).as("n_subwords"),
      length(col("text")).as("n_chars_actual"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", ""))).as("n_punct"),
      stopwordHits(col("text"), "en").as("stop_en"),
      stopwordHits(col("text"), "fr").as("stop_fr"))

  /** Language-ID confusion matrix: labeled lang vs stopword-argmax predicted. */
  def q31LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), langId(col("text")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))

  /** Document fingerprints: exact checksum + order-independent bag hash. */
  def q32Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      contentChecksum(col("text")).as("checksum"),
      bagFingerprint(col("text")).as("bag_fingerprint"))

  /** Multimodal plumbing: binary payload envelope metadata (decode stub's
    * non-SQL fields are covered by MultimodalSpec instead). */
  def q33Multimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"))
      .as[MultimodalOps.MediaRow]
    MultimodalOps.decodeMeta(media).toDF()
      .select(col("media_id"), col("kind"), col("byte_len"))
  }

  /** Hierarchy flatten: customer -> nation -> region ancestor chains via
    * iterative self-join (the reference's relation-cache traversal). */
  def q34Hierarchy(s: SparkSession, dir: String): DataFrame = {
    val custEdges = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_name").as("child"), col("n_name").as("parent"))
    val natEdges = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name").as("child"), col("r_name").as("parent"))
    val edges = custEdges.unionByName(natEdges)
    HierarchyOps.ancestors(edges, "child", "parent", maxDepth = 4)
      .select(col("node"), array_join(col("ancestors"), "/").as("path"),
        col("root"), col("depth"))
  }

  /** The CDC flagship semantics, oracle-checkable: events as a changelog of
    * transcript turns keyed by (user_id, turn), LSN = event_id, LWW winner,
    * 'error' = delete — exactly CdcApply's merge as a batch query. */
  def q35TranscriptLww(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id").as("conv_id"),
        pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
        col("event_id").as("lsn"),
        col("event_type"))
    val w = Window.partitionBy("conv_id", "turn_idx").orderBy(col("lsn").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("conv_id"), col("turn_idx"), col("lsn").as("winner_lsn"),
        col("event_type").as("winner_type"))
  }

  /** Event sessionization: per-user sessions with a 30-minute inactivity
    * gap via Spark's `session_window` (W2/W3 count-or-timeout analogue for
    * event time). All outputs exact integers (microsecond epochs). */
  def q36Sessionize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("_mn"), max(col("ts")).as("_mx"))
      .select(col("user_id"),
        unix_micros(col("_mn").cast("timestamp")).as("session_start_us"),
        col("n_events"),
        (unix_micros(col("_mx").cast("timestamp")) -
          unix_micros(col("_mn").cast("timestamp"))).as("duration_us"))

  /** Near-duplicate clusters: connected components (min-label) over the
    * SimHash hamming<=3 pair graph — pairwise candidates to dedup groups. */
  def q37DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = q25SimhashPairs(s, dir).select("id_a", "id_b")
    DedupOps.connectedComponents(docs, "doc_id", pairs)
      .select(col("node").as("doc_id"), col("cluster"))
  }

  /** Exact percentiles (sort-based `percentile`, standard linear
    * interpolation — parity with quantile_cont) per group. */
  def q38Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      .select(col("o_orderpriority"),
        round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
        cents(col("mn")).as("min_cents"), cents(col("mx")).as("max_cents"))

  /** Pivot: per-day event counts fanned out to one column per event type
    * (explicit value list so the schema is static). */
  def q39Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Range join: orders against year intervals (broadcast nested-loop on a
    * tiny inline ranges table — the interval-join shape). */
  def q40RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranges = Seq(
      ("1995-1996", "1995-01-01", "1997-01-01"),
      ("1997-1998", "1997-01-01", "1999-01-01"),
      ("1999-2001", "1999-01-01", "2002-01-01"))
      .toDF("era", "lo", "hi")
      .select(col("era"), col("lo").cast("timestamp"), col("hi").cast("timestamp"))
    t(s, dir, "orders")
      .join(broadcast(ranges),
        col("o_orderdate") >= col("lo") && col("o_orderdate") < col("hi"))
      .groupBy("era")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("sum_cents"))
  }

  /** IVF ANN, oracle-parity variant: coarse quantizer cells are vec_id % 8
    * (deterministic seed assignment), centroids are per-cell integer
    * component sums (exact in any engine / any order), probe ranking uses
    * the cross-multiplied integer distance sum((c*x - S)^2) scaled by 1/c²
    * in a single double division (deterministic), candidates are scored
    * with the exact integer cosine. The production variant (xxhash64 init +
    * Lloyd refinement) is SimilarityOps.ivfTopK. */
  def q41AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val cells = 8; val nProbe = 2; val k = 3
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), quantVec(col("embedding")).as("q"))
    val assigned = e.withColumn("cell",
      pmod(col("vec_id"), lit(cells)).cast("int"))
    // centroid = (count, per-dim integer sum) per cell — collected to the
    // driver as a literal (cells × dim longs; tiny)
    val sums = assigned
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(sum("x").as("sx"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("sx")))),
        x => x.getField("sx")).as("sv"))
    val cnts = assigned.groupBy("cell").agg(count(lit(1)).as("c"))
    val centroids = sums.join(cnts, "cell")
      .select("cell", "c", "sv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    val centLit = array(centroids.map { case (cell, c, sv) =>
      struct(lit(cell).as("cell"), lit(c).as("c"),
        array(sv.map(lit): _*).as("sv"))
    }.toIndexedSeq: _*)
    // probe the nProbe nearest cells: integer distance sum((c*x - S)^2),
    // one double division by c² as the common sort scale, tie-break on cell
    val probes = transform(
      slice(array_sort(transform(centLit, ct => {
        val c = ct.getField("c")
        val d = aggregate(zip_with(col("q"), ct.getField("sv"),
          (x, sx) => (x * c - sx) * (x * c - sx)), lit(0L), (acc, v) => acc + v)
        struct((d.cast("double") / (c * c).cast("double")).as("d"),
          ct.getField("cell").as("cell"))
      })), 1, nProbe),
      x => x.getField("cell"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        explode(probes).as("cell"))
    val scored = q.join(assigned.select(col("vec_id").as("neighbor_id"),
        col("q"), col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (idotq(col("qq"), col("q")).cast("double") /
          (sqrt(idotq(col("qq"), col("qq")).cast("double")) *
            sqrt(idotq(col("q"), col("q")).cast("double")))).as("sim"))
      .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Engine validation surface as a query: deterministic corruption of the
    * events stream (hash-picked null keys / null turns / null lsns / bad
    * ops), classified by the ENGINE's own predicate
    * (CdcApply.invalidReason) — per-reason counts. */
  def q42Quarantine(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(pmod(col("event_id"), lit(97)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("user_id"))).as("conv_id"),
      when(pmod(col("event_id"), lit(83)) === 0, lit(null).cast("int"))
        .otherwise(pmod(col("event_id"), lit(20)).cast("int")).as("turn_idx"),
      when(pmod(col("event_id"), lit(89)) === 0, lit("X"))
        .when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U")).as("op"),
      when(pmod(col("event_id"), lit(101)) === 0, lit(null).cast("long"))
        .otherwise(col("event_id")).as("_lsn"))
    ev.select(coalesce(
        graft.cdc.CdcApply.invalidReason(Seq("I", "U", "D")), lit("valid"))
        .as("reason"))
      .groupBy("reason").agg(count(lit(1)).as("n"))
  }

  /** Partial-column patch merge semantics as a batch query: events as a
    * changelog keyed (user_id, event_id%7) with lsn = event_id; 'error' =
    * delete, 'signup' = patch (sets tag on odd lsn, cents on even lsn; a
    * patch with lsn%5==0 additionally UNSETS tag — the field-clear encoding
    * of Schemas.UnsetCol, exercised end-to-end in CdcPatchSpec), everything
    * else a full upsert. Final image = base full-image winner + newer
    * patches overlaid column-wise (exactly CdcApply.patchMerge). The unset
    * is carried as a '<CLEARED>' sentinel through the arg_max (both engines
    * skip rows with null aggregation args) and NULLIF'd at the end. */
  def q43PatchMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(7)).cast("int").as("turn_idx"),
      col("event_id").as("lsn"),
      when(col("event_type") === "error", "D")
        .when(col("event_type") === "signup", "P")
        .otherwise(lit("U")).as("op"),
      col("event_type").as("tag0"),
      cents(col("value")).as("v0"))
    val e2 = ev.select(col("conv_id"), col("turn_idx"), col("lsn"), col("op"),
      when(col("op") === "P" && pmod(col("lsn"), lit(2)) === 0,
        lit(null).cast("string")).otherwise(col("tag0")).as("tag"),
      when(col("op") === "P" && pmod(col("lsn"), lit(2)) === 1,
        lit(null).cast("long")).otherwise(col("v0")).as("v"))
    val isPatch = col("op") === "P"
    val unsetTag = isPatch && pmod(col("lsn"), lit(5)) === 0
    val tagTouched = isPatch && (col("tag").isNotNull || unsetTag)
    val g = e2.groupBy("conv_id", "turn_idx").agg(
      max_by(struct(col("tag"), col("v"), (col("op") === "D").as("tomb"),
        col("lsn")), when(!isPatch, col("lsn"))).as("base"),
      max(col("lsn")).as("maxlsn"),
      max(when(isPatch, col("lsn"))).as("maxplsn"),
      max_by(when(unsetTag, lit("<CLEARED>")).otherwise(col("tag")),
        when(tagTouched, col("lsn"))).as("ptag"),
      max(when(tagTouched, col("lsn"))).as("pltag"),
      max_by(col("v"), when(isPatch && col("v").isNotNull, col("lsn"))).as("pv"),
      max(when(isPatch && col("v").isNotNull, col("lsn"))).as("plv"))
    val baseLsn = col("base").getField("lsn")
    val baseTomb = col("base").getField("tomb")
    val noBase = lit(Long.MinValue)
    g.select(col("conv_id"), col("turn_idx"),
        nullif(
          when(col("pltag") > coalesce(baseLsn, noBase), col("ptag"))
            .otherwise(when(!coalesce(baseTomb, lit(true)),
              col("base").getField("tag"))), lit("<CLEARED>")).as("tag"),
        when(col("plv") > coalesce(baseLsn, noBase), col("pv"))
          .otherwise(when(!coalesce(baseTomb, lit(true)),
            col("base").getField("v"))).as("v_cents"),
        col("maxlsn").as("last_lsn"),
        (coalesce(baseTomb, lit(false)) &&
          !(coalesce(col("maxplsn"), noBase) > coalesce(baseLsn, noBase)))
          .as("tomb"))
      .filter(!col("tomb")).drop("tomb")
  }

  /** Change-feed action breakdown (the engine's cf_* metrics as a query):
    * first-half LWW state vs second-half LWW batch, each key classified
    * inserted/updated/deleted/delete_noop/carried ('error' = delete). */
  def q44ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val mid = lit("2024-01-15").cast("timestamp")
    def lww(df: DataFrame) = {
      val w = Window.partitionBy("user_id").orderBy(col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"),
          (col("event_type") === "error").as("tomb"))
    }
    val state = lww(ev.filter(col("ts") < mid))
    val batch = lww(ev.filter(col("ts") >= mid))
    state.as("s").join(batch.as("b"), Seq("user_id"), "full_outer")
      .select(
        when(col("b.event_id").isNull, "carried")
          .when(col("s.event_id").isNotNull &&
            col("b.event_id") < col("s.event_id"), "carried")
          .when(col("b.tomb") &&
            coalesce(!col("s.tomb"), lit(false)), "deleted")
          .when(col("b.tomb"), "delete_noop")
          .when(coalesce(!col("s.tomb"), lit(false)), "updated")
          .otherwise(lit("inserted")).as("action"))
      .groupBy("action").agg(count(lit(1)).as("n"))
  }

  /** PII scrubbing (reference: the ml-user-delete job's PII scrub across
    * collections, UserDeleteFunction.scala:37-100): deterministic synthetic
    * PII is injected, then masked with shared-dialect regexes; outputs
    * per-doc match counts + a checksum of the scrubbed text proving the
    * masking itself matches across engines. */
  def q45PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val numRe = "[0-9]{6,}"
    val withPii = t(s, dir, "documents").select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com ref "),
        (col("doc_id") * 31 + 1000000).cast("string")).as("text2"))
    withPii.select(
      col("doc_id"),
      regexp_count(col("text2"), lit(emailRe)).cast("int").as("n_emails"),
      regexp_count(
        regexp_replace(col("text2"), emailRe, "<EMAIL>"), lit(numRe))
        .cast("int").as("n_numbers"),
      md5(regexp_replace(
        regexp_replace(col("text2"), emailRe, "<EMAIL>"),
        numRe, "<NUM>")).as("scrubbed_md5"))
  }

  /** Benchmark decontamination: corpus docs sharing >= 3 distinct
    * word-3-shingles with any doc of the eval set (doc_id % 40 == 0) are
    * flagged — the shingle-overlap test-set leak detector every training
    * pipeline needs. Shuffles only (doc_id, shingle) pairs. */
  def q46Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sh = DedupOps.withWordShingleSet(d, "text", 3, "sh")
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val eval_ = sh.filter(pmod(col("doc_id"), lit(40)) === 0)
      .select(col("doc_id").as("eval_id"), col("s"))
    val corpus = sh.filter(pmod(col("doc_id"), lit(40)) =!= 0)
    corpus.join(eval_, "s")
      .groupBy("doc_id")
      .agg(countDistinct("eval_id").cast("int").as("n_eval_docs"),
        countDistinct("s").cast("int").as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** Intra-document repetition metrics (a core quality signal for training
    * corpora): total vs distinct word-3-grams and the hottest gram's
    * count. Integer-only outputs. */
  def q47Repetition(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("_ws", split(normalized(col("text")), " "))
      .select(col("doc_id"),
        explode(filter(
          transform(sequence(lit(0), greatest(size(col("_ws")) - 3, lit(0))),
            i => concat_ws(" ", slice(col("_ws"), i + 1, lit(3)))),
          x => size(split(x, " ")) === 3)).as("g"))
    d.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("int").as("n_total"),
        count(lit(1)).cast("int").as("n_distinct"),
        max("c").cast("int").as("max_rep"))
  }

  /** Deterministic train/val/test split by content-stable hash (md5 of the
    * id — reproducible in any engine, stable under re-partitioning):
    * 80/10/10 with per-split doc and token totals. */
  def q48Split(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    t(s, dir, "documents")
      .select(
        when(h < 80, "train").when(h < 90, "val").otherwise(lit("test"))
          .as("split"),
        tokenCount(col("text")).as("tc"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("n_tokens"))
  }

  /** Inverted-index term search semantics as a catalog query — documents
    * containing ALL query terms (AND), ranked by total term frequency with a
    * deterministic tie-break. The ENGINE path is the incrementally-maintained
    * postings LakeTable (graft.search.SearchIndex — refresh from the
    * change feed's before/after images, bucket+file-pruned term lookup,
    * SearchIndexSpec); this query pins the same tokenization
    * (TextFunctions.normalized) + AND + tf ranking against the oracle. */
  def q49SearchTopk(s: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("spark", "merge", "window")
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.search.SearchIndex.terms(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct("term").as("_nt"), count(lit(1)).as("score"))
      .filter(col("_nt") === queryTerms.size)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("score"))
  }

  /** Unbounded-depth reachability over a pseudo-random recursive tree:
    * node i's parent is (i*48271) mod (i-1) + 1 over dense ranks of the
    * orders table (expected depth ~ln N — deep enough that the bounded
    * HierarchyOps walk cannot do it), solved by GraphOps.rootAndDepth's
    * pointer doubling in O(log depth) self-joins. The rank synthesis is
    * test-data plumbing, not part of the operator. */
  def q50GraphReach(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))
    val nodes = t(s, dir, "orders")
      .select(row_number().over(w).cast("long").as("i"))
    val edges = nodes.filter(col("i") > 1)
      .select(col("i").as("child"),
        (pmod(col("i") * 48271L, col("i") - 1) + 1).as("parent"))
    GraphOps.rootAndDepth(edges, "child", "parent")
      .select(col("node"), col("root"), col("depth"))
  }

  /** Merge-on-read engine round-trip: the events table as a 4-batch change
    * feed (event_type 'error' ↦ delete, else upsert; lsn = event_id) is
    * replayed through CdcApply in MoR mode — each batch APPENDS per-bucket
    * delta files, two buckets are folded mid-stream so the read spans
    * folded AND raw chains — and the resolved table (LakeTable.read →
    * LwwResolve) must equal plain SQL LWW over the same events. This routes
    * the oracle gate through the actual ingest engine (same per-key
    * semantics as q35, but computed by the MoR write/read paths instead of
    * one window). */
  def q51MorRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q51-mor-${System.nanoTime()}")
    val maxId = ev.agg(max("_lsn")).head().getLong(0)
    val step = maxId / 4 + 1
    (0 until 4).foreach { k =>
      graft.cdc.CdcApply.apply(lake,
        ev.filter(col("_lsn") >= k * step && col("_lsn") < (k + 1) * step),
        epoch = k + 1, nBuckets = 16, mor = true)
      if (k == 1) // mixed read: two folded buckets next to raw delta chains
        graft.cdc.CdcApply.foldBuckets(lake, Set(0, 1))
    }
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** Zone-map range scan through the engine: the events feed (same LWW
    * mapping as q51, deletes for 'error') is replayed into a COPY-ON-WRITE
    * lake carrying the real `ts` column, then read back through
    * `LakeTable.scanRange("ts", …)` — the per-file INT64 zone maps collected
    * from the parquet footers at write prune files whose [min,max] misses
    * the window, and the residual filter makes the result EXACTLY equal to
    * a full-scan filter. The oracle is plain SQL LWW + a ts predicate, so
    * the gate covers both the winner election and the pruned read path. */
  def q52ZoneScan(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("ts").cast("timestamp").as("ts"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q52-zone-${System.nanoTime()}")
    val maxId = ev.agg(max("_lsn")).head().getLong(0)
    val step = maxId / 4 + 1
    (0 until 4).foreach { k =>
      graft.cdc.CdcApply.apply(lake,
        ev.filter(col("_lsn") >= k * step && col("_lsn") < (k + 1) * step),
        epoch = k + 1, nBuckets = 16)
    }
    def us(iso: String): Long = java.time.LocalDateTime.parse(iso)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    lake.scanRange("ts", us("2024-01-10T00:00:00"), us("2024-01-20T00:00:00"))
      .select(col("conv_id"), col("turn_idx"),
        col("_lsn").as("winner_lsn"), unix_micros(col("ts")).as("ts_us"))
  }

  /** Filtered/projected replica maintained from the change feed: the events
    * LWW feed (as in q51) replays into a source lake batch by batch, and
    * after EVERY batch `Replica.refresh` folds the snapshot diff into a
    * mirror holding only 'click' winners — rows entering, leaving (an
    * update away from 'click' must DELETE the mirrored row) and deleted at
    * the source all flow through the same epoch-fenced MERGE. Oracle: plain
    * SQL LWW + the predicate. Reference analogue: user-cache-updater
    * mirrors entity subsets into Redis from the same stream. */
  def q53ReplicaMirror(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("value"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val tag = System.nanoTime()
    val source = new graft.lake.LakeTable(s, s"target/q53-src-$tag")
    val replica = new graft.lake.LakeTable(s, s"target/q53-rep-$tag")
    val maxId = ev.agg(max("_lsn")).head().getLong(0)
    val step = maxId / 4 + 1
    (0 until 4).foreach { k =>
      graft.cdc.CdcApply.apply(source,
        ev.filter(col("_lsn") >= k * step && col("_lsn") < (k + 1) * step),
        epoch = k + 1, nBuckets = 16)
      graft.cdc.Replica.refresh(s, source, replica,
        "event_type = 'click'", Seq("event_type", "value"), nBuckets = 8)
    }
    replica.read().select(col("conv_id"), col("turn_idx"),
      col("event_type"), col("value"))
  }

  /** Exactly-once change-feed drain through the engine: the events LWW feed
    * replays in two halves (split at max lsn / 2); a downstream consumer
    * drains after each, so the SECOND delta batch is exactly the per-key
    * difference between the two LWW elections — inserted / updated /
    * deleted with pre/post lsn. The oracle is the same split as a FULL
    * OUTER JOIN of two window elections in plain SQL. Reference analogue:
    * re-emitting each processed batch's deltas to downstream topics. */
  def q54FollowDelta(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val tag = System.nanoTime()
    val lake = new graft.lake.LakeTable(s, s"target/q54-lake-$tag")
    val consumer = s"target/q54-consumer-$tag"
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") <= mid),
      epoch = 1, nBuckets = 16)
    graft.lake.ChangeFeedFollower.drain(s, lake, consumer)
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") > mid),
      epoch = 2, nBuckets = 16)
    val st = graft.lake.ChangeFeedFollower.drain(s, lake, consumer).get
    s.read.parquet(st.out).select(col("conv_id"), col("turn_idx"),
      col("action"), col("pre_lsn"), col("post_lsn"))
  }

  /** SQL surface with transparent pushdown: the events LWW feed ingests
    * into a lake, then a PURE SQL query over `GraftSql.table`'s temp view
    * (WHERE on the `_lsn` zone column + a residual type predicate) must
    * equal the plain-SQL election with the same WHERE — the DSv2 scan's
    * plan-time file pruning (graft.sources.GraftScan) is semantically
    * invisible by construction, and this row pins that through the
    * driver's oracle. */
  def q55SqlPushdown(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val tag = System.nanoTime()
    val lake = new graft.lake.LakeTable(s, s"target/q55-lake-$tag")
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.sql.GraftSql.table(s, lake.root)
      .createOrReplaceTempView(s"q55_lake_$tag")
    s.sql(
      s"""SELECT conv_id, turn_idx, event_type, _lsn AS lsn
         |FROM q55_lake_$tag
         |WHERE _lsn >= $mid AND event_type <> 'purchase'""".stripMargin)
  }

  /** Rename evolution through the engine: batch 1 of the events feed lands
    * with `event_type`, the column is RENAMED to `etype` (metadata-only —
    * old data files resolve it by stable field id, zero rewrite,
    * LakeTable.renameColumn), batch 2 merges under the NEW name, and the
    * final read must equal plain SQL LWW over ALL events with the column
    * simply aliased — both file generations serve one logical column. */
  def q56RenameEvolve(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q56-ren-${System.nanoTime()}")
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") < mid),
      epoch = 1, nBuckets = 16)
    lake.renameColumn("event_type", "etype")
    graft.cdc.CdcApply.apply(lake,
      ev.filter(col("_lsn") >= mid).withColumnRenamed("event_type", "etype"),
      epoch = 2, nBuckets = 16)
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("etype"))
  }

  /** JSON-envelope source through the engine: the events feed rendered as
    * Debezium-style envelope STRINGS (op c/u/d, before/after images,
    * source.lsn), parsed by `JsonChangelog.parseLines` and replayed through
    * the same epoch-fenced merge — final state must equal plain SQL LWW.
    * The reference's native input shape (JSON event envelopes,
    * jobs-core Event.scala:7-93) covered by the oracle gate end-to-end. */
  def q57JsonEnvelope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val row = struct(col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"))
    val lines = t(s, dir, "events").select(to_json(struct(
      when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"),
      when(col("event_type") === "error", row).otherwise(lit(null)).as("before"),
      when(col("event_type") =!= "error", row).otherwise(lit(null)).as("after"),
      struct(col("event_id").as("lsn"),
        pmod(col("event_id"), lit(8)).cast("int").as("part"),
        col("event_id").as("off")).as("source"))).as("value"))
    val rowSchema = StructType(Seq( // events.user_id is int64 — generic keys
      StructField("conv_id", LongType), StructField("turn_idx", IntegerType),
      StructField("event_type", StringType)))
    val batch = graft.changelog.JsonChangelog.parseLines(lines, rowSchema)
    val lake = new graft.lake.LakeTable(s,
      s"target/q57-json-${System.nanoTime()}")
    graft.cdc.CdcApply.apply(lake, batch, epoch = 1, nBuckets = 16)
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** SQL DML through the engine: the events LWW feed ingests into a lake,
    * then a predicate DELETE tombstones part of the table and a predicate
    * UPDATE rewrites another part (`GraftDml.sql` — parsed statements
    * compiled into ONE synthesized maintenance batch each, through the same
    * epoch-fenced merge as source batches; matched reads file-prune via
    * GraftSql, writes touch only matched buckets). Oracle: the plain-SQL
    * election with the same predicates applied relationally. Reference
    * analogue: admin-triggered state rewrites
    * (merge-user-courses MergeOperations.scala:49-99). */
  def q58DmlMutation(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("value"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q58-dml-${System.nanoTime()}")
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    graft.sql.GraftDml.sql(lake,
      "DELETE FROM lake WHERE event_type = 'view' AND turn_idx < 5")
    graft.sql.GraftDml.sql(lake,
      "UPDATE lake SET value = value * 2 WHERE event_type = 'click'")
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("event_type"), col("value"))
  }

  /** Snapshot rollback through the engine: batch 1 lands and is TAGGED, a
    * bad batch 2 lands on top, the table ROLLS BACK to the tag (a new
    * snapshot carrying the tagged state, epoch rewound), and the corrected
    * batch 2 replays at the very epoch the bad one consumed. Oracle: the
    * election over (first half ∪ corrected second half) in plain SQL —
    * the bad rows must leave no trace in the final state. */
  def q59Rollback(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q59-rb-${System.nanoTime()}")
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") <= mid),
      epoch = 1, nBuckets = 16)
    lake.tag("pre-batch2")
    // the "bad" second half: every event's type corrupted
    graft.cdc.CdcApply.apply(lake,
      ev.filter(col("_lsn") > mid).withColumn("event_type", lit("CORRUPT")),
      epoch = 2, nBuckets = 16)
    lake.rollbackTo(lake.tags("pre-batch2"))
    // corrected second half (clicks only) replays at the undone epoch
    graft.cdc.CdcApply.apply(lake,
      ev.filter(col("_lsn") > mid && col("event_type") === "click"),
      epoch = 2, nBuckets = 16)
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** Table-level CHECK constraint through the engine: a constraint is
    * installed BEFORE the replay, and every event violating it is
    * dead-lettered by the merge's validation pass (reason `check:<name>`)
    * instead of merging — so the final state is the election over
    * conforming events only. Oracle: the same election with the constraint
    * as a relational predicate on the feed. Reference analogue: per-event
    * isValidEvent guards ahead of state writes
    * (EnrolmentReconciliationFn.scala:67). */
  def q60CheckConstraint(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q60-chk-${System.nanoTime()}")
    lake.addCheck("turn_lt18", "turn_idx < 18")
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** Generalized materialized view through the engine: a two-batch replay
    * maintains `v(conv_id, n_turns, max_turn, last_lsn)` per batch at
    * O(touched buckets) (graft.cdc.MatView), and the final view must equal
    * the same aggregates computed from scratch over the LWW election —
    * the reference's per-job hand-written aggregates
    * (ActivityAggregatesFunction.scala:55-119) as a declared contract. */
  def q61MatView(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q61-mv-${System.nanoTime()}")
    val view = new graft.lake.LakeTable(s,
      s"target/q61-mvv-${System.nanoTime()}")
    val cfg = Some(graft.cdc.MatView.Config(Seq(
      graft.cdc.MatView.AggCol("n_turns", "count(*)"),
      graft.cdc.MatView.AggCol("max_turn", "max(turn_idx)"),
      graft.cdc.MatView.AggCol("last_lsn", "max(_lsn)"))))
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    val st1 = graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") <= mid),
      epoch = 1, nBuckets = 16)
    graft.cdc.MatView.maintain(s, lake, view, st1.touchedSet, aggs = cfg)
    val st2 = graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") > mid),
      epoch = 2, nBuckets = 16)
    graft.cdc.MatView.maintain(s, lake, view, st2.touchedSet, aggs = cfg)
    view.read().select("conv_id", "n_turns", "max_turn", "last_lsn")
  }

  /** Dead-letter replay through the engine: a CHECK constraint quarantines
    * part of the feed, the constraint is dropped (the "fix"), and
    * graft.cdc.Requeue merges the dead letters at their ORIGINAL lsns — so
    * the final state equals the election over the FULL feed, as if the
    * constraint had never existed (LWW makes the replay order-indifferent).
    * Reference analogue: failed-event topics re-consumed after a fix. */
  def q62Requeue(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q62-rq-${System.nanoTime()}")
    lake.addCheck("turn_lt18", "turn_idx < 18")
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    lake.dropCheck("turn_lt18")
    graft.cdc.Requeue.requeue(lake, 1L)
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** Write-audit-publish through a writable branch: half the feed lands on
    * main, the rest is staged on a BRANCH (shallow metadata fork) and
    * fast-forward-published — the final main state must equal the election
    * over the whole feed, byte-for-byte as if no branch existed. */
  def q63BranchWap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val main = new graft.lake.LakeTable(s,
      s"target/q63-br-${System.nanoTime()}")
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(main, ev.filter(col("_lsn") <= mid),
      epoch = 1, nBuckets = 16)
    graft.lake.Branch.create(main, "stage")
    val branch = graft.lake.Branch.table(main, "stage")
    graft.cdc.CdcApply.apply(branch, ev.filter(col("_lsn") > mid),
      epoch = 2, nBuckets = 16)
    graft.lake.Branch.publish(main, "stage")
    main.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** Multi-feed ingest through the engine: the feed is split between two
    * NAMED sources applied out of lockstep — each fences on its own
    * per-source epoch — and the final state must equal the election over
    * the whole feed, as if one feed had carried it all. */
  def q64MultiSource(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q64-ms-${System.nanoTime()}")
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    // feed B's partitions namespaced, applied FIRST (out of lsn order —
    // LWW makes the interleaving irrelevant), then feed A in two batches
    graft.cdc.CdcApply.apply(lake,
      ev.filter(col("_lsn") > mid)
        .withColumn("_src_part", col("_src_part") + lit(1000)),
      epoch = 1, nBuckets = 16, source = Some("backfill"))
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") <= mid / 2),
      epoch = 1, nBuckets = 16, source = Some("live"))
    graft.cdc.CdcApply.apply(lake,
      ev.filter(col("_lsn") > mid / 2 && col("_lsn") <= mid),
      epoch = 2, nBuckets = 16, source = Some("live"))
    // redelivery of either feed is fenced per source
    graft.cdc.CdcApply.apply(lake,
      ev.filter(col("_lsn") > mid)
        .withColumn("_src_part", col("_src_part") + lit(1000)),
      epoch = 1, nBuckets = 16, source = Some("backfill"))
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("_lsn").as("winner_lsn"), col("event_type").as("winner_type"))
  }

  /** Map put-all patch semantics through the ENGINE (reference:
    * `QueryBuilder.putAll` map<text,int> upserts,
    * ActivityAggregatesFunction.scala:301-310): the events table becomes a
    * patch feed carrying a one-entry map per event ('signup' = patch,
    * 'error' = delete, else full image; key = 'k'||lsn%3, value = cents;
    * a patch with lsn%5==0 CLEARS the map via unset_cols). The feed replays
    * in 4 lsn-ordered batches through CdcApply with the attrs column under
    * the put-all contract, so patches MERGE entries instead of replacing —
    * output is the final maps exploded to (key, value) pairs, which the
    * oracle reproduces as a per-map-key election in plain SQL. */
  def q65MapPutAll(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D"))
        .when(col("event_type") === "signup", lit("P"))
        .otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(7)).cast("int").as("turn_idx"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"),
      coalesce(cents(col("value")), lit(0L)).as("v"))
    val isUnset = col("op") === lit("P") && pmod(col("_lsn"), lit(5)) === 0
    val feed = ev.select(col("op"), col("conv_id"), col("turn_idx"),
      when(!isUnset && col("op") =!= lit("D"),
        map(concat(lit("k"), pmod(col("_lsn"), lit(3)).cast("string")),
          col("v"))).as("attrs"),
      when(isUnset, array(lit("attrs")))
        .otherwise(lit(null).cast("array<string>"))
        .as(graft.model.Schemas.UnsetCol),
      col("_lsn"), col("_src_part"), col("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q65-map-${System.nanoTime()}")
    lake.setMapPutAll("attrs")
    val maxId = feed.agg(max("_lsn")).head().getLong(0)
    val step = maxId / 4 + 1
    (0 until 4).foreach { k =>
      graft.cdc.CdcApply.apply(lake,
        feed.filter(col("_lsn") >= k * step && col("_lsn") < (k + 1) * step),
        epoch = k + 1, nBuckets = 16, patchEnabled = true)
    }
    lake.read().select(col("conv_id"), col("turn_idx"),
        explode(col("attrs")))
      .withColumnRenamed("key", "k").withColumnRenamed("value", "v")
  }

  /** SQL INSERT INTO + MERGE INTO through the engine (GraftDml): the events
    * LWW feed seeds a lake; INSERT upserts synthetic admin rows; MERGE INTO
    * (sourced from a registered view of 'click' winners) doubles matched
    * rows' value and inserts unmatched keys — all as maintenance merges.
    * Oracle: the same three steps composed in plain SQL. */
  def q66InsertMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      cents(col("value")).as("v_cents"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q66-im-${System.nanoTime()}")
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    // INSERT: two admin rows under a conv id the feed never uses (negative)
    // — INSERT over a CDC table is an upsert by construction
    graft.sql.GraftDml.sql(lake,
      "INSERT INTO lake (conv_id, turn_idx, event_type, v_cents) VALUES " +
      "(CAST(-777 AS BIGINT), 0, 'manual', CAST(12345 AS BIGINT)), " +
      "(CAST(-777 AS BIGINT), 1, 'manual', CAST(67890 AS BIGINT))")
    // MERGE: source = per-conv click spend at turn 0 — most convs have a
    // live turn 0 (UPDATE leg), some have it tombstoned or absent (INSERT
    // leg resurrects/creates with event_type null)
    t(s, dir, "events").filter(col("event_type") === "click")
      .groupBy(col("user_id").as("conv_id"))
      .agg(lit(0).cast("int").as("turn_idx"),
        sum(cents(col("value"))).as("v_cents"))
      .createOrReplaceTempView("click_spend")
    graft.sql.GraftDml.sql(lake,
      "MERGE INTO lake AS t USING click_spend AS s " +
      "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx " +
      "WHEN MATCHED THEN UPDATE SET v_cents = s.v_cents " +
      "WHEN NOT MATCHED THEN INSERT *")
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("event_type"), col("v_cents"))
  }

  /** Nested-type evolution through the ENGINE: the feed's struct column
    * grows mid-stream — batch 1 carries meta=struct<src:string, n:int>,
    * batch 2 carries meta=struct<src:string, n:bigint, extra:string> with
    * values beyond int32 — so the second apply exercises nested additive
    * adoption + nested int→long widening (Schemas.widen struct recursion),
    * and the read resolves batch-1 files under the WIDER schema (nested
    * upcast + null-filled new field). Output is flattened so the oracle is
    * a plain LWW election in DuckDB SQL (reference UDT-struct analogue:
    * AssessmentAggregatorFunction.scala:222-231). */
  def q67NestedEvolve(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(5)).cast("int").as("turn_idx"),
      col("event_type"),
      coalesce(cents(col("value")), lit(0L)).as("cents"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val cut = ev.agg(max("_lsn")).head().getLong(0) / 2
    val b1 = ev.filter(col("_lsn") < cut).select(col("op"), col("conv_id"),
      col("turn_idx"),
      struct(col("event_type").as("src"),
        col("cents").cast("int").as("n")).as("meta"),
      col("_lsn"), col("_src_part"), col("_src_off"))
    val b2 = ev.filter(col("_lsn") >= cut).select(col("op"), col("conv_id"),
      col("turn_idx"),
      struct(col("event_type").as("src"),
        (col("cents") + 3000000000L).as("n"),
        upper(col("event_type")).as("extra")).as("meta"),
      col("_lsn"), col("_src_part"), col("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      s"target/q67-ne-${System.nanoTime()}")
    graft.cdc.CdcApply.apply(lake, b1, epoch = 1, nBuckets = 16)
    graft.cdc.CdcApply.apply(lake, b2, epoch = 2, nBuckets = 16)
    lake.read().select(col("conv_id"), col("turn_idx"),
      col("meta.src").as("src"), col("meta.n").as("n"),
      col("meta.extra").as("extra"))
  }

  /** V2 catalog read path end-to-end, on a MERGE-ON-READ lake: two waves of
    * the events feed build real multi-file delta chains, then the rows come
    * back through `graft.sources.GraftCatalog` — plain SQL over
    * `graft.`path``, no session extensions — whose partition readers
    * resolve the LWW election per bucket with ZERO shuffle
    * (GraftScan/GraftReaderFactory). Equality with the plain-SQL election
    * proves the reader's chain resolution, tombstone filtering, pruning
    * residuals, and projection are all invisible. */
  def q68CatalogScan(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q68-cat-${System.nanoTime()}").getAbsolutePath)
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") < mid),
      epoch = 1, nBuckets = 16, mor = true)
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") >= mid),
      epoch = 2, nBuckets = 16, mor = true)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(
      s"""SELECT conv_id, turn_idx, event_type, _lsn AS lsn
         |FROM graft.`${lake.root}`
         |WHERE event_type <> 'purchase'""".stripMargin)
  }

  /** Storage-partitioned join through the V2 catalog: two lakes sharded
    * identically (16 buckets on conv_id) join on the full key with
    * `spark.sql.sources.v2.bucketing.enabled` — the scans report
    * KeyGroupedPartitioning over the shared `bucket` transform, so the join
    * plans with no exchange (zero-shuffle assertion: GraftCatalogSpec).
    * The oracle reproduces both LWW elections and the join in plain SQL —
    * result equality proves co-partitioned planning changed nothing. */
  def q69SpjJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val tag = System.nanoTime()
    val lakeA = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q69-spj-a-$tag").getAbsolutePath)
    val lakeB = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q69-spj-b-$tag").getAbsolutePath)
    graft.cdc.CdcApply.apply(lakeA, ev, epoch = 1, nBuckets = 16)
    graft.cdc.CdcApply.apply(lakeB,
      ev.filter(col("event_type") === "click"), epoch = 1, nBuckets = 16)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.sql(
      s"""SELECT a.conv_id, a.turn_idx, a.event_type,
         |  a._lsn AS lsn_a, b._lsn AS lsn_b
         |FROM graft.`${lakeA.root}` a JOIN graft.`${lakeB.root}` b
         |  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx""".stripMargin)
  }

  /** `DELETE FROM` through the V2 catalog (SupportsDeleteV2): the analyzed
    * predicate round-trips V2 `Predicate` → SQL (`V2PredicateSql`) into the
    * engine's tombstone merge — the same plan as `GraftDml.sql` DELETE, so
    * the oracle is simply the LWW election minus the deleted predicate. */
  def q70CatalogDelete(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q70-del-${System.nanoTime()}").getAbsolutePath)
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(s"DELETE FROM graft.`${lake.root}` " +
      "WHERE event_type = 'purchase' OR turn_idx >= 15")
    s.sql(
      s"""SELECT conv_id, turn_idx, event_type, _lsn AS lsn
         |FROM graft.`${lake.root}`""".stripMargin)
  }

  /** The `changes` suffix table through the catalog: the snapshot-diff
    * change feed between the two commits, span-addressed with
    * `VERSION AS OF 'from..to'`, carrying the Debezium-style after-image.
    * The oracle reproduces both LWW elections in DuckDB and classifies the
    * full-outer diff. */
  def q71CatalogChanges(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q71-chg-${System.nanoTime()}").getAbsolutePath)
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") < mid),
      epoch = 1, nBuckets = 16)
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") >= mid),
      epoch = 2, nBuckets = 16)
    val ids = lake.snapshots.map(_.snapshotId)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(
      s"""SELECT conv_id, turn_idx, action, pre_lsn, post_lsn,
         |  post_event_type
         |FROM graft.`${lake.root}`.`changes`
         |  VERSION AS OF '${ids.head}..${ids.last}'""".stripMargin)
  }

  /** The change feed consumed through the STRUCTURED STREAMING source
    * (format "graft-changes"): the events LWW feed replays in two halves,
    * then one AvailableNow drain pinned at `startfrom=<first snapshot>`
    * streams exactly the second delta into a parquet sink — the same
    * per-key difference q54 pulls through the follower, now arriving
    * through checkpointed source offsets. Oracle: the q54 full-outer
    * diff of the two elections. */
  def q72StreamChanges(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val base = new java.io.File(
      s"target/q72-sub-${System.nanoTime()}").getAbsolutePath
    val lake = new graft.lake.LakeTable(s, s"$base/lake")
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") <= mid),
      epoch = 1, nBuckets = 16)
    val snap1 = lake.currentSnapshot.get.snapshotId
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") > mid),
      epoch = 2, nBuckets = 16)
    val q = s.readStream.format("graft-changes")
      .option("path", lake.root)
      .option("startfrom", snap1.toString)
      .option("images", "none")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/sink").select(col("conv_id"), col("turn_idx"),
      col("action"), col("pre_lsn"), col("post_lsn"))
  }

  /** Lake→lake CASCADE: the events LWW feed builds an upstream lake in two
    * halves, and after each half a checkpointed streaming drain
    * (`graft-changes` source → GraftCascade.toEvents → `graft` SINK)
    * follows the delta into a downstream LAKE — exactly-once at both ends,
    * deletes included. The downstream live image must equal the upstream
    * one, so the oracle is the plain LWW election with error winners
    * (deletes) dropped — same winner semantics as q35, read from the
    * SECOND lake. */
  def q73Cascade(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val base = new java.io.File(
      s"target/q73-casc-${System.nanoTime()}").getAbsolutePath
    val up = new graft.lake.LakeTable(s, s"$base/up")
    def drain(): Unit = {
      val q = s.readStream.format("graft-changes")
        .option("path", up.root)
        .option("withsnapshot", "true")
        .load()
        .transform(graft.streaming.GraftCascade.toEvents)
        .writeStream.format("graft-lake")
        .option("path", s"$base/down")
        .option("checkpointLocation", s"$base/ckpt")
        .option("nbuckets", "16")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(up, ev.filter(col("_lsn") <= mid),
      epoch = 1, nBuckets = 16)
    drain()
    graft.cdc.CdcApply.apply(up, ev.filter(col("_lsn") > mid),
      epoch = 2, nBuckets = 16)
    drain()
    new graft.lake.LakeTable(s, s"$base/down").read()
      .select(col("conv_id"), col("turn_idx"),
        col("event_type").as("winner_type"))
  }

  /** A selective dimension joined on the bucket-key column through the V2
    * catalog: Spark's dynamic pruning ships the dim's distinct keys to the
    * scan at EXECUTION time ([[graft.sources.GraftScan.filter]]), which
    * hashes each to its bucket with the write path's shard function and
    * drops every untouched bucket (bloom/dictionary evidence then drops
    * files inside survivors). Pruning is IO-only, so the oracle is the
    * plain LWW election restricted to the dim predicate. */
  def q74RuntimePrune(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val tag = System.nanoTime()
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q74-rtf-$tag").getAbsolutePath)
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    // the dim must live on disk: a LocalRelation's selective filter would
    // be constant-folded away before the PartitionPruning rule runs
    val dimDir = new java.io.File(s"target/q74-dim-$tag").getAbsolutePath
    t(s, dir, "events").select(col("user_id").as("conv_id")).distinct()
      .write.mode("overwrite").parquet(dimDir)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.read.parquet(dimDir).createOrReplaceTempView("q74_dim")
    s.sql(
      s"""SELECT t.conv_id, t.turn_idx, t.event_type, t._lsn AS lsn
         |FROM graft.`${lake.root}` t JOIN q74_dim d ON t.conv_id = d.conv_id
         |WHERE CAST(d.conv_id AS STRING) LIKE '%7'""".stripMargin)
  }

  /** Metadata-only COUNT(*): the audited live-row count (change-feed
    * transitions folded per commit) answers a bare `SELECT count(*)`
    * through the V2 catalog from the snapshot JSON — zero data IO
    * ([[graft.sources.GraftCountScan]]). The oracle counts the LWW
    * election the slow way. */
  def q75MetaCount(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q75-cnt-${System.nanoTime()}").getAbsolutePath)
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") < mid),
      epoch = 1, nBuckets = 16)
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") >= mid),
      epoch = 2, nBuckets = 16)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(s"SELECT count(*) AS n FROM graft.`${lake.root}`")
  }

  /** Filtered metadata COUNT: a WHERE whose every conjunct is fully
    * covered by the kept files' zone bounds is CLAIMED by the scan builder
    * and the count answers as the sum of exact per-file live counts —
    * still zero data IO ([[graft.sources.GraftAggScan]]). `turn_idx` spans
    * [0, 19] in every file, so `turn_idx >= 0` covers each one fully while
    * remaining a real predicate to the oracle. */
  def q76MetaCountWhere(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("user_id").as("conv_id"),
      pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
      col("event_type"),
      col("event_id").as("_lsn"),
      pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
      col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q76-cnt-${System.nanoTime()}").getAbsolutePath)
    val mid = ev.agg(max("_lsn")).head().getLong(0) / 2
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") < mid),
      epoch = 1, nBuckets = 16)
    graft.cdc.CdcApply.apply(lake, ev.filter(col("_lsn") >= mid),
      epoch = 2, nBuckets = 16)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(s"""SELECT count(*) AS n FROM graft.`${lake.root}`
             |WHERE turn_idx >= 0 AND _lsn >= 0""".stripMargin)
  }

  /** Metadata MIN/MAX: on a tombstone-free copy-on-write lake (no delete
    * events ingested) min/max of zone-eligible columns fold the per-file
    * zone bounds — zero data IO. The oracle computes the same aggregates
    * over the LWW election. */
  def q77MetaMinMax(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type") =!= "error") // no deletes: tombstone-free
      .select(
        lit("U").as("op"),
        col("user_id").as("conv_id"),
        pmod(col("event_id"), lit(20)).cast("int").as("turn_idx"),
        col("event_type"),
        col("event_id").as("_lsn"),
        pmod(col("event_id"), lit(8)).cast("int").as("_src_part"),
        col("event_id").as("_src_off"))
    val lake = new graft.lake.LakeTable(s,
      new java.io.File(s"target/q77-mm-${System.nanoTime()}").getAbsolutePath)
    graft.cdc.CdcApply.apply(lake, ev, epoch = 1, nBuckets = 16)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(s"""SELECT min(_lsn) AS min_lsn, max(_lsn) AS max_lsn,
             |  min(turn_idx) AS min_turn, max(turn_idx) AS max_turn
             |FROM graft.`${lake.root}`""".stripMargin)
  }

  // ----------------------------------------------------------------- wiring

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_agg" -> (q01PricingAgg _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_explode_wordcount" -> (q03ExplodeWordcount _),
    "q04_checksum" -> (q04Checksum _),
    "q05_slugify" -> (q05Slugify _),
    "q06_lww_latest" -> (q06LwwLatest _),
    "q07_merge_upsert" -> (q07MergeUpsert _),
    "q08_join_dim" -> (q08JoinDim _),
    "q09_join_fact" -> (q09JoinFact _),
    "q10_left_anti" -> (q10LeftAnti _),
    "q11_semi" -> (q11Semi _),
    "q12_full_outer" -> (q12FullOuter _),
    "q13_theta_join" -> (q13ThetaJoin _),
    "q14_argmax" -> (q14Argmax _),
    "q15_rollup" -> (q15Rollup _),
    "q16_set_ops" -> (q16SetOps _),
    "q17_topk" -> (q17TopK _),
    "q18_distinct" -> (q18Distinct _),
    "q19_union_evolve" -> (q19UnionEvolve _),
    "q20_json_path" -> (q20JsonPath _),
    "q21_window_time" -> (q21WindowTime _),
    "q22_dedup_exact" -> (q22DedupExact _),
    "q23_minhash_lsh" -> (q23MinhashLsh _),
    "q24_simhash" -> (q24Simhash _),
    "q25_simhash_pairs" -> (q25SimhashPairs _),
    "q26_ngram_jaccard" -> (q26NgramJaccard _),
    "q27_embed_neardup" -> (q27EmbedNeardup _),
    "q28_ann_brute" -> (q28AnnBrute _),
    "q29_ann_lsh" -> (q29AnnLsh _),
    "q30_text_quality" -> (q30TextQuality _),
    "q31_lang_id" -> (q31LangId _),
    "q32_fingerprint" -> (q32Fingerprint _),
    "q33_multimodal" -> (q33Multimodal _),
    "q34_hierarchy" -> (q34Hierarchy _),
    "q35_transcript_lww" -> (q35TranscriptLww _),
    "q36_sessionize" -> (q36Sessionize _),
    "q37_dedup_clusters" -> (q37DedupClusters _),
    "q38_percentiles" -> (q38Percentiles _),
    "q39_pivot" -> (q39Pivot _),
    "q40_range_join" -> (q40RangeJoin _),
    "q41_ann_ivf" -> (q41AnnIvf _),
    "q42_quarantine" -> (q42Quarantine _),
    "q43_patch_merge" -> (q43PatchMerge _),
    "q44_change_feed" -> (q44ChangeFeed _),
    "q45_pii_scrub" -> (q45PiiScrub _),
    "q46_decontaminate" -> (q46Decontaminate _),
    "q47_repetition" -> (q47Repetition _),
    "q48_split" -> (q48Split _),
    "q49_search_topk" -> (q49SearchTopk _),
    "q50_graph_reach" -> (q50GraphReach _),
    "q51_mor_roundtrip" -> (q51MorRoundtrip _),
    "q52_zone_scan" -> (q52ZoneScan _),
    "q53_replica_mirror" -> (q53ReplicaMirror _),
    "q54_follow_delta" -> (q54FollowDelta _),
    "q55_sql_pushdown" -> (q55SqlPushdown _),
    "q56_rename_evolve" -> (q56RenameEvolve _),
    "q57_json_envelope" -> (q57JsonEnvelope _),
    "q58_dml_mutation" -> (q58DmlMutation _),
    "q59_rollback" -> (q59Rollback _),
    "q60_check_constraint" -> (q60CheckConstraint _),
    "q61_matview" -> (q61MatView _),
    "q62_requeue" -> (q62Requeue _),
    "q63_branch_wap" -> (q63BranchWap _),
    "q64_multi_source" -> (q64MultiSource _),
    "q65_map_putall" -> (q65MapPutAll _),
    "q66_insert_merge" -> (q66InsertMerge _),
    "q67_nested_evolve" -> (q67NestedEvolve _),
    "q68_catalog_scan" -> (q68CatalogScan _),
    "q69_spj_join" -> (q69SpjJoin _),
    "q70_catalog_delete" -> (q70CatalogDelete _),
    "q71_catalog_changes" -> (q71CatalogChanges _),
    "q72_stream_changes" -> (q72StreamChanges _),
    "q73_cascade" -> (q73Cascade _),
    "q74_runtime_prune" -> (q74RuntimePrune _),
    "q75_meta_count" -> (q75MetaCount _),
    "q76_meta_count_where" -> (q76MetaCountWhere _),
    "q77_meta_minmax" -> (q77MetaMinMax _)
  )
}
