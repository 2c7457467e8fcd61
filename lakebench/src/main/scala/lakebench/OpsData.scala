package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star-schema tables for the operator queries (graft.Queries): the
  * TPC-H-shaped region/nation/customer/supplier/part/orders/lineitem plus
  * events, documents and embeddings, one parquet directory each, with the
  * column names and types the queries read. Every value is a pure
  * expression of the row index and the seed, so one seed gives the same
  * tables at any parallelism. Sizes match the 0.01 scale factor, except
  * documents and embeddings (250 rows: the similarity queries are
  * quadratic in them). */
object OpsData {
  private val words = Seq("the", "fast", "key", "order", "sort", "table", "scan",
    "merge", "part", "window", "small", "hash", "join", "batch", "stream", "spark",
    "dup", "group", "query", "row", "data", "slow", "filter", "customer", "line",
    "value", "agg", "column", "big", "vector", "a")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val id = col("id")
    def h(c: Column, salt: String): Column = xxhash64(c, lit(seed), lit(salt))
    def u(salt: String): Column = pmod(h(id, salt), lit(1000000L)).cast("double") / 1e6
    def int(salt: String, n: Int): Column = pmod(h(id, salt), lit(n.toLong)).cast("int")
    def pick(salt: String, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), int(salt, xs.size) + 1)
    def money(salt: String, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt) * (hi - lo), 2)
    def days(from: String, salt: String, n: Int): Column =
      timestamp_seconds(unix_timestamp(lit(from), "yyyy-MM-dd") + int(salt, n).cast("long") * 86400L)
    def rows(n: Long): DataFrame = spark.range(n).toDF()
    def out(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    out("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")))
    out("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    out("customer", rows(1500).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      int("cn", 25).as("c_nationkey"), money("cb", -999, 9999).as("c_acctbal"),
      pick("cs", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    out("supplier", rows(100).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      int("sn", 25).as("s_nationkey"), money("sb", -999, 9999).as("s_acctbal")))
    out("part", rows(2000).select(id.as("p_partkey"),
      concat_ws(" ", pick("pa", Seq("red", "blue", "hot", "old", "small", "large", "green", "dark")),
        pick("pn", Seq("widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "pipe")))
        .as("p_name"),
      concat(lit("Brand#"), (int("pb", 25) + 1).cast("string")).as("p_brand"),
      pick("pt", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (int("ps", 50) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    out("orders", rows(15000).select(id.as("o_orderkey"),
      pmod(h(id, "oc"), lit(1500L)).as("o_custkey"),
      pick("os", Seq("F", "O", "P")).as("o_orderstatus"),
      money("op", 1000, 500000).as("o_totalprice"),
      days("1995-01-01", "od", 2404).as("o_orderdate"),
      pick("opr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    val qty = (int("lq", 50) + 1).cast("double")
    out("lineitem", rows(60000).select(pmod(h(id, "lo"), lit(15000L)).as("l_orderkey"),
      pmod(h(id, "lp"), lit(2000L)).as("l_partkey"),
      pmod(h(id, "ls"), lit(100L)).as("l_suppkey"),
      (int("ln", 7) + 1).as("l_linenumber"), qty.as("l_quantity"),
      round(qty * money("le", 900, 2100), 2).as("l_extendedprice"),
      (int("ld", 11) / 100.0).as("l_discount"), (int("lt", 9) / 100.0).as("l_tax"),
      pick("lr", Seq("R", "A", "N")).as("l_returnflag"),
      pick("lst", Seq("O", "F")).as("l_linestatus"),
      days("1995-01-02", "lsd", 2498).as("l_shipdate")))
    out("events", rows(10000).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pmod(h(id, "et"), lit(2592000000000L)))
        .as("ts"),
      pmod(h(id, "eu"), lit(150L)).as("user_id"),
      pick("ety", Seq("click", "view", "signup", "purchase", "error")).as("event_type"),
      money("ev", 0.01, 490.02).as("value"),
      concat(lit("{\"k\": "), int("ek", 100).cast("string"), lit("}")).as("props")))
    val vocab = array(words.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), int("dl", 73) + 8),
      w => element_at(vocab, (pmod(xxhash64(id, w, lit(seed)), lit(words.size.toLong)) + 1)
        .cast("int"))))
    out("documents", rows(250).select(id.as("doc_id"), text.as("text"),
      pick("dg", Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val raw = transform(sequence(lit(0), lit(63)),
      i => (pmod(xxhash64(id, i, lit(seed)), lit(2000001L)) - 1000000L).cast("double"))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    out("embeddings", rows(250).select(id.as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      int("el", 10).as("label")))
  }
}
