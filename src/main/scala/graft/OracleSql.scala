package graft

/**
 * DuckDB oracle SQL mirroring each entry in [[Queries.all]]. Column names
 * and value computations are kept in exact parity with the Spark plans:
 * integer quantization before sums, integer threshold cross-multiplication,
 * identical regex dialect subset, identical md5-derived hashes, identical
 * tie-break orderings. See Queries.scala's determinism contract.
 */
object OracleSql {

  /** Normalized text (mirror of TextFunctions.normalized). */
  private def norm(c: String) =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"

  /** Whitespace tokens (mirror of TextFunctions.tokens). */
  private def toks(c: String) = s"regexp_split_to_array(trim(lower($c)), '\\s+')"

  private def hex4(c: String) =
    s"((strpos('0123456789abcdef', substring($c,1,1))-1)*4096 + " +
      s"(strpos('0123456789abcdef', substring($c,2,1))-1)*256 + " +
      s"(strpos('0123456789abcdef', substring($c,3,1))-1)*16 + " +
      s"(strpos('0123456789abcdef', substring($c,4,1))-1))"

  private def lex(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
  private val en = lex(graft.functions.TextFunctions.stopwordsEn)
  private val fr = lex(graft.functions.TextFunctions.stopwordsFr)
  private val es = lex(graft.functions.TextFunctions.stopwordsEs)
  private val de = lex(graft.functions.TextFunctions.stopwordsDe)

  private def cents(c: String) = s"CAST(round(($c)*100) AS BIGINT)"

  /** Word shingle table (doc_id, s): distinct word-3-grams of normalized text. */
  private val wsh3 =
    s"""wsplit AS (SELECT doc_id, regexp_split_to_array(${norm("text")}, ' ') AS w FROM documents),
       |wsh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
       |        FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w)-2,1)+1)) AS i FROM wsplit)
       |        WHERE len(w[i:i+2]) = 3),
       |cnt AS (SELECT doc_id, count(*) AS c FROM wsh GROUP BY 1)""".stripMargin

  /** Quantized embedding components (vec_id, i, x) + norms (vec_id, nrm). */
  private val qvec =
    s"""q AS (SELECT vec_id, i, CAST(round(embedding[i+1]::DOUBLE * 100) AS BIGINT) AS x
       |      FROM embeddings, generate_series(0, 63) t(i)),
       |n AS (SELECT vec_id, CAST(sum(x*x) AS BIGINT) AS nrm FROM q GROUP BY 1)""".stripMargin

  /** 16-bit simhash per doc (doc_id, simhash) — mirror of DedupOps.simhash. */
  private val simhash16 =
    s"""tok AS (SELECT doc_id, unnest(${toks("text")}) AS w FROM documents),
       |tv AS (SELECT doc_id, ${hex4("md5(w)")} AS v FROM tok),
       |bits AS (SELECT doc_id, b, sum(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM tv, generate_series(0, 15) tb(b) GROUP BY 1, 2),
       |sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |       FROM bits GROUP BY 1)""".stripMargin

  val all: Map[String, String] = Map(
    "q01_pricing_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  CAST(sum(${cents("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
         |  CAST(sum(${cents("l_extendedprice*(1.0-l_discount)")}) AS BIGINT) AS sum_disc_cents,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY 1, 2""".stripMargin,

    "q02_filter_project" ->
      s"""SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
         |  strftime(o_orderdate, '%Y-%m') AS o_month,
         |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'hot' ELSE 'cold' END AS priority_class,
         |  ${cents("o_totalprice")} AS total_cents
         |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100.0""".stripMargin,

    "q03_explode_wordcount" ->
      s"""SELECT word, count(*) AS n FROM (
         |  SELECT unnest(${toks("text")}) AS word FROM documents)
         |WHERE length(word) > 0 GROUP BY 1""".stripMargin,

    "q04_checksum" ->
      s"""SELECT event_type, count(*) AS n, count(DISTINCT ck) AS n_distinct FROM (
         |  SELECT event_type,
         |    md5(user_id::VARCHAR || '|' || event_type || '|' || event_id::VARCHAR) AS ck
         |  FROM events) GROUP BY 1""".stripMargin,

    "q05_slugify" ->
      s"""SELECT p_partkey,
         |  regexp_replace(regexp_replace(regexp_replace(trim(lower(p_name)),
         |    '[^a-z0-9\\s-]', '', 'g'), '[\\s-]+', '-', 'g'), '^-|-$$', '', 'g') AS slug
         |FROM part""".stripMargin,

    "q06_lww_latest" ->
      s"""SELECT user_id, event_id AS last_event_id, event_type AS last_event_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin,

    "q07_merge_upsert" ->
      s"""WITH state AS (SELECT user_id, event_id, event_type FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |    FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1),
         |batch AS (SELECT user_id, event_id, event_type FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |    FROM events WHERE ts >= TIMESTAMP '2024-01-15') WHERE rn = 1)
         |SELECT * FROM (
         |  SELECT coalesce(s.user_id, b.user_id) AS user_id,
         |    coalesce(b.event_id, s.event_id) AS final_event_id,
         |    coalesce(b.event_type, s.event_type) AS final_event_type,
         |    CASE WHEN b.event_id IS NOT NULL AND s.event_id IS NOT NULL THEN 'updated'
         |         WHEN b.event_id IS NOT NULL THEN 'inserted'
         |         ELSE 'carried' END AS merge_action
         |  FROM state s FULL OUTER JOIN batch b ON s.user_id = b.user_id)
         |WHERE final_event_type <> 'error'""".stripMargin,

    "q08_join_dim" ->
      s"""SELECT r_name, n_name,
         |  CAST(sum(${cents("l_extendedprice*(1.0-l_discount)")}) AS BIGINT) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2""".stripMargin,

    "q09_join_fact" ->
      s"""SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1""".stripMargin,

    "q10_left_anti" ->
      s"""SELECT c_mktsegment, count(*) AS n_no_orders FROM customer
         |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
         |GROUP BY 1""".stripMargin,

    "q11_semi" ->
      s"""SELECT n_name, count(*) AS n_customers
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         |GROUP BY 1""".stripMargin,

    "q12_full_outer" ->
      s"""WITH po AS (SELECT o_custkey AS custkey, count(*) AS n_orders,
         |    CAST(sum(${cents("o_totalprice")}) AS BIGINT) AS ordered_cents
         |  FROM orders GROUP BY 1),
         |c AS (SELECT c_custkey AS custkey, ${cents("c_acctbal")} AS acct_cents FROM customer)
         |SELECT coalesce(c.custkey, po.custkey) AS custkey,
         |  coalesce(n_orders, 0) AS n_orders,
         |  coalesce(ordered_cents, 0) AS ordered_cents,
         |  coalesce(acct_cents, 0) AS acct_cents
         |FROM c FULL OUTER JOIN po ON c.custkey = po.custkey""".stripMargin,

    "q13_theta_join" ->
      s"""WITH criteria(priority, min_total) AS (VALUES
         |  ('1-URGENT', 50000.0), ('2-HIGH', 100000.0), ('3-MEDIUM', 150000.0),
         |  ('4-NOT SPECIFIED', 200000.0), ('5-LOW', 250000.0))
         |SELECT priority, count(*) AS n_qualifying,
         |  CAST(sum(${cents("o_totalprice")}) AS BIGINT) AS sum_cents
         |FROM orders JOIN criteria
         |  ON o_orderpriority = priority AND o_totalprice >= min_total
         |GROUP BY 1""".stripMargin,

    "q14_argmax" ->
      s"""SELECT custkey, best_orderkey, best_cents, n_orders FROM (
         |  SELECT o_custkey AS custkey, o_orderkey AS best_orderkey,
         |    ${cents("o_totalprice")} AS best_cents,
         |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
         |    count(*) OVER (PARTITION BY o_custkey) AS n_orders
         |  FROM orders) WHERE rn = 1""".stripMargin,

    "q15_rollup" ->
      s"""SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
         |  count(*) AS n, CAST(sum(${cents("c_acctbal")}) AS BIGINT) AS bal_cents
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,

    "q16_set_ops" ->
      s"""WITH segs AS (
         |  SELECT n_name, list_sort(list(DISTINCT c_mktsegment)) AS segs
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
         |SELECT n_name,
         |  array_to_string(segs, ',') AS segments_present,
         |  coalesce(array_to_string(list_filter(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'],
         |    x -> NOT list_contains(segs, x)), ','), '') AS segments_missing,
         |  CAST(len(list_filter(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'],
         |    x -> list_contains(segs, x))) AS INT) AS n_present
         |FROM segs""".stripMargin,

    "q17_topk" ->
      s"""SELECT o_orderkey, ${cents("o_totalprice")} AS total_cents
         |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q18_distinct" ->
      "SELECT DISTINCT event_type, strftime(ts, '%Y-%m-%d') AS day FROM events",

    "q19_union_evolve" ->
      s"""WITH v1 AS (SELECT event_id, event_type, NULL::BIGINT AS value_cents
         |  FROM events WHERE ts < TIMESTAMP '2024-01-15'),
         |v2 AS (SELECT event_id, event_type, ${cents("value")} AS value_cents
         |  FROM events WHERE ts >= TIMESTAMP '2024-01-15')
         |SELECT event_type, count(*) AS n,
         |  CAST(sum(coalesce(value_cents, 0)) AS BIGINT) AS sum_value_cents,
         |  count(value_cents) AS n_with_value
         |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) GROUP BY 1""".stripMargin,

    "q20_json_path" ->
      s"""SELECT event_type,
         |  CAST(sum(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
         |  count(*) AS n
         |FROM events GROUP BY 1""".stripMargin,

    "q21_window_time" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
         |  CAST(sum(${cents("value")}) AS BIGINT) AS value_cents
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q22_dedup_exact" ->
      s"""WITH ck AS (SELECT lang, doc_id, md5(${norm("text")}) AS ck FROM documents),
         |surv AS (SELECT lang FROM (
         |  SELECT lang, row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn FROM ck)
         |  WHERE rn = 1)
         |SELECT d.lang, d.n_docs, u.n_unique
         |FROM (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1) d
         |JOIN (SELECT lang, count(*) AS n_unique FROM surv GROUP BY 1) u ON d.lang = u.lang""".stripMargin,

    "q23_minhash_lsh" ->
      s"""WITH $wsh3,
         |sig AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || s)) AS m
         |  FROM wsh, generate_series(0, 3) tj(j) GROUP BY 1, 2),
         |piv AS (SELECT doc_id,
         |  max(CASE WHEN j=0 THEN m END) AS m0, max(CASE WHEN j=1 THEN m END) AS m1,
         |  max(CASE WHEN j=2 THEN m END) AS m2, max(CASE WHEN j=3 THEN m END) AS m3
         |  FROM sig GROUP BY 1),
         |bnd AS (SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bsig FROM piv
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM piv),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c JOIN wsh a ON a.doc_id = c.id_a
         |  JOIN wsh b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b, CAST(i.inter AS INT) AS inter,
         |  CAST(ca.c + cb.c - i.inter AS INT) AS uni
         |FROM inter i JOIN cnt ca ON ca.doc_id = i.id_a JOIN cnt cb ON cb.doc_id = i.id_b
         |WHERE i.inter * 5 >= ca.c + cb.c - i.inter""".stripMargin,

    "q24_simhash" ->
      s"""WITH $simhash16
         |SELECT doc_id, simhash FROM sh""".stripMargin,

    "q25_simhash_pairs" ->
      s"""WITH $simhash16
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q26_ngram_jaccard" ->
      s"""WITH $wsh3,
         |wl AS (SELECT w.doc_id, d.lang, w.s FROM wsh w JOIN documents d USING (doc_id)),
         |dfq AS (SELECT lang, s, count(*) AS df FROM wl GROUP BY 1, 2),
         |rare AS (SELECT wl.doc_id, wl.lang, wl.s FROM wl
         |  JOIN dfq ON dfq.lang = wl.lang AND dfq.s = wl.s WHERE dfq.df <= 50),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM rare a JOIN rare b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id),
         |i AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c JOIN wsh a ON a.doc_id = c.id_a
         |  JOIN wsh b ON b.doc_id = c.id_b AND b.s = a.s
         |  GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b, CAST(i.inter AS INT) AS inter,
         |  CAST(ca.c + cb.c - i.inter AS INT) AS uni
         |FROM i JOIN cnt ca ON ca.doc_id = i.id_a JOIN cnt cb ON cb.doc_id = i.id_b
         |WHERE i.inter * 5 >= ca.c + cb.c - i.inter""".stripMargin,

    "q27_embed_neardup" ->
      s"""WITH $qvec,
         |wts AS (SELECT p, i, ${hex4("md5(p::VARCHAR || ':' || i::VARCHAR)")} - 32768 AS w
         |  FROM generate_series(0, 17) tp(p), generate_series(0, 63) ti(i)),
         |proj AS (SELECT vec_id, p, sum(x*w) AS s FROM q JOIN wts USING (i) GROUP BY 1, 2),
         |bkt AS (SELECT vec_id, CAST(p // 3 AS INT) AS t,
         |    CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, p % 3) AS BIGINT) ELSE 0 END) AS BIGINT) AS bk
         |  FROM proj GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bkt a JOIN bkt b ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |d AS (SELECT c.vec_a, c.vec_b, CAST(sum(qa.x*qb.x) AS BIGINT) AS dot
         |  FROM cand c JOIN q qa ON qa.vec_id = c.vec_a
         |  JOIN q qb ON qb.vec_id = c.vec_b AND qb.i = qa.i
         |  GROUP BY 1, 2)
         |SELECT vec_a, vec_b,
         |  round(dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6) AS cos_sim
         |FROM d JOIN n na ON na.vec_id = vec_a JOIN n nb ON nb.vec_id = vec_b
         |WHERE dot > 0 AND dot*dot*25 >= na.nrm*nb.nrm*4""".stripMargin,

    "q28_ann_brute" ->
      s"""WITH $qvec,
         |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(sum(a.x*b.x) AS BIGINT) AS dot
         |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 20 AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |s AS (SELECT query_id, neighbor_id,
         |    dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)) AS sim
         |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nn ON nn.vec_id = neighbor_id),
         |r AS (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
         |FROM r WHERE rank <= 5""".stripMargin,

    "q29_ann_lsh" ->
      s"""WITH $qvec,
         |wts AS (SELECT p, i, ${hex4("md5(p::VARCHAR || ':' || i::VARCHAR)")} - 32768 AS w
         |  FROM generate_series(0, 7) tp(p), generate_series(0, 63) ti(i)),
         |proj AS (SELECT vec_id, p, sum(x*w) AS s FROM q JOIN wts USING (i) GROUP BY 1, 2),
         |bkt AS (SELECT vec_id,
         |    CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM proj GROUP BY 1),
         |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(sum(qa.x*qb.x) AS BIGINT) AS dot
         |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |  JOIN q qa ON qa.vec_id = a.vec_id
         |  JOIN q qb ON qb.vec_id = b.vec_id AND qb.i = qa.i
         |  GROUP BY 1, 2),
         |s AS (SELECT query_id, neighbor_id,
         |    dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)) AS sim
         |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nn ON nn.vec_id = neighbor_id),
         |r AS (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
         |FROM r WHERE rank <= 3""".stripMargin,

    "q30_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(${toks("text")}) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_subwords,
         |  CAST(length(text) AS INT) AS n_chars_actual,
         |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS INT) AS n_punct,
         |  CAST(len(list_filter(${toks("text")}, x -> list_contains($en, x))) AS INT) AS stop_en,
         |  CAST(len(list_filter(${toks("text")}, x -> list_contains($fr, x))) AS INT) AS stop_fr
         |FROM documents""".stripMargin,

    "q31_lang_id" ->
      s"""WITH h AS (SELECT lang,
         |  len(list_filter(${toks("text")}, x -> list_contains($en, x))) AS he,
         |  len(list_filter(${toks("text")}, x -> list_contains($fr, x))) AS hf,
         |  len(list_filter(${toks("text")}, x -> list_contains($es, x))) AS hs,
         |  len(list_filter(${toks("text")}, x -> list_contains($de, x))) AS hd
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN he=0 AND hf=0 AND hs=0 AND hd=0 THEN 'und'
         |       WHEN he>=hf AND he>=hs AND he>=hd THEN 'en'
         |       WHEN hf>=hs AND hf>=hd THEN 'fr'
         |       WHEN hs>=hd THEN 'es'
         |       ELSE 'de' END AS predicted,
         |  count(*) AS n
         |FROM h GROUP BY 1, 2""".stripMargin,

    "q32_fingerprint" ->
      s"""SELECT doc_id, md5(${norm("text")}) AS checksum,
         |  md5(array_to_string(list_sort(list_distinct(
         |    regexp_split_to_array(${norm("text")}, ' '))), ' ')) AS bag_fingerprint
         |FROM documents""".stripMargin,

    "q33_multimodal" ->
      s"""SELECT doc_id AS media_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(octet_length(encode(text)) AS INT) AS byte_len
         |FROM documents""".stripMargin,

    "q34_hierarchy" ->
      s"""SELECT c_name AS node, n_name || '/' || r_name AS path, r_name AS root, 2 AS depth
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |UNION ALL
         |SELECT n_name AS node, r_name AS path, r_name AS root, 1 AS depth
         |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,

    "q36_sessionize" ->
      s"""WITH e AS (SELECT user_id, ts, epoch_us(ts) AS tus,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS pus
         |  FROM events),
         |m AS (SELECT user_id, ts, tus,
         |    CASE WHEN pus IS NULL OR tus - pus >= 1800000000 THEN 1 ELSE 0 END AS brk
         |  FROM e),
         |g AS (SELECT user_id, ts, tus,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT user_id, CAST(min(tus) AS BIGINT) AS session_start_us,
         |  count(*) AS n_events,
         |  CAST(max(tus) - min(tus) AS BIGINT) AS duration_us
         |FROM g GROUP BY user_id, sid""".stripMargin,

    "q37_dedup_clusters" ->
      s"""WITH RECURSIVE $simhash16,
         |edges AS (SELECT a.doc_id AS ea, b.doc_id AS eb
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |sym AS (SELECT ea AS s, eb AS d FROM edges
         |  UNION ALL SELECT eb, ea FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.src, e.d FROM reach r JOIN sym e ON e.s = r.dst)
         |SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY 1""".stripMargin,

    "q38_percentiles" ->
      s"""SELECT o_orderpriority,
         |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
         |  ${cents("min(o_totalprice)")} AS min_cents,
         |  ${cents("max(o_totalprice)")} AS max_cents
         |FROM orders GROUP BY 1""".stripMargin,

    "q39_pivot" ->
      s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
         |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         |  CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
         |  CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         |  CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         |  CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         |FROM events GROUP BY 1""".stripMargin,

    "q40_range_join" ->
      s"""WITH ranges(era, lo, hi) AS (VALUES
         |  ('1995-1996', TIMESTAMP '1995-01-01', TIMESTAMP '1997-01-01'),
         |  ('1997-1998', TIMESTAMP '1997-01-01', TIMESTAMP '1999-01-01'),
         |  ('1999-2001', TIMESTAMP '1999-01-01', TIMESTAMP '2002-01-01'))
         |SELECT era, count(*) AS n_orders,
         |  CAST(sum(${cents("o_totalprice")}) AS BIGINT) AS sum_cents
         |FROM orders JOIN ranges ON o_orderdate >= lo AND o_orderdate < hi
         |GROUP BY 1""".stripMargin,

    "q35_transcript_lww" ->
      s"""SELECT user_id AS conv_id, turn_idx, event_id AS winner_lsn,
         |  event_type AS winner_type FROM (
         |  SELECT user_id, CAST(event_id % 20 AS INT) AS turn_idx, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    "q41_ann_ivf" ->
      s"""WITH $qvec,
         |asg AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS cell FROM embeddings),
         |cent AS (SELECT asg.cell, q.i, CAST(sum(q.x) AS BIGINT) AS sx
         |  FROM q JOIN asg USING (vec_id) GROUP BY 1, 2),
         |ccnt AS (SELECT cell, count(*) AS c FROM asg GROUP BY 1),
         |qd AS (SELECT q.vec_id, cent.cell,
         |    CAST(sum((q.x * ccnt.c - cent.sx) * (q.x * ccnt.c - cent.sx)) AS BIGINT) AS di
         |  FROM q JOIN cent ON cent.i = q.i JOIN ccnt ON ccnt.cell = cent.cell
         |  WHERE q.vec_id < 20 GROUP BY 1, 2),
         |pr AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY di::DOUBLE / (c*c) ASC, cell ASC) AS rk
         |  FROM qd JOIN ccnt USING (cell)),
         |probe AS (SELECT vec_id AS query_id, cell FROM pr WHERE rk <= 2),
         |d AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    CAST(sum(qa.x*qb.x) AS BIGINT) AS dot
         |  FROM probe p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
         |  JOIN q qa ON qa.vec_id = p.query_id
         |  JOIN q qb ON qb.vec_id = a.vec_id AND qb.i = qa.i
         |  GROUP BY 1, 2),
         |s AS (SELECT query_id, neighbor_id,
         |    dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)) AS sim
         |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nn ON nn.vec_id = neighbor_id),
         |r AS (SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
         |FROM r WHERE rank <= 3""".stripMargin,

    "q42_quarantine" ->
      s"""WITH ev AS (SELECT
         |  CASE WHEN event_id % 97 = 0 THEN NULL
         |       ELSE 'u' || CAST(user_id AS VARCHAR) END AS conv_id,
         |  CASE WHEN event_id % 83 = 0 THEN NULL
         |       ELSE CAST(event_id % 20 AS INT) END AS turn_idx,
         |  CASE WHEN event_id % 89 = 0 THEN 'X'
         |       WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         |  CASE WHEN event_id % 101 = 0 THEN NULL ELSE event_id END AS lsn
         |  FROM events)
         |SELECT CASE
         |    WHEN conv_id IS NULL OR trim(conv_id) = '' THEN 'null_key'
         |    WHEN turn_idx IS NULL THEN 'null_turn'
         |    WHEN lsn IS NULL THEN 'null_lsn'
         |    WHEN op IS NULL OR op NOT IN ('I','U','D') THEN 'bad_op'
         |    ELSE 'valid' END AS reason,
         |  count(*) AS n
         |FROM ev GROUP BY 1""".stripMargin,

    "q43_patch_merge" ->
      s"""WITH e0 AS (SELECT user_id AS conv_id, CAST(event_id % 7 AS INT) AS turn_idx,
         |    event_id AS lsn,
         |    CASE WHEN event_type = 'error' THEN 'D'
         |         WHEN event_type = 'signup' THEN 'P' ELSE 'U' END AS op,
         |    event_type AS tag0, ${cents("value")} AS v0 FROM events),
         |e2 AS (SELECT conv_id, turn_idx, lsn, op,
         |    CASE WHEN op = 'P' AND lsn % 2 = 0 THEN NULL ELSE tag0 END AS tag,
         |    CASE WHEN op = 'P' AND lsn % 2 = 1 THEN NULL ELSE v0 END AS v
         |  FROM e0),
         |g AS (SELECT conv_id, turn_idx,
         |    arg_max(tag, CASE WHEN op <> 'P' THEN lsn END) AS btag,
         |    arg_max(v, CASE WHEN op <> 'P' THEN lsn END) AS bv,
         |    arg_max(op = 'D', CASE WHEN op <> 'P' THEN lsn END) AS btomb,
         |    max(CASE WHEN op <> 'P' THEN lsn END) AS blsn,
         |    max(lsn) AS maxlsn,
         |    max(CASE WHEN op = 'P' THEN lsn END) AS maxplsn,
         |    arg_max(CASE WHEN op = 'P' AND lsn % 5 = 0 THEN '<CLEARED>' ELSE tag END,
         |      CASE WHEN op = 'P' AND (tag IS NOT NULL OR lsn % 5 = 0) THEN lsn END) AS ptag,
         |    max(CASE WHEN op = 'P' AND (tag IS NOT NULL OR lsn % 5 = 0) THEN lsn END) AS pltag,
         |    arg_max(v, CASE WHEN op = 'P' AND v IS NOT NULL THEN lsn END) AS pv,
         |    max(CASE WHEN op = 'P' AND v IS NOT NULL THEN lsn END) AS plv
         |  FROM e2 GROUP BY 1, 2)
         |SELECT conv_id, turn_idx,
         |  nullif(CASE WHEN pltag > coalesce(blsn, -9223372036854775807 - 1) THEN ptag
         |       WHEN NOT coalesce(btomb, TRUE) THEN btag END, '<CLEARED>') AS tag,
         |  CASE WHEN plv > coalesce(blsn, -9223372036854775807 - 1) THEN pv
         |       WHEN NOT coalesce(btomb, TRUE) THEN bv END AS v_cents,
         |  maxlsn AS last_lsn
         |FROM g
         |WHERE NOT (coalesce(btomb, FALSE) AND NOT
         |  (coalesce(maxplsn, -9223372036854775807 - 1) >
         |   coalesce(blsn, -9223372036854775807 - 1)))""".stripMargin,

    "q45_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ref ' ||
         |      CAST(doc_id*31 + 1000000 AS VARCHAR) AS text2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(text2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{6,}')) AS INT) AS n_numbers,
         |  md5(regexp_replace(
         |    regexp_replace(text2, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{6,}', '<NUM>', 'g')) AS scrubbed_md5
         |FROM p""".stripMargin,

    "q46_decontaminate" ->
      s"""WITH $wsh3,
         |ev AS (SELECT doc_id AS eval_id, s FROM wsh WHERE doc_id % 40 = 0),
         |co AS (SELECT doc_id, s FROM wsh WHERE doc_id % 40 <> 0)
         |SELECT co.doc_id,
         |  CAST(count(DISTINCT ev.eval_id) AS INT) AS n_eval_docs,
         |  CAST(count(DISTINCT co.s) AS INT) AS n_shared
         |FROM co JOIN ev ON co.s = ev.s
         |GROUP BY 1 HAVING count(DISTINCT co.s) >= 3""".stripMargin,

    "q47_repetition" ->
      s"""WITH wsplit AS (SELECT doc_id, regexp_split_to_array(${norm("text")}, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
         |      FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w)-2,1)+1)) AS i FROM wsplit)
         |      WHERE len(w[i:i+2]) = 3),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS INT) AS n_total,
         |  CAST(count(*) AS INT) AS n_distinct, CAST(max(c) AS INT) AS max_rep
         |FROM c GROUP BY 1""".stripMargin,

    "q48_split" ->
      s"""SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS n_tokens
         |FROM (SELECT ${hex4("md5(CAST(doc_id AS VARCHAR))")} % 100 AS h,
         |  len(${toks("text")}) AS tc FROM documents)
         |GROUP BY 1""".stripMargin,

    "q49_search_topk" ->
      s"""WITH p AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(${norm("text")}, ' ')) AS term
         |    FROM documents)
         |  WHERE term IN ('spark','merge','window'))
         |SELECT doc_id, count(*) AS score FROM p GROUP BY 1
         |HAVING count(DISTINCT term) = 3
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q50_graph_reach" ->
      s"""WITH RECURSIVE nodes AS (
         |  SELECT row_number() OVER (ORDER BY o_orderkey) AS i FROM orders),
         |edges AS (
         |  SELECT i AS child, (i*48271) % (i-1) + 1 AS parent
         |  FROM nodes WHERE i > 1),
         |r AS (
         |  SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS depth
         |  FROM edges
         |  UNION ALL
         |  SELECT r.node, e.parent, r.depth + 1
         |  FROM r JOIN edges e ON r.anc = e.child)
         |SELECT node, anc AS root, depth FROM r
         |WHERE anc NOT IN (SELECT child FROM edges)""".stripMargin,

    "q44_change_feed" ->
      s"""WITH s AS (SELECT user_id, event_id, event_type = 'error' AS tomb FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |    FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1),
         |b AS (SELECT user_id, event_id, event_type = 'error' AS tomb FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |    FROM events WHERE ts >= TIMESTAMP '2024-01-15') WHERE rn = 1),
         |j AS (SELECT s.event_id AS se, b.event_id AS be, s.tomb AS st, b.tomb AS bt
         |  FROM s FULL OUTER JOIN b ON s.user_id = b.user_id)
         |SELECT CASE WHEN be IS NULL THEN 'carried'
         |    WHEN se IS NOT NULL AND be < se THEN 'carried'
         |    WHEN bt AND coalesce(NOT st, FALSE) THEN 'deleted'
         |    WHEN bt THEN 'delete_noop'
         |    WHEN coalesce(NOT st, FALSE) THEN 'updated'
         |    ELSE 'inserted' END AS action,
         |  count(*) AS n
         |FROM j GROUP BY 1""".stripMargin,

    // q51: LWW with deletes over the same synthesized change feed the MoR
    // engine replays — 'error' events map to deletes (tombstoned), every
    // other event upserts; identical winner semantics to q35's window.
    "q51_mor_roundtrip" ->
      s"""SELECT user_id AS conv_id, turn_idx, event_id AS winner_lsn,
         |  event_type AS winner_type FROM (
         |  SELECT user_id, CAST(event_id % 20 AS INT) AS turn_idx, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q52: the q51 LWW winners restricted to a ts window — the engine side
    // reads through the zone-map-pruned scanRange, the oracle is the same
    // election plus a plain predicate on the winner's ts.
    "q52_zone_scan" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, epoch_us(ts) AS ts_us FROM (
         |  SELECT user_id, event_id, ts, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'
         |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    // q53: the q51 LWW winners restricted to the replica predicate — the
    // engine side maintains a filtered mirror incrementally from the change
    // feed; the oracle is the same election plus the predicate.
    "q53_replica_mirror" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_type, value FROM (
         |  SELECT user_id, event_id, event_type, value,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type = 'click'""".stripMargin,

    // q54: the engine drains the change feed after each of two replay
    // halves; the second delta batch must equal the per-key difference of
    // the two LWW elections (full outer join, carried rows dropped).
    "q54_follow_delta" ->
      s"""WITH mid AS (SELECT CAST(FLOOR(max(event_id) / 2.0) AS BIGINT) AS m FROM events),
         |pre AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_id AS lsn FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_id <= (SELECT m FROM mid))
         |  WHERE rn = 1 AND event_type <> 'error'),
         |post AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_id AS lsn FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND event_type <> 'error')
         |SELECT coalesce(pre.conv_id, post.conv_id) AS conv_id,
         |  coalesce(pre.turn_idx, post.turn_idx) AS turn_idx,
         |  CASE WHEN pre.lsn IS NULL THEN 'inserted'
         |       WHEN post.lsn IS NULL THEN 'deleted'
         |       ELSE 'updated' END AS action,
         |  pre.lsn AS pre_lsn, post.lsn AS post_lsn
         |FROM pre FULL OUTER JOIN post
         |  ON pre.conv_id = post.conv_id AND pre.turn_idx = post.turn_idx
         |WHERE pre.lsn IS NULL OR post.lsn IS NULL OR pre.lsn <> post.lsn""".stripMargin,

    // q55: the engine answers through the SQL surface (GraftSql.table over
    // the DSv2 scan's zone/bucket file pruning); the oracle is the
    // same LWW election + WHERE in plain SQL — pruning must be invisible.
    "q55_sql_pushdown" ->
      s"""WITH mid AS (SELECT CAST(FLOOR(max(event_id) / 2.0) AS BIGINT) AS m FROM events),
         |live AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_type, event_id AS lsn FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND event_type <> 'error')
         |SELECT conv_id, turn_idx, event_type, lsn FROM live
         |WHERE lsn >= (SELECT m FROM mid) AND event_type <> 'purchase'""".stripMargin,

    // q56: the q51 LWW winners with event_type aliased — the engine side
    // renamed the column MID-REPLAY (metadata-only, field-id resolution of
    // pre-rename files), so equality proves the rename is invisible to the
    // data.
    "q56_rename_evolve" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS etype FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q57: identical election to q51 — the engine side ingested the events
    // as Debezium-style JSON envelope strings (before/after images), so
    // equality proves the JSON source path end-to-end.
    "q57_json_envelope" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q58: the q51 LWW winners with the engine's two DML statements applied
    // relationally — the predicate DELETE drops its matches, the predicate
    // UPDATE doubles `value` on its matches (× 2 is exact in binary
    // floating point, so the hash comparison is safe).
    "q58_dml_mutation" ->
      s"""SELECT conv_id, turn_idx, event_type,
         |  CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
         |FROM (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_type, value,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'
         |  AND NOT (event_type = 'view' AND turn_idx < 5)""".stripMargin,

    // q59: the engine tagged batch 1, took a corrupted batch 2, ROLLED BACK
    // to the tag (epoch rewound) and replayed the corrected batch 2 (clicks
    // only) at the undone epoch — so the final state is the election over
    // (first half ∪ second-half clicks), with the corrupt rows leaving no
    // trace.
    "q59_rollback" ->
      s"""WITH mid AS (SELECT CAST(FLOOR(max(event_id) / 2.0) AS BIGINT) AS m FROM events),
         |feed AS (
         |  SELECT * FROM events
         |  WHERE event_id <= (SELECT m FROM mid) OR event_type = 'click')
         |SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM feed) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q60: the q51 election restricted to events CONFORMING to the table's
    // CHECK constraint (turn_idx < 18) — the engine dead-letters violating
    // events in the merge's validation pass, so they must leave no trace.
    "q60_check_constraint" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_id % 20 < 18)
         |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q61: the per-batch maintained materialized view must equal the same
    // aggregates computed from scratch over the LWW election.
    "q61_matview" ->
      s"""WITH win AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_id AS lsn FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events) WHERE rn = 1 AND event_type <> 'error')
         |SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn,
         |  max(lsn) AS last_lsn FROM win GROUP BY conv_id""".stripMargin,

    // q62: after the constraint is dropped and the dead letters requeued at
    // their original lsns, the state equals the election over the FULL feed.
    "q62_requeue" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q63: staging half the feed on a branch and fast-forward-publishing
    // must be invisible in the final state — the plain full-feed election.
    "q63_branch_wap" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q64: two named feeds applied out of lockstep (with a per-source
    // redelivery) must land the plain full-feed election.
    "q64_multi_source" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_id AS winner_lsn, event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q65: map put-all patch fold as a per-map-key election — a map key's
    // final value comes from the newest patch setter after the last barrier
    // (newest full image / delete = bl; newest whole-map unset after it =
    // ul), and the base image's entry survives only when no unset follows
    // it and no setter overrode that key.
    "q65_map_putall" ->
      s"""WITH ev AS (SELECT user_id AS conv_id, CAST(event_id % 7 AS INT) AS turn_idx,
         |    event_id AS lsn,
         |    CASE WHEN event_type = 'error' THEN 'D'
         |         WHEN event_type = 'signup' THEN 'P' ELSE 'U' END AS op,
         |    'k' || CAST(event_id % 3 AS VARCHAR) AS k,
         |    coalesce(${cents("value")}, 0) AS v
         |  FROM events),
         |base AS (SELECT conv_id, turn_idx,
         |    max(CASE WHEN op <> 'P' THEN lsn END) AS bl,
         |    arg_max(op = 'D', CASE WHEN op <> 'P' THEN lsn END) AS btomb,
         |    arg_max(k, CASE WHEN op <> 'P' THEN lsn END) AS bk,
         |    arg_max(v, CASE WHEN op <> 'P' THEN lsn END) AS bv
         |  FROM ev GROUP BY 1, 2),
         |un AS (SELECT e.conv_id, e.turn_idx, max(e.lsn) AS ul
         |  FROM ev e JOIN base b ON e.conv_id = b.conv_id AND e.turn_idx = b.turn_idx
         |  WHERE e.op = 'P' AND e.lsn % 5 = 0
         |    AND e.lsn > coalesce(b.bl, -9223372036854775807 - 1)
         |  GROUP BY 1, 2),
         |bar AS (SELECT b.conv_id, b.turn_idx, b.bl, b.btomb, b.bk, b.bv, u.ul,
         |    greatest(coalesce(b.bl, -9223372036854775807 - 1),
         |             coalesce(u.ul, -9223372036854775807 - 1)) AS barrier
         |  FROM base b LEFT JOIN un u ON b.conv_id = u.conv_id AND b.turn_idx = u.turn_idx),
         |setter AS (SELECT e.conv_id, e.turn_idx, e.k, arg_max(e.v, e.lsn) AS v
         |  FROM ev e JOIN bar r ON e.conv_id = r.conv_id AND e.turn_idx = r.turn_idx
         |  WHERE e.op = 'P' AND e.lsn % 5 <> 0 AND e.lsn > r.barrier
         |  GROUP BY 1, 2, 3),
         |basepairs AS (SELECT r.conv_id, r.turn_idx, r.bk AS k, r.bv AS v
         |  FROM bar r
         |  WHERE r.ul IS NULL AND r.bl IS NOT NULL AND NOT r.btomb
         |    AND NOT EXISTS (SELECT 1 FROM setter s
         |      WHERE s.conv_id = r.conv_id AND s.turn_idx = r.turn_idx
         |        AND s.k = r.bk))
         |SELECT conv_id, turn_idx, k, v FROM setter
         |UNION ALL SELECT conv_id, turn_idx, k, v FROM basepairs""".stripMargin,

    // q66: LWW election, plus the INSERT rows, plus the MERGE composed in
    // plain SQL (matched turn-0 rows take the click spend; unmatched spend
    // keys insert with a null event_type).
    "q66_insert_merge" ->
      s"""WITH st AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_type, ${cents("value")} AS v_cents FROM (
         |    SELECT user_id, event_id, event_type, value,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events) WHERE rn = 1 AND event_type <> 'error'),
         |st2 AS (SELECT * FROM st
         |  UNION ALL SELECT CAST(-777 AS BIGINT), 0, 'manual', 12345
         |  UNION ALL SELECT CAST(-777 AS BIGINT), 1, 'manual', 67890),
         |cs AS (SELECT user_id AS conv_id, CAST(0 AS INT) AS turn_idx,
         |    CAST(sum(${cents("value")}) AS BIGINT) AS v_cents
         |  FROM events WHERE event_type = 'click' GROUP BY 1)
         |SELECT t.conv_id, t.turn_idx, t.event_type,
         |  CAST(CASE WHEN s.conv_id IS NOT NULL THEN s.v_cents
         |       ELSE t.v_cents END AS BIGINT) AS v_cents
         |FROM st2 t LEFT JOIN cs s
         |  ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
         |UNION ALL
         |SELECT s.conv_id, s.turn_idx, CAST(NULL AS VARCHAR) AS event_type,
         |  CAST(s.v_cents AS BIGINT) AS v_cents
         |FROM cs s LEFT JOIN st2 t
         |  ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
         |WHERE t.conv_id IS NULL""".stripMargin,

    // q67: LWW election over the evolving-struct feed, flattened — winners
    // from the second half of the stream carry the widened bigint and the
    // new nested field; first-half winners read back upcast + null-filled.
    "q67_nested_evolve" ->
      s"""WITH ev AS (SELECT user_id AS conv_id,
         |    CAST(event_id % 5 AS INT) AS turn_idx, event_id AS lsn,
         |    event_type, coalesce(${cents("value")}, 0) AS cents,
         |    event_type = 'error' AS del FROM events),
         |mx AS (SELECT CAST(floor(max(lsn) / 2) AS BIGINT) AS cut FROM ev),
         |w AS (SELECT *, row_number() OVER (
         |    PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn FROM ev)
         |SELECT conv_id, turn_idx, event_type AS src,
         |  CASE WHEN lsn >= (SELECT cut FROM mx) THEN cents + 3000000000
         |       ELSE cents END AS n,
         |  CASE WHEN lsn >= (SELECT cut FROM mx) THEN upper(event_type)
         |       ELSE CAST(NULL AS VARCHAR) END AS extra
         |FROM w WHERE rn = 1 AND NOT del""".stripMargin,

    // q68: the engine side read a MERGE-ON-READ lake through the V2 catalog
    // (per-bucket LWW resolution inside the partition readers); the oracle
    // is the same election in plain SQL — tombstone ('error') winners die,
    // then the residual filter applies.
    "q68_catalog_scan" ->
      s"""SELECT conv_id, turn_idx, event_type, lsn FROM (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_type, event_id AS lsn,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'
         |  AND event_type <> 'purchase'""".stripMargin,

    // q69: storage-partitioned join of two lakes — lake A is the LWW state
    // of the whole feed (tombstone winners dead), lake B the LWW state of
    // the click subset (no deletes there); the oracle joins the two
    // elections on the full key.
    "q69_spj_join" ->
      s"""WITH a AS (
         |  SELECT conv_id, turn_idx, event_type, lsn FROM (
         |    SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |      event_type, event_id AS lsn,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20
         |                         ORDER BY event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND event_type <> 'error'),
         |b AS (
         |  SELECT conv_id, turn_idx, lsn FROM (
         |    SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |      event_id AS lsn,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20
         |                         ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_type = 'click')
         |  WHERE rn = 1)
         |SELECT a.conv_id, a.turn_idx, a.event_type,
         |  a.lsn AS lsn_a, b.lsn AS lsn_b
         |FROM a JOIN b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx"""
        .stripMargin,

    // q70: catalog DELETE — the LWW election (tombstone winners dead)
    // minus every row matching the deleted predicate.
    "q70_catalog_delete" ->
      s"""SELECT conv_id, turn_idx, event_type, lsn FROM (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_type, event_id AS lsn,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'
         |  AND NOT (event_type = 'purchase' OR turn_idx >= 15)""".stripMargin,

    // q71: the snapshot-diff change feed between the two commits — both
    // LWW elections (wave 1 = event_id < max/2; wave 2 = all), full-outer
    // joined on the key and classified; carried winners (same lsn both
    // sides) are not part of a delta feed.
    "q71_catalog_changes" ->
      s"""WITH s1 AS (
         |  SELECT conv_id, turn_idx, lsn FROM (
         |    SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |      event_type, event_id AS lsn,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20
         |                         ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_id < (SELECT max(event_id) // 2 FROM events))
         |  WHERE rn = 1 AND event_type <> 'error'),
         |s2 AS (
         |  SELECT conv_id, turn_idx, event_type, lsn FROM (
         |    SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |      event_type, event_id AS lsn,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20
         |                         ORDER BY event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND event_type <> 'error')
         |SELECT coalesce(s1.conv_id, s2.conv_id) AS conv_id,
         |  coalesce(s1.turn_idx, s2.turn_idx) AS turn_idx,
         |  CASE WHEN s1.lsn IS NULL THEN 'inserted'
         |       WHEN s2.lsn IS NULL THEN 'deleted'
         |       ELSE 'updated' END AS action,
         |  s1.lsn AS pre_lsn, s2.lsn AS post_lsn,
         |  s2.event_type AS post_event_type
         |FROM s1 FULL OUTER JOIN s2
         |  ON s1.conv_id = s2.conv_id AND s1.turn_idx = s2.turn_idx
         |WHERE s1.lsn IS DISTINCT FROM s2.lsn""".stripMargin,

    // q72: the same second-half delta as q54, but streamed through the
    // Structured Streaming source (startfrom = first snapshot) into a
    // parquet sink — the oracle is identical by construction: the
    // full-outer diff of the two LWW elections (split at max/2,
    // <= on the first half), carried rows dropped.
    "q72_stream_changes" ->
      s"""WITH mid AS (SELECT CAST(FLOOR(max(event_id) / 2.0) AS BIGINT) AS m FROM events),
         |pre AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_id AS lsn FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events WHERE event_id <= (SELECT m FROM mid))
         |  WHERE rn = 1 AND event_type <> 'error'),
         |post AS (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_id AS lsn FROM (
         |    SELECT user_id, event_id, event_type,
         |      row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND event_type <> 'error')
         |SELECT coalesce(pre.conv_id, post.conv_id) AS conv_id,
         |  coalesce(pre.turn_idx, post.turn_idx) AS turn_idx,
         |  CASE WHEN pre.lsn IS NULL THEN 'inserted'
         |       WHEN post.lsn IS NULL THEN 'deleted'
         |       ELSE 'updated' END AS action,
         |  pre.lsn AS pre_lsn, post.lsn AS post_lsn
         |FROM pre FULL OUTER JOIN post
         |  ON pre.conv_id = post.conv_id AND pre.turn_idx = post.turn_idx
         |WHERE pre.lsn IS NULL OR post.lsn IS NULL OR pre.lsn <> post.lsn""".stripMargin,

    // The cascaded DOWNSTREAM lake must hold exactly the upstream live
    // image: the plain LWW election with delete winners dropped (q35's
    // winner semantics, read back from the second lake).
    "q73_cascade" ->
      s"""SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |  event_type AS winner_type FROM (
         |  SELECT user_id, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20 ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q74: runtime (join-driven) bucket pruning is IO-only — the result is
    // the plain LWW election restricted to the dim predicate (the dim is
    // the distinct conv_id population, so the inner join multiplies nothing)
    "q74_runtime_prune" ->
      s"""SELECT conv_id, turn_idx, event_type, lsn FROM (
         |  SELECT user_id AS conv_id, CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_type, event_id AS lsn,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'
         |  AND CAST(conv_id AS VARCHAR) LIKE '%7'""".stripMargin,

    // q75: the audited metadata count must equal the LWW election's
    // cardinality counted the slow way
    "q75_meta_count" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT user_id, event_id % 20 AS turn_idx, event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q76: a filtered metadata count (WHERE fully covered by the kept
    // files' zone bounds, so answered from per-file live counts) must
    // equal the LWW election restricted by the same predicate
    "q76_meta_count_where" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT user_id, event_id % 20 AS turn_idx, event_id AS lsn,
         |    event_type,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type <> 'error'
         |  AND turn_idx >= 0 AND lsn >= 0""".stripMargin,

    // q77: zone-derived min/max on a delete-free ingest must equal the
    // aggregates over the LWW election (no deletes -> every key's winner
    // is live; min/max are insensitive to which version wins only for the
    // key columns, so aggregate over the winners exactly as stored)
    "q77_meta_minmax" ->
      s"""SELECT CAST(min(lsn) AS BIGINT) AS min_lsn,
         |  CAST(max(lsn) AS BIGINT) AS max_lsn,
         |  CAST(min(turn_idx) AS INT) AS min_turn,
         |  CAST(max(turn_idx) AS INT) AS max_turn
         |FROM (
         |  SELECT CAST(event_id % 20 AS INT) AS turn_idx,
         |    event_id AS lsn,
         |    row_number() OVER (PARTITION BY user_id, event_id % 20
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events WHERE event_type <> 'error')
         |WHERE rn = 1""".stripMargin
  )
}
