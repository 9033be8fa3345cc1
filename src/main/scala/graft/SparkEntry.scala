package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — one named query per implemented operator
  * (SURVEY.md §2), each with equivalent DuckDB SQL for the oracle gate.
  *
  * Determinism conventions (SURVEY §7.4): every query ends in a total
  * ORDER BY; DOUBLE outputs are rounded (2 dp for money sums, 4–6 dp for
  * ratios/scores); integers are BIGINT on both sides; window/sort keys are
  * never NULL. Vector math is double-precision sequential left-folds on
  * both sides, so raw scores are bit-identical pre-rounding.
  */
object SparkEntry {

  /** The data dir [[entry]] reads. */
  val EntrySfDir = "/root/testdata/sf0.001"

  /** Flagship query (reference §3.2 pipeline) on sf0.001; rows > 0. */
  def entry(spark: SparkSession): DataFrame = Rag.flagship(spark, EntrySfDir)

  // DuckDB SQL fragments (vector math, portable hash, embed CTEs) are
  // shared with SparkEntryExt via the single-source [[OracleSql]].
  import OracleSql.{chunkCte, embedCtes, sqlCos, sqlDot, sqlNorm}

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ---- relational / aggregation / window (SURVEY §2.9 extensions) ----
    "q1_pricing" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q3_top_revenue" -> ((s, d) => Relational.topRevenueOrders(s, d)),
    "q_window_topn" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    "q_rollup" -> ((s, d) => Relational.revenueRollup(s, d)),
    "q_events_hourly" -> ((s, d) => Relational.eventsHourly(s, d)),
    "q_events_json" -> ((s, d) => Relational.eventsJson(s, d)),
    "q_sessionize" -> ((s, d) => Relational.sessionize(s, d)),
    "q_order_stats" -> ((s, d) => Relational.orderStats(s, d)),
    "q_upsert" -> ((s, d) => {
      val base = Tables.orders(s, d)
      // no inner round: Spark rounds decimals HALF_UP, DuckDB rounds the
      // binary double — near .xx5 they differ by a cent; x*1.1 itself is
      // bit-identical on both engines, so only the aggregate is rounded
      val updates = base
        .filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      Store.upsert(base, updates, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),
    // ---- vector core (SURVEY §2.3, V1–V6) ----
    "v_normalize" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val n = VectorOps.l2Norm(col("embedding"))
      emb.select(
          col("vec_id"),
          round(n, 6).as("norm"),
          round(element_at(VectorOps.l2Normalize(col("embedding")), 1), 6).as("first_dim"))
        .orderBy(col("vec_id"))
    }),
    "v_cosine" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = broadcast(emb.filter(col("vec_id") === 0).select(col("embedding").as("__qvec")))
      emb.crossJoin(q)
        .select(col("vec_id"), round(VectorOps.cosine(col("embedding"), col("__qvec")), 6).as("score"))
        .orderBy(col("vec_id"))
    }),
    "v_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = broadcast(emb.filter(col("vec_id") === 0).select(col("embedding").as("__qvec")))
      Knn.topK(emb.crossJoin(q).withColumnRenamed("embedding", "vec"), "vec", "vec_id",
          col("__qvec"), 5)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),
    "v_knn_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"))
      Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // kNN at the reference's TRUE embedding width: Qdrant/main.py:94
    // embeds at 384-d (bge-small); the harness fixture is 64-d, so the
    // checked query widens it 6x in-query with transforms that are
    // bit-exact in both engines (reverse, power-of-two scales,
    // negation) and runs the same broadcast kNN join at genuine 384-d
    // scoring cost — validating vector-op cost/correctness at width.
    "v_knn_384" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      def widen(df: DataFrame): DataFrame = df.withColumn("v384",
        concat(
          col("embedding"),
          reverse(col("embedding")),
          transform(col("embedding"), x => x * lit(0.5f)),
          transform(col("embedding"), x => -x),
          transform(col("embedding"), x => x * lit(0.25f)),
          transform(reverse(col("embedding")), x => x * lit(0.5f))))
      val queries = widen(emb.filter(col("vec_id") < 5))
      val points = widen(emb.filter(col("vec_id") >= 10))
        .select(col("vec_id").as("point_id"), col("v384"))
      Knn.knnJoin(queries, points, "vec_id", "v384", "point_id", "v384", 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // radius search: every point at or above the score threshold — the
    // vector-store sibling of top-k; a pure scan-side filter
    "v_range_search" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val points = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"))
      Knn.rangeSearch(queries, points, "vec_id", "embedding", "point_id", "embedding",
          threshold = 0.3)
        .select(col("query_id"), col("point_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("point_id"))
    }),
    // facet counts (Qdrant facet API): payload-value histogram under a
    // filter, (count DESC, value ASC) page — distinct-value-sized shuffle
    "v_facet" -> ((s, d) =>
      Knn.facetCounts(Tables.documents(s, d), "source",
        col("n_chars") >= 200, limit = 10)),
    // keyset scroll (Qdrant scroll API): the id-ordered page after the
    // cursor — pushdown-pruned, never OFFSET
    "v_scroll" -> ((s, d) =>
      Knn.scrollPage(Tables.documents(s, d), "doc_id", cursor = 123L, pageSize = 20)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    // exact filtered count (Qdrant count API, exact=true)
    "v_count" -> ((s, d) =>
      Knn.countPoints(Tables.documents(s, d),
        col("n_chars") >= 200 && col("lang") === "zh")),
    // get-points-by-ids (Qdrant retrieve API): id-batch lookup served
    // by a pushed In predicate — absent ids absent from the page; the
    // last requested id is deliberately out of range at every SF
    "v_retrieve" -> ((s, d) =>
      Knn.retrievePoints(Tables.documents(s, d), "doc_id",
          Seq(5L, 17L, 123L, 240L, 999999999L))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    // ---- RAG assembly + prediction + evaluation (SURVEY §2.4–§2.6) ----
    "rag_context" -> ((s, d) => Rag.contextQuery(s, d)),
    "rag_predict" -> ((s, d) => Rag.predictQuery(s, d)),
    // the CHECKED flagship: portable bucket hash → the whole reference
    // pipeline (§3.2: chunk → embed → kNN → context → predict → prompt)
    // hash-matches the DuckDB oracle end-to-end
    "rag_flagship" -> ((s, d) => Rag.flagship(s, d, portableHash = true)),
    "eval_per_row" -> ((s, d) => Eval.evalPerRow(s, d)),
    "eval_macro" -> ((s, d) => Eval.evalMacro(s, d)),
    // nDCG@5 with label-match relevance over the exact kNN ranking —
    // the position-sensitive retrieval-quality metric (extension: the
    // reference's eval stops at Recall/MRR, which see only membership
    // and the FIRST relevant hit; nDCG credits every relevant hit by
    // position against the ideal ordering of the same result set)
    "eval_ndcg" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"), col("label").as("p_label"))
      // knnJoin carries the point-side payload columns through, so
      // p_label rides along with each hit; only the query label joins
      val hits = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
        .join(queries.select(col("vec_id").as("query_id"), col("label").as("q_label")),
          "query_id")
        .withColumn("rel", (col("q_label") === col("p_label")).cast("int"))
      Eval.ndcgAtK(hits, "query_id", "rank", "rel").orderBy(col("query_id"))
    }),
    // average precision per query over the same label-relevance kNN
    // ranking — the third IR axis (position-sensitive, ungraded);
    // mean over the rows = MAP. Normalized the standard way:
    // min(total relevant in the corpus, k) — the per-query relevant
    // count is one label-frequency aggregate (index-sized shuffle)
    "eval_map" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"), col("label").as("p_label"))
      val totalRel = queries
        .select(col("vec_id").as("query_id"), col("label").as("q_label"))
        .join(points.groupBy(col("p_label")).agg(count(lit(1)).as("total_rel")),
          col("q_label") === col("p_label"), "left")
        .select(col("query_id"), col("q_label"),
          coalesce(col("total_rel"), lit(0L)).as("total_rel"))
      val hits = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
        .join(totalRel, "query_id")
        .withColumn("rel", (col("q_label") === col("p_label")).cast("int"))
      Eval.apAtK(hits, "query_id", "rank", "rel",
        totalRelCol = Some("total_rel"), k = 5).orderBy(col("query_id"))
    }),
    // §3.2 + §3.3 chained end-to-end IN ONE CHECKED QUERY: retrieval
    // (kNN) → rank-ordered prediction text (retrieval-only L2 ceiling)
    // → Recall@5 / MRR@5 against a stand-in gold (the query document's
    // own digit-runs — the `answers`-column role).
    "rag_eval" -> ((s, d) => {
      val hits = Rag.hits(s, d, nQueries = 5, k = 5)
      val predText = hits.groupBy(col("query_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("rank"), trim(coalesce(col("text"), lit(""))).as("t")))),
            x => x.getField("t")),
          " ").as("predicted"))
      val gold = Tables.documents(s, d).filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text").as("answers"))
      Eval.withMetrics(gold.join(predText, "query_id"), "answers", "predicted", 5)
        .select(col("query_id"),
          round(col("recall_at_k"), 6).as("recall_at_k"),
          round(col("mrr_at_k"), 6).as("mrr_at_k"))
        .orderBy(col("query_id"))
    })
  ) ++ SparkEntryExt.queries ++ SparkEntryStream.queries

  // Shared oracle CTE for the RAG hit set (mirrors Rag.hits exactly).
  private val ragHitsCte: String =
    s"""WITH pts AS (
       |  SELECT e.vec_id AS point_id, e.embedding, d.text
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |hits AS (
       |  SELECT q.query_id, p.point_id, trim(coalesce(p.text, '')) AS t,
       |    CAST(row_number() OVER (
       |      PARTITION BY q.query_id
       |      ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id) AS BIGINT) AS rank
       |  FROM q, pts p
       |  QUALIFY rank <= 5)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_window_topn" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey,
        |    CAST(row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
        |    o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  round(sum(o_totalprice), 2) AS total_revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, count(*) AS n, round(avg(k), 4) AS avg_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    // median_within_bound: the Spark side validates its bounded-state
    // approx_percentile by rank position (see Relational.orderStats);
    // the oracle contributes the exact columns and literal TRUE
    "q_order_stats" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  round(stddev_samp(o_totalprice), 4) AS sd_price,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  TRUE AS median_within_bound
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_upsert" -> OracleSql.upsertMergedSummarySql,
    "v_normalize" ->
      s"""SELECT vec_id, round(norm, 6) AS norm,
         |  round(embedding[1]::DOUBLE / (CASE WHEN norm = 0 THEN 1.0 ELSE norm END), 6)
         |    AS first_dim
         |FROM (SELECT vec_id, embedding, ${sqlNorm("embedding")} AS norm FROM embeddings)
         |ORDER BY vec_id""".stripMargin,
    "v_cosine" ->
      s"""SELECT e.vec_id, round(${sqlCos("e.embedding", "q.embedding")}, 6) AS score
         |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY e.vec_id""".stripMargin,
    "v_topk" ->
      s"""SELECT e.vec_id, round(${sqlCos("e.embedding", "q.embedding")}, 6) AS score
         |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY ${sqlCos("e.embedding", "q.embedding")} DESC, e.vec_id
         |LIMIT 5""".stripMargin,
    "v_knn_join" ->
      s"""SELECT q.vec_id AS query_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS BIGINT) AS rank,
         |  p.vec_id AS point_id,
         |  round(${sqlCos("q.embedding", "p.embedding")}, 6) AS score
         |FROM embeddings q, embeddings p
         |WHERE q.vec_id < 10 AND p.vec_id >= 10
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // 6x widening mirrored element-exactly: DuckDB computes x*0.5 in
    // DOUBLE then narrows ::FLOAT — exact for power-of-two scales, so
    // both engines score identical 384-d vectors
    "v_knn_384" ->
      s"""WITH w AS (
         |  SELECT vec_id,
         |    list_concat(list_concat(list_concat(list_concat(list_concat(
         |      e, list_reverse(e)),
         |      list_transform(e, x -> (x * 0.5)::FLOAT)),
         |      list_transform(e, x -> (-x)::FLOAT)),
         |      list_transform(e, x -> (x * 0.25)::FLOAT)),
         |      list_transform(list_reverse(e), x -> (x * 0.5)::FLOAT)) AS v
         |  FROM (SELECT vec_id, embedding AS e FROM embeddings))
         |SELECT q.vec_id AS query_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${sqlCos("q.v", "p.v")} DESC, p.vec_id) AS BIGINT) AS rank,
         |  p.vec_id AS point_id,
         |  round(${sqlCos("q.v", "p.v")}, 6) AS score
         |FROM w q, w p
         |WHERE q.vec_id < 5 AND p.vec_id >= 10
         |QUALIFY rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "v_range_search" ->
      s"""SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |  round(${sqlCos("q.embedding", "p.embedding")}, 6) AS score
         |FROM embeddings q, embeddings p
         |WHERE q.vec_id < 5 AND p.vec_id >= 10
         |  AND ${sqlCos("q.embedding", "p.embedding")} >= 0.3
         |ORDER BY query_id, point_id""".stripMargin,
    // NULL facet values are excluded by the op (real-API semantics +
    // the no-NULL-sort-keys convention) — mirror it
    "v_facet" ->
      """SELECT source AS value, CAST(count(*) AS BIGINT) AS n
        |FROM documents WHERE n_chars >= 200 AND source IS NOT NULL
        |GROUP BY source ORDER BY n DESC, value LIMIT 10""".stripMargin,
    "v_scroll" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE doc_id > 123
        |ORDER BY doc_id LIMIT 20""".stripMargin,
    "v_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS n
        |FROM documents
        |WHERE coalesce(n_chars >= 200 AND lang = 'zh', false)""".stripMargin,
    "v_retrieve" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE doc_id IN (5, 17, 123, 240, 999999999)
        |ORDER BY doc_id""".stripMargin,
    "rag_context" ->
      s"""$ragHitsCte,
         |budget AS (
         |  SELECT query_id, point_id, rank, t,
         |    coalesce(sum(length(t)) OVER (PARTITION BY query_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM hits WHERE length(t) > 0),
         |parts AS (
         |  SELECT query_id, rank,
         |    '[Page ' || point_id || ' | Chunk ' || rank || ']' || chr(10) ||
         |      substr(t, 1, CAST(greatest(least(800 - prev, length(t)), 0) AS INT)) AS part,
         |    least(length(t), 800 - prev) AS used
         |  FROM budget WHERE prev < 800)
         |SELECT query_id,
         |  string_agg(part, chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rank)
         |    AS context,
         |  CAST(sum(used) AS BIGINT) AS context_text_chars
         |FROM parts
         |GROUP BY query_id
         |ORDER BY query_id""".stripMargin,
    "rag_predict" ->
      s"""$ragHitsCte,
         |toks AS (
         |  SELECT query_id, unnest(string_split(trim(t), ' ')) AS tok FROM hits),
         |cnt AS (
         |  SELECT query_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
         |top AS (
         |  SELECT query_id, tok, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, tok) AS BIGINT) AS r
         |  FROM cnt QUALIFY r <= 5)
         |SELECT query_id, string_agg(tok, ',' ORDER BY r) AS predicted,
         |  CAST(sum(c) AS BIGINT) AS support
         |FROM top
         |GROUP BY query_id
         |ORDER BY query_id""".stripMargin,
    "eval_per_row" ->
      """WITH g AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ', ' ORDER BY ts, event_id) AS answers
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |p AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ' ' ORDER BY ts, event_id) AS predicted
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT g.user_id,
        |    list_distinct(regexp_extract_all(coalesce(answers, ''), '\p{Nd}+')) AS gold,
        |    list_slice(regexp_extract_all(coalesce(predicted, ''), '\p{Nd}+'), 1, 5) AS predk
        |  FROM g JOIN p ON g.user_id = p.user_id)
        |SELECT user_id,
        |  round(CASE WHEN len(gold) = 0 THEN 0.0
        |    ELSE len(list_intersect(gold, predk))::DOUBLE / len(gold) END, 6) AS recall_at_k,
        |  round(coalesce(1.0 / list_position(
        |    list_transform(predk, x -> list_contains(gold, x)), true), 0.0), 6) AS mrr_at_k
        |FROM m
        |ORDER BY user_id""".stripMargin,
    "eval_ndcg" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |p AS (
         |  SELECT vec_id AS point_id, embedding, label AS p_label
         |  FROM embeddings WHERE vec_id >= 10),
         |hits AS (
         |  SELECT query_id, rank, q_label, p_label FROM (
         |    SELECT q.query_id, q.q_label, p.p_label,
         |      CAST(row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id) AS BIGINT)
         |        AS rank
         |    FROM q, p
         |    QUALIFY rank <= 5)),
         |rel AS (
         |  SELECT query_id, rank,
         |    CASE WHEN q_label = p_label THEN 1 ELSE 0 END AS rel
         |  FROM hits),
         |per AS (
         |  SELECT query_id,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    list_reduce(
         |      list_prepend(0.0::DOUBLE,
         |        list(rel::DOUBLE / log2((rank + 1)::DOUBLE) ORDER BY rank)),
         |      (a, b) -> a + b) AS dcg
         |  FROM rel GROUP BY query_id),
         |norm AS (
         |  SELECT query_id, n_rel, dcg,
         |    CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
         |      list_reduce(
         |        list_prepend(0.0::DOUBLE,
         |          list_transform(generate_series(1, n_rel),
         |            i -> 1.0::DOUBLE / log2((i + 1)::DOUBLE))),
         |        (a, b) -> a + b)
         |    END AS idcg
         |  FROM per)
         |SELECT query_id, n_rel, round(dcg, 6) AS dcg,
         |  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
         |FROM norm ORDER BY query_id""".stripMargin,
    "eval_map" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |p AS (
         |  SELECT vec_id AS point_id, embedding, label AS p_label
         |  FROM embeddings WHERE vec_id >= 10),
         |hits AS (
         |  SELECT query_id, rank, q_label, p_label FROM (
         |    SELECT q.query_id, q.q_label, p.p_label,
         |      CAST(row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id) AS BIGINT)
         |        AS rank
         |    FROM q, p
         |    QUALIFY rank <= 5)),
         |rel AS (
         |  SELECT query_id, rank,
         |    CASE WHEN q_label = p_label THEN 1 ELSE 0 END AS rel
         |  FROM hits),
         |terms AS (
         |  SELECT query_id, rank, rel,
         |    rel::DOUBLE * (sum(rel) OVER (PARTITION BY query_id ORDER BY rank
         |      ROWS UNBOUNDED PRECEDING))::DOUBLE / rank AS term
         |  FROM rel),
         |tr AS (
         |  SELECT q.query_id, count(p.point_id) AS total_rel
         |  FROM q LEFT JOIN p ON q.q_label = p.p_label
         |  GROUP BY q.query_id)
         |SELECT t.query_id,
         |  CAST(sum(rel) AS BIGINT) AS n_rel,
         |  round(CASE WHEN sum(rel) >= 1 THEN
         |      list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY rank)),
         |        (a, b) -> a + b) / least(min(total_rel), 5)::DOUBLE
         |    ELSE 0.0 END, 6) AS ap
         |FROM terms t JOIN tr ON t.query_id = tr.query_id
         |GROUP BY t.query_id
         |ORDER BY t.query_id""".stripMargin,
    "eval_macro" ->
      """WITH g AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ', ' ORDER BY ts, event_id) AS answers
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |p AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ' ' ORDER BY ts, event_id) AS predicted
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT g.user_id,
        |    list_distinct(regexp_extract_all(coalesce(answers, ''), '\p{Nd}+')) AS gold,
        |    list_slice(regexp_extract_all(coalesce(predicted, ''), '\p{Nd}+'), 1, 5) AS predk
        |  FROM g JOIN p ON g.user_id = p.user_id),
        |r AS (
        |  SELECT
        |    CASE WHEN len(gold) = 0 THEN 0.0
        |      ELSE len(list_intersect(gold, predk))::DOUBLE / len(gold) END AS recall_at_k,
        |    coalesce(1.0 / list_position(
        |      list_transform(predk, x -> list_contains(gold, x)), true), 0.0) AS mrr_at_k
        |  FROM m)
        |SELECT round(coalesce(avg(recall_at_k), 0.0), 6) AS avg_recall_at_k,
        |  round(coalesce(avg(mrr_at_k), 0.0), 6) AS avg_mrr_at_k
        |FROM r""".stripMargin,
    // Full flagship pipeline, step-for-step: chunker (gap-preserving
    // indexes, minLen=20, literal ' the ' separator) → portable hashed-BoW
    // embedding (dim 64) for chunks and queries → dot-metric kNN (both
    // sides L2-normalized) with (score DESC, chunk_id) total order →
    // char-budgeted context (500) → top-5-term extractive prediction →
    // prompt projection with the Thai empty-context fallback.
    "rag_flagship" ->
      s"""WITH ch AS (${chunkCte("documents")}),
         |${embedCtes("ce", "(SELECT chunk_id AS id, chunk_text AS __txt FROM ch)", 64)},
         |${embedCtes("qe", "(SELECT doc_id AS id, text AS __txt FROM documents WHERE doc_id < 5)", 64)},
         |hits AS (
         |  SELECT q.id AS query_id, c.id AS chunk_id,
         |    CAST(row_number() OVER (PARTITION BY q.id
         |      ORDER BY ${sqlDot("q.v", "c.v")} DESC, c.id) AS BIGINT) AS rank
         |  FROM qe_emb q, ce_emb c
         |  QUALIFY rank <= 5),
         |hx AS (
         |  SELECT h.query_id, h.rank, ch.doc_id AS page, ch.chunk_index,
         |    trim(coalesce(ch.chunk_text, '')) AS t, ch.chunk_text
         |  FROM hits h JOIN ch ON h.chunk_id = ch.chunk_id),
         |budget AS (
         |  SELECT query_id, page, chunk_index, rank, t,
         |    coalesce(sum(length(t)) OVER (PARTITION BY query_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM hx WHERE length(t) > 0),
         |parts AS (
         |  SELECT query_id, rank,
         |    '[Page ' || page || ' | Chunk ' || chunk_index || ']' || chr(10) ||
         |      substr(t, 1, CAST(greatest(least(500 - prev, length(t)), 0) AS INT)) AS part,
         |    least(length(t), 500 - prev) AS used
         |  FROM budget WHERE prev < 500),
         |ctx AS (
         |  SELECT query_id,
         |    string_agg(part, chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rank)
         |      AS context,
         |    CAST(sum(used) AS BIGINT) AS context_text_chars
         |  FROM parts GROUP BY query_id),
         |ptok AS (SELECT query_id, unnest(string_split(trim(chunk_text), ' ')) AS tok FROM hx),
         |pcnt AS (SELECT query_id, tok, count(*) AS c FROM ptok WHERE tok <> '' GROUP BY 1, 2),
         |ptop AS (
         |  SELECT query_id, tok,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, tok) AS BIGINT) AS r
         |  FROM pcnt QUALIFY r <= 5),
         |pred AS (
         |  SELECT query_id, string_agg(tok, ' ' ORDER BY r) AS predicted FROM ptop GROUP BY query_id),
         |qq AS (SELECT doc_id AS query_id, text AS question FROM documents WHERE doc_id < 5)
         |SELECT qq.query_id,
         |  coalesce(ctx.context, '') AS context,
         |  coalesce(ctx.context_text_chars, 0) AS context_text_chars,
         |  coalesce(pred.predicted, '') AS predicted,
         |  'คุณเป็นผู้ช่วยกฎหมาย จงตอบโดยอ้างอิงมาตราที่เกี่ยวข้อง' || chr(10) || chr(10) ||
         |    'บริบท:' || chr(10) ||
         |    (CASE WHEN length(coalesce(ctx.context, '')) = 0 THEN '(ไม่พบบริบท)'
         |      ELSE ctx.context END) || chr(10) || chr(10) ||
         |    'คำถาม: ' || qq.question AS prompt
         |FROM qq
         |LEFT JOIN ctx ON qq.query_id = ctx.query_id
         |LEFT JOIN pred ON qq.query_id = pred.query_id
         |ORDER BY qq.query_id""".stripMargin,
    "rag_eval" ->
      s"""$ragHitsCte,
         |predtext AS (
         |  SELECT query_id, string_agg(t, ' ' ORDER BY rank) AS predicted
         |  FROM hits GROUP BY query_id),
         |gold AS (
         |  SELECT doc_id AS query_id, text AS answers FROM documents WHERE doc_id < 5),
         |m AS (
         |  SELECT g.query_id,
         |    list_distinct(regexp_extract_all(coalesce(answers, ''), '\\p{Nd}+')) AS gold,
         |    list_slice(regexp_extract_all(coalesce(predicted, ''), '\\p{Nd}+'), 1, 5) AS predk
         |  FROM gold g JOIN predtext p ON g.query_id = p.query_id)
         |SELECT query_id,
         |  round(CASE WHEN len(gold) = 0 THEN 0.0
         |    ELSE len(list_intersect(gold, predk))::DOUBLE / len(gold) END, 6) AS recall_at_k,
         |  round(coalesce(1.0 / list_position(
         |    list_transform(predk, x -> list_contains(gold, x)), true), 0.0), 6) AS mrr_at_k
         |FROM m
         |ORDER BY query_id""".stripMargin
  ) ++ SparkEntryExt.oracleSql ++ SparkEntryStream.oracleSql
}
