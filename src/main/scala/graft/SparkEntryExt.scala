package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Query registry, part 2: chunker, dedup ladder, text analysis,
  * similarity search, multimodal metadata (SURVEY §2.2 / §2.9 /
  * north-star extensions). Merged into [[SparkEntry]].
  */
object SparkEntryExt {

  // DuckDB fragments shared with SparkEntry via the single-source
  // [[OracleSql]] (one definition — no parity-drift between copies).
  import OracleSql.{h32Sql, ngramSql, sqlCos, toksSql}

  /** The k both KMV queries register AND their oracles interpolate —
    * one constant, so the Scala parameter and the oracle SQL cannot
    * drift apart.
    */
  private val KmvK = 64
  /** Committed CSV fixture directory, interpolated into BOTH the Spark
    * read and the DuckDB oracle of `q_csv_roundtrip` (same file, two
    * readers). Overridable for dev checkouts at a non-standard path.
    */
  private val FixturesDir =
    sys.props.getOrElse("graft.fixtures.dir", "/root/repo/data/fixtures")
  /** CMS shape shared by the Scala queries (`q_cms_freq` here,
    * `stream_cms` in [[SparkEntryStream]]) and their common oracle
    * ([[OracleSql.cmsFreqSql]]) — one constant set, no drift.
    */
  val CmsDepth = 4
  val CmsWidth = 2048
  val CmsTopK = 20
  /** Shared DuckDB CTE: MinHash-LSH candidate pairs verified at j ≥ 0.5
    * (mirrors Dedup.minHashLsh with 3-gram shingles, 16 hashes,
    * 2 bands × 8 rows). Trigram shingles are the standard MinHash
    * configuration: with unigrams the synthetic corpus' shared
    * vocabulary made nearly every doc pair a band collision (2.3M
    * candidate pairs from 5k docs at sf0.1); trigrams isolate the ~244
    * genuinely near-duplicate pairs at ~10,000× less verify work.
    */
  /** Unrolled deterministic k-means training (2 Lloyd iterations,
    * centroids rounded to 6 dp each update, stale-cell rule) — mirrors
    * SimilaritySearch.trainedCentroids/assignPoints step for step. A
    * CTE list (no leading WITH) ending at `ap(pid, v, cid)` (the
    * trained point assignment) with `c2(cid, c)` (the trained
    * centroids) and `qs(pid, v)` (the held-out query rows) still in
    * scope — ONE definition of the trainer, shared by the trained-IVF
    * search oracle and the prototypicality-prune oracle so the Lloyd
    * unroll cannot drift between them (the dataCardSql discipline).
    */
  private lazy val ivfTrainCtes: String = {
    def assignCte(src: String, cents: String): String =
      s"""SELECT pid, v, cid FROM (
         |  SELECT pid, v, cid, row_number() OVER (PARTITION BY pid ORDER BY s DESC, cid) AS rn
         |  FROM (SELECT p.pid, p.v, c.cid, ${sqlCos("p.v", "c.c")} AS s
         |        FROM $src p CROSS JOIN $cents c)) WHERE rn = 1""".stripMargin
    // stale-cell rule (mirrors kmeansCentroids): a cid absent from the
    // assignment keeps its previous centroid instead of vanishing
    def updateCte(assigned: String, prev: String): String =
      s"""SELECT p.cid, coalesce(u.c, p.c) AS c FROM $prev p LEFT JOIN (
         |  SELECT cid, list(m ORDER BY j) AS c FROM (
         |    SELECT cid, j, round(avg(v[j]), 6) AS m
         |    FROM $assigned, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) g
         |    GROUP BY cid, j) GROUP BY cid) u ON p.cid = u.cid""".stripMargin
    s"""emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |pts AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id >= 10),
       |qs AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id < 10),
       |c0 AS (
       |  SELECT pid AS cid, v AS c
       |  FROM (SELECT pid, v FROM pts ORDER BY pid LIMIT 16)),
       |a1 AS (${assignCte("pts", "c0")}),
       |c1 AS (${updateCte("a1", "c0")}),
       |a2 AS (${assignCte("pts", "c1")}),
       |c2 AS (${updateCte("a2", "c1")}),
       |ap AS (${assignCte("pts", "c2")})""".stripMargin
  }

  /** Trained k-means + multi-probe IVF search — mirrors
    * SimilaritySearch.ivfTrainedTopK. A standalone SELECT so
    * `sim_recall_eval` can embed it as a derived table as well as
    * `sim_ivf_trained` using it directly.
    */
  private lazy val ivfTrainedSelect: String = {
    s"""WITH $ivfTrainCtes,
       |qp AS (
       |  SELECT pid AS qid, v AS qv, cid FROM (
       |    SELECT pid, v, cid, row_number() OVER (PARTITION BY pid ORDER BY s DESC, cid) AS rn
       |    FROM (SELECT q.pid, q.v, c.cid, ${sqlCos("q.v", "c.c")} AS s
       |          FROM qs q CROSS JOIN c2 c)) WHERE rn <= 4),
       |scored AS (
       |  SELECT qp.qid AS query_id, ap.pid AS point_id, ${sqlCos("qp.qv", "ap.v")} AS score
       |  FROM qp JOIN ap ON qp.cid = ap.cid),
       |ranked AS (
       |  SELECT query_id, point_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, point_id) AS BIGINT)
       |      AS rank
       |  FROM scored QUALIFY rank <= 3)
       |SELECT query_id, rank, point_id, round(score, 6) AS score
       |FROM ranked ORDER BY query_id, rank""".stripMargin
  }

  /** Multi-probe (nprobe=2) probe-set CTEs over a query CTE
    * `qCte(query_id, embedding, bucket)`: own bucket UNION the single
    * flip of the lowest-|component| sign bit, ties by mask (mirrors the
    * struct array_sort in `ivfTopKStored`; for component j of 4 the
    * mask is 2^(4−j), flip via xor). ONE definition of the probe rule,
    * shared by the batch multi-probe oracle and the unified recall
    * table so the tie-break can never silently diverge between them.
    * Emits `fl`/`fr`/`probes`; callers join `probes` on the bucket.
    */
  private def mpProbeCtes(qCte: String): String =
    s"""fl AS (
       |  SELECT query_id, abs(embedding[j])::DOUBLE AS a,
       |    CAST(pow(2, 4 - j) AS BIGINT) AS m
       |  FROM $qCte, LATERAL (SELECT unnest(generate_series(1, 4)) AS j) g),
       |fr AS (
       |  SELECT query_id, m,
       |    row_number() OVER (PARTITION BY query_id ORDER BY a, m) AS rn
       |  FROM fl),
       |probes AS (
       |  SELECT query_id, embedding, bucket FROM $qCte
       |  UNION ALL
       |  SELECT q0.query_id, q0.embedding, xor(q0.bucket, f.m) AS bucket
       |  FROM fr f JOIN $qCte q0 USING (query_id) WHERE f.rn <= 1)""".stripMargin

  /** The λ both the `rag_mmr` query and its oracle use. The oracle
    * interpolates λ AND Scala's `1.0 - λ` (0.30000000000000004, NOT
    * the SQL literal 0.3 — binary doubles differ in the last bit, and
    * the MMR objective is compared rounded to 6 dp after multiplying
    * by it) so both engines compute bit-identical objectives.
    */
  private val MmrLambda = 0.7

  /** MMR oracle: top-8 cosine pool per query, pairwise in-pool sims,
    * then the greedy selection unrolled — pick 1 is max rounded rel;
    * each later pick maximizes `λ·rel − (1−λ)·max-sim-to-selected`
    * (rounded before the argmax, ties to the lowest point id).
    * Mirrors Retrieval.mmrRerank step for step.
    */
  private lazy val mmrSelect: String =
    mmrSelectFrom(
      s"""hp AS (
         |  SELECT query_id, point_id, v, rel FROM (
         |    SELECT q.vec_id AS query_id, p.vec_id AS point_id, p.embedding AS v,
         |      ${sqlCos("q.embedding", "p.embedding")} AS rel,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS rn
         |    FROM embeddings q, embeddings p
         |    WHERE q.vec_id < 5 AND p.vec_id >= 10) WHERE rn <= 8)""".stripMargin)

  /** The greedy-selection tail parameterized by the pool: `poolCtes`
    * must be a complete CTE list (no leading WITH) whose LAST entry is
    * `hp(query_id, point_id, v, rel)` — the candidate pool MMR
    * selects from. Shared by `rag_mmr` (cosine pool) and
    * `rag_hybrid_mmr` (RRF pool).
    */
  private def mmrSelectFrom(poolCtes: String): String = {
    val lam = MmrLambda; val oneMinus = 1.0 - MmrLambda
    val selectK = 3
    def objExpr(relCol: String, maxsimCol: String) =
      s"round($relCol * $lam - $maxsimCol * $oneMinus, 6)"
    val steps = (2 to selectK).map { t =>
      val selu = if (t == 2) "sel1"
        else s"(SELECT query_id, point_id FROM sel1" +
          (2 until t).map(i => s" UNION ALL SELECT query_id, point_id FROM sel$i")
            .mkString + ")"
      s"""p$t AS (
         |  SELECT h.query_id, h.point_id, h.rel, max(s.sim) AS maxsim
         |  FROM hp h
         |  LEFT JOIN $selu x ON x.query_id = h.query_id AND x.point_id = h.point_id
         |  JOIN simsp s ON s.query_id = h.query_id AND s.pa = h.point_id
         |  JOIN $selu sel ON sel.query_id = s.query_id AND sel.point_id = s.pb
         |  WHERE x.point_id IS NULL
         |  GROUP BY 1, 2, 3),
         |sel$t AS (
         |  SELECT query_id, point_id, obj FROM (
         |    SELECT query_id, point_id, ${objExpr("rel", "maxsim")} AS obj,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${objExpr("rel", "maxsim")} DESC, point_id) AS r
         |    FROM p$t) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to selectK).map(t =>
      s"SELECT query_id, CAST($t AS BIGINT) AS sel_rank, point_id, obj AS objective FROM sel$t")
      .mkString("\n  UNION ALL ")
    s"""WITH $poolCtes,
       |simsp AS (
       |  SELECT a.query_id, a.point_id AS pa, b.point_id AS pb,
       |    ${sqlCos("a.v", "b.v")} AS sim
       |  FROM hp a JOIN hp b
       |    ON a.query_id = b.query_id AND a.point_id <> b.point_id),
       |sel1 AS (
       |  SELECT query_id, point_id, obj FROM (
       |    SELECT query_id, point_id, round(rel, 6) AS obj,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY round(rel, 6) DESC, point_id) AS r
       |    FROM hp) WHERE r = 1),
       |$steps
       |SELECT * FROM (
       |  $out)
       |ORDER BY query_id, sel_rank""".stripMargin
  }

  /** Hybrid-retrieval CTE chain: BM25 top-10 (`bm25Ctes`) + dense
    * cosine top-10 + reciprocal-rank fusion, ending at
    * `hyb(query_id, doc_id, rrf, rank)` truncated to the top `k` —
    * mirrors Retrieval.rrfFuse over bm25TopK/knnJoin. Shared by
    * `rag_hybrid` (k=5 output) and `rag_hybrid_mmr` (k=8 pool).
    */
  private def hybridCtes(k: Int): String =
    s"""${bm25Ctes(10)},
       |vr AS (
       |  SELECT q.vec_id AS query_id, p.vec_id AS doc_id,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS BIGINT) AS rank
       |  FROM embeddings q, embeddings p
       |  WHERE q.vec_id < 8
       |  QUALIFY rank <= 10),
       |fus AS (
       |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
       |    coalesce(a.doc_id, b.doc_id) AS doc_id,
       |    round(coalesce(1.0 / (60 + a.rank), 0) + coalesce(1.0 / (60 + b.rank), 0), 6)
       |      AS rrf
       |  FROM bmr a FULL OUTER JOIN vr b
       |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
       |hyb AS (
       |  SELECT query_id, doc_id, rrf,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM fus QUALIFY rank <= $k)""".stripMargin

  /** Product-quantization oracle: per-subspace unrolled EUCLIDEAN
    * k-means (assignment by `argmax dot − ‖c‖²/2`) → per-(point, sub)
    * code assignment → broadcast-LUT ADC cosine — mirrors
    * Pq.trainCodebooks / Pq.encode / Pq.adcTopK step for step
    * (m=8 × 8-d subspaces, 16 codes, 2 Lloyd iterations, ADC scores
    * rounded to 6 dp before ranking). Modes: "adc" ranks ADC scores
    * directly; "rerank" turns the ADC ranking into a 50-candidate
    * shortlist whose raw vectors are re-scored with exact cosine
    * (Pq.adcRerank — ranking on the UNROUNDED exact score, the
    * Knn.knnJoin convention); "ivfpq" additionally prunes candidates
    * to the query's 4-bit sign bucket before ADC (Pq.ivfpqRerank,
    * shortlist 20).
    */
  private def pqSelect(mode: String, qMax: Int = 5, k: Int = 5): String = {
    val m = 8; val dsub = 8; val kCodes = 16
    val rerank = mode != "adc"
    val ivfpq = mode == "ivfpq"
    val adcK = if (!rerank) k else if (ivfpq) 20 else 50
    // L2 assignment (argmax dot − ‖c‖²/2), not the IVF trainer's cosine
    def assignCte(src: String, cents: String): String =
      s"""SELECT pid, v, cid FROM (
         |  SELECT pid, v, cid, row_number() OVER (PARTITION BY pid ORDER BY s DESC, cid) AS rn
         |  FROM (SELECT p.pid, p.v, c.cid,
         |          ${OracleSql.sqlDot("p.v", "c.c")} - ${OracleSql.sqlDot("c.c", "c.c")} / 2 AS s
         |        FROM $src p CROSS JOIN $cents c)) WHERE rn = 1""".stripMargin
    def updateCte(assigned: String, prev: String): String =
      s"""SELECT p.cid, coalesce(u.c, p.c) AS c FROM $prev p LEFT JOIN (
         |  SELECT cid, list(m ORDER BY j) AS c FROM (
         |    SELECT cid, j, round(avg(v[j]), 6) AS m
         |    FROM $assigned, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) g
         |    GROUP BY cid, j) GROUP BY cid) u ON p.cid = u.cid""".stripMargin
    val subChains = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"""ps$s AS (SELECT pid, v[$lo:$hi] AS v FROM pts),
         |c0$s AS (SELECT pid AS cid, v AS c
         |         FROM (SELECT pid, v FROM ps$s ORDER BY pid LIMIT $kCodes)),
         |a1$s AS (${assignCte(s"ps$s", s"c0$s")}),
         |c1$s AS (${updateCte(s"a1$s", s"c0$s")}),
         |a2$s AS (${assignCte(s"ps$s", s"c1$s")}),
         |c2$s AS (${updateCte(s"a2$s", s"c1$s")}),
         |cd$s AS (${assignCte(s"ps$s", s"c2$s")})""".stripMargin
    }.mkString(",\n")
    val cbUnion = (0 until m).map(s => s"SELECT $s AS sub, cid, c FROM c2$s")
      .mkString("\n  UNION ALL ")
    val codesUnion = (0 until m).map(s => s"SELECT $s AS sub, pid, cid FROM cd$s")
      .mkString("\n  UNION ALL ")
    val qsubUnion = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"SELECT pid AS qid, $s AS sub, v[$lo:$hi] AS qv FROM qs"
    }.mkString("\n  UNION ALL ")
    s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |pts AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id >= 10),
       |qs AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id < $qMax),
       |$subChains,
       |cb AS ($cbUnion),
       |codes AS ($codesUnion),
       |qsub AS ($qsubUnion),
       |qn AS (SELECT pid AS qid, ${OracleSql.sqlNorm("v")} AS n FROM qs),
       |lut AS (
       |  SELECT q.qid, q.sub, cb.cid,
       |    ${OracleSql.sqlDot("q.qv", "cb.c")} AS pdot,
       |    ${OracleSql.sqlDot("cb.c", "cb.c")} AS cn2
       |  FROM qsub q JOIN cb ON q.sub = cb.sub),
       |${if (ivfpq)
            s"""pbk AS (SELECT pid, ${bucketSql("v")} AS bucket FROM pts),
               |qbk AS (SELECT pid AS qid, ${bucketSql("v")} AS bucket FROM qs),""".stripMargin
          else ""}
       |sc AS (
       |  SELECT l.qid AS query_id, cds.pid AS point_id,
       |    round(CASE WHEN max(qn.n) * sqrt(sum(l.cn2)) = 0 THEN 0
       |          ELSE sum(l.pdot) / (max(qn.n) * sqrt(sum(l.cn2))) END, 6) AS score
       |  FROM codes cds
       |    JOIN lut l ON cds.sub = l.sub AND cds.cid = l.cid
       |    JOIN qn ON qn.qid = l.qid
       |${if (ivfpq)
            """    JOIN pbk ON pbk.pid = cds.pid
              |    JOIN qbk ON qbk.qid = l.qid AND qbk.bucket = pbk.bucket""".stripMargin
          else ""}
       |  GROUP BY l.qid, cds.pid),
       |ranked AS (
       |  SELECT query_id, point_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, point_id)
       |      AS BIGINT) AS rank
       |  FROM sc QUALIFY rank <= $adcK)
       |${if (!rerank)
            """SELECT query_id, rank, point_id, score
              |FROM ranked ORDER BY query_id, rank""".stripMargin
          else
            s""",rr AS (
              |  SELECT r.query_id, r.point_id, ${sqlCos("q.v", "p.v")} AS score
              |  FROM ranked r
              |    JOIN pts p ON p.pid = r.point_id
              |    JOIN qs q ON q.pid = r.query_id),
              |rr2 AS (
              |  SELECT query_id, point_id, score,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, point_id)
              |      AS BIGINT) AS rank
              |  FROM rr QUALIFY rank <= $k)
              |SELECT query_id, rank, point_id, round(score, 6) AS score
              |FROM rr2 ORDER BY query_id, rank""".stripMargin}""".stripMargin
  }

  /** Shared prefix: tokenize → trigram shingles → portable hash →
    * 16-seed MinHash signatures → 2×8 band table. Doc signatures are
    * independent of every other doc, so the SAME band table serves the
    * symmetric self-join (`minhashPairsCte`) and the asymmetric
    * batch-vs-corpus join (`dedup_incremental`).
    */
  private def minhashBandsCteFrom(src: String): String =
    s"""tl AS (SELECT doc_id, $toksSql AS t FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id, unnest(${ngramSql("t", 3)}) AS sh
       |  FROM tl),
       |shh AS (SELECT doc_id, ${h32Sql("sh")} AS h FROM sh),
       |seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
       |mh AS (
       |  SELECT doc_id, seed,
       |    min(((1 + 104729 * seed) * h + (12345 + 7919 * seed)) % 4294967311) AS mh
       |  FROM shh, seeds GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, seed // 8 AS band, string_agg(mh::VARCHAR, ',' ORDER BY seed) AS key
       |  FROM mh GROUP BY doc_id, band)""".stripMargin

  private lazy val minhashBandsCte: String = minhashBandsCteFrom("documents")

  /** The pairs chain WITHOUT the leading WITH, parameterized over the
    * `(doc_id, text)` source relation — composable inside a larger
    * WITH chain (`pipeline_e2e` runs it over the cleaned+quality-ok
    * corpus, not raw documents).
    */
  private def minhashPairsBodyFrom(src: String): String =
    s"""${minhashBandsCteFrom(src)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM shh GROUP BY doc_id),
       |prs AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.s, sb.s))::DOUBLE /
       |      len(list_distinct(list_concat(sa.s, sb.s))) AS j
       |  FROM cand
       |  JOIN sets sa ON cand.doc_a = sa.doc_id
       |  JOIN sets sb ON cand.doc_b = sb.doc_id
       |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
       |      len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5)""".stripMargin

  private lazy val minhashPairsCte: String =
    "WITH " + minhashPairsBodyFrom("documents")

  /** NB TRAINING CTEs parameterized by the training predicate
    * (mirrors [[graft.ops.Curation.nbModel]] with `lang = 'en'` as the
    * curated class); ends at `lr(term, lr)` + `pr(nd_cur, nd_web)`
    * with `tot(t_cur, t_web, v)` in scope. ONE definition, two
    * consumers: [[nbScoreCtes]] (full-corpus, `TRUE`) and
    * `pipeline_nb_oov` (corpus-minus-batch — the train/serve split
    * that makes the batch genuinely OOV-bearing).
    */
  private def nbTrainCtes(pred: String): String =
    s"""tl AS (SELECT doc_id, lang = 'en' AS cur, $toksSql AS t FROM documents WHERE $pred),
       |tok AS (SELECT doc_id, cur, unnest(t) AS term FROM tl),
       |tc AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
       |    CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS c_web
       |  FROM tok GROUP BY term),
       |tot AS (
       |  SELECT CAST(sum(c_cur) AS BIGINT) AS t_cur,
       |    CAST(sum(c_web) AS BIGINT) AS t_web, count(*) AS v
       |  FROM tc),
       |lr AS (
       |  SELECT term,
       |    round(ln((c_cur + 1)::DOUBLE / (t_cur + v)) -
       |          ln((c_web + 1)::DOUBLE / (t_web + v)), 6) AS lr
       |  FROM tc, tot),
       |pr AS (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nd_cur,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nd_web
       |  FROM documents WHERE $pred)""".stripMargin

  /** NB quality-classifier CTEs: full-corpus training + full-corpus
    * scoring; ends at `sc(doc_id, score)`. ONE definition, four
    * consumers (`pipeline_nb_quality`, `pipeline_nb_eval`,
    * `pipeline_nb_bins`, `nbIncSql` and its `_inc` report derivatives)
    * — the dataCardSql discipline.
    */
  private lazy val nbScoreCtes: String =
    s"""${nbTrainCtes("TRUE")},
       |dt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
       |ds AS (SELECT doc_id, sum(c * lr) AS s FROM dt JOIN lr USING (term) GROUP BY doc_id),
       |sc AS (
       |  SELECT d.doc_id,
       |    CASE WHEN pr.nd_cur = 0 OR pr.nd_web = 0 THEN NULL
       |      ELSE round(coalesce(ds.s, 0.0) + ln(pr.nd_cur::DOUBLE / pr.nd_web), 6)
       |    END AS score
       |  FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id, pr)""".stripMargin

  /** Min-label propagation over the `prs` pair set, unrolled 3 rounds
    * (mirrors `Dedup.clusterLabels(iterations = 3)`); ends at
    * `l3(doc_id, label)`. ONE definition, two consumers
    * (`dedup_cluster`, `dedup_keep_best`) — the dataCardSql
    * discipline. Expects `prs(doc_a, doc_b, …)` in scope (the
    * minhashPairsCte product).
    */
  private def clusterLabelCtesFrom(docsSrc: String): String =
    // MATERIALIZED levels: DuckDB 1.0 INLINES a CTE at every reference
    // and each propagation level references the previous one TWICE (its
    // own rows + the edge join), so the unmaterialized chain re-derives
    // the whole upstream (prs' band self-join, and in pipeline_e2e the
    // clean→quality→minhash lineage) 2^rounds times — measured as a
    // 19-CPU-minute oracle stall on a 393-doc corpus. Materialization
    // is semantics-neutral; each level now computes once.
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM $docsSrc),
       |l1 AS MATERIALIZED (SELECT doc_id, min(label) AS label FROM (
       |  SELECT doc_id, label FROM l0
       |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l0 l ON e.dst = l.doc_id)
       |  GROUP BY doc_id),
       |l2 AS MATERIALIZED (SELECT doc_id, min(label) AS label FROM (
       |  SELECT doc_id, label FROM l1
       |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l1 l ON e.dst = l.doc_id)
       |  GROUP BY doc_id),
       |l3 AS MATERIALIZED (SELECT doc_id, min(label) AS label FROM (
       |  SELECT doc_id, label FROM l2
       |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l2 l ON e.dst = l.doc_id)
       |  GROUP BY doc_id)""".stripMargin

  private lazy val clusterLabelCtes: String = clusterLabelCtesFrom("documents")

  /** DuckDB mirror of [[Layout.zValue]]: unrolled Morton interleave. */
  private def zSql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** One stored-ANN index build per (sfDir, kind) per JVM. The build is
    * a real `bucketBy` write — the production step every later batch
    * search amortizes — but re-executing it on EVERY bench rep (and on
    * plan-only inspection) re-times index construction, not search, and
    * a fixed global table name collides when two sessions or parallel
    * suites construct the query concurrently. The table name carries a
    * per-JVM nonce + the sanitized sfDir, so concurrent JVMs and
    * different scale factors never share a table, while reps within one
    * run reuse the first build.
    */
  private lazy val idxNonce = java.lang.Long.toHexString(System.nanoTime())
  private val storedIdx = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // nonce-named index dirs would otherwise accumulate in tmpdir across
  // JVM runs (the old fixed-name scheme overwrote in place); delete
  // them on exit, the SparkEntryStream scratch-dir discipline
  private val idxPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    def deleteRecursively(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
      f.delete(): Unit
    }
    sys.addShutdownHook {
      idxPaths.forEach(p => deleteRecursively(new java.io.File(p)))
    }: Unit
  }
  /** tmpdir path for a stored-index table, registered for exit cleanup. */
  private def idxPath(tbl: String): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"), tbl).getAbsolutePath
    idxPaths.add(p)
    p
  }
  private def storedIndexTable(kind: String, sfDir: String)(
      build: String => Unit): String =
    storedIdx.computeIfAbsent(kind + ":" + sfDir, _ => {
      val tbl = s"graft_${kind}_${idxNonce}_" +
        sfDir.replaceAll("[^a-zA-Z0-9]", "_")
      build(tbl)
      tbl
    })

  /** The sign-bucket stored index both batch-ANN queries share — ONE
    * builder, so the layout (bits, bucket count, column name) cannot
    * silently diverge between the single-probe and multi-probe
    * registrations that search the same table.
    */
  private def signBucketIndex(s: SparkSession, d: String): String =
    storedIndexTable("ivf_batch_idx", d) { tbl =>
      Tables.embeddings(s, d).withColumnRenamed("vec_id", "point_id")
        .withColumn("b", SimilaritySearch.signBucket("embedding", 4))
        .write.mode("overwrite").option("path", idxPath(tbl))
        .bucketBy(16, "b").saveAsTable(tbl)
    }

  /** Binary-quantization signature index, materialized at ingest — the
    * production step [[SimilaritySearch.bqRerankTopKStored]] amortizes:
    * `sig = packSignBits(embedding, 64)` (2 BIGINTs per 64-d vector,
    * 16x smaller than the floats) written ONCE next to the point ids.
    * Layout: `bucketBy(32, point_id)`. Phase 1 has no join key (it is
    * a broadcast nested-loop scan), so the bucketing is NOT for join
    * co-location — it pins SCAN parallelism: a bucketed table scans
    * one task per bucket, where a plain narrow table this small
    * coalesces into 1–2 byte-sized splits and single-threads the
    * O(pairs) pass (measured: the un-bucketed prefix index ran 1.8x
    * SLOWER than the in-plan form at the 100x smoke for exactly this
    * reason). Production sizes the bucket count to corpus/task-size;
    * 32 matches the harness parallelism. Zero per-batch pack and zero
    * point-side exchange either way (BucketingSpec pin).
    */
  private def bqSigIndex(s: SparkSession, d: String): String =
    storedIndexTable("bq_sig_idx", d) { tbl =>
      Tables.embeddings(s, d).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"),
          SimilaritySearch.packSignBits(col("embedding"), 64).as("sig"))
        .write.mode("overwrite").option("path", idxPath(tbl))
        .bucketBy(32, "point_id").saveAsTable(tbl)
    }

  /** Matryoshka prefix index (the [[bqSigIndex]] discipline for
    * [[SimilaritySearch.prefixRerankTopKStored]]): the leading 16 of 64
    * components stored as their own narrow column — the corpus-wide
    * prefix pass scans 1/4 of the vector bytes with no per-batch slice.
    */
  private def prefixSigIndex(s: SparkSession, d: String): String =
    storedIndexTable("prefix_idx", d) { tbl =>
      Tables.embeddings(s, d).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"),
          slice(col("embedding"), 1, 16).as("pre"))
        .write.mode("overwrite").option("path", idxPath(tbl))
        .bucketBy(32, "point_id").saveAsTable(tbl)
    }

  /** Composed IVF+BQ stored index: sign bucket (the co-location key —
    * `bucketBy` serves the probe equi-join with zero point-side
    * movement) AND packed signature (the cheap pair-pass column) in
    * ONE table, for [[SimilaritySearch.ivfBqRerankTopK]]. The raw
    * vector column is deliberately NOT stored here: the pair pass
    * never reads it, and the rerank fetches it by id from the corpus.
    */
  private[graft] def ivfBqIndex(s: SparkSession, d: String): String =
    storedIndexTable("ivf_bq_idx", d) { tbl =>
      Tables.embeddings(s, d).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"),
          SimilaritySearch.signBucket("embedding", 4).as("b"),
          SimilaritySearch.packSignBits(col("embedding"), 64).as("sig"))
        .write.mode("overwrite").option("path", idxPath(tbl))
        .bucketBy(16, "b").saveAsTable(tbl)
    }

  /** Corpus gram-df table for incremental substring dedup,
    * materialized ONCE per sfDir per JVM: `Dedup.gramDf` over the
    * standing corpus (doc_id % 10 =!= 3 — the `dedup_incremental`
    * split), written `bucketBy(16, "g")` so each new batch's probe
    * join reads the corpus-sized side with its distribution already
    * on disk — only the batch-gram side exchanges (BucketingSpec
    * pin). A production pipeline appends/merges new batches' counts
    * into this table after flagging them.
    */
  private def spanGramIndex(s: SparkSession, d: String): String =
    storedIndexTable("span_gram_df", d) { tbl =>
      Dedup.gramDf(Tables.documents(s, d).filter(col("doc_id") % 10 =!= 3),
          "doc_id", "text", n = spanN)
        .write.mode("overwrite").option("path", idxPath(tbl))
        .bucketBy(16, "g").saveAsTable(tbl)
    }

  /** Per-doc profile + vocab tables, materialized ONCE per sfDir per
    * JVM (the [[bqSigIndex]] discipline applied to corpus reporting):
    * the profile carries the tokenize + quality-cascade results
    * ([[TextAnalysis.docProfile]]), the `_vocab` side table the
    * distinct whitespace terms. `pipeline_data_card_inc` then derives
    * the card from these narrow tables — the ingest-time step that
    * drops the cascade cost out of every card refresh.
    */
  /** Run `body` with `spark.sql.shuffle.partitions` sized for a
    * VOCAB-KEYED exchange over `d`'s documents, restoring the session
    * value after. A vocab-keyed final aggregate (term/pair distincts,
    * per-term model counts) holds one hash-map entry per SURVIVING
    * key, so its per-task working set is vocab-sized, not token-sized
    * — on a vocab-heavy corpus the session's fixed partition count
    * under-splits it (measured: 5M docs with ~1000× the base vocab
    * OOM'd a 48 GB heap across 32 final partitions at the r18 1000×
    * smoke). Sizing: one partition per [[VolumeConf]]'s bytes-per-
    * partition constant of source parquet (text explodes 3–5× off
    * parquet encoding, and keys dominate the map), floored at the
    * session constant, capped at 2048 — the arithmetic a production
    * job does with its cluster's task size. A scoped
    * conf override (not `repartition`) so the map-side PARTIAL
    * aggregate stays in the plan — an explicit repartition below the
    * aggregate would ship every raw token occurrence across the
    * exchange instead of per-input-partition-distinct keys. The
    * session constant stays right for the row-keyed exchanges
    * (doc_id-sized state) everywhere else.
    *
    * Sizing input: the FULL `documents.parquet` byte size of `d`, not
    * the (possibly filtered) DataFrame the caller trains on — e.g.
    * [[nbOovModelIndex]] trains on corpus-minus-batch. That is
    * deliberate: the partition count only needs an UPPER bound on the
    * training input's volume (a filtered corpus gets at most a few
    * partitions more than it strictly needs, and AQE coalescing
    * absorbs the slack), and the full-table size is readable without
    * resolving the caller's plan. A caller feeding a frame NOT derived
    * from `d`'s documents table must not use this helper.
    *
    * The set/restore is serialized under [[vocabShuffleLock]]: the
    * conf key is SESSION-shared mutable state, and two index builders
    * racing here ([[storedIndexTable]] only serializes per KIND) could
    * interleave set/restore and leave one build under-split or the
    * session constant clobbered with a stale value.
    */
  private val vocabShuffleLock = new Object
  private def withVocabSizedShuffle[T](s: SparkSession, d: String)(body: => T): T =
    vocabShuffleLock.synchronized {
      val docBytes = {
        val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      val parts = VolumeConf.volumeSizedPartitions(docBytes,
        s.sessionState.conf.numShufflePartitions)
      // Under AQE + partition coalescing, SQLConf.numShufflePartitions
      // reads `coalescePartitions.initialPartitionNum` whenever that
      // key is SET — and the harness sessions (RunQ/Bench/Verify) set
      // it volume-sized. Overriding only `spark.sql.shuffle.partitions`
      // would be silently shadowed there (today the two sizings share
      // VolumeConf over the same directory so the shadowing is
      // harmless, but the moment they diverge the vocab build would
      // fall back to the session width with no error), so the scoped
      // override sets BOTH keys and restores both — the AQE key back
      // to its prior value, or unset if the session never set it.
      // (Only the AQE key can be GENUINELY unset: shuffle.partitions
      // has a registered default, so getOption always reads back a
      // value and the restore re-applies it — behaviorally identical
      // to unset, just not symmetric in the conf map.)
      val keys = Seq("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      val prev = keys.map(k => k -> s.conf.getOption(k))
      keys.foreach(k => s.conf.set(k, parts.toString))
      try body finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }

  private def docProfileIndex(s: SparkSession, d: String): String =
    storedIndexTable("doc_profile", d) { tbl =>
      val docs = Tables.documents(s, d)
      TextAnalysis.docProfile(docs, "doc_id", "text")
        .write.mode("overwrite").option("path", idxPath(tbl)).saveAsTable(tbl)
      // (source, term) distinct pairs — the per-SOURCE vocab side
      // table `pipeline_source_cards_inc` reads; vocab-keyed final
      // state, so the exchange is volume-sized (the OOM lesson —
      // see withVocabSizedShuffle)
      withVocabSizedShuffle(s, d) {
        docs.select(col("source"), explode(Dedup.tokens(col("text"))).as("term"))
          .distinct()
          .write.mode("overwrite").option("path", idxPath(tbl + "_srcvocab"))
          .saveAsTable(tbl + "_srcvocab")
        // the global vocab is the pair table's term projection — derive
        // it from the NARROW stored table rather than paying a second
        // full-corpus tokenize+explode pass
        s.table(tbl + "_srcvocab").select(col("term")).distinct()
          .write.mode("overwrite").option("path", idxPath(tbl + "_vocab"))
          .saveAsTable(tbl + "_vocab")
      }
    }

  /** Stored NB quality-classifier model — the trained `(term, lr)`
    * table (bucketed by `term`: batch scoring's vocab join gets no
    * model-side exchange and one scan task per bucket — the
    * bqSigIndex under-splitting lesson) plus the 1-row `_prior`
    * doc-count side table. Trained ONCE per corpus snapshot
    * ([[graft.ops.Curation.nbModel]]); `pipeline_nb_inc` scores
    * incoming batches against it without ever re-tokenizing the
    * corpus.
    */
  private[graft] def nbModelIndex(s: SparkSession, d: String): String =
    storedIndexTable("nb_model", d) { tbl =>
      val (lr, priors) = Curation.nbModel(Tables.documents(s, d),
        "doc_id", "text", col("lang") === "en")
      // the per-term class-count aggregate's final state is vocab-sized
      // — volume-size its exchange (the docProfileIndex OOM lesson)
      withVocabSizedShuffle(s, d) {
        lr.write.mode("overwrite").option("path", idxPath(tbl))
          .bucketBy(8, "term").saveAsTable(tbl)
      }
      priors.write.mode("overwrite").option("path", idxPath(tbl + "_prior"))
        .saveAsTable(tbl + "_prior")
    }

  /** [[nbModelIndex]] trained on the corpus MINUS the scoring batch
    * (`doc_id % nbBatchMod <> 0`) — `pipeline_nb_oov`'s artifact: the
    * train/serve split is what makes the batch genuinely OOV-bearing,
    * so the stored `oov_lr` constant (recorded by `nbModel` at
    * training time) actually exercises. Same layout discipline
    * (`bucketBy(8, term)` + 1-row priors side table).
    */
  private[graft] def nbOovModelIndex(s: SparkSession, d: String): String =
    storedIndexTable("nb_oov_model", d) { tbl =>
      val (lr, priors) = Curation.nbModel(
        Tables.documents(s, d).filter(col("doc_id") % nbBatchMod =!= 0),
        "doc_id", "text", col("lang") === "en")
      withVocabSizedShuffle(s, d) {
        lr.write.mode("overwrite").option("path", idxPath(tbl))
          .bucketBy(8, "term").saveAsTable(tbl)
      }
      priors.write.mode("overwrite").option("path", idxPath(tbl + "_prior"))
        .saveAsTable(tbl + "_prior")
    }

  /** Trained-IVF stored index (cell assignment bucketed by `cid`, the
    * 16-row centroid model as a `_cents` side table) —
    * `sim_ivf_trained_batch`'s build, extracted so [[prewarmMemos]]
    * can trigger it outside the query body.
    */
  private def ivfTrainedIndex(s: SparkSession, d: String): String =
    storedIndexTable("ivf_trained_idx", d) { tbl =>
      val points = Tables.embeddings(s, d).filter(col("vec_id") >= 10)
        .withColumnRenamed("vec_id", "point_id")
      val cents = ivfModel(s, d)
      cents.write.mode("overwrite").option("path", idxPath(tbl + "_cents"))
        .saveAsTable(tbl + "_cents")
      SimilaritySearch.assignPoints(points, "point_id", "embedding", cents)
        .write.mode("overwrite").option("path", idxPath(tbl))
        .bucketBy(16, "cid").saveAsTable(tbl)
    }

  /** Untimed trigger for EVERY per-JVM memoized build keyed on the
    * bench sfDir: the trained models (IVF centroids, PQ codebooks,
    * BPE merges) and the stored index tables. Benchmarks call this
    * BEFORE their timed probe pass so a recorded rep always measures
    * serving, never a one-time ingest/training bill — without it, a
    * budget-exhausted bench records the memoized family's cold probe
    * (model training + index write + search) as if it were the
    * query's cost, the round-12 outlier mechanism on `sim_ivfpq` /
    * `sim_ivf_trained_batch` / `text_bpe_apply`. Production shape:
    * these builds run at INGEST time (their cost is measured
    * separately — `text_bpe_train`, `sim_ivf_trained`, and the
    * SCALING.md one-time-build rows); steady-state queries amortize
    * them, which is exactly what a warm rep measures.
    */
  private[graft] def prewarmMemos(s: SparkSession, d: String): Unit = {
    ivfModel(s, d): Unit
    pqModel(s, d): Unit
    bpeModel(s, d): Unit
    signBucketIndex(s, d): Unit
    bqSigIndex(s, d): Unit
    prefixSigIndex(s, d): Unit
    ivfBqIndex(s, d): Unit
    spanGramIndex(s, d): Unit
    docProfileIndex(s, d): Unit
    ivfTrainedIndex(s, d): Unit
    nbModelIndex(s, d): Unit
    nbOovModelIndex(s, d): Unit
  }

  /** One PQ codebook training per (sfDir) per JVM — the model is
    * `m × kCodes` driver-local rows (the storedIndexTable discipline
    * applied to a model instead of a table: production trains
    * codebooks once per corpus and every encode/search amortizes it;
    * re-training on every bench rep would time training, not search).
    * Parameters are fixed to the checked-query config (64-d, m=8,
    * 16 codes, 2 iterations).
    */
  /** One trained-IVF centroid model per (sfDir) per JVM — the
    * [[pqModel]] discipline for the coarse quantizer: the model is
    * kCentroids × dim driver-local doubles, training is deterministic
    * (same data + params ⇒ bit-identical centroids), and production
    * trains the quantizer once per corpus while every search amortizes
    * it. Parameters fixed to the checked-query config (64-d,
    * 16 centroids, 2 Lloyd iterations, points = vec_id ≥ 10).
    */
  private val ivfCentModels =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Array[Double])]]()
  private def ivfModel(s: SparkSession, d: String): DataFrame =
    ivfModelFor(s, d, Tables.embeddings(s, d))
  /** Memo key generalizes beyond sfDir so the clustered-fixture query
    * trains (once per JVM) on ITS embeddings under its own key.
    */
  private def ivfModelFor(s: SparkSession, key: String, emb: DataFrame): DataFrame = {
    val rows = ivfCentModels.computeIfAbsent(key, _ =>
      SimilaritySearch.trainedCentroids(
          emb.filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", dim = 64, kCentroids = 16, iters = 2)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)))
    import s.implicits._
    rows.toSeq.toDF("cid", "centroid")
  }

  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Long, Array[Double])]]()
  private def pqModel(s: SparkSession, d: String): DataFrame =
    pqModelFor(s, d, Tables.embeddings(s, d))
  private def pqModelFor(s: SparkSession, key: String, emb: DataFrame): DataFrame = {
    val rows = pqModels.computeIfAbsent(key, _ =>
      Pq.trainCodebooks(
          emb.filter(col("vec_id") >= 10), "vec_id", "embedding",
          dim = 64, m = 8, kCodes = 16, iters = 2)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray)))
    import s.implicits._
    rows.toSeq.toDF("sub", "cid", "centroid")
  }

  /** One trained BPE merge model per sfDir per JVM — the
    * [[pqModel]]/[[ivfModelFor]] discipline for the tokenizer:
    * `trainMerges` is deterministic (same 90% split + params ⇒ the
    * same ordered merge list), production trains a tokenizer once per
    * corpus while every apply pass amortizes it, and re-training per
    * bench rep would time training (which `text_bpe_train` already
    * measures on its own), not application. The model is 4 driver-local
    * string pairs.
    */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def bpeModel(s: SparkSession, d: String): Seq[(String, String)] =
    bpeModels.computeIfAbsent(d, _ =>
      Bpe.trainMerges(
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", rounds = 4)
        .orderBy(col("merge_round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** The unified nine-path ANN quality table (`sim_recall_all` /
    * `sim_recall_clustered`): mean recall@3 of every approximate path
    * against one exact ground truth over the same queries (vec_id < 10),
    * points (vec_id >= 10) and k. `modelKey` scopes the per-JVM
    * trained-model memos ([[ivfModelFor]]/[[pqModelFor]]) to the
    * embedding source so the two queries never share models.
    */
  private def recallAllOver(s: SparkSession, emb: DataFrame, modelKey: String): DataFrame = {
    val queries = emb.filter(col("vec_id") < 10)
    val pts = emb.filter(col("vec_id") >= 10)
    val points = pts.withColumnRenamed("vec_id", "point_id")
    val exact = Knn.knnJoin(queries, points, "vec_id", "embedding",
        "point_id", "embedding", 3)
      .select(col("query_id"), col("point_id"))
    val cb = pqModelFor(s, modelKey, emb)
    val codes = Pq.encode(pts, "vec_id", "embedding", cb, m = 8, dsub = 8)
    val bcodes = Pq.encodeBucketed(pts, "vec_id", "embedding", cb, m = 8, dsub = 8,
      SimilaritySearch.signBucket("embedding", 4))
    val paths: Seq[(String, DataFrame)] = Seq(
      "ivf" -> SimilaritySearch.ivfTopK(queries, points,
        "vec_id", "point_id", "embedding", bits = 4, k = 3),
      "ivf_mp" -> SimilaritySearch.ivfTopKStored(queries,
        points.withColumn("b", SimilaritySearch.signBucket("embedding", 4)),
        "vec_id", "point_id", "embedding", "b", bits = 4, k = 3, nprobe = 2),
      "ivf_trained" -> {
        val cents = ivfModelFor(s, modelKey, emb)
        SimilaritySearch.searchAssignedCells(
          SimilaritySearch.assignPoints(points, "point_id", "embedding", cents),
          cents, queries, "vec_id", "embedding", nprobe = 4, k = 3)
      },
      "pq_adc" -> Pq.adcTopK(queries, "vec_id", "embedding",
        cb, codes, m = 8, dsub = 8, k = 3),
      "pq_rerank" -> Pq.adcRerank(queries, "vec_id", "embedding",
        points.select(col("point_id"), col("embedding")), "point_id",
        cb, codes, m = 8, dsub = 8, shortlist = 50, k = 3),
      "ivfpq" -> Pq.ivfpqRerank(queries, "vec_id", "embedding",
        SimilaritySearch.signBucket("embedding", 4),
        points.select(col("point_id"), col("embedding")), "point_id",
        cb, bcodes, m = 8, dsub = 8, shortlist = 20, k = 3),
      "bq" -> SimilaritySearch.bqRerankTopK(queries, points,
        "vec_id", "point_id", "embedding", dim = 64, shortlist = 20, k = 3),
      "prefix" -> SimilaritySearch.prefixRerankTopK(queries, points,
        "vec_id", "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 3),
      "ivf_bq" -> SimilaritySearch.ivfBqRerankTopK(queries,
        pts.select(col("vec_id").as("point_id"),
          SimilaritySearch.signBucket("embedding", 4).as("b"),
          SimilaritySearch.packSignBits(col("embedding"), 64).as("sig")),
        points.select(col("point_id"), col("embedding")),
        "vec_id", "point_id", "embedding", "b", "sig",
        bits = 4, dim = 64, nprobe = 2, shortlist = 20, k = 3))
    // ONE method-tagged tail instead of nine (the eval_ndcg_paths
    // fusion): each path's recallAtK + mean used to plan its own
    // semi-join, per-query fold, zero-fill join, and final aggregate —
    // ~3 sequential AQE stage jobs per path over ≤30 rows of hits.
    // Union the (tiny) hit tables tagged by method, dedup to preserve
    // the semi-join's count-once semantics, one semi-join against the
    // exact truth, one count per method. n_queries is path-independent
    // (recallAtK zero-fills misses from the exact side), so it comes
    // from the exact table once; the when(n_queries > 0) guards keep
    // the empty-input outputs (null sum/recall) bit-identical to the
    // old per-path aggregate.
    val tagged = paths.map { case (name, approx) =>
        approx.select(lit(name).as("method"), col("query_id"), col("point_id"))
      }.reduce(_.unionByName(_)).distinct()
    // Semi-join direction is approx-against-exact (the reverse of
    // recallAtK's exact-against-approx); the hit COUNTS are equal only
    // because the exact side has distinct (query_id, point_id): knnJoin
    // returns each point row at most once per query, with distinct
    // ranks 1..k, and point ids are unique here — if the exact path
    // ever keeps ties, this tail must .distinct() the exact projection
    // too.
    val hitCounts = tagged
      .join(exact, Seq("query_id", "point_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("__hits"))
    import s.implicits._
    val sumHits = when(col("n_queries") > 0, coalesce(col("__hits"), lit(0L)))
    paths.map(_._1).toDF("method")
      .crossJoin(exact.agg(count_distinct(col("query_id")).as("n_queries")))
      .join(hitCounts, Seq("method"), "left")
      .select(col("method"), col("n_queries"),
        sumHits.as("sum_hits"),
        round(sumHits.cast("double") / (col("n_queries") * 3), 6)
          .as("mean_recall"))
      .orderBy(col("method"))
  }

  /** DuckDB mirror of `SimilaritySearch.packSignBits` word `w`: sign
    * bits of components `[w*32, min(dim, (w+1)*32))` packed into bit
    * `31 - (i mod 32)` of one BIGINT — 32-bit words, so every sum stays
    * positive in both engines.
    */
  private def bqWordSql(c: String, w: Int, dim: Int): String =
    (w * 32 until math.min(dim, (w + 1) * 32))
      .map(i => s"CASE WHEN $c[${i + 1}] > 0 THEN ${1L << (31 - (i % 32))} ELSE 0 END")
      .mkString("(", " + ", ")::BIGINT")

  /** Shared oracle for `sim_prefix_rerank` AND `sim_prefix_stored`: the
    * stored index changes the execution layout, not the semantics, so
    * both check against one SQL (the single-sourcing discipline).
    */
  private lazy val prefixRerankSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, embedding, embedding[1:16] AS pre
       |  FROM embeddings WHERE vec_id < 10),
       |p AS (
       |  SELECT vec_id, embedding, embedding[1:16] AS pre
       |  FROM embeddings WHERE vec_id >= 10),
       |sl AS (
       |  SELECT q.vec_id AS query_id, p.vec_id AS point_id,
       |    q.embedding AS qe, p.embedding AS pe,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCos("q.pre", "p.pre")} DESC, p.vec_id) AS prank
       |  FROM q, p
       |  QUALIFY prank <= 20)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY ${sqlCos("qe", "pe")} DESC, point_id) AS BIGINT) AS rank,
       |  point_id,
       |  round(${sqlCos("qe", "pe")}, 6) AS score
       |FROM sl
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The canonical-greedy merge-application CTE chain: reads sequence
    * CTE `src(doc_id, t)` and 1-row model CTE `m(l, r, c)`, emits
    * `out(doc_id, t)`; `tag` uniquifies the intermediate names. The
    * run-selection windows mirror [[graft.ops.Bpe.applyMerge]] clause
    * for clause; merged token = `l || chr(1) || r` (= the Spark
    * U+0001 separator). Trailing comma included.
    */
  private def bpeApplyBlockSql(src: String, m: String, out: String,
      tag: String): String =
    s"""pe$tag AS (
       |  SELECT doc_id, i AS p, t[i] AS tok,
       |    CASE WHEN i < len(t) THEN t[i + 1] END AS nxt
       |  FROM $src, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
       |el$tag AS (
       |  SELECT pe.doc_id, pe.p, pe.tok,
       |    (pe.tok = m.l AND pe.nxt = m.r) AS elig,
       |    m.l || chr(1) || m.r AS mg,
       |    sum(CASE WHEN pe.tok = m.l AND pe.nxt = m.r THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY pe.doc_id ORDER BY pe.p) AS eidx
       |  FROM pe$tag pe CROSS JOIN $m m),
       |rn$tag AS (
       |  SELECT *, CASE WHEN elig THEN p - eidx END AS runkey
       |  FROM el$tag),
       |sl$tag AS (
       |  SELECT *, CASE WHEN elig
       |    THEN row_number() OVER (PARTITION BY doc_id, runkey ORDER BY p) END AS rrn
       |  FROM rn$tag),
       |sv$tag AS (
       |  SELECT *, coalesce(elig AND rrn % 2 = 1, false) AS sel
       |  FROM sl$tag),
       |pv$tag AS (
       |  SELECT *, coalesce(lag(sel) OVER (PARTITION BY doc_id ORDER BY p), false)
       |    AS prevsel
       |  FROM sv$tag),
       |$out AS (
       |  SELECT doc_id, list(CASE WHEN sel THEN mg ELSE tok END ORDER BY p) AS t
       |  FROM pv$tag WHERE NOT prevsel
       |  GROUP BY doc_id),
       |""".stripMargin

  /** Model CTEs of the round-unrolled BPE training loop (the
    * `$ivfTrainedSelect` discipline for a data-dependent trainer):
    * sequences `s0..s{rounds-1}` and 1-row argmax models
    * `m1..m{rounds}` over `documents` under `srcFilter`. Trailing
    * comma included.
    */
  private def bpeModelCtes(rounds: Int, srcFilter: String): String = {
    val sb = new StringBuilder
    sb.append(s"s0 AS (SELECT doc_id, $toksSql AS t FROM documents$srcFilter),\n")
    for (i <- 1 to rounds) {
      sb.append(
        s"""pc$i AS (
           |  SELECT doc_id, i AS p, t[i] AS tok,
           |    CASE WHEN i < len(t) THEN t[i + 1] END AS nxt
           |  FROM s${i - 1}, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
           |m$i AS (
           |  SELECT tok AS l, nxt AS r, count(*) AS c
           |  FROM pc$i WHERE nxt IS NOT NULL
           |  GROUP BY 1, 2
           |  ORDER BY c DESC, l, r
           |  LIMIT 1),
           |""".stripMargin)
      if (i < rounds)
        sb.append(bpeApplyBlockSql(s"s${i - 1}", s"m$i", s"s$i", s"t$i"))
    }
    sb.toString
  }

  /** Round-unrolled mirror of [[graft.ops.Bpe.trainMerges]]: the
    * learned merge table.
    */
  private def bpeTrainSql(rounds: Int): String =
    "WITH " + bpeModelCtes(rounds, "").stripSuffix(",\n") + "\n" +
      (1 to rounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_round, l AS left_tok, r AS right_tok, " +
          s"CAST(c AS BIGINT) AS pair_count FROM m$i")
        .mkString("", "\nUNION ALL ", "\nORDER BY merge_round")

  /** Mirror of [[graft.ops.Bpe.applyMerges]] over held-out docs: the
    * model trains on `doc_id % 10 <> 0`, all `rounds` merges apply in
    * learning order to the held-out `doc_id % 10 = 0`, and the output
    * reports per-doc raw vs BPE token counts.
    */
  private def bpeApplySql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH " + bpeModelCtes(rounds, " WHERE doc_id % 10 <> 0"))
    sb.append(s"a0 AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 10 = 0),\n")
    for (i <- 1 to rounds)
      sb.append(bpeApplyBlockSql(s"a${i - 1}", s"m$i", s"a$i", s"x$i"))
    sb.toString.stripSuffix(",\n") + "\n" +
      s"""SELECT a0.doc_id, CAST(len(a0.t) AS BIGINT) AS n_raw,
         |  CAST(coalesce(len(a$rounds.t), 0) AS BIGINT) AS n_bpe
         |FROM a0 LEFT JOIN a$rounds USING (doc_id)
         |ORDER BY a0.doc_id""".stripMargin
  }

  /** Mirror of [[graft.ops.Bpe.fertility]] grouped by `lang`: the
    * same train/held-out split and apply chain as [[bpeApplySql]],
    * aggregated to per-language integer sums with ONE exact-integer
    * division per ratio (6 dp; zero denominators NULL both sides).
    */
  private def bpeFertilitySql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH " + bpeModelCtes(rounds, " WHERE doc_id % 10 <> 0"))
    sb.append(s"a0 AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 10 = 0),\n")
    for (i <- 1 to rounds)
      sb.append(bpeApplyBlockSql(s"a${i - 1}", s"m$i", s"a$i", s"x$i"))
    sb.toString.stripSuffix(",\n") + "\n" +
      s""", g AS (
         |  SELECT d.lang, count(*) AS n_docs,
         |    CAST(sum(len(a0.t)) AS BIGINT) AS n_raw,
         |    CAST(sum(coalesce(len(a$rounds.t), 0)) AS BIGINT) AS n_bpe,
         |    CAST(sum(d.n_chars) AS BIGINT) AS c
         |  FROM a0 LEFT JOIN a$rounds USING (doc_id)
         |  JOIN documents d USING (doc_id)
         |  GROUP BY d.lang)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_raw, n_bpe,
         |  round(n_bpe::DOUBLE / nullif(n_raw, 0), 6) AS compression,
         |  round((100 * n_bpe)::DOUBLE / nullif(c, 0), 6) AS toks_per_100c
         |FROM g
         |ORDER BY lang""".stripMargin
  }

  /** Shared oracle for `pipeline_nb_inc` AND `stream_nb_score` (the
    * streaming crawl filter over the same stored NB model — per-DOC
    * purity makes micro-batch slicing invisible, so both check
    * against one SQL: the full score table restricted to the batch).
    */
  private[graft] lazy val nbIncSql: String =
    s"""WITH $nbScoreCtes
       |SELECT doc_id, score, score > 0 AS pred_curated
       |FROM sc WHERE doc_id % $nbBatchMod = 0
       |ORDER BY doc_id""".stripMargin

  /** Shared oracle for `pipeline_nb_oov` AND `stream_nb_oov` (the
    * [[nbIncSql]] pairing applied to the OOV-aware form): training
    * CTEs under the corpus-minus-batch predicate (nbTrainCtes —
    * single-sourced), batch terms LEFT-join the vocab so absent terms
    * pick up the smoothed constant
    * `o = round(ln((t_web+v)/(t_cur+v)), 6)` — the same train-time
    * totals the engine's stored `oov_lr` records. Per-DOC purity
    * makes micro-batch slicing invisible, so the batch and streaming
    * forms check against this ONE SQL.
    */
  private[graft] lazy val nbOovSql: String =
    s"""WITH ${nbTrainCtes(s"doc_id % $nbBatchMod <> 0")},
       |bl AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % $nbBatchMod = 0),
       |btok AS (SELECT doc_id, unnest(t) AS term FROM bl),
       |bdt AS (SELECT doc_id, term, count(*) AS c FROM btok GROUP BY doc_id, term),
       |oc AS (SELECT round(ln((t_web + v)::DOUBLE / (t_cur + v)), 6) AS o FROM tot),
       |bds AS (
       |  SELECT doc_id,
       |    sum(c * coalesce(lr, 0.0)) +
       |      (SELECT o FROM oc) * CAST(sum(CASE WHEN lr IS NULL THEN c ELSE 0 END) AS DOUBLE) AS s
       |  FROM bdt LEFT JOIN lr USING (term) GROUP BY doc_id),
       |bsc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN pr.nd_cur = 0 OR pr.nd_web = 0 THEN NULL
       |      ELSE round(coalesce(bds.s, 0.0) + ln(pr.nd_cur::DOUBLE / pr.nd_web), 6)
       |    END AS score
       |  FROM bl b LEFT JOIN bds ON b.doc_id = bds.doc_id, pr)
       |SELECT doc_id, score, score > 0 AS pred_curated
       |FROM bsc ORDER BY doc_id""".stripMargin

  /** Confusion-matrix report tail over a score relation
    * `src(doc_id, score)` — ONE definition, two consumers
    * (`pipeline_nb_eval` over the full `sc`, `pipeline_nb_eval_inc`
    * over the batch restriction): the [[nbTrainCtes]] discipline
    * applied to the report END of the chain, so a fix to the
    * quadrant/n_null logic (e.g. r18's `OR d.lang IS NULL`) can never
    * land in one copy and miss the other.
    */
  private def nbEvalReportSql(src: String): String =
    s"""cm AS (
       |  SELECT
       |    CAST(sum(CASE WHEN score > 0 AND d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN score > 0 AND d.lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN NOT (score > 0) AND d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN NOT (score > 0) AND d.lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN score IS NULL OR d.lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
       |  FROM $src JOIN documents d USING (doc_id))
       |SELECT tp, fp, fn, tn, n_null,
       |  round(tp::DOUBLE / nullif(tp + fp, 0), 6) AS prec,
       |  round(tp::DOUBLE / nullif(tp + fn, 0), 6) AS rec,
       |  round((2 * tp)::DOUBLE / nullif(2 * tp + fp + fn, 0), 6) AS f1,
       |  round((tp + tn)::DOUBLE / nullif(tp + fp + fn + tn, 0), 6) AS acc
       |FROM cm""".stripMargin

  /** Calibration-bins report tail over a score relation
    * `src(doc_id, score)` — [[nbEvalReportSql]]'s twin
    * (`pipeline_nb_bins` / `pipeline_nb_bins_inc`).
    */
  private def nbBinsReportSql(src: String): String =
    s"""SELECT greatest($nbBinLo, least($nbBinHi, CAST(floor(score) AS BIGINT))) AS bin,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
       |  round(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS frac_cur
       |FROM $src JOIN documents d USING (doc_id)
       |WHERE score IS NOT NULL
       |GROUP BY 1
       |ORDER BY bin""".stripMargin

  /** Shared oracle for `sim_ivf_bq` AND `stream_idx_search` (the
    * streaming serving loop over the same stored index — per-query
    * purity makes micro-batch slicing invisible, so both check
    * against one SQL).
    */
  private[graft] lazy val ivfBqSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
       |    ${bqWordSql("embedding", 0, 64)} AS w0,
       |    ${bqWordSql("embedding", 1, 64)} AS w1
       |  FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id < 10),
       |${mpProbeCtes("q0")},
       |qs AS (SELECT vec_id AS query_id, embedding AS qe, w0 AS qw0, w1 AS qw1
       |       FROM b WHERE vec_id < 10),
       |p AS (SELECT vec_id AS point_id, embedding AS pe, bucket, w0, w1
       |      FROM b WHERE vec_id >= 10),
       |sl AS (
       |  SELECT pr.query_id, p.point_id, qs.qe, p.pe,
       |    row_number() OVER (PARTITION BY pr.query_id
       |      ORDER BY bit_count(xor(qs.qw0, p.w0)) + bit_count(xor(qs.qw1, p.w1)) ASC,
       |        p.point_id ASC) AS hrank
       |  FROM probes pr
       |  JOIN p ON pr.bucket = p.bucket
       |  JOIN qs ON pr.query_id = qs.query_id
       |  QUALIFY hrank <= 20)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY ${sqlCos("qe", "pe")} DESC, point_id) AS BIGINT) AS rank,
       |  point_id,
       |  round(${sqlCos("qe", "pe")}, 6) AS score
       |FROM sl
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle for `sim_bq_rerank` AND `sim_bq_stored`. */
  private lazy val bqRerankSql: String =
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |    ${bqWordSql("embedding", 0, 64)} AS w0,
       |    ${bqWordSql("embedding", 1, 64)} AS w1
       |  FROM embeddings),
       |q AS (SELECT * FROM sig WHERE vec_id < 10),
       |p AS (SELECT * FROM sig WHERE vec_id >= 10),
       |sl AS (
       |  SELECT q.vec_id AS query_id, p.vec_id AS point_id,
       |    q.embedding AS qe, p.embedding AS pe,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY bit_count(xor(q.w0, p.w0)) + bit_count(xor(q.w1, p.w1)) ASC,
       |        p.vec_id ASC) AS hrank
       |  FROM q, p
       |  QUALIFY hrank <= 20)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY ${sqlCos("qe", "pe")} DESC, point_id) AS BIGINT) AS rank,
       |  point_id,
       |  round(${sqlCos("qe", "pe")}, 6) AS score
       |FROM sl
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  private def bucketSql(col: String, bits: Int = 4): String =
    (0 until bits)
      .map(i => s"CASE WHEN $col[${i + 1}] > 0 THEN ${1L << (bits - 1 - i)} ELSE 0 END")
      .mkString("(", " + ", ")::BIGINT")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk" -> ((s, d) =>
      Chunker.chunk(Tables.documents(s, d), Seq("doc_id"), separator = " the ", minLen = 50)
        .select(col("doc_id"), col("chunk_index"), col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_index"))),
    "dedup_exact" -> ((s, d) =>
      Dedup.exactClusters(Tables.documents(s, d), "doc_id", "text")),
    "dedup_minhash" -> ((s, d) =>
      Dedup.minHashLsh(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      Dedup.clusterLabels(docs, "doc_id", pairs, iterations = 3).orderBy(col("doc_id"))
    }),
    // survivor selection on top of the cluster labels: per near-dup
    // cluster keep the ONE doc a quality-aware pipeline keeps
    // (quality-pass first, then longest, then min id — an all-integer
    // total order, no float boundary) and report the surviving corpus
    "dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      Dedup.keepBest(docs, "doc_id", "text", pairs, iterations = 3)
        .orderBy(col("cluster_id"))
    }),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simHash(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simHashPairs(Dedup.simHash(Tables.documents(s, d), "doc_id", "text"),
          prefixBits = 8, maxHamming = 6)
        .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text",
          n = 1, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))),
    // Fixed-width (bits = 4) sign-bucket IVF — the oracle-simplest ANN
    // form. AT SCALE prefer `sim_ivf_trained` (k-means cells sized to
    // the corpus, multi-probe recall control) or `sim_ivf_batch`'s
    // stored pre-bucketed index; a fixed bucket width has the same
    // saturation failure mode sim_semdedup documents
    "sim_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.ivfTopK(
          emb.filter(col("vec_id") < 10),
          emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id"),
          "vec_id", "point_id", "embedding", bits = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // LARGE-query-side batch ANN: a query set too big to broadcast,
    // searched against the PRE-BUCKETED stored index (ivfTopKStored).
    // The index is written once (bucketBy on the materialized sign
    // bucket — production amortizes this over every later batch); the
    // point side then needs NO exchange and NO broadcast: only the
    // query side shuffles on the bucket key. hint("merge") models the
    // million-query case where the planner must not broadcast either
    // side (plan-pinned in PlanSpec: no broadcast join, exactly one
    // bucket-key exchange). Self-search: every 4th vector queries the
    // full index, rank 1 is the vector itself.
    "sim_ivf_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = signBucketIndex(s, d)
      SimilaritySearch.ivfTopKStored(
          emb.filter(col("vec_id") % 4 === 0).hint("merge"),
          s.table(idx),
          "vec_id", "point_id", "embedding", "b", bits = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // multi-probe batch ANN over the SAME stored index: each query also
    // searches the bucket reached by flipping its least-confident sign
    // bit (nprobe=2) — the recall knob of the stored serving path. The
    // point side still never moves (PlanSpec: one bucket-key exchange,
    // query side only); recall@3 strictly above single-probe is pinned
    // in GuardrailSpec.
    "sim_ivf_batch_mp" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = signBucketIndex(s, d)
      SimilaritySearch.ivfTopKStored(
          emb.filter(col("vec_id") % 4 === 0).hint("merge"),
          s.table(idx),
          "vec_id", "point_id", "embedding", "b", bits = 4, k = 3, nprobe = 2)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // JL sign projection 64 -> 16: per-coordinate rows, rounded — the
    // dim-reduction step ahead of IVF/quantization at scale
    "v_project" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(VectorOps.signProject(col("embedding"), inDim = 64, outDim = 16)))
        .select(col("vec_id"), col("pos").cast("long").as("k"),
          round(col("col"), 6).as("yv"))
        .orderBy(col("vec_id"), col("k"))),
    // composed project -> quantize: JL-shrink 64 -> 16 then int8 — the
    // two storage-footprint stages of an embedding pipeline chained in
    // one narrow shuffle-free projection (the order production uses:
    // quantizing FIRST would feed the projection integer noise)
    "v_project_quant" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          VectorOps.signProject(col("embedding"), inDim = 64, outDim = 16).as("y"))
        .select(col("vec_id"),
          VectorOps.quantizeInt8(col("y")).as("codes"),
          VectorOps.quantScale(col("y")).as("scale"))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("k", "code")),
          col("scale"))
        .select(col("vec_id"), col("k").cast("long").as("k"),
          col("code").cast("long").as("code"), round(col("scale"), 6).as("scale"))
        .orderBy(col("vec_id"), col("k"))),
    "v_quantize" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      emb.select(col("vec_id"), col("embedding"),
          VectorOps.quantizeInt8(col("embedding")).as("codes"),
          VectorOps.quantScale(col("embedding")).as("scale"))
        .select(
          col("vec_id"),
          round(col("scale"), 6).as("scale"),
          array_max(col("codes")).cast("long").as("max_code"),
          array_min(col("codes")).cast("long").as("min_code"),
          round(VectorOps.cosine(col("embedding"),
            VectorOps.dequantizeInt8(col("codes"), col("scale"))), 6).as("cos_recon"))
        .orderBy(col("vec_id"))
    }),
    "sim_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = ivfModel(s, d)
      SimilaritySearch.searchAssignedCells(
          SimilaritySearch.assignPoints(
            emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id"),
            "point_id", "embedding", cents),
          cents, emb.filter(col("vec_id") < 10), "vec_id", "embedding", nprobe = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // trained-IVF x stored-bucket composition: the trained cell
    // assignment is PERSISTED with bucketBy(cid) (plus the k-row
    // centroid model as a side table), so the batch path gets balanced
    // cells AND zero point-side movement. Same training/probe/scoring
    // semantics and parameters as sim_ivf_trained -> same oracle.
    // Build memoized per JVM per sfDir (production amortizes the index
    // write over every later batch search).
    "sim_ivf_trained_batch" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = ivfTrainedIndex(s, d)
      SimilaritySearch.searchAssignedCells(
          s.table(idx).hint("merge"), s.table(idx + "_cents"),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", nprobe = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // index-quality eval: recall@3 of the trained IVF (nprobe=4) vs the
    // exact kNN ground truth — the nprobe/kCentroids tuning loop
    "sim_recall_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id")
      val exact = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 3)
      val cents = ivfModel(s, d)
      val approx = SimilaritySearch.searchAssignedCells(
        SimilaritySearch.assignPoints(points, "point_id", "embedding", cents),
        cents, queries, "vec_id", "embedding", nprobe = 4, k = 3)
      SimilaritySearch.recallAtK(exact, approx, "query_id", "point_id", 3)
        .orderBy(col("query_id"))
    }),
    // unified ANN quality table: mean recall@3 of ALL six approximate
    // paths (sign-bucket IVF, multi-probe IVF, trained IVF, PQ-ADC,
    // PQ+exact-rerank, IVF-PQ) against ONE exact ground truth — the
    // same query set (vec_id < 10), point set (vec_id >= 10) and k for
    // every path, so the rows are directly comparable: this is the
    // accuracy-vs-cost menu an ANN deployment picks its serving path
    // from. One row per method: (method, n_queries, sum_hits,
    // mean_recall). Integer hit counts divide once at the end, so the
    // only float compared is one 6-dp-rounded division per row.
    "sim_recall_all" -> ((s, d) =>
      recallAllOver(s, Tables.embeddings(s, d), modelKey = d)),
    // the same nine-path quality table over the PLANTED-CLUSTER fixture:
    // on the noise-dominated harness embeddings recall ranks noise (pure
    // ADC 0.16), so this is the row where the menu actually measures
    // index quality — queries' true neighbors are their cluster-mates,
    // and the paths separate (ordering pinned in SimilaritySpec)
    "sim_recall_clustered" -> ((s, _) =>
      recallAllOver(s,
        Tables.clusteredEmbeddings(s, FixturesDir).select(col("vec_id"), col("embedding")),
        modelKey = s"fixture:$FixturesDir/clustered_emb.parquet")),
    "sim_neardup" -> ((s, d) =>
      SimilaritySearch.cosineNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, bits = 4)
        .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
        .orderBy(col("id_a"), col("id_b"))),
    "text_stats" -> ((s, d) =>
      TextAnalysis.qualityStats(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_langid" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_top_terms" -> ((s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d), "doc_id", "text", limit = 20)),
    // CMS estimates vs exact counts for the top-20 terms: est >= exact
    // by construction; 4x2048 cells bound the gap
    "q_cms_freq" -> ((s, d) =>
      TextAnalysis.cmsTopTerms(Tables.documents(s, d), "doc_id", "text",
          limit = CmsTopK, depth = CmsDepth, width = CmsWidth)
        .orderBy(col("term"))),
    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfIdf(Tables.documents(s, d), "doc_id", "text", perDoc = 3)
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"), col("r"))),
    "text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_token_counts" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    "text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // corpus-level n-gram diversity card: distinct-n ratios + Shannon
    // entropy per n — the corpus-wide complement of per-doc TTR
    "text_diversity" -> ((s, d) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, d), "text", maxN = 3)),
    // C4-style boilerplate removal: segments (split on ' the ') shared
    // by >= 3 docs are dropped; docs re-assembled in original order
    "text_clean" -> ((s, d) =>
      Clean.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
          sep = " the ", minDocs = 3)
        .orderBy(col("doc_id"))),
    // PII redaction over deterministically PII-seeded text (the corpus
    // itself is synthetic word soup; the seeding makes every redaction
    // branch — URL, email, IP, phone — fire and stay oracle-checkable)
    "text_pii" -> ((s, d) => {
      val withPii = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com via "),
            lit("http://ex.org/u/"), col("doc_id").cast("string"),
            lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 tel +1-555-"),
            lpad(col("doc_id").cast("string"), 4, "0")).as("pii_text"))
      Clean.redactPii(withPii, "pii_text", "redacted")
        .select(col("doc_id"), col("n_url"), col("n_email"), col("n_ip"), col("n_phone"),
          col("redacted"))
        .orderBy(col("doc_id"))
    }),
    // Gopher-style composite quality filter: first-failing-rule cascade
    // over the joined quality + repetition signals
    "text_quality" -> ((s, d) =>
      TextAnalysis.qualityFilter(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // exact heavy hitters via the O(k)-state sketch + exact re-count:
    // deterministic (= all terms above phi*N) despite the sketch pass
    "text_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), "doc_id", "text", phi = 0.01)
        .orderBy(desc("cnt"), col("term"))),
    // LLM-pretraining sequence packing: two-phase sharded prefix sum
    // must equal the oracle's single global cumsum
    "q_pack_sequences" -> ((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
          seqLen = 512, docsPerShard = 100)
        .orderBy(col("doc_id"))),
    // DIAGNOSTIC pair for the round-5 driver-red trio (q_token_budget /
    // q_pack_sequences / pipeline_mix_pack — bit-identical locally, red
    // at the driver): each isolates ONE stage of the mix->pack chain, so
    // if the trio ever reds again the green/red split of these two says
    // whether the budget-selection cumsum or the packing cumsum diverges
    // in the driver environment.
    // Stage 1 alone — the per-stratum selection cumsum with an
    // effectively infinite budget, so the budget FILTER is out of play
    // and every doc's cum_before is compared.
    "q_budget_cumsum_diag" -> ((s, d) =>
      TextAnalysis.tokenBudgetSample(Tables.documents(s, d), "doc_id", "lang", "text",
          budgets = Map.empty, defaultBudget = Long.MaxValue)
        .orderBy(col("doc_id"))),
    // Stage 2 alone — packing over a STATIC literal selection (doc_id
    // predicate), so no upstream sampling stage feeds it; odd
    // docsPerShard exercises non-aligned shard boundaries.
    "q_pack_static_diag" -> ((s, d) =>
      TextAnalysis.packSequences(
          Tables.documents(s, d).filter(col("doc_id") % 3 =!= 1),
          "doc_id", "text", seqLen = 64, docsPerShard = 7)
        .orderBy(col("doc_id"))),
    // S4/S5 CSV boundary as a CHECKED query (reference export shape:
    // Qdrant/csv/data_case_100.csv — UTF-8 BOM, quoted multiline Thai
    // text, embedded commas/quotes, non-ASCII header), over a committed
    // miniature fixture with the same header. Positional toDF rename
    // sidesteps BOM-in-header naming differences between readers; the
    // derived columns make parse depth visible — a reader that splits
    // quoted newlines or mis-handles the BOM row changes every value.
    // Scale note: multiLine CSV is inherently non-splittable (one file
    // = one task); it is the INGEST boundary only — bulk data lives in
    // parquet (S9).
    "q_csv_roundtrip" -> ((s, d) =>
      s.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(FixturesDir + "/thai_cases.csv")
        .toDF("text", "answers", "case_no")
        .select(col("case_no"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), "\n")).cast("long").as("n_lines"),
          size(split(col("answers"), ", ")).cast("long").as("n_answers"),
          trim(substring_index(col("answers"), ",", 1)).cast("long").as("first_answer"))
        .orderBy(col("case_no"))),
    // JSONL ingest — the de-facto LLM corpus exchange format (one JSON
    // doc per line, nested metadata, optional fields): schema-inferred
    // read checked against DuckDB's independent reader. Missing nested
    // scalars and missing arrays surface as sentinels (-1), NOT dropped
    // rows — ingest must preserve row cardinality. Scale note: unlike
    // multiLine CSV, newline-delimited JSON splits by line, so the scan
    // parallelizes over a 100 TB corpus like any text source.
    "q_jsonl_ingest" -> ((s, d) =>
      s.read.json(FixturesDir + "/docs.jsonl")
        .select(col("id").cast("long").as("id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          col("meta.source").as("src"),
          round(coalesce(col("meta.quality"), lit(-1.0)), 6).as("quality"),
          coalesce(size(col("tags")), lit(-1)).cast("long").as("n_tags"))
        .orderBy(col("id"))),
    // composed mix -> pack: token-budget selection feeding sequence
    // packing — the last two stages of a pretraining data pipeline in
    // one lazy plan (Catalyst prunes doc columns through the join)
    "pipeline_mix_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sel = TextAnalysis.tokenBudgetSample(docs, "doc_id", "lang", "text",
        budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
      TextAnalysis.packSequences(
          docs.join(sel.select(col("doc_id")), "doc_id"),
          "doc_id", "text", seqLen = 512, docsPerShard = 100)
        .orderBy(col("doc_id"))
    }),
    // eval-set decontamination: every 5th doc plays the held-out set,
    // the rest the training corpus; trigram collisions ≥ 3 flag a pair
    "dedup_contaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("doc_id") % 5 =!= 4),
          docs.filter(col("doc_id") % 5 === 4),
          "doc_id", "text", n = 3, minHits = 3)
        .orderBy(col("test_id"), col("train_id"))
    }),
    // incremental dedup: docs with doc_id % 10 == 3 play the NEW batch,
    // the rest the accumulated corpus — batch×corpus only, two tiers
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 10 =!= 3),
          docs.filter(col("doc_id") % 10 === 3),
          "doc_id", "text", shingleN = 3, numHashes = 16, rowsPerBand = 8, threshold = 0.5)
        .select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"), col("kind"))
        .orderBy(col("new_id"), col("corpus_id"), col("kind"))
    }),
    "mm_meta" -> ((s, d) =>
      Multimodal.mediaMeta(Tables.documents(s, d), "doc_id", "text", frameSize = 64)
        .orderBy(col("doc_id"))),
    "v_embed_text" -> ((s, d) =>
      VectorOps.embedTextPortable(
          Tables.documents(s, d).filter(col("doc_id") < 20), Seq("doc_id"), "text", 16)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim_idx", "val")))
        .select(col("doc_id"), col("dim_idx").cast("long").as("dim_idx"),
          round(col("val"), 6).as("val"))
        .orderBy(col("doc_id"), col("dim_idx"))),
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Tables.documents(s, d).filter(col("doc_id") < 50),
          "doc_id", "text", frameSize = 64)
        .orderBy(col("doc_id"), col("frame_id"))),
    // multimodal near-dup: 32-bit min-hash parity signature over the
    // media stand-in's shingled features (per-bit universal-hash
    // min-fold, parity of each min -> bit) -> Hamming-prefix bucket
    // pair join — the dedup verb for the binary-column family. Knobs
    // single-sourced with the SQL oracle via the mmNd* constants.
    "mm_neardup" -> ((s, d) =>
      Multimodal.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
          prefixBits = mmNdPrefixBits, maxHamming = mmNdMaxHamming,
          shingleN = mmNdShingleN)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_correlation" -> ((s, d) =>
      Tables.events(s, d)
        // try_cast: malformed/nested props must NULL per row, not abort
        // the scan under ANSI mode (the eventsJson contract)
        .withColumn("k", get_json_object(col("props"), "$.k").try_cast("double"))
        .groupBy(col("event_type"))
        .agg(
          round(corr(col("value"), col("k")), 6).as("corr_vk"),
          round(covar_samp(col("value"), col("k")), 4).as("covar_vk"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),
    "q_setops" -> ((s, d) => Relational.setOps(s, d)),
    "q_datemath" -> ((s, d) => Relational.dateMathFuncs(s, d)),
    "q_cube" -> ((s, d) => Relational.revenueCube(s, d)),
    "q_window_funcs" -> ((s, d) => Relational.windowFuncs(s, d)),
    "q_string_funcs" -> ((s, d) => Relational.stringFuncs(s, d)),
    "q_salted_agg" -> ((s, d) => Relational.saltedAgg(s, d)),
    "q_asof_join" -> ((s, d) => Relational.asofViewBeforePurchase(s, d)),
    "q_range_join" -> ((s, d) => Relational.rangeJoinTiers(s, d)),
    "q_pivot" -> ((s, d) => Relational.pivotEventTypes(s, d)),
    "q_geomean" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(udaf(graft.functions.GeoMean).apply(col("o_totalprice")), 4)
          .as("geo_mean_price"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),
    "q_grouping_sets" -> ((s, d) => Relational.groupingSetsSql(s, d)),
    // bloom-prefiltered EXACT semi-join (runtime-filter shape, made
    // explicit): result is row-identical to the plain semi-join — the
    // bloom only decides how much of the big side survives to the
    // confirm join's shuffle
    "q_bloom_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      BloomJoin.bloomSemiJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          numBits = BloomJoin.bitsFor(100000))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
    // HLL register values are engine-specific, so the raw estimate can
    // never hash-match an oracle — instead the CHECKED output carries
    // the exact count plus `within_bound` (|est − exact| / exact ≤
    // 3·rsd, the GuardrailSpec bound, rsd = 0.02), which the oracle
    // reproduces as the same exact count + literal TRUE. The estimate
    // itself stays spec-tested (GuardrailSpec) and inspectable via
    // Relational.approxDistinct.
    // salted JOIN sibling of q_salted_agg: the skewed-big-side shuffle
    // join with the hot key spread over 8 salt reducers; result is
    // row-identical to the plain equi-join (which is what the oracle
    // runs). shuffle_hash hint models the small-side-too-big-to-
    // broadcast case the salt exists for (plan-pinned in PlanSpec: the
    // exchange carries the salt, no broadcast join).
    "q_salted_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).hint("shuffle_hash")
      Skew.saltedJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          saltSourceCol = "l_partkey", saltBuckets = 8)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
    // LEFT-OUTER salted join: the skewed-enrichment shape (every
    // lineitem row survives; only urgent orders enrich). Unmatched
    // big-side rows are first-class output (matched=false groups) —
    // row parity with the plain left outer equi-join is what the
    // oracle checks.
    "q_salted_join_left" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).hint("shuffle_hash")
      Skew.saltedJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          saltSourceCol = "l_partkey", saltBuckets = 8, joinType = "left")
        .groupBy(col("l_returnflag"), col("o_orderkey").isNotNull.as("matched"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"), col("matched"))
    }),
    "q_approx_distinct" -> ((s, d) =>
      Relational.approxDistinct(s, d)
        .select(col("l_returnflag"), col("exact_parts"), col("n"),
          (abs(col("approx_parts").cast("double") - col("exact_parts").cast("double"))
            / col("exact_parts").cast("double") <= 3 * 0.02).as("within_bound"))
        .orderBy(col("l_returnflag"))),
    "q_kmv_distinct" -> ((s, d) => Relational.kmvDistinct(s, d, KmvK)),
    "q_kmv_sketch" -> ((s, d) => Relational.kmvDistinctSketchOnly(s, d, KmvK)),
    // Z-order layout audit: Morton-key buckets carry tight min/max
    // envelopes on BOTH dimensions — the write-side layout that makes
    // scan pruning work on either column
    "q_zorder" -> ((s, d) => {
      // The locality AUDIT admits only rows inside the configured
      // 2^12 x 2^12 grid: a NULL or out-of-range key has no locality
      // to audit, and crawl-shaped debris must not abort a read-only
      // report. The WRITE-side relayout (Layout.zOrdered) keeps the
      // loud zValue guard — silently losing or mis-bucketing rows in
      // a re-layout is data loss, and there the caller must decide
      // where the debris goes.
      // NOTE: Spark's floor(double) is already LongType and CLAMPS
      // overflow (1e100 -> Long.MaxValue, never NULL), while the
      // oracle's TRY_CAST(floor(..) AS BIGINT) NULLs it — the grid
      // range filter below guards the overflow asymmetry. NaN is its
      // own asymmetry (Spark's NaN.toLong == 0L would slip INSIDE the
      // grid, while the oracle's TRY_CAST NULLs it), so it gets an
      // explicit isnan exclusion rather than riding the range filter.
      // Together these keep the two engines row-identical; do not
      // widen/remove either without revisiting both asymmetries.
      val grid = 1L << 12
      val ev = Tables.events(s, d)
        .withColumn("vb", floor(col("value")))
        .filter(col("user_id").isNotNull && col("user_id") >= 0 && col("user_id") < grid &&
          !isnan(col("value")) &&
          col("vb").isNotNull && col("vb") >= 0 && col("vb") < grid)
      Layout.zBucketStats(ev, "user_id", "vb", bits = 12, bucketShift = 14)
        .orderBy(col("z_bucket"))
    }),
    "q_sample_mix" -> ((s, d) =>
      TextAnalysis.hashSampleMix(Tables.documents(s, d), "doc_id", "lang",
          rates = Map("en" -> 80, "zh" -> 30), defaultRate = 50)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang"), col("split"))),
    // exact per-stratum quota sampling: deterministic top-N per lang in
    // portable-hash order (WindowGroupLimit pre-prunes before the
    // stratum shuffle — plan-pinned in PlanSpec)
    "q_quota_sample" -> ((s, d) =>
      TextAnalysis.quotaSample(Tables.documents(s, d), "doc_id", "lang",
          quotas = Map("en" -> 40, "zh" -> 15), defaultQuota = 25)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("rk"))),
    // token-budget mixing: ~6000 en / 1500 zh / 2000 other tokens —
    // proper subsets of every stratum at sf0.01 and sf0.1
    "q_token_budget" -> ((s, d) =>
      TextAnalysis.tokenBudgetSample(Tables.documents(s, d), "doc_id", "lang", "text",
          budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
        .orderBy(col("doc_id"))),
    // temperature mixing, alpha = 0.5 / target 20% of the corpus:
    // low-resource langs up-sampled relative to share (XLM-R-style
    // exponent smoothing), membership by portable id hash
    "q_temperature_mix" -> ((s, d) =>
      TextAnalysis.temperatureMix(Tables.documents(s, d), "doc_id", "lang",
          alpha = 0.5, targetFrac = 0.2)
        .orderBy(col("doc_id"))),
    // token-count-weighted draw of 12 docs per lang (uniform over
    // tokens, deterministic in the ids)
    "q_weighted_sample" -> ((s, d) =>
      TextAnalysis.weightedSample(
          Tables.documents(s, d)
            .withColumn("w", size(Dedup.tokens(col("text"))).cast("long")),
          "doc_id", "lang", "w", k = 12)
        .select(col("doc_id"), col("stratum"), col("rk").cast("long").as("rk"))
        .orderBy(col("stratum"), col("rk"))),
    // corpus snapshot diff: v1 drops doc_id%11==3, v2 drops %13==4 and
    // appends ' v2' to every %9==0 text — all four statuses fire
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Store.corpusDiff(
          docs.filter(col("doc_id") % 11 =!= 3),
          docs.filter(col("doc_id") % 13 =!= 4)
            .withColumn("text",
              when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // steady-state incremental curation: quality-gate the %10==3 batch,
    // then exact/near dedup against the corpus — one verdict per doc
    "pipeline_curate_inc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curateIncremental(
          docs.filter(col("doc_id") % 10 =!= 3),
          docs.filter(col("doc_id") % 10 === 3),
          "doc_id", "text", shingleN = 3, numHashes = 16, rowsPerBand = 8, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),
    // duplication dashboard: cluster-size histogram over seeded copies
    // (%13 docs twice, %39 docs three times → sizes 1, 2 and 3 all
    // fire). Copies are re-keyed to NEGATIVE ids (-(2·id+1) / -(2·id+2)
    // for the two tiers — injective, disjoint, and collision-free
    // against real non-negative ids at ANY corpus size; the round-11
    // count channel caught the previous fixed +10000/+20000 offsets
    // colliding with real ids once the corpus passed 10k docs)
    "dedup_profile" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val seeded = docs
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", -(col("doc_id") * 2) - 1))
        .unionByName(docs.filter(col("doc_id") % 39 === 0)
          .withColumn("doc_id", -(col("doc_id") * 2) - 2))
      Dedup.duplicationProfile(seeded, "doc_id", "text")
        .orderBy(col("cluster_size"))
    }),
    // end-to-end curation chain (clean → quality → dedup → sample) in
    // one lazy plan; re-keyed copies seed the duplicate tier (negative
    // re-key — see dedup_profile — so the seeding stays collision-free
    // when the same query runs on inflated corpora)
    "pipeline_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val seeded = docs.unionByName(
        docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", -col("doc_id") - 1))
      Curation.curate(seeded, "doc_id", "text", sep = " the ", minDocs = 3, samplePct = 80)
        .orderBy(col("doc_id"))
    }),
    // DSIR importance resampling: keep the quarter of non-English docs
    // whose hashed-unigram+bigram profile scores highest under the
    // English-docs-as-target vs raw-pool log-likelihood ratio
    "pipeline_dsir" -> ((s, d) =>
      Curation.dsirSelect(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 256, keepFrac = 0.25)),
    // THE integration surface a production corpus build runs, composed
    // as ONE oracle-checked chain (r18 verdict item 7): clean →
    // quality gate → keep-best near-dup dedup → DSIR threshold select
    // (en survivors are the target and all pass; the selected quarter
    // of non-en survivors joins them) → per-lang token-budget mix →
    // seeded epoch shuffle → sequence packing in the SHUFFLED order.
    // Every stage is the registered operator with its registered
    // knobs; what this query adds is the CROSS-OPERATOR contract
    // surface (id uniqueness, zero-token row loss, text-version
    // consistency — the class the r17 keepBest bug lived in), which
    // only an end-to-end oracle can catch. Stage boundaries carry lazy
    // localCheckpoints (the curate fan-out discipline — each stage's
    // output feeds 2+ consumers); at 100 TB each boundary is a staged
    // parquet table instead ([[pipelineE2eStaged]], the
    // Curation.curate stagePath pattern — staged ≡ checkpointed is
    // pinned row-for-row in OpsSpec).
    // Packing consumes the epoch order via a synthetic monotone key
    // shard·2^40 + pos (pos is dense within shard, so lexicographic
    // (shard, pos) order is preserved for any corpus below 2^40 docs
    // per shard); packSequences' cumsum is order-key-agnostic
    // (property-tested identity for any sharding).
    "pipeline_e2e" -> ((s, d) =>
      pipelineE2eChain(s, d, (compute, _) => compute().localCheckpoint(false))),
    // reproducible training-order: seeded hash-mod shards + dense
    // within-shard positions; no global sort anywhere (the one
    // exchange is the shard exchange, per-task state is one shard)
    "pipeline_epoch_shuffle" -> ((s, d) =>
      Curation.epochShuffle(Tables.documents(s, d), "doc_id",
          seed = epochSeed, nShards = epochShards)
        .orderBy(col("shard"), col("pos"))),
    // CCNet/GPT-3-style quality classifier with the countable model:
    // multinomial NB trained on the corpus' own curated split (en as
    // the reference class, the dsir convention), per-doc log-odds
    // score + quantized keep decision
    "pipeline_nb_quality" -> ((s, d) =>
      Curation.nbQualityScore(Tables.documents(s, d), "doc_id", "text",
          isCurated = col("lang") === "en")
        .orderBy(col("doc_id"))),
    // calibration of the NB quality classifier against its training
    // label: all-integer confusion quadrants (NULL preds -> n_null),
    // each metric ONE exact-integer division rounded to 6 dp
    "pipeline_nb_eval" -> ((s, d) =>
      Curation.nbQualityEval(Tables.documents(s, d), "doc_id", "text",
        isCurated = col("lang") === "en")),
    // calibration reliability table: integer log-odds bins vs
    // empirical curated fraction (monotone frac_cur = well-calibrated
    // scores); floor on the 6-dp-quantized score = exact boundaries
    "pipeline_nb_bins" -> ((s, d) =>
      Curation.nbCalibrationBins(Tables.documents(s, d), "doc_id", "text",
          isCurated = col("lang") === "en", lo = nbBinLo, hi = nbBinHi)
        .orderBy(col("bin"))),
    // train-once/score-forever: an incoming batch scored against the
    // STORED NB model (term-bucketed lr table + 1-row priors) — the
    // corpus tokenize/train bill was paid at model-materialization
    // time; this pass reads the batch and the vocab-sized model only
    "pipeline_nb_inc" -> ((s, d) => {
      val tbl = nbModelIndex(s, d)
      Curation.nbScoreBatch(
          Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0),
          "doc_id", "text", s.table(tbl), s.table(tbl + "_prior"))
        .orderBy(col("doc_id"))
    }),
    // stored-model-backed report forms (SCALING's score-once shape): the
    // batch is scored ONCE against the stored NB model and the
    // confusion/calibration reports derive from that scored table —
    // score+eval+bins share one scoring pass instead of paying the
    // in-plan corpus train bill per report
    "pipeline_nb_eval_inc" -> ((s, d) => {
      val tbl = nbModelIndex(s, d)
      val batch = Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0)
      Curation.nbEvalFromScores(
        Curation.nbScoreBatch(batch, "doc_id", "text",
          s.table(tbl), s.table(tbl + "_prior")),
        batch.select(col("doc_id"), (col("lang") === "en").as("label")))
    }),
    "pipeline_nb_bins_inc" -> ((s, d) => {
      val tbl = nbModelIndex(s, d)
      val batch = Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0)
      Curation.nbBinsFromScores(
          Curation.nbScoreBatch(batch, "doc_id", "text",
            s.table(tbl), s.table(tbl + "_prior")),
          batch.select(col("doc_id"), (col("lang") === "en").as("label")),
          lo = nbBinLo, hi = nbBinHi)
        .orderBy(col("bin"))
    }),
    // OOV-aware crawl scoring: the model is trained on the corpus MINUS
    // the batch (so batch terms can be genuinely out-of-vocabulary) and
    // every OOV token contributes the train-time smoothed constant
    // stored in the priors artifact — the bias-correcting treatment for
    // OOV-heavy batches, fully in-plan via the stored model
    "pipeline_nb_oov" -> ((s, d) => {
      val tbl = nbOovModelIndex(s, d)
      Curation.nbScoreBatchOov(
          Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0),
          "doc_id", "text", s.table(tbl), s.table(tbl + "_prior"))
        .orderBy(col("doc_id"))
    }),
    // percentile-adaptive quality cutoffs: thresholds from the corpus'
    // own distribution (exact percentile ≡ DuckDB quantile_cont)
    "text_quality_adaptive" -> ((s, d) =>
      TextAnalysis.adaptiveQualityFilter(Tables.documents(s, d), "doc_id", "text",
          pLow = 0.1, pHigh = 0.9)
        .orderBy(col("doc_id"))),
    // unigram-LM quality scoring: corpus-as-own-model NLL + OOV rate
    // (the perplexity-proxy filter signal; ln parity proven by tfidf)
    "text_unigram_lm" -> ((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text", minCount = 5)
        .orderBy(col("doc_id"))),
    // curriculum staging: easy-to-hard quartiles of the NLL signal,
    // percentile boundaries (no global sort/ntile — see scaladoc)
    "pipeline_curriculum" -> ((s, d) =>
      TextAnalysis.curriculumStages(Tables.documents(s, d), "doc_id", "text",
          minCount = 5, nStages = 4)
        .orderBy(col("doc_id"))),
    // SemDeDup-style semantic dedup: cosine near-dup components over the
    // sign-bucketed embedding space, min-id representative kept. The
    // 3-round unroll is the oracle-expressible form; production default
    // is the converged variant (iterations = 0). AT SCALE use
    // `sim_semdedup_vol` below: this fixed bits=4 width saturates the
    // hot-bucket guard at the 1000x decade (every bucket > cap -> zero
    // pairs, SCALING.md), which the vol form's self-sizing removes
    "sim_semdedup" -> ((s, d) =>
      SimilaritySearch.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, bits = 4, iterations = 3)
        .orderBy(col("id"))),
    // the production form of the same operator: the quantizer width is
    // SELF-SIZED in-plan from a 1-row broadcast count (bits =
    // bitLength(n div 256), clamped — integer-exact, so the oracle
    // computes the identical width), because a fixed bits=4 saturates
    // the hot-bucket guard at the 1000× decade (every bucket > cap →
    // zero pairs). At verify scale the formula clamps to the same 4
    // bits, so this checks the sizing arithmetic cross-engine; the
    // width divergence is exercised in ScalaTest and at scale1000
    "sim_semdedup_vol" -> ((s, d) =>
      SimilaritySearch.semanticDedupVol(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, targetBucket = 256, iterations = 3)
        .orderBy(col("id"))),
    // Sorscher-et-al. prototypicality pruning: keep the hardest half of
    // every trained cluster (cosine-to-own-centroid ascending). Reuses
    // the memoized trained-IVF centroid model — the quantizer is ONE
    // per-corpus artifact shared by search and curation
    "sim_proto_prune" -> ((s, d) =>
      SimilaritySearch.prototypicalityPrune(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d), keepFrac = 0.5)
        .orderBy(col("cid"), col("rank"))),
    // cluster data-map cards: k-row per-cell report (population, corpus
    // share, cohesion, representative) over the same trained quantizer
    "sim_cluster_cards" -> ((s, d) =>
      SimilaritySearch.clusterCards(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d))
        .orderBy(col("cid"))),
    // cluster-balanced sample: cap every cell at 20, deterministic
    // hash-ordered draw within the cell (flattens cluster dominance)
    "sim_cluster_sample" -> ((s, d) =>
      SimilaritySearch.clusterBalancedSample(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d), perCell = 20)
        .orderBy(col("cid"), col("rank"))),
    // per-cell outliers: flag members whose cosine-to-centroid z-score
    // within their own cell is <= -1.5 (quantized stats, exact set)
    "sim_cluster_outliers" -> ((s, d) =>
      SimilaritySearch.clusterOutliers(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d), zThresh = 1.5)
        .orderBy(col("cid"), col("point_id"))),
    // BM25 keyword retrieval (self-retrieval: the first 8 docs query the
    // corpus with their own text) — the lexical half of hybrid search.
    // maxDfFrac = 0.8, not the 0.5 default: the synthetic corpus is word
    // soup from a ~31-term vocabulary (median df ≈ 78% of docs), so the
    // default stopword cap would empty the query; 0.8 still exercises
    // the cap (the most-universal terms sit above it) with candidates left
    "text_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25TopK(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 8), "doc_id", "text", k = 5, maxDfFrac = 0.8)
        .orderBy(col("query_id"), col("rank"))
    }),
    // hybrid retrieval: BM25 ranks (text) + dense cosine ranks
    // (embeddings; vec_id aligns with doc_id) fused by reciprocal rank
    "rag_hybrid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 8), "doc_id", "text", k = 10, maxDfFrac = 0.8)
      val dense = Knn.knnJoin(
          emb.filter(col("vec_id") < 8),
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding", k = 10)
        .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rank", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // Qdrant filtered search: payload predicate (label = 2) restricts
    // eligibility BEFORE scoring; predicate reaches the parquet scan
    // (PlanSpec-pinned PushedFilters)
    "v_knn_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.filteredKnnJoin(
          emb.filter(col("vec_id") < 5),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding"), col("label")),
          col("label") === 2,
          "vec_id", "embedding", "point_id", "embedding", k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // product quantization: per-subspace codebooks + broadcast-LUT ADC
    // cosine — the compression path when raw floats stop fitting
    "sim_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pts = emb.filter(col("vec_id") >= 10)
      val cb = pqModel(s, d)
      val codes = Pq.encode(pts, "vec_id", "embedding", cb, m = 8, dsub = 8)
      Pq.adcTopK(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          cb, codes, m = 8, dsub = 8, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // the production PQ search: ADC shortlist (50) + exact re-rank —
    // raw vectors touched only for shortlisted candidates
    "sim_pq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pts = emb.filter(col("vec_id") >= 10)
      val cb = pqModel(s, d)
      val codes = Pq.encode(pts, "vec_id", "embedding", cb, m = 8, dsub = 8)
      Pq.adcRerank(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          pts.select(col("vec_id").as("point_id"), col("embedding")), "point_id",
          cb, codes, m = 8, dsub = 8, shortlist = 50, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // adjacent-token-pair (word-bigram) frequencies — the merge-candidate
    // statistic of BPE-style tokenizer induction (each merge round picks
    // the most frequent adjacent pair); corpus-wide count via the same
    // shingle machinery dedup uses, map-side combinable
    "text_bpe_pairs" -> ((s, d) =>
      Tables.documents(s, d)
        // tokens in their OWN projection (the shingles contract: an
        // inlined split would re-tokenize once per bigram window)
        .select(Dedup.tokens(col("text")).as("__toks"))
        .select(explode(Dedup.shingles(col("__toks"), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(20)),
    // per-dimension embedding distribution stats — the index-health /
    // drift monitor over the vector column
    "v_dim_stats" -> ((s, d) =>
      VectorOps.dimStats(Tables.embeddings(s, d), "embedding")
        .orderBy(col("dim"))),
    // Qdrant recommend API: pseudo-query = mean(positives) −
    // mean(negatives), examples excluded from results
    "v_recommend" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.recommend(
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "point_id", "embedding",
          positiveIds = Seq(0L, 1L, 2L), negativeIds = Seq(3L, 4L), k = 5)
        .select(col("point_id"), round(col("score"), 6).as("score"))
    }),
    // Qdrant search_groups API: best hits per payload group, groups
    // ranked by their best hit
    "v_search_groups" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.searchGroups(
          emb.filter(col("vec_id") < 5),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding"), col("label")),
          "vec_id", "embedding", "point_id", "embedding", "label",
          groupsK = 3, hitsPerGroup = 2)
        .select(col("query_id"), col("group_rank"), col("group").as("grp"),
          col("hit_rank"), col("point_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("group_rank"), col("hit_rank"))
    }),
    // Qdrant set_payload: metadata patch by key — embeddings (here:
    // n_chars, text) never move, row count invariant
    "q_payload_update" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val patch = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit("xx").as("lang"), lit("patched").as("source"))
      Store.setPayload(docs, patch, "doc_id", Seq("lang", "source"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // point deletion, both Qdrant selectors composed: an id batch
    // (doc_id % 9 == 0) then a filter (n_chars < 200); the per-lang
    // summary proves exactly the complement survived
    "q_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val byIds = Store.deletePoints(docs,
        docs.filter(col("doc_id") % 9 === 0).select(col("doc_id")), "doc_id")
      Store.deleteByFilter(byIds, col("n_chars") < 200)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))
    }),
    // hard-negative mining: per anchor, the top-scoring points of a
    // DIFFERENT label — contrastive-training pairs from the same
    // broadcast kNN shape
    "v_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Knn.hardNegatives(
          emb.filter(col("vec_id") < 5),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding"), col("label")),
          "vec_id", "embedding", "label", "point_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"), col("neg_label"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // the composed retrieval pipeline: hybrid RRF pool (lexical +
    // dense) -> MMR diversity selection. Relevance is the RRF score
    // normalized to [0,1] per query (max-division) so the λ trade-off
    // against cosine redundancy is scale-meaningful.
    "rag_hybrid_mmr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 8), "doc_id", "text", k = 10, maxDfFrac = 0.8)
      val dense = Knn.knnJoin(
          emb.filter(col("vec_id") < 8),
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding", k = 10)
        .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
      val fused = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rank", k = 8)
      val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      val pool = fused
        .withColumn("__rel", round(col("rrf") / max(col("rrf")).over(wq), 6))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .select(col("query_id"), col("doc_id").as("point_id"),
          col("embedding").as("__pv"), col("__rel"))
      Retrieval.mmrFromPool(pool, selectK = 3, lambda = MmrLambda)
        .orderBy(col("query_id"), col("sel_rank"))
    }),
    // nDCG@k with label-match relevance for FOUR retrieval paths over
    // the same queries (ids < 8, the hybrid family's set) and corpus:
    // exact kNN (k=5), BM25 (k=5), RRF hybrid (k=5), hybrid+MMR
    // (pool 8 → select 3, the rag_hybrid_mmr config). One row per
    // path — the quality axis the fusion knobs (RRF k, MMR λ) tune
    // against: recall can't see position and MMR's diversity trade is
    // invisible to it, but nDCG credits every relevant hit by rank.
    // Each path's nDCG is self-normalized (IDCG from ITS retrieved
    // set), so the 3-deep MMR row is comparable as "quality of what
    // the path returns", not penalized for returning fewer hits.
    "eval_ndcg_paths" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val qLab = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"))
      val pLab = emb.select(col("vec_id").as("point_id"), col("label").as("p_label"))
      // lineage cut on the two expensive retrieval passes: the 4-way
      // union re-evaluates each consumer branch's FULL subtree (the
      // pipeline_mix_pack lesson) — without these, BM25 over the corpus
      // and the kNN join each run 3x for one 80-row result
      val lex10 = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 8), "doc_id", "text", k = 10, maxDfFrac = 0.8)
        .localCheckpoint(false)
      val dense10 = Knn.knnJoin(
          emb.filter(col("vec_id") < 8),
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding", k = 10)
        .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
        .localCheckpoint(false)
      val knn5 = dense10.filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id").as("point_id"))
      val bm5 = lex10.filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id").as("point_id"))
      val fused8 = Retrieval.rrfFuse(lex10, dense10, "query_id", "doc_id", "rank", k = 8)
      val rrf5 = fused8.filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id").as("point_id"))
      val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      val pool = fused8
        .withColumn("__rel", round(col("rrf") / max(col("rrf")).over(wq), 6))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .select(col("query_id"), col("doc_id").as("point_id"),
          col("embedding").as("__pv"), col("__rel"))
      val mmr3 = Retrieval.mmrFromPool(pool, selectK = 3, lambda = MmrLambda)
        .select(col("query_id"), col("sel_rank").as("rank"), col("point_id"))
      // ONE label-join + nDCG + mean pass over the UNION of the four
      // (small, already-truncated) hit tables, keyed by a composite
      // "method|query_id" — the per-(method, query) nDCG values are
      // identical to four separate passes (nDCG sees only its own
      // partition), but the old per-path tails planned 4× (2 joins +
      // group-fold + mean aggregate) ≈ 16 extra sequential AQE stage
      // jobs for 80 rows of input.
      val tagged = Seq("knn" -> knn5, "bm25" -> bm5, "rrf" -> rrf5,
          "hybrid_mmr" -> mmr3)
        .map { case (n, h) => h.withColumn("method", lit(n)) }
        .reduce(_.unionByName(_))
      val withRel = tagged.join(qLab, "query_id").join(pLab, "point_id")
        .withColumn("rel", (col("q_label") === col("p_label")).cast("int"))
        .withColumn("__mq", concat_ws("|", col("method"), col("query_id")))
      val perMethod = Eval.ndcgAtK(withRel, "__mq", "rank", "rel")
        .withColumn("method", substring_index(col("query_id"), "|", 1))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_queries"), round(avg(col("ndcg")), 6).as("mean_ndcg"))
      // LEFT-join against the literal method list (the sim_recall_all
      // fusion's discipline): the old per-method agg-without-groupBy
      // emitted one row per method even when a method had zero hit rows
      // (n_queries = 0, mean_ndcg null); a bare groupBy would silently
      // drop such methods. Identical output whenever every method has
      // hits — the case at every bench/verify scale.
      import s.implicits._
      Seq("knn", "bm25", "rrf", "hybrid_mmr").toDF("method")
        .join(perMethod, Seq("method"), "left")
        .select(col("method"), coalesce(col("n_queries"), lit(0L)).as("n_queries"),
          col("mean_ndcg"))
        .orderBy(col("method"))
    }),
    // MMR diversity re-rank: greedy λ·rel − (1−λ)·max-sim selection
    // from the kNN pool — the redundancy filter before context assembly
    "rag_mmr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Retrieval.mmrRerank(
          emb.filter(col("vec_id") < 5),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding",
          poolK = 8, selectK = 3, lambda = MmrLambda)
        .orderBy(col("query_id"), col("sel_rank"))
    }),
    // IVF-PQ: coarse sign-bucket prune -> ADC over same-cell codes ->
    // exact re-rank; every stage reads strictly less than the last
    "sim_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pts = emb.filter(col("vec_id") >= 10)
      val cb = pqModel(s, d)
      val codes = Pq.encodeBucketed(pts, "vec_id", "embedding", cb, m = 8, dsub = 8,
        SimilaritySearch.signBucket("embedding", 4))
      Pq.ivfpqRerank(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          SimilaritySearch.signBucket("embedding", 4),
          pts.select(col("vec_id").as("point_id"), col("embedding")), "point_id",
          cb, codes, m = 8, dsub = 8, shortlist = 20, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // cluster-aware train/test split: whole near-dup clusters land in
    // one split (split-time decontamination)
    "q_leakfree_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      Curation.leakFreeSplit(docs, "doc_id", pairs, iterations = 3, trainPct = 80)
        .orderBy(col("doc_id"))
    }),
    // doc-level mean pooling: 8-chunk groups of the vector table pooled
    // to one vector each via the native VectorMeanAgg — ONE shuffle of
    // groups x dim doubles (map-side combined), where posexplode + avg
    // + re-collect would shuffle rows x dim tuples twice
    "v_mean_pool" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .withColumn("group_id", floor(col("vec_id") / 8).cast("long"))
      VectorOps.meanPool(emb, Seq("group_id"), "embedding")
        .select(col("group_id"), posexplode(col("mean_vec")).as(Seq("dim_idx", "val")))
        .select(col("group_id"), col("dim_idx").cast("long").as("dim_idx"),
          round(col("val"), 6).as("val"))
        .orderBy(col("group_id"), col("dim_idx"))
    }),
    // Matryoshka adaptive retrieval: 16-d prefix shortlist (4x
    // over-retrieve), full 64-d re-rank only on the shortlist
    "sim_prefix_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.prefixRerankTopK(
          emb.filter(col("vec_id") < 10),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // binary quantization: 1-bit sign signatures (2 longs per 64-d
    // vector), Hamming shortlist, full-width cosine re-rank
    "sim_bq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.bqRerankTopK(
          emb.filter(col("vec_id") < 10),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", dim = 64, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // composed IVF+BQ over ONE stored index (the production recipe):
    // bucket equi-join prunes to probed cells (point side never moves
    // — bucketBy), Hamming ranks the survivors off the stored sig,
    // exact cosine reranks the shortlist fetched by id. hint("merge")
    // models the batch case where neither side broadcasts.
    "sim_ivf_bq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = ivfBqIndex(s, d)
      SimilaritySearch.ivfBqRerankTopK(
          emb.filter(col("vec_id") < 10).hint("merge"),
          s.table(idx),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", "b", "sig",
          bits = 4, dim = 64, nprobe = 2, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // BQ search against the STORED signature index: same semantics as
    // sim_bq_rerank (identical oracle), but phase 1 scans the
    // ingest-time sig column — no per-batch pack, no point-side
    // exchange (BucketingSpec pin)
    "sim_bq_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = bqSigIndex(s, d)
      SimilaritySearch.bqRerankTopKStored(
          emb.filter(col("vec_id") < 10),
          s.table(idx),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", "sig", dim = 64, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // Matryoshka search against the STORED prefix index: same
    // semantics as sim_prefix_rerank (identical oracle), phase 1 scans
    // the ingest-time 16-d prefix column
    "sim_prefix_stored" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = prefixSigIndex(s, d)
      SimilaritySearch.prefixRerankTopKStored(
          emb.filter(col("vec_id") < 10),
          s.table(idx),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", "pre",
          prefixDim = 16, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // histogram-sketch quantiles: bounded-state mergeable quantile
    // estimates whose state AND estimates are oracle-hashable
    "q_hist_quantiles" -> ((s, d) =>
      Relational.histogramQuantiles(Tables.orders(s, d), "o_orderpriority",
        "o_totalprice", bins = 64, qs = Seq(0.5, 0.9, 0.99))),
    // key-skew profile: the diagnostic read before choosing salting /
    // AQE skew handling — hottest-key share, max/mean, count quantiles
    "q_skew_diag" -> ((s, d) =>
      Relational.skewDiagnostics(Tables.events(s, d), "user_id")),
    // sliding-window chunking with overlap (chunk_size=40 tokens,
    // stride=30 => 10-token overlap) — the RAG-standard splitter
    "q_chunk_overlap" -> ((s, d) =>
      Chunker.slidingChunks(Tables.documents(s, d).filter(col("doc_id") < 100),
          Seq("doc_id"), "text", windowTokens = 40, strideTokens = 30)
        .select(col("doc_id"), col("win_index"), col("win_start"), col("n_tokens"),
          Dedup.h32(col("chunk_text")).as("chunk_checksum"))
        .orderBy(col("doc_id"), col("win_index"))),
    // length-bucketed inference batching: similar-length docs batched
    // together; per-batch padding-waste fraction
    "q_length_batches" -> ((s, d) =>
      TextAnalysis.lengthBatches(Tables.documents(s, d), "doc_id", "text",
        batchSize = 32)),
    // embedding drift monitor: per-dimension PSI between the even- and
    // odd-id halves of the vector corpus (same-distribution control —
    // production compares snapshot vs snapshot)
    "v_drift" -> ((s, d) =>
      VectorOps.dimDrift(Tables.embeddings(s, d), "embedding",
        isB = col("vec_id") % 2 === 1, bins = 10)),
    // membership decontamination: per-candidate-doc fraction of
    // distinct trigrams already present in the reference corpus
    "text_ngram_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramCoverage(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),
    // substring dedup spans: per doc, maximal token spans covered by
    // 8-grams repeating in >= 2 distinct docs — Lee-et-al.-style
    // substring dedup as positional shingles + span merge (coverage
    // union, not an exact-substring guarantee; see Dedup.dupSpans)
    "dedup_spans" -> ((s, d) =>
      Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text", n = spanN)),
    // remove-all span cutting: every doc minus its duplicated token
    // ranges — the strict (well-defined) variant of keep-one-copy
    // substring dedup; what survives is the corpus's unique content
    "dedup_spans_cut" -> ((s, d) =>
      Dedup.cutDupSpans(Tables.documents(s, d), "doc_id", "text", n = spanN)),
    // keep-one span cutting: the Lee-et-al. keep-first-copy variant —
    // per duplicated span identity (hash of the verbatim island slice)
    // the minimal (doc_id, start) occurrence keeps its text, every
    // later occurrence is cut; singleton identities are kept
    "dedup_spans_keep" -> ((s, d) =>
      Dedup.keepOneDupSpans(Tables.documents(s, d), "doc_id", "text", n = spanN)),
    // incremental substring dedup: the NEW batch (doc_id % 10 == 3,
    // the dedup_incremental split) flagged against the STORED corpus
    // gram-df index — batch-sized work per increment; equals the full
    // dupSpans restricted to batch ids (OpsSpec pin)
    "dedup_spans_inc" -> ((s, d) =>
      Dedup.dupSpansIncremental(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 3),
        s.table(spanGramIndex(s, d)), "doc_id", "text", n = spanN)),
    // corpus data card: the one-table profile a dataset release ships
    // (size, token mass, vocabulary, exact-dup rate, quality pass rate)
    // in long (metric, value) format — each metric is its own bounded
    // aggregate branch over the corpus; a standing deployment would
    // compute them off the already-materialized per-doc profiles
    "pipeline_data_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tokStats = docs
        .select(col("doc_id"), Dedup.tokens(col("text")).as("__t"))
        .select(col("doc_id"), col("__t"), size(col("__t")).cast("long").as("__n"))
      val base = tokStats.agg(
        count(lit(1)).cast("double").as("__nd"),
        sum(col("__n")).cast("double").as("__tot"),
        round(avg(col("__n")), 6).as("__mean"))
      val vocab = tokStats.select(explode(col("__t")).as("__tok"))
        .agg(countDistinct(col("__tok")).cast("double").as("__v"))
      val clusters = docs.groupBy(sha2(col("text"), 256).as("__ch"))
        .agg(count(lit(1)).as("__cs"))
        .agg(count(lit(1)).cast("double").as("__ncl"))
      val quality = TextAnalysis.qualityFilter(docs, "doc_id", "text")
        .agg(round(avg(when(col("reason") === "ok", 1.0).otherwise(0.0)), 6).as("__okf"))
      TextAnalysis.cardRows(
        base.crossJoin(vocab).crossJoin(clusters).crossJoin(quality), Seq.empty)
    }),
    // per-source data cards: the six card metrics grouped by source —
    // the per-subset profile read next to the contamination matrix
    // before choosing mixture weights
    "pipeline_source_cards" -> ((s, d) =>
      TextAnalysis.sourceCards(Tables.documents(s, d), "doc_id", "text", "source")),
    // cross-source contamination matrix: for every ordered source
    // pair, the fraction of a's docs sharing >= 1 distinct trigram
    // with b — the pre-mixing audit over the corpus's source column
    "text_contamination_matrix" -> ((s, d) =>
      Dedup.crossSourceContamination(Tables.documents(s, d),
        "doc_id", "text", "source", n = 3)),
    // BPE merge training: 4 rounds of argmax-pair + canonical greedy
    // merge — the trained-tokenizer model table (ordered merges)
    "text_bpe_train" -> ((s, d) =>
      Bpe.trainMerges(Tables.documents(s, d), "doc_id", "text", rounds = 4)
        .orderBy(col("merge_round"))),
    // tokenizer serving half: train the 4-merge model on 90% of docs,
    // apply it in learning order to the held-out 10%, report per-doc
    // raw vs BPE token counts (the compression the model buys unseen
    // text — the train/held-out split is the standard hygiene)
    "text_bpe_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = bpeModel(s, d)
      val held = docs.filter(col("doc_id") % 10 === 0)
      Bpe.applyMerges(held, "doc_id", "text", model)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"))
        .join(held.select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_raw")), "doc_id")
        .select(col("doc_id"), col("n_raw"), col("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    // per-language fertility of the trained tokenizer on the same
    // held-out split: the multilingual tokenizer-fit audit (corpus
    // -level integer sums, ONE division per ratio, 6 dp)
    "text_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = bpeModel(s, d)
      Bpe.fertility(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", "lang", "n_chars", model)
        .orderBy(col("lang"))
    }),
    // the data card derived from the STORED per-doc profiles (same six
    // metrics, same oracle): a card refresh aggregates two narrow
    // tables — the tokenize passes and the quality cascade were paid
    // once, at profile-materialization time
    "pipeline_data_card_inc" -> ((s, d) => {
      val tbl = docProfileIndex(s, d)
      TextAnalysis.dataCardFromProfiles(s.table(tbl), s.table(tbl + "_vocab"))
    }),
    // per-source cards from the SAME stored profiles (plus the
    // (source, term) side table): the card-refresh economics of
    // pipeline_data_card_inc extended to the per-subset report — only
    // the id-sized (doc_id, source) metadata column is read from the
    // corpus, never the text
    "pipeline_source_cards_inc" -> ((s, d) => {
      val tbl = docProfileIndex(s, d)
      TextAnalysis.sourceCardsFromProfiles(s.table(tbl),
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        s.table(tbl + "_srcvocab"))
    })
  )

  /** `mm_neardup` knobs — ONE definition feeds the Spark registry
    * entry and every literal in its SQL oracle (signature width, the
    * bucket divisor `2^(bits - prefixBits)` matching
    * [[graft.ops.Dedup.simHashPairs]]'s `shiftright`, the Hamming
    * threshold, the shingle width), so a tweak to either side cannot
    * silently break engine/oracle parity — the `spanN` discipline.
    */
  private val mmNdBits = 32
  private val mmNdPrefixBits = 12
  private val mmNdMaxHamming = 4
  private val mmNdShingleN = 2
  private val mmNdBucketDiv: Long = 1L << (mmNdBits - mmNdPrefixBits)

  /** Incoming-batch selector modulus for `pipeline_nb_inc` /
    * `stream_nb_score` — ONE definition feeds the Spark registry
    * filters, the streaming runner's batch split, and the SQL
    * oracle's WHERE literal (the `spanN` discipline).
    */
  private[graft] val nbBatchMod = 7

  /** Calibration-bin clamp range for `pipeline_nb_bins` — ONE
    * definition feeds the Spark registry call and the SQL oracle's
    * greatest/least literals (the `spanN` discipline).
    */
  private val nbBinLo = -5
  private val nbBinHi = 4

  /** `pipeline_epoch_shuffle` knobs — ONE definition feeds the Spark
    * registry call and every literal in the oracle SQL (the seed
    * string appears in the hash input, the shard count twice: the
    * mod projection and the window partition), so a tweak to either
    * side cannot silently break engine/oracle parity (the `spanN`
    * discipline).
    */
  private[graft] val epochSeed = "epoch1"
  private[graft] val epochShards = 8

  /** The `pipeline_e2e` chain with a pluggable stage-boundary cut —
    * ONE body serves both execution forms so they cannot drift:
    * the registered query cuts with a lazy `localCheckpoint` (fast,
    * executor-local, the small-scale form), while
    * [[pipelineE2eStaged]] cuts with a durable Parquet stage (the
    * 100-TB form — restartable, storage-replicated, and each staged
    * table is itself an inspectable corpus-build artifact). `cut`
    * receives the stage name so the durable form can lay out
    * `stagePath/{cleaned,qdocs,sdocs,pool,keyed}`.
    *
    * The stage input is a THUNK, not a DataFrame: several stages run
    * real work at construction time, not just at action time
    * (keepBest's label rounds eagerly localCheckpoint per iteration;
    * dsirSelect's boundary cut executes its upstream shuffle stages
    * under AQE), so a resume-capable cut must be able to skip a
    * completed stage WITHOUT constructing its plan — only a deferred
    * input makes "read the staged table instead" actually free.
    */
  private[graft] def pipelineE2eChain(s: SparkSession, d: String,
      cut: (() => DataFrame, String) => DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    val cleaned = cut(() => Clean.removeBoilerplate(docs, "doc_id", "text",
        sep = " the ", minDocs = 3)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text")), "cleaned")
    val qdocs = cut(() => {
      val okIds = TextAnalysis.qualityFilter(cleaned, "doc_id", "text")
        .filter(col("reason") === "ok").select(col("doc_id"))
      cleaned.join(okIds, Seq("doc_id"))
    }, "qdocs")
    val sdocs = cut(() => {
      val pairs = Dedup.minHashLsh(qdocs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      val survivors = Dedup.keepBest(qdocs, "doc_id", "text", pairs, iterations = 3)
        .select(col("doc_id"))
      qdocs.join(survivors, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    }, "sdocs")
    val pool = cut(() => {
      val dsirSel = Curation.dsirSelect(sdocs, "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 256, keepFrac = 0.25)
      sdocs.filter(col("lang") === "en")
        .unionByName(sdocs.join(dsirSel.select(col("doc_id")), Seq("doc_id")))
    }, "pool")
    val keyed = cut(() => {
      val mixed = TextAnalysis.tokenBudgetSample(pool, "doc_id", "lang", "text",
        budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
      val selected = pool.join(mixed.select(col("doc_id")), Seq("doc_id"))
      val order = Curation.epochShuffle(selected, "doc_id",
        seed = epochSeed, nShards = epochShards)
      selected.join(order, Seq("doc_id"))
        .withColumn("__ord", col("shard").cast("long") * lit(1L << 40) + col("pos"))
    }, "keyed")
    val packed = TextAnalysis.packSequences(keyed, "__ord", "text", seqLen = 512)
    packed.select(col("doc_id").as("__ord"), col("n_tokens"),
        col("seq_start"), col("seq_end"), col("offset"))
      .join(keyed.select(col("__ord"), col("doc_id"), col("lang"),
        col("shard"), col("pos")), Seq("__ord"))
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"),
        col("n_tokens"), col("seq_start"), col("seq_end"), col("offset"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Durable-staging twin of `pipeline_e2e` — every localCheckpoint
    * boundary becomes a Parquet table under `stagePath` (the
    * Curation.curate stagePath pattern, extended to the full 7-stage
    * chain). At cluster scale this is the form you run: a lost
    * executor re-reads from storage instead of dying with its
    * checkpoint blocks, and the staged `cleaned`/`qdocs`/`sdocs`
    * tables are the natural ingest points for downstream consumers.
    * Pinned row-identical to the checkpointed form in OpsSpec.
    *
    * `resume = true` makes the restart claim real code, not an
    * operator's manual: a stage whose table already committed is
    * READ, with its entire upstream construction skipped; the first
    * missing stage and EVERYTHING AFTER it recompute and rewrite
    * (cuts fire in chain order, so one `dirty` latch gives the
    * cascade — a recomputed middle stage can never be silently
    * stitched to downstream tables derived from its previous
    * generation). Commit is checked through the path's Hadoop
    * `FileSystem` (so `hdfs://`/`s3a://` stage paths resume too, not
    * just local disk) and requires BOTH the writer's `_SUCCESS`
    * marker AND the `_schema.json` this cut writes after the data
    * commits — a crash anywhere mid-stage leaves at most one of the
    * two, and the stage recomputes. On object-store committers
    * configured to skip `_SUCCESS` markers, resume degrades SAFELY:
    * nothing skips, everything recomputes. Reads always carry an
    * explicit schema (the written df's, or `_schema.json` on a
    * skip), so a stage that legitimately winnows to ZERO rows —
    * Parquet dir with no part files — reads back as the empty
    * DataFrame instead of failing schema inference, keeping the
    * staged twin row-identical to the checkpointed form on
    * degenerate corpora too. The remaining contract is the same one
    * every staged warehouse pipeline carries: stage tables under one
    * `stagePath` belong to one logical run — resuming over stages
    * produced by DIFFERENT inputs/knobs is the caller's staleness
    * bug, which production runs prevent by deriving `stagePath` from
    * a run id (OpsSpec pins the skip, tail-recompute, and
    * middle-stage-cascade sides).
    */
  private[graft] def pipelineE2eStaged(s: SparkSession, d: String,
      stagePath: String, resume: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{DataType, StructType}
    var dirty = false
    pipelineE2eChain(s, d, (compute, name) => {
      val dir = new Path(s"$stagePath/$name")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = new Path(dir, "_SUCCESS")
      val schemaFile = new Path(dir, "_schema.json")
      val committed = fs.exists(marker) && fs.exists(schemaFile)
      // a torn sidecar (crash after fs.create succeeded but before the
      // write/close finished) must read as UNCOMMITTED — fall through
      // to recompute instead of throwing out of DataType.fromJson,
      // keeping the "crash anywhere mid-stage recomputes" contract
      val schema: Option[StructType] =
        if (resume && committed && !dirty) {
          val in = fs.open(schemaFile)
          val json =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          scala.util.Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption
        } else None
      schema match {
        case Some(st) => s.read.schema(st).parquet(dir.toString)
        case None =>
          dirty = true
          val df = compute()
          df.write.mode("overwrite").parquet(dir.toString)
          // schema sidecar AFTER the data commit, written to a temp name
          // and renamed into place: its presence is half the commit
          // predicate, so neither a crash between the two writes nor a
          // torn sidecar write can read as committed
          val tmp = new Path(dir, "._schema.json.tmp")
          val out = fs.create(tmp, true)
          try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
          if (fs.exists(schemaFile)) fs.delete(schemaFile, false): Unit
          if (!fs.rename(tmp, schemaFile))
            throw new java.io.IOException(s"rename $tmp -> $schemaFile failed")
          s.read.schema(df.schema).parquet(dir.toString)
      }
    })
  }

  /** Shingle width for the `dedup_spans` family — ONE definition
    * feeds the Spark registry entries, the CTE chain, and every
    * coverage constant in the consuming SQL, so the width cannot
    * drift between engine and oracle.
    */
  private val spanN = 8

  /** Shared CTE chain for the substring-dedup family: positional
    * n-gram shingles → cross-doc df filter → gap≤n island merge.
    * Ends at `sp(doc_id, n_tokens, p1, p2)` (token coverage
    * `p1 .. p2 + n - 1`) with `tl(doc_id, t)` still in scope for the
    * cut query's token re-read. One definition, three consumers
    * (`dedup_spans`, `dedup_spans_cut`, `dedup_spans_inc`) — the
    * dataCardSql discipline.
    */
  private def dupSpanCtes(n: Int): String =
    s"""tl AS (SELECT doc_id, $toksSql AS t FROM documents),
       |gl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |         ${ngramSql("t", n)} AS gs FROM tl),
       |pos AS (SELECT doc_id, n_tokens, i - 1 AS pos, gs[i] AS g
       |        FROM gl, unnest(generate_series(1, len(gs))) AS s(i)),
       |df AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |dup AS (SELECT doc_id, n_tokens, pos FROM pos JOIN df USING (g)),
       |isl AS (SELECT doc_id, n_tokens, pos,
       |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
       |               THEN 0 ELSE 1 END AS nw
       |        FROM dup),
       |grp AS (SELECT doc_id, n_tokens, pos,
       |          sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |        FROM isl),
       |sp AS (SELECT doc_id, n_tokens, grp, min(pos) AS p1, max(pos) AS p2
       |       FROM grp GROUP BY 1, 2, 3)""".stripMargin

  /** BM25 CTE chain mirroring Retrieval.bm25TopK step for step
    * (postings → doc lengths folded from postings → df → one-row
    * corpus stats → distinct query terms of docs 0..7 → df-capped
    * idf weights → scored → ranked-on-rounded-score top-k). Shared by
    * `text_bm25` (k=5) and the hybrid fusion (k=10). Ends at CTE
    * `bmr(query_id, doc_id, score, rank)`.
    */
  private def bm25Ctes(k: Int): String =
    s"""tok25 AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf25 AS (SELECT doc_id, term, count(*) AS tf FROM tok25 GROUP BY 1, 2),
       |dl25 AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf25 GROUP BY 1),
       |df25 AS (SELECT term, count(*) AS df
       |         FROM (SELECT DISTINCT doc_id, term FROM tok25) GROUP BY 1),
       |st25 AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl25),
       |qt25 AS (SELECT doc_id AS query_id, unnest(list_distinct($toksSql)) AS term
       |         FROM documents WHERE doc_id < 8),
       |qw25 AS (SELECT qt25.query_id, qt25.term,
       |           ln((st25.n - df + 0.5) / (df + 0.5) + 1) AS idf
       |         FROM qt25 JOIN df25 USING (term), st25
       |         WHERE df::DOUBLE <= 0.8 * st25.n),
       |sc25 AS (SELECT qw25.query_id, tf25.doc_id,
       |           round(sum(qw25.idf * (tf * (1.2 + 1)) /
       |             (tf + 1.2 * (1 - 0.75 + 0.75 * dl25.dl / st25.avgdl))), 6) AS score
       |         FROM qw25 JOIN tf25 USING (term)
       |           JOIN dl25 ON tf25.doc_id = dl25.doc_id, st25
       |         GROUP BY 1, 2),
       |bmr AS (SELECT query_id, doc_id, score,
       |          CAST(row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |        FROM sc25 QUALIFY rank <= $k)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_chunk" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, ' the '), s -> trim(s)),
        |      s -> length(s) > 0) AS paras
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, i - 1 AS chunk_index, paras[i] AS chunk_text
        |  FROM p, LATERAL (SELECT unnest(generate_series(1, len(paras))) AS i) g)
        |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index, chunk_text
        |FROM e WHERE length(chunk_text) >= 50
        |ORDER BY doc_id, chunk_index""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS representative
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""".stripMargin,
    "dedup_minhash" ->
      s"""$minhashPairsCte
         |SELECT doc_a, doc_b, round(j, 6) AS jaccard
         |FROM prs
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_cluster" ->
      s"""$minhashPairsCte,
         |$clusterLabelCtes
         |SELECT doc_id, label AS cluster_id FROM l3
         |ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""$minhashPairsCte,
         |$clusterLabelCtes,
         |${OracleSql.qualityCtes("kb", "documents")}
         |SELECT cluster_id, doc_id, n_tokens, n_members FROM (
         |  SELECT l.label AS cluster_id, l.doc_id,
         |    coalesce(q.n_tokens, 0) AS n_tokens,
         |    count(*) OVER (PARTITION BY l.label) AS n_members,
         |    row_number() OVER (PARTITION BY l.label
         |      ORDER BY coalesce(q.reason = 'ok', false) DESC,
         |        coalesce(q.n_tokens, 0) DESC, l.doc_id) AS rn
         |  FROM l3 l LEFT JOIN kb_r q ON l.doc_id = q.doc_id)
         |WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c, ${h32Sql("tok")} AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |bits AS (SELECT unnest(generate_series(0, 31)) AS b),
         |pb AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN c ELSE -c END) AS s
         |  FROM tc, bits GROUP BY doc_id, b)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM pb GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c, ${h32Sql("tok")} AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |bits AS (SELECT unnest(generate_series(0, 31)) AS b),
         |pb AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN c ELSE -c END) AS s
         |  FROM tc, bits GROUP BY doc_id, b),
         |sim AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM pb GROUP BY doc_id),
         |bk AS (SELECT doc_id, simhash, simhash // 16777216 AS bucket FROM sim)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
         |FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_jaccard" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct($toksSql) AS s FROM documents WHERE doc_id < 100)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.s, b.s))::DOUBLE /
         |    len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         |FROM t a, t b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.s, b.s))::DOUBLE /
         |    len(list_distinct(list_concat(a.s, b.s))) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "sim_ivf" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id < 10),
         |p AS (SELECT vec_id AS point_id, embedding, bucket FROM b WHERE vec_id >= 10),
         |s AS (
         |  SELECT q.query_id, p.point_id,
         |    ${sqlCos("q.embedding", "p.embedding")} AS score,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id) AS BIGINT) AS rank
         |  FROM q JOIN p ON q.bucket = p.bucket
         |  QUALIFY rank <= 3)
         |SELECT query_id, rank, point_id, round(score, 6) AS score
         |FROM s ORDER BY query_id, rank""".stripMargin,
    // batch self-search: same bucket-join semantics as sim_ivf, query
    // side = every 4th vector, point side = the full (stored) index
    "sim_ivf_batch" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id % 4 = 0),
         |s AS (
         |  SELECT q.query_id, b.vec_id AS point_id,
         |    ${sqlCos("q.embedding", "b.embedding")} AS score,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlCos("q.embedding", "b.embedding")} DESC, b.vec_id) AS BIGINT) AS rank
         |  FROM q JOIN b ON q.bucket = b.bucket
         |  QUALIFY rank <= 3)
         |SELECT query_id, rank, point_id, round(score, 6) AS score
         |FROM s ORDER BY query_id, rank""".stripMargin,
    // multi-probe (nprobe=2): own bucket UNION the single-bit flip of
    // the lowest-|component| sign bit (ties by mask — mirrors the
    // struct array_sort in ivfTopKStored); mask for component j of 4
    // is 2^(4-j), flip via xor
    "sim_ivf_batch_mp" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id % 4 = 0),
         |${mpProbeCtes("q0")},
         |s AS (
         |  SELECT p.query_id, b.vec_id AS point_id,
         |    ${sqlCos("p.embedding", "b.embedding")} AS score,
         |    CAST(row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY ${sqlCos("p.embedding", "b.embedding")} DESC, b.vec_id) AS BIGINT) AS rank
         |  FROM probes p JOIN b ON p.bucket = b.bucket
         |  QUALIFY rank <= 3)
         |SELECT query_id, rank, point_id, round(score, 6) AS score
         |FROM s ORDER BY query_id, rank""".stripMargin,
    // same ± matrix from the portable-hash parity, same sequential
    // fold order as the codegen dot (list_reduce left fold)
    "v_project" ->
      s"""WITH y AS (
         |  SELECT vec_id, k,
         |    list_reduce(list_transform(generate_series(1, 64), i ->
         |      embedding[i]::DOUBLE *
         |      (CASE WHEN ${h32Sql("k::VARCHAR || '|' || (i-1)::VARCHAR")} % 2 = 0
         |            THEN 0.25 ELSE -0.25 END)),
         |      (acc, x) -> acc + x) AS yv
         |  FROM embeddings CROSS JOIN generate_series(0, 15) t(k))
         |SELECT vec_id, k, round(yv, 6) AS yv
         |FROM y ORDER BY vec_id, k""".stripMargin,
    // project -> quantize composition: the projection sums evaluate in
    // the same element order on both engines (sequential fold over
    // i = 1..64 in doubles), so the unrounded y feeding the quantizer
    // is bit-identical and the codes are exact integers
    "v_project_quant" ->
      s"""WITH y AS (
         |  SELECT vec_id, k,
         |    list_reduce(list_transform(generate_series(1, 64), i ->
         |      embedding[i]::DOUBLE *
         |      (CASE WHEN ${h32Sql("k::VARCHAR || '|' || (i-1)::VARCHAR")} % 2 = 0
         |            THEN 0.25 ELSE -0.25 END)),
         |      (acc, x) -> acc + x) AS yv
         |  FROM embeddings CROSS JOIN generate_series(0, 15) t(k)),
         |s AS (
         |  SELECT vec_id, k, yv, max(abs(yv)) OVER (PARTITION BY vec_id) AS amax
         |  FROM y),
         |q AS (
         |  SELECT vec_id, k, yv,
         |    CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
         |  FROM s)
         |SELECT vec_id, k, CAST(round(yv / scale) AS BIGINT) AS code,
         |  round(scale, 6) AS scale
         |FROM q ORDER BY vec_id, k""".stripMargin,
    "v_quantize" ->
      s"""WITH b AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |sc AS (
         |  SELECT vec_id, v,
         |    CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
         |  FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM b)),
         |q AS (
         |  SELECT vec_id, v, scale,
         |    list_transform(v, x -> CAST(round(x / scale) AS INT)) AS codes
         |  FROM sc),
         |d AS (
         |  SELECT vec_id, v, scale, codes,
         |    list_transform(codes, c -> c::DOUBLE * scale) AS dq
         |  FROM q)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  CAST(list_max(codes) AS BIGINT) AS max_code,
         |  CAST(list_min(codes) AS BIGINT) AS min_code,
         |  round(${sqlCos("v", "dq")}, 6) AS cos_recon
         |FROM d ORDER BY vec_id""".stripMargin,
    "sim_ivf_trained" -> ivfTrainedSelect,
    // prototypicality prune: the shared trained-k-means chain scores
    // every point against its own centroid; keep-hardest-half per cell
    "sim_proto_prune" ->
      s"""WITH $ivfTrainCtes,
         |scored AS (
         |  SELECT ap.cid, ap.pid AS point_id, ${sqlCos("ap.v", "c.c")} AS score
         |  FROM ap JOIN c2 c ON ap.cid = c.cid),
         |ranked AS (
         |  SELECT cid, point_id, score,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n,
         |    CAST(row_number() OVER (PARTITION BY cid ORDER BY score, point_id) AS BIGINT)
         |      AS rank
         |  FROM scored)
         |SELECT cid, point_id, cluster_n, rank, round(score, 6) AS score
         |FROM ranked
         |WHERE rank <= greatest(1, CAST(floor(cluster_n * 0.5) AS BIGINT))
         |ORDER BY cid, rank""".stripMargin,
    // cluster data-map cards: same trained chain + cosine-to-centroid
    // scores as sim_proto_prune, reduced to one row per cell
    "sim_cluster_cards" ->
      s"""WITH $ivfTrainCtes,
         |scored AS (
         |  SELECT ap.cid, ap.pid AS point_id, ${sqlCos("ap.v", "c.c")} AS score
         |  FROM ap JOIN c2 c ON ap.cid = c.cid),
         |agg AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS cluster_n,
         |    avg(score) AS mean_s, min(score) AS min_s
         |  FROM scored GROUP BY cid),
         |rep AS (
         |  SELECT cid, point_id, score FROM (
         |    SELECT cid, point_id, score,
         |      row_number() OVER (PARTITION BY cid ORDER BY score DESC, point_id) AS rn
         |    FROM scored) WHERE rn = 1),
         |tot AS (SELECT count(*)::DOUBLE AS n FROM scored)
         |SELECT a.cid, a.cluster_n,
         |  round(a.cluster_n / t.n, 6) AS corpus_frac,
         |  r.point_id AS representative,
         |  round(r.score, 6) AS rep_score,
         |  round(a.mean_s, 6) AS mean_score,
         |  round(a.min_s, 6) AS min_score
         |FROM agg a JOIN rep r USING (cid) CROSS JOIN tot t
         |ORDER BY a.cid""".stripMargin,
    // cluster-balanced sample: the assignment chain only — within-cell
    // order is the portable 32-bit hash, not the cosine score
    "sim_cluster_sample" ->
      s"""WITH $ivfTrainCtes,
         |r AS (
         |  SELECT cid, pid AS point_id,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY ${h32Sql("pid::VARCHAR")}, pid) AS BIGINT) AS rank
         |  FROM ap)
         |SELECT cid, point_id, cluster_n, rank FROM r
         |WHERE rank <= 20 ORDER BY cid, rank""".stripMargin,
    // per-cell outliers: score/mean/std each quantized to 6 dp BEFORE
    // the z division (DSIR model discipline), so the flagged SET is
    // bit-identical across engines, not just the displayed numbers
    "sim_cluster_outliers" ->
      s"""WITH $ivfTrainCtes,
         |scored AS (
         |  SELECT ap.cid, ap.pid AS point_id,
         |    round(${sqlCos("ap.v", "c.c")}, 6) AS score
         |  FROM ap JOIN c2 c ON ap.cid = c.cid),
         |st AS (
         |  SELECT cid, point_id, score,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n,
         |    round(avg(score) OVER (PARTITION BY cid), 6) AS cell_mean,
         |    round(stddev_samp(score) OVER (PARTITION BY cid), 6) AS cell_std
         |  FROM scored)
         |SELECT cid, point_id, cluster_n, score, cell_mean, cell_std,
         |  round((score - cell_mean) / cell_std, 4) AS z
         |FROM st
         |WHERE cluster_n >= 4 AND cell_std > 0
         |  AND (score - cell_mean) / cell_std <= -1.5
         |ORDER BY cid, point_id""".stripMargin,
    // stored composition is semantics-identical to the in-plan trained
    // search (same training, probes, scoring, parameters) — one oracle
    "sim_ivf_trained_batch" -> ivfTrainedSelect,
    "sim_recall_eval" ->
      s"""WITH exact AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS BIGINT) AS rank
         |    FROM embeddings q, embeddings p
         |    WHERE q.vec_id < 10 AND p.vec_id >= 10
         |    QUALIFY rank <= 3)),
         |approx AS (SELECT query_id, point_id FROM ($ivfTrainedSelect)),
         |hits AS (
         |  SELECT e.query_id, count(*) AS n_hits
         |  FROM exact e JOIN approx a USING (query_id, point_id)
         |  GROUP BY e.query_id)
         |SELECT q.query_id,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  round(coalesce(h.n_hits, 0)::DOUBLE / 3, 6) AS recall_at_k
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN hits h USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    // nine approximate top-3 tables (each mirroring its Spark path
    // step for step), one exact ground truth, per-method hit counts
    "sim_recall_all" -> recallAllSql(""),
    // identical SQL over the clustered fixture: a leading CTE named
    // `embeddings` SHADOWS the registered harness view (DuckDB resolves
    // CTE names before catalog names), so every nested helper CTE —
    // training mirrors included — reads the fixture instead
    "sim_recall_clustered" -> recallAllSql(
      s"""embeddings AS (
         |  SELECT vec_id, embedding
         |  FROM read_parquet('$FixturesDir/clustered_emb.parquet/*.parquet')),
         |""".stripMargin)
  ) ++ oracleSqlRest

  /** Body of the nine-path recall oracle; `prefix` prepends (optionally)
    * a source-shadowing CTE — see `sim_recall_clustered`.
    */
  private def recallAllSql(prefix: String): String =
      s"""WITH ${prefix}exact AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS BIGINT) AS rank
         |    FROM embeddings q, embeddings p
         |    WHERE q.vec_id < 10 AND p.vec_id >= 10
         |    QUALIFY rank <= 3)),
         |eb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |qm AS (SELECT vec_id AS query_id, embedding, bucket FROM eb WHERE vec_id < 10),
         |pm AS (SELECT vec_id AS point_id, embedding, bucket FROM eb WHERE vec_id >= 10),
         |ivf AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT q.query_id, p.point_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id) AS rank
         |    FROM qm q JOIN pm p ON q.bucket = p.bucket
         |    QUALIFY rank <= 3)),
         |${mpProbeCtes("qm")},
         |mp AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT p.query_id, pm.point_id,
         |      row_number() OVER (PARTITION BY p.query_id
         |        ORDER BY ${sqlCos("p.embedding", "pm.embedding")} DESC, pm.point_id) AS rank
         |    FROM probes p JOIN pm ON p.bucket = pm.bucket
         |    QUALIFY rank <= 3)),
         |trained AS (SELECT query_id, point_id FROM ($ivfTrainedSelect)),
         |adc AS (SELECT query_id, point_id FROM (${pqSelect("adc", qMax = 10, k = 3)})),
         |prr AS (SELECT query_id, point_id FROM (${pqSelect("rerank", qMax = 10, k = 3)})),
         |ipq AS (SELECT query_id, point_id FROM (${pqSelect("ivfpq", qMax = 10, k = 3)})),
         |bqs AS (
         |  SELECT vec_id, embedding,
         |    ${bqWordSql("embedding", 0, 64)} AS w0,
         |    ${bqWordSql("embedding", 1, 64)} AS w1
         |  FROM embeddings),
         |bq AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT query_id, point_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCos("qe", "pe")} DESC, point_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |        q.embedding AS qe, p.embedding AS pe,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY bit_count(xor(q.w0, p.w0)) + bit_count(xor(q.w1, p.w1)) ASC,
         |            p.vec_id ASC) AS hrank
         |      FROM bqs q, bqs p WHERE q.vec_id < 10 AND p.vec_id >= 10
         |      QUALIFY hrank <= 20)
         |    QUALIFY rank <= 3)),
         |pfx AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT query_id, point_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCos("qe", "pe")} DESC, point_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |        q.embedding AS qe, p.embedding AS pe,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY ${sqlCos("q.embedding[1:16]", "p.embedding[1:16]")} DESC,
         |            p.vec_id ASC) AS prank
         |      FROM embeddings q, embeddings p WHERE q.vec_id < 10 AND p.vec_id >= 10
         |      QUALIFY prank <= 20)
         |    QUALIFY rank <= 3)),
         |ibq AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT query_id, point_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCos("qe", "pe")} DESC, point_id) AS rank
         |    FROM (
         |      SELECT pr.query_id, pm.point_id,
         |        qb.embedding AS qe, pb.embedding AS pe,
         |        row_number() OVER (PARTITION BY pr.query_id
         |          ORDER BY bit_count(xor(qb.w0, pb.w0)) + bit_count(xor(qb.w1, pb.w1)) ASC,
         |            pm.point_id ASC) AS hrank
         |      FROM probes pr
         |      JOIN pm ON pr.bucket = pm.bucket
         |      JOIN bqs qb ON qb.vec_id = pr.query_id
         |      JOIN bqs pb ON pb.vec_id = pm.point_id
         |      QUALIFY hrank <= 20)
         |    QUALIFY rank <= 3)),
         |paths AS (
         |  SELECT 'ivf' AS method, query_id, point_id FROM ivf
         |  UNION ALL SELECT 'ivf_mp', query_id, point_id FROM mp
         |  UNION ALL SELECT 'ivf_trained', query_id, point_id FROM trained
         |  UNION ALL SELECT 'pq_adc', query_id, point_id FROM adc
         |  UNION ALL SELECT 'pq_rerank', query_id, point_id FROM prr
         |  UNION ALL SELECT 'ivfpq', query_id, point_id FROM ipq
         |  UNION ALL SELECT 'bq', query_id, point_id FROM bq
         |  UNION ALL SELECT 'prefix', query_id, point_id FROM pfx
         |  UNION ALL SELECT 'ivf_bq', query_id, point_id FROM ibq),
         |nq AS (SELECT count(DISTINCT query_id) AS n FROM exact),
         |hits AS (
         |  SELECT p.method, count(*) AS sum_hits
         |  FROM paths p JOIN exact e
         |    ON e.query_id = p.query_id AND e.point_id = p.point_id
         |  GROUP BY p.method)
         |SELECT m.method,
         |  CAST(nq.n AS BIGINT) AS n_queries,
         |  CAST(coalesce(h.sum_hits, 0) AS BIGINT) AS sum_hits,
         |  round(coalesce(h.sum_hits, 0)::DOUBLE / (3 * nq.n), 6) AS mean_recall
         |FROM (VALUES ('ivf'), ('ivf_mp'), ('ivf_trained'),
         |      ('pq_adc'), ('pq_rerank'), ('ivfpq'), ('bq'), ('prefix'),
         |      ('ivf_bq')) m(method)
         |CROSS JOIN nq
         |LEFT JOIN hits h ON h.method = m.method
         |ORDER BY m.method""".stripMargin

  /** The rag_hybrid_mmr oracle statement, shared verbatim with the
    * MMR path of `eval_ndcg_paths` (embedded there as a subquery).
    */
  private lazy val oracleSqlRestMmrHybrid: String =
    mmrSelectFrom(
      s"""${hybridCtes(8)},
         |hp AS (
         |  SELECT h.query_id, h.doc_id AS point_id, e.embedding AS v,
         |    round(h.rrf / max(h.rrf) OVER (PARTITION BY h.query_id), 6) AS rel
         |  FROM hyb h JOIN embeddings e ON e.vec_id = h.doc_id)""".stripMargin)

  /** Remainder of [[oracleSql]] (split around the recallAllSql helper). */
  private def oracleSqlRest: Map[String, String] = Map(
    "sim_neardup" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |  round(${sqlCos("a.embedding", "b2.embedding")}, 6) AS score
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE ${sqlCos("a.embedding", "b2.embedding")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
         |  CASE WHEN len(t) = 0 THEN NULL ELSE
         |    round(list_reduce(list_transform(t, x -> CAST(length(x) AS BIGINT)),
         |      (a, b) -> a + b)::DOUBLE / len(t), 6) END AS avg_token_len,
         |  round(len(list_distinct(t))::DOUBLE / nullif(len(t), 0), 6) AS type_token_ratio,
         |  round(len(list_filter(t, x -> list_contains(['the','a','of','and','is'], x)))::DOUBLE
         |    / nullif(len(t), 0), 6) AS stopword_ratio
         |FROM (SELECT doc_id, text, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(t, x -> list_contains(['der','die','das','und','ist'], x)))::DOUBLE / n AS s_de,
        |    len(list_filter(t, x -> list_contains(['the','a','of','and','is'], x)))::DOUBLE / n AS s_en,
        |    len(list_filter(t, x -> list_contains(['el','la','de','y','es'], x)))::DOUBLE / n AS s_es,
        |    len(list_filter(t, x -> list_contains(['le','la','les','et','est'], x)))::DOUBLE / n AS s_fr,
        |    len(list_filter(t, x -> list_contains(['的','是','在','了','和'], x)))::DOUBLE / n AS s_zh
        |  FROM (SELECT doc_id, list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS t,
        |          greatest(len(list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')), 1)::DOUBLE AS n
        |        FROM documents)),
        |m AS (SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |        greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM sc)
        |SELECT doc_id,
        |  CASE WHEN s_de = m AND m > 0 THEN 'de'
        |       WHEN s_en = m AND m > 0 THEN 'en'
        |       WHEN s_es = m AND m > 0 THEN 'es'
        |       WHEN s_fr = m AND m > 0 THEN 'fr'
        |       WHEN s_zh = m AND m > 0 THEN 'zh'
        |       ELSE 'und' END AS pred_lang,
        |  round(m, 6) AS lang_score
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "text_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT)
         |    AS bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  round(length(text)::DOUBLE / greatest(
         |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+'))::DOUBLE, 1.0), 6)
         |    AS chars_per_token
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    // one gram pass tagged by n on both sides; entropy via the
    // shuffle-free decomposition H = (ln N - sum(c ln c)/N) / ln 2
    "text_diversity" ->
      s"""WITH tl AS (SELECT $toksSql AS t FROM documents),
         |g AS (
         |  SELECT 1 AS n, unnest(${ngramSql("t", 1)}) AS gram FROM tl
         |  UNION ALL SELECT 2 AS n, unnest(${ngramSql("t", 2)}) AS gram FROM tl
         |  UNION ALL SELECT 3 AS n, unnest(${ngramSql("t", 3)}) AS gram FROM tl),
         |c AS (SELECT n, gram, count(*) AS c FROM g GROUP BY n, gram),
         |a AS (
         |  SELECT n, CAST(sum(c) AS BIGINT) AS total_grams,
         |    CAST(count(*) AS BIGINT) AS distinct_grams,
         |    sum(c::DOUBLE * ln(c::DOUBLE)) AS sclc
         |  FROM c GROUP BY n)
         |SELECT CAST(n AS BIGINT) AS n, total_grams, distinct_grams,
         |  round(distinct_grams::DOUBLE / total_grams, 6) AS distinct_ratio,
         |  round((ln(total_grams::DOUBLE) - sclc / total_grams) / ln(2), 6)
         |    AS entropy_bits
         |FROM a ORDER BY n""".stripMargin,
    "text_repetition" ->
      s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
         |u AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(t) AS g FROM tl) GROUP BY 1, 2) GROUP BY doc_id),
         |b AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(${ngramSql("t", 2)}) AS g FROM tl)
         |  GROUP BY 1, 2) GROUP BY doc_id),
         |tg AS (SELECT doc_id, count(*) AS nd, CAST(sum(c) AS BIGINT) AS tot FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(${ngramSql("t", 3)}) AS g FROM tl)
         |  GROUP BY 1, 2) GROUP BY doc_id)
         |SELECT u.doc_id, u.tot AS n_tokens,
         |  round(u.mx::DOUBLE / u.tot, 6) AS top_unigram_frac,
         |  round(coalesce(b.mx::DOUBLE / b.tot, 0.0), 6) AS top_bigram_frac,
         |  round(coalesce((tg.tot - tg.nd)::DOUBLE / tg.tot, 0.0), 6) AS dup_trigram_frac
         |FROM u LEFT JOIN b USING (doc_id) LEFT JOIN tg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_clean" ->
      s"""WITH ${OracleSql.cleanCtes("c", "documents")}
         |SELECT doc_id, n_segs, n_kept, clean_text
         |FROM c_out
         |ORDER BY doc_id""".stripMargin,
    "dedup_profile" ->
      """WITH seeded AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -(doc_id * 2) - 1, text FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT -(doc_id * 2) - 2, text FROM documents WHERE doc_id % 39 = 0),
        |cl AS (SELECT sha256(text) AS ch, count(*) AS cluster_size
        |       FROM seeded GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  cluster_size * count(*) AS n_docs
        |FROM cl
        |GROUP BY cluster_size
        |ORDER BY cluster_size""".stripMargin,
    // DSIR selection: hashed unigram+bigram cell counts (one pass,
    // conditional sums), 6-dp-rounded log-ratio model, per-candidate
    // weighted sum, deterministic top-quarter by the QUANTIZED
    // (round(logw, 6) DESC, doc_id) — the selected set is a total
    // function of the 6-dp artifact, not of float summation order
    "pipeline_epoch_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${h32Sql(s"'$epochSeed:' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents)
         |SELECT CAST(hh % $epochShards AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY hh % $epochShards ORDER BY hh, doc_id) - 1 AS BIGINT) AS pos,
         |  doc_id
         |FROM h
         |ORDER BY shard, pos""".stripMargin,
    "pipeline_nb_quality" ->
      s"""WITH $nbScoreCtes
         |SELECT doc_id, score, score > 0 AS pred_curated
         |FROM sc
         |ORDER BY doc_id""".stripMargin,
    // the stored-model batch scoring restricts the SAME score table
    // to the batch ids — model values are identical because the model
    // is the 6-dp-quantized artifact either way
    "pipeline_nb_inc" -> nbIncSql,
    // OOV-aware scoring against the corpus-minus-batch model — SQL
    // single-sourced in nbOovSql (shared with `stream_nb_oov`)
    "pipeline_nb_oov" -> nbOovSql,
    // the stored-model report forms restrict the SAME score table to
    // the batch ids (model values are identical — the model is the
    // 6-dp-quantized artifact) and derive eval/bins over batch labels
    "pipeline_nb_eval_inc" ->
      s"""WITH $nbScoreCtes,
         |b AS (SELECT doc_id, score FROM sc WHERE doc_id % $nbBatchMod = 0),
         |${nbEvalReportSql("b")}""".stripMargin,
    "pipeline_nb_bins_inc" ->
      s"""WITH $nbScoreCtes,
         |b AS (SELECT doc_id, score FROM sc WHERE doc_id % $nbBatchMod = 0)
         |${nbBinsReportSql("b")}""".stripMargin,
    "pipeline_nb_bins" ->
      s"""WITH $nbScoreCtes
         |${nbBinsReportSql("sc")}""".stripMargin,
    "pipeline_nb_eval" ->
      s"""WITH $nbScoreCtes,
         |${nbEvalReportSql("sc")}""".stripMargin,
    "pipeline_dsir" ->
      s"""WITH tl AS (SELECT doc_id, lang = 'en' AS tgt, $toksSql AS t FROM documents),
         |gr AS (
         |  SELECT doc_id, tgt, ${h32Sql("g")} % 256 AS b
         |  FROM (SELECT doc_id, tgt, unnest(list_concat(t, ${ngramSql("t", 2)})) AS g
         |        FROM tl)),
         |bc AS (
         |  SELECT b,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |  FROM gr GROUP BY 1),
         |tot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM bc),
         |m AS (
         |  SELECT b, round(ln((ct + 1.0) / (tt + 256.0))
         |    - ln((cr + 1.0) / (tr + 256.0)), 6) AS lr
         |  FROM bc, tot),
         |db AS (SELECT doc_id, b, count(*) AS c FROM gr WHERE NOT tgt GROUP BY 1, 2),
         |w AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |    sum(c::DOUBLE * lr) AS logw
         |  FROM db JOIN m USING (b) GROUP BY 1),
         |cnt AS (SELECT count(*) AS n FROM w),
         |sel AS (
         |  SELECT doc_id, n_grams, round(logw, 6) AS logw,
         |    row_number() OVER (ORDER BY round(logw, 6) DESC, doc_id) AS rn
         |  FROM w)
         |SELECT doc_id, n_grams, logw
         |FROM sel, cnt
         |WHERE rn <= greatest(1, CAST(floor(n * 0.25) AS BIGINT))
         |ORDER BY doc_id""".stripMargin,
    // composed curation chain; the duplicate tier is exercised by the
    // seeded re-keyed copies (doc_id % 13 == 0 re-inserted at the
    // collision-free negative re-key -(doc_id)-1)
    "pipeline_curate" ->
      s"""WITH seeded AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT -doc_id - 1 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
         |${OracleSql.cleanCtes("cl", "seeded")},
         |cq_src AS (SELECT doc_id, clean_text AS text FROM cl_out WHERE n_kept > 0),
         |${OracleSql.qualityCtes("cq", "cq_src")},
         |ok AS (
         |  SELECT o.doc_id, sha256(o.clean_text) AS ch
         |  FROM cl_out o JOIN cq_r r USING (doc_id) WHERE r.reason = 'ok'),
         |reps AS (SELECT ch, min(doc_id) AS rep FROM ok GROUP BY ch),
         |wr AS (SELECT o.doc_id, r.rep FROM ok o JOIN reps r USING (ch))
         |SELECT c.doc_id,
         |  CASE WHEN c.n_kept = 0 THEN 'empty_after_clean'
         |       WHEN qr.reason <> 'ok' THEN qr.reason
         |       WHEN c.doc_id <> w.rep THEN 'duplicate'
         |       WHEN ${h32Sql("c.doc_id::VARCHAR")} % 100 >= 80 THEN 'sampled_out'
         |       ELSE 'kept' END AS verdict
         |FROM cl_out c
         |LEFT JOIN cq_r qr USING (doc_id)
         |LEFT JOIN wr w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the composed end-to-end curation chain: every stage's SQL is the
    // registered operator's own oracle form, chained over the previous
    // stage's survivors (clean/quality via the shared CTE builders,
    // minhash+labels via the parameterized bodies over the
    // quality-passed cleaned corpus, DSIR/mix/shuffle/pack as the
    // pipeline_dsir / pipeline_mix_pack / pipeline_epoch_shuffle
    // fragments with the same engine-matched constants)
    "pipeline_e2e" ->
      s"""WITH ${OracleSql.cleanCtes("cl", "documents")},
         |cq_src AS MATERIALIZED (
         |  SELECT doc_id, clean_text AS text FROM cl_out WHERE n_kept > 0),
         |${OracleSql.qualityCtes("cq", "cq_src")},
         |qr AS MATERIALIZED (SELECT doc_id, n_tokens, reason FROM cq_r),
         |qd AS MATERIALIZED (
         |  SELECT s.doc_id, s.text FROM cq_src s JOIN qr r USING (doc_id)
         |  WHERE r.reason = 'ok'),
         |${minhashPairsBodyFrom("qd")},
         |${clusterLabelCtesFrom("qd")},
         |kb AS (
         |  -- keepBest's total order is (keep DESC, n_tokens DESC, doc_id);
         |  -- every qd member has reason = 'ok' so keep is uniformly true
         |  -- and drops out of the ranking
         |  SELECT doc_id FROM (
         |    SELECT l.doc_id,
         |      row_number() OVER (PARTITION BY l.label
         |        ORDER BY r.n_tokens DESC, l.doc_id) AS rn
         |    FROM l3 l JOIN qr r USING (doc_id))
         |  WHERE rn = 1),
         |sd AS MATERIALIZED (
         |  SELECT k.doc_id, q.text, d.lang
         |  FROM kb k JOIN qd q USING (doc_id) JOIN documents d USING (doc_id)),
         |dtl AS (SELECT doc_id, lang = 'en' AS tgt, $toksSql AS t FROM sd),
         |dgr AS MATERIALIZED (
         |  SELECT doc_id, tgt, ${h32Sql("g")} % 256 AS b
         |  FROM (SELECT doc_id, tgt, unnest(list_concat(t, ${ngramSql("t", 2)})) AS g
         |        FROM dtl)),
         |dbc AS MATERIALIZED (
         |  SELECT b,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |  FROM dgr GROUP BY 1),
         |dtot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM dbc),
         |dm AS (
         |  SELECT b, round(ln((ct + 1.0) / (tt + 256.0))
         |    - ln((cr + 1.0) / (tr + 256.0)), 6) AS lr
         |  FROM dbc, dtot),
         |ddb AS (SELECT doc_id, b, count(*) AS c FROM dgr WHERE NOT tgt GROUP BY 1, 2),
         |dw AS MATERIALIZED (
         |  SELECT doc_id, sum(c::DOUBLE * lr) AS logw
         |  FROM ddb JOIN dm USING (b) GROUP BY 1),
         |dcnt AS (SELECT count(*) AS n FROM dw),
         |dsel AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY round(logw, 6) DESC, doc_id) AS rn
         |    FROM dw), dcnt
         |  WHERE rn <= greatest(1, CAST(floor(n * 0.25) AS BIGINT))),
         |pool AS (
         |  SELECT doc_id, lang FROM sd WHERE lang = 'en'
         |  UNION ALL
         |  SELECT s.doc_id, s.lang FROM sd s JOIN dsel USING (doc_id)),
         |mx AS (
         |  SELECT p.doc_id, p.lang, r.n_tokens, ${h32Sql("p.doc_id::VARCHAR")} AS h
         |  FROM pool p JOIN qr r USING (doc_id) WHERE r.n_tokens > 0),
         |mw AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM mx),
         |msel AS (
         |  SELECT doc_id, lang, n_tokens FROM mw
         |  WHERE cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END),
         |eo AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(hh % $epochShards AS INT) AS shard,
         |    CAST(row_number() OVER (PARTITION BY hh % $epochShards ORDER BY hh, doc_id) - 1
         |      AS BIGINT) AS pos
         |  FROM (SELECT *, ${h32Sql(s"'$epochSeed:' || CAST(doc_id AS VARCHAR)")} AS hh
         |        FROM msel)),
         |pk AS (
         |  -- CAST: see q_pack_sequences — HUGEINT window sums must not
         |  -- reach the compared output
         |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (ORDER BY shard, pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM eo)
         |SELECT doc_id, lang, shard, pos, n_tokens,
         |  prev // 512 AS seq_start,
         |  (prev + n_tokens - 1) // 512 AS seq_end,
         |  prev % 512 AS offset
         |FROM pk
         |ORDER BY shard, pos""".stripMargin,
    "text_pii" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40) || ' contact user' || doc_id || '@example.com via '
         |      || 'http://ex.org/u/' || doc_id || ' from 10.0.' || (doc_id % 256)
         |      || '.7 tel +1-555-' || lpad(doc_id::VARCHAR, 4, '0') AS pii_text
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, 'https?://[^\\s]+')) AS BIGINT) AS n_url,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(pii_text, '\\+?[0-9][0-9\\-]{6,}[0-9]')) AS BIGINT)
         |    AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
         |    '\\+?[0-9][0-9\\-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
         |FROM p
         |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH ${OracleSql.qualityCtes("q", "documents")}
         |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, type_token_ratio,
         |  top_unigram_frac, dup_trigram_frac, reason, reason = 'ok' AS keep
         |FROM q_r
         |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  -- CAST: DuckDB sum(BIGINT) is HUGEINT, which reaches pandas as
         |  -- float64 — whether that hash-matches Spark's int64 depends on
         |  -- the comparer's float normalization (the round-5 driver-red /
         |  -- local-green split on exactly the window-sum queries). BIGINT
         |  -- makes both sides int64 under any DuckDB/pandas version.
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |  prev // 512 AS seq_start,
         |  (prev + n_tokens - 1) // 512 AS seq_end,
         |  prev % 512 AS offset
         |FROM c
         |ORDER BY doc_id""".stripMargin,
    // same committed fixture, DuckDB's reader: BOM + multiline quotes
    // must survive BOTH parsers identically
    "q_csv_roundtrip" ->
      s"""SELECT "คำพิพากษาศาลฎีกาที่" AS case_no,
         |  CAST(len(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(string_split(answers, ', ')) AS BIGINT) AS n_answers,
         |  CAST(trim(string_split(answers, ',')[1]) AS BIGINT) AS first_answer
         |FROM read_csv('$FixturesDir/thai_cases.csv', header=true)
         |ORDER BY case_no""".stripMargin,
    // independent JSONL reader over the same fixture; sentinel -1 for
    // absent optional fields on both sides (NULL would reach the
    // comparer as NaN-vs-None, an avoidable ambiguity)
    "q_jsonl_ingest" ->
      s"""SELECT id, lang,
         |  CAST(len(text) AS BIGINT) AS n_chars,
         |  meta.source AS src,
         |  coalesce(round(meta.quality, 6), -1.0) AS quality,
         |  CAST(coalesce(len(tags), -1) AS BIGINT) AS n_tags
         |FROM read_json('$FixturesDir/docs.jsonl', format='newline_delimited')
         |ORDER BY id""".stripMargin,
    // stage-1 diagnostic: selection cumsum with no effective budget
    // filter (defaultBudget = Long.MaxValue on the Spark side; every
    // row has cum_before < 2^63-1 since sf0.1 holds ~5e5 tokens)
    "q_budget_cumsum_diag" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents)
         |SELECT doc_id, lang AS stratum, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |FROM t WHERE n_tokens > 0
         |ORDER BY doc_id""".stripMargin,
    // stage-2 diagnostic: packing over a static literal selection
    "q_pack_static_diag" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id % 3 <> 1),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |  prev // 64 AS seq_start,
         |  (prev + n_tokens - 1) // 64 AS seq_end,
         |  prev % 64 AS offset
         |FROM c
         |ORDER BY doc_id""".stripMargin,
    // budget selection (q_token_budget's form) piped into the packing
    // cumsum (q_pack_sequences' form) — one SQL chain, same constants
    "pipeline_mix_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t WHERE n_tokens > 0),
         |sel AS (
         |  SELECT doc_id, n_tokens FROM w
         |  WHERE cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END),
         |c AS (
         |  -- CAST: see q_pack_sequences — HUGEINT window sums must not
         |  -- reach the compared output
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM sel)
         |SELECT doc_id, n_tokens,
         |  prev // 512 AS seq_start,
         |  (prev + n_tokens - 1) // 512 AS seq_end,
         |  prev % 512 AS offset
         |FROM c
         |ORDER BY doc_id""".stripMargin,
    "text_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS term FROM documents),
         |n AS (SELECT count(*) AS n FROM tok)
         |SELECT term, count(*) AS cnt
         |FROM tok, n
         |GROUP BY term, n.n
         |HAVING count(*) > 0.01 * n.n
         |ORDER BY cnt DESC, term""".stripMargin,
    "dedup_contaminate" ->
      s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
         |trh AS (
         |  SELECT train_id, ${h32Sql("sh")} AS h FROM (
         |    SELECT DISTINCT doc_id AS train_id, unnest(${ngramSql("t", 3)}) AS sh
         |    FROM tl WHERE doc_id % 5 <> 4)),
         |teh AS (
         |  SELECT test_id, ${h32Sql("sh")} AS h FROM (
         |    SELECT DISTINCT doc_id AS test_id, unnest(${ngramSql("t", 3)}) AS sh
         |    FROM tl WHERE doc_id % 5 = 4)),
         |trok AS (SELECT train_id, h FROM (
         |  SELECT train_id, h, count(*) OVER (PARTITION BY h) AS df FROM trh)
         |  WHERE df <= 10000),
         |tet AS (SELECT test_id, count(*) AS n_sh FROM teh GROUP BY test_id),
         |hits AS (
         |  SELECT test_id, train_id, count(*) AS n_shared
         |  FROM teh JOIN trok USING (h)
         |  GROUP BY test_id, train_id
         |  HAVING count(*) >= 3)
         |SELECT hits.test_id, hits.train_id, hits.n_shared,
         |  round(hits.n_shared::DOUBLE / tet.n_sh, 6) AS frac
         |FROM hits JOIN tet USING (test_id)
         |ORDER BY test_id, train_id""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $minhashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 <> 3),
         |sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM shh GROUP BY doc_id),
         |ex AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM documents b JOIN documents c ON sha256(b.text) = sha256(c.text)
         |  WHERE b.doc_id % 10 = 3 AND c.doc_id % 10 <> 3),
         |near AS (
         |  SELECT new_id, corpus_id,
         |    len(list_intersect(sa.s, sb.s))::DOUBLE /
         |      len(list_distinct(list_concat(sa.s, sb.s))) AS j
         |  FROM cand
         |  JOIN sets sa ON cand.new_id = sa.doc_id
         |  JOIN sets sb ON cand.corpus_id = sb.doc_id
         |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
         |      len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5)
         |SELECT new_id, corpus_id, CAST(1.0 AS DOUBLE) AS jaccard, 'exact' AS kind FROM ex
         |UNION ALL
         |SELECT n.new_id, n.corpus_id, round(n.j, 6) AS jaccard, 'near' AS kind
         |FROM near n
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ex WHERE ex.new_id = n.new_id AND ex.corpus_id = n.corpus_id)
         |ORDER BY new_id, corpus_id, kind""".stripMargin,
    // same fragments as dedup_incremental + the quality gate on the
    // batch side; near includes exact pairs but max(level) resolves
    // identically to the Spark side's anti-joined tiers
    "pipeline_curate_inc" ->
      s"""WITH $minhashBandsCte,
         |pb_src AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3),
         |${OracleSql.qualityCtes("icq", "pb_src")},
         |okids AS (SELECT doc_id FROM icq_r WHERE reason = 'ok'),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM bands a
         |  JOIN okids o ON a.doc_id = o.doc_id
         |  JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE b.doc_id % 10 <> 3),
         |sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM shh GROUP BY doc_id),
         |ex AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM documents b
         |  JOIN okids o ON b.doc_id = o.doc_id
         |  JOIN documents c ON sha256(b.text) = sha256(c.text)
         |  WHERE c.doc_id % 10 <> 3),
         |near AS (
         |  SELECT new_id, corpus_id
         |  FROM cand
         |  JOIN sets sa ON cand.new_id = sa.doc_id
         |  JOIN sets sb ON cand.corpus_id = sb.doc_id
         |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
         |      len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5),
         |lvl AS (
         |  SELECT new_id AS doc_id, max(l) AS lvl FROM (
         |    SELECT new_id, 2 AS l FROM ex
         |    UNION ALL SELECT new_id, 1 FROM near)
         |  GROUP BY 1)
         |SELECT b.doc_id,
         |  CASE WHEN r.reason <> 'ok' THEN r.reason
         |       WHEN l.lvl = 2 THEN 'exact_dup'
         |       WHEN l.lvl = 1 THEN 'near_dup'
         |       ELSE 'new' END AS verdict
         |FROM pb_src b
         |LEFT JOIN icq_r r USING (doc_id)
         |LEFT JOIN lvl l USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_top_terms" ->
      s"""SELECT term, count(*) AS cnt
         |FROM (SELECT unnest($toksSql) AS term FROM documents)
         |GROUP BY term
         |ORDER BY cnt DESC, term
         |LIMIT 20""".stripMargin,
    // single-source with stream_cms: both build paths must match the
    // same SQL replica (OracleSql.cmsFreqSql)
    "q_cms_freq" -> OracleSql.cmsFreqSql(CmsDepth, CmsWidth, CmsTopK),
    "text_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |s AS (SELECT doc_id, term, tf, df, tf::DOUBLE * ln(n.n / df::DOUBLE) AS raw
         |      FROM tf JOIN df USING (term), n),
         |r AS (SELECT doc_id, term, tf, df, raw,
         |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS BIGINT) AS r
         |      FROM s QUALIFY r <= 3)
         |SELECT doc_id, r, term, tf, df, round(raw, 6) AS tfidf
         |FROM r WHERE doc_id < 100
         |ORDER BY doc_id, r""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_concat([CAST(0 AS BIGINT)],
         |      list_transform(t, tok -> ${h32Sql("tok")})),
         |    (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
         |FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      s"""SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  CAST((strlen(text) + 63) // 64 AS BIGINT) AS n_frames,
         |  ${h32Sql("text")} AS checksum
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "v_embed_text" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(trim(lower(text)), ' '), x -> x <> ''))
         |    AS tok
         |  FROM documents WHERE doc_id < 20),
         |cnt AS (
         |  SELECT doc_id, CAST(${h32Sql("tok")} % 16 AS INT) AS b, count(*)::DOUBLE AS c
         |  FROM tok GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, sqrt(sum(c * c)) AS n FROM cnt GROUP BY doc_id),
         |dims AS (
         |  SELECT doc_id, unnest(generate_series(0, 15)) AS j
         |  FROM (SELECT DISTINCT doc_id FROM tok)),
         |vals AS (
         |  SELECT d.doc_id, d.j, coalesce(c.c, 0.0) AS v
         |  FROM dims d LEFT JOIN cnt c ON d.doc_id = c.doc_id AND d.j = c.b)
         |SELECT v.doc_id, CAST(v.j AS BIGINT) AS dim_idx,
         |  round(v.v / (CASE WHEN n.n = 0 THEN 1.0 ELSE n.n END), 6) AS val
         |FROM vals v JOIN nrm n ON v.doc_id = n.doc_id
         |ORDER BY v.doc_id, dim_idx""".stripMargin,
    "mm_frames" ->
      s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS frame_id,
         |  CAST(length(f) AS BIGINT) AS frame_len,
         |  ${h32Sql("f")} AS frame_checksum
         |FROM (
         |  SELECT doc_id, i, substr(text, (i - 1) * 64 + 1, 64) AS f
         |  FROM documents,
         |    LATERAL (SELECT unnest(generate_series(1,
         |      greatest(CAST((length(text) + 63) // 64 AS INT), 1))) AS i) g
         |  WHERE doc_id < 50)
         |WHERE length(f) > 0
         |ORDER BY doc_id, frame_id""".stripMargin,
    "mm_neardup" ->
      s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= $mmNdShingleN
         |    THEN ${ngramSql("t", mmNdShingleN)}
         |    ELSE [array_to_string(t, ' ')] END) AS g
         |  FROM tl WHERE len(t) > 0),
         |mh AS (
         |  SELECT doc_id, j,
         |    min((((2654435761 * (j + 1)) % 2147483647) * h + j) % 2147483647) AS m
         |  FROM (SELECT doc_id, ${h32Sql("g")} % 2147483647 AS h FROM grams),
         |       (SELECT unnest(generate_series(0, ${mmNdBits - 1})) AS j) s
         |  GROUP BY doc_id, j),
         |ph AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN m % 2 = 1
         |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
         |  FROM mh GROUP BY doc_id),
         |bk AS (SELECT doc_id, phash, phash // $mmNdBucketDiv AS bucket FROM ph)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.phash, b2.phash)) AS BIGINT) AS hamming
         |FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.phash, b2.phash)) <= $mmNdMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_correlation" ->
      """SELECT event_type,
        |  round(corr(value, k), 6) AS corr_vk,
        |  round(covar_samp(value, k), 4) AS covar_vk,
        |  count(*) AS n
        |FROM (SELECT event_type, value,
        |        TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_setops" ->
      """WITH hv AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
        |ur AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |s AS (
        |  SELECT 'union' AS set_op, o_custkey
        |  FROM (SELECT o_custkey FROM hv UNION SELECT o_custkey FROM ur)
        |  UNION ALL
        |  SELECT 'intersect', o_custkey
        |  FROM (SELECT o_custkey FROM hv INTERSECT SELECT o_custkey FROM ur)
        |  UNION ALL
        |  SELECT 'except', o_custkey
        |  FROM (SELECT o_custkey FROM hv EXCEPT SELECT o_custkey FROM ur))
        |SELECT set_op, count(*) AS n_customers, min(o_custkey) AS min_key,
        |  max(o_custkey) AS max_key
        |FROM s GROUP BY set_op
        |ORDER BY set_op""".stripMargin,
    "q_datemath" ->
      """WITH b AS (
        |  SELECT year(o_orderdate)::BIGINT AS yr, month(o_orderdate)::BIGINT AS mo,
        |    (dayofweek(o_orderdate) + 1)::BIGINT AS dow,
        |    date_diff('day', o_orderdate::DATE, DATE '2002-01-01')::BIGINT AS age_days,
        |    o_totalprice
        |  FROM orders)
        |SELECT yr, mo, count(*) AS n, min(dow) AS min_dow, max(age_days) AS max_age_days,
        |  round(sum(CASE WHEN o_totalprice >= 0 THEN sqrt(o_totalprice) END), 4) AS sum_sqrt_price,
        |  round(avg(pow(o_totalprice, 2) / 1e9), 4) AS avg_sq_price_b,
        |  round(sum(CASE WHEN o_totalprice > 0 THEN ln(o_totalprice) END), 4) AS sum_ln_price,
        |  round(max(abs(o_totalprice - 100000.0)), 2) AS max_abs_dev
        |FROM b GROUP BY yr, mo
        |ORDER BY yr, mo""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderpriority)
        |ORDER BY region, priority""".stripMargin,
    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(coalesce(lead(o_totalprice, 1) OVER w, 0.0), 2) AS next_price,
        |  round(coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WHERE o_custkey < 20
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT doc_id,
        |  upper(substr(text, 1, 12)) AS head_upper,
        |  reverse(substr(text, 1, 8)) AS head_rev,
        |  replace(substr(text, 1, 20), ' ', '_') AS head_snake,
        |  lpad(doc_id::VARCHAR, 6, '0') AS id_padded,
        |  CAST(strpos(text, 'data') AS BIGINT) AS data_pos,
        |  CAST(levenshtein(substr(text, 1, 10), 'the fast k') AS BIGINT) AS lev,
        |  CAST(length(trim(text)) AS BIGINT) AS trimmed_len,
        |  lang || '|' || source AS tag
        |FROM documents
        |WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin,
    "q_salted_agg" ->
      """SELECT user_id, round(sum(value), 2) AS sum_value, count(*) AS n
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type IN ('purchase', 'view')),
        |w AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
        |  FROM ev)
        |SELECT user_id, event_id, ts AS purchase_ts,
        |  make_timestamp(last_view_us) AS view_ts,
        |  epoch_us(ts) - last_view_us AS gap_us
        |FROM w
        |WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,
    "q_range_join" ->
      """WITH tiers(tier, lo, hi) AS (VALUES
        |  ('bronze', 0.0, 50.0), ('silver', 50.0, 120.0),
        |  ('gold', 120.0, 180.0), ('platinum', 180.0, 1e9))
        |SELECT tier, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
        |FROM events JOIN tiers ON value >= lo AND value < hi
        |GROUP BY tier
        |ORDER BY tier""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events
        |WHERE user_id < 50
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_geomean" ->
      """SELECT o_orderpriority,
        |  round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price,
        |  count(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    // the bloom prefilter is exact-by-construction (no false negatives
    // + confirm join), so the oracle is the PLAIN semi-join:
    "q_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the plain equi-join the salted plan must reproduce exactly
    "q_salted_join" ->
      s"""SELECT l_returnflag, count(*) AS n,
         |  round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "q_salted_join_left" ->
      s"""SELECT l_returnflag, (o_orderkey IS NOT NULL) AS matched,
         |  count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |LEFT JOIN (SELECT o_orderkey FROM orders
         |           WHERE o_orderpriority = '1-URGENT') o
         |  ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    // HLL estimates are engine-specific, so the oracle checks the exact
    // count plus the accuracy CONTRACT (within_bound, literal true —
    // red iff Spark's estimate ever exceeds 3x its configured rsd)
    "q_approx_distinct" ->
      s"""SELECT l_returnflag,
         |  count(DISTINCT l_partkey) AS exact_parts,
         |  count(*) AS n,
         |  true AS within_bound
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // q_kmv_distinct is the deterministic sketch that IS checkable:
    // both oracles interpolate the SAME KmvK the Scala queries register
    "q_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${h32Sql("user_id::VARCHAR")} AS h
         |  FROM events),
         |g AS (
         |  SELECT event_type, list_sort(list(h)) AS hs, count(*) AS nd
         |  FROM h GROUP BY event_type)
         |SELECT event_type, nd AS exact_distinct_hashes,
         |  round(CASE WHEN nd < $KmvK THEN nd::DOUBLE
         |    ELSE ${KmvK - 1}.0 * 4294967296.0 / hs[$KmvK] END, 4) AS kmv_estimate
         |FROM g
         |ORDER BY event_type""".stripMargin,
    // the production-shaped sketch-only variant (no exact companion):
    "q_kmv_sketch" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${h32Sql("user_id::VARCHAR")} AS h
         |  FROM events),
         |g AS (
         |  SELECT event_type,
         |    list_sort(list(h))[1:$KmvK] AS mins
         |  FROM h GROUP BY event_type)
         |SELECT event_type, CAST(len(mins) AS BIGINT) AS sketch_size,
         |  round(CASE WHEN len(mins) < $KmvK THEN len(mins)::DOUBLE
         |    ELSE ${KmvK - 1}.0 * 4294967296.0 / mins[$KmvK] END, 4) AS kmv_estimate
         |FROM g
         |ORDER BY event_type""".stripMargin,
    "q_zorder" ->
      s"""WITH e0 AS (
         |  SELECT user_id, TRY_CAST(floor(value) AS BIGINT) AS vb FROM events),
         |e AS (
         |  SELECT user_id, vb FROM e0
         |  WHERE user_id IS NOT NULL AND user_id >= 0 AND user_id < 4096
         |    AND vb IS NOT NULL AND vb >= 0 AND vb < 4096),
         |z AS (SELECT user_id, vb, ${zSql("user_id", "vb", 12)} AS zv FROM e)
         |SELECT zv >> 14 AS z_bucket, count(*) AS n,
         |  min(user_id) AS min_a, max(user_id) AS max_a,
         |  min(vb) AS min_b, max(vb) AS max_b
         |FROM z GROUP BY 1
         |ORDER BY z_bucket""".stripMargin,
    "q_sample_mix" ->
      s"""WITH s AS (
         |  SELECT lang, n_chars,
         |    ${h32Sql("doc_id::VARCHAR")} % 100 AS h,
         |    CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 30 ELSE 50 END AS rate
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN h % 10 < 8 THEN 'train' ELSE 'val' END AS split,
         |  count(*) AS n, round(avg(n_chars), 4) AS avg_chars
         |FROM s WHERE h < rate
         |GROUP BY 1, 2
         |ORDER BY lang, split""".stripMargin,
    "q_quota_sample" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h32Sql("doc_id::VARCHAR")}, doc_id) AS rk,
         |    CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 15 ELSE 25 END AS quota
         |  FROM documents)
         |SELECT doc_id, lang, rk FROM r
         |WHERE rk <= quota
         |ORDER BY lang, rk""".stripMargin,
    // naive single-window form of the sharded prefix sum (equal for any
    // shardWidth — the Spark side is property-tested against this shape)
    "q_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents),
         |w AS (
         |  -- CAST: see q_pack_sequences — sum(BIGINT) is HUGEINT in
         |  -- DuckDB; cum_before is a compared output column and must be
         |  -- int64 on both sides under any DuckDB/pandas version
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, lang AS stratum, n_tokens, cum_before
         |FROM w
         |WHERE cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END
         |ORDER BY doc_id""".stripMargin,
    // same exponent-smoothed rate arithmetic: weights rounded to 6 dp
    // BEFORE the total, so both engines sum identical doubles
    "q_temperature_mix" ->
      s"""WITH c0 AS (SELECT lang AS stratum, count(*) AS n FROM documents GROUP BY 1),
         |c AS (SELECT stratum, n, round(pow(n::DOUBLE, 0.5), 6) AS w FROM c0),
         |t AS (SELECT sum(w) AS wsum, CAST(sum(n) AS BIGINT) AS nsum FROM c),
         |r AS (
         |  SELECT stratum,
         |    least(100, greatest(0, CAST(round(
         |      100.0 * 0.2 * nsum::DOUBLE * (w / wsum) / n::DOUBLE, 0) AS BIGINT))) AS rate
         |  FROM c CROSS JOIN t)
         |SELECT d.doc_id, d.lang AS stratum, r.rate
         |FROM documents d JOIN r ON d.lang = r.stratum
         |WHERE ${h32Sql("d.doc_id::VARCHAR")} % 100 < r.rate
         |ORDER BY d.doc_id""".stripMargin,
    // Efraimidis–Spirakis keys: ln(u)/w with u = (h32(id)+1)/2^32 —
    // same double arithmetic as the Spark side. Zero/NULL-weight docs
    // are excluded exactly (zero inclusion probability — the engine's
    // registered contract), hence the w > 0 admission predicate.
    "q_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS w,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ln((h + 1) / 4294967296.0) / w DESC, doc_id) AS rk
         |  FROM t WHERE w > 0)
         |SELECT doc_id, lang AS stratum, rk FROM r
         |WHERE rk <= 12
         |ORDER BY stratum, rk""".stripMargin,
    "text_quality_adaptive" ->
      s"""WITH st AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    round(len(list_distinct(t))::DOUBLE / len(t), 6) AS type_token_ratio
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |thr AS (SELECT
         |    round(quantile_cont(n_tokens, 0.1), 6) AS tok_lo,
         |    round(quantile_cont(n_tokens, 0.9), 6) AS tok_hi,
         |    round(quantile_cont(type_token_ratio, 0.1), 6) AS ttr_lo
         |  FROM st)
         |SELECT doc_id, n_tokens, type_token_ratio, tok_lo, tok_hi, ttr_lo, reason,
         |  reason = 'ok' AS keep
         |FROM (
         |  SELECT st.*, thr.*,
         |    CASE WHEN n_tokens < tok_lo THEN 'short_tail'
         |         WHEN n_tokens > tok_hi THEN 'long_tail'
         |         WHEN type_token_ratio < ttr_lo THEN 'low_diversity'
         |         ELSE 'ok' END AS reason
         |  FROM st, thr)
         |ORDER BY doc_id""".stripMargin,
    "text_unigram_lm" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
         |tot AS (SELECT count(*)::DOUBLE AS total FROM tok)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  round(sum(CASE WHEN cf < 5 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6)
         |    AS oov_rate,
         |  round(sum(c::DOUBLE * -ln(greatest(cf, 5)::DOUBLE / tot.total))
         |    / sum(c)::DOUBLE, 6) AS mean_nll
         |FROM dt JOIN cf USING (term), tot
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    // same NLL CTEs as text_unigram_lm; quantile_cont ≡ Spark exact
    // percentile (the text_quality_adaptive parity), boundaries rounded
    // to 6 dp BEFORE the stage comparison
    "pipeline_curriculum" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
         |tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         |nll AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    round(sum(c::DOUBLE * -ln(greatest(cf, 5)::DOUBLE / tot.total))
         |      / sum(c)::DOUBLE, 6) AS mean_nll
         |  FROM dt JOIN cf USING (term), tot GROUP BY doc_id),
         |b AS (
         |  SELECT round(quantile_cont(mean_nll, 0.25), 6) AS b1,
         |    round(quantile_cont(mean_nll, 0.5), 6) AS b2,
         |    round(quantile_cont(mean_nll, 0.75), 6) AS b3
         |  FROM nll)
         |SELECT doc_id, n_tokens, mean_nll,
         |  CAST(CASE WHEN mean_nll <= b1 THEN 1 WHEN mean_nll <= b2 THEN 2
         |    WHEN mean_nll <= b3 THEN 3 ELSE 4 END AS BIGINT) AS stage
         |FROM nll, b ORDER BY doc_id""".stripMargin,
    "q_corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 11 <> 3),
        |n AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 13 <> 4)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h = n.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "sim_semdedup" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |prs AS (
         |  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE ${sqlCos("a.embedding", "b2.embedding")} >= 0.4),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |l0 AS (SELECT vec_id AS doc_id, vec_id AS label FROM embeddings),
         |l1 AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM l0
         |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l0 l ON e.dst = l.doc_id)
         |  GROUP BY doc_id),
         |l2 AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM l1
         |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l1 l ON e.dst = l.doc_id)
         |  GROUP BY doc_id),
         |l3 AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM l2
         |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l2 l ON e.dst = l.doc_id)
         |  GROUP BY doc_id)
         |SELECT doc_id AS id, label AS cluster_id, (label = doc_id) AS keep
         |FROM l3
         |ORDER BY id""".stripMargin,
    // mirrors semanticDedupVol: bits = bitLength(count div 256) clamped
    // to [4, 16] (integer `//` + bin-string length — the engine's exact
    // arithmetic), bucket = top-bits prefix of the 16-bit sign bucket,
    // hot-bucket guard included (count window over the bucket key),
    // then the shared 3-round label chain
    "sim_semdedup_vol" ->
      s"""WITH bt AS (
         |  SELECT least(16, greatest(4, length(bin(greatest(count(*) // 256, 1))))) AS bits
         |  FROM embeddings),
         |bkt AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", 16)} >> (16 - bits) AS bucket
         |  FROM embeddings, bt),
         |g AS (
         |  SELECT vec_id, embedding, bucket FROM (
         |    SELECT vec_id, embedding, bucket,
         |      count(*) OVER (PARTITION BY bucket) AS bsz FROM bkt)
         |  WHERE bsz <= ${Dedup.DefaultMaxBucketSize}),
         |prs AS (
         |  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
         |  FROM g a JOIN g b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE ${sqlCos("a.embedding", "b2.embedding")} >= 0.4),
         |ids AS (SELECT vec_id AS doc_id FROM embeddings),
         |${clusterLabelCtesFrom("ids")}
         |SELECT doc_id AS id, label AS cluster_id, (label = doc_id) AS keep
         |FROM l3
         |ORDER BY id""".stripMargin,
    "text_bm25" ->
      s"""WITH ${bm25Ctes(5)}
         |SELECT query_id, rank, doc_id, score
         |FROM bmr
         |ORDER BY query_id, rank""".stripMargin,
    "rag_hybrid" ->
      s"""WITH ${hybridCtes(5)}
         |SELECT query_id, rank, doc_id, rrf
         |FROM hyb
         |ORDER BY query_id, rank""".stripMargin,
    "rag_hybrid_mmr" -> oracleSqlRestMmrHybrid,
    // four retrieval paths -> label-match relevance -> per-(method,
    // query) nDCG fold (the eval_ndcg discipline: sequential
    // list_reduce, never float sum()) -> one mean row per method.
    // bmr/vr/hyb come from hybridCtes; the MMR path embeds the
    // rag_hybrid_mmr oracle whole as a subquery (its inner WITH
    // shadows the outer CTE names — same-name resolution is CTE-first)
    "eval_ndcg_paths" ->
      s"""WITH ${hybridCtes(8)},
         |mmr3 AS (
         |  SELECT query_id, sel_rank AS rank, point_id
         |  FROM (${oracleSqlRestMmrHybrid})),
         |allhits AS (
         |  SELECT 'knn' AS method, query_id, rank, doc_id AS point_id FROM vr WHERE rank <= 5
         |  UNION ALL SELECT 'bm25', query_id, rank, doc_id FROM bmr WHERE rank <= 5
         |  UNION ALL SELECT 'rrf', query_id, rank, doc_id FROM hyb WHERE rank <= 5
         |  UNION ALL SELECT 'hybrid_mmr', query_id, rank, point_id FROM mmr3),
         |rel AS (
         |  SELECT h.method, h.query_id, h.rank,
         |    CASE WHEN ql.label = pl.label THEN 1 ELSE 0 END AS rel
         |  FROM allhits h
         |  JOIN embeddings ql ON ql.vec_id = h.query_id
         |  JOIN embeddings pl ON pl.vec_id = h.point_id),
         |per AS (
         |  SELECT method, query_id,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    list_reduce(
         |      list_prepend(0.0::DOUBLE,
         |        list(rel::DOUBLE / log2((rank + 1)::DOUBLE) ORDER BY rank)),
         |      (a, b) -> a + b) AS dcg
         |  FROM rel GROUP BY method, query_id),
         |norm AS (
         |  SELECT method, query_id, n_rel, dcg,
         |    CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
         |      list_reduce(
         |        list_prepend(0.0::DOUBLE,
         |          list_transform(generate_series(1, n_rel),
         |            i -> 1.0::DOUBLE / log2((i + 1)::DOUBLE))),
         |        (a, b) -> a + b)
         |    END AS idcg
         |  FROM per)
         |SELECT method,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  round(avg(round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)), 6)
         |    AS mean_ndcg
         |FROM norm
         |GROUP BY method
         |ORDER BY method""".stripMargin,
    "v_knn_filtered" ->
      s"""SELECT q.vec_id AS query_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS BIGINT) AS rank,
         |  p.vec_id AS point_id,
         |  round(${sqlCos("q.embedding", "p.embedding")}, 6) AS score
         |FROM embeddings q, embeddings p
         |WHERE q.vec_id < 5 AND p.vec_id >= 10 AND p.label = 2
         |QUALIFY rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "text_bpe_pairs" ->
      s"""SELECT pair, count(*) AS cnt
         |FROM (
         |  SELECT unnest(${ngramSql("t", 2)}) AS pair
         |  FROM (SELECT $toksSql AS t FROM documents))
         |GROUP BY pair
         |ORDER BY cnt DESC, pair
         |LIMIT 20""".stripMargin,
    "v_dim_stats" ->
      """SELECT j::BIGINT AS dim,
        |  round(avg(x), 6) AS mean,
        |  round(stddev_samp(x), 6) AS std,
        |  round(min(x), 6) AS min_x,
        |  round(max(x), 6) AS max_x
        |FROM (
        |  SELECT j, embedding[j]::DOUBLE AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) g)
        |GROUP BY j
        |ORDER BY dim""".stripMargin,
    "v_recommend" ->
      s"""WITH ex AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |pm AS (
         |  SELECT j, round(avg(v[j]), 6) AS m
         |  FROM ex, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) g
         |  WHERE vec_id IN (0, 1, 2) GROUP BY j),
         |nm AS (
         |  SELECT j, round(avg(v[j]), 6) AS m
         |  FROM ex, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) g
         |  WHERE vec_id IN (3, 4) GROUP BY j),
         |qv AS (SELECT list(pm.m - nm.m ORDER BY pm.j) AS q
         |       FROM pm JOIN nm ON pm.j = nm.j)
         |SELECT p.vec_id AS point_id,
         |  round(${sqlCos("q.q", "p.embedding")}, 6) AS score
         |FROM embeddings p, qv q
         |WHERE p.vec_id NOT IN (0, 1, 2, 3, 4)
         |ORDER BY ${sqlCos("q.q", "p.embedding")} DESC, p.vec_id
         |LIMIT 5""".stripMargin,
    "v_search_groups" ->
      s"""WITH h AS (
         |  SELECT query_id, grp, point_id, score, hit_rank FROM (
         |    SELECT q.vec_id AS query_id, p.label AS grp, p.vec_id AS point_id,
         |      ${sqlCos("q.embedding", "p.embedding")} AS score,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id, p.label
         |        ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id)
         |        AS BIGINT) AS hit_rank
         |    FROM embeddings q, embeddings p
         |    WHERE q.vec_id < 5 AND p.vec_id >= 10) WHERE hit_rank <= 2),
         |g AS (
         |  SELECT query_id, grp,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, grp) AS BIGINT) AS group_rank
         |  FROM h WHERE hit_rank = 1
         |  QUALIFY group_rank <= 3)
         |SELECT h.query_id, g.group_rank, h.grp, h.hit_rank, h.point_id,
         |  round(h.score, 6) AS score
         |FROM h JOIN g ON h.query_id = g.query_id AND h.grp = g.grp
         |ORDER BY h.query_id, g.group_rank, h.hit_rank""".stripMargin,
    "q_payload_update" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |  CASE WHEN doc_id % 7 = 0 THEN 'patched' ELSE source END AS source,
        |  n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // delete = survive both selectors: NOT in the id batch AND NOT
    // matching the filter (a NULL predicate keeps the row — the
    // coalesce(…, false) selector semantics; n_chars is non-null here)
    "q_delete" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id % 9 <> 0 AND NOT coalesce(n_chars < 200, false)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "v_hard_negatives" ->
      s"""SELECT q.vec_id AS query_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id) AS BIGINT) AS rank,
         |  p.vec_id AS point_id,
         |  round(${sqlCos("q.embedding", "p.embedding")}, 6) AS score,
         |  p.label AS neg_label
         |FROM embeddings q, embeddings p
         |WHERE q.vec_id < 5 AND p.vec_id >= 10 AND p.label <> q.label
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "rag_mmr" -> mmrSelect,
    "sim_pq" -> pqSelect("adc"),
    "sim_pq_rerank" -> pqSelect("rerank"),
    "sim_ivfpq" -> pqSelect("ivfpq"),
    "q_leakfree_split" ->
      s"""$minhashPairsCte,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |l0 AS (SELECT doc_id, doc_id AS label FROM documents),
         |l1 AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM l0
         |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l0 l ON e.dst = l.doc_id)
         |  GROUP BY doc_id),
         |l2 AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM l1
         |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l1 l ON e.dst = l.doc_id)
         |  GROUP BY doc_id),
         |l3 AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM l2
         |  UNION ALL SELECT e.src AS doc_id, l.label FROM edges e JOIN l2 l ON e.dst = l.doc_id)
         |  GROUP BY doc_id)
         |SELECT doc_id, label AS cluster_id,
         |  CASE WHEN ${h32Sql("'split|' || label")} % 100 < 80
         |       THEN 'train' ELSE 'test' END AS split
         |FROM l3
         |ORDER BY doc_id""".stripMargin,
    "v_mean_pool" ->
      """SELECT CAST(vec_id // 8 AS BIGINT) AS group_id,
        |  CAST(j - 1 AS BIGINT) AS dim_idx,
        |  round(avg(embedding[j]::DOUBLE), 6) AS val
        |FROM embeddings,
        |  LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) g
        |GROUP BY 1, j
        |ORDER BY group_id, dim_idx""".stripMargin,
    "sim_prefix_rerank" -> prefixRerankSql,
    // the stored-index form is an execution-layout change only — same
    // semantics, same single-sourced oracle
    "sim_prefix_stored" -> prefixRerankSql,
    "sim_bq_rerank" -> bqRerankSql,
    "sim_bq_stored" -> bqRerankSql,
    // composed IVF+BQ: probe buckets (shared mpProbeCtes rule) ∩
    // Hamming shortlist (shared word packing) → exact rerank
    "sim_ivf_bq" -> ivfBqSql,
    "q_hist_quantiles" ->
      """WITH stats AS (
        |  SELECT o_orderpriority, min(o_totalprice::DOUBLE) AS lo,
        |    max(o_totalprice::DOUBLE) AS hi, count(*) AS n,
        |    (max(o_totalprice::DOUBLE) - min(o_totalprice::DOUBLE)) / 64 AS w
        |  FROM orders GROUP BY 1),
        |counts AS (
        |  SELECT o.o_orderpriority,
        |    CASE WHEN s.w > 0
        |      THEN least(floor((o.o_totalprice::DOUBLE - s.lo) / s.w), 63)::BIGINT
        |      ELSE 0 END AS b,
        |    count(*) AS c, min(s.lo) AS lo, min(s.w) AS w, min(s.n) AS n
        |  FROM orders o JOIN stats s USING (o_orderpriority)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, sum(c) OVER (PARTITION BY o_orderpriority ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
        |qq AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
        |hit AS (
        |  SELECT c.o_orderpriority, q.q, c.n, c.lo, c.w, c.b, c.c, c.cum,
        |    q.q * c.n AS r,
        |    row_number() OVER (PARTITION BY c.o_orderpriority, q.q ORDER BY c.b) AS rn
        |  FROM cum c CROSS JOIN qq q
        |  WHERE c.cum >= q.q * c.n)
        |SELECT o_orderpriority, q, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN w > 0 THEN lo + w * (b + (r - (cum - c)) / c)
        |    ELSE lo END, 6) AS est
        |FROM hit WHERE rn = 1
        |ORDER BY o_orderpriority, q""".stripMargin,
    "q_skew_diag" ->
      """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_cnt, avg(c) AS mean_raw,
        |  round(quantile_cont(c, 0.5), 6) AS p50_cnt,
        |  round(quantile_cont(c, 0.99), 6) AS p99_cnt FROM c),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS top10 FROM (
        |  SELECT c, user_id FROM c ORDER BY c DESC, user_id LIMIT 10))
        |SELECT n_rows, n_keys, max_cnt, round(mean_raw, 6) AS mean_cnt,
        |  p50_cnt, p99_cnt,
        |  round(max_cnt / mean_raw, 6) AS max_over_mean,
        |  round(max_cnt::DOUBLE / n_rows, 6) AS top1_share,
        |  round(t.top10::DOUBLE / n_rows, 6) AS top10_share
        |FROM s, t""".stripMargin,
    "q_chunk_overlap" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id < 100),
         |w AS (
         |  SELECT doc_id, t, len(t) AS n,
         |    CASE WHEN len(t) <= 40 THEN 1
         |      ELSE ceil((len(t) - 40)::DOUBLE / 30)::BIGINT + 1 END AS nw
         |  FROM t),
         |wins AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS win_index,
         |    CAST((i - 1) * 30 AS BIGINT) AS win_start,
         |    t[(i - 1) * 30 + 1 : (i - 1) * 30 + 40] AS win
         |  FROM w, LATERAL (SELECT unnest(generate_series(1, nw)) AS i) g)
         |SELECT doc_id, win_index, win_start,
         |  CAST(len(win) AS BIGINT) AS n_tokens,
         |  ${h32Sql("array_to_string(win, ' ')")} AS chunk_checksum
         |FROM wins
         |WHERE len(win) > 0
         |ORDER BY doc_id, win_index""".stripMargin,
    "q_length_batches" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM (
         |    SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |b AS (
         |  SELECT doc_id, n, CAST(length(bin(n)) AS BIGINT) AS len_bucket,
         |    row_number() OVER (PARTITION BY length(bin(n))
         |      ORDER BY n, doc_id) AS rn
         |  FROM t)
         |SELECT len_bucket, CAST((rn - 1) // 32 AS BIGINT) AS batch_idx,
         |  count(*) AS n_docs,
         |  CAST(max(n) AS BIGINT) AS max_tokens,
         |  CAST(sum(n) AS BIGINT) AS sum_tokens,
         |  round(1.0 - sum(n)::DOUBLE / (count(*) * max(n)), 6) AS pad_frac
         |FROM b
         |GROUP BY len_bucket, (rn - 1) // 32
         |ORDER BY len_bucket, batch_idx""".stripMargin,
    "v_drift" -> OracleSql.dimDriftSql,
    "dedup_spans" ->
      s"""WITH ${dupSpanCtes(spanN)}
         |SELECT doc_id, n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(p2 - p1 + $spanN) AS BIGINT) AS dup_tokens,
         |  round(sum(p2 - p1 + $spanN)::DOUBLE / n_tokens, 6) AS dup_frac
         |FROM sp GROUP BY doc_id, n_tokens
         |ORDER BY doc_id""".stripMargin,
    // incremental == full restricted to the batch (disjoint id sets:
    // corpus df + batch df = combined df) — same CTE chain, one WHERE
    "dedup_spans_inc" ->
      s"""WITH ${dupSpanCtes(spanN)}
         |SELECT doc_id, n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(p2 - p1 + $spanN) AS BIGINT) AS dup_tokens,
         |  round(sum(p2 - p1 + $spanN)::DOUBLE / n_tokens, 6) AS dup_frac
         |FROM sp WHERE doc_id % 10 = 3
         |GROUP BY doc_id, n_tokens
         |ORDER BY doc_id""".stripMargin,
    "dedup_spans_cut" ->
      s"""WITH ${dupSpanCtes(spanN)},
         |tpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
         |         FROM tl, unnest(generate_series(1, len(t))) AS s(i)),
         |keep AS (SELECT tp.doc_id, tp.p, tp.tok FROM tpos tp
         |         WHERE NOT EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = tp.doc_id
         |             AND tp.p BETWEEN sp.p1 AND sp.p2 + ${spanN - 1})),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY p) AS clean_text
         |        FROM keep GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM tl d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_spans_keep" ->
      s"""WITH ${dupSpanCtes(spanN)},
         |spt AS (SELECT sp.doc_id, sp.p1, sp.p2,
         |          ${h32Sql(s"array_to_string(t[p1 + 1 : p2 + $spanN], ' ')")} AS sid
         |        FROM sp JOIN tl USING (doc_id)),
         |cuts AS (SELECT doc_id, p1, p2 FROM (
         |          SELECT doc_id, p1, p2,
         |            row_number() OVER (PARTITION BY sid ORDER BY doc_id, p1) AS rk
         |          FROM spt) WHERE rk > 1),
         |tpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
         |         FROM tl, unnest(generate_series(1, len(t))) AS s(i)),
         |keep AS (SELECT tp.doc_id, tp.p, tp.tok FROM tpos tp
         |         WHERE NOT EXISTS (SELECT 1 FROM cuts c
         |           WHERE c.doc_id = tp.doc_id
         |             AND tp.p BETWEEN c.p1 AND c.p2 + ${spanN - 1})),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY p) AS clean_text
         |        FROM keep GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM tl d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "text_ngram_coverage" ->
      s"""WITH tl AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |cand AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(${ngramSql("t", 3)}) AS g
         |    FROM tl WHERE doc_id % 10 = 0)),
         |corp AS (
         |  SELECT DISTINCT g FROM (
         |    SELECT unnest(${ngramSql("t", 3)}) AS g
         |    FROM tl WHERE doc_id % 10 <> 0))
         |SELECT c.doc_id,
         |  count(*) AS n_grams,
         |  CAST(sum(CASE WHEN k.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
         |  round(sum(CASE WHEN k.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |    AS seen_frac
         |FROM cand c LEFT JOIN corp k USING (g)
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    // the per-source card and its profile-backed layout variant share
    // one semantics — one SQL, single-sourced in OracleSql
    "pipeline_source_cards" -> OracleSql.sourceCardsSql,
    "pipeline_source_cards_inc" -> OracleSql.sourceCardsSql,
    "text_contamination_matrix" ->
      s"""WITH tl AS (SELECT doc_id, source AS src, $toksSql AS t FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, src, g
         |  FROM (SELECT doc_id, src, unnest(${OracleSql.ngramSql("t", 3)}) AS g FROM tl)),
         |c AS (SELECT DISTINCT src AS osrc, g FROM g),
         |h AS (
         |  SELECT g.src, c.osrc, count(DISTINCT g.doc_id) AS n_contaminated
         |  FROM g JOIN c ON g.g = c.g AND c.osrc <> g.src
         |  GROUP BY 1, 2),
         |t AS (SELECT source AS src, count(*) AS n_docs FROM documents GROUP BY 1),
         |p AS (SELECT a.src, b.src AS osrc FROM t a CROSS JOIN t b WHERE a.src <> b.src)
         |SELECT p.src AS src_a, p.osrc AS src_b, CAST(t.n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  round(coalesce(h.n_contaminated, 0)::DOUBLE / t.n_docs, 6) AS frac
         |FROM p JOIN t USING (src)
         |LEFT JOIN h ON h.src = p.src AND h.osrc = p.osrc
         |ORDER BY src_a, src_b""".stripMargin,
    "text_bpe_train" -> bpeTrainSql(4),
    "text_bpe_apply" -> bpeApplySql(4),
    "text_bpe_fertility" -> bpeFertilitySql(4),
    // the data card and its layout variants share one semantics — one
    // SQL, single-sourced in OracleSql (stream_data_card is the third)
    "pipeline_data_card" -> OracleSql.dataCardSql,
    "pipeline_data_card_inc" -> OracleSql.dataCardSql
  )
}
