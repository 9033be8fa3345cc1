package graft.perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.{ContextAssembly, Eval, Knn, VectorOps}

/** `rag_batch`: the reference's end-to-end batch. Each pass chunks and
  * embeds the whole corpus, embeds a few hundred seeded questions (each a
  * 70% word sample of one corpus doc), runs exact k-NN, assembles the
  * budgeted contexts and scores self-retrieval with Recall@5 / MRR@5:
  * the gold answer is the question's source `doc_id`, the prediction the
  * ranked hit `doc_id`s.
  */
final class RagBatch(c: Ctx) extends Workload(c) {
  import RagBatch._

  private val docsPath = new File(dir, "docs").getPath
  private val queriesPath = new File(dir, "queries").getPath
  private val warmPath = new File(dir, "warm_queries").getPath
  private val corpus = Gen.corpus(c.seed, c.sizes.docs)
  private val queries: IndexedSeq[Query] = {
    val rng = new Random(c.seed + 2)
    val ids = rng.shuffle(corpus.indices.toVector).take(c.sizes.queries)
    ids.map(i => Query(i.toLong, Gen.sample(rng, corpus(i).text, 0.7), i.toString))
  }

  /** Per-query (recall, mrr) of exact search, from [[Oracle]]. */
  private val expected: Map[Long, (Double, Double)] = {
    val points = corpus.flatMap(d => Oracle.chunks(d.text).map { case (i, t) =>
      Oracle.chunkId(d.doc_id, i) -> Oracle.embed(t).get })
    queries.map { q =>
      val docs = Oracle.embed(q.text).map(v => Oracle.topK(v, points, K).map(_._1 / 1000))
        .getOrElse(IndexedSeq.empty)
      val r = docs.indexOf(q.qid)
      q.qid -> (if (r < 0) (0.0, 0.0) else (1.0, 1.0 / (r + 1)))
    }.toMap
  }

  private def pass(p: Probe, qPath: String): Pass = p.op("pass") {
    val points = Chain.points(p, spark.read.parquet(docsPath))
    val qs = spark.read.parquet(qPath)
    val qv = p.layer("vectorops")(p.materialize(
      VectorOps.embedTextDistributed(qs, Seq("qid"), "text", Oracle.Dim)))
    p.count("vectorops.rows_out", qv.count().toDouble)
    val hits = p.layer("knn")(p.materialize(Knn.knnJoin(qv, points,
      "qid", "embedding", "chunk_id", "embedding", K, metric = "dot")))
    val ctx = p.layer("context")(p.materialize(ContextAssembly.budgetedContext(
      hits, "query_id", "rank", "chunk_text", col("doc_id"), col("chunk_index"), CtxChars)))
    val scored = p.layer("eval") {
      val predicted = hits.groupBy(col("query_id")).agg(array_join(
        transform(sort_array(collect_list(struct(col("rank"), col("doc_id")))),
          h => h.getField("doc_id").cast("string")), " ").as("predicted"))
      val gold = qs.select(col("qid").as("query_id"), col("answers"))
      p.materialize(Eval.withMetrics(
        gold.join(predicted, Seq("query_id"), "left").join(ctx, Seq("query_id"), "left"),
        "answers", "predicted", K)).persist()
    }
    val rows = scored.select("query_id", "recall_at_k", "mrr_at_k", "context_text_chars").collect()
    val avg = p.layer("eval")(Eval.macroAverages(scored).collect())(0)
    scored.unpersist(blocking = true)
    p.count("knn.pairs_scored", queries.size.toDouble * points.count())
    p.count("knn.hits", rows.length.toDouble * K)
    Pass(rows.map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap,
      rows.map(r => if (r.isNullAt(3)) 0L else r.getLong(3)).maxOption.getOrElse(0L),
      round(avg.getDouble(0)), round(avg.getDouble(1)))
  }

  private def writeQueries(qs: Seq[Query], path: String): Unit =
    spark.createDataFrame(qs).coalesce(1).write.parquet(path)

  private def build(): Unit = {
    spark.createDataFrame(corpus).coalesce(1).write.parquet(docsPath)
    writeQueries(queries, queriesPath)
    writeQueries(queries.take(WarmQueries), warmPath)
  }

  private val expectedRecall = round(queries.map(q => expected(q.qid)._1).sum / queries.size)
  private val expectedMrr = round(queries.map(q => expected(q.qid)._2).sum / queries.size)

  /** One checked pass; returns its seconds, or None when it failed. */
  private def checkedPass(p: Probe): Option[Double] = {
    val t = System.nanoTime()
    val out = ledger.attempt("pass") {
      val r = pass(p, queriesPath)
      require(r.perQuery.size == queries.size, s"${r.perQuery.size} of ${queries.size} queries answered")
      require(r.maxContextChars <= CtxChars, s"a context of ${r.maxContextChars} chars")
      require(r.perQuery == expected, "per-query Recall/MRR differ from exact search")
      require(r.recall == expectedRecall && r.mrr == expectedMrr,
        s"macro Recall/MRR ${r.recall}/${r.mrr}, exact search gives $expectedRecall/$expectedMrr")
    }
    val s = (System.nanoTime() - t) / 1e9
    endOp()
    out.map(_ => s)
  }

  override def run(): Outcome = {
    val setupS = setup(build())(pass(Probe.Off, warmPath): Unit)
    val named = Seq(Metric("recall_at_5", expectedRecall, "ratio"),
      Metric("mrr_at_5", expectedMrr, "ratio"), Metric("queries", queries.size, "count"))
    if (!c.trace) {
      val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
      loop(minSteps = 1)(_ => passes += checkedPass(Probe.Off).getOrElse(Double.MaxValue))
      val perS = queries.size * passes.size / passes.sum
      endToEnd(setupS, passes.toSeq.map(_ * 1e3), perS,
        named ++ Seq(Metric("rag_queries_per_s", queries.size / Stats.median(passes.toSeq), "1/s"),
          Metric("passes", passes.size, "count")))
    } else {
      val (tr, overhead, _) = traced(checkedPass(Probe.Off): Unit)(checkedPass)
      layerOutcome(tr, overhead,
        Seq("knn.pairs_per_hit" -> ratio(tr.counter("knn.pairs_scored"), tr.counter("knn.hits"))),
        named)
    }
  }
}

object RagBatch {
  val K = 5
  val CtxChars = 400
  val WarmQueries = 16

  final case class Query(qid: Long, text: String, answers: String)

  final case class Pass(perQuery: Map[Long, (Double, Double)], maxContextChars: Long,
      recall: Double, mrr: Double)

  /** Macro averages to 12 decimals: the engine's `avg` may add in any order. */
  def round(x: Double): Double = math.rint(x * 1e12) / 1e12
}
