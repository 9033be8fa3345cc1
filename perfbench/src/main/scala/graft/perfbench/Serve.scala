package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{ContextAssembly, Knn, Store, VectorOps}

/** `serve`: the vector database online. One closed-loop client over a
  * chunk-vector store built at set-up, partitioned by doc bucket. Nine
  * steps in ten are reads (question → embed → k-NN over the store →
  * budgeted context), the tenth upserts a batch of documents, half
  * re-ingested with edited text and half new.
  */
final class Serve(c: Ctx) extends Workload(c) {
  import Serve._

  private val docsPath = new File(dir, "docs").getPath
  private val storePath = new File(dir, "store").getPath
  private val base = Gen.corpus(c.seed, c.sizes.docs)

  private def bucketed(points: DataFrame): DataFrame =
    points.withColumn("bucket", pmod(col("doc_id"), lit(Buckets)))

  private def read(p: Probe, question: String): (Seq[(Long, Double)], Long) = p.op("read") {
    val q = spark.createDataFrame(Seq((0L, question))).toDF("qid", "text")
    val qv = p.layer("vectorops")(p.materialize(
      VectorOps.embedTextDistributed(q, Seq("qid"), "text", Oracle.Dim)))
    p.count("vectorops.rows_out", qv.count().toDouble)
    val hits = p.layer("knn")(p.materialize(Knn.knnJoin(qv, spark.read.parquet(storePath),
      "qid", "embedding", "chunk_id", "embedding", K, metric = "dot")))
    val ctx = p.layer("context")(p.materialize(ContextAssembly.budgetedContext(
      hits, "query_id", "rank", "chunk_text", col("doc_id"), col("chunk_index"), CtxChars)))
    val ranked = hits.groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rank"), col("chunk_id"), col("score")))).as("hits"))
    val rows = ctx.join(ranked, "query_id").select("context_text_chars", "hits").collect()
    require(rows.length == 1, s"read returned ${rows.length} rows")
    (rows(0).getSeq[Row](1).map(r => (r.getLong(1), r.getDouble(2))), rows(0).getLong(0))
  }

  private def write(p: Probe, batch: Seq[Gen.Doc]): Unit = p.op("write") {
    val points = bucketed(Chain.points(p, spark.createDataFrame(batch)))
    p.layer("store")(Store.upsertPartitioned(spark, storePath, points, "doc_id", "bucket"))
  }

  private def build(): Unit = {
    spark.createDataFrame(base).coalesce(1).write.parquet(docsPath)
    bucketed(Chain.points(Probe.Off, spark.read.parquet(docsPath)))
      .write.partitionBy("bucket").parquet(storePath)
  }

  /** A read, and a write that re-ingests docs unchanged. */
  private def warmUp(): Unit = {
    read(Probe.Off, new Script(c.seed + 1, base, c.sizes.writeDocs).question())
    write(Probe.Off, base.take(c.sizes.writeDocs))
  }

  /** One step against the store, checked against `mirror`, timed into `latencies`. */
  private def step(p: Probe, s: Step, mirror: Mirror, latencies: Latencies): Unit = s match {
    case Read(question) =>
      val t = System.nanoTime()
      var ms = Double.MaxValue // a failed read misses any latency limit
      ledger.attempt("read") {
        val (hits, chars) = read(p, question)
        val elapsed = (System.nanoTime() - t) / 1e6
        require(chars <= CtxChars, s"context of $chars chars over the $CtxChars budget")
        require(Oracle.isTopK(hits, Oracle.embed(question).get, mirror.points, K),
          s"hits $hits are not the exact top-$K")
        p.count("knn.pairs_scored", mirror.points.size.toDouble)
        p.count("knn.hits", hits.size.toDouble)
        ms = elapsed
      }
      latencies.reads += ms
      endOp()
    case Write(batch) =>
      val t = System.nanoTime()
      ledger.attempt("write")(write(p, batch))
      latencies.writes += (System.nanoTime() - t) / 1e6
      mirror.put(batch)
      val touched = batch.map(d => Math.floorMod(d.doc_id, Buckets.toLong)).toSet
      p.count("store.partitions_rewritten", touched.size.toDouble)
      p.count("store.bytes_written", touched.toSeq
        .flatMap(b => Files.dataFiles(new File(storePath, s"bucket=$b"))).map(_.length).sum.toDouble)
      p.count("store.rows_written", mirror.chunksIn(touched).toDouble)
      p.count("store.batch_rows", batch.map(d => Oracle.chunks(d.text).size).sum.toDouble)
      endOp()
  }

  /** After the run: no duplicate chunk id, and every doc holds exactly
    * the chunks of its latest text.
    */
  private def checkStore(mirror: Mirror): Unit = {
    val rows = spark.read.parquet(storePath)
      .select("chunk_id", "doc_id", "chunk_index", "chunk_text").collect()
    ledger.check("store holds no duplicate chunk_id")(
      rows.map(_.getLong(0)).distinct.length == rows.length)
    val got = rows.groupBy(_.getLong(1)).view
      .mapValues(_.map(r => (r.getLong(2), r.getString(3))).sortBy(_._1).toSeq).toMap
    ledger.check("every doc holds exactly the chunks of its latest text")(
      got == mirror.expected)
  }

  override def run(): Outcome = {
    val setupS = setup(build())(warmUp())
    val mirror = new Mirror(base)
    val script = new Script(c.seed, base, c.sizes.writeDocs)
    val lat = new Latencies
    if (!c.trace) {
      val t0 = System.nanoTime()
      loop(minSteps = 2)(i => step(Probe.Off, script.step(i), mirror, lat))
      val wall = (System.nanoTime() - t0) / 1e9
      checkStore(mirror)
      val reads = lat.reads.toSeq
      // requests per second of the 9:1 read/write mix, from the mean latencies
      val mixMs = (WriteEvery - 1.0) / WriteEvery * (reads.sum / reads.size) +
        1.0 / WriteEvery * (lat.writes.sum / lat.writes.size)
      endToEnd(setupS, reads, 1e3 / mixMs,
        Seq(
          Metric("read_p50_ms", Stats.median(reads), "ms"),
          Metric("read_p95_ms", Stats.quantile(reads, 0.95), "ms"),
          Metric("write_p50_ms", Stats.median(lat.writes.toSeq), "ms"),
          Metric("reads", reads.size, "count"),
          Metric("writes", lat.writes.size, "count"),
          Metric("loop_s", wall, "s")))
    } else {
      // a fixed script, run untraced and then traced: writes re-ingest the
      // same batches, so both runs end on the same store content
      val steps = (0 until math.max(WriteEvery, c.seconds.toInt)).map(script.step)
      val (tr, overhead, _) = traced(steps.foreach(s => step(Probe.Off, s, mirror, lat)))(
        p => steps.foreach(s => step(p, s, mirror, lat)))
      checkStore(mirror)
      layerOutcome(tr, overhead, Seq(
        "knn.pairs_per_hit" -> ratio(tr.counter("knn.pairs_scored"), tr.counter("knn.hits")),
        "store.write_amp" -> ratio(tr.counter("store.rows_written"), tr.counter("store.batch_rows")),
        "store.files" -> Files.dataFiles(new File(storePath)).size.toDouble),
        Seq(Metric("steps", steps.size, "count")))
    }
  }
}

object Serve {
  val Buckets = 32
  val K = 5
  val CtxChars = 400
  val WriteEvery = 10

  sealed trait Step
  final case class Read(question: String) extends Step
  final case class Write(batch: Seq[Gen.Doc]) extends Step

  final class Latencies {
    val reads = mutable.ArrayBuffer.empty[Double]
    val writes = mutable.ArrayBuffer.empty[Double]
  }

  /** The seeded request stream: steps 0, `WriteEvery`, ... write
    * `batchSize` docs (half re-ingested with three words edited, half
    * new), the others read a 5–20 word question. Every run so has a write.
    */
  final class Script(seed: Long, base: IndexedSeq[Gen.Doc], batchSize: Int) {
    private val rng = new Random(seed)
    private val known = mutable.ArrayBuffer.empty[Gen.Doc] ++= base
    private var nextId = base.size.toLong

    def question(): String = Gen.words(rng, 5, 20)

    // a doc whose text yields no chunk would keep its old chunks on upsert
    private def chunkable(text: => String): String =
      Iterator.continually(text).find(t => Oracle.chunks(t).nonEmpty).get

    def batch(): Seq[Gen.Doc] = {
      val picks = mutable.LinkedHashSet.empty[Int]
      while (picks.size < batchSize / 2) picks += rng.nextInt(known.size)
      val edited = picks.toSeq.map { i =>
        val d = known(i)
        val e = Gen.doc(d.doc_id, chunkable(Gen.edit(rng, d.text, 3)), d.lang)
        known(i) = e
        e
      }
      val fresh = (picks.size until batchSize).map { _ =>
        val d = Gen.doc(nextId, chunkable(Gen.words(rng, 10, 100)), Gen.lang(rng))
        nextId += 1
        known += d
        d
      }
      edited ++ fresh
    }

    def step(i: Int): Step =
      if (i % WriteEvery == 0) Write(batch()) else Read(question())
  }

  /** The store content the engine should hold, kept outside Spark. */
  final class Mirror(base: Seq[Gen.Doc]) {
    val points = mutable.Map.empty[Long, Array[Double]]
    private val chunksOf = mutable.Map.empty[Long, IndexedSeq[(Long, String)]]

    def put(docs: Seq[Gen.Doc]): Unit = docs.foreach { d =>
      chunksOf.get(d.doc_id).foreach(_.foreach { case (i, _) => points.remove(Oracle.chunkId(d.doc_id, i)) })
      val cs = Oracle.chunks(d.text)
      chunksOf(d.doc_id) = cs
      cs.foreach { case (i, t) => points(Oracle.chunkId(d.doc_id, i)) = Oracle.embed(t).get }
    }

    put(base)

    def expected: Map[Long, Seq[(Long, String)]] =
      chunksOf.iterator.filter(_._2.nonEmpty).map { case (d, cs) => d -> cs.toSeq }.toMap

    def chunksIn(buckets: Set[Long]): Int =
      chunksOf.iterator.collect { case (d, cs) if buckets(Math.floorMod(d, Buckets.toLong)) => cs.size }.sum
  }
}
