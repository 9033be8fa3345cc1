package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{Chunker, VectorOps}

/** Input sizes. `Sizes.Sf01` is what the benchmark runs; the smoke
  * test runs the same workloads on tiny sizes.
  */
final case class Sizes(docs: Int, queries: Int, writeDocs: Int, builds: Int)

object Sizes {
  /** 5000 documents, the row count of the harness sf0.1 `documents` table. */
  val Sf01: Sizes = Sizes(docs = 5000, queries = 100, writeDocs = 20, builds = 3)
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    work: File, sizes: Sizes)

final case class Metric(name: String, value: Double, unit: String)

/** One run's result: the end-to-end metrics (untraced run) or the
  * per-layer metrics (traced run), the workload's own named metrics,
  * the ledger, and the spans of the traced run.
  */
final case class Outcome(metrics: Seq[Metric], named: Seq[Metric], ledger: Ledger,
    spans: Seq[String])

object Runner {
  val Layers: Seq[String] = Seq("chunker", "vectorops", "knn", "context", "eval", "store",
    "clean", "textanalysis", "dedup", "curation")

  private val LayerStats = Seq("calls" -> "count", "self_ms" -> "ms", "plan_ms" -> "ms",
    "cpu_ms" -> "ms", "jobs" -> "count", "tasks" -> "count", "shuffle_bytes" -> "B",
    "spill_bytes" -> "B")

  /** The per-layer metrics every traced run reports, with units. */
  val PerLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerStats.map { case (s, u) => s"$l.$s" -> u }) ++ Seq(
      "knn.pairs_scored" -> "count", "knn.pairs_per_hit" -> "ratio",
      "vectorops.rows_out" -> "count",
      "store.bytes_written" -> "B", "store.write_amp" -> "ratio", "store.files" -> "count",
      "store.partitions_rewritten" -> "count",
      "dedup.candidate_pairs" -> "count", "dedup.pair_yield" -> "ratio",
      "checkpoint.blocks_live" -> "count", "checkpoint.block_mb" -> "MB",
      "jvm.gc_ms" -> "ms", "trace.overhead_s" -> "s")

  /** The end-to-end metrics every untraced run reports, with units. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s")

  val Workloads: Map[String, Ctx => Workload] = Map(
    "serve" -> (new Serve(_)),
    "rag_batch" -> (new RagBatch(_)),
    "curate" -> (new Curate(_)))

  def run(workload: String, c: Ctx): Outcome = {
    val w = Workloads(workload)(c)
    try w.run() finally w.cleanup()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** The chunk → embed step both the store build and the batch chain use:
  * `Chunker.chunk` on the `" the "` separator (the word-soup corpus has
  * no paragraph breaks), then `VectorOps.embedTextDistributed`. Output:
  * `chunk_id, embedding, doc_id, chunk_index, chunk_text`.
  */
object Chain {
  def points(p: Probe, docs: DataFrame): DataFrame = {
    val chunks = p.layer("chunker")(p.materialize(
      Chunker.chunk(docs, Seq("doc_id"), separator = Oracle.Separator, minLen = Oracle.MinLen)
        .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index"))))
    val vecs = p.layer("vectorops")(p.materialize(
      VectorOps.embedTextDistributed(chunks, Seq("chunk_id"), "chunk_text", Oracle.Dim)))
    p.count("vectorops.rows_out", vecs.count().toDouble)
    vecs.join(chunks, "chunk_id")
  }
}

/** What the three workloads share: the set-up median, the measuring
  * loop, block accounting per operation, and the traced-run protocol.
  */
abstract class Workload(val c: Ctx) {
  protected val spark: SparkSession = c.spark
  protected val ledger = new Ledger
  protected val dir = new File(c.work, getClass.getSimpleName.toLowerCase)
  private var held = Blocks.Held(0L, 0.0)

  def run(): Outcome

  /** Frees blocks and deletes the workload's files, so no run inherits them. */
  def cleanup(): Unit = {
    Blocks.free(spark)
    Files.delete(dir)
  }

  /** Records the blocks an operation left behind (the most seen), then frees them. */
  protected def endOp(): Unit = {
    val h = Blocks.held(spark)
    held = Blocks.Held(math.max(h.blocks, held.blocks), math.max(h.mb, held.mb))
    Blocks.free(spark)
  }

  protected def seconds(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Set-up time: the median of `c.sizes.builds` builds of the inputs,
    * each from nothing, plus one warm-up operation on the last build.
    */
  protected def setup(build: => Unit)(warmUp: => Unit): Double = {
    val builds = (1 to c.sizes.builds).map { i =>
      Files.delete(dir)
      val s = seconds(build)
      System.err.println(f"[perfbench] build $i: $s%.2f s")
      s
    }
    val w = seconds(warmUp)
    endOp()
    System.err.println(f"[perfbench] warm-up: $w%.2f s")
    Stats.median(builds) + w
  }

  /** Calls `step(i)` for i = 0, 1, ... until `c.seconds` have passed and
    * at least `minSteps` steps ran.
    */
  protected def loop(minSteps: Int)(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minSteps || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val t = System.nanoTime()
      step(i)
      System.err.println(f"[perfbench] step $i: ${(System.nanoTime() - t) / 1e9}%.3f s")
      i += 1
    }
  }

  /** The traced-run protocol: `plain` untraced, then `script` traced.
    * Returns the closed tracer, the difference of the two totals in
    * seconds, and the script's result.
    */
  protected def traced[T](plain: => Unit)(script: Probe => T): (Tracer, Double, T) = {
    val plainS = seconds(plain)
    val tr = new Tracer(spark)
    val gc0 = Runner.gcMs()
    val t = System.nanoTime()
    val r = try script(tr) finally tr.close()
    val tracedS = (System.nanoTime() - t) / 1e9
    tr.count("jvm.gc_ms", (Runner.gcMs() - gc0).toDouble)
    (tr, tracedS - plainS, r)
  }

  /** The per-layer metrics of a traced run, with the counters every workload shares. */
  protected def layerOutcome(tr: Tracer, overheadS: Double, extra: Seq[(String, Double)],
      named: Seq[Metric]): Outcome = {
    val all = (tr.layerMetrics(Runner.Layers) ++ extra ++ Seq(
      "checkpoint.blocks_live" -> held.blocks.toDouble, "checkpoint.block_mb" -> held.mb,
      "trace.overhead_s" -> overheadS)).toMap
    Outcome(Runner.PerLayer.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) },
      named, ledger, tr.spanLines)
  }

  protected def endToEnd(setupS: Double, opMs: Seq[Double], itemsPerS: Double,
      named: Seq[Metric]): Outcome = {
    val v = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(opMs), "items_per_s" -> itemsPerS)
    Outcome(Runner.EndToEnd.map { case (n, u) => Metric(n, v(n), u) },
      named :+ Metric("retained_block_mb", held.mb, "MB"), ledger, Nil)
  }

  protected def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
