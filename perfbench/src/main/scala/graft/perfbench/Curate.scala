package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkEntryExt}
import graft.ops.{Dedup, Store}

/** `curate`: the corpus build. The registry query `pipeline_e2e` (clean
  * → quality → MinHash/keepBest dedup → DSIR → token-budget mix → epoch
  * shuffle → packing) runs over a generated input directory and its
  * output is written once with `Store.recreate`.
  *
  * The input is the sf0.1-shaped corpus (5% near-duplicate copies) plus
  * seeded near-duplicate injections of `InjectShare` of its size, so
  * (0.05 + 0.10) / 1.10 ≈ 13.6% of the input docs are near-duplicates.
  */
final class Curate(c: Ctx) extends Workload(c) {
  import Curate._

  private val inDir = new File(dir, "in").getPath
  private val warmDir = new File(dir, "warm").getPath
  private val outPath = new File(dir, "out").getPath
  private val input = {
    val base = Gen.corpus(c.seed, c.sizes.docs)
    base ++ Gen.nearDups(c.seed + 3, base, math.round(c.sizes.docs * InjectShare).toInt,
      firstId = c.sizes.docs.toLong)
  }
  private val inputIds = input.map(_.doc_id).toSet

  private def registryPass(in: String = inDir): Unit =
    Store.recreate(SparkEntry.queries("pipeline_e2e")(spark, in), outPath)

  /** The same chain through its stage hook, each stage cut eagerly inside
    * its layer's span; returns the quality-filtered docs the dedup stage saw.
    */
  private def tracedPass(p: Probe): DataFrame = p.op("pass") {
    var qdocs: DataFrame = null
    val out = SparkEntryExt.pipelineE2eChain(spark, inDir, (compute, stage) => {
      val cut = p.layer(StageLayer(stage))(compute().localCheckpoint(eager = true))
      if (stage == "qdocs") qdocs = cut
      cut
    })
    val packed = p.layer("textanalysis")(p.materialize(out))
    p.layer("store")(Store.recreate(packed, outPath))
    qdocs
  }

  /** Output rows as sorted strings, after checking the doc ids. */
  private def checkedOutput(): Seq[String] = {
    val rows = spark.read.parquet(outPath).collect()
    val ids = rows.map(_.getAs[Long]("doc_id"))
    require(rows.nonEmpty, "empty output")
    require(ids.distinct.length == ids.length, "duplicate doc_id in the output")
    require(ids.forall(inputIds), "output doc_id not in the input")
    rows.map(_.mkString("|")).sorted.toSeq
  }

  private def build(): Unit = {
    def write(docs: Seq[Gen.Doc], d: String): Unit =
      spark.createDataFrame(docs).coalesce(1).write.parquet(s"$d/documents.parquet")
    write(input, inDir)
    write(Gen.corpus(c.seed + 4, WarmDocs), warmDir)
  }

  override def run(): Outcome = {
    val setupS = setup(build())(registryPass(warmDir))
    val outputs = mutable.ArrayBuffer.empty[Seq[String]]
    def untracedPass(): Option[Double] = {
      val t = System.nanoTime()
      val r = ledger.attempt("pass") {
        registryPass()
        val s = (System.nanoTime() - t) / 1e9
        val out = checkedOutput()
        require(outputs.forall(_ == out), "output differs from the run's first pass")
        outputs += out
        s
      }
      endOp()
      r
    }
    if (!c.trace) {
      val passes = mutable.ArrayBuffer.empty[Double]
      loop(minSteps = 1)(_ => passes += untracedPass().getOrElse(Double.MaxValue))
      endToEnd(setupS, passes.toSeq.map(_ * 1e3), input.size * passes.size / passes.sum, Seq(
        Metric("curate_docs_per_s", input.size / Stats.median(passes.toSeq), "1/s"),
        Metric("input_docs", input.size, "count"),
        Metric("output_rows", outputs.headOption.fold(0.0)(_.size.toDouble), "count"),
        Metric("passes", passes.size, "count")))
    } else {
      val (tr, overhead, qdocs) =
        traced(untracedPass(): Unit)(p => ledger.attempt("traced pass")(tracedPass(p)))
      ledger.check("traced output equals the registry query's output")(
        outputs.headOption.contains(checkedOutput()))
      val (cands, kept) = qdocs.map { q =>
        val pairs = Dedup.minHashLsh(q, "doc_id", "text", shingleN = 3, numHashes = 16, rowsPerBand = 8)
        (pairs.count().toDouble, pairs.filter(col("jaccard") >= 0.5).count().toDouble)
      }.getOrElse((0.0, 0.0))
      endOp()
      layerOutcome(tr, overhead, Seq(
        "dedup.candidate_pairs" -> cands, "dedup.pair_yield" -> ratio(kept, cands),
        "store.bytes_written" -> Files.dataFiles(new File(outPath)).map(_.length).sum.toDouble,
        "store.files" -> Files.dataFiles(new File(outPath)).size.toDouble,
        "store.write_amp" -> 1.0),
        Seq(Metric("input_docs", input.size, "count")))
    }
  }
}

object Curate {
  val InjectShare = 0.10

  /** The warm-up pass runs on an sf0.001-sized input: it compiles the
    * same plans as a full pass at less cost.
    */
  val WarmDocs = 500

  /** The layer each stage of `pipelineE2eChain` runs in. */
  val StageLayer: Map[String, String] = Map(
    "cleaned" -> "clean", "qdocs" -> "textanalysis", "sdocs" -> "dedup",
    "pool" -> "curation", "keyed" -> "curation")
}
