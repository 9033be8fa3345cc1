package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark on sf0.001-sized inputs (500 documents): every workload
  * passes its own output checks, reports every named metric with its
  * unit, and repeats its deterministic counts for one seed.
  */
class SmokeSpec extends AnyFunSuite {
  private val work = Files.createTempDirectory("perfbench-smoke").toFile
  private lazy val spark = Main.session(2, work)
  private val tiny = Sizes(docs = 500, queries = 8, writeDocs = 4, builds = 1)

  private def run(workload: String, trace: Boolean, seed: Long = 7L): Outcome = {
    val o = Runner.run(workload, Ctx(spark, seed, 0.5, trace, new File(work, s"$workload-$trace"), tiny))
    assert(o.ledger.failed == 0, s"$workload: ${o.ledger.failed} of ${o.ledger.attempted} operations failed")
    o
  }

  /** Counts that depend only on the seed, not on timing. */
  private def deterministic(o: Outcome): Map[String, Double] =
    (o.metrics ++ o.named).collect {
      case m if m.name.endsWith(".jobs") || m.name == "knn.pairs_scored" ||
        m.name == "vectorops.rows_out" || m.name == "store.partitions_rewritten" ||
        m.name.startsWith("recall_at") || m.name.startsWith("mrr_at") => m.name -> m.value
    }.toMap

  test("BENCHMARK.json names exactly the metrics the runs report") {
    val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def listed(key: String) = spec.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(listed("end_to_end") == Runner.EndToEnd)
    assert(listed("per_layer") == Runner.PerLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSet ==
      Runner.Workloads.keySet)
  }

  for (workload <- Runner.Workloads.keys.toSeq.sorted) {
    test(s"$workload: metrics present with units; counts repeat for a seed") {
      val plain = run(workload, trace = false)
      assert(plain.metrics.map(m => m.name -> m.unit) == Runner.EndToEnd)
      assert(plain.metrics.forall(_.value > 0), plain.metrics)
      val a = run(workload, trace = true)
      val b = run(workload, trace = true)
      assert(a.metrics.map(m => m.name -> m.unit) == Runner.PerLayer)
      assert(a.spans.nonEmpty)
      assert(deterministic(a) == deterministic(b))
      val called = a.metrics.filter(m => m.name.endsWith(".calls") && m.value > 0).map(_.name)
      assert(called.nonEmpty)
    }
  }
}
