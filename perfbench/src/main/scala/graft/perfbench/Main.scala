package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Runs one workload once and prints its result.
  *
  * Usage: `Main --workload serve|rag_batch|curate --seed N --seconds S
  * --trace 0|1 --out DIR`. Inputs are generated from the seed under
  * `DIR`; the result and, for a traced run, the spans are written there
  * too. The last stdout line is the result:
  * `{"correct", "attempted", "failed", "metrics"}`; the line before it
  * carries the workload's named metrics and the provenance stamp. Exits
  * 1 when an operation or output check failed.
  */
object Main {
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Runner.Workloads.contains(workload),
      s"unknown workload '$workload' (${Runner.Workloads.keys.toSeq.sorted.mkString(", ")})")
    val seed = need("seed").toLong
    val trace = need("trace") == "1"
    val out = new File(need("out"))
    val work = new File(out, s"work-$workload-$seed-${ProcessHandle.current().pid()}")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val c = Ctx(spark, seed, need("seconds").toDouble, trace, work, Sizes.Sf01)
    val o = try Runner.run(workload, c) finally Files.delete(work)
    val correct = o.ledger.failed == 0
    val provenance = Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> c.seconds,
      "git_sha" -> sys.env.get("PERFBENCH_GIT_SHA"),
      "source_sha256" -> sys.env.get("PERFBENCH_SOURCE_SHA256"),
      "nproc" -> cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))
    def metricsJson(ms: Seq[Metric]) =
      Json.obj(ms.map(m => m.name -> Json.obj(Seq("value" -> m.value, "unit" -> m.unit))))
    val report = Json.write(Json.obj(Seq("provenance" -> Json.obj(provenance),
      "named" -> metricsJson(o.named), "ops_attempted" -> o.ledger.attempted,
      "ops_failed" -> o.ledger.failed)))
    val result = Json.write(Json.obj(Seq("correct" -> correct, "attempted" -> o.ledger.attempted,
      "failed" -> o.ledger.failed, "metrics" -> metricsJson(o.metrics))))
    val stem = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    write(new File(out, s"$stem.json"), Seq(report, result))
    if (trace) write(new File(out, s"$stem.spans.jsonl"), o.spans)
    spark.stop()
    println(report)
    println(result)
    sys.exit(if (correct) 0 else 1)
  }

  private def write(f: File, lines: Seq[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, StandardCharsets.UTF_8)
    try lines.foreach(w.println) finally w.close()
  }
}
