package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point runs under:
  * Bench, Verify, Smoke, the dev mains and the test suites. A plan read
  * from any of them is the plan the harness executes.
  *
  * `shuffle.partitions` is the CPU count (right for row-keyed,
  * doc_id-sized exchanges); with a data dir, the AQE initial partition
  * number is volume-sized by [[VolumeConf]] so lazy wide-key plans are
  * split-safe at any decade, and AQE coalesces the surplus back toward
  * the 64 MB advisory size.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the host's processor count. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int, sfDir: Option[String]): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
    val spark = sfDir.fold(builder)(d => builder.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        VolumeConf.initialPartitions(d, cpus).toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up before a measured run: JIT/codegen compilation and
    * the parquet footer/page cache (three representative queries), then
    * every per-JVM memoized build ([[SparkEntryExt.prewarmMemos]]:
    * trained IVF/PQ/BPE models, stored index tables). Production runs
    * those builds at ingest, so a recorded rep measures serving, never
    * a cold model training or index write. Failures are reported and
    * ignored: a query whose build failed here times its build-inclusive
    * probe instead, which is a slower number, not a new failure mode.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    Seq("q1_pricing", "v_knn_join", "q_events_hourly").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    try SparkEntryExt.prewarmMemos(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"memo prewarm failed (continuing): $e")
    }
  }
}
