package graft

/** Dev tool: run named registry queries and show their output + timing —
  * `RunQ <name> [<name> ...]`; repeat a name to see warm-cache timing.
  * sfDir from SPARK_GRAFT_SF_DIR (default sf0.01).
  */
object RunQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunQ <queryName> [<queryName> ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession(GraftSession.defaultCpus, Some(sfDir))
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(f"[runq] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      df.show(12, 60)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
