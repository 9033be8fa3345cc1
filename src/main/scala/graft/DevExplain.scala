package graft

/** Dev tool: print the finalized physical plan of one or more registry
  * queries — `DevExplain <query> [<query> ...]`, sfDir from
  * SPARK_GRAFT_SF_DIR (default sf0.01). Each query is executed so the
  * printed plan is the AQE runtime shape (`isFinalPlan=true`).
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DevExplain <queryName> [<queryName> ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession(GraftSession.defaultCpus, Some(sfDir))
    args.foreach { name =>
      val df = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))(
        spark, sfDir)
      // execute THIS QueryExecution (a write/count would plan a fresh
      // one), so AdaptiveSparkPlan finalizes in place and the printed
      // plan shows the real runtime shape (AQEShuffleRead coalescing,
      // skew splits) instead of isFinalPlan=false
      df.queryExecution.toRdd.count(): Unit
      println(s"[devexplain-begin] $name")
      println(df.queryExecution.executedPlan.toString)
      println(s"[devexplain-end] $name")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
