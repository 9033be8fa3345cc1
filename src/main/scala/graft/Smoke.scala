package graft

/** Dev smoke main: mirrors the driver's t1 gate — runs `SparkEntry.entry`
  * and asserts rows > 0, printing the row count and a sample.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.defaultCpus, Some(SparkEntry.EntrySfDir))
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, 120, vertical = true)
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
