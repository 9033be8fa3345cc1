package graft

/** Dev-only audit (Test/runMain graft.AdversarialDeterminism): every
  * registry query — batch AND streaming — run TWICE over the
  * adversarial corpus at two different shuffle-partition counts,
  * results compared as row multisets. The oracle hash-compare pins
  * partition-count invariance on well-formed data; this audit checks
  * the same property where the oracle cannot see — garbage rows whose
  * tie-breaks or null-ordering could silently depend on physical
  * partitioning (for streams, the session width also sizes the STATE
  * partitions the runners clamp from, so this doubles as a
  * state-width-invariance check). Not part of `sbt test` (it doubles
  * the sweep's cost); run manually when the adversarial corpus or a
  * query's ordering contract changes. Last run (r20, with BOTH width
  * keys varied — shuffle.partitions + AQE initialPartitionNum):
  * 0 of 176 diverge.
  */
object AdversarialDeterminism {
  def main(args: Array[String]): Unit = {
    // Base data dir: first CLI arg, then the runners' env contract,
    // then the container default — the dev audit should run on any
    // machine's data layout, like Verify/Bench/RunQ do.
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(SparkSpec.Sf0001)
    val spark = GraftSession(4, Some(sfDir))
    val widthKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val baseWidth = widthKeys.map(k => k -> spark.conf.get(k))
    val dir = AdversarialCorpusSpec.corpusDir(spark, sfDir)
    val all = SparkEntry.queries
    var bad = 0
    all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        def runAt(parts: String): Map[String, Int] = {
          // BOTH width keys, the withVocabSizedShuffle lesson: under
          // AQE, coalescePartitions.initialPartitionNum (GraftSession
          // sets it) shadows shuffle.partitions, so varying only the
          // latter would not vary the width at all — the audit would
          // report 0 divergences without auditing.
          widthKeys.foreach(spark.conf.set(_, parts))
          // multiset of row renderings: order-insensitive compare, so
          // only CONTENT differences (not emission order) count
          fn(spark, dir).collect().iterator
            .map(_.toString).toSeq.groupBy(identity).map { case (k, v) => (k, v.size) }
        }
        val a = runAt("4")
        val b = runAt("7")
        if (a != b) {
          bad += 1
          val onlyA = a.keysIterator.filterNot(b.contains).take(2).toList
          val onlyB = b.keysIterator.filterNot(a.contains).take(2).toList
          println(s"[advdet] DIVERGES $name: |4|=${a.values.sum} |7|=${b.values.sum} " +
            s"onlyAt4=$onlyA onlyAt7=$onlyB")
        } else println(s"[advdet] ok $name (${a.values.sum} rows)")
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"[advdet] ERROR $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200))
      } finally baseWidth.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    println(s"[advdet] done: $bad of ${all.size} queries diverge across partition counts")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
