package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg
import graft.ops.{Knn, Tables}

/** The bounded top-k aggregate against the rank-window form it replaced
  * ([[KnnReference]]): its order semantics on raw scores, the
  * sort-based aggregation fallback, and hard-negative mining.
  */
class KnnTopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("graft_top_k ranks by (score DESC NULLS LAST, id ASC NULLS FIRST) exactly as row_number") {
    val nd = null.asInstanceOf[java.lang.Double]
    val rows = Seq[(Int, java.lang.Double, String)](
      (1, Double.NaN, "n"), (1, Double.PositiveInfinity, "i"), (1, 1.0, "c"), (1, 1.0, "b"),
      (1, 1.0, "b"), (1, -0.0, "a"), (1, 0.0, "z"), (1, 0.0, null), (1, nd, "a"),
      (1, nd, null), (1, Double.NegativeInfinity, "m"),
      (2, nd, "b"), (2, nd, "a"), (2, nd, null),
      (3, 0.5, "only"))
    // the tag is a function of the row, so the one repeated (score, id)
    // pair is a fully identical row and every rank is well defined
    val df = rows.toDF("g", "score", "id")
      .withColumn("tag", concat_ws("/", col("score").cast("string"), col("id")))
      .repartition(3)
    def topK(k: Int) = df.groupBy(col("g"))
      .agg(TopKAgg.topK(col("score"), col("id"), struct(col("score"), col("id"), col("tag")), k)
        .as("h"))
      .select(col("g"), posexplode(col("h")).as(Seq("pos", "hit")))
      .select(col("g"), (col("pos") + 1).as("rank"), col("hit.score"), col("hit.id"),
        col("hit.tag"))
    def window(k: Int) = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("g")).orderBy(desc("score"), col("id").asc)))
      .filter(col("rank") <= k)
      .select(col("g"), col("rank"), col("score"), col("id"), col("tag"))
    for (k <- Seq(1, 2, 3, 4, 5, 6, 20))
      assert(KnnReference.rowBits(topK(k)) == KnnReference.rowBits(window(k)), s"k=$k")
    // NaN first, -0.0 ties 0.0 (so ids decide), nulls last but returned
    val g1 = topK(20).filter(col("g") === 1).orderBy(col("rank"))
      .select(col("tag")).as[String].collect().toSeq
    assert(g1 == Seq("NaN/n", "Infinity/i", "1.0/b", "1.0/b", "1.0/c", "0.0", "-0.0/a",
      "0.0/z", "-Infinity/m", "", "a"), g1)
    assert(topK(2).filter(col("g") === 2).orderBy(col("rank"))
      .select(col("id")).as[String].collect().toSeq == Seq(null, "a"))
  }

  test("kNN join equals the rank window past the hash-aggregate fallback (> 128 queries per task)") {
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(4)((rng.nextInt(9) - 4).toFloat)
    val queries = (0 until 200).map(i => (i.toLong, vec())).toDF("qid", "qv")
    // one point partition: the partial aggregate sees all 200 queries in
    // one task, past spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    val points = (0 until 40).map(i => (i.toLong, vec())).toDF("pid", "pv").coalesce(1)
    for (metric <- Seq("cosine", "dot")) {
      val got = Knn.knnJoin(queries, points, "qid", "qv", "pid", "pv", 3, metric)
      KnnReference.assertSameResult(got,
        KnnReference.knnJoin(queries, points, "qid", "qv", "pid", "pv", 3, metric), metric)
      val fellBack = collect(got.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }.sum
      assert(fellBack > 0, s"$metric: no task fell back to sort-based aggregation")
    }
  }

  test("hard negatives equal the rank-window reference, labels and schema included") {
    val emb = Tables.embeddings(spark, sf0001)
    val anchors = emb.filter(col("vec_id") < 5)
    val points = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"), col("embedding"), col("label"))
    for (k <- Seq(1, 5, 1000))
      KnnReference.assertSameResult(
        Knn.hardNegatives(anchors, points, "vec_id", "embedding", "label",
          "point_id", "embedding", "label", k),
        KnnReference.hardNegatives(anchors, points, "vec_id", "embedding", "label",
          "point_id", "embedding", "label", k),
        s"k=$k")
  }
}
