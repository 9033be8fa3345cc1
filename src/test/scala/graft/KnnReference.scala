package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

import graft.ops.VectorOps

/** The rank-window form of the k-NN top-k: `row_number()` over
  * `(score DESC, point id ASC)` per `query_id`, kept where `rank <= k`.
  * [[graft.ops.Knn]] computes the same result with the bounded top-k
  * aggregate; the equivalence specs compare against this form.
  */
object KnnReference {

  def knnJoin(queries: DataFrame, points: DataFrame, queryIdCol: String,
      queryVecCol: String, pointIdCol: String, pointVecCol: String, k: Int,
      metric: String = "cosine"): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec")))
    val scoreExpr = metric match {
      case "cosine" => VectorOps.cosine(col("__qvec"), col(pointVecCol))
      case "dot" => VectorOps.dot(col("__qvec"), col(pointVecCol))
    }
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), col(pointIdCol).asc)
    points.crossJoin(q)
      .withColumn("score", scoreExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__qvec")
  }

  def hardNegatives(anchors: DataFrame, points: DataFrame, anchorIdCol: String,
      anchorVecCol: String, anchorLabelCol: String, pointIdCol: String,
      pointVecCol: String, pointLabelCol: String, k: Int): DataFrame = {
    val a = broadcast(anchors.select(col(anchorIdCol).as("query_id"),
      col(anchorVecCol).as("__qvec"), col(anchorLabelCol).as("__qlabel")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), col(pointIdCol).asc)
    points.crossJoin(a)
      .filter(col(pointLabelCol) =!= col("__qlabel"))
      .withColumn("score", VectorOps.cosine(col("__qvec"), col(pointVecCol)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(pointIdCol).as("point_id"),
        col("score"), col(pointLabelCol).as("neg_label"))
  }

  /** Float and double values by their raw bits (NaN equals NaN, -0.0
    * differs from 0.0), nested rows and arrays element-wise.
    */
  private def bits(v: Any): Any = v match {
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  /** The rows of `df` as a sorted bit-exact multiset. */
  def rowBits(df: DataFrame): Seq[String] =
    df.collect().map(r => bits(r).toString).toSeq.sorted

  /** Same schema (names, types, nullability, column order) and the same
    * rows, bit-exact, in any order.
    */
  def assertSameResult(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema == want.schema,
      s"$clue: schema\n${got.schema.treeString}\nvs reference\n${want.schema.treeString}")
    val (g, w) = (rowBits(got), rowBits(want))
    assert(g == w, s"$clue: rows differ\n${g.mkString("\n")}\nvs reference\n${w.mkString("\n")}")
  }
}
