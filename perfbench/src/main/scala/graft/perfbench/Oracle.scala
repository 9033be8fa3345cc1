package graft.perfbench

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Reference for the read path, computed outside Spark: the chunker, the hashed
  * bag-of-words featurizer and exact top-k, written directly from the
  * engine's documented contracts (`Chunker.chunk`,
  * `VectorOps.embedTextDistributed`, `Knn.knnJoin` with the dot metric).
  * The benchmark checks the engine's hits against it.
  */
object Oracle {
  val Dim = 64
  val Separator = " the "
  val MinLen = 20

  def chunkId(docId: Long, chunkIndex: Long): Long = docId * 1000 + chunkIndex

  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** `(chunk_index, chunk_text)`: split on the literal separator, trim,
    * drop empties, number the rest, keep those of at least `MinLen` chars.
    */
  def chunks(text: String): IndexedSeq[(Long, String)] =
    text.split(Pattern.quote(Separator), -1).toIndexedSeq.map(trimSpaces).filter(_.nonEmpty)
      .zipWithIndex.collect { case (t, i) if t.length >= MinLen => (i.toLong, t) }

  /** L2-normalized token counts per murmur3 bucket; None when `text` has no token. */
  def embed(text: String): Option[Array[Double]] = {
    val toks = trimSpaces(text).toLowerCase.split(" ", -1).filter(_.nonEmpty)
    if (toks.isEmpty) None
    else {
      val v = new Array[Double](Dim)
      toks.foreach { t =>
        val h = Murmur3HashFunction.hash(UTF8String.fromString(t), StringType, 42L).toInt
        v(((h % Dim) + Dim) % Dim) += 1.0
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      Some(v.map(_ / n))
    }
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Exact top-k by (score desc, id asc). */
  def topK(q: Array[Double], points: Iterable[(Long, Array[Double])], k: Int): IndexedSeq[(Long, Double)] = {
    def before(a: (Long, Double), b: (Long, Double)) = a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
    val best = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    points.foreach { case (id, v) =>
      val hit = (id, dot(q, v))
      if (best.size < k || before(hit, best.last)) {
        best.insert(best.indexWhere(before(hit, _)) match { case -1 => best.size; case i => i }, hit)
        if (best.size > k) best.remove(k)
      }
    }
    best.toIndexedSeq
  }

  private val Eps = 1e-9

  /** True when `got` (ids with the engine's scores, in rank order) is an
    * exact top-k over `points`: same ids as the reference, or, where
    * scores tie within `Eps`, ids whose reference scores match rank by rank.
    */
  def isTopK(got: Seq[(Long, Double)], q: Array[Double],
      points: collection.Map[Long, Array[Double]], k: Int): Boolean = {
    val want = topK(q, points, k)
    got.map(_._1) == want.map(_._1) ||
      (got.size == want.size && got.map(_._1).distinct.size == got.size &&
        got.zip(want).forall { case ((id, s), (_, ws)) =>
          points.get(id).exists(v => math.abs(dot(q, v) - ws) <= Eps) && math.abs(s - ws) <= Eps
        })
  }
}
