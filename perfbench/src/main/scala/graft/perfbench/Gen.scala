package graft.perfbench

import scala.util.Random

/** Seeded inputs. The same seed gives the same documents, questions,
  * write batches and near-duplicate injections.
  *
  * Documents have the shape of the harness sf0.1 `documents` table:
  * 10–100 words drawn uniformly from a 30-word vocabulary, 41% `en` and
  * the rest split over four languages, 20 sources, and one doc in 20 a
  * copy of an earlier doc with ` dup` appended.
  */
object Gen {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ").toIndexedSeq

  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  /** One doc in 20 (5%) is a near-duplicate, as in the harness table. */
  val DupEvery = 20

  def doc(id: Long, text: String, lang: String): Doc =
    Doc(id, text, lang, s"src${id % 20}", text.length.toLong)

  def words(rng: Random, lo: Int, hi: Int): String =
    Seq.fill(lo + rng.nextInt(hi - lo + 1))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  def lang(rng: Random): String = {
    val u = rng.nextDouble()
    Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
      .find(_._2 > u).map(_._1).getOrElse(Langs.head._1)
  }

  /** Doc i is a near-duplicate when i % DupEvery == DupEvery - 1: a copy
    * of a random earlier original, so the share is exact for every seed.
    */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new Random(seed)
    val docs = new Array[Doc](n)
    (0 until n).foreach { i =>
      val text =
        if (i % DupEvery == DupEvery - 1) {
          val j = rng.nextInt(i)
          docs(if (j % DupEvery == DupEvery - 1) j - 1 else j).text + " dup"
        } else words(rng, 10, 100)
      docs(i) = doc(i.toLong, text, lang(rng))
    }
    docs.toIndexedSeq
  }

  /** `text` with `edits` words replaced at random positions. */
  def edit(rng: Random, text: String, edits: Int): String = {
    val ws = text.split(" ")
    (1 to edits).foreach(_ => ws(rng.nextInt(ws.length)) = Vocab(rng.nextInt(Vocab.size)))
    ws.mkString(" ")
  }

  /** `count` near-duplicates with ids from `firstId`: each an edited copy
    * of a different random doc of `base` (two words replaced) with ` dup`
    * appended.
    */
  def nearDups(seed: Long, base: IndexedSeq[Doc], count: Int, firstId: Long): IndexedSeq[Doc] = {
    val rng = new Random(seed)
    rng.shuffle(base.indices.toVector).take(count).zipWithIndex.map { case (b, i) =>
      doc(firstId + i, edit(rng, base(b).text, 2) + " dup", base(b).lang)
    }
  }

  /** Each word of `text` kept with probability `keep` (at least one word). */
  def sample(rng: Random, text: String, keep: Double): String = {
    val ws = text.split(" ")
    val kept = ws.filter(_ => rng.nextDouble() < keep)
    (if (kept.isEmpty) ws.take(1) else kept).mkString(" ")
  }
}
