package graftbench

import scala.collection.mutable

/** Synthetic documents shaped like the engine's sf0.1 `documents`
  * fixture. Its profile (5,000 docs), which the generator follows:
  *  - consecutive ids;
  *  - 10–99 whitespace words a doc, uniformly (mean 54);
  *  - words drawn uniformly from the 30-word vocabulary below;
  *  - 4.9 % of docs are another doc's text with " dup" appended (word
  *    3-shingle Jaccard ≥ 0.89 to it), the original lying earlier or
  *    later in id order;
  *  - languages en 41 %, de, es, fr and zh about 15 % each;
  *  - 20 sources, in turn by id. */
object Corpus {
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  val DupRate = 0.05
  private val OtherLangs = Array("de", "es", "fr", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` docs with ids `firstId` … `firstId + n - 1`, drawn from `rnd`. */
  def documents(rnd: java.util.Random, n: Int, firstId: Long): IndexedSeq[Doc] = {
    val texts = Array.fill(n)(Array.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.length)))
      .mkString(" "))
    val dups = mutable.LinkedHashSet[Int]()
    while (dups.size < math.round(n * DupRate)) dups += rnd.nextInt(n)
    val originals = (0 until n).filterNot(dups)
    dups.foreach(i => texts(i) = texts(originals(rnd.nextInt(originals.size))) + " dup")
    (0 until n).map { i =>
      val lang = if (rnd.nextDouble() < 0.41) "en" else OtherLangs(rnd.nextInt(OtherLangs.length))
      Doc(firstId + i, texts(i), lang, s"src${i % 20}")
    }
  }

  def shingles(text: String): Set[String] = {
    val w = text.split(" ").filter(_.nonEmpty)
    if (w.length < 3) Set(text) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Every pair of docs at exact word 3-shingle Jaccard ≥ `threshold`,
    * as a neighbour list per id (ids without one are absent). */
  def nearDups(docs: Seq[Doc], threshold: Double): Map[Long, Set[Long]] = {
    val sh = docs.map(d => d.id -> shingles(d.text)).toMap
    val byShingle = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sh.foreach { case (id, s) => s.foreach(x => byShingle.getOrElseUpdate(x, mutable.ArrayBuffer()) += id) }
    val out = mutable.HashMap[Long, Set[Long]]()
    sh.foreach { case (id, s) =>
      val common = mutable.HashMap[Long, Int]()
      s.foreach(x => byShingle(x).foreach(o => if (o > id) common(o) = common.getOrElse(o, 0) + 1))
      common.foreach { case (o, k) =>
        if (k.toDouble / (s.size + sh(o).size - k) >= threshold) {
          out(id) = out.getOrElse(id, Set.empty) + o
          out(o) = out.getOrElse(o, Set.empty) + id
        }
      }
    }
    out.toMap
  }
}
