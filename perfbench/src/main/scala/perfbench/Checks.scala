package perfbench

import scala.collection.mutable

/** Bench-side reference computations the workload outputs are checked
  * against. They share no code with graft: word 3-shingles are rebuilt
  * here from whitespace tokens (the generated text is lower-case
  * alphanumeric words separated by single spaces). */
object Checks {

  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.isEmpty) Set.empty
    else if (t.length < n) Set(t.mkString(" "))
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  /** Shingle inverted index over documents, for finding every partner
    * of a probe document above a Jaccard threshold without an all-pairs
    * scan. */
  final class Index {
    private val docs = mutable.ArrayBuffer.empty[(Long, Set[String])]
    private val post = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]

    def add(id: Long, text: String): Unit = {
      val s = shingles(text)
      val at = docs.length
      docs += ((id, s))
      s.foreach(x => post.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += at)
    }

    /** Ids of indexed documents with Jaccard ≥ `t` against `text`,
      * other than `self`. */
    def partners(text: String, t: Double, self: Long = Long.MinValue): Seq[Long] = {
      val s = shingles(text)
      val cand = s.iterator.flatMap(x => post.getOrElse(x, Nil)).toSet
      cand.toSeq.map(docs(_)).collect {
        case (id, o) if id != self && jaccard(s, o) >= t => id
      }
    }

    /** Ids of indexed documents sharing at least `m` shingles with `text`. */
    def sharing(text: String, m: Int): Seq[Long] = {
      val counts = mutable.HashMap.empty[Int, Int]
      shingles(text).foreach(x => post.getOrElse(x, Nil)
        .foreach(i => counts(i) = counts.getOrElse(i, 0) + 1))
      counts.collect { case (i, c) if c >= m => docs(i)._1 }.toSeq
    }
  }
}
