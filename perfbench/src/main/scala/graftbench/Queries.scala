package graftbench

import java.util.SplittableRandom

import graft.analyze.CodeTokenizer

/** One served query. `terms` are the analyzed terms the query is built
  * from (for expansion queries, the word the pattern was derived from). */
final case class Query(qid: Int, kind: String, text: String, terms: Seq[String])

/** Seeded query stream over a corpus's own Zipf vocabulary: the head
  * repeats across the stream and the tail does not. Kinds come in
  * stratified cycles, so every run has the same mix whatever its seed. */
final class QueryGen(seed: Long, vocab: Vocab, docs: Array[Doc]) {
  private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)

  /** One cycle of 10: half match, one each of the other kinds. A run
    * serves whole cycles, so every run has the same mix. */
  val Cycle: Seq[String] =
    Seq.fill(5)("match") ++ Seq("phrase", "prefix", "fuzzy", "wildcard", "qs")

  def cycles: Iterator[Seq[Query]] = {
    var qid = 0
    Iterator.continually(shuffled(Cycle).map { k => qid += 1; next(qid, k) })
  }

  private def shuffled(xs: Seq[String]): Seq[String] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }

  /** A word of at least `min` chars from the Zipf distribution. */
  private def word(min: Int): String = {
    var w = vocab.word(rng)
    while (w.length < min) w = vocab.word(rng)
    w
  }

  def next(qid: Int, kind: String): Query = kind match {
    case "match" =>
      val ws = Seq.fill(1 + rng.nextInt(3))(word(2))
      // the analyzer splits identifiers, so half the queries are written
      // the way code spells them
      val text = rng.nextInt(4) match {
        case 0 => ws.head + ws.tail.map(_.capitalize).mkString
        case 1 => ws.mkString("_")
        case _ => ws.mkString(" ")
      }
      Query(qid, kind, text, CodeTokenizer.queryTerms(text))
    case "phrase" =>
      // two adjacent analyzed tokens of a seeded doc, so phrases match
      var toks = Array.empty[String]
      while (toks.length < 2) toks = CodeTokenizer.tokenize(docs(rng.nextInt(docs.length)).content)
      val at = rng.nextInt(toks.length - 1)
      Query(qid, kind, s"${toks(at)} ${toks(at + 1)}", Seq(toks(at), toks(at + 1)))
    case "prefix" =>
      val w = word(4)
      Query(qid, kind, w.take(3 + rng.nextInt(w.length - 3)), Seq(w))
    case "fuzzy" =>
      val w = word(4)
      val at = rng.nextInt(w.length)
      val c = ('a' + rng.nextInt(26)).toChar
      Query(qid, kind, w.updated(at, c), Seq(w))
    case "wildcard" =>
      val w = word(5)
      val text = if (rng.nextBoolean()) w.take(2) + "*" + w.last
                 else w.updated(1 + rng.nextInt(w.length - 2), '?')
      Query(qid, kind, text, Seq(w))
    case "qs" =>
      // distinct words: query_string rejects a term in two roles
      val ws = Iterator.continually(word(2)).distinct.take(3).toSeq
      val (a, b) = (ws(0), ws(1))
      val c = word(4)
      val text = rng.nextInt(3) match {
        case 0 => s"+$a $b -${ws(2)}"
        case 1 => s"$a ${c.take(3)}*"
        case _ => s"$a $b"
      }
      Query(qid, kind, text, Seq(a, b))
  }
}
