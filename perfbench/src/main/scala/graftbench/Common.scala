package graftbench

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.analyze.CodeTokenizer

/** Properties of a generated corpus, printed with every run. */
final case class Profile(docs: Int, tokens: Long, terms: Int, topDfShare: Double,
                         textBytes: Long, df: Map[String, Int]) {
  /** Terms in the top 1% of the corpus vocabulary by df. */
  lazy val topBand: Set[String] =
    df.toSeq.sortBy { case (t, d) => (-d, t) }.take(math.max(1, terms / 100)).map(_._1).toSet
}

object Common {
  val VocabSize = 100000
  val ZipfExponent = 1.0

  def profile(docs: Array[Doc]): Profile = {
    val df = new java.util.HashMap[String, Integer]()
    var tokens = 0L
    var bytes = 0L
    docs.foreach { d =>
      val ts = CodeTokenizer.tokenize(d.content)
      tokens += ts.length
      bytes += d.content.getBytes("UTF-8").length
      ts.distinct.foreach(t => df.merge(t, 1, (a: Integer, b: Integer) => a + b))
    }
    import scala.jdk.CollectionConverters._
    val m = df.asScala.map { case (k, v) => k -> v.intValue }.toMap
    Profile(docs.length, tokens, m.size,
      if (m.isEmpty) 0.0 else m.values.max.toDouble / docs.length, bytes, m)
  }

  def printProfile(p: Profile, digest: String): Unit =
    println(f"# corpus docs=${p.docs} tokens=${p.tokens} distinct_terms=${p.terms} " +
      f"top_term_df_share=${p.topDfShare}%.3f text_bytes=${p.textBytes} digest=$digest")

  /** The generator's determinism contract: the same seed regenerates an
    * identical slice, another seed a different one. */
  def checkDigests(seed: Long, out: Outcome, docs: Array[Doc]): Unit = {
    val n = math.min(docs.length, 500)
    val first = docs.head.doc_id
    val mine = CorpusGen.digest(docs.take(n))
    val again = CorpusGen.digest(
      new CorpusGen(seed, new Vocab(seed, VocabSize, ZipfExponent)).docs(first, n))
    val other = CorpusGen.digest(
      new CorpusGen(seed + 1, new Vocab(seed + 1, VocabSize, ZipfExponent)).docs(first, n))
    if (mine != again) out.fail("generator", "same seed gave a different corpus digest")
    if (mine == other) out.fail("generator", "another seed gave the same corpus digest")
  }

  def writeParquet(ctx: Ctx, docs: Array[Doc], path: String): Unit =
    ctx.spark.createDataFrame(docs.toSeq).write.mode(SaveMode.Overwrite).parquet(path)

  def readCorpus(ctx: Ctx, path: String): DataFrame = ctx.spark.read.parquet(path)

  /** Java serialization to and from a file, for the caches `serve` keeps
    * next to its index. */
  def save(obj: AnyRef, path: String): Unit = {
    val o = new java.io.ObjectOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    try o.writeObject(obj) finally o.close()
  }

  def load[A](path: String): A = {
    val i = new java.io.ObjectInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(path)))
    try i.readObject().asInstanceOf[A] finally i.close()
  }

  val Id = col("doc_id")
  val Content = col("content")

  /** A ranked hit as every top-k entry point returns it. */
  final case class Hit(qid: Int, rank: Long, docId: Long, score: Double)

  def hits(df: DataFrame): Seq[Hit] = df.collect().toSeq.map { r =>
    Hit(r.getAs[Number]("qid").intValue, r.getAs[Number]("rank").longValue,
      r.getAs[Number]("doc_id").longValue, r.getAs[Number]("score").doubleValue)
  }

  /** At most k rows per query, ranks 1..n, scores non-increasing. */
  def wellFormed(hs: Seq[Hit], k: Int): Option[String] = {
    val bad = hs.groupBy(_.qid).collect {
      case (q, rows) if rows.size > k => s"qid $q: ${rows.size} rows > k=$k"
      case (q, rows) if rows.map(_.rank) != (1L to rows.size.toLong) =>
        s"qid $q: ranks ${rows.map(_.rank).mkString(",")}"
      case (q, rows) if rows.sliding(2).exists(p => p.size == 2 && p(1).score > p(0).score) =>
        s"qid $q: scores increase"
    }
    bad.headOption
  }

  /** Ranks, doc ids and bit-equal scores against the naive oracle. */
  def sameAsOracle(got: Seq[Hit], want: Seq[graft.oracle.NaiveBM25.Hit]): Option[String] = {
    val g = got.sortBy(_.rank).map(h => (h.docId, h.score))
    val w = want.map(h => (h.docId, h.score))
    if (g == w) None
    else Some(s"engine ${g.take(3).mkString(",")} vs oracle ${w.take(3).mkString(",")}")
  }

  def timed(ctx: Ctx, name: String)(f: => Unit): Double =
    Stat.timeMs(ctx.tracer.span(name)(f))._2
}
