package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.oracle.NaiveBM25
import graft.query.{BM25, QueryDsl}

/** The analytics battery: a seeded round of DSL operations over a raw
  * corpus frame, with no index — the corpus-scoring path and the
  * analyzer do the work. */
object Analytics {
  final case class Op(name: String, ms: Double)

  /** One round; appends each operation's latency to `ops`, checks the
    * results, and returns the round's wall time in ms. */
  def round(ctx: Ctx, out: Outcome, corpus: DataFrame, docs: Array[Doc], vocab: Vocab,
            prof: Profile, ops: ArrayBuffer[Op]): Double = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val pairs = docs.toSeq.map(d => (d.doc_id, d.content))
    val k = ctx.cfg.topK
    def op[A](name: String)(f: => A): Option[A] = {
      val (r, ms) = Stat.timeMs(Try(tr.span(s"analytics.$name")(f)))
      ops += Op(name, ms)
      r match {
        case Success(a) => Some(a)
        case Failure(e) => out.fail(name, s"analytics $name: $e"); None
      }
    }
    def ranked(name: String)(df: => DataFrame): Option[Seq[Common.Hit]] = op(name)(Common.hits(df))

    val rng = new java.util.SplittableRandom(ctx.seed * 7919)
    def w(): String = vocab.word(rng)
    // distinct words: bool and query_string reject a term in two roles
    def ws(n: Int): Seq[String] = Iterator.continually(w()).distinct.take(n).toSeq
    val tRound = System.nanoTime()
    val matchQs = (1 to 4).map(i => i -> s"${w()} ${w()}")
    ranked("bm25_topk")(BM25.topK(spark, corpus, Common.Id, Common.Content, matchQs, ctx.cfg))
      .foreach { hs =>
        Common.wellFormed(hs, k).foreach(m => out.fail("bm25_topk", m))
        val (qid, text) = matchQs.head
        Common.sameAsOracle(hs.filter(_.qid == qid), NaiveBM25.topK(pairs, text, k))
          .foreach(m => out.fail("bm25_topk", s"bm25 <$text> vs NaiveBM25: $m"))
      }
    val b1 = ws(3)
    val bools = Seq(
      QueryDsl.BoolQuery(1, must = Seq(b1(0)), should = b1.drop(1)),
      QueryDsl.BoolQuery(2, should = ws(3)))
    ranked("bool_topk")(QueryDsl.boolTopK(spark, corpus, Common.Id, Common.Content, bools, ctx.cfg))
      .foreach(hs => Common.wellFormed(hs, k).foreach(m => out.fail("bool_topk", m)))
    val q2 = ws(2)
    val qss = Seq(1 -> s"+${w()} ${w().take(3)}*", 2 -> s"${q2(0)} ${q2(1)}")
    ranked("query_string_topk")(
      QueryDsl.queryStringTopK(spark, corpus, Common.Id, Common.Content, qss, cfg = ctx.cfg))
      .foreach(hs => Common.wellFormed(hs, k).foreach(m => out.fail("query_string_topk", m)))
    op("terms_agg") {
      QueryDsl.termsAgg(spark, corpus, Common.Id, Common.Content, matchQs.take(2), col("lang"))
        .collect().toSeq
    }.foreach { rows =>
      val bad = rows.groupBy(_.getAs[Int]("qid")).exists { case (_, rs) =>
        rs.map(_.getAs[Long]("rank")) != (1L to rs.size.toLong) ||
          rs.map(_.getAs[Long]("cnt")).sliding(2).exists(p => p.size == 2 && p(1) > p(0))
      }
      if (bad) out.fail("terms_agg", "terms_agg buckets are not ranked by count")
    }
    op("highlight_topk") {
      QueryDsl.highlightTopK(spark, corpus, Common.Id, Common.Content, matchQs.take(2), ctx.cfg)
        .collect().toSeq
    }.foreach { rows =>
      if (rows.exists(r => !r.getAs[String]("snippet").contains("<em>")))
        out.fail("highlight_topk", "highlight snippet without a marked term")
    }
    val src = Seq(1 -> (1L + rng.nextInt(docs.length)), 2 -> (1L + rng.nextInt(docs.length)))
    ranked("mlt_topk")(QueryDsl.mltTopK(spark, corpus, Common.Id, Common.Content, src, ctx.cfg))
      .foreach(hs => Common.wellFormed(hs, k).foreach(m => out.fail("mlt_topk", m)))
    val terms = Seq.fill(8)(w()).distinct
    val (stats, ms) = Stat.timeMs(Try(tr.span("query.corpus_stats")(
      BM25.statsAndDf(corpus, Common.Id, Common.Content, terms))))
    ops += Op("corpus_stats", ms)
    stats match {
      case Success((n, _, df)) =>
        val want = terms.flatMap(t => prof.df.get(t).map(t -> _.toLong)).toMap
        if (n != docs.length || df != want)
          out.fail("corpus_stats", s"statsAndDf n=$n df=$df, expected $want")
      case Failure(e) => out.fail("corpus_stats", s"statsAndDf: $e")
    }
    (System.nanoTime() - tRound) / 1e6
  }

  /** Per-layer metrics of a traced run's battery operations. */
  def layers(v: TraceView, out: Outcome, corpusRows: Long): Unit = {
    Layers.AnalyticsOps.foreach { name =>
      val ss = v.named(s"analytics.$name")
      out.layer(s"analytics.$name.s") = Stat.median(ss.map(_.ms / 1000.0))
      out.layer(s"analytics.$name.jobs") = Stat.median(ss.map(s => v.jobsOf(s).size.toDouble))
      out.layer(s"analytics.$name.shuffle_bytes") = Stat.median(ss.map(s => v.sums(s).shuffleBytes.toDouble))
      out.layer(s"analytics.$name.corpus_passes") =
        Stat.median(ss.map(s => v.sums(s).inputRecords.toDouble / corpusRows))
    }
    out.layer("query.corpus_stats.s") = Stat.median(v.named("query.corpus_stats").map(_.ms / 1000.0))
  }
}
