package graftbench

import graft.analyze.CodeTokenizer

/** Index-layer metrics of a traced run. */
object Index {
  def buildLayers(v: TraceView, out: Outcome, idx: String, shardsBuilt: Int): Unit = {
    v.named("index.ingest").headOption.foreach { s =>
      val t = v.sums(s)
      out.layer("index.ingest.s") = s.ms / 1000.0
      out.layer("index.ingest.tasks") = t.tasks.toDouble
      out.layer("index.ingest.shuffle_bytes") = t.shuffleBytes.toDouble
      out.layer("index.ingest.spill_bytes") = t.spillBytes.toDouble
      out.layer("index.ingest.gc_ms") = t.gcMs.toDouble
    }
    v.named("index.build").headOption.foreach { s =>
      val t = v.sums(s)
      out.layer("index.build.s") = s.ms / 1000.0
      out.layer("index.build.shards_built") = shardsBuilt.toDouble
      out.layer("index.build.shuffle_bytes") = t.shuffleBytes.toDouble
      out.layer("index.build.spill_bytes") = t.spillBytes.toDouble
      out.layer("index.build.gc_ms") = t.gcMs.toDouble
    }
    bytesLayers(out, idx)
  }

  def bytesLayers(out: Outcome, idx: String): Unit = {
    out.layer("index.bytes.postings") = Stat.dirBytes(s"$idx/postings").toDouble
    out.layer("index.bytes.segments") = Stat.dirBytes(s"$idx/segments").toDouble
    out.layer("index.bytes.docmap") = Stat.dirBytes(s"$idx/docmap").toDouble
  }

  /** Single-thread analyzer throughput over a fixed, seed-independent
    * corpus sample (tokens per second, median of five passes). */
  def tokensPerSecond(): Double = {
    val sample = new CorpusGen(0, new Vocab(0, Common.VocabSize, Common.ZipfExponent))
      .docs(1, 2000).map(_.content)
    val rates = (1 to 5).map { _ =>
      val (n, ms) = Stat.timeMs(sample.iterator.map(CodeTokenizer.tokenize(_).length.toLong).sum)
      n / (ms / 1000.0)
    }
    Stat.median(rates)
  }
}
