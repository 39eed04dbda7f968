package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import graft.index.SegmentBuilder
import graft.query.Wand

/** `ingest`: the batch side. The seeded corpus and its micro-batch are
  * written to parquet in set-up, so generation is never timed. Timed, a
  * fixed amount of work whatever the run's seconds:
  *   1. writes: `ingest` + `buildAll`, one micro-batch refresh
  *      (`appendDocs`, `buildAll` of the touched shards, one needle query
  *      that opens the serving handle on the new segments), then
  *      `compactShards` (concurrency 4, as the CLI);
  *   2. analytics: one round of the DSL battery over the raw corpus frame.
  * The analyzer and index layers do the writes; the corpus-scoring path
  * does the analytics and the index layer none of it.
  *
  * One refresh, not several: a second serving handle opened after a
  * second rebuild in one session serves the first handle's stale term
  * metadata (see the README), so a second needle check would fail until
  * the engine is fixed. */
object Ingest {
  val Docs = 10000
  val BatchDocs = 500
  val NeedlesPerBatch = 5
  val SetupRepeats = 3

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val idx = ctx.dir("index")
    val needle = CorpusGen.needle("batch", 0)

    // --- setup, repeated: corpus and micro-batch -> parquet ---
    var docs: Array[Doc] = Array.empty
    var vocab: Vocab = null
    var planted = Set.empty[Long]
    val setupMs = (1 to SetupRepeats).map { _ =>
      Stat.timeMs(tr.span("setup") {
        vocab = new Vocab(ctx.seed, Common.VocabSize, Common.ZipfExponent)
        val gen = new CorpusGen(ctx.seed, vocab)
        docs = gen.docs(1, Docs)
        Common.writeParquet(ctx, docs, ctx.dir("corpus"))
        val rng = new java.util.SplittableRandom(ctx.seed * 31 + 7)
        val first = Docs + 1L
        planted = Iterator.continually(first + rng.nextInt(BatchDocs)).distinct
          .take(NeedlesPerBatch).toSet
        val batch = gen.docs(first, BatchDocs, id => if (planted(id)) Some(needle) else None)
        Common.writeParquet(ctx, batch, ctx.dir("batch"))
      })._2
    }
    val prof = Common.profile(docs)
    Common.printProfile(prof, CorpusGen.digest(docs))
    Common.checkDigests(ctx.seed, out, docs)
    Stat.rmTree(idx)
    val corpus = Common.readCorpus(ctx, ctx.dir("corpus"))
    val batch = Common.readCorpus(ctx, ctx.dir("batch"))

    // --- timed 1: writes ---
    var built = 0
    var rebuilt = 0
    var rewritten = Seq.empty[Int]
    var bytesRewritten = 0L
    var (ingestMs, buildMs, appendMs, rebuildMs, queryMs, compactMs) = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    ctx.window {
      ingestMs = Common.timed(ctx, "index.ingest")(
        SegmentBuilder.ingest(spark, corpus, Common.Id, Common.Content, idx, ctx.cfg))
      buildMs = Common.timed(ctx, "index.build") {
        built = SegmentBuilder.buildAll(spark, idx, ctx.cfg).size
      }
      appendMs = Common.timed(ctx, "index.append")(
        SegmentBuilder.appendDocs(spark, batch, Common.Id, Common.Content, idx, ctx.cfg))
      rebuildMs = Common.timed(ctx, "index.rebuild") {
        rebuilt = SegmentBuilder.buildAll(spark, idx, ctx.cfg).size
      }
      val (res, ms) = Stat.timeMs(Try(tr.span("query.after_write") {
        val h = tr.span("query.after_write.handle")(Wand.handleFor(spark, idx, ctx.cfg))
        Common.hits(h.topK(Seq(1 -> needle)))
      }))
      queryMs = ms
      res match {
        case Success(hs) =>
          val got = hs.map(_.docId).toSet
          if (got != planted)
            out.fail("needle", s"after the refresh the needle query returned " +
              s"${got.toSeq.sorted.mkString(",")}, planted ${planted.toSeq.sorted.mkString(",")}")
        case Failure(e) => out.fail("needle", s"needle query after the refresh: $e")
      }
      val shardBytes = (0 until ctx.cfg.shards).map(s => s -> Stat.dirBytes(s"$idx/postings/shard=$s")).toMap
      compactMs = Common.timed(ctx, "index.compact") {
        rewritten = SegmentBuilder.compactShards(spark, idx, 0 until ctx.cfg.shards, ctx.cfg,
          concurrency = 4)
      }
      bytesRewritten = rewritten.map(shardBytes).sum
    }
    val indexBytes = Stat.dirBytes(idx)

    // --- timed 2: analytics battery over the raw corpus ---
    val ops = ArrayBuffer.empty[Analytics.Op]
    val roundMs = ctx.window(Analytics.round(ctx, out, corpus, docs, vocab, prof, ops))
    out.attempted = 6L + ops.size

    // --- correctness (untimed) ---
    val docmapRows = tr.span("check")(spark.read.parquet(s"$idx/docmap").count())
    if (docmapRows != Docs + BatchDocs)
      out.fail("docmap", s"docmap has $docmapRows rows, expected ${Docs + BatchDocs}")

    println(f"# writes base_docs=$Docs appended_docs=$BatchDocs shards_rebuilt=$rebuilt " +
      f"shards_rewritten=${rewritten.size} index_bytes=$indexBytes")
    println("# latency_ms writes " + Seq(ingestMs, buildMs, appendMs, rebuildMs, queryMs, compactMs)
      .map(ms => f"$ms%.0f").mkString(","))
    ops.foreach(o => println(f"# latency_ms ${o.name} ${o.ms}%.0f"))

    // --- metrics ---
    // every timed engine call: the writes, then the analytics operations
    val opMs = Seq(ingestMs, buildMs, appendMs, rebuildMs, queryMs, compactMs) ++ ops.map(_.ms)
    val writeMs = ingestMs + buildMs + appendMs + rebuildMs
    out.e2e("setup_s") = Stat.median(setupMs) / 1000.0
    out.e2e("op_mean_ms") = opMs.sum / opMs.size
    out.e2e("throughput") = (Docs + BatchDocs) / (writeMs / 1000.0)
    out.named("build_docs_per_s") = (Docs / ((ingestMs + buildMs) / 1000.0), "docs/s")
    out.named("refresh_s") = ((appendMs + rebuildMs) / 1000.0, "s")
    out.named("query_after_write_ms") = (queryMs, "ms")
    out.named("compact_s") = (compactMs / 1000.0, "s")
    out.named("index_bytes_ratio") = (indexBytes / prof.textBytes.toDouble, "ratio")
    out.named("analytics_s") = (roundMs / 1000.0, "s")

    if (tr.enabled) {
      val v = new TraceView(tr)
      Index.buildLayers(v, out, idx, built)
      // after the timed windows, so its passes do not warm the analyzer
      // for the timed writes
      out.layer("analyze.tokens_per_s") = Index.tokensPerSecond()
      out.layer("index.append.s") = appendMs / 1000.0
      out.layer("index.append.jobs") = v.named("index.append").map(v.jobsOf(_).size).sum.toDouble
      out.layer("index.rebuild.s") = rebuildMs / 1000.0
      out.layer("index.rebuild.shards_rebuilt") = rebuilt.toDouble
      out.layer("query.after_write.handle_ms") = v.named("query.after_write.handle").map(_.ms).sum
      out.layer("query.after_write.jobs") =
        v.named("query.after_write").map(v.jobsOf(_).size).sum.toDouble
      out.layer("index.compact.s") = compactMs / 1000.0
      out.layer("index.compact.shards_rewritten") = rewritten.size.toDouble
      out.layer("index.compact.bytes_rewritten") = bytesRewritten.toDouble
      Analytics.layers(v, out, Docs)
      v.report(out, ctx.windows.toSeq, ctx.dir("trace.jsonl"))
    }
  }
}
