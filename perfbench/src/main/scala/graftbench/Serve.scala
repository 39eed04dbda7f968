package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.CollectionAccumulator

import graft.analyze.CodeTokenizer
import graft.index.SegmentBuilder
import graft.oracle.NaiveBM25
import graft.query.{BM25, QueryDsl, Wand}

/** `serve`: interactive reads over the index of a fixed generated corpus.
  * Set-up loads the corpus, opens the serving handles and warms the
  * query paths; the timed part is whole cycles of single queries (one
  * client thread, closed loop) drawn from the run's seed, then the same
  * queries again as one batch per kind. The query layer does all the
  * timed work and the index layer none.
  *
  * The corpus is large enough that the hottest term's df exceeds the
  * default `serveTargetPostings`, so WAND fans out over doc ranges. It
  * does not depend on the seed, so [[prepare]] builds its index once per
  * build of the benchmark, in a process of its own before the first run,
  * and caches the corpus and its profile next to it. The `ingest`
  * workload times index builds. */
object Serve {
  val Docs = 70000
  val CorpusSeed = 1L
  /** Cycles of single queries per run: at least this many, then whole
    * cycles while the run's seconds last. */
  val MinCycles = 2
  // the first query of a kind in a process pays code generation and JIT;
  // these cover the WAND, phrase and expansion paths
  val WarmKinds = Seq("match", "phrase", "prefix")

  final case class Served(q: Query, ms: Double, hits: Seq[Common.Hit], postings: Long)

  /** Where one build's index and corpus cache live. */
  def home(ctx: Ctx): String = ctx.dir(ctx.stamp.take(16))
  private def complete(home: String) = Paths.get(home, "_complete")

  /** Builds the index of the fixed corpus and caches the corpus, its
    * vocabulary and its profile next to it. Untimed; run once per build. */
  def prepare(ctx: Ctx): Unit = {
    val h = home(ctx)
    Stat.rmTree(h)
    Files.createDirectories(Paths.get(h))
    val vocab = new Vocab(CorpusSeed, Common.VocabSize, Common.ZipfExponent)
    val docs = new CorpusGen(CorpusSeed, vocab).docs(1, Docs)
    Common.writeParquet(ctx, docs, s"$h/corpus")
    val corpus = Common.readCorpus(ctx, s"$h/corpus")
    SegmentBuilder.ingest(ctx.spark, corpus, Common.Id, Common.Content, s"$h/index", ctx.cfg)
    SegmentBuilder.buildAll(ctx.spark, s"$h/index", ctx.cfg)
    Common.save((vocab, docs, Common.profile(docs)), s"$h/corpus.ser")
    Files.writeString(complete(h), CorpusGen.digest(docs))
    println(s"# serve index prepared in $h")
  }

  /** The DataFrame for a batch of one kind, through the engine's public
    * serving entry points. */
  def plan(ctx: Ctx, idx: String, kind: String, qs: Seq[(Int, String)],
           acc: CollectionAccumulator[java.lang.Long]): DataFrame = {
    val (spark, cfg) = (ctx.spark, ctx.cfg)
    kind match {
      case "match" => Wand.handleFor(spark, idx, cfg).topK(qs, acc)
      case "phrase" => BM25.phraseTopKIndexed(spark, idx, qs, cfg)
      case "prefix" => QueryDsl.prefixTopK(spark, idx, qs, cfg = cfg)
      case "fuzzy" => QueryDsl.fuzzyTopK(spark, idx, qs, cfg = cfg)
      case "wildcard" => QueryDsl.wildcardTopK(spark, idx, qs, cfg = cfg)
      case "qs" => QueryDsl.queryStringTopKIndexed(spark, idx, qs, cfg = cfg)
    }
  }

  def single(ctx: Ctx, idx: String, q: Query,
             acc: CollectionAccumulator[java.lang.Long]): Seq[Common.Hit] = {
    val tr = ctx.tracer
    tr.span(s"serve.${q.kind}") {
      val df = tr.span("query.plan")(plan(ctx, idx, q.kind, Seq(q.qid -> q.text), acc))
      tr.span("query.execute")(Common.hits(df))
    }
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val tr = ctx.tracer
    val cfg = ctx.cfg
    val h = home(ctx)
    val idx = s"$h/index"
    val budgetNs = ctx.seconds * 1000000000L
    if (!Files.exists(complete(h)))
      throw new IllegalStateException(s"serve index not prepared in $h (run.py prepares it)")

    // --- setup, once: a second set-up in the same process would run on a
    // warm JVM, and the run has no time for a second process ---
    val spark = ctx.spark
    val ((vocab, docs, prof), loadMs) = Stat.timeMs(tr.span("setup")(
      Common.load[(Vocab, Array[Doc], Profile)](s"$h/corpus.ser")))
    val (handle, openMs) = Stat.timeMs(tr.span("serve.handles") {
      BM25.phraseHandleFor(spark, idx, cfg)
      Wand.handleFor(spark, idx, cfg)
    })
    val warm = new QueryGen(ctx.seed + 7919, vocab, docs).cycles.next()
    val warmMs = Stat.timeMs(tr.span("serve.warm")(
      WarmKinds.foreach(k => single(ctx, idx, warm.find(_.kind == k).get, null))))._2
    val setupS = (loadMs + openMs + warmMs) / 1000.0
    println(f"# setup load_ms=$loadMs%.0f handle_open_ms=$openMs%.0f warm_ms=$warmMs%.0f")
    val digest = CorpusGen.digest(docs)
    Common.printProfile(prof, digest)
    // the generator's seed checks run in `ingest`, whose corpus the seed draws
    if (digest != Files.readString(complete(h)))
      out.fail("corpus", "cached serve corpus does not match the digest written when it was built")

    // --- timed 1: single queries ---
    def serveOne(q: Query): Served = {
      if (tr.enabled) {
        // layer probes: the analyzer's and the handle lookup's share of a
        // query, by the same calls the entry points make inside; outside
        // the query's span and timing, counted as tracing overhead
        tr.probe("analyze.query_terms")(CodeTokenizer.queryTerms(q.text))
        tr.probe("query.handle")(Wand.handleFor(spark, idx, cfg))
      }
      val acc =
        if (tr.enabled && q.kind == "match")
          spark.sparkContext.collectionAccumulator[java.lang.Long]("postings")
        else null
      val (res, ms) = Stat.timeMs(Try(single(ctx, idx, q, acc)))
      res match {
        case Success(hs) =>
          Served(q, ms, hs, if (acc == null) 0L else acc.value.asScala.map(_.longValue).sum)
        case Failure(e) =>
          out.fail(s"q${q.qid}", s"serve ${q.kind} <${q.text}>: $e")
          Served(q, ms, Nil, 0L)
      }
    }
    val gen = new QueryGen(ctx.seed, vocab, docs).cycles
    val cycles = ArrayBuffer.empty[Seq[Served]]
    val loopMs = ctx.window {
      val t0 = System.nanoTime()
      while (cycles.size < MinCycles || System.nanoTime() - t0 < budgetNs)
        cycles += gen.next().map(serveOne)
      (System.nanoTime() - t0) / 1e6
    }
    val served = cycles.flatten.toSeq

    // --- timed 2: the same queries, one batch per kind ---
    val batchHits = ArrayBuffer.empty[Common.Hit]
    val batchMs = ctx.window {
      Layers.ServeKinds.map { kind =>
        val qs = served.filter(_.q.kind == kind).map(s => s.q.qid -> s.q.text)
        val (res, ms) = Stat.timeMs(Try(tr.span("serve.batch")(
          Common.hits(plan(ctx, idx, kind, qs, null)))))
        res match {
          case Success(hs) => batchHits ++= hs
          case Failure(e) => out.fail(s"batch.$kind", s"serve $kind batch: $e")
        }
        ms
      }
    }
    out.attempted = served.size.toLong + Layers.ServeKinds.size
    val tChecks = System.nanoTime()

    // --- correctness (untimed) ---
    val k = cfg.topK
    served.foreach { s =>
      Common.wellFormed(s.hits, k)
        .foreach(m => out.fail(s"q${s.q.qid}", s"serve ${s.q.kind} <${s.q.text}>: $m"))
    }
    served.foreach { s =>
      if (batchHits.filter(_.qid == s.q.qid) != s.hits)
        out.fail(s"q${s.q.qid}", s"serve ${s.q.kind} <${s.q.text}>: batch result differs from single")
    }
    val pairs = docs.toSeq.map(d => (d.doc_id, d.content))
    val rng = new java.util.SplittableRandom(ctx.seed * 17 + 3)
    def sample(kind: String): Served = {
      val ss = served.filter(_.q.kind == kind)
      ss(rng.nextInt(ss.size))
    }
    val m = sample("match")
    Common.sameAsOracle(m.hits, NaiveBM25.topK(pairs, m.q.text, k))
      .foreach(e => out.fail(s"q${m.q.qid}", s"serve match <${m.q.text}> vs NaiveBM25: $e"))
    val p = sample("phrase")
    Common.sameAsOracle(p.hits, NaiveBM25.phraseTopK(pairs, p.q.text, k))
      .foreach(e => out.fail(s"q${p.q.qid}", s"serve phrase <${p.q.text}> vs NaiveBM25: $e"))

    // --- workload properties ---
    val seen = scala.collection.mutable.Set.empty[String]
    val repeated = served.count { s =>
      val rep = s.q.terms.nonEmpty && s.q.terms.forall(seen.contains)
      seen ++= s.q.terms
      rep
    }
    val hot = served.count(_.q.terms.exists(prof.topBand.contains))
    println(f"# queries n=${served.size} cycles=${cycles.size} " +
      f"terms_seen_before_share=${repeated.toDouble / served.size}%.3f " +
      f"top1pct_df_share=${hot.toDouble / served.size}%.3f wand_ranges=${handle.serveRanges}")
    Layers.ServeKinds.foreach { kind =>
      println(s"# latency_ms $kind " + served.filter(_.q.kind == kind).map(s => f"${s.ms}%.0f").mkString(","))
    }
    println("# latency_ms batches " + batchMs.map(ms => f"$ms%.0f").mkString(","))
    println(f"# checks_ms ${(System.nanoTime() - tChecks) / 1e6}%.0f")

    // --- metrics ---
    val lat = served.map(_.ms)
    val batchQps = served.size / (batchMs.sum / 1000.0)
    out.e2e("setup_s") = setupS
    out.e2e("op_mean_ms") = lat.sum / lat.size
    out.e2e("throughput") = batchQps
    out.named("query_p50_ms") = (Stat.pct(lat, 50), "ms")
    out.named("query_p90_ms") = (Stat.pct(lat, 90), "ms")
    out.named("query_qps") = (served.size / (loopMs / 1000.0), "queries/s")
    out.named("batch_qps") = (batchQps, "queries/s")
    out.named("index_bytes_ratio") = (Stat.dirBytes(idx) / prof.textBytes.toDouble, "ratio")

    if (tr.enabled) layers(ctx, out, idx, handle, served)
  }

  /** Per-layer metrics of a traced run. */
  private def layers(ctx: Ctx, out: Outcome, idx: String, h: Wand.Handle,
                     served: Seq[Served]): Unit = {
    val v = new TraceView(ctx.tracer)
    val (t0, t1) = ctx.windows.head
    def inLoop(s: Span) = s.startNs >= t0 && s.endNs <= t1
    def med(xs: Seq[Double]) = Stat.median(xs)
    Layers.ServeKinds.foreach { k =>
      val ss = v.named(s"serve.$k").filter(inLoop)
      out.layer(s"serve.$k.ms_p50") = med(ss.map(_.ms))
      out.layer(s"serve.$k.jobs") = med(ss.map(s => v.jobsOf(s).size.toDouble))
    }
    out.layer("query.handle.ms") = med(v.named("query.handle").filter(inLoop).map(_.ms))
    val plans = v.named("query.plan").filter(inLoop)
    out.layer("query.plan.ms_p50") = med(plans.map(_.ms))
    out.layer("analyze.query_terms_us") =
      med(v.named("analyze.query_terms").filter(inLoop).map(_.ms * 1000.0))
    // the prefix, fuzzy and wildcard entry points expand eagerly, so the
    // jobs of their DataFrame construction are the expansion
    val expandJobs = plans
      .filter(p => Seq("serve.prefix", "serve.fuzzy", "serve.wildcard").contains(v.parentName(p)))
      .map(v.jobsOf)
    out.layer("query.expand.ms_p50") = med(expandJobs.map(_.map(_.ms).sum))
    out.layer("query.expand.jobs") = med(expandJobs.map(_.size.toDouble))
    val scanned = med(expandJobs.map(_.map(j => v.cachedRowsByJob.getOrElse(j.jobId, 0L)).sum.toDouble))
    out.layer("query.expand.dict_rows_scanned") = scanned
    // terms per pattern: the loop's expansion patterns through the
    // handle's expansion calls, outside the timed windows
    def texts(kind: String) = served.filter(_.q.kind == kind).map(_.q.text.trim.toLowerCase)
    val terms = ctx.tracer.span("probe.expand") {
      h.expandPrefixBatch(texts("prefix"), QueryDsl.MaxExpansions).values.map(_.size).toSeq ++
        h.expandFuzzyBatch(texts("fuzzy").map(t => (t, QueryDsl.autoFuzziness(t))), QueryDsl.MaxExpansions)
          .values.map(_.size) ++
        texts("wildcard").map(w => h.expandWildcard(w, QueryDsl.MaxExpansions).size)
    }
    val perPattern = if (terms.isEmpty) 0.0 else terms.sum.toDouble / terms.size
    out.layer("query.expand.terms_per_pattern") = perPattern
    out.layer("query.expand.useful_ratio") = if (scanned > 0) perPattern / scanned else 0.0
    val execs = v.named("query.execute").filter(inLoop)
    out.layer("query.execute.ms_p50") = med(execs.map(_.ms))
    out.layer("query.execute.tasks") = med(execs.map(s => v.sums(s).tasks.toDouble))
    out.layer("query.execute.input_bytes") = med(execs.map(s => v.sums(s).inputBytes.toDouble))
    out.layer("query.execute.shuffle_bytes") = med(execs.map(s => v.sums(s).shuffleBytes.toDouble))
    out.layer("query.wand.postings_scored") =
      med(served.filter(_.q.kind == "match").map(_.postings.toDouble))
    out.layer("query.wand.ranges") = h.serveRanges.toDouble

    Index.bytesLayers(out, idx)
    v.report(out, ctx.windows.toSeq, ctx.dir("trace.jsonl"))
  }
}
