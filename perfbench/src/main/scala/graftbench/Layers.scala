package graftbench

/** The per-layer metric catalog (what a traced run prints, every name on
  * every workload; a layer the workload does not exercise reads 0) and
  * the views over recorded spans that compute them. Layer names follow
  * the engine's modules: analyze, index, query, plus the benchmark's own
  * serve/analytics roots and the tracer itself. */
object Layers {
  val ServeKinds = Seq("match", "phrase", "prefix", "fuzzy", "wildcard", "qs")
  val AnalyticsOps = Seq("bm25_topk", "bool_topk", "query_string_topk", "terms_agg",
    "highlight_topk", "mlt_topk")

  /** (name, unit), as BENCHMARK.json declares them. */
  val all: Seq[(String, String)] =
    ServeKinds.flatMap(k => Seq((s"serve.$k.ms_p50", "ms"),
      (s"serve.$k.jobs", "count"))) ++ Seq(
    ("query.handle.ms", "ms"),
    ("query.plan.ms_p50", "ms"),
    ("analyze.query_terms_us", "us"),
    ("query.expand.ms_p50", "ms"),
    ("query.expand.jobs", "count"),
    ("query.expand.terms_per_pattern", "count"),
    ("query.expand.dict_rows_scanned", "count"),
    ("query.expand.useful_ratio", "ratio"),
    ("query.execute.ms_p50", "ms"),
    ("query.execute.tasks", "count"),
    ("query.execute.input_bytes", "B"),
    ("query.execute.shuffle_bytes", "B"),
    ("query.wand.postings_scored", "count"),
    ("query.wand.ranges", "count"),
    ("index.ingest.s", "s"),
    ("index.ingest.tasks", "count"),
    ("index.ingest.shuffle_bytes", "B"),
    ("index.ingest.spill_bytes", "B"),
    ("index.ingest.gc_ms", "ms"),
    ("index.build.s", "s"),
    ("index.build.shards_built", "count"),
    ("index.build.shuffle_bytes", "B"),
    ("index.build.spill_bytes", "B"),
    ("index.build.gc_ms", "ms"),
    ("analyze.tokens_per_s", "1/s"),
    ("index.append.s", "s"),
    ("index.append.jobs", "count"),
    ("index.rebuild.s", "s"),
    ("index.rebuild.shards_rebuilt", "count"),
    ("query.after_write.handle_ms", "ms"),
    ("query.after_write.jobs", "count"),
    ("index.compact.s", "s"),
    ("index.compact.shards_rewritten", "count"),
    ("index.compact.bytes_rewritten", "B"),
    ("index.bytes.postings", "B"),
    ("index.bytes.segments", "B"),
    ("index.bytes.docmap", "B")) ++
    AnalyticsOps.flatMap(op => Seq((s"analytics.$op.s", "s"),
      (s"analytics.$op.jobs", "count"),
      (s"analytics.$op.shuffle_bytes", "B"),
      (s"analytics.$op.corpus_passes", "count"))) ++ Seq(
    ("query.corpus_stats.s", "s"),
    ("trace.span_coverage", "ratio"),
    ("trace.overhead_pct", "%"),
    ("trace.jobs", "count"),
    ("trace.jobs_by_time", "count"),
    ("trace.unattributed_jobs", "count"))

}

/** Read-only view over a finished trace: span subtrees, the jobs each
  * subtree caused, and their summed task metrics. */
final class TraceView(tr: Tracer) {
  tr.drain()
  val jobs: Seq[JobRec] = tr.attributed()
  private val children = tr.spans.toSeq.groupBy(_.parent)
  private val jobsBySpan = jobs.groupBy(_.span)

  def named(n: String): Seq[Span] = tr.spans.toSeq.filter(_.name == n)
  def parentName(s: Span): String = if (s.parent < 0) "" else tr.spans(s.parent).name
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  def jobsOf(s: Span): Seq[JobRec] = subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))
  def sums(s: Span): TaskSums = {
    val t = new TaskSums
    jobsOf(s).foreach(j => t.add(j.sums))
    t
  }
  def selfMs(s: Span): Double = tr.selfMs(s)

  /** Rows read from cached (in-memory) tables by the SQL execution each
    * job ran in, keyed by the execution's first job: the SQL plan
    * metrics count these rows, where task input metrics count cached
    * batches. */
  lazy val cachedRowsByJob: Map[Int, Long] = {
    val store = tr.spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    store.executionsList().flatMap { e =>
      val accs = store.planGraph(e.executionId).allNodes
        .filter(_.name == "InMemoryTableScan")
        .flatMap(_.metrics.filter(_.name == "number of output rows").map(_.accumulatorId))
      val values: Map[Long, String] =
        if (accs.isEmpty) Map.empty
        else store.executionMetrics(e.executionId).map { case (k, v) => k.asInstanceOf[Long] -> v }
      val rows = accs.flatMap(values.get).map(_.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong).sum
      if (rows == 0) None else e.jobs.keys.map(_.asInstanceOf[Int]).minOption.map(_ -> rows)
    }.toMap
  }

  /** Share of the timed windows' wall time that top-level spans cover. */
  def coverage(windows: Seq[(Long, Long)]): Double = {
    val wall = windows.map { case (a, b) => b - a }.sum.toDouble
    val covered = tr.spans.iterator.filter(_.parent < 0).map { s =>
      windows.map { case (a, b) => math.max(0L, math.min(b, s.endNs) - math.max(a, s.startNs)) }.sum
    }.sum
    if (wall <= 0) 0.0 else covered / wall
  }

  /** Common trace health metrics, plus the spans as JSON lines. */
  def report(out: Outcome, windows: Seq[(Long, Long)], path: String): Unit = {
    out.layer("trace.span_coverage") = coverage(windows)
    val traced = tr.spans.iterator.filter(_.parent < 0).map(s => s.endNs - s.startNs).sum
    out.layer("trace.overhead_pct") = if (traced <= 0) 0.0 else 100.0 * tr.overheadNs / traced
    out.layer("trace.jobs") = jobs.size.toDouble
    out.layer("trace.jobs_by_time") = jobs.count(_.byTime).toDouble
    out.layer("trace.unattributed_jobs") = jobs.count(_.span < 0).toDouble
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      tr.spans.foreach { s =>
        val t = sums(s)
        w.println(s"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""start_ns": ${s.startNs}, "ms": ${Json.num(s.ms)}, "self_ms": ${Json.num(selfMs(s))}, """ +
          s""""jobs": ${jobsOf(s).size}, "tasks": ${t.tasks}, "input_bytes": ${t.inputBytes}, """ +
          s""""input_records": ${t.inputRecords}, "shuffle_bytes": ${t.shuffleBytes}, """ +
          s""""spill_bytes": ${t.spillBytes}, "gc_ms": ${t.gcMs}}""")
      }
      jobs.foreach { j =>
        w.println(s"""{"job": ${j.jobId}, "span": ${j.span}, "by_time": ${j.byTime}, """ +
          s""""ms": ${Json.num(j.ms)}, "tasks": ${j.sums.tasks}, """ +
          s""""call_site": ${Json.str(j.callSite.linesIterator.take(4).mkString(" | "))}}""")
      }
    } finally w.close()
    println(s"# trace spans=${tr.spans.size} jobs=${jobs.size} " +
      s"unattributed=${jobs.count(_.span < 0)} written to $path")
    // self time per span name: where the traced wall time went
    tr.spans.groupBy(_.name).toSeq.sortBy(-_._2.map(selfMs).sum).foreach { case (n, ss) =>
      println(f"# self_ms $n%-28s ${ss.map(selfMs).sum}%10.1f over ${ss.size}%d spans")
    }
  }
}
