package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a call from the benchmark into an engine layer. Spans nest
  * by the single client thread's call stack. */
final class Span(val id: Int, val parent: Int, val name: String,
                 var startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task metrics summed over the tasks of some set of stages. */
final class TaskSums {
  var tasks = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** A Spark job as the listener saw it. `span` is the span that caused
  * it after attribution, or -1 when no span was open (`unattributed`). */
final class JobRec(val jobId: Int, val submitMs: Long, val propSpan: Int,
                   val callSite: String) {
  @volatile var endMs: Long = -1L
  var span: Int = -1
  var byTime = false
  val sums = new TaskSums
  def ms: Double = if (endMs < 0) 0.0 else (endMs - submitMs).toDouble
}

/** In-memory tracer. Spans are recorded around each call the benchmark
  * makes into an engine layer; the span id travels to Spark as a local
  * property of the calling thread, so the listener can attribute every
  * job (and its tasks' metrics) to the span that submitted it. Jobs the
  * engine submits from its own pool threads may carry a stale or no
  * property; those are attributed to the innermost span open at their
  * submission time (the benchmark has one client thread, so that span
  * is the caller), and jobs outside every span count as `unattributed`.
  * When disabled, `span` only runs its body. */
final class Tracer(val spark: SparkSession, val enabled: Boolean) extends SparkListener {
  private val SpanKey = "graftbench.span"
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSums = new ConcurrentHashMap[Int, TaskSums]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var taskEvents = 0L
  // time spent in tracing code: span bookkeeping and probes on the
  // calling thread, event handling on Spark's listener thread
  private var clientNs = 0L
  private var probeNs = 0L
  @volatile private var listenerNs = 0L

  if (enabled) spark.sparkContext.addSparkListener(this)

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanKey)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        0L, System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      sc.setJobDescription(name)
      s.startNs = System.nanoTime()
      clientNs += s.startNs - t0
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prevProp)
        sc.setJobDescription(prevDesc)
        clientNs += System.nanoTime() - s.endNs
      }
    }

  /** A span around an engine call that only a traced run makes, to
    * measure one layer on its own; its time counts as tracing overhead. */
  def probe[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try span(name)(f) finally probeNs += System.nanoTime() - t0
  }

  /** Nanoseconds spent in tracing code so far, on both threads. */
  def overheadNs: Long = clientNs + probeNs + listenerNs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(-1)
    // the stages' call sites name the engine method that ran the job
    val site = e.stageInfos.map(_.details).mkString("\n")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, sp, site))
    e.stageIds.foreach(st => stageJob.putIfAbsent(st, e.jobId))
    started += 1
    listenerNs += System.nanoTime() - t0
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    val s = stageSums.computeIfAbsent(e.stageId, _ => new TaskSums)
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
    taskEvents += 1
    listenerNs += System.nanoTime() - t0
  }

  /** Waits (bounded) until the asynchronous listener bus has delivered
    * every event of the jobs submitted so far. */
  def drain(): Unit = if (enabled) {
    var quiet = 0
    var spins = 0
    var last = (started, ended, taskEvents)
    while (quiet < 3 && spins < 100) {
      Thread.sleep(50)
      val cur = (started, ended, taskEvents)
      quiet = if (cur == last && cur._1 == cur._2) quiet + 1 else 0
      last = cur
      spins += 1
    }
  }

  /** Attributes every job to a span and sums its stages' task metrics.
    * Call once, after [[drain]]. */
  def attributed(): Seq[JobRec] = {
    val byId = spans.map(s => s.id -> s).toMap
    def open(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
    def innermostAt(t: Long): Int = {
      val c = spans.filter(open(_, t))
      if (c.isEmpty) -1 else c.maxBy(_.startNs).id
    }
    val all = jobs.values().asScala.toSeq.sortBy(_.jobId)
    all.foreach { j =>
      byId.get(j.propSpan) match {
        case Some(s) if open(s, j.submitMs) => j.span = s.id
        case _ =>
          j.span = innermostAt(j.submitMs)
          j.byTime = j.span >= 0
      }
    }
    stageSums.asScala.foreach { case (st, sums) =>
      Option(stageJob.get(st)).flatMap(id => Option(jobs.get(id))).foreach(_.sums.add(sums))
    }
    all
  }

  /** Span duration minus the time its direct children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def close(): Unit = if (enabled) spark.sparkContext.removeSparkListener(this)
}
