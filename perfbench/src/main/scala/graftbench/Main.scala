package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.config.EngineConfig

/** What a workload hands back: the gated end-to-end metrics, the
  * workload's own named metrics (printed, not gated), and the per-layer
  * metrics of a traced run. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Operations that failed or returned a wrong result, by op key. */
  val failedOps = mutable.LinkedHashSet.empty[String]
  def fail(op: String, msg: String): Unit = {
    failures += msg
    failedOps += op
  }
}

/** Shared run context. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Int, val stamp: String) {
  val cfg: EngineConfig = EngineConfig.default
  def dir(name: String): String = Paths.get(work, name).toString
  /** Wall-clock windows of the timed phases (for span coverage). */
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  def window[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally windows += ((t0, System.nanoTime()))
  }
}

object Main {

  /** Gated end-to-end metrics (name, unit): every workload reports each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rss_peak_mb" -> "MB", "op_mean_ms" -> "ms", "throughput" -> "1/s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")
    Files.createDirectories(Paths.get(work))

    println(s"# graftbench workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"nproc=${opts.getOrElse("nproc", "?")} mem_mb=${opts.getOrElse("mem-mb", "?")} " +
      s"commit=${opts.getOrElse("commit", "unknown")}")
    println(s"# config ${EngineConfig.default}")

    // the CLI's own session: local[*], its shuffle width, UTC
    val spark = graft.cli.Main.session("graft-perfbench")
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, work, seed, seconds, opts.getOrElse("stamp", "nostamp"))
    if (opts.get("prepare").contains("1")) {
      Serve.prepare(ctx)
      spark.stop()
      sys.exit(0)
    }
    val out = new Outcome
    val ok =
      try {
        workload match {
          case "serve" => Serve.run(ctx, out)
          case "ingest" => Ingest.run(ctx, out)
        }
        true
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          out.fail("workload", s"workload aborted: $e")
          false
      }
    tracer.close()
    spark.stop()

    out.e2e("rss_peak_mb") = rssPeakMb()
    out.named("rss_peak_mb") = (out.e2e("rss_peak_mb"), "MB")
    out.named("setup_s") = (out.e2e.getOrElse("setup_s", 0.0), "s")
    val failed = out.failedOps.size.toLong
    val attempted = math.max(failed, math.max(1L, out.attempted))
    out.named("error_rate") = (failed.toDouble / attempted, "fraction")
    out.failures.foreach(f => println(s"# FAIL $f"))
    out.named.foreach { case (k, (v, u)) => println(f"metric $k%-28s $v%.6g $u") }
    val correct = ok && failed == 0
    EndToEnd.foreach { case (n, u) => println(f"e2e $n%-31s ${out.e2e.getOrElse(n, 0.0)}%.6g $u") }
    val metrics =
      if (trace) Layers.all.map { case (n, u) => n -> (out.layer.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => n -> (out.e2e.getOrElse(n, 0.0), u) }
    if (trace) metrics.foreach { case (k, (v, u)) => println(f"layer $k%-44s $v%.6g $u") }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Percentiles and timing helpers. */
object Stat {
  /** Nearest-rank percentile, p in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
  def rmTree(path: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
}
