package perfbench

import scala.collection.mutable

/** The result sheet of one run: operation counts, failed checks, the
  * end-to-end metrics, the per-layer metrics and the workload's detail. */
final class Report {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  private val failureLog = new java.util.concurrent.ConcurrentLinkedQueue[String]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def failures: Seq[String] = { import scala.jdk.CollectionConverters._; failureLog.asScala.toSeq }

  /** One operation whose outcome is `problems` (empty = correct). */
  def op(problems: Seq[String]): Boolean = {
    attemptedN.incrementAndGet()
    if (problems.isEmpty) true
    else { fail(problems.take(3).mkString("; ")); false }
  }
  def fail(msg: String): Unit = synchronized {
    failedN.incrementAndGet()
    failureLog.add(msg)
  }

  def setE2e(name: String, v: Double): Unit = synchronized {
    require(Metrics.EndToEnd.contains(name), s"undeclared end-to-end metric $name")
    e2e(name) = v
  }
  def setLayer(name: String, v: Double): Unit = synchronized {
    require(Metrics.PerLayer.contains(name), s"undeclared per-layer metric $name")
    layers(name) = v
  }

  /** Every declared end-to-end metric, in declaration order. A metric the
    * workload did not produce is a failure, not a silent zero. */
  def endToEnd: mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    Metrics.EndToEnd.foreach { case (n, u) =>
      e2e.get(n) match {
        case Some(v) => out(n) = (v, u)
        case None => fail(s"end-to-end metric $n was not measured"); out(n) = (0.0, u)
      }
    }
    out
  }

  /** Every declared per-layer metric; a layer the workload does not
    * exercise did no work, and reads 0. */
  def perLayer: mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    Metrics.PerLayer.foreach { case (n, u) => out(n) = (layers.getOrElse(n, 0.0), u) }
    out
  }
}

/** The metric names and units `BENCHMARK.json` declares. */
object Metrics {
  val EndToEnd: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "p50_ms" -> "ms",
    "quality_ratio" -> "ratio",
    "cache_mb" -> "MB")

  val PerLayer: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap(
    "api.construct_ms" -> "ms",
    "api.jobs_before_exec" -> "count",
    "plans.optimizer_ms" -> "ms",
    "plans.optimizer_runs" -> "count",
    "plans.plan_ms" -> "ms",
    "plans.rewrite_hit_ratio" -> "ratio",
    "spark.exec_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms",
    "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.deser_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B/query",
    "spark.shuffle_read_bytes" -> "B/query",
    "spark.codegen_compiles" -> "count",
    "spark.codegen_ms" -> "ms",
    "index.rows_scanned_per_result" -> "ratio",
    "index.pairs_scored" -> "count",
    "index.list_imbalance" -> "ratio",
    "functions.l2_ns_per_pair" -> "ns",
    "functions.l2_unsafe_ns_per_pair" -> "ns",
    "functions.ip_ns_per_pair" -> "ns",
    "functions.cosine_ns_per_pair" -> "ns",
    "functions.topk_insert_ns" -> "ns",
    "functions.probe_us_per_query" -> "us",
    "functions.flops_per_pair" -> "count",
    "functions.bytes_per_pair" -> "B",
    "functions.kernel_share" -> "ratio",
    "kmeans.train_s" -> "s",
    "index.assign_write_s" -> "s",
    "storage.files_per_list" -> "ratio",
    "storage.bytes_written_per_user_byte" -> "ratio",
    "pipeline.quality_ms" -> "ms",
    "pipeline.exact_dedup_ms" -> "ms",
    "pipeline.minhash_ms" -> "ms",
    "pipeline.contamination_ms" -> "ms",
    "pipeline.candidate_pairs" -> "count",
    "pipeline.pair_precision" -> "ratio",
    "jvm.gc_ms" -> "ms",
    "jvm.jit_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "trace.self_bench_ms" -> "ms",
    "trace.self_api_ms" -> "ms",
    "trace.self_plans_ms" -> "ms",
    "trace.self_exec_driver_ms" -> "ms",
    "trace.self_stages_ms" -> "ms",
    "trace.overhead_pct" -> "%")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, but not
    * below the median: (value, percentile). Under twenty samples that is
    * the median itself; the sample count goes out beside it. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of nothing")
    val n = xs.length
    if (n < 20) (median(xs), 50.0)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** A minimal JSON writer for the result lines. */
object Json {
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
