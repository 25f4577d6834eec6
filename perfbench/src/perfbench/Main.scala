package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--scale full|tiny] --work <dir>`
  *
  * Prints one `{"detail": ...}` line with the workload's own metrics and,
  * as the last line of standard output, the result object
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end set of `BENCHMARK.json`; with `--trace 1`
  * the per-layer set, and the spans are written to
  * `<work>/spans-<workload>-<seed>.jsonl`. */
object Main {

  val Workloads: Map[String, Workload] = Map(
    "ann_serve" -> AnnServe,
    "ann_bulk" -> AnnBulk,
    "ingest_mixed" -> IngestMixed,
    "curation" -> CurationWork)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(opts.getOrElse("workload", ""),
      sys.error(s"unknown workload; choose one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val scale = opts.getOrElse("scale", "full") match {
      case "full" => Scale.Full
      case "tiny" => Scale.Tiny
      case other => sys.error(s"unknown scale $other")
    }
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, trace, scale, work)
    val out =
      try {
        workload.run(ctx)
        ctx.report
      } catch {
        case e: Throwable =>
          // a crash is a failed operation, never a silent pass
          e.printStackTrace()
          ctx.report.fail(s"workload aborted: $e")
          ctx.report
      } finally {
        if (trace) Trace.writeSpans(s"$work/spans-${opts("workload")}-$seed.jsonl")
        spark.stop()
      }
    println(Json.obj(Seq("detail" -> out.detail)))
    out.failures.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val metrics = if (trace) out.perLayer else out.endToEnd
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0),
      "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, (v, unit)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> unit)
      })))
  }
}

/** Everything one run shares: the session, its inputs' seed, the measured
  * duration, the tracing switch, the scale and the result sheet. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val scale: Scale,
    val work: String) {
  val report = new Report
  /** A seed for the k-th independent stream of this run's inputs. */
  def subSeed(k: Int): Long = seed * 1000003L + k
  def dir(name: String): String = s"$work/$name"
}

trait Workload {
  def run(ctx: Ctx): Unit
}
