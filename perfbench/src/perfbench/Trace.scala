package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spans recorded from the benchmark's side of each call into graft. A
  * span has a name, start, end and parent; every span of one request
  * carries that request's id, which is also the request's Spark job
  * group. Spans stay in memory and are written when the run ends. */
object Trace {
  final case class Span(
      id: Long, parent: Long, name: String, request: String,
      startUs: Long, endUs: Long) {
    def ms: Double = (endUs - startUs) / 1000.0
  }

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L

  /** Wall-clock microseconds on a monotonic base, comparable with Spark's
    * listener event times (epoch milliseconds). */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](name: String, request: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val start = nowUs
    try body
    finally {
      stack.set(parents)
      spans.add(Span(id, parents.headOption.getOrElse(0L), name, request, start, nowUs))
    }
  }

  def add(name: String, request: String, parent: Long, startUs: Long, endUs: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, name, request, startUs, endUs)
    spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "request" -> s.request, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    } finally w.close()
  }
}

/** Execution counters per job group, from a listener the benchmark
  * registers. Job groups tell the requests of concurrent clients apart. */
final class BenchListener extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var inputRecords = 0L
    var launchWaitMs = 0L
    val jobStartsMs = mutable.ArrayBuffer.empty[Long]
  }
  final case class StageRun(group: String, submitMs: Long, completeMs: Long)

  private val groups = mutable.HashMap.empty[String, Agg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageRuns = mutable.ArrayBuffer.empty[StageRun]
  @volatile private var lastJobGroup: String = ""

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    val a = groups.getOrElseUpdate(g, new Agg)
    a.jobs += 1
    a.jobStartsMs += e.time
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    lastJobGroup = g
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "")
    groups.getOrElseUpdate(g, new Agg).stages += 1
    for (s <- info.submissionTime; c <- info.completionTime) stageRuns += StageRun(g, s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val a = groups.getOrElseUpdate(g, new Agg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.inputRecords += m.inputMetrics.recordsRead
    }
    stageSubmit.get(e.stageId).foreach { s =>
      a.launchWaitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
  }

  def agg(group: String): Option[Agg] = synchronized(groups.get(group))
  def stagesOf(group: String): Seq[StageRun] = synchronized(stageRuns.filter(_.group == group).toSeq)

  /** Returns once every event posted before the call has been delivered:
    * the listener bus is first-in first-out, so seeing the start of a
    * marker job means all earlier events have arrived. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val marker = s"drain-${System.nanoTime()}"
    sc.setJobGroup(marker, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (lastJobGroup != marker && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

/** Process-wide counters read before and after a measured phase: Spark's
  * codegen compile histogram, the Catalyst rule executor's meter, and the
  * JVM's collectors, JIT compiler and heap pools. */
final case class Counters(
    codegenCount: Long, codegenMs: Double,
    optimizerNs: Long, optimizerRuns: Long,
    gcMs: Long, jitMs: Long) {
  def -(o: Counters): Counters = Counters(
    codegenCount - o.codegenCount, codegenMs - o.codegenMs,
    optimizerNs - o.optimizerNs, optimizerRuns - o.optimizerRuns,
    gcMs - o.gcMs, jitMs - o.jitMs)
}

object Counters {
  import java.lang.management.ManagementFactory

  def now(): Counters = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val rules = org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
    Counters(
      cg.getCount, cg.getSnapshot.getValues.sum.toDouble,
      rules.time, rules.numRuns,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Megabytes the block managers hold: cached blocks and live
    * broadcasts. Broadcasts nothing references any more are dropped by
    * Spark's cleaner only after a GC finds them, so a GC and a pause for
    * the cleaner come first; otherwise the figure depends on GC timing. */
  def cacheMb(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(500)
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
  }
}

/** One request as the traced run saw it. */
final case class RequestRec(
    id: String, kind: String, traced: Boolean, queries: Int,
    ms: Double, constructMs: Double, planMs: Double, execMs: Double,
    execStartUs: Long)

/** Runs requests: a DataFrame is constructed (the call into graft returns
  * it), planned and executed. In a traced run every other request of a
  * kind carries spans and a job group, so traced and untraced requests of
  * the same run give the tracing overhead. */
final class Requests(ctx: Ctx) {
  private val seq = new AtomicLong
  private val perKind = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  val recs = new ConcurrentLinkedQueue[RequestRec]
  val listener: Option[BenchListener] =
    if (ctx.trace) {
      val l = new BenchListener
      ctx.spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  private def nextTraced(kind: String): Boolean =
    ctx.trace && perKind.computeIfAbsent(kind, _ => new AtomicLong).getAndIncrement() % 2 == 0

  /** Construct, plan and execute one DataFrame request; returns its rows,
    * its latency in milliseconds and the executed DataFrame. `record =
    * false` runs it (warm-in) without keeping its record. */
  def query(kind: String, queries: Int, record: Boolean = true)(
      construct: => DataFrame): (Array[Row], Double, DataFrame) = {
    val traced = record && nextTraced(kind)
    val id = s"$kind-${seq.incrementAndGet()}"
    val sc = ctx.spark.sparkContext
    if (traced) sc.setJobGroup(id, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      if (!traced) {
        val df = construct
        val rows = df.collect()
        val ms = (System.nanoTime() - t0) / 1e6
        if (record) recs.add(RequestRec(id, kind, false, queries, ms, 0, 0, 0, 0))
        (rows, ms, df)
      } else {
        var c = 0.0; var p = 0.0; var e = 0.0; var execStart = 0L
        var df: DataFrame = null
        val rows = Trace.span("request", id) {
          val s0 = System.nanoTime()
          df = Trace.span("construct", id)(construct)
          val s1 = System.nanoTime()
          Trace.span("plan", id)(df.queryExecution.executedPlan)
          val s2 = System.nanoTime()
          execStart = Trace.nowUs
          val r = Trace.span("execute", id)(df.collect())
          val s3 = System.nanoTime()
          c = (s1 - s0) / 1e6; p = (s2 - s1) / 1e6; e = (s3 - s2) / 1e6
          r
        }
        val ms = (System.nanoTime() - t0) / 1e6
        recs.add(RequestRec(id, kind, true, queries, ms, c, p, e, execStart))
        (rows, ms, df)
      }
    } finally if (traced) sc.clearJobGroup()
  }

  /** A request that is one call into graft with no DataFrame to plan (an
    * append, a compaction): its whole wall is the execute span. */
  def call[T](kind: String, record: Boolean = true)(body: => T): (T, Double) = {
    val traced = record && nextTraced(kind)
    val id = s"$kind-${seq.incrementAndGet()}"
    val sc = ctx.spark.sparkContext
    if (traced) sc.setJobGroup(id, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val start = Trace.nowUs
      val out =
        if (traced) Trace.span("request", id)(Trace.span("execute", id)(body))
        else body
      val ms = (System.nanoTime() - t0) / 1e6
      if (record) recs.add(RequestRec(id, kind, traced, 0, ms, 0, 0, ms, start))
      (out, ms)
    } finally if (traced) sc.clearJobGroup()
  }

  def all: Seq[RequestRec] = recs.asScala.toSeq
}
