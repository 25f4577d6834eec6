package perfbench

/** Turns a traced measured phase into per-layer metrics: each request's
  * wall is split into self times (benchmark, api construct, planning,
  * driver-side execution, Spark stages) that add up to it, and the
  * listener's per-job-group counters are averaged per request. */
object Layers {

  /** Total length of the union of intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) { if (curB >= 0) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }

  /** Records the phase's per-layer metrics. `before`/`after` bracket the
    * measured phase; the process-wide meters (optimizer, codegen) are
    * averaged over every request in it, traced or not, so they are exact
    * even with concurrent clients. */
  def record(ctx: Ctx, req: Requests, before: Counters, after: Counters): Unit = {
    val rep = ctx.report
    val all = req.all
    val delta = after - before
    val nReq = math.max(1, all.size)
    rep.setLayer("plans.optimizer_ms", delta.optimizerNs / 1e6 / nReq)
    rep.setLayer("plans.optimizer_runs", delta.optimizerRuns.toDouble / nReq)
    rep.setLayer("spark.codegen_compiles", delta.codegenCount.toDouble)
    rep.setLayer("spark.codegen_ms", after.codegenMs)
    rep.setLayer("jvm.gc_ms", delta.gcMs.toDouble)
    rep.setLayer("jvm.jit_ms", delta.jitMs.toDouble)
    rep.setLayer("jvm.heap_peak_mb", Counters.heapPeakMb)
    val listener = req.listener.getOrElse(return)
    listener.drain(ctx.spark)
    val traced = all.filter(_.traced)
    val spans = Trace.all.groupBy(_.request)
    var selfBench, selfApi, selfPlans, selfExec, selfStages = 0.0
    var jobs, stages, tasks, jobsBefore = 0.0
    var runMs, cpuMs, gcMs, deserMs, waitMs, shufR, shufW = 0.0
    var queries = 0L
    var nSpans = 0
    traced.foreach { r =>
      val mine = spans.getOrElse(r.id, Nil)
      def find(name: String) = mine.find(_.name == name)
      val runs = listener.stagesOf(r.id)
      val iv = runs.map(s => (s.submitMs * 1000L, s.completeMs * 1000L))
      // stage spans hang under the call that was running when they started
      runs.foreach { s =>
        val startUs = s.submitMs * 1000L
        val parent = Seq(find("construct"), find("execute")).flatten
          .find(p => startUs >= p.startUs - 1000 && startUs <= p.endUs)
          .orElse(find("request"))
        Trace.add("stage", r.id, parent.map(_.id).getOrElse(0L), startUs, s.completeMs * 1000L)
      }
      nSpans += mine.size + runs.size
      def self(name: String): (Double, Double) = find(name) match {
        case Some(sp) =>
          val inStages = covered(iv, sp.startUs, sp.endUs) / 1000.0
          (sp.ms - inStages, inStages)
        case None => (0.0, 0.0)
      }
      val (cSelf, cStages) = self("construct")
      val (pSelf, pStages) = self("plan")
      val (eSelf, eStages) = self("execute")
      val inner = Seq("construct", "plan", "execute").flatMap(find).map(_.ms).sum
      val reqMs = find("request").map(_.ms).getOrElse(r.ms)
      selfBench += reqMs - inner
      selfApi += cSelf
      selfPlans += pSelf
      selfExec += eSelf
      selfStages += cStages + pStages + eStages
      listener.agg(r.id).foreach { a =>
        jobs += a.jobs; stages += a.stages; tasks += a.tasks
        jobsBefore += a.jobStartsMs.count(_ * 1000L < r.execStartUs)
        runMs += a.runMs; cpuMs += a.cpuNs / 1e6; gcMs += a.gcMs; deserMs += a.deserMs
        waitMs += a.launchWaitMs; shufR += a.shuffleRead; shufW += a.shuffleWrite
      }
      queries += r.queries
    }
    val n = math.max(1, traced.size).toDouble
    val perQuery = math.max(1L, queries).toDouble
    rep.detail("traced_requests") = traced.size
    rep.detail("traced_spans") = nSpans
    rep.setLayer("trace.self_bench_ms", selfBench / n)
    rep.setLayer("trace.self_api_ms", selfApi / n)
    rep.setLayer("trace.self_plans_ms", selfPlans / n)
    rep.setLayer("trace.self_exec_driver_ms", selfExec / n)
    rep.setLayer("trace.self_stages_ms", selfStages / n)
    rep.setLayer("api.construct_ms", Stats.mean(traced.map(_.constructMs)))
    rep.setLayer("api.jobs_before_exec", jobsBefore / n)
    rep.setLayer("plans.plan_ms", Stats.mean(traced.map(_.planMs)))
    rep.setLayer("spark.exec_ms", Stats.mean(traced.map(_.execMs)))
    rep.setLayer("spark.jobs", jobs / n)
    rep.setLayer("spark.stages", stages / n)
    rep.setLayer("spark.tasks", tasks / n)
    rep.setLayer("spark.sched_delay_ms", waitMs / n)
    rep.setLayer("spark.task_run_ms", runMs / n)
    rep.setLayer("spark.task_cpu_ms", cpuMs / n)
    rep.setLayer("spark.gc_ms", gcMs / n)
    rep.setLayer("spark.deser_ms", deserMs / n)
    rep.setLayer("spark.shuffle_read_bytes", shufR / perQuery)
    rep.setLayer("spark.shuffle_write_bytes", shufW / perQuery)
    // tracing overhead: traced against untraced requests of the same kind
    // in the same run, weighted by each kind's request count
    val byKind = all.groupBy(_.kind).values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)) - 1.0) * 100.0 -> rs.size)
    }
    val w = byKind.map(_._2).sum
    rep.setLayer("trace.overhead_pct",
      if (w == 0) 0.0 else byKind.map { case (pct, c) => pct * c }.sum / w)
  }
}
