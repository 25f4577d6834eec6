package perfbench

import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Curation, Dedup, QualityFilters, TextAnalysis, TrainingPrep}

/** `curation`: `Curation.curateManaged` over a generated corpus of
  * document families (revision chains, exact twins, junk, repetitive
  * documents, an eval set for decontamination), run repeatedly in one
  * driver with `unpersist` between runs. The only workload that measures
  * the pipeline module; its plans are large, so constructing them costs
  * far more driver time than executing them on this input. */
object CurationWork extends Workload {

  def run(ctx: Ctx): Unit = {
    val sc = ctx.scale
    val spark = ctx.spark
    val rep = ctx.report
    val cores = spark.sparkContext.defaultParallelism
    val req = new Requests(ctx)

    var gen: DocCorpus = null
    var docs: org.apache.spark.sql.DataFrame = null
    val setupS = (0 until sc.setups).map { _ =>
      if (docs != null) docs.unpersist(blocking = true)
      val t0 = System.nanoTime()
      gen = new DocCorpus(ctx.subSeed(1), sc.families, sc.docTokens)
      // a real corpus arrives in many partitions; one local relation would
      // pin the per-row stages to one core
      docs = gen.frame(spark, gen.docs.toSeq).repartition(cores)
        .persist(StorageLevel.MEMORY_AND_DISK)
      docs.count()
      (System.nanoTime() - t0) / 1e9
    }
    val evalDocs = gen.evalFrame(spark)
    val expected = gen.docs.map(d => d.id -> d.expected).toMap
    rep.op(Nil)

    /** Mismatches of one run's audit against the generator's verdicts. */
    def check(rows: Array[org.apache.spark.sql.Row]): (Seq[String], Int) = {
      val problems = Seq.newBuilder[String]
      if (rows.length != gen.docs.length)
        problems += s"audit has ${rows.length} rows for ${gen.docs.length} docs"
      val got = rows.map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("drop_reason")).getOrElse("")).toMap
      if (got.size != rows.length) problems += "audit repeats a doc_id"
      val matched = expected.count { case (id, want) => got.get(id).contains(want) }
      val countsGot = got.values.groupBy(identity).map { case (k, v) => k -> v.size }
      if (countsGot != gen.expectedCounts)
        problems += s"verdict counts $countsGot, expected ${gen.expectedCounts}"
      val kept = rows.count(_.getAs[Boolean]("keep"))
      if (kept != gen.expectedCounts.getOrElse("", 0))
        problems += s"kept $kept, expected ${gen.expectedCounts.getOrElse("", 0)}"
      (problems.result(), matched)
    }

    def curate(record: Boolean): (Seq[String], Int, Double) = {
      var run: Curation.CurationRun = null
      try {
        val (rows, ms, _) = req.query("curate", gen.docs.length, record) {
          run = Curation.curateManaged(docs, evalDocs)
          run.audit
        }
        val (p, m) = check(rows)
        (p, m, ms)
      } finally if (run != null) run.unpersist(blocking = true)
    }

    // warm-in: one run compiles the pipeline's generated code
    rep.op(curate(record = false)._1)

    var matched = 0L
    var verdicts = 0L
    var measured = 0
    Counters.resetHeapPeak()
    val before = Counters.now()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    do {
      val problems =
        try {
          val (p, m, _) = curate(record = true)
          matched += m; verdicts += gen.docs.length
          p
        } catch { case e: Exception => Seq(s"curation run failed: $e") }
      rep.op(problems)
      measured += 1
      // at least three runs, so that neither the first one (the JIT still
      // catching up with the driver-side plan building) nor one slowed by
      // the host sets the median; beyond that another run only if it ends
      // inside the measured time
    } while (measured < 3 ||
      System.nanoTime() + Stats.mean(req.all.map(_.ms)) * 1e6 < deadline)
    val wallS = (System.nanoTime() - t0) / 1e9
    val after = Counters.now()
    val cacheMb = Counters.cacheMb(spark)

    val runs = req.all.filter(_.kind == "curate").map(_.ms)
    val docsPerS = gen.docs.length.toDouble * runs.length / wallS
    val quality = matched.toDouble / math.max(1L, verdicts)
    rep.setE2e("setup_s", Stats.median(setupS))
    rep.setE2e("throughput_per_s", docsPerS)
    rep.setE2e("p50_ms", Stats.median(runs))
    rep.setE2e("quality_ratio", quality)
    rep.setE2e("cache_mb", cacheMb)
    rep.detail ++= Seq(
      "setup_s" -> Stats.median(setupS), "setup_runs_s" -> setupS,
      "curate_docs_per_s" -> docsPerS, "docs" -> gen.docs.length,
      "run_p50_ms" -> Stats.median(runs), "runs" -> runs.length, "runs_ms" -> runs,
      "verdicts_matching" -> quality, "cache_mb" -> cacheMb,
      "expected_verdicts" -> gen.expectedCounts.map { case (k, v) => (if (k.isEmpty) "keep" else k) -> v })
    if (ctx.trace) {
      Layers.record(ctx, req, before, after)
      recordStages(ctx, gen)
    }
    rep.detail("failed_ratio") = rep.failed.toDouble / math.max(1L, rep.attempted)
    docs.unpersist(blocking = true)
  }

  /** Each stage's public operator forced on its own input: the documents
    * that reach that stage, known from the generator. */
  private def recordStages(ctx: Ctx, gen: DocCorpus): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    def frameOf(pred: Doc => Boolean) =
      gen.frame(spark, gen.docs.filter(pred).toSeq).repartition(spark.sparkContext.defaultParallelism)
    def timed(body: => Long): (Long, Double) = {
      val t = System.nanoTime(); val n = body; (n, (System.nanoTime() - t) / 1e6)
    }
    val all = frameOf(_ => true)
    val (_, qMs) = timed(all.filter(
      coalesce(TextAnalysis.qualityScore(col("text")) >= 0.5, lit(false)) &&
        coalesce(QualityFilters.repetitionOk(col("text")), lit(false))).count())
    val s1 = frameOf(d => d.expected != "quality" && d.expected != "repetition")
    val (_, eMs) = timed(Dedup.exact(s1).count())
    val s2 = frameOf(d => d.family >= 0 && d.expected != "exact_dup")
    // threshold 0 keeps every LSH candidate, so the count is the candidates
    var candidates = Array.empty[org.apache.spark.sql.Row]
    val (_, mMs) = timed {
      candidates = Dedup.minhashLsh(s2, threshold = 0.0).select("a_id", "b_id").collect()
      candidates.length.toLong
    }
    val truePairs = candidates.count(r => gen.isTruePair(r.getLong(0), r.getLong(1)))
    val s3 = frameOf(d => d.family >= 0 && d.expected != "exact_dup" && d.expected != "near_dup")
    val (_, cMs) = timed(TrainingPrep.contamination(s3, gen.evalFrame(spark)).count())
    rep.setLayer("pipeline.quality_ms", qMs)
    rep.setLayer("pipeline.exact_dedup_ms", eMs)
    rep.setLayer("pipeline.minhash_ms", mMs)
    rep.setLayer("pipeline.contamination_ms", cMs)
    rep.setLayer("pipeline.candidate_pairs", candidates.length.toDouble)
    rep.setLayer("pipeline.pair_precision", truePairs.toDouble / math.max(1, candidates.length))
  }
}
