package perfbench

import graft.api.VectorDB

/** `ann_bulk`: one query set several times larger than graft's static
  * batch limit, with uniform centres, run cold from the epoch's parquet:
  * once through the facade `search` (the distributed flood path) and once
  * through the SQL `pq = true` route (ADC over m-byte codes, then an exact
  * rerank) on the same epoch. Each pass scores tens of millions of pairs
  * and touches every list, so kernels, shuffle and the PQ path dominate
  * and fixed per-request cost does not. */
object AnnBulk extends Workload {
  private val Name = "bulk"

  def run(ctx: Ctx): Unit = {
    val sc = ctx.scale
    val spark = ctx.spark
    val rep = ctx.report
    val mix = new Mixture(ctx.subSeed(1), sc.dim, sc.centres, sc.spread)
    val queries = mix.points(new java.util.Random(ctx.subSeed(3)), sc.bulkQueries)
    val qids = queries.indices.map(_.toLong).toArray
    val pqQueries = queries.take(sc.pqQueries)
    val req = new Requests(ctx)

    var db: VectorDB = null
    var corpus: Array[Array[Float]] = null
    var epoch = ""
    val setupS = (0 until sc.setups).map { i =>
      if (db != null) db.close()
      val t0 = System.nanoTime()
      corpus = mix.points(new java.util.Random(ctx.subSeed(4)), sc.bulkN)
      db = new VectorDB(spark, ctx.dir(s"bulk-$i"))
      epoch = Ann.build(db, Name, corpus, sc.bulkNlist, m = sc.pqM, nbits = sc.pqNbits)
      db.registerSql(Name, nprobe = sc.nprobe, pq = true)
      // the query set as a parquet table, the way a stored batch arrives
      val qpath = ctx.dir(s"bulk-queries-$i")
      Frames.queries(spark, qids, queries).write.mode("overwrite").parquet(qpath)
      spark.read.parquet(qpath).createOrReplaceTempView("bulk_q")
      spark.read.parquet(qpath).where(s"qid < ${sc.pqQueries}").createOrReplaceTempView("bulk_pq_q")
      (System.nanoTime() - t0) / 1e9
    }
    rep.op(Nil)
    val truth = Truth.topK(corpus, queries, sc.k)
    val served = db

    def flat(record: Boolean) = req.query("flat", queries.length, record)(
      served.search(Name, spark.table("bulk_q"), sc.k, sc.nprobe))
    def pq(record: Boolean) =
      req.query("pq", pqQueries.length, record)(spark.sql(Ann.batchSql("bulk_pq_q", Name, sc.k)))

    // warm-in: two unrecorded passes per route compile the plans'
    // generated code and give the JIT a start; the data stays cold,
    // nothing is cached between passes
    for (_ <- 0 until 2; route <- Seq(flat _, pq _)) rep.op(
      try { route(false); Nil } catch { case e: Exception => Seq(s"warm-in pass failed: $e") })

    // hits and answered queries per route: flat, then PQ
    val hits = Array(0.0, 0.0)
    val answered = Array(0L, 0L)
    var rewrites = 0
    Counters.resetHeapPeak()
    val before = Counters.now()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val pairMs = Seq.newBuilder[Double]
    do {
      var ms = 0.0
      for (route <- Seq("flat", "pq")) {
        val problems =
          try {
            val (rows, t, df) = if (route == "flat") flat(true) else pq(true)
            ms += t
            if (route == "pq" && Ann.rewriteHit(df)) rewrites += 1
            val (n, r) = if (route == "flat") (queries.length, 0) else (pqQueries.length, 1)
            val (p, h) = Truth.checkTopK(rows, qids.take(n), queries.take(n), corpus, sc.k, truth.take(n))
            hits(r) += h; answered(r) += n
            p
          } catch { case e: Exception => Seq(s"$route pass failed: $e") }
        rep.op(problems)
      }
      pairMs += ms
      // another pair only if it ends inside the measured time
    } while (System.nanoTime() + Stats.mean(pairMs.result()) * 1e6 < deadline)
    val wallS = (System.nanoTime() - t0) / 1e9
    val after = Counters.now()
    val cacheMb = Counters.cacheMb(spark)

    val sample = (0 until math.min(16, queries.length)).toArray
    val exact = req.query("exact", sample.length, record = false)(
      db.search(Name, Frames.queries(spark, sample.map(_.toLong), sample.map(queries)), sc.k, sc.bulkNlist))._1
    rep.op(Truth.checkExact(exact, sample.map(_.toLong), sample.map(truth)))

    val recs = req.all
    val flatMs = recs.filter(_.kind == "flat").map(_.ms)
    val pqMs = recs.filter(_.kind == "pq").map(_.ms)
    val pairs = pairMs.result()
    val recall = hits(0) / math.max(1L, answered(0))
    val pqRecall = hits(1) / math.max(1L, answered(1))
    rep.setE2e("setup_s", Stats.median(setupS))
    rep.setE2e("throughput_per_s", answered.sum / wallS)
    rep.setE2e("p50_ms", Stats.median(pairs))
    // both routes weigh the same, though the PQ one answers far fewer
    // queries: losing its recall moves the metric by half
    rep.setE2e("quality_ratio", (recall + pqRecall) / 2)
    rep.setE2e("cache_mb", cacheMb)
    rep.detail ++= Seq(
      "setup_s" -> Stats.median(setupS), "setup_runs_s" -> setupS,
      "search_qps" -> queries.length * flatMs.length / (flatMs.sum / 1000.0),
      "pq_qps" -> pqQueries.length * pqMs.length / (pqMs.sum / 1000.0),
      "pass_pair_p50_ms" -> Stats.median(pairs), "pass_pairs" -> pairs.length, "pass_pairs_ms" -> pairs,
      "recall_at_10" -> recall, "pq_recall_at_10" -> pqRecall, "cache_mb" -> cacheMb,
      "sql_rewrite_hits" -> rewrites, "sql_requests" -> pqMs.length)
    if (ctx.trace) {
      Layers.record(ctx, req, before, after)
      val cents = Ann.centroids(db, Name, epoch)
      val counts = Ann.listCounts(db, Name, epoch)
      val pairsPerPass = Ann.pairsScored(queries, cents, sc.nprobe, counts)
      rep.setLayer("plans.rewrite_hit_ratio", rewrites.toDouble / math.max(1, pqMs.length))
      rep.setLayer("index.pairs_scored", pairsPerPass.toDouble)
      rep.setLayer("index.list_imbalance", db.stats(Name)("list_imbalance").asInstanceOf[Double])
      val (amp, filesPerList) = Ann.storage(db, Name, epoch, sc.bulkN, sc.dim, sc.bulkNlist)
      rep.setLayer("storage.files_per_list", filesPerList)
      rep.setLayer("storage.bytes_written_per_user_byte", amp)
      Ann.recordKernels(ctx, corpus, queries, cents, sc.nprobe)
      Ann.recordBuildLayers(ctx, corpus, sc.bulkNlist)
      // the flood pass's useful kernel time against its task time
      val flatTraced = recs.filter(r => r.kind == "flat" && r.traced)
      val aggs = flatTraced.flatMap(r => req.listener.flatMap(_.agg(r.id)))
      if (aggs.nonEmpty) {
        val runMs = aggs.map(_.runMs).sum.toDouble / aggs.length
        val records = aggs.map(_.inputRecords).sum.toDouble / aggs.length
        val ns = ctx.report.perLayer("functions.l2_ns_per_pair")._1
        rep.setLayer("functions.kernel_share", pairsPerPass * ns / 1e6 / math.max(1e-9, runMs))
        rep.setLayer("index.rows_scanned_per_result", records / (queries.length.toDouble * sc.k))
      }
    }
    rep.detail("failed_ratio") = rep.failed.toDouble / math.max(1L, rep.attempted)
    db.close()
  }
}
