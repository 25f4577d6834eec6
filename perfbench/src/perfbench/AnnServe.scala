package perfbench

import graft.api.VectorDB

/** `ann_serve`: an epoch-backed IVF-Flat index served to two closed-loop
  * clients. Each client sends 64-query batches, alternating between the
  * facade `search` and the batch top-k SQL over the registered view. Query
  * centres are Zipf-skewed; after a warm-in the hot lists are pinned with
  * `warmupHot`. Every request is small, so fixed per-request costs
  * (validation jobs, DataFrame construction, optimizer, planning, task
  * launch) dominate. */
object AnnServe extends Workload {
  private val Name = "serve"
  private val Clients = 2

  def run(ctx: Ctx): Unit = {
    val sc = ctx.scale
    val spark = ctx.spark
    val rep = ctx.report
    val mix = new Mixture(ctx.subSeed(1), sc.dim, sc.centres, sc.spread)
    val zipf = new Zipf(ctx.subSeed(2), sc.centres, sc.zipfS)
    val pool = mix.skewed(new java.util.Random(ctx.subSeed(3)), sc.servePool, zipf)
    val req = new Requests(ctx)

    def batchOf(r: java.util.Random): Array[Int] = Picks.distinct(r, sc.batch, pool.length)
    def facade(db: VectorDB, idx: Array[Int], record: Boolean) =
      req.query("facade", idx.length, record)(
        db.search(Name, Frames.queries(spark, idx.map(_.toLong), idx.map(pool)), sc.k, sc.nprobe))
    def sql(client: Int, idx: Array[Int], record: Boolean) =
      req.query("sql", idx.length, record) {
        val view = s"serve_q$client"
        Frames.queries(spark, idx.map(_.toLong), idx.map(pool)).createOrReplaceTempView(view)
        spark.sql(Ann.batchSql(view, Name, sc.k))
      }

    // set-up, several times; the last one is served
    var db: VectorDB = null
    var corpus: Array[Array[Float]] = null
    var epoch = ""
    val setupS = (0 until sc.setups).map { i =>
      if (db != null) db.close()
      val t0 = System.nanoTime()
      corpus = mix.points(new java.util.Random(ctx.subSeed(4)), sc.serveN)
      db = new VectorDB(spark, ctx.dir(s"serve-$i"))
      epoch = Ann.build(db, Name, corpus, sc.serveNlist)
      db.registerSql(Name, nprobe = sc.nprobe)
      val wr = new java.util.Random(ctx.subSeed(5))
      for (_ <- 0 until 2) {
        facade(db, batchOf(wr), record = false)
        sql(0, batchOf(wr), record = false)
      }
      db.warmupHot(Name, sc.hotLists)
      (System.nanoTime() - t0) / 1e9
    }
    rep.op(Nil)
    val truth = Truth.topK(corpus, pool, sc.k)

    // measured phase: closed loop, two clients
    val hits = new java.util.concurrent.atomic.DoubleAdder
    val answered = new java.util.concurrent.atomic.LongAdder
    val rewrites = new java.util.concurrent.atomic.LongAdder
    val sqlN = new java.util.concurrent.atomic.LongAdder
    Counters.resetHeapPeak()
    val before = Counters.now()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val served = db
    val threads = (0 until Clients).map { c =>
      val th = new Thread(() => {
        val r = new java.util.Random(ctx.subSeed(10 + c))
        var i = 0
        while (System.nanoTime() < deadline) {
          val idx = batchOf(r)
          val useSql = (i + c) % 2 == 1
          val problems =
            try {
              val (rows, _, df) = if (useSql) sql(c, idx, record = true) else facade(served, idx, record = true)
              if (useSql) { sqlN.increment(); if (Ann.rewriteHit(df)) rewrites.increment() }
              val (p, h) = Truth.checkTopK(rows, idx.map(_.toLong), idx.map(pool), corpus, sc.k, idx.map(truth))
              hits.add(h); answered.add(idx.length)
              p
            } catch { case e: Exception => Seq(s"request failed: $e") }
          rep.op(problems)
          i += 1
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val after = Counters.now()
    val cacheMb = Counters.cacheMb(spark)

    // exactness: at nprobe = nlist the facade must equal brute force
    val sample = (0 until math.min(16, pool.length)).toArray
    val exact = req.query("exact", sample.length, record = false)(
      db.search(Name, Frames.queries(spark, sample.map(_.toLong), sample.map(pool)), sc.k, sc.serveNlist))._1
    rep.op(Truth.checkExact(exact, sample.map(_.toLong), sample.map(truth)))

    val recs = req.all
    val fac = recs.filter(_.kind == "facade").map(_.ms)
    val sq = recs.filter(_.kind == "sql").map(_.ms)
    if (fac.isEmpty || sq.isEmpty) rep.fail("measured phase too short for both request kinds")
    else {
      val (ft, fp) = Stats.tail(fac)
      val (st, sp) = Stats.tail(sq)
      val qps = answered.sum / wallS
      val recall = hits.sum / math.max(1L, answered.sum)
      val (amp, filesPerList) = Ann.storage(db, Name, epoch, sc.serveN, sc.dim, sc.serveNlist)
      rep.setE2e("setup_s", Stats.median(setupS))
      rep.setE2e("throughput_per_s", qps)
      rep.setE2e("p50_ms", Stats.median(fac))
      rep.setE2e("quality_ratio", recall)
      rep.setE2e("cache_mb", cacheMb)
      rep.detail ++= Seq(
        "setup_s" -> Stats.median(setupS), "setup_runs_s" -> setupS,
        "search_qps" -> qps,
        "search_p50_ms" -> Stats.median(fac), "search_tail_ms" -> ft,
        "search_tail_pct" -> fp, "search_samples" -> fac.length,
        "sql_p50_ms" -> Stats.median(sq), "sql_tail_ms" -> st,
        "sql_tail_pct" -> sp, "sql_samples" -> sq.length,
        "recall_at_10" -> recall, "storage_amp" -> amp, "cache_mb" -> cacheMb,
        "sql_rewrite_hits" -> rewrites.sum, "sql_requests" -> sqlN.sum)
      if (ctx.trace) {
        Layers.record(ctx, req, before, after)
        rep.setLayer("plans.rewrite_hit_ratio", rewrites.sum.toDouble / math.max(1L, sqlN.sum))
        rep.setLayer("index.list_imbalance", db.stats(Name)("list_imbalance").asInstanceOf[Double])
        val cents = Ann.centroids(db, Name, epoch)
        rep.setLayer("index.pairs_scored",
          Ann.pairsScored(pool, cents, sc.nprobe, Ann.listCounts(db, Name, epoch)).toDouble /
            pool.length * sc.batch)
        rep.setLayer("storage.files_per_list", filesPerList)
        rep.setLayer("storage.bytes_written_per_user_byte", amp)
        Ann.recordKernels(ctx, corpus, pool, cents, sc.nprobe)
        Ann.recordBuildLayers(ctx, corpus, sc.serveNlist)
      }
    }
    rep.detail("failed_ratio") = rep.failed.toDouble / math.max(1L, rep.attempted)
    db.close()
  }
}
