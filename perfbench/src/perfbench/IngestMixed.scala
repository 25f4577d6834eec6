package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.api.VectorDB

/** `ingest_mixed`: a smaller base epoch takes repeated `addVectors`
  * batches. Between batches one client sends 64-query searches that
  * include just-appended vectors, plus one `rangeSearch`. The run ends
  * with `compactEpoch` and `activateEpoch`. Writes run beside reads on the
  * same index and storage layers: each append reloads the index, adds
  * files to the lists it touches and maintains the range bounds. */
object IngestMixed extends Workload {
  private val Name = "ingest"
  private val RangeQueries = 16
  private val FreshPerSearch = 8

  def run(ctx: Ctx): Unit = {
    val sc = ctx.scale
    val spark = ctx.spark
    val rep = ctx.report
    val mix = new Mixture(ctx.subSeed(1), sc.dim, sc.centres, sc.spread)
    val pool = mix.points(new java.util.Random(ctx.subSeed(3)), sc.servePool)
    val req = new Requests(ctx)

    var db: VectorDB = null
    var base: Array[Array[Float]] = null
    val setupS = (0 until sc.setups).map { i =>
      if (db != null) db.close()
      val t0 = System.nanoTime()
      base = mix.points(new java.util.Random(ctx.subSeed(4)), sc.ingestN)
      db = new VectorDB(spark, ctx.dir(s"ingest-$i"))
      Ann.build(db, Name, base, sc.ingestNlist)
      db.registerSql(Name, nprobe = sc.nprobe)
      (System.nanoTime() - t0) / 1e9
    }
    rep.op(Nil)
    val corpus = mutable.ArrayBuffer.from(base)
    var truth = Truth.topK(corpus, pool, sc.k)
    // a radius that keeps a handful of matches per query: the median
    // distance to the fifth neighbour
    val radius = Stats.median(truth.map(t => t(math.min(4, t.length - 1))._2).toSeq)
    val ar = new java.util.Random(ctx.subSeed(5))
    val sr = new java.util.Random(ctx.subSeed(6))

    var hits = 0.0
    var answered = 0L
    var appended = 0L
    var appendMs = 0.0
    Counters.resetHeapPeak()
    val before = Counters.now()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    do {
      // one append
      val firstId = corpus.size.toLong
      val batch = mix.points(ar, sc.appendBatch)
      val appendOk =
        try {
          val (n, ms) = req.call("append")(db.addVectors(Name, Frames.vectors(spark, batch, firstId)))
          appendMs += ms
          rep.op(if (n == batch.length) Nil else Seq(s"addVectors added $n of ${batch.length}"))
        } catch { case e: Exception => rep.op(Seq(s"addVectors failed: $e")) }
      if (appendOk) {
        corpus ++= batch
        appended += batch.length
        truth = Truth.merge(truth, pool, batch.toIndexedSeq, firstId, sc.k)
      }
      // searches that read the append back
      for (_ <- 0 until sc.searchesPerAppend) {
        val fresh = Picks.distinct(sr, FreshPerSearch, batch.length).map(firstId + _)
        val old = Picks.distinct(sr, sc.batch - FreshPerSearch, pool.length)
        val qids = fresh ++ old.map(p => -1L - p)
        val qvecs = fresh.map(i => corpus(i.toInt)) ++ old.map(pool)
        val want = Truth.topK(corpus, fresh.map(i => corpus(i.toInt)), sc.k) ++ old.map(truth)
        val problems =
          try {
            val (rows, _, _) = req.query("search", qids.length)(
              db.search(Name, Frames.queries(spark, qids, qvecs), sc.k, sc.nprobe))
            val (p, h) = Truth.checkTopK(rows, qids, qvecs, corpus, sc.k, want)
            hits += h; answered += qids.length
            // read-your-writes: an appended vector finds itself at distance 0
            val got = Truth.byQuery(rows)
            p ++ fresh.flatMap { id =>
              val own = got.getOrElse(id, Array.empty[(Long, Double, Int)])
              if (own.exists { case (i, d, _) => i == id && d == 0.0 }) None
              else Some(s"appended vector $id does not find itself")
            }
          } catch { case e: Exception => Seq(s"search failed: $e") }
        rep.op(problems)
      }
      // one exact range search, checked against brute force
      val rq = Picks.distinct(sr, RangeQueries, pool.length)
      val problems =
        try {
          val (rows, _, _) = req.query("range", rq.length)(
            db.rangeSearch(Name, Frames.queries(spark, rq.map(_.toLong), rq.map(pool)), radius))
          checkRange(rows, rq, pool, corpus, radius)
        } catch { case e: Exception => Seq(s"rangeSearch failed: $e") }
      rep.op(problems)
    } while (System.nanoTime() < deadline)
    val wallS = (System.nanoTime() - t0) / 1e9
    val after = Counters.now()
    val cacheMb = Counters.cacheMb(spark)

    val servedEpoch = db.stats(Name)("epoch").toString
    val (ampBefore, filesPerList) = Ann.storage(db, Name, servedEpoch, corpus.size, sc.dim, sc.ingestNlist)
    val reloadMs = if (ctx.trace) {
      val t = System.nanoTime(); db.loadIndex(Name); (System.nanoTime() - t) / 1e6
    } else 0.0
    // compaction, then activation of the compacted epoch
    val tc = System.nanoTime()
    val compacted = db.compactEpoch(Name)
    db.activateEpoch(Name, compacted)
    val compactMs = (System.nanoTime() - tc) / 1e6
    val rows = spark.read.parquet(s"${Ann.epochPath(db, Name, compacted)}/vectors").count()
    rep.op(if (rows == corpus.size && db.stats(Name)("num_vectors") == corpus.size.toLong) Nil
      else Seq(s"after compaction: $rows rows, expected ${base.length} + $appended"))
    val (amp, _) = Ann.storage(db, Name, compacted, corpus.size, sc.dim, sc.ingestNlist)

    val search = req.all.filter(_.kind == "search").map(_.ms)
    val (tail, tailPct) = Stats.tail(search)
    val recall = hits / math.max(1L, answered)
    val vps = appended / math.max(1e-9, appendMs / 1000.0)
    rep.setE2e("setup_s", Stats.median(setupS))
    rep.setE2e("throughput_per_s", vps)
    rep.setE2e("p50_ms", Stats.median(search))
    rep.setE2e("quality_ratio", recall)
    rep.setE2e("cache_mb", cacheMb)
    rep.detail ++= Seq(
      "setup_s" -> Stats.median(setupS), "setup_runs_s" -> setupS,
      "ingest_vps" -> vps, "appended" -> appended,
      "search_qps" -> answered / wallS,
      "search_p50_ms" -> Stats.median(search), "search_tail_ms" -> tail,
      "search_tail_pct" -> tailPct, "search_samples" -> search.length,
      "recall_at_10" -> recall, "compact_s" -> compactMs / 1000.0,
      "storage_amp" -> amp, "storage_amp_before_compaction" -> ampBefore,
      "cache_mb" -> cacheMb, "range_radius" -> radius)
    if (ctx.trace) {
      Layers.record(ctx, req, before, after)
      // the ingest-only storage figures: in the detail line, because no
      // workload of BENCHMARK.json appends
      val appends = req.all.filter(r => r.kind == "append" && r.traced)
      val jobs = appends.flatMap(r => req.listener.flatMap(_.agg(r.id))).map(_.jobs)
      rep.detail ++= Seq(
        "storage.jobs_per_append" -> Stats.mean(jobs.map(_.toDouble)),
        "storage.append_ms" -> Stats.mean(req.all.filter(_.kind == "append").map(_.ms)),
        "storage.reload_ms" -> reloadMs,
        "storage.compact_ms" -> compactMs)
      rep.setLayer("storage.files_per_list", filesPerList)
      rep.setLayer("storage.bytes_written_per_user_byte", ampBefore)
      rep.setLayer("index.list_imbalance", db.stats(Name)("list_imbalance").asInstanceOf[Double])
      Ann.recordKernels(ctx, corpus, pool, Ann.centroids(db, Name, compacted), sc.nprobe)
    }
    rep.detail("failed_ratio") = rep.failed.toDouble / math.max(1L, rep.attempted)
    db.close()
  }

  /** Problems unless each query's matches are exactly the corpus vectors
    * within `radius` (squared L2), with their exact distances. */
  private def checkRange(rows: Array[Row], rq: Array[Int], pool: Array[Array[Float]],
      corpus: collection.IndexedSeq[Array[Float]], radius: Double): Seq[String] = {
    val got = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.map(r => (r.getAs[Long]("id"), r.getAs[Double]("dist"))).sortBy(_._1).toSeq
    }
    rq.toSeq.flatMap { q =>
      val v = pool(q)
      val want = corpus.indices.iterator.map(i => (i.toLong, Truth.l2(v, corpus(i))))
        .filter(_._2 <= radius).toSeq
      if (got.getOrElse(q.toLong, Nil) == want) None
      else Some(s"range query $q: ${got.getOrElse(q.toLong, Nil).size} matches, expected ${want.size}")
    }
  }
}
