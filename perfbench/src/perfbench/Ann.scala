package perfbench

import org.apache.spark.sql.DataFrame

import graft.IndexConfig
import graft.api.VectorDB
import graft.functions.VectorKernels
import graft.index.{IvfFlatIndex, TopKHeap}
import graft.storage.{EpochManager, Manifest}

/** What the vector workloads share: index set-up through the facade, the
  * batch top-k SQL, the epoch's on-disk facts, and the layer timings taken
  * from outside graft (kernels, k-means, assign + write). */
object Ann {

  /** The canonical per-query top-k SQL over a query table and the
    * registered corpus view (window rank over the join). */
  def batchSql(queries: String, corpus: String, k: Int): String =
    s"""SELECT qid, id, dist, rank FROM (
       |  SELECT q.qid, t.id, l2_distance(t.vec, q.qvec) AS dist,
       |    CAST(row_number() OVER (PARTITION BY q.qid
       |      ORDER BY l2_distance(t.vec, q.qvec), t.id) AS INT) AS rank
       |  FROM $queries q, $corpus t)
       |WHERE rank <= $k""".stripMargin

  /** Did the SQL rewrite fire: a list-pruned corpus scan and no cartesian
    * or nested-loop join in the executed plan. */
  def rewriteHit(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    val pruned = graft.plans.SqlAnn.fileSourceScans(df)
      .exists(s => s.output.exists(_.name == "list_id") &&
        (s.partitionFilters.nonEmpty || s.metadata.getOrElse("PartitionFilters", "").contains("list_id")))
    pruned && !plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin")
  }

  /** createIndex + buildEpoch + activateEpoch; returns the epoch id. */
  def build(db: VectorDB, name: String, corpus: Array[Array[Float]], nlist: Int,
      m: Int = 0, nbits: Int = 8): String = {
    db.createIndex(IndexConfig(name, corpus.head.length, nlist = nlist, m = m, nbits = nbits))
    val ep = db.buildEpoch(name, Frames.vectors(db.spark, corpus))
    db.activateEpoch(name, ep)
    ep
  }

  def epochPath(db: VectorDB, name: String, epoch: String): String =
    new EpochManager(s"${db.dataPath}/$name/epochs").epochPath(epoch)

  def centroids(db: VectorDB, name: String, epoch: String): Array[Array[Float]] =
    db.readCentroids(s"${epochPath(db, name, epoch)}/centroids")

  /** Per-list vector counts from the epoch manifest. */
  def listCounts(db: VectorDB, name: String, epoch: String): Map[Int, Long] =
    Manifest.load(s"${epochPath(db, name, epoch)}/manifest.json").shards
      .map(s => s.listId -> s.numVectors).toMap

  /** Exact count of (query, vector) pairs an IVF search at `nprobe` scores. */
  def pairsScored(queries: Array[Array[Float]], cents: Array[Array[Float]], nprobe: Int,
      counts: Map[Int, Long]): Long =
    queries.map(q => VectorKernels.probeLists(q, cents, nprobe, VectorKernels.METRIC_L2)
      .map(l => counts.getOrElse(l, 0L)).sum).sum

  private def files(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(x => files(x.getPath))
  }

  /** (bytes on disk per user byte, data files per list) of an epoch; a
    * user byte is 8 B of id plus 4 B per vector element. */
  def storage(db: VectorDB, name: String, epoch: String, vectors: Long, dim: Int,
      nlist: Int): (Double, Double) = {
    val dir = epochPath(db, name, epoch)
    val bytes = files(dir).map(_.length).sum
    val dataFiles = files(s"$dir/vectors").count(f => f.getName.endsWith(".parquet"))
    (bytes.toDouble / (vectors * (8L + 4L * dim)), dataFiles.toDouble / nlist)
  }

  /** `kmeans.train_s` and `index.assign_write_s`: IvfFlatIndex.train, then
    * assign + writeEpoch, composed the way buildEpoch composes them. */
  def recordBuildLayers(ctx: Ctx, corpus: Array[Array[Float]], nlist: Int): Unit = {
    val df = Frames.vectors(ctx.spark, corpus)
    val t0 = System.nanoTime()
    val cents = IvfFlatIndex.train(ctx.spark, df, nlist)
    val t1 = System.nanoTime()
    val bc = IvfFlatIndex.broadcastCentroids(ctx.spark, cents)
    IvfFlatIndex.writeEpoch(IvfFlatIndex.assign(df, bc), ctx.dir("layer-epoch"))
    val t2 = System.nanoTime()
    bc.unpersist(blocking = false)
    ctx.report.setLayer("kmeans.train_s", (t1 - t0) / 1e9)
    ctx.report.setLayer("index.assign_write_s", (t2 - t1) / 1e9)
  }

  /** Nanoseconds per call of `f` over `n` calls, after one untimed pass for
    * the JIT; repeated until at least `minMs` has been measured. */
  private def nsPer(n: Int, minMs: Double)(f: Int => Double): (Double, Double) = {
    var sink = 0.0
    var i = 0
    while (i < n) { sink += f(i); i += 1 }
    var calls = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e6 < minMs) {
      i = 0
      while (i < n) { sink += f(i); i += 1 }
      calls += n
    }
    ((System.nanoTime() - t0).toDouble / calls, sink)
  }

  /** The `functions.*` kernel timings, on the workload's own vectors. */
  def recordKernels(ctx: Ctx, corpus: collection.IndexedSeq[Array[Float]], queries: Array[Array[Float]],
      cents: Array[Array[Float]], nprobe: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val rep = ctx.report
    val pairs = ctx.scale.kernelPairs
    val nq = math.min(queries.length, 16)
    val nv = math.max(1, math.min(corpus.size, pairs / nq))
    def a(i: Int) = queries(i % nq)
    def b(i: Int) = corpus((i / nq) % nv)
    val minMs = 150.0
    val (l2, s1) = nsPer(nq * nv, minMs)(i => VectorKernels.l2(a(i), b(i)))
    val (ip, s2) = nsPer(nq * nv, minMs)(i => VectorKernels.ip(a(i), b(i)))
    val (cos, s3) = nsPer(nq * nv, minMs)(i => VectorKernels.cosine(a(i), b(i)))
    val ua = (0 until nq).map(i => UnsafeArrayData.fromPrimitiveArray(queries(i)))
    val ub = (0 until nv).map(i => UnsafeArrayData.fromPrimitiveArray(corpus(i)))
    val (l2u, s4) = nsPer(nq * nv, minMs)(i =>
      VectorKernels.distanceCols(ua(i % nq), ub((i / nq) % nv), VectorKernels.METRIC_L2))
    // top-k inserts see the distance stream a scan produces
    val dists = Array.tabulate(nq * nv)(i => VectorKernels.l2(a(i), b(i)))
    var heap = new TopKHeap(ctx.scale.k)
    val (topk, s5) = nsPer(dists.length, minMs) { i =>
      if (i % nv == 0) heap = new TopKHeap(ctx.scale.k)
      heap.insert(dists(i), i.toLong); heap.size
    }
    val (probe, s6) = nsPer(queries.length, minMs)(i =>
      VectorKernels.probeLists(queries(i), cents, nprobe, VectorKernels.METRIC_L2).length)
    val dim = queries.head.length
    rep.setLayer("functions.l2_ns_per_pair", l2)
    rep.setLayer("functions.ip_ns_per_pair", ip)
    rep.setLayer("functions.cosine_ns_per_pair", cos)
    rep.setLayer("functions.l2_unsafe_ns_per_pair", l2u)
    rep.setLayer("functions.topk_insert_ns", topk)
    rep.setLayer("functions.probe_us_per_query", probe / 1000.0)
    // sub, multiply, add per element; two float operands read per element
    rep.setLayer("functions.flops_per_pair", 3.0 * dim)
    rep.setLayer("functions.bytes_per_pair", 8.0 * dim)
    // the kernels' results go out, so the JIT cannot drop the timed loops
    rep.detail("kernel_checksum") = s1 + s2 + s3 + s4 + s5 + s6
  }
}
