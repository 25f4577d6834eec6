package perfbench

import org.apache.spark.sql.Row

/** The benchmark's own ground truth and answer checks. Distances are
  * squared L2 with sequential double accumulation over float inputs, the
  * arithmetic graft documents for its kernels, so an exact answer from
  * graft matches these bit for bit. Corpus ids are the corpus indices. */
object Truth {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Exact top-k (id, dist) per query, ordered by (dist, id). */
  def topK(corpus: collection.IndexedSeq[Array[Float]], queries: Array[Array[Float]], k: Int)
      : Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val ds = new Array[Double](k); val is = new Array[Long](k)
      var size = 0
      var id = 0
      while (id < corpus.size) {
        val d = l2(q, corpus(id))
        if (size < k || d < ds(size - 1) || (d == ds(size - 1) && id < is(size - 1))) {
          var p = math.min(size, k - 1)
          while (p > 0 && (ds(p - 1) > d || (ds(p - 1) == d && is(p - 1) > id))) {
            ds(p) = ds(p - 1); is(p) = is(p - 1); p -= 1
          }
          ds(p) = d; is(p) = id
          if (size < k) size += 1
        }
        id += 1
      }
      out(qi) = Array.tabulate(size)(i => (is(i), ds(i)))
    }
    out
  }

  /** Merges `extra` corpus vectors (ids from `firstId`) into existing
    * top-k answers — ground truth that follows appends. */
  def merge(truth: Array[Array[(Long, Double)]], queries: Array[Array[Float]],
      extra: collection.IndexedSeq[Array[Float]], firstId: Long, k: Int): Array[Array[(Long, Double)]] = {
    val add = topK(extra, queries, k)
    truth.indices.map { qi =>
      (truth(qi) ++ add(qi).map { case (i, d) => (i + firstId, d) })
        .sortBy { case (i, d) => (d, i) }.take(k)
    }.toArray
  }

  /** An answer's rows grouped by qid, in rank order: (id, dist). */
  def byQuery(rows: Array[Row]): Map[Long, Array[(Long, Double, Int)]] = {
    if (rows.isEmpty) return Map.empty
    val s = rows.head.schema
    val (q, i, d, r) = (s.fieldIndex("qid"), s.fieldIndex("id"), s.fieldIndex("dist"), s.fieldIndex("rank"))
    rows.groupBy(_.getLong(q)).map { case (qid, rs) =>
      qid -> rs.map(x => (x.getLong(i), x.getDouble(d), x.getAs[Number](r).intValue))
        .sortBy(_._3)
    }
  }

  /** Problems with a top-k answer: k rows per query ranked 1..k in
    * (dist, id) order, no repeated id, ids from the corpus, and every
    * distance equal to the exact distance of its id. Also returns the
    * answer's recall against `truth` (summed over queries). */
  def checkTopK(rows: Array[Row], qids: Array[Long], qvecs: Array[Array[Float]],
      corpus: collection.IndexedSeq[Array[Float]], k: Int,
      truth: Array[Array[(Long, Double)]]): (Seq[String], Double) = {
    val problems = Seq.newBuilder[String]
    val got = byQuery(rows)
    var hits = 0.0
    if (got.size != qids.length)
      problems += s"answers for ${got.size} queries, expected ${qids.length}"
    qids.indices.foreach { qi =>
      val ans = got.getOrElse(qids(qi), Array.empty[(Long, Double, Int)])
      val want = math.min(k, corpus.size)
      if (ans.length != want) problems += s"qid ${qids(qi)}: ${ans.length} rows, expected $want"
      if (ans.map(_._3).toSeq != (1 to ans.length)) problems += s"qid ${qids(qi)}: ranks not 1..k"
      if (ans.map(_._1).distinct.length != ans.length) problems += s"qid ${qids(qi)}: repeated id"
      ans.sliding(2).foreach {
        case Array(a, b) if a._2 > b._2 || (a._2 == b._2 && a._1 > b._1) =>
          problems += s"qid ${qids(qi)}: not ordered by (dist, id)"
        case _ =>
      }
      ans.foreach { case (id, d, _) =>
        if (id < 0 || id >= corpus.size) problems += s"qid ${qids(qi)}: id $id not in corpus"
        else if (d != l2(qvecs(qi), corpus(id.toInt)))
          problems += s"qid ${qids(qi)}: dist $d of id $id is not its exact distance"
      }
      val truthIds = truth(qi).map(_._1).toSet
      hits += ans.count(a => truthIds.contains(a._1)).toDouble / math.max(1, truth(qi).length)
    }
    (problems.result(), hits)
  }

  /** Problems unless the answer equals `truth` exactly, row for row. */
  def checkExact(rows: Array[Row], qids: Array[Long],
      truth: Array[Array[(Long, Double)]]): Seq[String] = {
    val got = byQuery(rows)
    qids.indices.flatMap { qi =>
      val ans = got.getOrElse(qids(qi), Array.empty[(Long, Double, Int)]).map(a => (a._1, a._2)).toSeq
      if (ans == truth(qi).toSeq) None
      else Some(s"qid ${qids(qi)}: exact search differs from brute force")
    }
  }
}
