package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded Gaussian mixture in `dim` dimensions: `centres` centres drawn
  * from N(0, 1) per coordinate, each point a centre plus N(0, spread²)
  * noise. `spread` sets how much the clusters overlap, and with it where
  * IVF recall at a given nprobe lands: near 0 every neighbour shares its
  * query's list (recall 1.0), large spread approaches uniform noise. */
final class Mixture(seed: Long, val dim: Int, val centres: Int, val spread: Double) {
  val centre: Array[Array[Float]] = {
    val r = new java.util.Random(seed)
    Array.fill(centres)(Array.fill(dim)(r.nextGaussian().toFloat))
  }

  def point(r: java.util.Random, c: Int): Array[Float] = {
    val base = centre(c)
    Array.tabulate(dim)(j => (base(j) + spread * r.nextGaussian()).toFloat)
  }

  /** `n` points with uniformly chosen centres. */
  def points(r: java.util.Random, n: Int): Array[Array[Float]] =
    Array.fill(n)(point(r, r.nextInt(centres)))

  /** `n` points whose centres follow `zipf` — a skewed query stream. */
  def skewed(r: java.util.Random, n: Int, zipf: Zipf): Array[Array[Float]] =
    Array.fill(n)(point(r, zipf.sample(r)))
}

/** Zipf(s) over `n` ranks, mapped to items by a seeded permutation so the
  * hot items differ between seeds. */
final class Zipf(seed: Long, n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private val perm: Array[Int] = {
    val p = (0 until n).toArray
    val r = new java.util.Random(seed)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
    p
  }
  def sample(r: java.util.Random): Int = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    perm(math.min(i, n - 1))
  }
}

object Picks {
  /** `n` distinct values from [0, bound), in draw order. */
  def distinct(r: java.util.Random, n: Int, bound: Int): Array[Int] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(n, bound)) picked += r.nextInt(bound)
    picked.toArray
  }
}

object Frames {
  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  private val querySchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false))))

  private def rows(ids: Long => Long, vs: Array[Array[Float]]): java.util.List[Row] = {
    val l = new java.util.ArrayList[Row](vs.length)
    var i = 0
    while (i < vs.length) { l.add(Row(ids(i), vs(i).toSeq)); i += 1 }
    l
  }

  /** (id, vec) rows with ids `firstId`, `firstId + 1`, ... */
  def vectors(spark: SparkSession, vs: Array[Array[Float]], firstId: Long = 0L): DataFrame =
    spark.createDataFrame(rows(firstId + _, vs), vecSchema)

  /** (qid, qvec) rows — a literal query batch. */
  def queries(spark: SparkSession, qids: Array[Long], vs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(rows(i => qids(i.toInt), vs), querySchema)
}

/** A generated document: `expected` is the drop reason curation must
  * give it ("" when kept); `family` is -1 for stand-alone documents. */
final case class Doc(id: Long, text: String, expected: String, family: Int)

/** A generated curation corpus whose verdicts are known by construction.
  *
  * Each family has an original of `tokens` distinct family-specific words.
  * Some families add an exact twin (dropped as `exact_dup`) and revisions
  * that change one word each (word-trigram Jaccard ~0.9 with the original,
  * so MinHash LSH pairs them with near certainty; dropped as `near_dup`).
  * Vocabularies of different families are disjoint, so no pair across
  * families is ever similar. Some families are contaminated: an eval
  * document quotes a span of the original, so the original (the family's
  * only survivor) is dropped as `contaminated`. Stand-alone junk documents
  * fail the quality gate and repetitive ones the repetition gate. The
  * original always carries its family's smallest id, so it is the one
  * that survives the smaller-id-wins rules. */
final class DocCorpus(seed: Long, families: Int, tokens: Int) {

  val (docs: Array[Doc], evalTexts: Array[String]) = {
    val r = new java.util.Random(seed)
    // how many families take each role is fixed; a seeded shuffle decides
    // which ones, so every seed gives the same document count
    val rank = (0 until families).toArray
    for (i <- families - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t
    }
    val out = Array.newBuilder[Doc]
    val evals = Array.newBuilder[String]
    var id = 0L
    def add(text: String, expected: String, family: Int): Unit = {
      out += Doc(id, text, expected, family); id += 1
    }
    for (f <- 0 until families) {
      val role = rank(f)
      val words = Array.tabulate(tokens)(i => s"f${f}w$i")
      val original = words.mkString(" ")
      val contaminated = role < families / 10
      add(original, if (contaminated) "contaminated" else "", f)
      if (role % 10 < 3) add(original, "exact_dup", f)
      for (v <- 0 until role % 3) {
        val w = words.clone()
        // one word changed, away from the ends, distinct per revision
        w(5 + r.nextInt(tokens - 10)) = s"f${f}r${v}x"
        add(w.mkString(" "), "near_dup", f)
      }
      if (contaminated) {
        val at = r.nextInt(tokens - 12)
        evals += (s"quoted e${f}a e${f}b " + words.slice(at, at + 12).mkString(" "))
      }
      if (role % 12 == 1) add(s"!!! ??? %%% ### j${f}q", "quality", -1)
      if (role % 12 == 7) add(Seq.fill(20)(s"spam$f now").mkString(" "), "repetition", -1)
    }
    // eval documents that match nothing in the corpus
    for (e <- 0 until math.max(2, families / 20))
      evals += (0 until 20).map(i => s"eval${e}t$i").mkString(" ")
    (out.result(), evals.result())
  }

  def expectedCounts: Map[String, Int] = docs.groupBy(_.expected).map { case (k, v) => k -> v.length }

  /** Near-duplicate pairs the generator made: every pair inside a family
    * among its original and revisions (twins leave at the exact stage). */
  def isTruePair(a: Long, b: Long): Boolean = {
    val da = docs(a.toInt); val db = docs(b.toInt)
    da.family >= 0 && da.family == db.family &&
      da.expected != "exact_dup" && db.expected != "exact_dup" &&
      da.text != db.text
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def frame(spark: SparkSession, ds: Seq[Doc]): DataFrame = {
    val l = new java.util.ArrayList[Row](ds.length)
    ds.foreach(d => l.add(Row(d.id, d.text)))
    spark.createDataFrame(l, schema)
  }

  def evalFrame(spark: SparkSession): DataFrame = {
    val l = new java.util.ArrayList[Row](evalTexts.length)
    evalTexts.zipWithIndex.foreach { case (t, i) => l.add(Row(i.toLong, t)) }
    spark.createDataFrame(l, schema)
  }
}
