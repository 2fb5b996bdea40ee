package graft.perfbench

import scala.collection.mutable

/** The independent result path. A plain in-memory positional index over
  * the generated documents, answering every query of the benchmark with
  * straightforward code (no Spark, no engine code), so the engine's answers
  * can be checked without trusting any of its lowerings. */
object Ref {

  sealed trait Expr
  final case class All(terms: Seq[String]) extends Expr
  final case class Phrase(terms: Seq[String]) extends Expr
  final case class Prefix(p: String) extends Expr
  final case class Fuzzy(t: String, k: Int) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  /** BM25 top-k over the docs holding any of `terms` (k1 1.2, b 0.75,
    * scores rounded to 4 places, ties broken by doc id). */
  final case class TopK(terms: Seq[String], k: Int) extends Expr

  /** A mutable live-document index: supports add and remove, so the ingest
    * workload can track deletes and upserts. */
  final class Index {
    private val docs = mutable.LongMap.empty[Array[String]]
    private val postings = mutable.HashMap.empty[String, mutable.Set[Long]]
    private var totalLen = 0L

    def nDocs: Int = docs.size
    def ids: Iterable[Long] = docs.keys
    def df(t: String): Int = postings.get(t).fold(0)(_.size)
    def termsByDf: Vector[String] =
      postings.iterator.map { case (t, s) => (t, s.size) }.toVector
        .sortBy { case (t, n) => (-n, t) }.map(_._1)

    def add(id: Long, tokens: Array[String]): Unit = {
      remove(id)
      docs(id) = tokens
      totalLen += tokens.length
      tokens.foreach(t => postings.getOrElseUpdate(t, mutable.HashSet.empty[Long]) += id)
    }

    def remove(id: Long): Unit = docs.get(id).foreach { toks =>
      docs -= id
      totalLen -= toks.length
      toks.distinct.foreach { t =>
        val s = postings(t)
        s -= id
        if (s.isEmpty) postings -= t
      }
    }

    /** `n` consecutive tokens of some doc that holds `anchor`. */
    def phraseAround(anchor: String, n: Int, rnd: scala.util.Random): Seq[String] = {
      val holders = postings(anchor).toVector.sorted
      val toks = docs(holders(rnd.nextInt(holders.size)))
      val at = toks.indexOf(anchor)
      val start = math.max(0, math.min(at - rnd.nextInt(n), toks.length - n))
      toks.slice(start, start + n).toSeq
    }

    private def containing(t: String): Set[Long] = postings.get(t).fold(Set.empty[Long])(_.toSet)

    def eval(e: Expr): Set[Long] = e match {
      case All(ts) => ts.map(containing).reduce(_ intersect _)
      case Phrase(ts) =>
        ts.map(containing).reduce(_ intersect _).filter { id =>
          val toks = docs(id)
          toks.indices.exists(i => i + ts.length <= toks.length &&
            ts.indices.forall(j => toks(i + j) == ts(j)))
        }
      case Prefix(p) =>
        postings.iterator.collect { case (t, s) if t.startsWith(p) => s }
          .foldLeft(Set.empty[Long])(_ ++ _)
      case Fuzzy(q, k) =>
        postings.iterator.collect { case (t, s) if levenshtein(t, q) <= k => s }
          .foldLeft(Set.empty[Long])(_ ++ _)
      case And(l, Not(r)) => eval(l) -- eval(r)
      case And(l, r) => eval(l) intersect eval(r)
      case Or(l, r) => eval(l) ++ eval(r)
      case Not(x) => docs.keySet.toSet -- eval(x)
      case TopK(ts, _) => ts.map(containing).reduce(_ ++ _)
    }

    /** (doc id, rounded score) of the BM25 top-k. */
    def topK(ts0: Seq[String], k: Int): Seq[(Long, Double)] = {
      val ts = ts0.distinct
      val n = docs.size.toDouble
      val avgdl = totalLen.toDouble / n
      val scores = mutable.LongMap.empty[Double]
      ts.foreach { t =>
        val holders = postings.getOrElse(t, mutable.Set.empty[Long])
        val df = holders.size.toDouble
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        holders.foreach { id =>
          val toks = docs(id)
          val tf = toks.count(_ == t).toDouble
          val s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * toks.length / avgdl))
          scores(id) = scores.getOrElse(id, 0.0) + s
        }
      }
      scores.toSeq.map { case (id, s) => (id, round4(s)) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
    }
  }

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Same top-k up to floating-point noise: equal scores position by
    * position (within 2e-4), and equal ids wherever the neighbouring
    * scores are not tied within that tolerance. */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size && got.indices.forall { i =>
      val (gi, gs) = got(i)
      val (wi, ws) = want(i)
      math.abs(gs - ws) <= 2e-4 && (gi == wi || want.exists { case (id, s) =>
        id == gi && math.abs(s - ws) <= 2e-4 })
    }

  def levenshtein(a: String, b: String): Int = {
    if (math.abs(a.length - b.length) > 2) return 3
    var prev = Array.tabulate(b.length + 1)(identity)
    var i = 1
    while (i <= a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      prev = cur
      i += 1
    }
    prev(b.length)
  }
}
