package graft.perfbench

import scala.collection.mutable

/** Seeded input generators. Everything the engine sees is derived from
  * the run's `--seed` through these functions, so the same seed always
  * produces byte-identical corpora, query mixes and ingest batches. */
object Gen {

  final case class Doc(id: Long, tokens: Array[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** `size` distinct lowercase words. Each rank is spelled as a unique
    * consonant-vowel syllable string (a bijection on the rank, so words
    * never collide), and a seeded shuffle decides which word gets which
    * Zipf rank, so the head terms differ from seed to seed. */
  def vocabulary(size: Int, rnd: scala.util.Random): Array[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val syll = for (c <- cons; v <- vows) yield s"$c$v" // 85 syllables
    def spell(n0: Int): String = {
      // at least two syllables; the leading syllable count grows with rank
      val sb = new StringBuilder
      var n = n0
      sb.append(syll(n % syll.size)); n /= syll.size
      sb.append(syll(n % syll.size)); n /= syll.size
      while (n > 0) { n -= 1; sb.append(syll(n % syll.size)); n /= syll.size }
      sb.toString
    }
    val words = Array.tabulate(size)(spell)
    rnd.shuffle(words.toSeq).toArray
  }

  /** Zipf(s) sampler over ranks [0, n): inverse-CDF by binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      var j = 0
      while (j < n) { out(j) /= acc; j += 1 }
      out
    }
    def sample(rnd: scala.util.Random): Int = {
      val u = rnd.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** The corpus model: Zipf(s≈1) terms over `vocab`, 10–199 tokens/doc. */
  final class Corpus(seed: Long, vocabSize: Int) {
    val vocab: Array[String] = vocabulary(vocabSize, new scala.util.Random(seed))
    private val zipf = new Zipf(vocabSize, 1.0)

    def docs(firstId: Long, n: Int, rnd: scala.util.Random): Array[Doc] =
      Array.tabulate(n) { i =>
        val len = 10 + rnd.nextInt(190)
        Doc(firstId + i, Array.fill(len)(vocab(zipf.sample(rnd))))
      }
  }

  /** One query of the serving mix. `kind` is the latency class; `tail`
    * tells whether a tail term (df < 0.1% of docs) takes part. */
  final case class Query(kind: String, sql: String, tail: Boolean,
                         expr: Ref.Expr, parseString: Option[String])

  /** Kinds per block of 20 queries: 30% ranked top-10, 20% fts_match,
    * 15% fts_phrase, 20% fts_query strings, 15% fts_prefix/fts_fuzzy. */
  val Block: Seq[(String, Int)] = Seq(
    "topk" -> 6, "match" -> 4, "phrase" -> 3, "qstring" -> 4, "prefix_fuzzy" -> 3)

  /** The (kind, tail) slots of block `b`, kinds interleaved round-robin.
    * Within a kind head-only and tail slots alternate, starting on the
    * other foot in odd blocks. */
  def blockSlots(b: Int): Seq[(String, Boolean)] = {
    val queues = Block.map { case (k, c) =>
      mutable.Queue.tabulate(c)(i => (k, (i + b) % 2 == 1)) }
    val out = Seq.newBuilder[(String, Boolean)]
    while (queues.exists(_.nonEmpty)) queues.foreach(q => if (q.nonEmpty) out += q.dequeue())
    out.result()
  }

  /** The serving query mix over a corpus summarized by `ref`. Its shape is
    * fixed and the seed fills in the words: blocks of 20 with exact kind
    * shares, head terms taken from the top 50 by df in a fixed rank
    * rotation, query forms rotating within a kind. So any window of the
    * loop sees the same mix, and two seeds' mixes cost alike. Tail terms
    * have df < 0.1% of docs. Query strings never repeat within a mix. */
  def queryMix(ref: Ref.Index, table: String, n: Int,
               rnd: scala.util.Random): Vector[Query] = {
    val byDf = ref.termsByDf
    val head = byDf.take(50)
    val tailLimit = math.max(2, (ref.nDocs * 0.001).toInt)
    val tail = byDf.filter(t => ref.df(t) < tailLimit)
    require(tail.nonEmpty, "corpus has no tail terms")
    val seen = mutable.HashSet.empty[String]
    val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
    var headPicks = 0
    val out = Vector.newBuilder[Query]
    var made = 0
    var b = 0
    while (made < n) {
      blockSlots(b).foreach { case (kind, isTail) =>
        var q: Query = null
        var tries = 0
        while (q == null) {
          tries += 1
          require(tries < 1000, s"query generator cannot find a fresh $kind query")
          q = one(kind, isTail, perKind(kind))
          if (q != null && !seen.add(q.sql)) q = null
        }
        perKind(kind) += 1
        out += q
        made += 1
      }
      b += 1
    }

    def one(kind: String, isTail: Boolean, nth: Int): Query = {
      def pick(): String = { headPicks += 1; head((headPicks * 17 + 3) % head.size) }
      def pickTail(): String = tail(rnd.nextInt(tail.length))
      // terms of one query: all-head, or head terms plus exactly one tail
      def terms(k: Int): Seq[String] = {
        val hs = Seq.fill(if (isTail) k - 1 else k)(pick())
        (if (isTail) hs :+ pickTail() else hs).distinct
      }
      kind match {
        case "topk" =>
          val ts = terms(1 + nth % 3).mkString(" ")
          Query(kind,
            s"SELECT doc_id, round(fts_score(text, '$ts'), 4) AS score FROM $table " +
              s"WHERE fts_match_any(text, '$ts') ORDER BY score DESC, doc_id LIMIT 10",
            isTail, Ref.TopK(ts.split(' ').toSeq, 10), None)
        case "match" =>
          val ts = terms(2 + nth % 2)
          if (ts.size < 2) null
          else boolQuery(kind, table, s"fts_match(text, '${ts.mkString(" ")}')",
            isTail, Ref.All(ts), None)
        case "phrase" =>
          // a real 2–3 token window of a doc that holds the chosen term,
          // so phrases hit
          val anchor = if (isTail) pickTail() else pick()
          val ph = ref.phraseAround(anchor, 2 + nth % 2, rnd)
          val phTail = ph.exists(t => ref.df(t) < tailLimit)
          if (phTail != isTail || ph.size < 2) null
          else boolQuery(kind, table, s"fts_phrase(text, '${ph.mkString(" ")}')",
            isTail, Ref.Phrase(ph), None)
        case "qstring" =>
          val ts = terms(3)
          if (ts.size < 3) null
          else {
            val (qs, e) = queryString(ts, nth % 4, rnd)
            boolQuery(kind, table, s"fts_query(text, '$qs')", isTail, e, Some(qs))
          }
        case _ =>
          val t = if (isTail) pickTail() else pick()
          if (nth % 2 == 0) {
            val p = t.take(math.max(3, t.length - 1))
            boolQuery(kind, table, s"fts_prefix(text, '$p')", isTail,
              Ref.Prefix(p), None)
          } else {
            val f = typo(t, rnd)
            boolQuery(kind, table, s"fts_fuzzy(text, '$f', 1)", isTail,
              Ref.Fuzzy(f, 1), None)
          }
      }
    }
    out.result()
  }

  private def boolQuery(kind: String, table: String, pred: String, tail: Boolean,
                        e: Ref.Expr, parse: Option[String]): Query =
    Query(kind, s"SELECT doc_id FROM $table WHERE $pred", tail, e, parse)

  /** A Lucene-style query string over the 3 terms `ts` (every term takes
    * part) in one of four forms using `+`/`-`, OR, `prefix*` and `^w`,
    * together with its reference meaning. */
  private def queryString(ts0: Seq[String], form: Int,
                          rnd: scala.util.Random): (String, Ref.Expr) = {
    val Seq(a, b, c) = rnd.shuffle(ts0)
    def t(x: String): Ref.Expr = Ref.All(Seq(x))
    form match {
      case 0 => (s"+$a -$b $c", Ref.And(Ref.And(t(a), t(c)), Ref.Not(t(b))))
      case 1 => (s"$a OR $b^2 OR $c", Ref.Or(Ref.Or(t(a), t(b)), t(c)))
      case 2 =>
        val p = c.take(math.max(3, c.length - 2))
        (s"+$a +$b $p*", Ref.And(Ref.And(t(a), t(b)), Ref.Prefix(p)))
      case _ =>
        (s"($a OR $b^3) -$c", Ref.And(Ref.Or(t(a), t(b)), Ref.Not(t(c))))
    }
  }

  /** One substitution inside the word (so Levenshtein distance 1). */
  private def typo(t: String, rnd: scala.util.Random): String = {
    val i = 1 + rnd.nextInt(math.max(1, t.length - 1))
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    var c = t.charAt(math.min(i, t.length - 1))
    while (c == t.charAt(math.min(i, t.length - 1))) c = alphabet(rnd.nextInt(26))
    val j = math.min(i, t.length - 1)
    t.substring(0, j) + c + t.substring(j + 1)
  }
}
