package graft.fts

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** The per-handle term vocabulary that SQL's term-dictionary predicates
  * expand against: its expansions equal the library's postings filters,
  * a rebuilt or re-compacted index is served fresh, and a large expansion
  * still plans one small partition filter. */
class VocabularySpec extends SparkSpec {

  /** Terms over a small alphabet, so prefixes nest, lengths differ by one
    * or two, and `z`/`9` (the successor's edge characters) are common. */
  private val termGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("abz9y0".toSeq)))
    .map(_.mkString)
  private val vocabGen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, termGen))

  /** Edit distance, the textbook DP: the fuzzy shape's reference. */
  private def editDistance(a: String, b: String): Int = {
    var prev = (0 to b.length).toArray
    for (i <- 1 to a.length) {
      val cur = Array.fill(b.length + 1)(i)
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  test("prefix and fuzzy expansions equal the library's postings filters") {
    import spark.implicits._
    import Search.TermShape
    var nonEmpty, empty = 0
    val kinds = scala.collection.mutable.Set.empty[String]
    for (i <- 0 until 30) {
      val seed = Seed(4242L + i)
      val terms = vocabGen(Gen.Parameters.default, seed).get.distinct
      val vocab = Vocabulary(terms)
      assert(vocab.size == terms.size)
      // one posting per term, its doc id the term's position
      val ix = FtsIndex(terms.zipWithIndex.map { case (t, d) => (t, d.toLong) }
        .toDF("term", "doc_id"), null, null)
      val rnd = new scala.util.Random(i)
      def some[A](xs: Seq[A], n: Int): Seq[A] = rnd.shuffle(xs.distinct).take(n)
      // prefixes of real terms (some ending in z or 9), alphabet
      // fragments, and one no term can start with
      val fragments = (terms.flatMap(t => (1 to t.length).map(t.take)) ++
        Seq("z", "9", "az", "b9", "zz", "99", "y", "a0z", "q")).distinct
      val tails = terms.flatMap(t => (1 to t.length).map(t.takeRight))
      // each case: the raw input, its shape as the library builds it, the
      // library's id set, and a reference predicate written independently
      type Case = (String, TermShape, org.apache.spark.sql.DataFrame, String => Boolean)
      val prefixes: Seq[Case] = (some(fragments, 10) :+ "q").map(p =>
        (s"prefix $p", TermShape.prefix(p), Search.matchPrefixIds(ix, p),
          (t: String) => t.startsWith(p)))
      // bounds from the fragments, every inclusivity (the empty ones are
      // rejected by the validator, so they never reach a filter)
      val ranges: Seq[Case] = (for {
        lo <- some(fragments, 4); hi <- some(fragments :+ "zzzzzzz", 4)
        il <- Seq(true, false); ih <- Seq(true, false)
        if scala.util.Try(TermShape.range(lo, hi, il, ih)).isSuccess
      } yield (lo, hi, il, ih)).filter(_ => rnd.nextDouble() < 0.25).map { case (lo, hi, il, ih) =>
        (s"range $lo $hi $il $ih", TermShape.range(lo, hi, il, ih),
        Search.matchTermRangeIds(ix, lo, hi, il, ih),
        (t: String) => (if (il) t >= lo else t > lo) && (if (ih) t <= hi else t < hi))
      }
      // head*tail, headless *tail, and the tail-less head*
      val stars: Seq[Case] = (some(fragments, 2).flatMap(h => some(tails, 2).map(t => s"$h*$t")) ++
        some(tails, 3).map("*" + _) ++ some(fragments, 2).map(_ + "*")).distinct.map { p =>
        val Array(h, t) = p.split("\\*", -1)
        (s"wildcard $p", TermShape.singleStar(p), Search.matchWildcardIds(ix, p),
          (x: String) => x.startsWith(h) && x.endsWith(t) && x.length >= h.length + t.length)
      }
      // general patterns, headless ones (`?`- and `*`-led) included
      val patterns: Seq[Case] = (some(terms, 2).flatMap(t => Seq(
          "?" + t.drop(1), t.take(1) + "?*", "*" + t.takeRight(2) + "?",
          t.take(2) + "*" + t.takeRight(1) + "*", "??*")) ++
        Seq("*z?", "?9", "a*b*")).distinct.map { p =>
        val re = p.flatMap { case '*' => ".*"; case '?' => "."; case c => c.toString }
        (s"pattern $p", TermShape.pattern(p), Search.matchPatternIds(ix, p),
          (t: String) => t.matches(re))
      }
      // regexps: a literal prefix, one whose literal run loses its last
      // character before `*`/`?`/`{`, prefix-free ones and an alternation
      val regexps: Seq[Case] = (some(terms, 1).flatMap(t => Seq(
          t.take(2) + ".*", t + "*", t + "?", t.take(1) + "z{1,2}" + t.drop(1),
          ".*" + t.takeRight(1), "[a-z]+" + t.takeRight(1), t + "|" + t.reverse)) ++
        Seq("z9?", "az*", "b{2}", "(ab|z9)+", "9.*", "y[0-9]*")).distinct.map(p =>
        (s"regexp $p", TermShape.regexp(p), Search.matchRegexpIds(ix, p),
          (t: String) => t.matches(p)))
      // real terms, their one- and two-edit neighbours, and far-off terms
      val fuzzy: Seq[Case] = (terms.take(3) ++ terms.take(3).map(_ + "z") ++
        terms.take(3).map(t => t.drop(1) + "9") ++ Seq("a", "zz9", "qqqqqq"))
        .distinct.filter(_.nonEmpty).flatMap(t => Seq(1, 2).map(k =>
          (s"fuzzy $t~$k", TermShape.fuzzy(t, k), Search.matchFuzzyIds(ix, t, k),
            (x: String) => editDistance(x, t) <= k)))
      val cases = prefixes ++ ranges ++ stars ++ patterns ++ regexps ++ fuzzy
      // a balanced union: a left-deep chain re-analyzes the whole plan per
      // branch
      def union(ds: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame =
        if (ds.size == 1) ds.head
        else { val (l, r) = ds.splitAt(ds.size / 2); union(l) unionByName union(r) }
      val library = union(cases.map { case (q, _, d, _) => d.select(lit(q).as("q"), col("doc_id")) })
        .collect()
        .groupBy(_.getString(0)).map { case (q, rs) => q -> rs.map(r => terms(r.getLong(1).toInt)).toSet }
        .withDefaultValue(Set.empty[String])
      for ((q, shape, _, reference) <- cases) {
        val got = vocab.matching(shape)
        val want = terms.filter(reference).toSet
        assert(got == got.sorted && got.toSet == want && library(q) == want,
          s"$q over ${terms.sorted}: vocabulary $got, library ${library(q)}, reference $want")
        kinds += q.takeWhile(_ != ' ')
        if (got.isEmpty) empty += 1 else nonEmpty += 1
      }
    }
    // every shape ran, and both outcomes really occur
    assert(kinds == Set("prefix", "range", "wildcard", "pattern", "regexp", "fuzzy"), kinds)
    println(s"[vocabulary] $nonEmpty non-empty, $empty empty expansions")
    assert(nonEmpty > 300 && empty > 100, s"$nonEmpty non-empty, $empty empty expansions")
  }

  test("a rebuilt or re-compacted index serves terms only its new rows hold") {
    import spark.implicits._
    def ids(s: org.apache.spark.sql.SparkSession, view: String, where: String) =
      s.sql(s"SELECT doc_id FROM $view WHERE $where").collect().map(_.getLong(0)).toSet
    val (prefix, fuzzy) = ("fts_prefix(text, 'zeb')", "fts_fuzzy(text, 'zebre', 1)")
    IndexCatalog.clear()
    try {
      // createIndex over an appended table rebuilds in place and re-registers
      val table = graft.core.Scratch.freshDir("vocab_fresh_table")
      val ixDir = graft.core.Scratch.freshDir("vocab_fresh_ix")
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
        .write.parquet(table)
      Index.createIndex(spark, table, ixDir)
      spark.read.parquet(table).createOrReplaceTempView("vocab_fresh")
      assert(ids(spark, "vocab_fresh", prefix).isEmpty && ids(spark, "vocab_fresh", fuzzy).isEmpty)
      Seq((3L, "zebra crossing")).toDF("doc_id", "text").write.mode("append").parquet(table)
      Index.createIndex(spark, table, ixDir)
      spark.read.parquet(table).createOrReplaceTempView("vocab_fresh")
      assert(ids(spark, "vocab_fresh", prefix) == Set(3L))
      assert(ids(spark, "vocab_fresh", fuzzy) == Set(3L))

      // a second session opens its own DataFrames but shares the
      // vocabulary the first one read
      val entry = IndexCatalog.get(table).get
      val other = spark.newSession()
      other.read.parquet(table).createOrReplaceTempView("vocab_fresh")
      assert(ids(other, "vocab_fresh", prefix) == Set(3L))
      val ours = IndexCatalog.cachedVocabulary(spark, entry)
      val theirs = IndexCatalog.cachedVocabulary(other, entry)
      assert((ours eq theirs) && (theirs eq IndexCatalog.cachedVocabulary(other, entry)))

      // compactAndRegister registers the new epoch's index
      val landing = graft.core.Scratch.freshDir("vocab_fresh_landing")
      val log = graft.core.Scratch.freshDir("vocab_fresh_log")
      val first = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      first.write.parquet(landing)
      IncrementalIndex.upsert(spark, log, first)
      IncrementalIndex.compactAndRegister(spark, log,
        graft.core.Scratch.freshDir("vocab_fresh_epoch"), landing)
      spark.read.parquet(landing).createOrReplaceTempView("vocab_landing")
      assert(ids(spark, "vocab_landing", prefix).isEmpty && ids(spark, "vocab_landing", fuzzy).isEmpty)
      val second = Seq((4L, "zebu herd")).toDF("doc_id", "text")
      second.write.mode("append").parquet(landing)
      IncrementalIndex.upsert(spark, log, second)
      IncrementalIndex.compactAndRegister(spark, log,
        graft.core.Scratch.freshDir("vocab_fresh_epoch"), landing)
      spark.read.parquet(landing).createOrReplaceTempView("vocab_landing")
      assert(ids(spark, "vocab_landing", prefix) == Set(4L))
      assert(ids(spark, "vocab_landing", "fts_fuzzy(text, 'zebo', 1)") == Set(4L))
    } finally IndexCatalog.clear()
  }

  test("a prefix expanding to 1,000+ terms prunes with at most `buckets` partition literals") {
    import spark.implicits._
    IndexCatalog.clear()
    try {
      // 2,000 distinct a-terms and ~400 b-terms over 400 docs
      val docs = (0L until 400L).map { d =>
        (d, (0 until 5).map(j => s"a${d * 5 + j} a${(d * 7 + j) % 1500} b${d + j}").mkString(" "))
      }.toDF("doc_id", "text")
      val table = graft.core.Scratch.freshDir("vocab_wide_table")
      docs.write.parquet(table)
      Index.createIndex(spark, table, graft.core.Scratch.freshDir("vocab_wide_ix"), buckets = 16)
      spark.read.parquet(table).createOrReplaceTempView("vocab_wide")
      val entry = IndexCatalog.get(table).get
      assert(IndexCatalog.cachedVocabulary(spark, entry)
        .matching(Search.TermShape.prefix("a")).size >= 1000)
      // every term-dictionary shape, as SQL and in the query language:
      // one postings scan, pruned to at most `buckets` partition literals,
      // answering what the library's postings filter answers
      val ix = Index.build(docs)
      def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
      val range = Search.matchTermRangeIds(ix, "a1", "a5", inclLo = true, inclHi = false)
      val regexp = Search.matchRegexpIds(ix, "a1[0-9]*")
      val fuzzy = Search.matchFuzzyIds(ix, "a100", 1)
      val star = Search.matchWildcardIds(ix, "*7")
      for ((where, library) <- Seq(
          "fts_prefix(text, 'a')" -> Search.matchPrefixIds(ix, "a"),
          "fts_query(text, 'a*')" -> Search.matchPrefixIds(ix, "a"),
          "fts_term_range(text, 'a1', 'a5', true, false)" -> range,
          "fts_query(text, '[a1 TO a5}')" -> range,
          "fts_wildcard(text, '*7')" -> star,
          "fts_query(text, '*7')" -> star,
          "fts_wildcard(text, '?1?')" -> Search.matchPatternIds(ix, "?1?"),
          "fts_regexp(text, 'a1[0-9]*')" -> regexp,
          "fts_query(text, '/a1[0-9]*/')" -> regexp,
          "fts_fuzzy(text, 'a100', 1)" -> fuzzy,
          "fts_query(text, 'a100~1')" -> fuzzy)) {
        val q = spark.sql(s"SELECT doc_id FROM vocab_wide WHERE $where")
        val got = ids(q)
        val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
          .collect(q.queryExecution.executedPlan) {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }
        assert(scans.size == 1, s"$where: ${scans.size} scans")
        for (scan <- scans) {
          import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
          val literals = scan.partitionFilters.map(_.collect {
            case InSet(_, hs) => hs.size
            case _: Literal => 1
          }.sum).sum
          assert(literals > 0 && literals <= IndexCatalog.cachedIndex(spark, entry).buckets.get,
            s"$where: $literals partition-filter literals: ${scan.partitionFilters}")
        }
        assert(got.nonEmpty && got == ids(library), s"$where: ${got.size} ids")
      }
    } finally IndexCatalog.clear()
  }
}
