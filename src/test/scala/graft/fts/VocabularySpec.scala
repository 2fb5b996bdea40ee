package graft.fts

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** The per-handle term vocabulary that SQL `fts_prefix` and `fts_fuzzy`
  * expand against: its expansions equal the library's postings filters,
  * a rebuilt or re-compacted index is served fresh, and a large expansion
  * still plans one small partition filter. */
class VocabularySpec extends SparkSpec {

  /** Terms over a small alphabet, so prefixes nest, lengths differ by one
    * or two, and `z`/`9` (the successor's edge characters) are common. */
  private val termGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf("abz9y0".toSeq)))
    .map(_.mkString)
  private val vocabGen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, termGen))

  test("prefix and fuzzy expansions equal the library's postings filters") {
    import spark.implicits._
    var nonEmpty, empty = 0
    for (i <- 0 until 30) {
      val seed = Seed(4242L + i)
      val terms = vocabGen(Gen.Parameters.default, seed).get.distinct
      val vocab = Vocabulary(terms)
      assert(vocab.size == terms.size)
      // one posting per term, its doc id the term's position
      val ix = FtsIndex(terms.zipWithIndex.map { case (t, d) => (t, d.toLong) }
        .toDF("term", "doc_id"), null, null)
      val rnd = new scala.util.Random(i)
      // prefixes of real terms (some ending in z or 9), alphabet
      // fragments, and one no term can start with
      val prefixes = (terms.flatMap(t => (1 to t.length).map(t.take)) ++
        Seq("z", "9", "az", "b9", "zz", "99", "y", "a0z", "q"))
        .distinct.filter(_ => rnd.nextDouble() < 0.3) :+ "q"
      // real terms, their one- and two-edit neighbours, and far-off terms
      val fuzzy = (terms.take(4) ++ terms.take(4).map(_ + "z") ++
        terms.take(4).map(t => t.drop(1) + "9") ++ Seq("a", "zz9", "qqqqqq"))
        .distinct.flatMap(t => Seq(t -> 1, t -> 2))
      def library(ids: Seq[(String, org.apache.spark.sql.DataFrame)]) =
        ids.map { case (q, d) => d.select(lit(q).as("q"), col("doc_id")) }
          .reduce(_ unionByName _).collect()
          .groupBy(_.getString(0)).map { case (q, rs) => q -> rs.map(r => terms(r.getLong(1).toInt)).toSet }
          .withDefaultValue(Set.empty[String])
      val byPrefix = library(prefixes.map(p => p -> Search.matchPrefixIds(ix, p)))
      for (p <- prefixes) {
        val got = vocab.withPrefix(p)
        assert(got == got.sorted && got.toSet == byPrefix(p),
          s"prefix '$p' over ${terms.sorted}: $got vs ${byPrefix(p)}")
        if (got.isEmpty) empty += 1 else nonEmpty += 1
      }
      val byFuzzy = library(fuzzy.map { case (t, k) => s"$t~$k" -> Search.matchFuzzyIds(ix, t, k) })
      for ((t, k) <- fuzzy) {
        val got = vocab.withinEdits(t, k).toSet
        assert(got == byFuzzy(s"$t~$k"), s"'$t'~$k over ${terms.sorted}: $got vs ${byFuzzy(s"$t~$k")}")
        if (got.isEmpty) empty += 1 else nonEmpty += 1
      }
    }
    // both outcomes really occur
    assert(nonEmpty > 100 && empty > 30, s"$nonEmpty non-empty, $empty empty expansions")
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

      // a second session opens its own handle, and keeps it
      val entry = IndexCatalog.get(table).get
      val other = spark.newSession()
      other.read.parquet(table).createOrReplaceTempView("vocab_fresh")
      assert(ids(other, "vocab_fresh", prefix) == Set(3L))
      val ours = IndexCatalog.cachedVocabulary(spark, entry)
      val theirs = IndexCatalog.cachedVocabulary(other, entry)
      assert(!(ours eq theirs) && (theirs eq IndexCatalog.cachedVocabulary(other, entry)))

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
      assert(IndexCatalog.cachedVocabulary(spark, entry).withPrefix("a").size >= 1000)
      val q = spark.sql("SELECT doc_id FROM vocab_wide WHERE fts_prefix(text, 'a')")
      val got = q.collect().map(_.getLong(0)).toSet
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(q.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
      assert(scans.nonEmpty)
      for (scan <- scans) {
        import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
        val literals = scan.partitionFilters.map(_.collect {
          case InSet(_, hs) => hs.size
          case _: Literal => 1
        }.sum).sum
        assert(literals > 0 && literals <= entry.buckets,
          s"$literals partition-filter literals: ${scan.partitionFilters}")
      }
      assert(got.nonEmpty &&
        got == Search.matchPrefixIds(Index.build(docs), "a").collect().map(_.getLong(0)).toSet)
    } finally IndexCatalog.clear()
  }
}
