package graft.fts

import graft.SparkSpec
import graft.fts.QueryParser._

/** The query-string language: grammar (precedence, reserved words, errors),
  * frozen-v1 word normalization (a punctuated word must yield the SAME
  * tokens the indexer produced), and the SQL surface end-to-end including
  * the analyzer-configured index path. */
class QueryParserSpec extends SparkSpec {

  // ---- grammar --------------------------------------------------------------

  test("OR binds looser than AND") {
    assert(parse("a OR b AND c") ==
      OrN(Term("a"), AndN(Term("b"), Term("c"))))
  }

  test("adjacency is implicit AND") {
    assert(parse("big data") == AndN(Term("big"), Term("data")))
    assert(parse("a b c") == AndN(AndN(Term("a"), Term("b")), Term("c")))
  }

  test("parentheses override precedence") {
    assert(parse("(a OR b) AND c") ==
      AndN(OrN(Term("a"), Term("b")), Term("c")))
  }

  test("NOT binds tighter than AND and composes with implicit AND") {
    assert(parse("NOT a AND b") == AndN(NotN(Term("a")), Term("b")))
    assert(parse("a NOT b") == AndN(Term("a"), NotN(Term("b"))))
  }

  test("operator words are reserved, case-insensitive") {
    assert(parse("a and b") == AndN(Term("a"), Term("b")))
    assert(parse("a oR b") == OrN(Term("a"), Term("b")))
    intercept[IllegalArgumentException](parse("AND"))
    intercept[IllegalArgumentException](parse("a AND"))
  }

  test("phrase tokenizes through the frozen v1 grammar") {
    assert(parse("\"Fast, TABLE scans\"") ==
      Phrase(Seq("fast", "table", "scans")))
    intercept[IllegalArgumentException](parse("\"...\""))
  }

  test("unterminated quote fails loud") {
    intercept[IllegalArgumentException](parse("a \"b c"))
  }

  test("wildcard slots inside a quoted phrase parse to WildPhrase") {
    assert(parse("\"data quer*\"") == WildPhrase(Seq("data", "quer*")))
    assert(parse("\"d?ta QUER* stream\"") ==
      WildPhrase(Seq("d?ta", "quer*", "stream")))
    // exact words still pass through the v1 grammar (may split)
    assert(parse("\"Spark-SQL quer*\"") ==
      WildPhrase(Seq("spark", "sql", "quer*")))
    // single surviving slot canonicalizes to the plain clause
    assert(parse("\"quer*\"") == Wildcard("quer*"))
    assert(parse("\"data\"") == Phrase(Seq("data")))
  }

  test("wildcard phrases filter without scoring and compose with booleans") {
    assert(scoringTerms(parse("\"data quer*\" AND vector")) == Seq("vector"))
    assert(parse("a AND \"b c*\"") ==
      AndN(Term("a"), WildPhrase(Seq("b", "c*"))))
  }

  test("wildcard phrases compose with field scopes and NOT") {
    assert(parse("title:\"data quer*\"") ==
      Scoped("title", WildPhrase(Seq("data", "quer*"))))
    assert(parse("-\"data quer*\"") == NotN(WildPhrase(Seq("data", "quer*"))))
  }

  test("malformed wildcard-phrase slots fail loud") {
    // meta-only slot would union the whole dictionary per position
    intercept[IllegalArgumentException](parse("\"data *\""))
    intercept[IllegalArgumentException](parse("\"data ??\""))
    // punctuation glued to a wildcard slot is ambiguous under v1 — reject
    intercept[IllegalArgumentException](parse("\"data qu-er*\""))
    // wildcards in a SLOPPY phrase are unsupported (loud, not silent)
    intercept[IllegalArgumentException](parse("\"data quer*\"~2"))
    // boost on a non-scoring clause is a silent no-op — reject
    intercept[IllegalArgumentException](parse("\"data quer*\"^2"))
    // fuzzy inside a phrase: '~' only binds to the whole phrase
    intercept[IllegalArgumentException](parse("\"data query~1\""))
  }

  test("missing close paren / trailing input fail loud") {
    intercept[IllegalArgumentException](parse("(a OR b"))
    intercept[IllegalArgumentException](parse("a ) b"))
  }

  test("NEAR/k needs plain terms on both sides") {
    assert(parse("data NEAR/3 query") == Near("data", "query", 3))
    intercept[IllegalArgumentException](parse("\"a b\" NEAR/2 c"))
  }

  // ---- word normalization (frozen v1, ADVICE r7) ----------------------------

  test("punctuated word splits into implicit-AND index terms") {
    // 'Spark-SQL' is indexed as the two tokens spark/sql — the query must
    // produce the same, never the fused 'sparksql' (which no index holds)
    assert(parse("Spark-SQL") == AndN(Term("spark"), Term("sql")))
    assert(parse("vector,stream") == AndN(Term("vector"), Term("stream")))
  }

  test("non-ASCII letters normalize exactly like the indexer") {
    // FtsTokenize drops 'é' as a separator: café → caf on both sides
    assert(parse("café") == Term("caf"))
    assert(QueryParser.parse("Café au lait") ==
      AndN(AndN(Term("caf"), Term("au")), Term("lait")))
  }

  test("star placement: prefix, inner wildcard, leading wildcard") {
    assert(parse("quer*") == Prefix("quer"))
    assert(parse("c*er") == Wildcard("c*er"))
    assert(parse("*er") == Wildcard("*er"))
    // star binds to the adjacent token; other tokens become AND'd terms
    assert(parse("foo-b*") == AndN(Prefix("b"), Term("foo")))
    // multiple stars are a GENERAL pattern (since round 9), not an error
    assert(parse("a*b*c") == Wildcard("a*b*c"))
    intercept[IllegalArgumentException](parse("*"))
    intercept[IllegalArgumentException](parse("..."))
  }

  test("star binds only across RAW adjacency, never a punctuation boundary") {
    // 'foo-*bar': the indexer splits foo-bar into TWO terms, so fusing
    // into Wildcard("foo*bar") could never match — the separated side
    // must stay a plain AND'd term (ADVICE r8)
    assert(parse("foo-*bar") == AndN(Wildcard("*bar"), Term("foo")))
    assert(parse("foo*-bar") == AndN(Prefix("foo"), Term("bar")))
    intercept[IllegalArgumentException](parse("foo-*-bar")) // star touches nothing
  }

  test("regex terms: /pattern/ parses raw, composes with booleans") {
    assert(parse("/quer[a-z]+/") == Regex("quer[a-z]+"))
    // regex metacharacters must NOT hit the grammar: parens, spaces,
    // brackets inside the slashes are pattern text
    assert(parse("a AND /x(y|z) [0-9]/") ==
      AndN(Term("a"), Regex("x(y|z) [0-9]")))
    assert(parse("NOT /sl.w/ OR b") ==
      OrN(NotN(Regex("sl.w")), Term("b")))
    // escaped slash is a literal '/', spaced +/- attach
    assert(parse("""/a\/b/""") == Regex("a/b"))
    assert(parse("- /sl.w/ a") == AndN(NotN(Regex("sl.w")), Term("a")))
    // grouped field scope lexes the regex properly
    assert(parse("title:(/quer.*/)") == Scoped("title", Regex("quer.*")))
    // regexes filter without scoring (Lucene constant-score treatment)
    assert(scoringTerms(parse("a /b.*/ c")) == Seq("a", "c"))
  }

  test("regex rejections: unterminated, empty, non-compiling, glued") {
    intercept[IllegalArgumentException](parse("/abc"))
    intercept[IllegalArgumentException](parse("//"))
    intercept[IllegalArgumentException](parse("/ab[/"))   // bad pattern
    intercept[IllegalArgumentException](parse("/ab/x"))   // glued suffix
    intercept[IllegalArgumentException](parse("-/ab/"))   // glued operator
    intercept[IllegalArgumentException](parse("title:/ab/")) // glued scope
  }

  test("fuzzy syntax: term~k parses, bare ~ defaults to 2 edits") {
    assert(parse("querry~1") == Fuzzy("querry", 1))
    assert(parse("querry~2") == Fuzzy("querry", 2))
    assert(parse("querry~") == Fuzzy("querry", 2))
    // fuzzy binds to the adjacent token, same rule as the star
    assert(parse("foo-querry~1") == AndN(Term("foo"), Fuzzy("querry", 1)))
    assert(parse("querry~1 AND vector") ==
      AndN(Fuzzy("querry", 1), Term("vector")))
  }

  test("fuzzy syntax rejections: ~3, ~ with *, dangling ~") {
    intercept[IllegalArgumentException](parse("querry~3"))
    intercept[IllegalArgumentException](parse("querry~x"))
    intercept[IllegalArgumentException](parse("quer*~1"))
    intercept[IllegalArgumentException](parse("~1"))
    intercept[IllegalArgumentException](parse("a~~1"))
  }

  test("general wildcard patterns: multi-star and '?' words") {
    assert(parse("v?lue") == Wildcard("v?lue"))
    assert(parse("s*r*am") == Wildcard("s*r*am"))
    assert(parse("C?ST*ER") == Wildcard("c?st*er"))
    assert(parse("??") == Wildcard("??"))
    assert(parse("v?lue AND spark") ==
      AndN(Wildcard("v?lue"), Term("spark")))
    // patterns never score
    assert(QueryParser.scoringTerms(parse("v?lue OR data")) == Seq("data"))
  }

  test("general wildcard rejections: punctuation, all-star, ~, boost") {
    intercept[IllegalArgumentException](parse("v?l-ue"))
    intercept[IllegalArgumentException](parse("**"))
    intercept[IllegalArgumentException](parse("a?b~1"))
    intercept[IllegalArgumentException](parse("v?lue^2"))
  }

  test("phrase slop: \"a b\"~k parses to SloppyPhrase, normalizes trivial forms") {
    assert(parse("\"big data\"~2") == SloppyPhrase(Seq("big", "data"), 2))
    assert(parse("\"a b c\"~1") == SloppyPhrase(Seq("a", "b", "c"), 1))
    // slop 0 IS the exact phrase; a 1-token sloppy phrase has no window
    assert(parse("\"big data\"~0") == Phrase(Seq("big", "data")))
    assert(parse("\"data\"~2") == Phrase(Seq("data")))
    // composes with boolean algebra and implicit AND
    assert(parse("\"big data\"~2 AND spark") ==
      AndN(SloppyPhrase(Seq("big", "data"), 2), Term("spark")))
    // slop-then-boost, Lucene order: "a b"~2^3
    assert(parse("\"big data\"~2^3") ==
      Boosted(SloppyPhrase(Seq("big", "data"), 2), 3.0))
    // sloppy phrase terms SCORE (like exact phrase terms)
    assert(QueryParser.scoringTerms(parse("\"big data\"~2")) ==
      Seq("big", "data"))
    assert(QueryParser.scoringWeights(parse("\"big data\"~2^3")) ==
      Seq("big" -> 3.0, "data" -> 3.0))
  }

  test("phrase slop rejections: bare ~, non-integer, boost-before-slop, glue") {
    intercept[IllegalArgumentException](parse("\"a b\"~"))
    intercept[IllegalArgumentException](parse("\"a b\"~x"))
    intercept[IllegalArgumentException](parse("\"a b\"^2~3"))
    intercept[IllegalArgumentException](parse("\"a b\"~2x"))
  }

  test("boost syntax: term^w / phrase^w parse; weights multiply through") {
    assert(parse("vector^2") == Boosted(Term("vector"), 2.0))
    assert(parse("\"data query\"^1.5") ==
      Boosted(Phrase(Seq("data", "query")), 1.5))
    assert(parse("a^2 b") == AndN(Boosted(Term("a"), 2.0), Term("b")))
    assert(QueryParser.scoringWeights(
      parse("vector^2 AND (\"data query\"^1.5 OR quer*)")) ==
      Seq("vector" -> 2.0, "data" -> 1.5, "query" -> 1.5))
    // a boost of 1.0 is the identity — no wrapper node
    assert(parse("a^1.0") == Term("a"))
  }

  test("boost rejections: non-positive, non-numeric, non-scoring clauses") {
    intercept[IllegalArgumentException](parse("a^0"))
    intercept[IllegalArgumentException](parse("a^x"))
    intercept[IllegalArgumentException](parse("a^2^3"))
    intercept[IllegalArgumentException](parse("^2"))
    // prefix/wildcard/fuzzy filter without scoring — a boost on one would
    // be a silent no-op, so it fails loud
    intercept[IllegalArgumentException](parse("quer*^2"))
    intercept[IllegalArgumentException](parse("querry~1^2"))
    intercept[IllegalArgumentException](parse("\"a b\"^0.0"))
    // trailing garbage glued to a phrase must not silently become a term
    intercept[IllegalArgumentException](parse("\"a b\"x"))
    intercept[IllegalArgumentException](parse("\"a b\"^2x"))
    intercept[IllegalArgumentException](parse("\"a b\"^"))
  }

  test("scoringTerms: positive term bag, multi-term clauses filter-only") {
    val n = parse("vector AND (\"data query\" OR quer*) NOT slow")
    assert(QueryParser.scoringTerms(n) == Seq("vector", "data", "query"))
    assert(QueryParser.scoringTerms(parse("a NEAR/3 b")) == Seq("a", "b"))
    assert(QueryParser.scoringTerms(parse("querry~1 OR quer*")) == Nil)
  }

  // ---- SQL surface ----------------------------------------------------------

  private def ids(sql: String): Set[Long] =
    spark.sql(sql).collect().map(_.getLong(0)).toSet

  test("fts_query equals the hand-written fts_match conjunction") {
    IndexCatalog.clear()
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_qp")
    val viaQuery = ids(
      "SELECT doc_id FROM docs_qp WHERE fts_query(text, 'spark AND query')")
    val viaMatch = ids(
      "SELECT doc_id FROM docs_qp WHERE fts_match(text, 'spark query')")
    assert(viaQuery == viaMatch && viaQuery.nonEmpty)
    // punctuated + implicit-AND spelling of the same query
    assert(ids(
      "SELECT doc_id FROM docs_qp WHERE fts_query(text, 'Spark,Query')")
      == viaMatch)
  }

  test("foldable non-literal query strings are accepted") {
    IndexCatalog.clear()
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_qp")
    val expect = ids(
      "SELECT doc_id FROM docs_qp WHERE fts_query(text, 'spark')")
    assert(ids(
      "SELECT doc_id FROM docs_qp WHERE fts_query(text, 'spa' || 'rk')")
      == expect)
  }

  test("non-foldable / NULL / malformed queries raise AnalysisException") {
    IndexCatalog.clear()
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_qp")
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT doc_id FROM docs_qp WHERE fts_query(text, text)").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT doc_id FROM docs_qp WHERE fts_query(text, NULL)").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT doc_id FROM docs_qp WHERE fts_query(text, '(a OR')").collect())
  }

  test("fuzzy query: index path equals the scan fallback, both non-empty") {
    IndexCatalog.clear()
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_qp")
    // no registered index → ArrayExists + banded levenshtein over tokens
    val scan = ids(
      "SELECT doc_id FROM docs_qp WHERE fts_query(text, 'querry~1')")
    Index.createIndex(spark, sf("documents"),
      ttmp("fts_qp_fuzzy"))
    try {
      // registered index → dictionary expansion + postings-union semi-join
      val ixed = ids(
        "SELECT doc_id FROM docs_qp WHERE fts_query(text, 'querry~1')")
      assert(ixed == scan && ixed.nonEmpty)
    } finally IndexCatalog.clear()
  }

  test("fts_query_score equals fts_score over the extracted scoring terms") {
    IndexCatalog.clear()
    Index.createIndex(spark, sf("documents"),
      ttmp("fts_qp_rank"))
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_qp")
    try {
      def rows(expr: String): Seq[(Long, Double)] = spark.sql(
        s"""SELECT doc_id, round($expr, 4) AS s FROM docs_qp
            WHERE fts_match_any(text, 'vector') ORDER BY doc_id""")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaQuery = rows(
        """fts_query_score(text, 'vector AND (quer* OR "data query")')""")
      val viaBag = rows("fts_score(text, 'vector data query')")
      assert(viaQuery == viaBag && viaQuery.nonEmpty)
    } finally IndexCatalog.clear()
  }

  test("boosted fts_query_score equals the weighted sum of score groups") {
    IndexCatalog.clear()
    Index.createIndex(spark, sf("documents"),
      ttmp("fts_qp_boost"))
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_qp")
    try {
      def rows(expr: String): Seq[(Long, Double)] = spark.sql(
        s"""SELECT doc_id, round($expr, 4) AS s FROM docs_qp
            WHERE fts_match_any(text, 'vector data query') ORDER BY doc_id""")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val boosted = rows("fts_query_score(text, 'vector^2 data query')")
      val manual = rows(
        "2.0 * fts_score(text, 'vector') + fts_score(text, 'data query')")
      assert(boosted == manual && boosted.nonEmpty)
    } finally IndexCatalog.clear()
  }

  test("fts_query filters a STREAM through the scan kernels") {
    // no registered index → every leaf lowers to the stateless codegen
    // kernels, which are streaming-safe: the query language works at
    // INGEST (filter-at-source curation) without any index machinery
    IndexCatalog.clear()
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .where("fts_query(text, 'spark AND quer* NOT legacy')")
      .writeStream.format("memory").queryName("qp_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "spark query engine"),
        (2L, "spark only, no q-word"),
        (3L, "fast queries in spark"),
        (4L, "legacy spark query path"))
      q.processAllAvailable()
      val got = spark.table("qp_stream").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L), s"got $got")
    } finally q.stop()
  }

  test("wildcard phrase matches on the SCAN path with 3VL nulls") {
    // no index: fts_phrase_wild lowers to per-offset slot checks over the
    // token array (exact = comparison, pattern = codegen'd LIKE)
    IndexCatalog.clear()
    val sparkS = spark
    import sparkS.implicits._
    val docs = Seq(
      (1L, "fast data query engine"),
      (2L, "data quality matters"),          // qu* but quality ≠ quer*
      (3L, "big data queries at scale"),
      (4L, "query data inversion"),          // reversed order — no match
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = docs.where("fts_query(text, '\"data quer*\"')")
      .select("doc_id").as[Long].collect().sorted
    assert(got === Array(1L, 3L))
    // NULL text is NULL, not false: NOT(match) keeps it dropped too
    val kept = docs.where("NOT fts_query(text, '\"data quer*\"')")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 4L))
    // ?-slots and a phrase longer than some docs' token streams
    val q2 = docs.where("fts_query(text, '\"b?g d?ta quer*\"')")
      .select("doc_id").as[Long].collect()
    assert(q2 === Array(3L))
  }

  test("fts_query serves an analyzer-configured index through entryTerms") {
    IndexCatalog.clear()
    try {
      val docsPath = sf("documents")
      val docs = spark.read.parquet(docsPath)
      val cfg = AnalyzerConfig(stopWords = Seq("the"), sStem = true, minTokenLen = 2)
      val ixDir = ttmp("fts_index_qp_an")
      Index.createIndex(spark, docsPath, ixDir, analyzer = cfg)
      docs.createOrReplaceTempView("docs_qp_an")
      // 'queries' must stem to the corpus term 'query' on the way in
      val served = ids(
        "SELECT doc_id FROM docs_qp_an WHERE fts_query(text, 'queries AND window')")
      val expect = Search.matchAllIds(
          Index.build(docs, analyzer = cfg),
          cfg.normalizeTerms(Seq("queries", "window")))
        .collect().map(_.getLong(0)).toSet
      assert(served == expect && served.nonEmpty)
    } finally IndexCatalog.clear()
  }

  // ---- required/prohibited operators ---------------------------------------

  test("+term is the explicit required spelling; -term prohibits") {
    assert(parse("+a b") == AndN(Term("a"), Term("b")))
    assert(parse("a -b") == AndN(Term("a"), NotN(Term("b"))))
    assert(parse("-a") == NotN(Term("a")))
  }

  test("-/+ attach to phrases and groups") {
    assert(parse("""-"big data"""") == NotN(Phrase(Seq("big", "data"))))
    assert(parse("-(a OR b)") == NotN(OrN(Term("a"), Term("b"))))
    assert(parse("+(a b)") == AndN(Term("a"), Term("b")))
  }

  test("free-standing or doubled operators fail loud") {
    intercept[IllegalArgumentException](parse("a - b"))
    intercept[IllegalArgumentException](parse("--a"))
    intercept[IllegalArgumentException](parse("-+a"))
  }

  test("interior hyphens still normalize through the v1 grammar") {
    assert(parse("well-known") == AndN(Term("well"), Term("known")))
    assert(parse("-well-known") == NotN(AndN(Term("well"), Term("known"))))
  }

  // ---- field scoping --------------------------------------------------------

  test("field:term scopes a term, phrase, group, and shape clauses") {
    assert(parse("source:wiki") == Scoped("source", Term("wiki")))
    assert(parse("""title:"big data"""") ==
      Scoped("title", Phrase(Seq("big", "data"))))
    assert(parse("title:(a OR b)") ==
      Scoped("title", OrN(Term("a"), Term("b"))))
    assert(parse("source:quer*") == Scoped("source", Prefix("quer")))
  }

  test("field scope composes with operators and the default field") {
    assert(parse("vector -source:wiki") ==
      AndN(Term("vector"), NotN(Scoped("source", Term("wiki")))))
    assert(parse("+source:wiki vector") ==
      AndN(Scoped("source", Term("wiki")), Term("vector")))
  }

  test("a non-identifier prefix before ':' is a plain word, not a scope") {
    assert(parse("12:30") == AndN(Term("12"), Term("30")))
    assert(parse(":foo") == Term("foo"))
  }

  test("nested scopes, scoped boosts, op-after-colon, dangling colon fail loud") {
    intercept[IllegalArgumentException](parse("title:(a OR source:b)"))
    intercept[IllegalArgumentException](parse("source:wiki^2"))
    intercept[IllegalArgumentException](parse("source:-wiki"))
    intercept[IllegalArgumentException](parse("source: wiki"))
  }

  // ---- term ranges ----------------------------------------------------------

  test("[lo TO hi] parses with mixable inclusive/exclusive bounds") {
    assert(parse("[apple TO banana]") ==
      TermRange("apple", "banana", inclLo = true, inclHi = true))
    assert(parse("{apple TO banana}") ==
      TermRange("apple", "banana", inclLo = false, inclHi = false))
    assert(parse("[apple TO banana}") ==
      TermRange("apple", "banana", inclLo = true, inclHi = false))
    assert(parse("a [b TO c] d") ==
      AndN(AndN(Term("a"), TermRange("b", "c", true, true)), Term("d")))
    assert(parse("-[a TO b]") == NotN(TermRange("a", "b", true, true)))
    assert(parse("source:[src1 TO src3]") ==
      Scoped("source", TermRange("src1", "src3", true, true)))
  }

  test("range endpoints normalize through the v1 grammar") {
    assert(parse("[Apple TO BANANA]") ==
      TermRange("apple", "banana", inclLo = true, inclHi = true))
  }

  test("malformed or empty ranges fail loud") {
    intercept[IllegalArgumentException](parse("[a b]"))
    intercept[IllegalArgumentException](parse("[a TO]"))
    intercept[IllegalArgumentException](parse("[a TO b"))
    intercept[IllegalArgumentException](parse("[b TO a]"))
    intercept[IllegalArgumentException](parse("{a TO a}"))
    intercept[IllegalArgumentException](parse("[a-b TO c]"))
  }

  test("fts_term_range SQL function matches scan and index paths alike") {
    IndexCatalog.clear()
    try {
      val docsPath = sf("documents")
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_qp_r")
      // scan path (no index): kernel over tokenized text
      val scan = ids("""SELECT doc_id FROM docs_qp_r
        WHERE fts_term_range(text, 'query', 'querz')""")
      Index.createIndex(spark, docsPath,
        ttmp("fts_index_qp_r"))
      // index path: pushed term range over the sorted postings
      val indexed = ids("""SELECT doc_id FROM docs_qp_r
        WHERE fts_term_range(text, 'query', 'querz')""")
      assert(scan == indexed && scan.nonEmpty)
      // ... and it IS the index path — in fact the COVERING one: the
      // id-only projection is answered entirely from the postings with the
      // range pushed as a term filter; no corpus scan, no kernel, no join
      val plan = spark.sql("""SELECT doc_id FROM docs_qp_r
        WHERE fts_term_range(text, 'query', 'querz')""")
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("fts_has_token_range") &&
        plan.contains("term") && plan.contains(">= query"), plan)
      // exclusive upper bound drops the boundary term
      val excl = ids("""SELECT doc_id FROM docs_qp_r
        WHERE fts_term_range(text, 'query', 'querz', true, false)""")
      assert(excl.subsetOf(indexed))
    } finally IndexCatalog.clear()
  }

  test("fts_query field scopes serve each column's own index") {
    IndexCatalog.clear()
    try {
      val docsPath = sf("documents")
      Index.createIndex(spark, docsPath,
        ttmp("fts_index_qp_f1"))
      Index.createIndex(spark, docsPath,
        ttmp("fts_index_qp_f2"), textCol = "source")
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_qp_f")
      val got = ids("""SELECT doc_id FROM docs_qp_f
        WHERE fts_query(text, 'spark query source:src3')""")
      val expect = ids("""SELECT doc_id FROM docs_qp_f
        WHERE fts_match(text, 'spark query') AND fts_match(source, 'src3')""")
      assert(got == expect && got.nonEmpty)
      // the scoped leaf lowers to the source column's index semi-join,
      // not a scan: both conjuncts index-lowered means no fts kernel in
      // the optimized plan
      val df = spark.sql("""SELECT doc_id FROM docs_qp_f
        WHERE fts_query(text, 'spark query source:src3')""")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("fts_tokenize"), plan)
      // a typo'd field is a loud resolution error, not a silent scan
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("""SELECT doc_id FROM docs_qp_f
          WHERE fts_query(text, 'sorce:wiki')""").collect()
      }
      assert(err.getMessage.toLowerCase.contains("sorce"))
    } finally IndexCatalog.clear()
  }
}
