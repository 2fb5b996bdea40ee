package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The custom Catalyst surface: native tokenizer expression (with codegen),
  * fts_match rewrite rule, SQL registration. */
class ExtensionsSpec extends SparkSpec {

  test("fts_tokenize expression matches Analyzer.tokenize semantics") {
    import spark.implicits._
    Seq(("Hello, WORLD!! 42", 1)).toDF("text", "id").createOrReplaceTempView("t_ext")
    val native = spark.sql("SELECT fts_tokenize(text) AS toks FROM t_ext")
      .collect()(0).getSeq[String](0)
    assert(native == Seq("hello", "world", "42"))
    val viaColumns = Seq("Hello, WORLD!! 42").toDF("text")
      .select(graft.fts.Analyzer.tokenize(col("text"))).collect()(0).getSeq[String](0)
    assert(native == viaColumns, "native expression and column composition must agree")
  }

  test("fts_tokenize survives whole-stage codegen over the fixture") {
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_ext")
    val n = spark.sql(
      "SELECT sum(size(fts_tokenize(text))) FROM docs_ext").collect()(0).getLong(0)
    assert(n > 0)
  }

  /** COVERED index plans scan nothing but the index's own relations —
    * every file scan in the plan carries the postings' `term` column (the
    * corpus relation carries `text` and no `term`). */
  private def scansOnlyPostings(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }.forall(_.output.exists(_.name == "term"))

  test("fts_match rewrites to array_contains conjunction and filters correctly") {
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_ext")
    val df = spark.sql(
      "SELECT doc_id FROM docs_ext WHERE fts_match(text, 'spark query')")
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[FtsMatch])),
      "rule must eliminate FtsMatch before execution")
    assert(optimized.toString.contains("array_contains"),
      s"expected array_contains lowering, got:\n$optimized")
    // semantics agree with the library path
    val expect = graft.fts.Search.matchAllIds(
        graft.fts.Index.build(spark.read.parquet(sf("documents"))), Seq("spark", "query"))
      .collect().map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet == expect)
  }

  test("fts_match over a registered table lowers to a postings semi-join") {
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_ix_spec")
      val df = spark.sql(
        "SELECT doc_id FROM docs_ix_spec WHERE fts_match(text, 'spark query')")
      val optimized = df.queryExecution.optimizedPlan
      // id-only match queries go INDEX-ONLY: the answer is built from the
      // postings alone, the corpus is never scanned
      assert(scansOnlyPostings(df),
        s"expected an index-only postings plan, got:\n$optimized")
      assert(!optimized.toString.contains("array_contains"),
        "indexed path must not fall back to the scan lowering")
      // identical rows to the scan-based lowering on an unregistered view
      val expect = graft.fts.Search.matchAllIds(
          graft.fts.Index.build(spark.read.parquet(docsPath)), Seq("spark", "query"))
        .collect().map(_.getLong(0)).toSet
      assert(df.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_match_min: scan and index paths agree on the >= k distinct contract") {
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_min_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    // ground truth: >= 2 distinct of the 4 terms via the library id set
    val ix = graft.fts.Index.build(spark.read.parquet(docsPath))
    val terms = Seq("spark", "query", "vector", "slow")
    val expect = graft.fts.Search.matchMinIds(ix, terms, 2)
      .collect().map(_.getLong(0)).toSet
    // sanity: strictly between OR (k=1) and AND (k=4)
    val anyN = graft.fts.Search.matchAnyIds(ix, terms).count()
    val allN = graft.fts.Search.matchAllIds(ix, terms).count()
    assert(allN <= expect.size && expect.size <= anyN)
    // scan path (unregistered): array_intersect lowering, no joins
    spark.read.parquet(docsPath).createOrReplaceTempView("docs_min_scan")
    val scan = spark.sql("""SELECT doc_id FROM docs_min_scan
      WHERE fts_match_min(text, 'spark query vector slow', 2)""")
    assert(scan.queryExecution.optimizedPlan.toString.contains("array_intersect"),
      scan.queryExecution.optimizedPlan.toString)
    assert(scan.collect().map(_.getLong(0)).toSet == expect)
    // index path (registered): index-only distinct-count plan
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_min_ix")
      val ixq = spark.sql("""SELECT doc_id FROM docs_min_ix
        WHERE fts_match_min(text, 'spark query vector slow', 2)""")
      assert(scansOnlyPostings(ixq),
        s"expected index-only plan:\n${ixq.queryExecution.optimizedPlan}")
      assert(ixq.collect().map(_.getLong(0)).toSet == expect)
      // k above the term count matches nothing; k = 1 equals OR; k < 1 loud
      assert(spark.sql("""SELECT doc_id FROM docs_min_ix
        WHERE fts_match_min(text, 'spark query', 3)""").count() == 0)
      assert(spark.sql("""SELECT doc_id FROM docs_min_ix
        WHERE fts_match_min(text, 'spark query vector slow', 1)""").count() == anyN)
      val e = intercept[Exception](spark.sql("""SELECT doc_id FROM docs_min_ix
        WHERE fts_match_min(text, 'spark query', 0)""").collect())
      assert(e.getMessage.contains("minimum_should_match"), e.getMessage)

      // CONJUNCTIONS keep the index path (the r12 gap: min was classified
      // in the single-predicate path only, so `fts_match_min AND <other
      // fts>` silently fell back to a corpus scan). Ground truth = the
      // two library id sets intersected.
      val expectBoth = expect.intersect(graft.fts.Search
        .matchAllIds(ix, Seq("table")).collect().map(_.getLong(0)).toSet)
      assert(expectBoth.nonEmpty && expectBoth.size < expect.size,
        s"fixture must make the conjunction bite: $expectBoth")
      // id-only projection: fully covered, corpus never scanned
      val covered = spark.sql("""SELECT doc_id FROM docs_min_ix
        WHERE fts_match_min(text, 'spark query vector slow', 2)
          AND fts_match(text, 'table')""")
      assert(scansOnlyPostings(covered),
        s"min AND match, id-only must stay index-only:\n${covered.queryExecution.optimizedPlan}")
      assert(covered.collect().map(_.getLong(0)).toSet == expectBoth)
      // wider projection: corpus read survives but BOTH conjuncts lower
      // to postings semi-joins — no array_intersect scan fallback
      val conj = spark.sql("""SELECT doc_id, lang FROM docs_min_ix
        WHERE fts_match_min(text, 'spark query vector slow', 2)
          AND fts_match(text, 'table')""")
      val conjPlan = conj.queryExecution.optimizedPlan
      assert(!conjPlan.toString.contains("array_intersect"),
        s"fts_match_min conjunct fell back to the scan lowering:\n$conjPlan")
      val semis = conjPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semis.size == 2,
        s"expected both conjuncts folded as postings semi-joins:\n$conjPlan")
      assert(conj.collect().map(_.getLong(0)).toSet == expectBoth)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("index path follows renames but refuses name-only impostors") {
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_lineage_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_lin_spec")
      def semiJoins(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
        }.size

      // RENAMED text/id columns are still lineage-identical to the base
      // relation's columns → index path fires and rows match the scan path
      val renamed = spark.sql(
        """SELECT id FROM (SELECT doc_id AS id, text AS body FROM docs_lin_spec)
           WHERE fts_match(body, 'spark query')""")
      assert(scansOnlyPostings(renamed),
        s"rename must keep the index path (index-only here):\n${renamed.queryExecution.optimizedPlan}")
      val expect = graft.fts.Search.matchAllIds(
          graft.fts.Index.build(spark.read.parquet(docsPath)), Seq("spark", "query"))
        .collect().map(_.getLong(0)).toSet
      assert(renamed.collect().map(_.getLong(0)).toSet == expect)

      // a COMPUTED column merely NAMED "text" must NOT be lowered to the
      // postings semi-join (the index carries the real text column's tokens)
      val impostor = spark.sql(
        """SELECT doc_id FROM (SELECT doc_id, upper(lang) AS text FROM docs_lin_spec)
           WHERE fts_match(text, 'en')""")
      assert(semiJoins(impostor) == 0,
        s"computed impostor column took the index path:\n${impostor.queryExecution.optimizedPlan}")
      assert(impostor.queryExecution.optimizedPlan.toString.contains("array_contains"),
        "impostor must fall back to the scan lowering")
      // and the scan lowering evaluates the impostor's ACTUAL content:
      // upper('en') tokenizes back to 'en', so rows where lang='en' match
      val langEn = spark.sql(
        "SELECT count(*) FROM docs_lin_spec WHERE lang = 'en'").collect()(0).getLong(0)
      assert(impostor.count() == langEn)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_score: SQL ranked retrieval equals the library BM25 path") {
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_score_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_score_spec")
      val df = spark.sql(
        """SELECT doc_id, round(fts_score(text, 'spark query'), 4) AS score
           FROM docs_score_spec WHERE fts_match_any(text, 'spark query')
           ORDER BY score DESC, doc_id LIMIT 10""")
      assert(!df.queryExecution.optimizedPlan.toString.contains("fts_tokenize"),
        "ranked retrieval must score from the index, not re-tokenize")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expect = graft.fts.Search.scoreBm25(graft.fts.Index.read(spark, ixDir),
          Seq("spark", "query"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == expect)
      // docs containing no query term score 0.0 (coalesced outer join), so
      // an unfiltered projection is total over the table
      val zeros = spark.sql(
        """SELECT count(*) FROM (
             SELECT fts_score(text, 'zzzznotaterm') AS s FROM docs_score_spec)
           WHERE s <> 0.0""").collect()(0).getLong(0)
      assert(zeros == 0L, "unmatched docs must score exactly 0.0")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("two fts_score queries in one SELECT fold into two scoring joins") {
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_score2_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_score2_spec")
      val df = spark.sql(
        """SELECT doc_id, round(fts_score(text, 'spark'), 4) AS s1,
                  round(fts_score(text, 'vector'), 4) AS s2
           FROM docs_score2_spec ORDER BY doc_id LIMIT 50""")
      val rows = df.collect()
      assert(rows.length == 50)
      val ix = graft.fts.Index.read(spark, ixDir)
      def scoresFor(term: String): Map[Long, Double] =
        graft.fts.Search.scoreAllBm25(ix, Seq(term))
          .collect().map(r => r.getLong(0) ->
            BigDecimal(r.getDouble(1)).setScale(4,
              BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      val s1 = scoresFor("spark")
      val s2 = scoresFor("vector")
      rows.foreach { r =>
        val id = r.getLong(0)
        assert(r.getDouble(1) == s1.getOrElse(id, 0.0), s"s1 for doc $id")
        assert(r.getDouble(2) == s2.getOrElse(id, 0.0), s"s2 for doc $id")
      }
    } finally graft.fts.IndexCatalog.clear()
  }

  test("match+prefix+near conjuncts all lower over one positional index") {
    val docsPath = sf("documents")
    val docs = spark.read.parquet(docsPath)
    val posDir = ttmp("fts_index_combo_spec")
    graft.fts.Index.write(graft.fts.Index.build(docs, positional = true), posDir)
    graft.fts.IndexCatalog.register(docsPath, posDir)
    try {
      docs.createOrReplaceTempView("docs_combo_spec")
      val df = spark.sql(
        """SELECT doc_id FROM docs_combo_spec
           WHERE fts_match(text, 'spark') AND fts_prefix(text, 'quer')
             AND fts_near(text, 'data', 'query', 3)""")
      val s = df.queryExecution.optimizedPlan.toString
      // covered: three id sets chained by two semi-joins, corpus untouched
      assert("LeftSemi".r.findAllIn(s).size == 2 && scansOnlyPostings(df),
        s"conjunct id sets must chain index-only:\n${s.take(2000)}")
      assert(!s.contains("fts_tokenize") && !s.contains("fts_near_tokens"),
        "positional index must serve every conjunct without re-reading text")
      val ix = graft.fts.Index.build(docs, positional = true)
      val expect = graft.fts.Search.matchAllIds(ix, Seq("spark"))
        .join(graft.fts.Search.matchPrefixIds(ix, "quer"), "doc_id")
        .join(graft.fts.Search.matchNear(ix, "data", "query", 3), "doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(df.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_snippet: first-occurrence window, clipping, null on no match") {
    def snip(text: String, q: String, w: Int): Option[String] = {
      val r = spark.sql(
        s"SELECT fts_snippet('$text', '$q', $w) AS s").collect()(0)
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    assert(snip("one two three FOUR five six seven", "four", 2)
      == Some("two three four five six"))
    // first occurrence of ANY term in token order wins, not term order
    assert(snip("b c a d", "a b", 1) == Some("b c"))
    // window clips at both document edges
    assert(snip("alpha beta gamma", "alpha", 5) == Some("alpha beta gamma"))
    assert(snip("alpha beta gamma", "gamma", 1) == Some("beta gamma"))
    // width 0 = just the hit token; no match = NULL
    assert(snip("alpha beta", "beta", 0) == Some("beta"))
    assert(snip("alpha beta", "zzz", 3) == None)
  }

  test("fts_score directly in ORDER BY lowers and stays top-k") {
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_scoresort_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      spark.read.parquet(docsPath).createOrReplaceTempView("docs_ssort_spec")
      val df = spark.sql(
        """SELECT doc_id FROM docs_ssort_spec
           WHERE fts_match_any(text, 'spark query')
           ORDER BY fts_score(text, 'spark query') DESC, doc_id LIMIT 10""")
      assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
        "ORDER BY score LIMIT k must stay top-k")
      // id-only projection + domain-bounding filter: this shape goes
      // INDEX-ONLY too — the corpus table must not be scanned
      assert(!df.queryExecution.executedPlan.toString.contains("documents.parquet"),
        "covered ORDER BY fts_score must not scan the corpus")
      val got = df.collect().map(_.getLong(0)).toSeq
      // full-precision ordering here (no round in the SQL) — compare against
      // the unrounded scoring frame
      val expect = graft.fts.Search.scoreAllBm25(graft.fts.Index.read(spark, ixDir),
          Seq("spark", "query"))
        .orderBy(org.apache.spark.sql.functions.col("score").desc,
          org.apache.spark.sql.functions.col("doc_id"))
        .limit(10).collect().map(_.getLong(0)).toSeq
      assert(got == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_score without a registered index fails with the remedy") {
    graft.fts.IndexCatalog.clear()
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_score_noix")
    val e = intercept[Throwable] {
      spark.sql("SELECT fts_score(text, 'spark') AS s FROM docs_score_noix").collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("fts_score") && msgs.contains("createIndex"), msgs)
  }

  test("fts_prefix: scan and index lowerings agree with the library path") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_prefix_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    spark.read.parquet(docsPath).createOrReplaceTempView("docs_prefix_sql")
    val expect = graft.fts.Search.matchPrefixIds(
        graft.fts.Index.read(spark, ixDir), "quer")
      .collect().map(_.getLong(0)).toSet
    // scan path: the token-prefix kernel, no semi-join
    val scan = spark.sql(
      "SELECT doc_id FROM docs_prefix_sql WHERE fts_prefix(text, 'Quer')")
    assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(scan.collect().map(_.getLong(0)).toSet == expect)
    // index path: range semi-join, range pushed into the postings scan
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      val ixq = spark.sql(
        "SELECT doc_id FROM docs_prefix_sql WHERE fts_prefix(text, 'quer')")
      val plan = ixq.queryExecution.executedPlan.toString
      assert(scansOnlyPostings(ixq),
        "registered table must take the (index-only) index path")
      assert(plan.contains("GreaterThanOrEqual(term,quer"),
        s"prefix range must push into the postings scan:\n${plan.take(1200)}")
      assert(ixq.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_wildcard: scan and index lowerings agree with the library path") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val ixDir = ttmp("fts_index_wc_spec")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    spark.read.parquet(docsPath).createOrReplaceTempView("docs_wc_sql")
    val expect = graft.fts.Search.matchWildcardIds(
        graft.fts.Index.read(spark, ixDir), "c*er")
      .collect().map(_.getLong(0)).toSet
    val scan = spark.sql(
      "SELECT doc_id FROM docs_wc_sql WHERE fts_wildcard(text, 'C*er')")
    assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(scan.collect().map(_.getLong(0)).toSet == expect)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      val ixq = spark.sql(
        "SELECT doc_id FROM docs_wc_sql WHERE fts_wildcard(text, 'c*er')")
      assert(scansOnlyPostings(ixq), "wildcard over the index must be index-only")
      assert(ixq.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_near: scan, tf-index residual, and positional lowerings agree") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val docs = spark.read.parquet(docsPath)
    docs.createOrReplaceTempView("docs_near_sql")
    val expect = graft.fts.Search.matchNear(
        graft.fts.Index.build(docs, positional = true), "data", "query", 3)
      .collect().map(_.getLong(0)).toSet
    // scan path: single-pass token kernel
    val scan = spark.sql(
      "SELECT doc_id FROM docs_near_sql WHERE fts_near(text, 'data', 'query', 3)")
    assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(scan.collect().map(_.getLong(0)).toSet == expect)
    // tf-only index: candidates semi-join + kernel residual
    val tfDir = ttmp("fts_index_near_tf_spec")
    graft.fts.Index.write(graft.fts.Index.build(docs), tfDir)
    graft.fts.IndexCatalog.register(docsPath, tfDir)
    try {
      val tfq = spark.sql(
        "SELECT doc_id FROM docs_near_sql WHERE fts_near(text, 'data', 'query', 3)")
      assert(tfq.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      assert(tfq.queryExecution.optimizedPlan.toString.contains("fts_near_tokens"),
        "tf-only index must verify with the residual kernel")
      assert(tfq.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
    // positional index: pure position-list plan, no kernel, no re-read
    val posDir = ttmp("fts_index_near_pos_spec")
    graft.fts.Index.write(graft.fts.Index.build(docs, positional = true), posDir)
    graft.fts.IndexCatalog.register(docsPath, posDir)
    try {
      val posq = spark.sql(
        "SELECT doc_id FROM docs_near_sql WHERE fts_near(text, 'data', 'query', 3)")
      val s = posq.queryExecution.optimizedPlan.toString
      assert(scansOnlyPostings(posq) && !s.contains("fts_near_tokens")
          && !s.contains("fts_tokenize"),
        s"positional index must answer from position lists alone:\n${s.take(1500)}")
      assert(posq.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("register reads positions and analyzer from the layout, no flags") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val docs = spark.read.parquet(docsPath)
    docs.createOrReplaceTempView("docs_reg_layout")
    val phrase = "SELECT doc_id FROM docs_reg_layout WHERE fts_phrase(text, 'data query')"
    val near = "SELECT doc_id FROM docs_reg_layout WHERE fts_near(text, 'data', 'query', 3)"
    def ids(sql: String) = spark.sql(sql).collect().map(_.getLong(0)).toSet
    val (scanPhrase, scanNear) = (ids(phrase), ids(near))
    assert(scanPhrase.nonEmpty && scanNear.nonEmpty, "dead fixture")
    val cfg = graft.fts.AnalyzerConfig(stopWords = Seq("the", "of"), porter = true)
    val an = graft.fts.Index.build(docs, analyzer = cfg, positional = true)
    val layouts = Seq(
      ("v1 positional", graft.fts.Index.build(docs, positional = true), scanPhrase, scanNear),
      ("analyzer positional", an,
        graft.fts.Search.matchPhrasePositional(an, cfg.tokenizeQuery("data query"))
          .collect().map(_.getLong(0)).toSet,
        graft.fts.Search.matchNear(an,
          cfg.tokenizeQuery("data").head, cfg.tokenizeQuery("query").head, 3)
          .collect().map(_.getLong(0)).toSet))
    for ((name, ix, expectPhrase, expectNear) <- layouts) {
      val dir = ttmp(s"fts_index_reg_layout_${name.replace(' ', '_')}")
      graft.fts.Index.write(ix, dir)
      graft.fts.IndexCatalog.register(docsPath, dir)
      try {
        for ((sql, expect) <- Seq(phrase -> expectPhrase, near -> expectNear)) {
          val df = spark.sql(sql)
          val s = df.queryExecution.optimizedPlan.toString
          assert(scansOnlyPostings(df) && !s.contains("fts_tokenize")
              && !s.contains("fts_near_tokens"),
            s"$name: positions must come from the layout:\n${s.take(1500)}")
          assert(df.collect().map(_.getLong(0)).toSet == expect, s"$name: $sql")
        }
      } finally graft.fts.IndexCatalog.clear()
    }
    // a tf-only layout keeps the verified path
    val tfDir = ttmp("fts_index_reg_layout_tf")
    graft.fts.Index.write(graft.fts.Index.build(docs), tfDir)
    graft.fts.IndexCatalog.register(docsPath, tfDir)
    try {
      val tfNear = spark.sql(near)
      assert(tfNear.queryExecution.optimizedPlan.toString.contains("fts_near_tokens"),
        "a tf-only layout must verify near with the residual kernel")
      assert(tfNear.collect().map(_.getLong(0)).toSet == scanNear)
      val tfPhrase = spark.sql(phrase)
      assert(!scansOnlyPostings(tfPhrase), "a tf-only layout must verify phrases on the text")
      assert(tfPhrase.collect().map(_.getLong(0)).toSet == scanPhrase)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_wildcard general patterns: scan and index lowerings agree") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val docs = spark.read.parquet(docsPath)
    docs.createOrReplaceTempView("docs_pat_sql")
    for (pat <- Seq("c?st*er", "s*r*am", "?alue", "qu?r?")) {
      val sql = s"SELECT doc_id FROM docs_pat_sql WHERE fts_wildcard(text, '$pat')"
      // scan path: exists(tokens, LIKE)
      val scan = spark.sql(sql)
      assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
      val expect = scan.collect().map(_.getLong(0)).toSet
      assert(expect.nonEmpty, s"pattern $pat matched nothing — dead fixture")
      // index path: covering semi-join over pruned postings, no tokenize
      val ixDir = ttmp(s"fts_index_pat_spec_${pat.hashCode}")
      graft.fts.Index.write(graft.fts.Index.build(docs), ixDir)
      graft.fts.IndexCatalog.register(docsPath, ixDir)
      try {
        val ixq = spark.sql(sql)
        val s2 = ixq.queryExecution.optimizedPlan.toString
        assert(scansOnlyPostings(ixq) && !s2.contains("fts_tokenize"),
          s"general pattern over the index must be index-only:\n${s2.take(1200)}")
        assert(ixq.collect().map(_.getLong(0)).toSet == expect, s"pattern $pat")
      } finally graft.fts.IndexCatalog.clear()
    }
    // validation failures are loud on both paths
    intercept[Exception](
      spark.sql("SELECT doc_id FROM docs_pat_sql WHERE fts_wildcard(text, '**')")
        .collect())
    intercept[Exception](
      spark.sql("SELECT doc_id FROM docs_pat_sql WHERE fts_wildcard(text, 'a-?b')")
        .collect())
  }

  test("fts_phrase_slop: scan, tf-index residual, and positional lowerings agree") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val docs = spark.read.parquet(docsPath)
    docs.createOrReplaceTempView("docs_slop_sql")
    val sql = "SELECT doc_id FROM docs_slop_sql " +
      "WHERE fts_phrase_slop(text, 'data query', 3)"
    val expect = graft.fts.Search.matchPhraseSloppy(
        graft.fts.Index.build(docs, positional = true), Seq("data", "query"), 3)
      .collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty)
    // scan path: single-pass ordered-window kernel, no joins
    val scan = spark.sql(sql)
    assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(scan.queryExecution.optimizedPlan.toString
      .contains("fts_phrase_slop_tokens"))
    assert(scan.collect().map(_.getLong(0)).toSet == expect)
    // slop 0 lowers to the exact-phrase containment (same plan shape as
    // fts_phrase — no kernel)
    val zero = spark.sql("SELECT doc_id FROM docs_slop_sql " +
      "WHERE fts_phrase_slop(text, 'data query', 0)")
    assert(!zero.queryExecution.optimizedPlan.toString
      .contains("fts_phrase_slop_tokens"))
    assert(zero.collect().map(_.getLong(0)).toSet ==
      spark.sql("SELECT doc_id FROM docs_slop_sql " +
        "WHERE fts_phrase(text, 'data query')")
        .collect().map(_.getLong(0)).toSet)
    // tf-only index: all-terms candidates semi-join + kernel residual
    val tfDir = ttmp("fts_index_slop_tf_spec")
    graft.fts.Index.write(graft.fts.Index.build(docs), tfDir)
    graft.fts.IndexCatalog.register(docsPath, tfDir)
    try {
      val tfq = spark.sql(sql)
      val s = tfq.queryExecution.optimizedPlan.toString
      assert(s.contains("LeftSemi"))
      assert(s.contains("fts_phrase_slop_tokens"),
        "tf-only index must verify with the residual kernel")
      assert(tfq.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
    // positional index: pure position-list plan, no kernel, no re-read
    val posDir = ttmp("fts_index_slop_pos_spec")
    graft.fts.Index.write(graft.fts.Index.build(docs, positional = true), posDir)
    graft.fts.IndexCatalog.register(docsPath, posDir)
    try {
      val posq = spark.sql(sql)
      val s = posq.queryExecution.optimizedPlan.toString
      assert(scansOnlyPostings(posq) && !s.contains("fts_phrase_slop_tokens")
          && !s.contains("fts_tokenize"),
        s"positional index must answer from position lists alone:\n${s.take(1500)}")
      assert(posq.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("stale index (table files changed after registration) falls back to scan") {
    val tmpTable = ttmp("fts_stale_table")
    val ixDir = ttmp("fts_stale_index")
    val docs = spark.read.parquet(sf("documents"))
    docs.write.mode("overwrite").parquet(tmpTable)
    graft.fts.Index.createIndex(spark, tmpTable, ixDir)
    try {
      spark.read.parquet(tmpTable).createOrReplaceTempView("docs_stale_spec")
      val before = spark.sql(
        "SELECT doc_id FROM docs_stale_spec WHERE fts_match(text, 'spark query')")
      assert(scansOnlyPostings(before),
        "fresh registration must take the (index-only) index path")

      // rewrite the table: postings are now stale — the rewrite must notice
      docs.limit(10).write.mode("overwrite").parquet(tmpTable)
      spark.read.parquet(tmpTable).createOrReplaceTempView("docs_stale_spec")
      val after = spark.sql(
        "SELECT doc_id FROM docs_stale_spec WHERE fts_match(text, 'spark query')")
      assert(after.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.isEmpty, "stale index must NOT be semi-joined")
      assert(after.queryExecution.optimizedPlan.toString.contains("array_contains"),
        "stale index must fall back to the scan lowering")
      assert(graft.fts.IndexCatalog.get(tmpTable).isEmpty,
        "stale entry must be dropped from the catalog")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_phrase: scan and index lowerings agree with the library path") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    spark.read.parquet(docsPath).createOrReplaceTempView("docs_phrase_spec")
    val expect = graft.fts.Search.matchPhrase(
        spark.read.parquet(docsPath),
        graft.fts.Index.build(spark.read.parquet(docsPath)), Seq("data", "query"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // scan path (unregistered): containment lowering, no semi-join
    val scan = spark.sql(
      "SELECT doc_id FROM docs_phrase_spec WHERE fts_phrase(text, 'data query')")
    assert(!scan.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
    assert(scan.collect().map(_.getLong(0)).toSet == expect)
    // index path: candidates via postings semi-join + containment residual
    val ixDir = ttmp("fts_phrase_spec_index")
    graft.fts.Index.write(graft.fts.Index.build(spark.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      val ix = spark.sql(
        "SELECT doc_id FROM docs_phrase_spec WHERE fts_phrase(text, 'data query')")
      assert(ix.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.nonEmpty, "index path must semi-join the postings")
      assert(ix.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("index metadata persists and restores across catalog resets") {
    val tmpTable = ttmp("fts_restore_table")
    val ixDir = ttmp("fts_restore_index")
    val docs = spark.read.parquet(sf("documents"))
    docs.write.mode("overwrite").parquet(tmpTable)
    graft.fts.Index.createIndex(spark, tmpTable, ixDir)
    try {
      graft.fts.IndexCatalog.clear() // "new session"
      assert(graft.fts.IndexCatalog.get(tmpTable).isEmpty)
      graft.fts.IndexCatalog.restore(spark, ixDir)
      val e = graft.fts.IndexCatalog.get(tmpTable)
      assert(e.isDefined && e.get.indexDir == ixDir &&
        graft.fts.IndexCatalog.cachedIndex(spark, e.get).buckets.contains(64))

      // restore keeps the BUILD-TIME fingerprint: a table rewritten after
      // the build must still read as stale after restore
      docs.limit(5).write.mode("overwrite").parquet(tmpTable)
      graft.fts.IndexCatalog.clear()
      graft.fts.IndexCatalog.restore(spark, ixDir)
      assert(graft.fts.IndexCatalog.get(tmpTable).isEmpty,
        "stale table must not restore as fresh")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("covered match plans agree with the scan lowering across random queries") {
    graft.fts.IndexCatalog.clear()
    val docsPath = sf("documents")
    val docs = spark.read.parquet(docsPath)
    docs.createOrReplaceTempView("docs_cover_prop")
    // a deterministic vocabulary drawn from the corpus itself
    val vocab = graft.fts.Index.build(docs).postings
      .groupBy("term").count().orderBy(org.apache.spark.sql.functions.desc("count"),
        org.apache.spark.sql.functions.col("term"))
      .limit(40).collect().map(_.getString(0))
    val rnd = new scala.util.Random(42)
    val predicates = (1 to 12).map { _ =>
      val t1 = vocab(rnd.nextInt(vocab.length))
      val t2 = vocab(rnd.nextInt(vocab.length))
      val t3 = vocab(rnd.nextInt(vocab.length))
      rnd.nextInt(7) match {
        case 0 => s"fts_match(text, '$t1 $t2')"
        case 1 => s"fts_match_any(text, '$t1 $t2')"
        case 2 => s"fts_match(text, '$t1') AND fts_prefix(text, '${t2.take(3)}')"
        // round-9 covering extensions: all-exact disjunctions (union id
        // sets, incl. nested), negations (anti-joined id sets), fuzzy
        case 3 => s"fts_match(text, '$t1') AND NOT fts_match_any(text, '$t2 $t3')"
        case 4 => s"(fts_match(text, '$t1') OR fts_prefix(text, '${t2.take(4)}') " +
          s"OR fts_match(text, '$t3')) AND NOT fts_match(text, '$t2')"
        case 5 => s"fts_fuzzy(text, '$t1', 1) AND fts_match(text, '$t2')"
        case 6 => // conjunction INSIDE an OR branch: And-closure of exactIdsDf
          s"(fts_match(text, '$t1') AND fts_prefix(text, '${t3.take(3)}')) " +
            s"OR fts_match(text, '$t2')"
      }
    }
    // scan-path ground truth first (unregistered)
    val expected = predicates.map { p =>
      spark.sql(s"SELECT doc_id FROM docs_cover_prop WHERE $p")
        .collect().map(_.getLong(0)).toSet
    }
    val ixDir = ttmp("fts_cover_prop_index")
    graft.fts.Index.write(graft.fts.Index.build(docs), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try predicates.zip(expected).foreach { case (p, expect) =>
      val covered = spark.sql(s"SELECT doc_id FROM docs_cover_prop WHERE $p")
      assert(scansOnlyPostings(covered), s"'$p' must be covered")
      assert(covered.collect().map(_.getLong(0)).toSet == expect,
        s"covered rows diverge from the scan lowering for: $p")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("scan, tf-only and positional lowerings agree on every WHERE shape") {
    import org.apache.spark.sql.execution.CoalesceExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    graft.fts.IndexCatalog.clear()
    // the fixture plus one NULL-text document (FtsShapes.writeTable)
    val table = ttmp("fts_agree_table")
    FtsShapes.writeTable(spark, sf("documents"), table)
    spark.read.parquet(table).createOrReplaceTempView("docs_agree")
    // the same session state with spark.sql.files.openCostInBytes = 0:
    // no non-empty postings slice runs as a single task there, so every
    // index plan keeps its parallel shape, and rows must not change
    val parallel = spark.newSession()
    parallel.conf.set("spark.sql.files.openCostInBytes", "0")
    parallel.read.parquet(table).createOrReplaceTempView("docs_agree")
    // two terms outside the corpus vocabulary, by their postings bucket
    val (absent, unfilled) = FtsShapes.probeTerms(spark, "docs_agree")
    val shapes = FtsShapes.shapes(absent, unfilled)
    val badArgs = FtsShapes.badArgs
    val projections = FtsShapes.projections
    def query(proj: String, where: String,
              s: org.apache.spark.sql.SparkSession = spark) =
      s.sql(s"SELECT $proj FROM docs_agree WHERE $where")
    def rows(proj: String, where: String,
             s: org.apache.spark.sql.SparkSession = spark): Seq[String] =
      query(proj, where, s).collect().map(_.toString).sorted.toSeq
    def failure(proj: String, where: String,
                s: org.apache.spark.sql.SparkSession = spark): String = {
      val e = intercept[Exception](query(proj, where, s).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
        .getOrElse(fail(s"'$where' failed without an IllegalArgumentException: $e"))
    }
    val grid = for (p <- projections; w <- shapes) yield (p, w)
    val badGrid = for (p <- projections; b <- badArgs) yield (p, b)
    // scan-path ground truth first (unregistered)
    val expected = grid.map { case (p, w) => rows(p, w) }
    val expectedErr = badGrid.map { case (p, b) => failure(p, b) }
    val nullDoc = FtsShapes.NullDoc
    assert(rows("doc_id", "NOT fts_match(text, '!!!')").exists(_.contains(nullDoc)))
    assert(!rows("doc_id", "NOT fts_match(text, 'data query')").exists(_.contains(nullDoc)))
    assert(expected(shapes.indexOf("fts_phrase(text, 'line group line')")).nonEmpty,
      "the repeated-term phrase must match some fixture document")
    // fts_score has no scan lowering: its reference is the persisted index
    // scored through the stats table. Two terms per query, so each doc's
    // score is one addition, whose order cannot change the bits
    val scoreQueries = FtsShapes.scoreQueries(absent, unfilled)
    def topk(q: String, s: org.apache.spark.sql.SparkSession, extra: Option[String] = None) =
      s.sql(FtsShapes.topkSql("docs_agree", q, extra))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the covered score with one more id set per extra conjunct: its
    // reference scores only the conjunct's scan-lowered ids (for the
    // negation, the complement of the positive set)
    val extraIds = FtsShapes.scoreConjuncts.map(c =>
      c -> query("doc_id", c).collect().map(_.getLong(0)).toSeq)
    assert(extraIds.forall(_._2.nonEmpty))
    // a single-task slice is coalesced once: no Coalesce 1 below another,
    // except below a Union that is coalesced as a whole (each side keeps
    // the Coalesce 1 that makes its own operators exchange-free)
    val helper = new AdaptiveSparkPlanHelper {}
    def nestedCoalesce(df: org.apache.spark.sql.DataFrame): Boolean = {
      import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
      def coalesced(p: SparkPlan): Boolean = p match {
        case _: UnionExec => false
        case _: CoalesceExec => true
        case other => other.children.exists(coalesced)
      }
      helper.collect(df.queryExecution.executedPlan) {
        case c: CoalesceExec if c.numPartitions == 1 => c
      }.exists(c => coalesced(c.child))
    }
    // each text index alone, then beside an index on lang: with two indexed
    // columns a covered plan must not take one column's match as proof
    // that the other is non-NULL
    for ((kind, positional) <- Seq(("tf", false), ("pos", true));
         langIndexed <- Seq(false, true)) {
      val name = if (langIndexed) s"$kind + lang" else kind
      val ixDir = ttmp(s"fts_agree_$kind")
      graft.fts.Index.createIndex(spark, table, ixDir, positional = positional)
      if (langIndexed) graft.fts.Index.createIndex(spark, table,
        ttmp(s"fts_agree_${kind}_lang"), textCol = "lang", positional = positional)
      try {
        for ((session, shape) <- Seq((spark, "single-task"), (parallel, "parallel"))) {
          grid.zip(expected).foreach { case ((p, w), expect) =>
            assert(rows(p, w, session) == expect,
              s"$name index, $shape plans: '$w' ($p) diverges from the scan lowering")
          }
          badGrid.zip(expectedErr).foreach { case ((p, b), msg) =>
            assert(failure(p, b, session) == msg, s"$name index, $shape plans: '$b' ($p)")
          }
          scoreQueries.foreach { q =>
            def want(candidates: Option[Seq[Long]]) = graft.fts.Search.scoreAllBm25(
                graft.fts.Index.read(spark, ixDir), q.split(' ').toSeq,
                candidates = candidates.map(ids => {
                  import spark.implicits._
                  ids.toDF("doc_id")
                }))
              .orderBy(col("score").desc, col("doc_id")).limit(10)
              .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
            assert(topk(q, session) == want(None),
              s"$name index, $shape plans: fts_score(text, '$q') top-k")
            extraIds.foreach { case (c, ids) =>
              assert(topk(q, session, Some(c)) == want(Some(ids)),
                s"$name index, $shape plans: fts_score(text, '$q') top-k AND $c")
            }
          }
        }
        assert(topk("data query", spark).nonEmpty)
        assert(extraIds.forall { case (c, _) => topk("data query", spark, Some(c)).nonEmpty })
        // a lang score ranks the lang-bounded shapes' scan-lowered ids
        if (langIndexed) for (w <- FtsShapes.langBounded;
                              sql <- FtsShapes.langScoreSql("docs_agree", w))
          assert(spark.sql(sql).collect().map(r => s"[${r.get(0)}]").sorted.toSeq ==
            expected(grid.indexOf(("doc_id", w))), s"$name index: $sql")
        // every served shape coalesces each single-task slice once
        val served = grid.map { case (p, w) => s"'$w' ($p)" -> query(p, w) } ++
          (for (q <- scoreQueries; c <- None +: FtsShapes.scoreConjuncts.map(Some(_)))
            yield s"top-k '$q' AND $c" -> spark.sql(FtsShapes.topkSql("docs_agree", q, c)))
        for ((what, df) <- served)
          assert(!nestedCoalesce(df),
            s"$name index: $what nests a Coalesce 1:\n${df.queryExecution.executedPlan}")
        // the two sessions really plan the two shapes
        def plan(s: org.apache.spark.sql.SparkSession) = query("doc_id",
          "fts_match(text, 'data query spark')", s).queryExecution.executedPlan.toString
        assert(!plan(spark).contains("Exchange") && plan(spark).contains("Coalesce 1"),
          s"$name index: a small pruned slice must run as one task:\n${plan(spark)}")
        assert(plan(parallel).contains("Exchange"),
          s"$name index: openCostInBytes = 0 must keep the parallel plan:\n${plan(parallel)}")
        // every id set the covered plans know is served index-only
        for (w <- Seq("fts_fuzzy(text, 'dupe', 1)", "fts_regexp(text, 'du[a-z]')"))
          assert(scansOnlyPostings(query("doc_id", w)),
            s"$name index: '$w' must be covered:\n${query("doc_id", w).queryExecution.optimizedPlan}")
        for (q <- scoreQueries; c <- FtsShapes.scoreConjuncts)
          assert(scansOnlyPostings(spark.sql(FtsShapes.topkSql("docs_agree", q, Some(c)))),
            s"$name index: top-k '$q' AND $c must be covered")
      } finally graft.fts.IndexCatalog.clear()
    }
  }

  test("a stale table drops EVERY column's entry, not just one") {
    val tmpTable = ttmp("fts_stale_mc_table")
    val docs = spark.read.parquet(sf("documents"))
    docs.write.mode("overwrite").parquet(tmpTable)
    graft.fts.Index.createIndex(spark, tmpTable,
      ttmp("fts_stale_mc_text"))
    graft.fts.Index.createIndex(spark, tmpTable,
      ttmp("fts_stale_mc_src"), textCol = "source")
    try {
      assert(graft.fts.IndexCatalog.entriesFor(tmpTable).size == 2,
        "both columns' indexes must register side by side")
      // rewrite the table: ONE freshness listing must invalidate both
      docs.limit(10).write.mode("overwrite").parquet(tmpTable)
      assert(graft.fts.IndexCatalog.entriesFor(tmpTable).isEmpty,
        "a stale table must drop every column's entry")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("an analyzer-configured registration round-trips through restore") {
    val tmpTable = ttmp("fts_restore_an_table")
    val ixDir = ttmp("fts_restore_an_index")
    val docs = spark.read.parquet(sf("documents"))
    docs.write.mode("overwrite").parquet(tmpTable)
    val cfg = graft.fts.AnalyzerConfig(
      stopWords = Seq("the"), sStem = true, minTokenLen = 2)
    graft.fts.Index.createIndex(spark, tmpTable, ixDir, analyzer = cfg)
    try {
      graft.fts.IndexCatalog.clear() // "new session"
      graft.fts.IndexCatalog.restore(spark, ixDir)
      val e = graft.fts.IndexCatalog.get(tmpTable)
      assert(e.exists(_.analyzer == cfg),
        s"restore must carry the analyzer config, got ${e.map(_.analyzer)}")
      // and the restored registration SERVES stemmed queries: 'queries'
      // must reach the postings as the corpus term 'query'
      spark.read.parquet(tmpTable).createOrReplaceTempView("docs_restore_an")
      val served = spark.sql(
        "SELECT doc_id FROM docs_restore_an WHERE fts_match(text, 'the queries window')")
      val expect = graft.fts.Search.matchAllIds(
          graft.fts.Index.build(docs, analyzer = cfg),
          cfg.normalizeTerms(Seq("the", "queries", "window")))
        .collect().map(_.getLong(0)).toSet
      assert(served.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  // The surface reaches a session one way, spark.sql.extensions set by
  // GraftSession.builder; the two paths checked here are the factory session
  // itself and a newSession() of it, which re-applies the same extensions
  test("both installation paths expose the identical function surface") {
    val names = GraftExtensions.allFunctions.map(_._1.funcName).toSet
    assert(names == Set("fts_tokenize", "fts_match", "fts_match_any",
      "fts_match_min",
      "fts_phrase", "fts_phrase_wild", "fts_score", "fts_prefix",
      "fts_near", "fts_snippet",
      "fts_wildcard", "fts_query", "fts_fuzzy", "fts_query_score",
      "fts_term_range", "fts_phrase_slop", "fts_regexp",
      "graft_dot", "vec_cosine", "graft_lsh_projs", "graft_lsh_bucket",
      "graft_shingle_hashes", "graft_minhash", "graft_simhash",
      "graft_intersect_card", "text_normalize", "graft_bigram_buckets",
      "porter_stem", "graft_char_trigrams", "jaro_winkler"))
    for (s <- Seq(spark, spark.newSession())) {
      names.foreach { n =>
        assert(s.sessionState.functionRegistry
          .functionExists(new org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n)
      }
      // Spark runs injected operator-optimization rules in both halves of
      // that batch pair (before and after filter inference): once in each,
      // never in the separate "User Provided Optimizers" batch
      val placed = s.sessionState.optimizer.batches
        .flatMap(b => b.rules.filter(_ eq RewriteFtsMatch).map(_ => b.name))
      assert(placed == Seq("Operator Optimization before Inferring Filters",
        "Operator Optimization after Inferring Filters"), placed)
      assert(s.experimental.extraOptimizations.isEmpty)
    }
  }

  test("a newSession() of the factory session keeps the functions and the rewrite") {
    val s2 = spark.newSession()
    assert(s2.sql("SELECT size(graft_minhash(graft_shingle_hashes('a b c d e')))")
      .head().getInt(0) == 64)
    val docsPath = sf("documents")
    val ixDir = graft.core.Scratch.freshDir("fts_index_new_session_spec")
    graft.fts.Index.write(graft.fts.Index.build(s2.read.parquet(docsPath)), ixDir)
    graft.fts.IndexCatalog.register(docsPath, ixDir)
    try {
      s2.read.parquet(docsPath).createOrReplaceTempView("docs_new_session")
      val df = s2.sql(
        "SELECT doc_id FROM docs_new_session WHERE fts_match(text, 'spark query')")
      assert(scansOnlyPostings(df),
        s"expected an index-only postings plan, got:\n${df.queryExecution.optimizedPlan}")
      val expect = graft.fts.Search.matchAllIds(
          graft.fts.Index.build(s2.read.parquet(docsPath)), Seq("spark", "query"))
        .collect().map(_.getLong(0)).toSet
      assert(df.collect().map(_.getLong(0)).toSet == expect)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("fts_match with NULL query is null-filtered, not an execution crash") {
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_ext")
    val n = spark.sql(
      "SELECT count(*) FROM docs_ext WHERE fts_match(text, NULL)").collect()(0).getLong(0)
    assert(n == 0)
    val nAny = spark.sql(
      "SELECT count(*) FROM docs_ext WHERE fts_match_any(text, NULL)").collect()(0).getLong(0)
    assert(nAny == 0)
  }

  test("fts_match with a non-literal query fails with a clear message") {
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_ext")
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM docs_ext WHERE fts_match(text, lang)").collect()
    }
    assert(e.getMessage.contains("literal query string"), e.getMessage)
  }

  test("graft_dot SQL function: exact dot, null on ragged arrays") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").collect()(0)
    assert(r.getDouble(0) == 11.0)
    val ragged = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d))").collect()(0)
    assert(ragged.isNullAt(0), "length mismatch must be NULL, not a partial sum")
  }

  test("graft_intersect_card is correct on unsorted input (fallback path)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val sorted = new GenericArrayData(Array(1L, 3L, 7L))
    val unsorted = new GenericArrayData(Array(7L, 1L, 3L))
    assert(TextKernels.intersectCard(sorted, sorted) == 3)
    assert(TextKernels.intersectCard(unsorted, sorted) == 3)
    assert(TextKernels.intersectCard(
      new GenericArrayData(Array(3L, 1L)), new GenericArrayData(Array(1L, 3L))) == 2)
  }

  test("fts_match with no usable terms is false, not an error") {
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs_ext")
    val n = spark.sql(
      "SELECT count(*) FROM docs_ext WHERE fts_match(text, '!!! ...')").collect()(0).getLong(0)
    assert(n == 0)
  }
}
