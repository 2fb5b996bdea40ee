package graft

import graft.SparkSpec

/** Plan-shape regression tests: the scale guarantees SCALE.md documents
  * (pushdown, pruning, bucketed no-shuffle joins, index-backed semi-join)
  * asserted against the formatted physical plan so they can't silently
  * regress. Textual assertions on explain output — the same evidence
  * `graft.Explain` prints for the per-round audit. */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** File scans over an index's postings directory in a formatted plan. */
  private def postingsScans(plan: String): Int =
    plan.linesIterator.count(l => l.startsWith("Location:") && l.contains("/postings]"))

  test("q_sim_sql: SQL cosine top-k is a TakeOrderedAndProject, no global sort") {
    val plan = planOf("q_sim_sql")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ORDER BY score LIMIT k must be a per-partition heap:\n${plan.take(1500)}")
    assert(!plan.linesIterator.exists(_.matches(".*\\(\\d+\\) Sort.*")),
      "the corpus must never be globally sorted")
    assert(plan.contains("graft_dot"),
      "vec_cosine must lower to the native kernel dots")
  }

  test("q_agg_ds88: the 8 count cells fold into ONE scan, no join") {
    val plan = planOf("q_agg_ds88")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1,
      s"8 FILTER counts must share one lineitem scan:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"no q88-style cross-joined subqueries:\n${plan.take(2000)}")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "the shared date filter must reach the scan")
  }

  test("q_filter pushes predicates and prunes columns at the scan") {
    val plan = planOf("q_filter")
    assert(plan.contains("PushedFilters: [IsNotNull("), plan.linesIterator.take(30).mkString("\n"))
    assert(!plan.contains("l_comment"), "projection must prune unused columns")
  }

  test("q_sort_limit plans as TakeOrderedAndProject, not global sort") {
    val plan = planOf("q_sort_limit")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q_join_lateral: correlated LIMIT decorrelates to WindowGroupLimit") {
    val plan = planOf("q_join_lateral")
    assert(plan.contains("WindowGroupLimit"),
      s"the per-nation top-3 must bound map-side, not execute per outer row:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"the lateral must decorrelate to an equi-join, never a product:\n${plan.take(2000)}")
  }

  test("q_unpivot: one scan, partial+final agg, Expand — no join or rescan") {
    val plan = planOf("q_unpivot")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1,
      s"unpivot must ride the single aggregated scan:\n${plan.take(2000)}")
    assert(plan.contains("Expand"),
      s"the measure fan-out must be the Expand operator:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "no per-measure self-joins")
  }

  test("q_join_ds67: one Expand, one Window sort, broadcast dim join") {
    val plan = planOf("q_join_ds67")
    assert("\\(\\d+\\) Expand".r.findAllIn(plan).size == 1,
      s"rollup must be ONE Expand (no per-level re-scan):\n${plan.take(2000)}")
    assert("\\(\\d+\\) Window(?!GroupLimit)".r.findAllIn(plan).size == 1,
      "rank-per-category must be a single Window")
    // Spark 4 pushes the rk <= 3 filter INTO the shuffle as partial+final
    // WindowGroupLimit: each map task forwards only its per-category top
    // rows, so the window shuffle carries O(categories·k), not the rollup
    assert(plan.contains("WindowGroupLimit"),
      "the rank filter must push down as WindowGroupLimit")
    assert(plan.contains("BroadcastHashJoin"),
      "the part dim must broadcast, not shuffle the fact side")
    // single-sort window strategy: the fact table is never globally
    // sorted. The three Sort nodes are (a) the map-side partial
    // WindowGroupLimit's task-local sort, (b) the window's
    // partition-local sort after the hash Exchange, (c) the final output
    // sort over the tiny rk-filtered result — nothing sorts the rollup
    // output globally
    assert("\\(\\d+\\) Sort".r.findAllIn(plan).size <= 3,
      s"only local/window/output sorts may appear:\n${plan.take(2000)}")
  }

  test("q_fts_collapse: best-per-group bounds map-side as WindowGroupLimit") {
    val plan = planOf("q_fts_collapse")
    assert(plan.contains("WindowGroupLimit"),
      s"collapse must forward only per-key top rows, not sort the match set:\n${plan.take(2000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "the global top-k must be TakeOrderedAndProject, not a full sort")
  }

  test("q_fts_block_join: per-parent argmax is WindowGroupLimit, no product") {
    val plan = planOf("q_fts_block_join")
    assert(plan.contains("WindowGroupLimit"),
      s"best-child must bound map-side:\n${plan.take(2000)}")
    // the only nested-loop joins allowed are the 1-row stats broadcasts
    // (crossJoin(broadcast(ix.stats)) — the accepted scalar idiom)
    assert(!plan.contains("CartesianProduct"),
      "parent aggregation must stay equi-join shaped")
  }

  test("q_graph_linkpred: candidates via equi-joins only, never all-pairs") {
    val plan = planOf("q_graph_linkpred")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"two-hop candidate generation must be an equi-join:\n${plan.take(2000)}")
  }

  test("q_text_kn: every count table joins broadcast, no corpus-sized shuffle join") {
    val plan = planOf("q_text_kn")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary-scale LM tables must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      "the bigram stream must never shuffle against the model tables")
  }

  test("q_join_bucketed reads buckets on both sides (no join-side shuffle)") {
    val plan = planOf("q_join_bucketed")
    assert(plan.contains("SortMergeJoin"))
    assert("Bucketed: true".r.findAllIn(plan).size == 2,
      "both scans must be bucketed")
    // the SMJ consumes bucket-partitioned scans directly: the only
    // exchanges in the plan are the post-join aggregation/sort ones, so
    // exchange count must be exactly 2 (partial->final agg, then sort)
    assert("\\bExchange\\b".r.findAllIn(plan).size <= 4, // 2 nodes, each named twice in formatted output
      s"unexpected extra exchanges:\n${plan.linesIterator.take(25).mkString("\n")}")
  }

  test("q_fts_sql_indexed lowers to a partition-pruned postings semi-join") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_indexed")
    try {
      // projects lang too → NOT covered: the corpus joins the id set
      assert(plan.contains("LeftSemi"), "index path must be a semi-join")
      assert(plan.contains("PartitionFilters: [((bucket"),
        "postings scan must prune to the query terms' buckets")
      assert(plan.contains("PushedFilters: [In(term"),
        "term filter must push into the postings scan")
      assert(!plan.contains("fts_tokenize"),
        "indexed path must not re-tokenize the corpus")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_bm25 plans as pruned scoring join + TakeOrderedAndProject") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_bm25")
    try {
      assert(plan.contains("TakeOrderedAndProject"),
        "ORDER BY score LIMIT k must plan as top-k, not a global sort")
      assert(!plan.contains("fts_tokenize"),
        "ranked retrieval must score from the index, not re-tokenize the corpus")
      assert(plan.contains("PartitionFilters: [((bucket"),
        "postings scans must prune to the query terms' buckets")
      // fts_match_any over the score's own terms is the scoring subplan's
      // domain: no candidate semi-join, one postings scan for the query
      assert(!plan.contains("LeftSemi") && postingsScans(plan) == 1,
        s"a candidate filter over the score's terms must add no semi-join:\n${plan.linesIterator.take(40).mkString("\n")}")
      // the 100× guarantee: dl is denormalized onto the posting rows at
      // Index.write, so scoring never scans the O(corpus) doclens table,
      // and the corpus stats are literals read once per index handle, so
      // the pruned postings are the plan's only input
      assert(!plan.contains("doclens"),
        "scoring must read dl from the pruned postings, not the doclens table")
      assert(!plan.linesIterator.exists(l => l.startsWith("Location:") && l.contains("/stats]")),
        s"corpus stats must be literals, not a stats scan:\n${plan.linesIterator.take(40).mkString("\n")}")
      // the pruned slice is small, so it runs as one task: the window df,
      // the per-doc sum and the top-k need no exchange
      assert(!plan.contains("Exchange"),
        s"a small pruned slice must plan with no exchange:\n${plan.linesIterator.take(40).mkString("\n")}")
      // COVERING-INDEX property: the projection touches only doc_id +
      // fts_score and the filter is index-exact and domain-bounding, so
      // the corpus table is not scanned AT ALL — the whole answer comes
      // from the pruned postings buckets
      assert(!plan.contains("documents.parquet"),
        s"index-only ranked retrieval must not scan the corpus:\n${plan.linesIterator.take(40).mkString("\n")}")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_query_ranked is covered: boolean tree + BM25 from the index alone") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_query_ranked")
    try {
      assert(plan.contains("TakeOrderedAndProject"),
        "ORDER BY score LIMIT k must plan as top-k, not a global sort")
      assert(!plan.contains("fts_tokenize"),
        "every leaf (term, phrase, prefix, NOT) must lower to the index")
      // the NOT slow clause must be an anti-join against its id set, not a
      // residual scan filter
      assert(plan.contains("LeftAnti"),
        s"NOT must lower to an anti-join:\n${plan.linesIterator.take(40).mkString("\n")}")
      // COVERING: projection is doc_id + score only and every conjunct —
      // the term, the (phrase OR prefix) union, the NOT — is index-exact,
      // so the corpus parquet is never scanned; the whole answer is pruned
      // postings buckets
      assert(!plan.contains("documents.parquet"),
        s"index-only ranked query-string retrieval must not scan the corpus:\n${plan.linesIterator.take(40).mkString("\n")}")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_bm25_cols keeps the corpus join when a doc column is projected") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_bm25_cols")
    try {
      assert(plan.contains("documents.parquet"),
        "projecting lang needs the document row — the corpus join must survive")
      assert(plan.contains("TakeOrderedAndProject") && !plan.contains("doclens"),
        "the generic scoring path must stay top-k with denormalized dl")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_analyzer normalizes the query through the index's analyzer") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_analyzer")
    try {
      // the candidate filter's ANALYZED terms equal the score's, so it is
      // the scoring subplan's domain: no semi-join, one postings scan
      assert(!plan.contains("LeftSemi") && postingsScans(plan) == 1,
        s"the analyzed candidate filter must add no semi-join:\n${plan.linesIterator.take(40).mkString("\n")}")
      // 'the queries window' must reach the postings scan as the ANALYZED
      // terms — stopword dropped, plural stemmed — or the scan would probe
      // terms the stemmed index never carries
      assert(plan.contains("In(term, [query,window])"),
        s"query terms must be analyzer-normalized:\n${plan.linesIterator.take(40).mkString("\n")}")
      assert(!plan.contains("fts_tokenize"),
        "analyzer index path must not re-tokenize the corpus")
      assert(plan.contains("TakeOrderedAndProject") && !plan.contains("doclens"),
        "ranked retrieval must stay the pruned top-k shape")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_multicol lowers both columns' conjuncts to their own semi-joins") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_multicol")
    try {
      // covered: the two columns' id sets chain through ONE semi-join and
      // the corpus is untouched
      assert(plan.contains("LeftSemi") && !plan.contains("documents.parquet"),
        s"both indexes' id sets must chain index-only:\n${plan.linesIterator.take(40).mkString("\n")}")
      assert(plan.contains("In(term, [query,spark])") || plan.contains("In(term, [spark,query])"),
        "the text conjunct must probe the text index")
      assert(plan.contains("In(term, [src3])") || plan.contains("EqualTo(term,src3)"),
        s"the source conjunct must probe the source index:\n${plan.linesIterator.take(40).mkString("\n")}")
      assert(!plan.contains("fts_tokenize"),
        "neither conjunct may fall back to the scan lowering")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_score_agg grafts the scoring join below the Aggregate") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_score_agg")
    try {
      assert(plan.contains("HashAggregate"), "the GROUP BY must survive")
      assert(!plan.contains("fts_tokenize"),
        "aggregate-position scoring must come from the index, not a re-tokenize")
      assert(!plan.contains("doclens"),
        "scoring must use the denormalized dl, not the doclens table")
      assert(plan.contains("PartitionFilters: [((bucket"),
        "the scoring join's postings scan must prune to the terms' buckets")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_bm25_persisted scores without touching the doclens table") {
    val plan = planOf("q_fts_bm25_persisted")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("PartitionFilters: [((bucket"),
      "postings scan must prune to the query terms' buckets")
    assert(!plan.contains("doclens"),
      "persisted-layout scoring must use the denormalized dl column")
  }

  test("q_fts_sql_near / q_fts_sql_phrase_pos answer from position lists alone") {
    graft.fts.IndexCatalog.clear()
    try {
      for (name <- Seq("q_fts_sql_near", "q_fts_sql_phrase_pos",
          "q_fts_sql_slop", "q_fts_query_slop",
          "q_fts_compacted_near",
          // analyzer × positional: the stemmed phrase must take the SAME
          // position-list plan (analyzed offsets), never a text residual
          "q_fts_sql_analyzer_phrase")) {
        val plan = planOf(name)
        // covered: position lists alone, corpus (fixture table, scratch
        // copy, or the streaming landing dir) never scanned
        assert(!plan.contains("documents.parquet") && !plan.contains("docs_cnear_stream")
            && !plan.contains("docs_anp_table"),
          s"$name must answer index-only")
        assert(!plan.contains("fts_tokenize") && !plan.contains("fts_near_tokens")
            && !plan.contains("fts_phrase_slop_tokens"),
          s"$name must never re-read document text")
        assert("PartitionFilters: \\[.*\\(bucket".r.findFirstIn(plan).nonEmpty,
          s"$name postings scan must prune to the terms' buckets")
      }
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_prefix pushes the term range into the postings scan") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_prefix")
    try {
      assert(!plan.contains("documents.parquet"), "prefix must answer index-only")
      assert(plan.contains("GreaterThanOrEqual(term,quer"),
        "prefix must push as a term range (row-group min/max pruning)")
      assert(!plan.contains("fts_tokenize"),
        "prefix over the index must not re-tokenize the corpus")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_compacted_sql serves fts_match through the compacted index") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_compacted_sql")
    try {
      assert(!plan.contains("docs_csql_stream"),
        "compacted+registered index must serve index-only (no corpus scan)")
      assert(!plan.contains("fts_tokenize") && !plan.contains("array_contains"),
        "registered compacted index must not fall back to the scan lowering")
      assert(plan.contains("PartitionFilters: [((bucket"),
        "compacted postings scan must prune to the query terms' buckets")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_wildcard pushes head range and suffix into the term scan") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_wildcard")
    try {
      assert(!plan.contains("documents.parquet"), "wildcard must answer index-only")
      assert(plan.contains("GreaterThanOrEqual(term,c"),
        "wildcard head must push as a term range")
      assert(plan.contains("StringEndsWith(term,er"),
        "wildcard tail must push as a suffix filter on the term")
      assert(!plan.contains("fts_tokenize"),
        "wildcard over the index must not re-tokenize the corpus")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_hint: MERGE hint overrides the broadcast choice the control makes") {
    val plan = planOf("q_hint")
    assert(plan.contains("SortMergeJoin"),
      s"MERGE hint must force SMJ on the tiny dimension:\n${plan.take(800)}")
    assert(!plan.contains("BroadcastHashJoin"))
    // control: the same join without the hint broadcasts the 25-row side
    graft.core.Tables.registerViews(spark, "/root/testdata/sf0.001")
    val control = spark.sql(
      """SELECT n.n_name, count(*) AS n_cust
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name""").queryExecution.executedPlan.toString
    assert(control.contains("BroadcastHashJoin"),
      "unhinted control should broadcast — if not, the hint assertion is vacuous")
  }

  test("q_fts_sql_pattern / q_fts_query_pattern answer general patterns index-only") {
    graft.fts.IndexCatalog.clear()
    try {
      // fts_wildcard('c?st*er'): literal head pushes as a term range, the
      // rest is a LIKE over the PRUNED postings — corpus never scanned
      val plan = planOf("q_fts_sql_pattern")
      assert(!plan.contains("documents.parquet"),
        "general pattern must answer index-only")
      assert(plan.contains("GreaterThanOrEqual(term,c"),
        "pattern literal head must push as a term range")
      assert(plan.contains("c_st%er"),
        "the residual must be the translated LIKE on the term")
      assert(!plan.contains("fts_tokenize"),
        "general pattern over the index must not re-tokenize the corpus")
      // the query-language composition incl. NOT-pattern stays covering
      val plan2 = planOf("q_fts_query_pattern")
      assert(!plan2.contains("documents.parquet") &&
          !plan2.contains("fts_tokenize"),
        s"pattern algebra must answer index-only:\n${plan2.linesIterator.take(30).mkString("\n")}")
      assert(plan2.contains("LeftAnti"), "NOT-pattern must anti-join")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_query_regex answers /regex/ terms index-only with a pushed prefix range") {
    graft.fts.IndexCatalog.clear()
    try {
      // 'vector AND /quer[a-z]+/ NOT /sl.w/': both regexes carry anchored
      // literal prefixes, so both push term RANGES into the sorted
      // postings with the full-match RLIKE as residual; the prohibited
      // regex anti-joins through the covering classifier. The corpus is
      // never scanned and never re-tokenized.
      val plan = planOf("q_fts_query_regex")
      assert(!plan.contains("documents.parquet") &&
          !plan.contains("fts_tokenize"),
        s"regex algebra must answer index-only:\n${plan.linesIterator.take(30).mkString("\n")}")
      assert(plan.contains("GreaterThanOrEqual(term,quer"),
        "regex literal prefix must push as a term range")
      assert(plan.contains("quer[a-z]+") && plan.contains("sl.w"),
        "the residual must be the anchored full-match RLIKE on the term")
      assert(plan.contains("LeftAnti"), "NOT-regex must anti-join")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_query_phrase_wild answers wildcard-slot phrases index-only") {
    graft.fts.IndexCatalog.clear()
    try {
      // '"d?ta quer*" AND vector': pattern slots union position lists over
      // the PRUNED postings (quer* head pushes as a term range), the
      // adjacency fold runs on position arrays — the corpus text column is
      // never scanned or re-tokenized
      val plan = planOf("q_fts_query_phrase_wild")
      assert(!plan.contains("documents.parquet") &&
          !plan.contains("fts_tokenize"),
        s"wildcard phrase must answer index-only:\n${plan.linesIterator.take(30).mkString("\n")}")
      assert(plan.contains("LIKE d_ta"),
        "the ?-slot must run as a translated LIKE on the term")
      // LikeSimplification turns the pure-prefix slot's LIKE 'quer%' into
      // StartsWith, which pushes into the parquet scan alongside the range
      assert(plan.contains("GreaterThanOrEqual(term,quer") &&
          plan.contains("StringStartsWith(term,quer)"),
        "the *-slot's literal head must push as a term range + StartsWith")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_not lowers NOT fts_match_any to an anti-join, no scan") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_not")
    try {
      assert(plan.contains("LeftAnti"), "negated conjunct must anti-join")
      // since round 9 the NEGATED conjunct participates in the pure-match
      // covering: the id-only projection makes the whole answer the
      // positive id set anti-joined with the negative one — the corpus is
      // not scanned at all
      assert(!plan.contains("documents.parquet"),
        s"id-only match+NOT must answer index-only:\n${plan.linesIterator.take(30).mkString("\n")}")
      assert(!plan.contains("fts_tokenize") && !plan.contains("array_contains"),
        "neither conjunct may fall back to the scan lowering")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_or lowers the whole disjunction to one union id set") {
    graft.fts.IndexCatalog.clear()
    val plan = planOf("q_fts_sql_or")
    try {
      assert(plan.contains("Union"), "branch id sets must union")
      // since round 9 an all-exact disjunction is itself index-exact in the
      // covering classifier, so the id-only projection drops the corpus
      // scan entirely (previously: union semi-joined against the corpus)
      assert(!plan.contains("documents.parquet"),
        s"id-only OR must answer index-only:\n${plan.linesIterator.take(30).mkString("\n")}")
      // array_contains legitimately appears INSIDE the positional adjacency
      // fold; re-tokenization is the scan-lowering marker
      assert(!plan.contains("fts_tokenize"),
        "no branch may fall back to the scan lowering")
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql_suffix answers the leading star from the vocabulary-pruned postings") {
    graft.fts.IndexCatalog.clear()
    try {
      val df = SparkEntry.queries("q_fts_sql_suffix")(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!plan.contains("documents.parquet"), "suffix must answer index-only")
      assert(!plan.contains("fts_tokenize"),
        "leading star over the index must not re-tokenize")
      assert(postingsScans(plan) == 1, s"one postings scan:\n$plan")
      // the expanded terms' buckets: at most `buckets` partition literals
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
      val entry = graft.fts.IndexCatalog.get("/root/testdata/sf0.001/documents.parquet").get
      for (scan <- scans) {
        import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
        val literals = scan.partitionFilters.map(_.collect {
          case InSet(_, hs) => hs.size
          case _: Literal => 1
        }.sum).sum
        assert(literals > 0 &&
            literals <= graft.fts.IndexCatalog.cachedIndex(spark, entry).buckets.get,
          s"$literals partition-filter literals: ${scan.partitionFilters}")
      }
    } finally graft.fts.IndexCatalog.clear()
  }

  test("q_fts_sql (unregistered) falls back to the codegen scan lowering") {
    val plan = planOf("q_fts_sql")
    assert(plan.contains("array_contains"), "scan path must lower to array_contains")
    assert(!plan.contains("LeftSemi"))
  }

  test("persisted ANN probes are a partition filter + top-k, no corpus scan") {
    val emb = spark.read.parquet(sf("embeddings"))
    graft.pipeline.Similarity.writeBucketed(
      emb, ttmp("ann_buckets_spec"))
    val topk = graft.pipeline.Similarity.annTopKPersisted(
      emb, ttmp("ann_buckets_spec"), 0L, 10)
    val plan = topk.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[.*bucket".r.findFirstIn(plan).nonEmpty,
      s"probe set must partition-prune:\n${plan.linesIterator.take(30).mkString("\n")}")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must plan as per-partition heaps, not a global sort")
  }

  test("IVF-PQ serve partition-prunes to probe cells and reads code rows only") {
    val emb = spark.read.parquet(sf("embeddings"))
    graft.pipeline.Similarity.writeCelledPq(
      emb, ttmp("ivfpq_spec"))
    val topk = graft.pipeline.Similarity.ivfPqTopK(
      emb, ttmp("ivfpq_spec"), 0L, 5)
    val plan = topk.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[cell".r.findFirstIn(plan).nonEmpty,
      s"probe cells must partition-prune the codes layout:\n${plan.linesIterator.take(25).mkString("\n")}")
    assert(plan.contains("TakeOrderedAndProject"),
      "ADC top-k must stay per-partition heaps")
    assert(!plan.contains("embedding"),
      "serving must read code rows, never the raw vectors")
  }

  test("q_fts_highlight: anchor join is an equi-join, best window bounds map-side") {
    val plan = planOf("q_fts_highlight")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the position self-join must meet on doc_id, never a nested loop")
    assert(plan.contains("WindowGroupLimit"),
      "the rk=1 best-window filter must bound per-doc state map-side")
  }

  test("q_dedup_substr: gram/cover/reassembly joins never go nested-loop") {
    val plan = planOf("q_dedup_substr")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "exact-substring dedup is equi-joins on gram and (doc, pos) only")
  }

  test("q_join_asof plans as window aggregation, never a nested-loop join") {
    val plan = planOf("q_join_asof")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "as-of must not plan a range-predicate join")
    assert(plan.contains("Window"), "as-of is a running-window fold")
  }

  test("q_join_range plans as an equi-join with the range as residual") {
    val plan = planOf("q_join_range")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "bucketized range join must not plan a nested loop")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on the bucket:\n${plan.linesIterator.take(20).mkString("\n")}")
  }

  test("q_join_star broadcasts the dimension chain, no cartesian anywhere") {
    val plan = planOf("q_join_star")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "supplier/nation/region must broadcast")
  }

  test("q_pipeline_pack: one full-data shuffle; cumsum in-partition; offsets broadcast") {
    val plan = planOf("q_pipeline_pack")
    // the local cumsum must be the mapPartitions pass — a window partitioned
    // by pid would insert a SECOND full-data Exchange (hashpartitioning(pid))
    // because RangePartitioning(doc_id) can't satisfy its distribution
    assert(plan.contains("MapPartitions"), "local cumsum must be in-partition")
    // exactly ONE Window node — the #partitions-row offsets frame (the
    // groupBy(pid) offsets aggregate ships nPart partial rows through its
    // own tiny exchange, which is fine); a second Window would mean the
    // cumsum regressed to the full-data window-on-pid shape
    assert(plan.linesIterator.count(_.matches(".*\\(\\d+\\) Window.*")) == 1,
      s"expected exactly the offsets window:\n${plan.linesIterator.take(30).mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "offsets must join back via broadcast")
  }

  test("q_pipeline_mix: grouped prefix sum keeps the packing plan shape") {
    val plan = planOf("q_pipeline_mix")
    // same contract as q_pipeline_pack, per source: cumsum is the
    // in-partition linear pass (a window on (pid, source) would re-shuffle
    // the corpus), the only Window is the tiny per-(pid, source) offsets
    // frame, and offsets + budgets join back via broadcast
    assert(plan.contains("MapPartitions"), "local cumsum must be in-partition")
    assert(plan.linesIterator.count(_.matches(".*\\(\\d+\\) Window.*")) == 1,
      s"expected exactly the offsets window:\n${plan.linesIterator.take(30).mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"),
      "offsets and budgets must join back via broadcast")
  }

  test("runtime bloom filter prunes the probe side of a selective fact join") {
    // Spark 4's AQE runtime filters: a selective filter on one join side
    // injects a bloom-filter semi-filter into the other side's scan. The
    // size thresholds target cluster scale (10 GB probe side), so lower
    // them to demonstrate the mechanism at fixture scale — at 100 TB the
    // defaults fire on their own.
    val c = spark.conf
    val prev = (c.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
      c.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"),
      c.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB"),
      c.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      // at fixture scale the filtered orders side broadcasts, and the rule
      // correctly declines (a broadcast join already prunes the probe side
      // for free) — disable broadcast to get the shuffle-join shape the
      // rule exists for
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = spark.read.parquet(sf("orders"))
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 300000)
      val lineitem = spark.read.parquet(sf("lineitem"))
      val joined = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilterMightContain")
          || plan.contains("might_contain"),
        s"expected a runtime bloom filter on the probe side:\n${plan.take(2000)}")
    } finally {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prev._1)
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prev._2)
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", prev._3)
      c.set("spark.sql.autoBroadcastJoinThreshold", prev._4)
    }
  }

  test("q_cache serves from the columnar cache (InMemoryTableScan)") {
    val df = SparkEntry.queries("q_cache")(spark, "/root/testdata/sf0.001")
    try {
      // walk the executed plan tree, not FormattedMode text: the formatted
      // explain always embeds the InMemoryRelation's cached-CHILD plan
      // (which legitimately contains the original parquet scan), so a
      // whole-string "no Scan parquet" assertion can never hold. The tree
      // itself is the truth: the serving read must be an InMemoryTableScan
      // leaf, with no file scan anywhere in the executed (serving) plan.
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val walker = new AdaptiveSparkPlanHelper {} // traverses into AQE sub-plans
      val exec = df.queryExecution.executedPlan
      val cacheScans = walker.collect(exec) { case s: InMemoryTableScanExec => s }
      assert(cacheScans.nonEmpty,
        s"q_cache must read back through the cache:\n${exec.treeString.take(1500)}")
      val fileScans = walker.collect(exec) { case f: FileSourceScanExec => f }
      assert(fileScans.isEmpty,
        s"the serving read must not re-scan the source parquet:\n${exec.treeString.take(1500)}")
    } finally spark.catalog.clearCache()
  }

  test("q_hive reads back through HiveTableScan (SerDe path, not a file scan)") {
    val df = SparkEntry.queries("q_hive")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Scan hive"),
      s"TEXTFILE hive table must read via HiveTableScanExec:\n${plan.take(1500)}")
    assert(df.collect().nonEmpty, "hive round-trip must produce rows")
  }

  test("q_join_skew_aqe gets a runtime skew split on its executed plan") {
    // the ORACLE row's own plan (not a synthetic frame): 75% of lineitem
    // collapses onto join key 0 and AQE's OptimizeSkewedJoin must split
    // that shuffle partition after the map stage reports sizes. Execute
    // first — skew handling only shows on the final adaptive plan.
    val df = SparkEntry.queries("q_join_skew_aqe")(spark, "/root/testdata/sf0.01")
    assert(df.collect().length == 7, "one output row per group key g ∈ [0,7)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true"),
      s"expected AQE skew-split partitions in the final plan:\n${plan.take(2000)}")
  }

  test("q_dedup_skew splits the hot LSH band bucket at runtime") {
    // 400 identical boilerplate docs give every band ONE bucket with 400
    // rows — the banded SELF-join's hot partition is skewed on BOTH
    // sides, which OptimizeSkewedJoin handles with cartesian sub-splits.
    // Execute first: skew handling only shows on the final adaptive plan.
    val df = SparkEntry.queries("q_dedup_skew")(spark, "/root/testdata/sf0.01")
    val row = df.collect().head
    assert(row.getLong(1) == 79800L,
      s"C(400,2) template pairs expected, got ${row.getLong(1)}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true"),
      s"expected AQE skew-split partitions in the final plan:\n${plan.take(2000)}")
  }

  test("q_join_notin plans NULL-AWARE anti-joins for NOT IN") {
    // the trailing `true` on BroadcastHashJoin … LeftAnti is the
    // isNullAwareAntiJoin flag — plain anti-join semantics would get the
    // three-valued NOT IN wrong when the build side contains a NULL
    val df = SparkEntry.queries("q_join_notin")(spark, "/root/testdata/sf0.001")
    assert(df.collect().length == 1)
    val plan = df.queryExecution.executedPlan.toString
    // the executed-plan string repeats subtrees (final + initial plan +
    // subquery references) — require presence in BOTH branches, i.e. both
    // the plain and the nullif build sides show the flag
    assert("LeftAnti, BuildRight, true".r.findAllIn(plan).size >= 2,
      s"both NOT IN branches must be null-aware anti-joins:\n${plan.take(2000)}")
    assert(!plan.contains("LeftAnti, BuildRight, false"),
      "no branch may degrade to a null-oblivious anti-join")
  }

  test("q_cbo_stats flips SMJ -> broadcast after ANALYZE (asserted in-query)") {
    // the query body REQUIREs pre=SortMergeJoin and post=BroadcastHashJoin;
    // this test just drives it and checks the broadcast survives execution
    val df = SparkEntry.queries("q_cbo_stats")(spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("AQE splits a skewed join partition at runtime") {
    // the automatic complement to q_join_salted's manual salting: a hot key
    // concentrating 75% of the fact rows in one shuffle partition is split
    // by OptimizeSkewedJoin after the map stage's sizes are known. Detection
    // thresholds target cluster-scale partitions (256 MB), so lower them to
    // fixture scale; at 100 TB the defaults fire on their own.
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val prev = (c.get("spark.sql.autoBroadcastJoinThreshold", "10MB"),
      c.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"),
      c.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      val fact = spark.range(200000).select(
        when(col("id") < 150000, 0L).otherwise(col("id") % 97).as("k"),
        col("id").as("v"))
      val dim = spark.range(97).select(col("id").as("k"), (col("id") * 3).as("dv"))
      // no operator after the join: a downstream requirement on hash
      // distribution would make AQE decline the split (it won't add a
      // shuffle to enable one, forceOptimizeSkewedJoin=false)
      val joined = fact.join(dim, "k")
      // collect() executes joined's OWN QueryExecution (write would spawn a
      // fresh one and the inspected plan would never have run)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true"),
        s"expected a runtime skew split:\n${plan.take(1500)}")
    } finally {
      c.set("spark.sql.autoBroadcastJoinThreshold", prev._1)
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", prev._2)
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prev._3)
    }
  }

  test("q_pipeline_stratified: stratum-partitioned rank, broadcast quotas") {
    val plan = planOf("q_pipeline_stratified")
    // the rank <= target filter compares against a JOINED column (fr's
    // quota exceeds its size), so Spark cannot fold it to a literal
    // WindowGroupLimit — the scale guarantee is the window PARTITIONING:
    // each task sorts one stratum's slice, never the corpus
    assert(plan.contains("windowspecdefinition(lang"),
      s"the rank window must partition by the stratum:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-stratum quota table must broadcast:\n${plan.take(1500)}")
    // the only range partitioning (global sort) allowed is the final
    // presentation orderBy over the quota-bounded sample
    assert("rangepartitioning".r.findAllIn(plan).size <= 1,
      s"only the output orderBy may range-partition:\n${plan.take(1500)}")
  }

  test("q_pipeline_shuffle: shard window sorts are partition-local") {
    val plan = planOf("q_pipeline_shuffle")
    assert(plan.contains("hashpartitioning(shard"),
      s"the permutation must BE the hash partitioning:\n${plan.take(1500)}")
  }

  test("q_fts_skew_serving gets a runtime skew split on the term-keyed " +
       "postings join") {
    // the FTS twin of q_join_skew_aqe: the hot term's postings partition
    // must be split by OptimizeSkewedJoin on the executed plan. sf0.1:
    // the skew detector works on COMPRESSED shuffle bytes, and the hot
    // term's partition needs real volume to clear the 1KB threshold
    // (at sf0.01 lz4 flattens ~400 posting rows under it)
    val df = SparkEntry.queries("q_fts_skew_serving")(spark,
      "/root/testdata/sf0.1")
    assert(df.collect().length == 10, "BM25 top-10 must come back full")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true") || plan.contains("isSkewJoin=true"),
      s"expected AQE skew-split partitions in the final plan:\n${plan.take(2000)}")
  }

  test("Rank edge layout: the iteration join is exchange-free on the " +
       "bucketed edge side") {
    // the EXACT contribution-join shape rankInternal runs per iteration
    // (share ⋈ edges ON node = src, then groupBy dst), against a layout
    // written by Rank.writeEdgeLayout: the bucketed-by-src scan must
    // satisfy the SMJ's hash distribution with NO ShuffleExchange above
    // it — the shuffle happened once at write time
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.functions._
    val walker = new AdaptiveSparkPlanHelper {}
    val edges = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select((col("l_orderkey") % 100).as("src"),
        (col("l_suppkey") % 100).as("dst"))
    val layout = graft.pipeline.Rank.writeEdgeLayout(edges,
      graft.core.Scratch.dir("edges_layout_spec"), "edges_spec", buckets = 8)
    val e = layout.bySrc
    val share = e.select(col("src").as("node")).distinct()
      .withColumn("share", lit(1.0))
    val step = share.join(e.hint("merge"), col("node") === e("src"))
      .groupBy(col("dst")).agg(sum(col("share")).as("mass"))
    step.collect()
    val exec = step.queryExecution.executedPlan
    val smjs = walker.collect(exec) { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected an SMJ:\n${exec.treeString.take(1500)}")
    val bucketSides = smjs.flatMap(j => Seq(j.left, j.right).filter(side =>
      walker.collect(side) {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty))
    assert(bucketSides.nonEmpty,
      s"the edge side must read the bucketed layout:\n${exec.treeString.take(1500)}")
    bucketSides.foreach { side =>
      val shuffles = walker.collect(side) { case x: ShuffleExchangeLike => x }
      assert(shuffles.isEmpty,
        s"bucketed edge side must not re-shuffle:\n${side.treeString.take(1500)}")
    }
  }

  test("Eval rank windows: cut-to-k (TakeOrderedAndProject) precedes every " +
       "unpartitioned window, even on corpus-scale input") {
    // hand the metrics a CORPUS-SIZED scored frame — the shape the old
    // code would have run a single-partition row_number over in full —
    // and assert structurally (not on plan text) that each unpartitioned
    // WindowExec now sits above a TakeOrderedAndProject limit
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions._
    val walker = new AdaptiveSparkPlanHelper {}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = docs.select(col("doc_id"),
      pmod(col("doc_id") * 37, lit(101)).cast("double").as("score"))
    val qrels = docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(3)).cast("int").as("rel"))
    val rel = qrels.filter(col("rel") > 0).select("doc_id")
    val frames = Seq(
      "ndcg" -> graft.fts.Eval.ndcgAtK(scored, qrels, 10),
      "mrr" -> graft.fts.Eval.mrrAtK(Seq((1, scored, rel)), 10),
      "rbo" -> graft.fts.Eval.rboAtK(scored, scored, 10, 0.9))
    frames.foreach { case (name, df) =>
      df.collect() // materialize so the adaptive plan is final
      val exec = df.queryExecution.executedPlan
      // only the RANK (row_number) windows are corpus-exposed — ndcg's
      // grade-histogram cumsum window is distinct-grade-sized by its
      // aggregation child and stays exempt
      val wins = walker.collect(exec) {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          w.windowExpression.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.RowNumber])) => w
      }
      assert(wins.nonEmpty, s"$name: expected an unpartitioned rank window")
      wins.foreach { w =>
        val bounded = walker.collect(w.child) {
          case t: TakeOrderedAndProjectExec => t
        }
        assert(bounded.nonEmpty,
          s"$name: unpartitioned Window over an UNBOUNDED child — the " +
            s"top-k cut must plan below it:\n${w.treeString.take(1500)}")
      }
    }
  }
}
