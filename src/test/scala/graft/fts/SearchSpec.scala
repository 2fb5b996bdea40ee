package graft.fts

import org.apache.spark.sql.functions._
import graft.{JobCount, SparkSpec}

/** FTS semantics on a tiny hand-computable corpus. */
class SearchSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "spark makes big data simple"),
      (2L, "big data big results"),
      (3L, "spark streaming of data streams"),
      (4L, "nothing to see here")
    ).toDF("doc_id", "text")
  }
  private lazy val ix = Index.build(docs)

  test("postings: tf and df are exact") {
    val p = ix.postings.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(p.contains(("big", 2L, 2L)))   // "big" twice in doc 2
    assert(p.contains(("spark", 1L, 1L)))
    assert(ix.docLens.filter(col("doc_id") === 2).collect()(0).getLong(1) == 4L)
    val s = ix.stats.collect()(0)
    assert(s.getLong(0) == 4L) // n_docs
  }

  test("matchAll = AND, matchAny = OR") {
    assert(Search.matchAllIds(ix, Seq("spark", "data")).collect().map(_.getLong(0)).sorted
      === Array(1L, 3L))
    assert(Search.matchAnyIds(ix, Seq("spark", "results")).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
  }

  test("matchBoolean honors mustNot") {
    val r = Search.matchBoolean(docs, ix, must = Seq("data"), mustNot = Seq("streaming"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(r === Array(1L, 2L))
  }

  test("phrase match requires adjacency in order") {
    val r = Search.matchPhrase(docs, ix, Seq("big", "data"))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(r === Array(1L, 2L)) // doc 3 has data but not "big data"
    val r2 = Search.matchPhrase(docs, ix, Seq("data", "big"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(r2 === Array(2L)) // "big DATA BIG results" — reversed phrase hits only doc 2
    val r3 = Search.matchPhrase(docs, ix, Seq("simple", "spark"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(r3.isEmpty) // both terms in doc 1 but never adjacent in this order
  }

  test("wildcard-slot phrase: pattern slots union their matching terms") {
    val pix = Index.build(docs, positional = true)
    def wild(slots: Seq[String]): Array[Long] =
      Search.matchPhraseWildPositional(pix, slots)
        .collect().map(_.getLong(0)).sorted
    // "big data" with a starred second slot: d* matches data in docs 1,2
    assert(wild(Seq("big", "d*")) === Array(1L, 2L))
    // pattern in first position: s* data → "...big data" no; "spark
    // streaming of data" has no s*-term ADJACENT to data
    assert(wild(Seq("s*", "data")).isEmpty)
    // ? is exactly one char: b?g data = big data
    assert(wild(Seq("b?g", "data")) === Array(1L, 2L))
    assert(wild(Seq("b??g", "data")).isEmpty)
    // a pattern matching SEVERAL terms unions their positions: doc 3
    // "spark streaming of data streams" — s* adjacent to 'of' is
    // 'streaming' (pos 2); 'of' is pos 3
    assert(wild(Seq("s*", "of")) === Array(3L))
    assert(wild(Seq("of", "d*", "s*")) === Array(3L)) // of data streams
    // exact-only slots degrade to the exact positional phrase
    assert(wild(Seq("big", "data")) ===
      Search.matchPhrasePositional(pix, Seq("big", "data"))
        .collect().map(_.getLong(0)).sorted)
  }

  test("sloppy phrase: ordered chain within the slop window") {
    val pix = Index.build(docs, positional = true)
    def slop(phrase: Seq[String], k: Int): Array[Long] =
      Search.matchPhraseSloppy(pix, phrase, k)
        .collect().map(_.getLong(0)).sorted
    // slop 0 = exact phrase (matches matchPhrasePositional)
    assert(slop(Seq("big", "data"), 0) === Array(1L, 2L))
    assert(slop(Seq("spark", "data"), 0) sameElements Array.empty[Long])
    // doc 1 "spark makes big data simple": spark..data span 3 → needs slop ≥ 2
    // doc 3 "spark streaming of data streams": span 3 likewise
    assert(slop(Seq("spark", "data"), 1) sameElements Array.empty[Long])
    assert(slop(Seq("spark", "data"), 2) === Array(1L, 3L))
    // ORDER matters: data..spark never occurs (vs unordered NEAR which
    // would match both docs at slop 3)
    assert(slop(Seq("data", "spark"), 5) sameElements Array.empty[Long])
    // 3-term chain: spark..big..data in doc 1, span 3, gaps 1 → slop 1
    assert(slop(Seq("spark", "big", "data"), 0) sameElements Array.empty[Long])
    assert(slop(Seq("spark", "big", "data"), 1) === Array(1L))
    // repeated term: "big data big" in doc 2 "big data big results", exact
    assert(slop(Seq("big", "data", "big"), 0) === Array(2L))
    // single term degenerates to containment
    assert(slop(Seq("spark"), 2) === Array(1L, 3L))
  }

  test("sloppy phrase kernel agrees with the positional plan") {
    import org.apache.spark.unsafe.types.UTF8String
    def kern(text: String, terms: Seq[String], k: Int): Boolean =
      graft.ext.FtsPhraseSlopTokens.eval(UTF8String.fromString(text),
        terms.map(UTF8String.fromString).toArray, k)
    val corpus = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val pix = Index.build(docs, positional = true)
    for (phrase <- Seq(Seq("big", "data"), Seq("spark", "data"),
           Seq("spark", "big", "data"), Seq("big", "data", "big"),
           Seq("data", "spark"));
         k <- 0 to 3) {
      val planIds = Search.matchPhraseSloppy(pix, phrase, k)
        .collect().map(_.getLong(0)).toSet
      val kernIds = corpus.collect {
        case (id, t) if kern(t, phrase, k) => id
      }.toSet
      assert(planIds == kernIds,
        s"phrase=$phrase slop=$k: plan=$planIds kernel=$kernIds")
    }
    // a LATER completion with a LATER start must still match: the first
    // b..d pair overshoots the window, the second fits
    assert(kern("b x x x d b d", Seq("b", "d"), 1))
    assert(!kern("b x x x d", Seq("b", "d"), 1))
  }

  test("synonyms: absent term matches through its group; blended stats rank") {
    // 'rapid' is not in the corpus — it must match only via synonym 'big'
    val ids = Search.matchSynonymIds(ix, Seq("rapid", "data"),
        Map("rapid" -> Seq("big")))
      .collect().map(_.getLong(0)).sorted
    assert(ids === Array(1L, 2L)) // docs with big AND data
    // empty synonym map degenerates to matchAll
    assert(Search.matchSynonymIds(ix, Seq("spark", "data"), Map.empty)
      .collect().map(_.getLong(0)).sorted ===
      Search.matchAllIds(ix, Seq("spark", "data"))
        .collect().map(_.getLong(0)).sorted)
    // blended: group {spark, streams} has df = docs with either = {1, 3};
    // doc 3 has tf 1+1=2 for the group — higher group tf than doc 1's 1
    val scored = Search.scoreSynonymsBm25(ix, Seq("spark"),
        Map("spark" -> Seq("streams")), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(scored.map(_._1).toSet == Set(1L, 3L))
    val byId = scored.toMap
    assert(byId(3L) > byId(1L), s"summed group tf must outrank: $byId")
  }

  test("more-like-this excludes the source doc and ranks by shared rare terms") {
    // doc 2 "big data big results": its rarest weighted terms are big
    // (tf 2) and results; MLT must surface doc 1 (shares big+data) above
    // doc 3 (shares only data), and never return doc 2 itself
    val r = Search.moreLikeThis(ix, docId = 2L, k = 10, nTerms = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(!r.map(_._1).contains(2L), "source doc must be excluded")
    assert(r.nonEmpty && r.head._1 == 1L,
      s"doc 1 shares big+data and must rank first: ${r.toSeq}")
    // unknown doc id → empty result, not an error
    assert(Search.moreLikeThis(ix, docId = 99L, k = 10).collect().isEmpty)
  }

  test("bm25 scores match the closed-form formula") {
    // corpus: N=4, avgdl=(5+4+5+4)/4=4.5 ; query "spark": df=2, tf=1 in docs 1,3
    val res = Search.bm25TopK(docs, Seq("spark"), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val idf = math.log((4.0 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 4.5)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(res.keySet == Set(1L, 3L))
    assert(math.abs(res(1L) - s(1, 5)) < 1e-9)
    assert(math.abs(res(3L) - s(1, 5)) < 1e-9)
  }

  test("df cap: stopword band is exact, persisted, and ignored at query time") {
    // 'data' appears in 3/4 docs (df .75), 'big' in 2/4; cap at 0.6 stops
    // exactly the terms with df > 2.4 — only 'data'
    val (capped, stop) = Index.buildWithDfCap(docs, maxDfFrac = 0.6)
    assert(stop.collect().map(_.getString(0)).toSet == Set("data"))
    assert(capped.postings.filter(col("term") === "data").isEmpty,
      "capped term must leave the postings entirely")
    // bounded by construction: every surviving term's df <= cap
    val maxDf = capped.postings.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .agg(max(col("df"))).collect()(0).getLong(0)
    assert(maxDf <= 2L)
    // doc lengths follow the surviving postings (doc 2 "big data big
    // results" loses its one 'data' token: dl 4 -> 3)
    assert(capped.docLens.filter(col("doc_id") === 2).collect()(0).getLong(1) == 3L)
    // query-side: capped terms are IGNORED, not required
    val eff = Search.effectiveTerms(Seq("data", "big"), stop)
    assert(eff == Seq("big"))
    assert(Search.matchAllIds(capped, eff).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
    // the band travels with the persisted index
    val dir = ttmp("fts_capped_spec")
    Index.writeCapped(capped, stop, dir)
    assert(Index.readStopTerms(spark, dir).collect().map(_.getString(0)).toSet
      == Set("data"))
  }

  test("wildcard: head range + suffix + overlap guard; leading star works") {
    import spark.implicits._
    val wdocs = Seq(
      (1L, "query quarry"), (2L, "quay"), (3L, "qy cert"),
      (4L, "query only here")).toDF("doc_id", "text")
    val wix = Index.build(wdocs)
    def ids(p: String): Set[Long] =
      Search.matchWildcardIds(wix, p).collect().map(_.getLong(0)).toSet
    // 'qy' (len 2) fails the qu*y length guard AND the 'qu' head
    assert(ids("qu*y") == Set(1L, 2L, 4L))   // query, quarry, quay
    // head 'q' + tail 'y' need len >= 2: qy now matches too
    assert(ids("q*y") == Set(1L, 2L, 3L, 4L))
    // leading star: suffix-only over the term dictionary
    assert(ids("*ert") == Set(3L))           // cert
    assert(ids("quer*") == Set(1L, 4L))      // prefix special case
    // overlap guard: 'qu*uay' must NOT match 'quay' (head+tail len 6 > 4)
    assert(ids("qu*uay") == Set.empty[Long])
    intercept[IllegalArgumentException](Search.matchWildcardIds(wix, "a*b*c"))
    intercept[IllegalArgumentException](Search.matchWildcardIds(wix, "*"))
    // the general-pattern shape answers the same leading-star query
    assert(Search.matchPatternIds(wix, "*ert").collect().map(_.getLong(0)).toSet
      == ids("*ert"))
  }

  test("regex: full-term match, prefix push, dictionary fallback") {
    import spark.implicits._
    val rdocs = Seq(
      (1L, "query quarry"), (2L, "quay"), (3L, "qy cert"),
      (4L, "query only here")).toDF("doc_id", "text")
    val rix = Index.build(rdocs)
    def ids(p: String): Set[Long] =
      Search.matchRegexpIds(rix, p).collect().map(_.getLong(0)).toSet
    // full-term anchoring: 'quar.*' must not match 'query'
    assert(ids("quar.*") == Set(1L))          // quarry
    assert(ids("qu[a-z]+y") == Set(1L, 2L, 4L)) // query quarry quay; qy has
                                                // no [a-z]+ run between u and y
    assert(ids("q.*y") == Set(1L, 2L, 3L, 4L)) // query quarry quay qy
    // prefix-free pattern: dictionary scan, same answer shape
    assert(ids(".*ert") == Set(3L))           // cert
    assert(ids("(query|cert)") == Set(1L, 3L, 4L))
    intercept[IllegalArgumentException](Search.matchRegexpIds(rix, "ab["))
    intercept[IllegalArgumentException](Search.matchRegexpIds(rix, ""))
    // the pushable literal prefix: quantifiers drop their target char,
    // alternation anywhere kills the push (top-level can't be ruled out)
    assert(Search.regexLiteralPrefix("quer[a-z]+") == "quer")
    assert(Search.regexLiteralPrefix("spark?x") == "spar")
    assert(Search.regexLiteralPrefix("spark+x") == "spark")
    assert(Search.regexLiteralPrefix("ab{2}c") == "a")
    assert(Search.regexLiteralPrefix("abc|xyz") == "")
    assert(Search.regexLiteralPrefix(".*ert") == "")
    assert(Search.regexLiteralPrefix("plain") == "plain")
  }

  test("fuzzy match expands over the dictionary within the edit budget") {
    // 'spak' is one deletion from 'spark' → docs 1 and 3; nothing else
    // in the vocabulary is within one edit
    val ids = Search.matchFuzzyIds(ix, "spak").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
    // zero-edit degenerates to exact match
    assert(Search.matchFuzzyIds(ix, "big", maxEdits = 0)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // two edits reach further ('dat' → 'data'; 'dta' needs 2)
    assert(Search.matchFuzzyIds(ix, "dta", maxEdits = 1).collect().isEmpty ||
      !Search.matchFuzzyIds(ix, "dta", maxEdits = 1)
        .collect().map(_.getLong(0)).toSet.contains(4L))
    assert(Search.matchFuzzyIds(ix, "dta", maxEdits = 2)
      .collect().map(_.getLong(0)).toSet.contains(1L))
  }

  test("library fuzzy, phonetic and suggest read a persisted index's postings once") {
    val dir = graft.core.Scratch.freshDir("fuzzy_one_pass_ix")
    Index.write(ix, dir, buckets = 4)
    val persisted = Index.read(spark, dir)
    // scans in the executed adaptive plan, where a reused exchange is a leaf
    def postingsScans(d: org.apache.spark.sql.DataFrame) = {
      d.collect()
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(d.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.size
    }
    val fuzzy = Search.matchFuzzyIds(persisted, "spak")
    assert(postingsScans(fuzzy) == 1, fuzzy.queryExecution.executedPlan.toString)
    assert(fuzzy.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(postingsScans(Search.matchPhoneticIds(persisted, "spork")) == 1)
    assert(postingsScans(Search.suggest(persisted, "spak")) == 1)
  }

  test("compound: analyzer-first, synonyms post-stem, fuzzy on analyzed dict") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the query planner uses scan primitives"),
      (2L, "queries against the scan layer"), // 'queries' indexes as 'query'
      (3L, "query without the other group"),
      (4L, "scan only here")
    ).toDF("doc_id", "text")
    val cfg = AnalyzerConfig(stopWords = Seq("the"), sStem = true, minTokenLen = 2)
    val aix = Index.build(corpus, analyzer = cfg)

    def run(terms: Seq[String], syn: Map[String, Seq[String]]): Set[Long] =
      Search.matchCompoundIds(aix, cfg, terms, syn)
        .collect().map(_.getLong(0)).toSet

    // the full composition: 'the' stopped (no empty MUST group);
    // 'querries~1' → stem 'querry' → 1-edit 'query' (incl. doc 2, whose
    // raw 'queries' only exists in the dictionary AS its stem); 'lookup'
    // hits via the analyzed map key 'lookups'→'lookup', member
    // 'scans'→'scan'
    assert(run(Seq("the", "querries~1", "lookup"),
      Map("lookups" -> Seq("scans"))) == Set(1L, 2L))

    // fuzzy pre-stem would be empty: raw 'querries' is 3 edits from
    // 'query'; the non-empty result above proves post-stem expansion.
    // Directly: the expansion input really is the stem
    assert(run(Seq("querries~1"), Map.empty) == Set(1L, 2L, 3L))
    // un-analyzed members would miss: 'scans' is not a corpus term
    assert(run(Seq("lookup"), Map("lookup" -> Seq("scans"))) == Set(1L, 2L, 4L))
    // a term that is ONLY a stopword analyzes to nothing → hard error,
    // not a match-nothing MUST
    intercept[IllegalArgumentException] {
      run(Seq("the"), Map.empty)
    }
    // fuzzy terms skip synonym expansion (Lucene's term-level rewrite):
    // a synonym keyed on the analyzed fuzzy term must not widen the group
    assert(run(Seq("querries~0"), Map("querry" -> Seq("scan"))) == Set.empty)
  }

  test("BM25F: field weights scale tf before saturation") {
    import spark.implicits._
    val fielded = Seq(
      (1L, "ranking systems", "data engine"),        // term in TITLE only
      (2L, "data retrieval with data joins", "misc"), // term twice in BODY
      (3L, "nothing relevant", "other topics")
    ).toDF("doc_id", "body", "title")
    val ix3 = Index.buildFielded(fielded,
      Seq("body" -> 1.0, "title" -> 3.0), idCol = "doc_id")
    // combined tf: doc1 = 3.0 (1 title hit × w3), doc2 = 2.0 (2 body hits)
    val tfs = ix3.postings.filter(col("term") === "data")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(tfs == Map(1L -> 3.0, 2L -> 2.0))
    // dl' is the weighted length: doc1 = 2·1 + 2·3 = 8
    assert(ix3.docLens.filter(col("doc_id") === 1)
      .collect()(0).getDouble(1) == 8.0)
    // the single weighted title hit must outrank two saturating body hits
    val top = Search.scoreBm25(ix3, Seq("data"), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L), s"title weighting must lead the ranking: $top")
    // idf counts a doc once per term in ANY field: df(data) = 2
    val df = ix3.postings.filter(col("term") === "data")
      .select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
    assert(df == 2L)
  }

  test("dismax: best-field + tie, per-field statistics stay separate") {
    import spark.implicits._
    val fielded = Seq(
      (1L, "data", "long body about other retrieval topics entirely here"),
      (2L, "misc title", "data data appears twice in this body text now"),
      (3L, "unrelated", "nothing relevant at all in this one really")
    ).toDF("doc_id", "title", "body")
    val ixT = Index.build(fielded, textCol = "title")
    val ixB = Index.build(fielded, textCol = "body")
    def scores(tie: Double, boostT: Double = 1.0): Map[Long, Double] =
      Search.dismaxAllBm25(Seq(ixT -> boostT, ixB -> 1.0),
          Seq("data"), tie = tie)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sT = Search.scoreAllBm25(ixT, Seq("data"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sB = Search.scoreAllBm25(ixB, Seq("data"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1 scores in title space only, doc 2 in body space only — each
    // field normalizes by its OWN avgdl (1-token title vs 9-token bodies)
    assert(sT.keySet == Set(1L) && sB.keySet == Set(2L))
    // tie = 0: pure max — each doc keeps exactly its best field score
    val t0 = scores(0.0)
    assert(t0.keySet == Set(1L, 2L))
    assert(math.abs(t0(1L) - sT(1L)) < 1e-12 &&
      math.abs(t0(2L) - sB(2L)) < 1e-12, t0.toString)
    // tie = 1: degenerates to the per-field sum
    val t1 = scores(1.0)
    assert(math.abs(t1(1L) - sT(1L)) < 1e-12 && math.abs(t1(2L) - sB(2L)) < 1e-12)
    // boost scales a field's contribution before the max/tie combine
    val boosted = scores(0.0, boostT = 5.0)
    assert(math.abs(boosted(1L) - 5.0 * sT(1L)) < 1e-12, boosted.toString)
    // contract guards
    intercept[IllegalArgumentException](
      Search.dismaxAllBm25(Nil, Seq("data"), 0.0))
    intercept[IllegalArgumentException](
      Search.dismaxAllBm25(Seq(ixT -> 1.0), Seq("data"), 1.5))
  }

  test("LM Dirichlet / Jelinek-Mercer: formula exact on the tiny corpus") {
    // corpus stats by hand: T = 18 total tokens; cf(spark) = 2, cf(data) = 3
    val mu = 2000.0
    def dir(tf: Double, dl: Double, cf: Double): Double =
      math.max(0.0, math.log(1.0 + tf * 18.0 / (mu * cf)) + math.log(mu / (dl + mu)))
    val d = Search.scoreAllLmDirichlet(ix, Seq("spark", "data"), mu)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d.keySet == Set(1L, 2L, 3L)) // doc 4 has neither term
    assert(math.abs(d(1L) - (dir(1, 5, 2) + dir(1, 5, 3))) < 1e-12)
    assert(math.abs(d(2L) - dir(1, 4, 3)) < 1e-12)
    assert(math.abs(d(3L) - d(1L)) < 1e-12) // same tf/dl profile as doc 1
    // Dirichlet rewards the doc that covers both terms over the one-term doc
    assert(d(1L) > d(2L))

    def jm(tf: Double, dl: Double, cf: Double): Double =
      math.log(1.0 + (0.9 * tf / dl) * 18.0 / (0.1 * cf))
    val j = Search.scoreAllLmJelinekMercer(ix, Seq("spark", "data"), 0.1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(j(1L) - (jm(1, 5, 2) + jm(1, 5, 3))) < 1e-12)
    assert(math.abs(j(2L) - jm(1, 4, 3)) < 1e-12)

    // Lucene's zero clip: a long doc whose use of a common term is BELOW
    // the collection rate scores 0, never negative (mu small enough that
    // the length penalty dominates: tf=1/dl=10 vs cf/T = 5/14)
    import spark.implicits._
    val c2 = Index.build(Seq(
      (1L, "t t t t"),
      (2L, "t u u u u u u u u u")).toDF("doc_id", "text"))
    val clip = Search.scoreAllLmDirichlet(c2, Seq("t"), mu = 3.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(clip(2L) == 0.0, s"below-collection-rate term must clip: $clip")
    assert(clip(1L) > 0.0)
    // contract guards
    intercept[IllegalArgumentException](Search.scoreAllLmDirichlet(ix, Seq("t"), 0.0))
    intercept[IllegalArgumentException](Search.scoreAllLmJelinekMercer(ix, Seq("t"), 1.0))
  }

  test("collapse: one representative per key, ranked by its score") {
    import spark.implicits._
    val sited = Seq(
      (1L, "a.com", "data data data filler filler"),
      (2L, "a.com", "data filler filler filler filler"),
      (3L, "b.com", "data data filler filler filler"),
      (4L, "b.com", "nothing relevant here at all")
    ).toDF("doc_id", "site", "text")
    val r = Search.collapseTopK(sited, Index.build(sited), Seq("data"),
      collapseCol = "site", k = 10)
      .collect().map(r => (r.getLong(0), r.getString(2))).toList
    // doc 1 beats doc 2 within a.com (tf 3 vs 1); doc 3 represents b.com;
    // doc 4 never matches; global order = representative score desc
    assert(r == List((1L, "a.com"), (3L, "b.com")), r.toString)
    // k bounds the GROUPS, not the match set
    val r1 = Search.collapseTopK(sited, Index.build(sited), Seq("data"),
      collapseCol = "site", k = 1).collect().map(_.getLong(0)).toList
    assert(r1 == List(1L))
  }

  test("block join: parent scores aggregate matching children") {
    import spark.implicits._
    val kids = Seq(
      (10L, 101L, "data data data pad pad"),  // strong child of 10
      (10L, 102L, "data pad pad pad pad"),    // weak child of 10
      (20L, 201L, "data data pad pad pad"),   // middling child of 20
      (20L, 202L, "no match here at all"),
      (30L, 301L, "irrelevant child entirely")
    ).toDF("parent_id", "child_id", "text")
    def run(mode: String) =
      Search.blockJoinTopK(kids, Seq("data"), k = 10, scoreMode = mode)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val mx = run("max")
    assert(mx.map(_._1).toList == List(10L, 20L), mx.mkString(","))
    assert(mx.head._3 == 101L, "best child must be the top-scoring chunk")
    // ScoreMode.Max: parent 10's score is child 101's score exactly
    val cs = Search.scoreBm25(Index.build(kids, idCol = "child_id"),
      Seq("data"), k = 10).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mx.head._2 == cs(101L))
    // Total sums both matching children of parent 10
    val tot = run("total").find(_._1 == 10L).get
    assert(math.abs(tot._2 - math.rint((cs(101L) + cs(102L)) * 1e4) / 1e4) < 1e-9)
    intercept[IllegalArgumentException](run("median"))
  }

  test("MaxScore: partition proves the prune, results equal unpruned BM25") {
    import spark.implicits._
    val corpus = ((1L to 20L).map(i => (i, s"common filler number$i")) ++
      Seq(21L -> "rare common things", 22L -> "very rare item"))
      .toDF("doc_id", "text")
    val cix = Index.build(corpus)
    val plan = Search.maxScorePartition(cix, Seq("rare", "common"), k = 2)
    // 'common' matches 21 of 22 docs → tiny idf; both rare docs outscore
    // any common-only doc, so 'common' must partition as non-essential
    assert(plan.nonEssential == Seq("common"), plan.toString)
    assert(plan.essential == Seq("rare"))
    assert(plan.theta > plan.maxContrib("common"))
    // the contract: pruned == unpruned, here and on the fixture corpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(rows(Search.bm25TopKMaxScore(cix, Seq("rare", "common"), k = 2))
      == rows(Search.scoreBm25(cix, Seq("rare", "common"), k = 2)))
    val fixture = Index.build(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    for (q <- Seq(Seq("dup", "batch"), Seq("spark", "query"), Seq("absent"))) {
      assert(rows(Search.bm25TopKMaxScore(fixture, q, k = 10))
        == rows(Search.scoreBm25(fixture, q, k = 10)), s"query $q diverged")
    }
    // uniform-df queries degrade gracefully: nothing prunable, all essential
    val uni = Search.maxScorePartition(fixture, Seq("spark", "query"), k = 10)
    assert(uni.essential.toSet ++ uni.nonEssential.toSet == Set("spark", "query"))
  }

  test("MaxScore over a persisted layout: results equal the unpruned ranking") {
    import spark.implicits._
    val corpus = ((1L to 20L).map(i => (i, s"common filler number$i")) ++
      Seq(21L -> "rare common things", 22L -> "very rare item"))
      .toDF("doc_id", "text")
    val cix = Index.build(corpus)
    val dir = java.nio.file.Files.createTempDirectory("wand_ix").toString
    Index.write(cix, dir)
    val persisted = Index.read(spark, dir)
    // the exact maxima over the terms' slice prove the in-memory partition...
    val per = Search.maxScorePartition(persisted, Seq("rare", "common"), k = 2)
    assert(per.nonEssential == Seq("common") && per.essential == Seq("rare"))
    // ...and serving equals the unpruned ranking
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(rows(Search.bm25TopKMaxScore(persisted, Seq("rare", "common"), k = 2))
      == rows(Search.scoreBm25(cix, Seq("rare", "common"), k = 2)))
    // absent terms degrade to the empty result, not an error
    assert(Search.bm25TopKMaxScore(persisted, Seq("zzz"), k = 2).collect().isEmpty)
  }

  test("a persisted layout prunes by the bucket count its postings record") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark query engine"),
      (2L, "query the spark cluster"),
      (3L, "spark sql query"),
      (4L, "data query spark query")).toDF("doc_id", "text")
    val mem = Index.build(corpus, positional = true)
    val dir = graft.core.Scratch.freshDir("recorded_buckets_ix")
    Index.write(mem, dir, buckets = 4)
    // read with no bucket count: the layout supplies its own
    val persisted = Index.read(spark, dir)
    assert(persisted.buckets.contains(4))
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val terms = Seq("spark", "query")
    val phrase = Search.matchPhrasePositional(persisted, terms)
    assert(ids(phrase) == ids(Search.matchPhrasePositional(mem, terms)) && ids(phrase).nonEmpty)
    val near = Search.matchNear(persisted, "query", "spark", 2)
    assert(ids(near) == ids(Search.matchNear(mem, "query", "spark", 2)) && ids(near).nonEmpty)
    assert(ids(Search.matchPhraseSloppy(persisted, terms, 1)) ==
      ids(Search.matchPhraseSloppy(mem, terms, 1)))
    assert(ids(Search.matchAllIds(persisted, terms)) == ids(Search.matchAllIds(mem, terms)))
    assert(rows(Search.scoreBm25(persisted, terms, 3)) == rows(Search.scoreBm25(mem, terms, 3)))
    assert(rows(Search.bm25TopKMaxScore(persisted, terms, 3)) ==
      rows(Search.bm25TopKMaxScore(mem, terms, 3)))
    // and the read is pruned: the postings scan filters on the bucket
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(phrase.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.exists(
      _.references.exists(_.name == "bucket"))), phrase.queryExecution.executedPlan.toString)
  }

  test("percolate: conjunctive musts, mustNot veto, no cross product semantics") {
    import spark.implicits._
    val subs = Seq(
      (10L, Seq("spark", "data"), Seq.empty[String]),   // docs 1, 3
      (20L, Seq("big"), Seq("results")),                // doc 1 (2 vetoed)
      (30L, Seq("big", "big"), Seq.empty[String]),      // dup terms dedupe
      (40L, Seq("missing"), Seq.empty[String])          // matches nothing
    ).toDF("query_id", "must", "must_not")
    val r = Search.percolate(docs, subs)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((1L, 10L), (3L, 10L), (1L, 20L), (1L, 30L), (2L, 30L)),
      r.toString)
  }

  test("trigram substring search: cross-token needles, verify kills FPs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "Spark makes BIG data simple"),
      (2L, "a bigger dataset"),
      (3L, "xxabcdyy zcdefq"),   // holds all grams of "abcdef", NOT the substring
      (4L, "the abcdef string"), // the true match
      (5L, "nothing here")
    ).toDF("doc_id", "text")
    val ix = Index.buildTrigram(corpus)
    def ids(needle: String): Set[Long] =
      Search.substringSearch(corpus, ix, needle)
        .collect().map(_.getLong(0)).toSet
    // case-insensitive, crosses a token boundary (space) — the query no
    // token index can answer without a corpus scan
    assert(ids("big DATA") == Set(1L))
    // candidate over-admission is removed by the verify: doc 3 holds
    // every trigram of 'abcdef' in scattered positions
    val cands = Search.substringIds(ix, "abcdef")
      .collect().map(_.getLong(0)).toSet
    assert(cands == Set(3L, 4L), s"gram intersection should admit both: $cands")
    assert(ids("abcdef") == Set(4L))
    // equality with brute force on every 3+ char needle we try
    for (n <- Seq("data", "set", "ing", "spark makes")) {
      val brute = corpus.filter(lower(col("text")).contains(n))
        .collect().map(_.getLong(0)).toSet
      assert(ids(n) == brute, s"needle '$n'")
    }
    // the verify runs over a SEMI-JOINED candidate set, not the corpus
    val plan = Search.substringSearch(corpus, ix, "abcdef")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected candidate semi-join:\n$plan")
    // sub-trigram needles fail loud instead of silently scanning
    intercept[IllegalArgumentException](Search.substringIds(ix, "ab"))
  }

  test("regex over trigrams: factor extraction sound, verify exact") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark makes big data simple"),
      (2L, "big dataset on a table"),
      (3L, "the spark table story"),
      (4L, "nothing relevant")
    ).toDF("doc_id", "text")
    val ix = Index.buildTrigram(corpus)
    // factor extraction: optional chars excluded, '+' keeps its char,
    // unsafe metachars bail
    assert(Search.literalFactor("big data.*table").contains("big data"))
    assert(Search.literalFactor("abc?def").contains("def"))
    assert(Search.literalFactor("abc+def").contains("abc"))
    assert(Search.literalFactor("a|b").isEmpty)
    assert(Search.literalFactor("(abc)def").isEmpty)
    assert(Search.literalFactor("a.b.c").isEmpty) // no run reaches 3
    // end-to-end equals the brute-force regex scan
    val got = Search.regexpSubstringSearch(corpus, ix, "big data.*simple")
      .collect().map(_.getLong(0)).toSet
    val brute = corpus.filter(col("text").rlike("big data.*simple"))
      .collect().map(_.getLong(0)).toSet
    assert(got == brute && got == Set(1L), s"got $got")
    // a factor-free pattern fails loud instead of silently scanning
    intercept[IllegalArgumentException](
      Search.regexpSubstringSearch(corpus, ix, "a.b"))
  }

  test("autocomplete ranks completions by df, term tiebreak, window tight") {
    // corpus terms starting 's': spark (docs 1,3), simple (1), streaming
    // (3), streams (3), see (4)
    val got = Search.autocomplete(ix, "S", 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.head == ("spark", 2L), got.mkString(","))
    // remaining df=1 terms arrive in term order
    assert(got.tail.map(_._1).toSeq == got.tail.map(_._1).sorted.toSeq)
    assert(got.forall(_._1.startsWith("s")))
    // k bounds the list; window excludes terms past the prefix bump
    assert(Search.autocomplete(ix, "s", 2).collect().length == 2)
    assert(Search.autocomplete(ix, "st", 10).collect()
      .forall(_.getString(0).startsWith("st")))
    intercept[IllegalArgumentException](Search.autocomplete(ix, "s!", 3))
    intercept[IllegalArgumentException](Search.autocomplete(ix, "s", 0))
  }

  test("phonetic match: soundex expansion, pinned oracle map verified") {
    import spark.implicits._
    // 'spork' sounds like 'spark' (S162) — found; 'data' (D300) vs
    // 'dita' (D300) matches; a different code does not
    val got = Search.matchPhoneticIds(ix, "spork")
      .collect().map(_.getLong(0)).toSet
    val withSpark = docs.filter(col("text").contains("spark"))
      .collect().map(_.getLong(0)).toSet
    assert(got == withSpark, s"got $got want $withSpark")
    assert(Search.matchPhoneticIds(ix, "dita").collect().nonEmpty)
    assert(Search.matchPhoneticIds(ix, "zzz").collect().isEmpty)
    intercept[IllegalArgumentException](Search.matchPhoneticIds(ix, "sp ork"))
    // the q_fts_phonetic oracle's pinned word→code map must agree with
    // Spark's soundex for EVERY fixture-vocabulary token (porter-map
    // pattern: the closed vocab is what makes the SQL replay exact)
    val pinned = Map("a" -> "A000", "agg" -> "A200", "batch" -> "B320",
      "big" -> "B200", "column" -> "C450", "customer" -> "C235",
      "data" -> "D300", "dup" -> "D100", "fast" -> "F230",
      "filter" -> "F436", "group" -> "G610", "hash" -> "H200",
      "join" -> "J500", "key" -> "K000", "line" -> "L500",
      "merge" -> "M620", "order" -> "O636", "part" -> "P630",
      "query" -> "Q600", "row" -> "R000", "scan" -> "S500",
      "slow" -> "S400", "small" -> "S540", "sort" -> "S630",
      "spark" -> "S162", "stream" -> "S365", "table" -> "T140",
      "the" -> "T000", "value" -> "V400", "vector" -> "V236",
      "window" -> "W530")
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val vocab = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(Analyzer.tokenize(col("text"))).as("w")).distinct()
        .select(col("w"), soundex(col("w")).as("code"))
        .collect().map(r => r.getString(0) -> r.getString(1))
      assert(vocab.nonEmpty)
      vocab.foreach { case (w, code) =>
        assert(pinned.get(w).contains(code),
          s"oracle soundex map stale for '$w': spark=$code map=${pinned.get(w)}")
      }
    }
  }

  test("crc32 matches JVM reference (oracle engine lacks crc32)") {
    import spark.implicits._
    val got = Seq("hello graft").toDF("s").select(crc32(col("s"))).collect()(0).getLong(0)
    val c = new java.util.zip.CRC32()
    c.update("hello graft".getBytes("UTF-8"))
    assert(got == c.getValue)
  }

  test("spanFirst: term must sit within the first n positions") {
    val pix = Index.build(docs, positional = true)
    // 'spark' is token 0 of docs 1 and 3 → within first 1
    assert(Search.matchSpanFirst(pix, "spark", 1)
      .collect().map(_.getLong(0)).sorted === Array(1L, 3L))
    // 'data' is position 3 in doc 1, 1 in doc 2, 3 in doc 3 → n=2 keeps only doc 2
    assert(Search.matchSpanFirst(pix, "data", 2)
      .collect().map(_.getLong(0)) === Array(2L))
    // n beyond every doc length degrades to plain contains
    assert(Search.matchSpanFirst(pix, "data", 100)
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }

  test("spanNot: an occurrence of a with no b within dist") {
    val pix = Index.build(docs, positional = true)
    // 'big' not within 1 of 'data': doc 1 big@2,data@3 adjacent → excluded;
    // doc 2 big@0,data@1,big@2 — big@2 is within 1 of data@1? |2-1|=1 ≤ 1 →
    // and big@0 |0-1|=1 → excluded too
    assert(Search.matchSpanNot(pix, "big", "data", 1)
      .collect().map(_.getLong(0)).isEmpty)
    // dist 0 = positions may never collide (they can't) → all docs with 'big'
    assert(Search.matchSpanNot(pix, "big", "data", 0)
      .collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    // b absent from the doc entirely → a matches (left join null arm)
    assert(Search.matchSpanNot(pix, "results", "spark", 5)
      .collect().map(_.getLong(0)) === Array(2L))
  }

  test("significantTerms: foreground-only term outranks corpus-wide ones") {
    import spark.implicits._
    val fg = Seq(1L, 3L).toDF("doc_id") // the two 'spark' docs
    val top = Search.significantTerms(ix, fg, k = 3).collect()
    // 'spark' is in 2/2 fg docs and 2/4 corpus docs → highest lift
    assert(top.head.getString(0) == "spark")
    val s = top.head
    assert(s.getLong(1) == 2L && s.getLong(2) == 2L)
    // JLH = (1 − 0.5) · (1 / 0.5) = 1.0
    assert(math.abs(s.getDouble(3) - 1.0) < 1e-9)
    // 'data' (in all 3 content docs, 2 fg) scores lower than 'spark'
    val data = top.find(_.getString(0) == "data")
    assert(data.forall(_.getDouble(3) < 1.0))
  }

  test("rm3: expansion pulls in feedback-doc terms absent from the query") {
    // query 'spark' → fb docs 1,3; their terms (big/data/streaming/...)
    // join the expanded query, so doc 2 (no 'spark') can now score
    val r = Search.rm3TopK(ix, Seq("spark"), k = 4, fbDocs = 2, fbTerms = 3,
      lambda = 0.5).collect()
    val ids = r.map(_.getLong(0)).toSet
    assert(ids.contains(2L), s"expansion should reach doc 2, got ${ids.mkString(",")}")
    // λ=1 degrades to the original query: only spark docs match
    val strict = Search.rm3TopK(ix, Seq("spark"), k = 4, fbDocs = 2,
      fbTerms = 3, lambda = 1.0).collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L, 3L))
  }

  test("static-banded top-k: early termination, exact vs unbanded truth") {
    val corpus = spark.read.parquet(sf("documents"))
    val ix = Index.build(corpus)
    val out = graft.core.Scratch.dir("fts_static_banded_spec")
    Index.writeStaticBanded(ix,
      corpus.select(col("doc_id"), col("n_chars").as("score")),
      out, bandWidth = 80L, nBands = 8)
    val post = spark.read.parquet(s"$out/postings_banded")
    val nBandsPresent = post.select("band").distinct().count()
    val (res, read) = Search.topKStaticBanded(spark, out, "data", k = 5)
    // exactness against banding-free ground truth
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val truth = corpus
      .filter(array_contains(Analyzer.tokenize(col("text")), "data"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == truth, s"banded result diverged:\n$got\nvs\n$truth")
    // the point of the layout: the read stops before the last band
    assert(read.length < nBandsPresent,
      s"no early termination: read ${read.length} of $nBandsPresent bands")
    assert(read == read.sorted, "bands must be read best-first")
    // k larger than all matches → every band read, result complete
    val (all, readAll) = Search.topKStaticBanded(spark, out, "data", k = 100000)
    assert(readAll.length == nBandsPresent)
    assert(all.count() ==
      corpus.filter(array_contains(Analyzer.tokenize(col("text")), "data")).count())
  }

  test("suggestPhrase: LM prefers the rewrite that co-occurs") {
    import spark.implicits._
    // 'grape juice' dominates; 'gripe' exists but never precedes 'juice'
    val corpus = (Seq.fill(20)("grape juice is great") ++
      Seq.fill(20)("people gripe about things") ++ Seq("gripe juice once"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Search.suggestPhrase(corpus, Seq("grape", "juice"),
      maxEdits = 1, perSlot = 5, k = 2).collect()
    assert(got.head.getString(0) == "grape juice",
      s"LM should rank the co-occurring rewrite first: ${got.toSeq}")
    // both rewrites surface, the non-co-occurring one strictly lower
    val m = got.map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.contains("gripe juice") && m("grape juice") > m("gripe juice"))
  }

  test("rescoreTopK: phrase boost reorders only inside the window") {
    val pix = Index.build(docs, positional = true)
    val base = Search.scoreBm25(pix, Seq("big", "data"), 4).collect()
      .map(_.getLong(0)).toSeq
    val boosted = Search.rescoreTopK(pix, Seq("big", "data"),
      Seq("big", "data"), window = 4, k = 4, boost = 10.0).collect()
    // docs 1 and 2 contain the exact phrase "big data"; doc 3 matches
    // terms but not the phrase → boosted docs must rank first
    val order = boosted.map(_.getLong(0)).toSeq
    assert(order.take(2).toSet == Set(1L, 2L), s"base=$base boosted=$order")
    assert(boosted.take(2).map(_.getDouble(1)).forall(_ > 9.0))
  }

  test("searchAfter: pages tile the full ranking with no overlap or gap") {
    val full = Search.scoreBm25(ix, Seq("data", "big"), 10).collect()
    val p1 = full.take(2)
    val p2 = Search.searchAfter(ix, Seq("data", "big"), 2,
      afterScore = p1.last.getDouble(1), afterId = p1.last.getLong(0)).collect()
    assert((p1 ++ p2).map(_.getLong(0)).toSeq == full.map(_.getLong(0)).toSeq.take(p1.length + p2.length))
    assert(p1.map(_.getLong(0)).toSet.intersect(p2.map(_.getLong(0)).toSet).isEmpty)
  }

  /** A 300-doc corpus over a 40-word vocabulary, skewed so head terms sit
    * in most docs and tail terms in a few — df varies across query terms. */
  private lazy val skewed = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0L until 300L).map { id =>
      val n = 5 + rnd.nextInt(11)
      (id, Seq.fill(n)(s"w${math.min(39, (math.pow(rnd.nextDouble(), 2) * 40).toInt)}")
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** The previous operator forms, kept as the reference: df as a separate
    * distinct-doc aggregate broadcast back on term; AND / minimum-should-
    * match as a distinct-term count per doc. */
  private def scoreAllDistinctDf(ix: FtsIndex, terms: Seq[String],
                                 candidates: Option[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val qp0 = ix.postings.filter(col("term").isin(terms.distinct: _*))
    val df = qp0.groupBy("term").agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val qp = candidates.fold(qp0)(c =>
      qp0.join(c.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val withDl =
      if (qp.columns.contains("dl")) qp.join(broadcast(df), "term")
      else qp.join(broadcast(df), "term").join(ix.docLens, "doc_id")
    withDl.crossJoin(broadcast(ix.stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("score_t",
        col("idf") * (col("tf").cast("double") * (k1 + 1.0)) /
          (col("tf").cast("double") + (col("dl").cast("double") / col("avgdl") * b + (1.0 - b)) * k1))
      .groupBy("doc_id").agg(sum(col("score_t")).as("score"))
  }

  private def minIdsDistinct(ix: FtsIndex, terms: Seq[String], minMatch: Int) =
    ix.postings.filter(col("term").isin(terms.distinct: _*))
      .groupBy("doc_id").agg(countDistinct(col("term")).as("n_terms"))
      .filter(col("n_terms") >= minMatch).select("doc_id")

  test("window-df BM25 and row-count matching equal the distinct-aggregate forms") {
    import spark.implicits._
    val mem = Index.build(skewed)
    val pDir = graft.core.Scratch.freshDir("score_identity_ix")
    Index.write(mem, pDir, buckets = 4)
    val persisted = Index.read(spark, pDir)
    // merge-on-read view: two batches folded into a base, then an upsert
    // over live docs and a delete — tombstones hit base and delta rows
    val lDir = graft.core.Scratch.freshDir("score_identity_log")
    IncrementalIndex.upsert(spark, lDir, skewed.filter(col("doc_id") < 200))
    IncrementalIndex.upsert(spark, lDir, skewed.filter(col("doc_id") >= 200))
    IncrementalIndex.compact(spark, lDir,
      graft.core.Scratch.freshDir("score_identity_base"), buckets = 4)
    IncrementalIndex.upsert(spark, lDir,
      (50L until 60L).map(i => (i, s"w1 w2 w39 w39 extra$i")).toDF("doc_id", "text"))
    IncrementalIndex.delete(spark, lDir, (100L until 110L).toDF("doc_id"))
    val incremental = IncrementalIndex.read(spark, lDir)

    val terms = Seq("w0", "w3", "w17", "w39", "absent")
    val cands = spark.range(0, 300, 3).toDF("doc_id")
    def scored(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), round(col("score"), 4)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    def ids(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.getLong(0)).toSet
    for ((kind, ix) <- Seq("in-memory" -> mem, "persisted" -> persisted,
        "merge-on-read" -> incremental); c <- Seq(None, Some(cands))) {
      val got = scored(Search.scoreAllBm25(ix, terms, candidates = c))
      assert(got.nonEmpty, kind)
      assert(got == scored(scoreAllDistinctDf(ix, terms, c)),
        s"$kind, candidates=${c.isDefined}: window df changed a score")
    }
    for ((kind, ix) <- Seq("in-memory" -> mem, "persisted" -> persisted,
        "merge-on-read" -> incremental)) {
      val and = ids(Search.matchAllIds(ix, Seq("w0", "w3", "w17")))
      assert(and.nonEmpty && and == ids(minIdsDistinct(ix, Seq("w0", "w3", "w17"), 3)), kind)
      for (m <- 1 to 3) assert(ids(Search.matchMinIds(ix, terms, m)) ==
        ids(minIdsDistinct(ix, terms, m)), s"$kind, minMatch=$m")
      // one distinct term: the term's postings projected to doc_id, with
      // no de-duplication — every id must still come back exactly once
      // (w39 is re-sent by the upsert, w0 sits in most docs, a repeated
      // term is one term)
      for (one <- Seq(Seq("w0"), Seq("w39", "w39"), Seq("w17"), Seq("absent"))) {
        val ref = ids(minIdsDistinct(ix, one, 1))
        for ((op, got) <- Seq("matchAllIds" -> Search.matchAllIds(ix, one),
            "matchAnyIds" -> Search.matchAnyIds(ix, one))) {
          val rows = got.collect().map(_.getLong(0))
          assert(rows.toSet == ref && rows.length == ref.size,
            s"$kind, $op($one): ${rows.length} rows for ${ref.size} docs")
        }
        assert(one == Seq("absent") || ref.nonEmpty, s"$kind, $one")
      }
    }
    // merge-on-read scoring takes dl and the corpus stats from ONE doc
    // lengths pipeline: the scores equal, as exact doubles, the form that
    // reads the log's stats row as literals, also for a log holding a NULL
    // doc_id (its doc lengths row counts in n_docs), and the plan scans the
    // base and the delta doclens once each. Two query terms, so a doc's
    // score is one addition, whose order cannot change the bits
    val nDir = graft.core.Scratch.freshDir("score_identity_null_log")
    IncrementalIndex.upsert(spark, nDir, skewed.filter(col("doc_id") < 150))
    IncrementalIndex.compact(spark, nDir,
      graft.core.Scratch.freshDir("score_identity_null_base"), buckets = 4)
    IncrementalIndex.upsert(spark, nDir, skewed.filter(col("doc_id") >= 150)
      .union(Seq((Option.empty[Long], "w0 w3 w17 nullid")).toDF("doc_id", "text")))
    val withNull = IncrementalIndex.read(spark, nDir)
    assert(withNull.docLens.filter(col("doc_id").isNull).count() == 1)
    def exact(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.get(0)), r.getDouble(1))).toSet
    for ((kind, log) <- Seq("merge-on-read" -> incremental,
        "merge-on-read, NULL doc_id" -> withNull)) {
      val stats = CorpusStats.read(log.stats)
      assert(stats.nDocs == log.docLens.count(), kind)
      val two = Seq("w3", "w17")
      val got = exact(Search.scoreAllBm25(log, two))
      assert(got.nonEmpty && got == exact(Search.scoreAllBm25(log, two, stats = Some(stats))),
        s"$kind: scores differ from the stats-row form")
      // the executed plan: a reused exchange is a leaf there, so a doc
      // lengths pipeline that runs once shows its scans once
      val top = Search.scoreBm25(log, terms, 10)
      top.collect()
      val doclensScans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(top.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.getName.startsWith("doclens")) => f
        }.size
      assert(doclensScans == 2, s"$kind: $doclensScans doclens scans:\n" +
        top.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
  }

  test("persisted SQL serving: top-k and a 3-term AND launch at most the pinned job count") {
    // Warm (second run) counts over a positional index with the default 64
    // buckets, under AQE. With df as a distinct aggregate broadcast back on
    // term and AND as a distinct-term count: fts_score top-k 8 jobs, 3-term
    // fts_match 3 jobs. With the window df and row-count matching: 6 and 2.
    // With one-term id sets as plain postings projections and no candidate
    // semi-join over the score's own terms: top-k 4, one-word fts_match 1,
    // fts_query('+w0 -w3 w17') 3 (was 6, 2 and 6). With a small pruned
    // postings slice on one task, joins of two such slices shuffled-hash
    // and corpus stats and phrase slots as literals: top-k, the 3-term AND,
    // the one-word match, the query string, a phrase and a near-AND each
    // run as ONE job. Prefix and fuzzy terms expand against the index's
    // vocabulary (read once per handle, by the cold run), so a prefix, a
    // fuzzy term and a query string with a prefix clause read only their
    // expanded terms' buckets: one job each (the prefix scanned every
    // posting in ≥ 2 jobs before).
    graft.fts.IndexCatalog.clear()
    try {
      val table = graft.core.Scratch.freshDir("jobcount_table")
      skewed.write.mode("overwrite").parquet(table)
      Index.createIndex(spark, table, graft.core.Scratch.freshDir("jobcount_ix"),
        positional = true)
      spark.read.parquet(table).createOrReplaceTempView("jobcount_docs")
      val topk = "SELECT doc_id, round(fts_score(text, 'w0 w17'), 4) AS score " +
        "FROM jobcount_docs WHERE fts_match_any(text, 'w0 w17') " +
        "ORDER BY score DESC, doc_id LIMIT 10"
      val and = "SELECT doc_id FROM jobcount_docs WHERE fts_match(text, 'w0 w3 w17')"
      val one = "SELECT doc_id FROM jobcount_docs WHERE fts_match(text, 'w17')"
      val qstring = "SELECT doc_id FROM jobcount_docs WHERE fts_query(text, '+w0 -w3 w17')"
      val phrase = "SELECT doc_id FROM jobcount_docs WHERE fts_phrase(text, 'w0 w1')"
      val prefix = "SELECT doc_id FROM jobcount_docs WHERE fts_prefix(text, 'w1')"
      val fuzzy = "SELECT doc_id FROM jobcount_docs WHERE fts_fuzzy(text, 'w17', 1)"
      val qprefix = "SELECT doc_id FROM jobcount_docs WHERE fts_query(text, 'w2 w3*')"
      // a near id set is itself a join of two slices, here grafted into a
      // covered match beside another id set
      val nearAnd = "SELECT doc_id FROM jobcount_docs " +
        "WHERE fts_near(text, 'w0', 'w1', 2) AND fts_match(text, 'w2')"
      def warmJobs(sql: String): Int = {
        spark.sql(sql).collect()
        JobCount(spark)(spark.sql(sql).collect())._2
      }
      val (topkJobs, andJobs) = (warmJobs(topk), warmJobs(and))
      val (oneJobs, qstringJobs) = (warmJobs(one), warmJobs(qstring))
      val (phraseJobs, prefixJobs) = (warmJobs(phrase), warmJobs(prefix))
      val nearAndJobs = warmJobs(nearAnd)
      val (fuzzyJobs, qprefixJobs) = (warmJobs(fuzzy), warmJobs(qprefix))
      assert(topkJobs <= 1, s"fts_score top-k launched $topkJobs jobs")
      assert(andJobs <= 1, s"3-term fts_match launched $andJobs jobs")
      assert(oneJobs <= 1, s"one-word fts_match launched $oneJobs jobs")
      assert(qstringJobs <= 1, s"fts_query('+w0 -w3 w17') launched $qstringJobs jobs")
      assert(phraseJobs <= 1, s"fts_phrase launched $phraseJobs jobs")
      assert(prefixJobs <= 1, s"fts_prefix launched $prefixJobs jobs")
      assert(fuzzyJobs <= 1, s"fts_fuzzy launched $fuzzyJobs jobs")
      assert(qprefixJobs <= 1, s"fts_query('w2 w3*') launched $qprefixJobs jobs")
      assert(nearAndJobs <= 1, s"fts_near AND fts_match launched $nearAndJobs jobs")
      // the lowering is still exact
      val ix = Index.build(skewed)
      def idList(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.getLong(0)).sorted.toSeq
      assert(idList(spark.sql(and)) == idList(Search.matchAllIds(ix, Seq("w0", "w3", "w17"))))
      assert(idList(spark.sql(one)) == idList(Search.matchAllIds(ix, Seq("w17"))))
      assert(idList(spark.sql(qstring)) ==
        idList(Search.matchBoolean(skewed, ix, Seq("w0", "w17"), Seq("w3")).select("doc_id")))
      assert(spark.sql(topk).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Search.scoreBm25(ix, Seq("w0", "w17"), 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      val pix = Index.build(skewed, positional = true)
      assert(idList(spark.sql(phrase)) ==
        idList(Search.matchPhrasePositional(pix, Seq("w0", "w1"))))
      assert(idList(spark.sql(prefix)) == idList(Search.matchPrefixIds(pix, "w1")))
      assert(idList(spark.sql(fuzzy)) == idList(Search.matchFuzzyIds(pix, "w17", 1)))
      assert(idList(spark.sql(qprefix)) == idList(Search.matchAllIds(pix, Seq("w2"))
        .join(Search.matchPrefixIds(pix, "w3"), "doc_id")))
      assert(idList(spark.sql(nearAnd)) == idList(Search.matchNear(pix, "w0", "w1", 2)
        .join(Search.matchAllIds(pix, Seq("w2")), "doc_id")))
    } finally graft.fts.IndexCatalog.clear()
  }

  test("a candidate filter over exactly the fts_score terms adds no semi-join; any other term set keeps it") {
    import spark.implicits._
    def plan(sql: String) = spark.sql(sql).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    def rows(sql: String) = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    graft.fts.IndexCatalog.clear()
    try {
      val table = graft.core.Scratch.freshDir("elision_table")
      skewed.write.mode("overwrite").parquet(table)
      spark.read.parquet(table).createOrReplaceTempView("elision_docs")
      Index.createIndex(spark, table, graft.core.Scratch.freshDir("elision_ix"))
      def topk(cands: String) =
        "SELECT doc_id, round(fts_score(text, 'w0 w17'), 4) AS score " +
          s"FROM elision_docs WHERE fts_match_any(text, '$cands') " +
          "ORDER BY score DESC, doc_id LIMIT 10"
      // same set (order and repetition aside), a subset, a superset
      val cases = Seq("w17 w0 w0" -> false, "w0" -> true, "w0 w17 w3" -> true)
      val indexed = cases.map { case (cands, semi) =>
        val p = plan(topk(cands))
        assert(p.contains("LeftSemi") == semi,
          s"fts_match_any(text, '$cands'): LeftSemi expected $semi:\n$p")
        rows(topk(cands))
      }
      // fts_score has no scan lowering, so the reference is the filter's
      // scan lowering (no index registered) scored by the in-memory index:
      // docs without a score term score 0, as coalesce gives in SQL
      val scores = Search.scoreAllBm25(Index.build(skewed), Seq("w0", "w17"))
        .select(col("doc_id"), round(col("score"), 4)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      graft.fts.IndexCatalog.clear()
      cases.map(_._1).zip(indexed).foreach { case (cands, got) =>
        val want = spark.sql(
            s"SELECT doc_id FROM elision_docs WHERE fts_match_any(text, '$cands')")
          .collect().map(_.getLong(0)).toSeq
          .map(id => (id, scores.getOrElse(id, 0.0)))
          .sortBy { case (id, sc) => (-sc, id) }.take(10)
        assert(got.nonEmpty && got == want, s"fts_match_any(text, '$cands')")
      }

      // an analyzer index compares ANALYZED term sets: 'the queries window'
      // is [query, window] — the score's domain
      val cfg = AnalyzerConfig(stopWords = Seq("the"), sStem = true)
      val docs = Seq(
        (1L, "run the queries against the window manager"),
        (2L, "query the window opens fast"),
        (3L, "windows everywhere"),
        (4L, "nothing relevant here at all"),
        (5L, "many queries later")).toDF("doc_id", "text")
      val anTable = graft.core.Scratch.freshDir("elision_an_table")
      docs.write.mode("overwrite").parquet(anTable)
      spark.read.parquet(anTable).createOrReplaceTempView("elision_an_docs")
      Index.createIndex(spark, anTable, graft.core.Scratch.freshDir("elision_an_ix"),
        analyzer = cfg)
      val an = "SELECT doc_id, round(fts_score(text, 'window query'), 4) AS score " +
        "FROM elision_an_docs WHERE fts_match_any(text, 'the queries window') " +
        "ORDER BY score DESC, doc_id LIMIT 10"
      val anPlan = plan(an)
      assert(!anPlan.contains("LeftSemi"), s"analyzed same-set filter kept a semi-join:\n$anPlan")
      assert(rows(an) == Search.scoreBm25(Index.build(docs, analyzer = cfg),
          Seq("window", "query"), 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    } finally graft.fts.IndexCatalog.clear()
  }
}
