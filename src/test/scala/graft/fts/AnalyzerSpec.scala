package graft.fts

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Property tests for the frozen token grammar (SURVEY.md §7 risk 3:
  * tokenization must be deterministic, null-safe, and idempotent — the index
  * and the query side must always agree). Uses scalacheck Gen directly with
  * a fixed seed (the scalatest-scalacheck bridge isn't in the offline deps).
  */
class AnalyzerSpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 40)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private def tokensOf(s: String): Seq[String] = {
    import spark.implicits._
    Seq(s).toDF("t").select(Analyzer.tokenize(col("t")).as("toks"))
      .collect()(0).getSeq[String](0)
  }

  test("tokenize: basic split, lowercase, drops empties") {
    assert(tokensOf("Hello,  WORLD!! 42") == Seq("hello", "world", "42"))
    assert(tokensOf("") == Seq.empty)
    assert(tokensOf("...---...") == Seq.empty)
  }

  test("tokenize: null-safe") {
    import spark.implicits._
    val r = Seq[Option[String]](None).toDF("t")
      .select(Analyzer.tokenize(col("t")).as("toks")).collect()(0)
    assert(r.isNullAt(0))
  }

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)
  private val text = Gen.listOf(word).map(_.mkString(" "))

  test("tokenize is idempotent over its own output (property)") {
    forAll(text) { s =>
      val once = tokensOf(s)
      val twice = tokensOf(once.mkString(" "))
      assert(once == twice)
    }
  }

  test("tokenize is case-insensitive (property)") {
    forAll(text) { s => assert(tokensOf(s) == tokensOf(s.toUpperCase)) }
  }

  private def tokensWith(s: String, cfg: AnalyzerConfig): Seq[String] = {
    import spark.implicits._
    Seq(s).toDF("t").select(Analyzer.tokenizeWith(col("t"), cfg).as("toks"))
      .collect()(0).getSeq[String](0)
  }

  test("configured analyzer: stop -> stem -> minlen, known answers") {
    val cfg = AnalyzerConfig(stopWords = Seq("the"), sStem = true, minTokenLen = 2)
    // the→stopped; QuerIes→query; windows→window; a→len 1 dropped;
    // ss/us endings excluded from stemming; es→e dropped; bare s→'' dropped
    assert(tokensWith("The QuerIes windows a ss bus es s", cfg)
      == Seq("query", "window", "ss", "bus"))
    // duplicates survive (tf must not collapse)
    assert(tokensWith("tables tables", AnalyzerConfig(sStem = true))
      == Seq("table", "table"))
  }

  test("nfc stage: decomposed text tokenizes like precomposed, both sides") {
    val cfg = AnalyzerConfig(nfc = true)
    // without NFC the combining mark U+0301 is a non-[a-z0-9] byte that
    // SPLITS the token; with it 'cafe'+mark composes to 'café' first and
    // survives as one token (é itself then splits under the frozen ASCII
    // grammar — but IDENTICALLY on both encodings, which is the contract)
    val decomposed = "cafe\u0301 shop"
    val precomposed = "caf\u00e9 shop"
    assert(tokensWith(decomposed, cfg) == tokensWith(precomposed, cfg),
      "index-side column pipeline must unify the encodings")
    assert(cfg.tokenizeQuery(decomposed) == cfg.tokenizeQuery(precomposed),
      "query-side string pipeline must unify the encodings")
    assert(cfg.tokenizeQuery(decomposed) == tokensWith(precomposed, cfg),
      "index and query sides must agree with each other")
    // WITHOUT nfc the encodings diverge — the miss the stage exists to fix
    val raw = AnalyzerConfig()
    assert(tokensWith(decomposed, raw) != tokensWith(precomposed, raw))
    // the config round-trips through its persistence format
    assert(AnalyzerConfig.parse(cfg.describe) == cfg)
    assert(!AnalyzerConfig.parse(AnalyzerConfig().describe).nfc)
    // pre-nfc persisted strings (no nfc= key) still parse, defaulting off
    assert(!AnalyzerConfig.parse("v2;stop=;sstem=false;min=1;cjk=false").nfc)
  }

  test("foldAccents stage: accented and plain text tokenize identically") {
    val cfg = AnalyzerConfig(foldAccents = true)
    // folding runs BEFORE the grammar split: é/ñ are non-[a-z0-9] bytes
    // that would otherwise split the token. Stroked letters (ł, ø) have
    // NO mark decomposition — they pass through the fold (utf8proc/ICU
    // semantics, probed equal to DuckDB strip_accents) and then split
    // under the frozen ASCII grammar, identically on both sides.
    assert(tokensWith("café niño łódź", cfg)
      == Seq("cafe", "nino", "odz"))
    // decomposed input folds the same way (NFD→drop marks→NFC kernel)
    assert(tokensWith("café", cfg) == Seq("cafe"))
    // query side mirrors, including through uppercase
    assert(cfg.tokenizeQuery("CAFÉ Niño") == Seq("cafe", "nino"))
    assert(cfg.tokenizeQuery("café") == tokensWith("cafe", cfg))
    // no-mark letters pass through unchanged (ø has no decomposition)
    assert(tokensWith("søren", cfg) == tokensWith("søren", AnalyzerConfig()))
    // WITHOUT the stage the accented form splits — the miss it exists to fix
    assert(tokensWith("café shop", AnalyzerConfig())
      != tokensWith("cafe shop", AnalyzerConfig()))
    // persistence round-trip; pre-fold strings parse with the stage off
    assert(AnalyzerConfig.parse(cfg.describe) == cfg)
    assert(!AnalyzerConfig.parse(
      "v2;stop=;sstem=false;min=1;cjk=false;nfc=false").foldAccents)
  }

  test("column S-stemmer equals the query-side string mirror (property)") {
    val cfg = AnalyzerConfig(sStem = true)
    val suffixed = for {
      w <- word
      suf <- Gen.oneOf("", "s", "es", "ies", "ss", "us", "aes", "ees", "oes",
        "eies", "aies")
    } yield w + suf
    forAll(Gen.listOf(suffixed).map(_.mkString(" "))) { s =>
      val viaColumns = tokensWith(s, cfg)
      val viaStrings = tokensOf(s).map(cfg.sStemString).filter(_.nonEmpty)
      assert(viaColumns == viaStrings, s"input: '$s'")
    }
  }

  test("Porter stemmer: canonical vectors from the published algorithm") {
    import graft.ext.PorterStemmer.stem
    // full-pipeline outputs, hand-composed from the paper's per-step rule
    // examples (Porter 1980) — each pair traced through steps 1–5
    val vectors = Seq(
      // step 1: plurals and -ed/-ing
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "motoring" -> "motor", "sing" -> "sing",
      "hopping" -> "hop", "falling" -> "fall", "hissing" -> "hiss",
      "failing" -> "fail", "filing" -> "file", "sized" -> "size",
      "happy" -> "happi", "sky" -> "sky",
      // step 2 + downstream
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc",
      "hesitanci" -> "hesit", "digitizer" -> "digit",
      "differentli" -> "differ", "vileli" -> "vile",
      "analogousli" -> "analog", "vietnamization" -> "vietnam",
      "predication" -> "predic", "operator" -> "oper",
      "feudalism" -> "feudal", "decisiveness" -> "decis",
      "hopefulness" -> "hope", "callousness" -> "callous",
      "formaliti" -> "formal", "sensitiviti" -> "sensit",
      "sensibiliti" -> "sensibl",
      // step 3
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal",
      // step 4
      "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "replacement" -> "replac", "adjustment" -> "adjust",
      "adoption" -> "adopt", "communism" -> "commun",
      "activate" -> "activ", "effective" -> "effect",
      // step 5
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controlling" -> "control", "rolling" -> "roll")
    vectors.foreach { case (in, want) =>
      assert(stem(in) == want, s"stem($in) = ${stem(in)}, want $want")
    }
    // scope contract: digits and short tokens pass through unchanged
    assert(stem("42") == "42" && stem("abc123") == "abc123")
    assert(stem("a") == "a" && stem("tv") == "tv" && stem("is") == "is")
  }

  test("Porter column stage equals the query-side string mirror (property)") {
    val cfg = AnalyzerConfig(porter = true)
    val suffixed = for {
      w <- word
      suf <- Gen.oneOf("", "s", "es", "ies", "ed", "ing", "ational",
        "iveness", "ement", "ion", "e", "y", "ll")
    } yield w + suf
    forAll(Gen.listOf(suffixed).map(_.mkString(" "))) { s =>
      val viaColumns = tokensWith(s, cfg)
      val viaStrings = tokensOf(s).map(cfg.porterString)
      assert(viaColumns == viaStrings, s"input: '$s'")
    }
    // the two stemmers are mutually exclusive in one config
    intercept[IllegalArgumentException] {
      AnalyzerConfig(sStem = true, porter = true)
    }
    // persistence round-trip; pre-porter strings parse with the stage off
    assert(AnalyzerConfig.parse(cfg.describe) == cfg)
    assert(!AnalyzerConfig.parse(
      "v2;stop=;sstem=false;min=1;cjk=false;nfc=false;fold=false").porter)
  }

  test("porter oracle map: pinned stems cover the whole fixture vocabulary") {
    import graft.ext.PorterStemmer.stem
    // q_fts_analyzer_porter's DuckDB oracle replays the stemmer as a
    // pinned word→stem CASE over the fixtures' CLOSED vocabulary; this
    // test is what makes that replay exact — every distinct corpus token
    // must stem to what the oracle's map says (identity when unmapped)
    val pinned = Map("customer" -> "custom", "key" -> "kei",
      "merge" -> "merg", "query" -> "queri", "table" -> "tabl",
      "value" -> "valu")
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val vocab = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(Analyzer.tokenize(col("text"))).as("w"))
        .distinct().collect().map(_.getString(0))
      assert(vocab.nonEmpty)
      vocab.foreach { w =>
        assert(stem(w) == pinned.getOrElse(w, w),
          s"oracle map stale for '$w': stem=${stem(w)}, " +
            s"map=${pinned.getOrElse(w, w)} ($dir)")
      }
    }
  }

  test("CJK bigrams: runs segment to bigrams, Latin stays word tokens") {
    import graft.ext.FtsTokenizeCjk.tokenizeString
    assert(tokenizeString("東京都") == Seq("東京", "京都"))
    assert(tokenizeString("spark東京query") == Seq("spark", "東京", "query"))
    assert(tokenizeString("spark 中 query") == Seq("spark", "中", "query"))
    assert(tokenizeString("한국어") == Seq("한국", "국어"))
    assert(tokenizeString("Hello, WORLD 42") == Seq("hello", "world", "42"))
    assert(tokenizeString("") == Seq.empty)
    // column kernel agrees with the string mirror
    val cfg = AnalyzerConfig(cjkBigrams = true)
    assert(tokensWith("東京都に住む spark", cfg)
      == tokenizeString("東京都に住む spark"))
    // query tokenization rides the same kernel
    assert(cfg.tokenizeQuery("東京都") == Seq("東京", "京都"))
  }

  test("analyzer config persists with the index and normalizes queries") {
    val cfg = AnalyzerConfig(stopWords = Seq("the", "a"), sStem = true,
      minTokenLen = 2)
    val dir = graft.core.Scratch.dir("analyzer_cfg_spec")
    Index.writeAnalyzerConfig(spark, dir, cfg)
    val back = Index.readAnalyzerConfig(spark, dir)
    assert(back == cfg)
    assert(back.normalizeTerms(Seq("the", "queries", "window", "a"))
      == Seq("query", "window"))
  }

  test("stemmed phrase and near serve from a positional analyzer index") {
    import spark.implicits._
    val docs = Seq(
      (1L, "run the queries against the window manager"), // query,against,window,… → NOT adjacent
      (2L, "query the window opens fast"),                 // the vanishes → query,window ADJACENT
      (3L, "windows query everything"),                    // window BEFORE query → phrase no, near yes
      (4L, "nothing relevant here at all"),
      (5L, "many queries windows later"))                  // queries windows → query,window adjacent
    val tbl = graft.core.Scratch.dir("anp_spec_table")
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(tbl)
    val ixDir = graft.core.Scratch.dir("anp_spec_index")
    graft.fts.IndexCatalog.clear()
    try {
      Index.createIndex(spark, tbl, ixDir, positional = true,
        analyzer = AnalyzerConfig(stopWords = Seq("the"), sStem = true,
          minTokenLen = 2))
      spark.read.parquet(tbl).createOrReplaceTempView("anp_docs")
      // phrase in ANALYZED space: 'the queries window' → [query, window]
      val phrase = spark.sql(
        """SELECT doc_id FROM anp_docs
           WHERE fts_phrase(text, 'the queries window') ORDER BY doc_id""")
      assert(phrase.collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
      // and it is the position-list plan: no text re-read, no corpus scan
      val plan = phrase.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!plan.contains("fts_tokenize"), s"must not re-tokenize text:\n$plan")
      assert(!plan.contains("anp_spec_table"), s"must answer index-only:\n$plan")
      // near with stemmed operands: 'queries'~'windows' within 2 — doc 3's
      // reversed order is within slop, doc 1's gap (query against window)
      // too after 'the' vanishes (analyzed distance 2)
      val near = spark.sql(
        """SELECT doc_id FROM anp_docs
           WHERE fts_near(text, 'queries', 'windows', 2) ORDER BY doc_id""")
      assert(near.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 5L))
      // an operand the analyzer drops (stopword) can never match
      val dropped = spark.sql(
        """SELECT doc_id FROM anp_docs
           WHERE fts_near(text, 'the', 'window', 3)""")
      assert(dropped.collect().isEmpty)
    } finally graft.fts.IndexCatalog.clear()
  }

  test("shingles: count and guard for short docs") {
    import spark.implicits._
    def sh(toks: Seq[String], n: Int): Seq[String] =
      Seq(toks).toDF("t").select(Analyzer.shingles(col("t"), n).as("s"))
        .collect()(0).getSeq[String](0)
    assert(sh(Seq("a", "b", "c", "d"), 3) == Seq("a b c", "b c d"))
    assert(sh(Seq("a", "b"), 3) == Seq.empty) // shorter than n → empty, not DESC sequence
    assert(sh(Seq("x", "x", "x", "x"), 2) == Seq("x x")) // distinct
  }
}
