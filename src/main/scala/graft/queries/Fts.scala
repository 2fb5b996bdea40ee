package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.fts.{Index, Search}
import scala.jdk.CollectionConverters._

/** Full-text query layer verification (SURVEY.md §7 — the layer the
  * reference fork intended but never shipped). DuckDB oracles re-derive the
  * same semantics from scratch with list functions over the same frozen
  * token grammar: lowercase, split [^a-z0-9]+, drop empties.
  */
object Fts extends QueryPack {

  /** DuckDB-side tokenizer — must stay in lockstep with Analyzer.tokenize. */
  private val DTOKS =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"

  /** Stage the documents fixture into a fresh landing dir and run it
    * through the foreachBatch delta-append ingest (IncrementalIndex),
    * wiping the previous run's delta log + checkpoint first (append-only:
    * stale deltas would double-count). Shared by the merge-on-read and
    * compaction lifecycle queries. */
  private def ingestDocs(s: org.apache.spark.sql.SparkSession, dir: String,
                         landing: String, deltaDir: String,
                         positional: Boolean = false,
                         analyzer: graft.fts.AnalyzerConfig =
                           graft.fts.AnalyzerConfig()): Unit = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    val fs = new org.apache.hadoop.fs.Path(deltaDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(deltaDir, landing).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    val streamDir = java.nio.file.Paths.get(landing)
    java.nio.file.Files.createDirectories(streamDir)
    // the fixture ships documents.parquet as one FILE; a Spark-written
    // corpus (e.g. the ScaleCorpus ×N replicas) is a DIRECTORY of part
    // files — stage whichever shape this dir has (part files land flat in
    // the landing dir; the file stream globs *.parquet either way)
    val src = java.nio.file.Paths.get(path)
    val parts =
      if (java.nio.file.Files.isDirectory(src))
        // Using closes the directory stream (Files.list holds an fd open)
        scala.util.Using.resource(java.nio.file.Files.list(src)) { st =>
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        }
      else Seq(src)
    require(parts.nonEmpty, s"no parquet files to stage under $path")
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p, streamDir.resolve(f"documents_$i%05d.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val docsStream = s.readStream.schema(schema).parquet(streamDir.toString)
    graft.fts.IncrementalIndex.start(docsStream, deltaDir,
      positional = positional, analyzer = analyzer)
      .awaitTermination()
  }

  /** The persisted serving layout for `dir`'s documents corpus, built ONCE
    * per (JVM, corpus dir) and read back partition-pruned thereafter — the
    * shape a serving stack actually runs (index maintained out-of-band,
    * queries touch only their terms' buckets). Re-ranking/debug queries
    * (decay, explain) serve through this instead of rebuilding corpus
    * postings per query: their data-bound cost is then the pruned bucket
    * read + candidate-sized algebra, not an O(corpus) aggregation. Keyed by
    * the corpus dir (md5) so sf0.001/sf0.01/scale corpora never collide;
    * `stats` is written last by [[Index.write]], so its presence marks a
    * complete layout. Synchronized: ScalaTest suites can drive queries
    * concurrently in one JVM. */
  private def servedIndex(s: org.apache.spark.sql.SparkSession,
                          dir: String): graft.fts.FtsIndex =
    Index.read(s, graft.core.Scratch.layoutOnce(dir, "fts_serving", "stats") { out =>
      Index.write(Index.build(Tables(s, dir, "documents")), out)
    })

  /** BM25(k1=1.2, b=0.75) over ('spark','query'), reimplemented from scratch
    * in DuckDB over an arbitrary source relation (so the tombstone query can
    * score the corpus minus its deleted docs). */
  private[queries] def bm25OracleOver(src: String): String =
    s"""WITH toks AS (
         SELECT doc_id, unnest($DTOKS) AS term FROM $src),
       tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
       dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
       stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
       df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
              WHERE term IN ('spark', 'query') GROUP BY term),
       sc AS (
         SELECT tf.doc_id,
           sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
         FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
         GROUP BY tf.doc_id)
       SELECT doc_id, round(s, 4) AS score FROM sc
       ORDER BY round(s, 4) DESC, doc_id LIMIT 10"""

  /** The shared fixture-table instantiation of [[bm25OracleOver]]. */
  private[queries] val bm25Oracle: String = bm25OracleOver("documents")

  def queries: Seq[Q] = Seq(

    // Boolean AND over the inverted index (semi-join of postings).
    Q("q_fts_match",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Search.matchBoolean(docs, Index.build(docs), must = Seq("spark", "query"))
          .select("doc_id", "lang").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents)
               SELECT doc_id, lang FROM toks
               WHERE list_contains(t, 'spark') AND list_contains(t, 'query')
               ORDER BY doc_id""")),

    // must + mustNot (anti-join against the NOT terms' postings).
    Q("q_fts_match_not",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Search.matchBoolean(docs, Index.build(docs),
            must = Seq("vector"), mustNot = Seq("slow", "batch"))
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'vector')
                 AND NOT list_contains(t, 'slow') AND NOT list_contains(t, 'batch')
               ORDER BY doc_id""")),

    // Phrase: index candidates, then token-sequence containment verify.
    Q("q_fts_phrase",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Search.matchPhrase(docs, Index.build(docs), Seq("data", "query"))
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
               ORDER BY doc_id""")),

    // Phrase again, but POSITIONAL: adjacency intersection over position
    // lists from Index.build(positional = true) — candidate text is never re-read.
    // Same rows as q_fts_phrase, same oracle.
    Q("q_fts_phrase_pos",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"), positional = true)
        Search.matchPhrasePositional(ix, Seq("data", "query")).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
               ORDER BY doc_id""")),

    // fts_phrase_slop on the SQL surface over a registered POSITIONAL
    // index: 'data query' in order within 3 extra tokens — strictly wider
    // than the exact phrase (q_fts_sql_phrase_pos rows are a subset),
    // strictly narrower than unordered NEAR. Lowers to the pure postings
    // plan (SlopConj → Search.matchPhraseSloppy semi-join); text is never
    // re-tokenized — asserted by PlanShapeSpec.
    Q("q_fts_sql_slop",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixsl")
        s.sql("""SELECT doc_id FROM documents_ixsl
                 WHERE fts_phrase_slop(text, 'data query', 3)
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(list_filter(pa, p ->
                       len(list_filter(pb, q -> q > p AND q - p <= 4)) > 0)) > 0
               ORDER BY doc_id""")),

    // NEAR/slop proximity over positional postings: 'data' within 3 tokens
    // of 'query', either order — strictly wider than the adjacent phrase
    // (q_fts_phrase rows are a subset). Oracle recomputes per-term position
    // lists and the same pairwise window check; 1-based vs 0-based offsets
    // cancel in the difference.
    Q("q_fts_near",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"), positional = true)
        Search.matchNear(ix, "data", "query", slop = 3).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(pa) > 0 AND len(pb) > 0
                 AND len(list_filter(pa, p ->
                       len(list_filter(pb, q -> abs(p - q) <= 3)) > 0)) > 0
               ORDER BY doc_id""")),

    // SLOPPY phrase over positional postings: 'data query join' in ORDER
    // with at most 3 extra tokens interleaved (span ≤ 5) — Lucene's
    // "a b c"~k restricted to ordered matches. The 3-term chain exercises
    // the (pos, start) fold beyond what the pairwise NEAR can express:
    // the middle term must sit strictly between the ends. Oracle replays
    // the same increasing-chain window over per-term position lists.
    Q("q_fts_phrase_slop",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"), positional = true)
        Search.matchPhraseSloppy(ix, Seq("data", "query", "join"), slop = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'join'] AS pc
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(list_filter(pa, p ->
                       len(list_filter(pb, q -> q > p AND
                         len(list_filter(pc, r -> r > q AND r - p <= 5)) > 0)) > 0)) > 0
               ORDER BY doc_id""")),

    // BM25(k1=1.2, b=0.75) top-10; ranking on the rounded score.
    Q("q_fts_bm25",
      (s, dir) => Search.bm25TopK(Tables(s, dir, "documents"),
        Seq("spark", "query"), k = 10),
      Some(bm25Oracle)),

    // Index INTROSPECTION (Lucene segment-info/CheckIndex surface):
    // vocabulary size, posting count, token count, docs, avgdl — the
    // numbers an operator reads before trusting an index. Oracle
    // re-derives all five from the raw corpus.
    Q("q_fts_describe",
      (s, dir) => Search.describe(
        Index.build(Tables(s, dir, "documents"))),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1)
               SELECT count(DISTINCT tf.term) AS n_terms,
                 count(*) AS n_postings,
                 CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                 (SELECT count(*) FROM dl) AS n_docs,
                 (SELECT round(avg(dl), 4) FROM dl) AS avgdl
               FROM tf""")),

    // SYNONYM search, boolean: query 'fast lookup' where 'lookup' never
    // occurs in the corpus — it matches entirely through its synonym
    // group {scan, query} (Lucene SynonymQuery in a MUST clause); 'fast'
    // carries an absent synonym 'quick' that contributes nothing. Each
    // group is one pruned any-terms postings filter; groups meet in
    // id-set joins.
    Q("q_fts_synonyms",
      (s, dir) => Search.matchSynonymIds(
          Index.build(Tables(s, dir, "documents")),
          Seq("fast", "lookup"),
          Map("fast" -> Seq("quick"), "lookup" -> Seq("scan", "query")))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE (list_contains(t, 'fast') OR list_contains(t, 'quick'))
                 AND (list_contains(t, 'lookup') OR list_contains(t, 'scan')
                      OR list_contains(t, 'query'))
               ORDER BY doc_id""")),

    // SYNONYM search, RANKED: the blended-statistics BM25 — each group
    // scores as ONE pseudo-term (member tfs SUM per doc, df = docs
    // containing any member), so a doc full of 'scan' and a doc full of
    // 'query' rank comparably for 'lookup' instead of double-counting
    // idf. Oracle re-derives the blended tf/df and the formula.
    Q("q_fts_synonyms_bm25",
      (s, dir) => Search.scoreSynonymsBm25(
        Index.build(Tables(s, dir, "documents")),
        Seq("fast", "lookup"),
        Map("fast" -> Seq("quick"), "lookup" -> Seq("scan", "query")),
        k = 10),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf0 AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                       FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               grp AS (SELECT * FROM (VALUES ('fast', 0), ('quick', 0),
                         ('lookup', 1), ('scan', 1), ('query', 1)) m(term, g)),
               gtf AS (SELECT g, doc_id, sum(tf) AS tf
                       FROM tf0 JOIN grp USING(term) GROUP BY 1, 2),
               gdf AS (SELECT g, count(DISTINCT doc_id)::DOUBLE AS df
                       FROM gtf GROUP BY 1),
               sc AS (SELECT gtf.doc_id,
                        sum( ln((stats.n - gdf.df + 0.5)/(gdf.df + 0.5) + 1.0) *
                             gtf.tf*2.2/(gtf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM gtf JOIN gdf USING(g) JOIN dl USING(doc_id) CROSS JOIN stats
                      GROUP BY gtf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // MORE-LIKE-THIS (Lucene's find-similar-documents): doc 7's terms
    // rank by tf·ln(N/df) against the corpus (ROUNDED — a libm-ln ulp
    // must not flip term selection; tie-break on the term), the top 5
    // become a BM25 query, and doc 7 is excluded from its own results.
    // The oracle replays term selection AND the BM25 serving end-to-end.
    Q("q_fts_mlt",
      (s, dir) => Search.moreLikeThis(
        Index.build(Tables(s, dir, "documents")), docId = 7L, k = 10),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               dfall AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
               top AS (SELECT tf.term FROM tf JOIN dfall USING(term) CROSS JOIN stats
                       WHERE tf.doc_id = 7
                       ORDER BY round(tf.tf * ln(stats.n / dfall.df), 4) DESC, tf.term
                       LIMIT 5),
               df AS (SELECT term, df FROM dfall
                      WHERE term IN (SELECT term FROM top)),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                      GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc WHERE doc_id <> 7
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // BM25F — weighted multi-field ranking (text w=1, source w=3): field
    // tfs scale BEFORE saturation (the Zaragoza simple-BM25F, not a
    // weighted sum of per-field scores), idf counts a doc once per term
    // in any field. 'src3' only ever appears in the source field, so the
    // field weighting is provably live in the ranking.
    Q("q_fts_bm25f",
      (s, dir) => Search.scoreBm25(
        graft.fts.Index.buildFielded(Tables(s, dir, "documents"),
          Seq("text" -> 1.0, "source" -> 3.0)),
        Seq("spark", "src3"), k = 10),
      Some(s"""WITH occ AS (
                 SELECT doc_id, unnest($DTOKS) AS term, 1.0 AS w FROM documents
                 UNION ALL
                 SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(source),
                     '[^a-z0-9]+'), t -> len(t) > 0)) AS term, 3.0 AS w
                 FROM documents),
               tf AS (SELECT doc_id, term, sum(w)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'src3') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // TYPO-TOLERANT search: 'querry' (an insertion away from 'query')
    // expands over the term DICTIONARY — length-banded, then exact
    // levenshtein — and the matched terms drive the ordinary postings
    // union; the corpus side never sees the distance function. The
    // oracle replays dictionary + distance + union with DuckDB's own
    // levenshtein, hash exact.
    Q("q_fts_fuzzy",
      (s, dir) => {
        // the dictionary expansion references the postings TWICE in one
        // plan (dict side + join side) — over an ephemeral index the
        // corpus would tokenize twice per query. Serve from the persisted
        // layout (same postings content, pruned parquet reads).
        Search.matchFuzzyIds(servedIndex(s, dir), "querry").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               dict AS (SELECT DISTINCT term FROM toks),
               hits AS (SELECT term FROM dict
                        WHERE abs(len(term) - 6) <= 1
                          AND levenshtein(term, 'querry') <= 1)
               SELECT DISTINCT doc_id FROM toks JOIN hits USING (term)
               ORDER BY doc_id""")),

    // ANALYZER × SYNONYM × FUZZY composition (Search.matchCompoundIds) —
    // pins the documented ordering: analyzer FIRST (stop → stem → min-len),
    // synonyms POST-stem (map keys and members are themselves analyzed),
    // fuzzy AFTER analysis against the ANALYZED dictionary. Every ordering
    // fact is observable in the row set:
    //  - 'the' is stopped → contributes no MUST group (else 0 rows);
    //  - 'querries~1' stems to 'querry' BEFORE the edit-distance expansion
    //    (raw 'querries' is 3 edits from 'query' → pre-stem fuzzy = 0 rows);
    //  - query term 'lookup' meets raw synonym key 'lookups' and raw member
    //    'scans' only because both sides of the map analyze to
    //    'lookup'→'scan' (un-analyzed map = 0 rows: 'lookup' is not in the
    //    corpus and 'scans' is not a corpus term).
    // Oracle replays pipeline → map compile → expansion → MUST-intersect.
    Q("q_fts_compose",
      (s, dir) => {
        val cfg = graft.fts.AnalyzerConfig(
          stopWords = Seq("the"), sStem = true, minTokenLen = 2)
        val ix = Index.build(Tables(s, dir, "documents"), analyzer = cfg)
        Search.matchCompoundIds(ix, cfg,
          Seq("the", "querries~1", "lookup"),
          Map("lookups" -> Seq("scans"))).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter($DTOKS, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM documents),
               tk AS (SELECT doc_id, unnest(t) AS term FROM toks),
               dict AS (SELECT DISTINCT term FROM tk),
               fz AS (SELECT term FROM dict
                      WHERE abs(len(term) - 6) <= 1
                        AND levenshtein(term, 'querry') <= 1),
               g1 AS (SELECT DISTINCT doc_id FROM tk JOIN fz USING (term)),
               g2 AS (SELECT DISTINCT doc_id FROM tk
                      WHERE term IN ('lookup', 'scan'))
               SELECT doc_id FROM g1 JOIN g2 USING (doc_id)
               ORDER BY doc_id""")),

    // HIGHLIGHTING: for every doc matching ANY of ('spark','query'), the
    // best 8-token window — anchored at a query-term hit, containing the
    // most query-term occurrences, earliest on ties — as a normalized
    // snippet (Search.highlight; Lucene highlighter semantics pinned
    // deterministically). Oracle replays anchor enumeration, window
    // counting, and the slice.
    Q("q_fts_highlight",
      (s, dir) => Search.highlight(Tables(s, dir, "documents"),
          Seq("spark", "query"), window = 8)
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               hits AS (SELECT doc_id,
                          unnest([i FOR i IN range(1, len(t)+1)
                                  IF t[i] IN ('spark','query')]) AS p
                        FROM toks),
               cnt AS (SELECT a.doc_id, a.p, count(*) AS n_hits
                       FROM hits a JOIN hits b ON a.doc_id = b.doc_id
                         AND b.p BETWEEN a.p AND a.p + 7
                       GROUP BY 1, 2),
               best AS (SELECT doc_id, p, n_hits,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, p) AS rk
                        FROM cnt)
               SELECT b.doc_id,
                 array_to_string(t[b.p:b.p+7], ' ') AS snippet, b.n_hits
               FROM best b JOIN toks USING (doc_id) WHERE rk = 1
               ORDER BY doc_id""")),

    // DID-YOU-MEAN (Search.suggest, Lucene DirectSpellChecker ranking):
    // dictionary candidates within 2 edits ranked (distance ASC, df DESC,
    // term ASC), top 3 per misspelling; two misspellings unioned. The
    // expansion runs over the length-banded term dictionary, df over the
    // pruned postings — never a corpus scan per suggestion.
    Q("q_fts_suggest",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"))
        Search.suggest(ix, "qurey").unionByName(Search.suggest(ix, "streem"))
          .orderBy("term", "dist", "suggestion")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               dt AS (SELECT DISTINCT doc_id, term FROM toks),
               dict AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
               q(term) AS (VALUES ('qurey'), ('streem')),
               cand AS (SELECT q.term, d.term AS suggestion,
                          CAST(levenshtein(d.term, q.term) AS INTEGER) AS dist,
                          d.df,
                          row_number() OVER (PARTITION BY q.term
                            ORDER BY levenshtein(d.term, q.term), d.df DESC,
                                     d.term) AS rk
                        FROM dict d CROSS JOIN q
                        WHERE abs(len(d.term) - len(q.term)) <= 2
                          AND levenshtein(d.term, q.term) <= 2
                          AND d.term <> q.term)
               SELECT term, suggestion, dist, df FROM cand WHERE rk <= 3
               ORDER BY term, dist, suggestion""")),

    // TF-IDF (reference IDF semantics: ln((N+1)/(df+1)), length-normalized tf).
    Q("q_fts_tfidf",
      (s, dir) => Search.tfidfTopK(Tables(s, dir, "documents"),
        Seq("merge", "window"), k = 10),
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('merge', 'window') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( (tf.tf/dl.dl) * ln((stats.n + 1.0)/(df.df + 1.0)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 6) AS score FROM sc
               ORDER BY round(s, 6) DESC, doc_id LIMIT 10""")),

    // The SQL surface: fts_match through the injected function + optimizer
    // rule (native FtsTokenize expression with codegen underneath).
    Q("q_fts_sql",
      (s, dir) => {
        // this query exists to exercise the SCAN lowering — drop any index
        // registration left by q_fts_sql_indexed/_any (registry order is
        // arbitrary), else the rewrite would take the semi-join path and
        // the scan fallback would silently lose its only coverage
        graft.fts.IndexCatalog.clear()
        Tables(s, dir, "documents").createOrReplaceTempView("documents_fts")
        s.sql("""SELECT doc_id, size(fts_tokenize(text)) AS n_toks
                 FROM documents_fts WHERE fts_match(text, 'spark query')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id, len(t) AS n_toks FROM toks
               WHERE list_contains(t, 'spark') AND list_contains(t, 'query')
               ORDER BY doc_id""")),

    // The SQL surface AGAIN, but index-backed: the table is registered in
    // IndexCatalog, so RewriteFtsMatch lowers fts_match to a left-semi join
    // against the persisted bucketed postings (partition-pruned to the query
    // terms' buckets) instead of re-tokenizing the corpus. Same rows as
    // q_fts_match; `graft.Explain q_fts_sql_indexed` shows the pruned
    // postings scan + semi-join.
    Q("q_fts_sql_indexed",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixq")
        s.sql("""SELECT doc_id, lang FROM documents_ixq
                 WHERE fts_match(text, 'spark query')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents)
               SELECT doc_id, lang FROM toks
               WHERE list_contains(t, 'spark') AND list_contains(t, 'query')
               ORDER BY doc_id""")),

    // The ANALYZER's NFC STAGE end-to-end (AnalyzerConfig(nfc = true),
    // persisted as `nfc=true` in the config format): the corpus gains a
    // DECOMPOSED 'cafe'+U+0301 suffix. Without NFC the combining mark is
    // a delimiter and the index carries term 'cafe'; WITH the stage the
    // mark composes into é BEFORE the grammar splits, the indexed term
    // becomes 'caf', and the decomposed QUERY normalizes to the same
    // 'caf' through tokenizeQuery — index and query side agree through
    // the config, and the raw 'cafe' term matches NOTHING. Both counts
    // emitted; oracle replays nfc_normalize + grammar + containment.
    Q("q_fts_analyzer_nfc",
      (s, dir) => {
        val cfg = graft.fts.AnalyzerConfig(nfc = true)
        val docs2 = Tables(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" cafe\u0301")).as("text"))
        val ix = Index.build(docs2, analyzer = cfg)
        val hit = Search.matchAllIds(ix, cfg.tokenizeQuery("cafe\u0301"))
          .agg(count(lit(1)).as("n_composed"))
        val miss = Search.matchAllIds(ix, Seq("cafe"))
          .agg(count(lit(1)).as("n_raw_term"))
        hit.crossJoin(miss)
      },
      Some("""WITH t AS (SELECT doc_id,
                list_filter(string_split_regex(
                  lower(nfc_normalize(text || ' cafe' || chr(769))),
                  '[^a-z0-9]+'), x -> len(x) > 0) AS toks
              FROM documents)
              SELECT
                (SELECT count(*) FROM t WHERE list_contains(toks, 'caf'))
                  AS n_composed,
                (SELECT count(*) FROM t WHERE list_contains(toks, 'cafe'))
                  AS n_raw_term""")),

    // The ANALYZER's ACCENT-FOLDING stage (AnalyzerConfig(foldAccents =
    // true), Lucene ASCIIFoldingFilter's position in the chain, persisted
    // as `fold=true`): the corpus gains precomposed 'café niño'. Folding
    // runs BEFORE the grammar split (an accented letter is a non-[a-z0-9]
    // byte that would split the token), so the index carries 'cafe'/'nino'
    // and the UPPERCASE ACCENTED query 'CAFÉ nino' normalizes to the same
    // terms through tokenizeQuery — while the raw accented term matches
    // NOTHING. Oracle replays DuckDB strip_accents (same utf8proc
    // semantics as the kernel's NFD→drop-Mn→NFC, parity probed) + grammar.
    Q("q_fts_analyzer_fold",
      (s, dir) => {
        val cfg = graft.fts.AnalyzerConfig(foldAccents = true)
        val docs2 = Tables(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" café niño")).as("text"))
        val ix = Index.build(docs2, analyzer = cfg)
        val hit = Search.matchAllIds(ix,
            cfg.tokenizeQuery("CAFÉ niño"))
          .agg(count(lit(1)).as("n_folded"))
        val miss = Search.matchAllIds(ix, Seq("café"))
          .agg(count(lit(1)).as("n_accented_term"))
        hit.crossJoin(miss)
      },
      Some("""WITH t AS (SELECT doc_id,
                list_filter(string_split_regex(
                  lower(strip_accents(
                    text || ' caf' || chr(233) || ' ni' || chr(241) || 'o')),
                  '[^a-z0-9]+'), x -> len(x) > 0) AS toks
              FROM documents)
              SELECT
                (SELECT count(*) FROM t WHERE list_contains(toks, 'cafe')
                   AND list_contains(toks, 'nino')) AS n_folded,
                (SELECT count(*) FROM t
                   WHERE list_contains(toks, 'caf' || chr(233)))
                  AS n_accented_term""")),

    // PORTER STEMMING in the analyzer chain (Lucene's PorterStemFilter
    // slot; the full 1980 algorithm as a native array kernel, canonical
    // vectors pinned in AnalyzerSpec). The raw query "Merged tables
    // query" reaches the index as ('merg','tabl','queri') — morphology
    // the light S-stemmer cannot fold ('merged'→'merg' meets the corpus
    // term 'merge' in stem space). The oracle replays the stemmer over
    // the CLOSED fixture vocabulary as a pinned word→stem map; the map's
    // agreement with the algorithm over the whole corpus vocabulary is
    // itself asserted in AnalyzerSpec (porter oracle map test), so the
    // replay is exact by construction.
    Q("q_fts_analyzer_porter",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cfg = graft.fts.AnalyzerConfig(porter = true)
        val ix = Index.build(docs, analyzer = cfg)
        Search.matchAllIds(ix, cfg.tokenizeQuery("Merged tables query"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               tk AS (SELECT doc_id, unnest(t) AS w FROM toks),
               st AS (SELECT doc_id, CASE w
                        WHEN 'customer' THEN 'custom' WHEN 'key' THEN 'kei'
                        WHEN 'merge' THEN 'merg' WHEN 'query' THEN 'queri'
                        WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu'
                        ELSE w END AS term
                      FROM tk)
               SELECT doc_id FROM st GROUP BY doc_id
               HAVING bool_or(term = 'merg') AND bool_or(term = 'tabl')
                  AND bool_or(term = 'queri')
               ORDER BY doc_id""")),

    // FACETED SEARCH — the result-page sidebar every search UI renders
    // (counts per facet value over the match set): fts_match lowers to
    // the pruned postings semi-join and the facet aggregation runs over
    // the surviving (doc_id, lang, source) rows — the match never
    // re-tokenizes, the facet columns come from the corpus row, and the
    // GROUP BY is matched-set-sized, not corpus-sized. Two facet
    // dimensions in one GROUPING SETS pass (Lucene's per-field facet
    // counts, here one Expand over the semi-joined rows).
    Q("q_fts_facets",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_facets"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_fct")
        s.sql("""SELECT lang, source, count(*) AS n
                 FROM documents_fct
                 WHERE fts_match(text, 'spark query')
                 GROUP BY GROUPING SETS ((lang), (source))
                 ORDER BY lang NULLS LAST, source NULLS LAST""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, source, $DTOKS AS t
                             FROM documents),
               m AS (SELECT lang, source FROM toks
                     WHERE list_contains(t, 'spark')
                       AND list_contains(t, 'query'))
               SELECT lang, source, count(*) AS n FROM m
               GROUP BY GROUPING SETS ((lang), (source))
               ORDER BY lang NULLS LAST, source NULLS LAST""")),

    // Phrase through the SQL surface over the SAME registered table: the
    // rewrite lowers fts_phrase to the all-terms postings semi-join (cheap
    // candidates, partition-pruned) plus a token-canonical containment
    // RESIDUAL — same rows as q_fts_phrase, same oracle.
    Q("q_fts_sql_phrase",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixp")
        s.sql("""SELECT doc_id FROM documents_ixp
                 WHERE fts_phrase(text, 'data query')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
               ORDER BY doc_id""")),

    // RANKED retrieval on the SQL surface: fts_score lowers (for the
    // registered table) to a left-outer join against the per-doc BM25
    // scoring subplan over partition-pruned postings, and ORDER BY score
    // LIMIT 10 plans as TakeOrderedAndProject. fts_match_any over the same
    // terms keeps docs with >=1 query term — exactly the set the scoring
    // subplan (and the oracle) scores, so it adds no semi-join — and rows
    // must equal q_fts_bm25's.
    Q("q_fts_sql_bm25",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixsc")
        s.sql("""SELECT doc_id, round(fts_score(text, 'spark query'), 4) AS score
                 FROM documents_ixsc
                 WHERE fts_match_any(text, 'spark query')
                 ORDER BY score DESC, doc_id LIMIT 10""")
      },
      Some(bm25Oracle)),

    // The NON-covered control for index-only ranked retrieval: projecting
    // a corpus column (lang) genuinely needs the document row, so the
    // scoring join against the table must SURVIVE (plan-asserted) while
    // q_fts_sql_bm25's id+score-only shape drops the corpus scan entirely.
    Q("q_fts_sql_bm25_cols",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixsc2")
        s.sql("""SELECT doc_id, lang, round(fts_score(text, 'spark query'), 4) AS score
                 FROM documents_ixsc2
                 WHERE fts_match_any(text, 'spark query')
                 ORDER BY score DESC, doc_id LIMIT 10""")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT d.doc_id, d.lang, round(sc.s, 4) AS score
               FROM sc JOIN documents d USING(doc_id)
               ORDER BY round(sc.s, 4) DESC, d.doc_id LIMIT 10""")),

    // Prefix search on the SQL surface: fts_prefix over the registered
    // index lowers to a term-RANGE semi-join against the sorted postings
    // (same plan as q_fts_prefix's library path; same oracle).
    Q("q_fts_sql_prefix",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixpre")
        s.sql("""SELECT doc_id FROM documents_ixpre
                 WHERE fts_prefix(text, 'quer')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x -> starts_with(x, 'quer'))) > 0
               ORDER BY doc_id""")),

    // Proximity search on the SQL surface over a POSITIONAL index:
    // fts_near lowers to the pure position-list plan (Search.matchNear) —
    // candidate text is never re-read. Same rows/oracle as q_fts_near.
    Q("q_fts_sql_near",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixnear")
        s.sql("""SELECT doc_id FROM documents_ixnear
                 WHERE fts_near(text, 'data', 'query', 3)
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(pa) > 0 AND len(pb) > 0
                 AND len(list_filter(pa, p ->
                       len(list_filter(pb, q -> abs(p - q) <= 3)) > 0)) > 0
               ORDER BY doc_id""")),

    // Phrase over the POSITIONAL index through SQL: the rewrite uses the
    // position-list adjacency plan instead of the containment residual —
    // the plan re-reads no text (asserted in PlanShapeSpec). Same rows as
    // q_fts_phrase.
    Q("q_fts_sql_phrase_pos",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixpp")
        s.sql("""SELECT doc_id FROM documents_ixpp
                 WHERE fts_phrase(text, 'data query')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
               ORDER BY doc_id""")),

    // BM25 again, but through the PERSISTED index layout (bucketed parquet
    // postings → partition-pruned slice) — results must be identical.
    Q("q_fts_bm25_persisted",
      (s, dir) => {
        // the build-once serving layout: the persisted layout is what is
        // being served; the build is provisioning, paid once per corpus.
        // Its postings record their bucket count, so scoring prunes itself
        graft.fts.Search.scoreBm25(servedIndex(s, dir), Seq("spark", "query"), k = 10)
      },
      Some(graft.queries.Fts.bm25Oracle)),

    // OR semantics through the SQL surface: fts_match_any over the SAME
    // registered table — index path semi-joins the ANY postings (distinct
    // doc ids, no per-doc term-count filter).
    Q("q_fts_sql_any",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixany")
        s.sql("""SELECT doc_id, lang FROM documents_ixany
                 WHERE fts_match_any(text, 'vector stream')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents)
               SELECT doc_id, lang FROM toks
               WHERE list_contains(t, 'vector') OR list_contains(t, 'stream')
               ORDER BY doc_id""")),

    // MINIMUM-SHOULD-MATCH through the SQL surface — Lucene
    // BooleanQuery.setMinimumNumberShouldMatch / ES minimum_should_match:
    // fts_match_min(text, terms, k) keeps docs containing >= k DISTINCT
    // query terms, strictly between OR (k=1) and AND (k=|terms|). Index
    // path = pruned-postings distinct-term count >= k (index-exact,
    // covering for id-only projections); the oracle counts distinct
    // containment via list_intersect (which dedups, same as the scan
    // path's array_intersect).
    Q("q_fts_sql_min",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixmin")
        s.sql("""SELECT doc_id, lang FROM documents_ixmin
                 WHERE fts_match_min(text, 'spark query vector slow', 2)
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents)
               SELECT doc_id, lang FROM toks
               WHERE len(list_intersect(t,
                 ['spark', 'query', 'vector', 'slow'])) >= 2
               ORDER BY doc_id""")),

    // Incremental index maintenance end-to-end: documents stream in through
    // a foreachBatch delta-append sink (IncrementalIndex), and BM25 over the
    // merge-on-read view must equal BM25 over a from-scratch batch index —
    // the oracle recomputes from the raw table.
    Q("q_fts_incremental",
      (s, dir) => {
        val ixDir = graft.core.Scratch.dir("fts_index_incr")
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_ingest_stream"), ixDir)
        val ix = graft.fts.IncrementalIndex.read(s, ixDir)
        Search.scoreBm25(ix, Seq("spark", "query"), k = 10)
      },
      Some(bm25Oracle)),

    // The SOURCE-AGNOSTIC ingest claim made executable (SCALE.md's Kafka
    // design section): the SAME foreachBatch delta ingest that consumes
    // file streams here consumes a CUSTOM DSv2 streaming source — the
    // graft-synth MicroBatchStream standing in for a Kafka topic (offset
    // = rows emitted ≈ topic offset; rowsPerBatch = admission control;
    // Trigger.AvailableNow drains multi-batch, ≥ 2 delta partitions
    // REQUIREd in-query so a single-giant-batch degenerate fails loud).
    // The merged index then serves a boolean query whose oracle replays
    // the generator's closed-form token stream in DuckDB.
    Q("q_fts_incremental_synth",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_incr_synth")
        val fs = new org.apache.hadoop.fs.Path(deltaDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(deltaDir), true)
        val stream = s.readStream.format("graft-synth")
          .option("rows", 3000).option("partitions", 4)
          .option("rowsPerBatch", 700).load()
          .select("doc_id", "text")
        graft.fts.IncrementalIndex.start(stream, deltaDir).awaitTermination()
        val parts = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$deltaDir/postings_delta"))
          .count(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
        require(parts >= 2,
          s"synth ingest must land multiple micro-batch deltas, got $parts")
        val ix = graft.fts.IncrementalIndex.read(s, deltaDir)
        val must = Search.matchAllIds(ix, Seq("w3", "w7"))
        val not = Search.matchAnyIds(ix, Seq("w12")).withColumnRenamed("doc_id", "nid")
        must.join(not, must("doc_id") === not("nid"), "left_anti")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH docs AS (
                SELECT range AS doc_id,
                  ['w' || CAST((range + i) % 16 AS VARCHAR)
                   FOR i IN range(0, CAST(1 + range % 32 AS INT))] AS t
                FROM range(0, 3000))
              SELECT doc_id FROM docs
              WHERE list_contains(t, 'w3') AND list_contains(t, 'w7')
                AND NOT list_contains(t, 'w12')
              ORDER BY doc_id""")),

    // The rest of the incremental lifecycle: fold the delta log into the
    // canonical bucketed layout (compaction), read it back, and score
    // through the partition-pruned lookup — results must equal the
    // from-scratch batch index (same oracle). Depends on q_fts_incremental's
    // delta log only through its own fresh ingest here.
    Q("q_fts_compacted",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_compact_delta")
        val outDir = graft.core.Scratch.dir("fts_index_compacted")
        new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(outDir), true)
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_compact_stream"), deltaDir)
        graft.fts.IncrementalIndex.compact(s, deltaDir, outDir)
        Search.scoreBm25(graft.fts.Index.read(s, outDir), Seq("spark", "query"), k = 10)
      },
      Some(bm25Oracle)),

    // Compaction's OTHER output: catalog registration. compactAndRegister
    // folds the delta log into the bucketed layout AND registers it for the
    // ingested table, so plain SQL fts_match over that table serves through
    // the compacted postings' pruned semi-join (plan-asserted in
    // PlanShapeSpec) — the full streaming-ingest → compaction → SQL-serving
    // lifecycle with no manual registration step.
    Q("q_fts_compacted_sql",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_csql_delta")
        val outDir = graft.core.Scratch.dir("fts_index_csql_out")
        val landing = graft.core.Scratch.dir("docs_csql_stream")
        new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(outDir), true)
        ingestDocs(s, dir, landing, deltaDir)
        graft.fts.IncrementalIndex.compactAndRegister(s, deltaDir, outDir, landing)
        s.read.parquet(landing).createOrReplaceTempView("documents_csql")
        s.sql("""SELECT doc_id FROM documents_csql
                 WHERE fts_match(text, 'spark query')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'spark') AND list_contains(t, 'query')
               ORDER BY doc_id""")),

    // The OTHER half of the skew story (SURVEY §7 risk 6): when the hot
    // term is NOT capped out, serving still has to survive it. At
    // trillion-term vocabulary scale the collection-statistics table
    // cannot broadcast, so the postings⋈df join runs as a shuffle join
    // keyed by TERM — and a stopword's POSITIONAL postings concentrate
    // one partition not just in rows but in bytes (position lists scale
    // with tf; this is why Lucene's .pos files dwarf its .doc files).
    // The corpus is the fixture padded with a per-doc run of 'the'
    // (deterministic, replayed by the oracle), indexed positionally; the
    // query scores BM25 over ('the','data','dup') — three df tiers, so
    // the hot term's partition clears factor×median — plus the earliest
    // query-term position as a proximity-to-start feature (the reason
    // the position payload rides through the skewed join instead of
    // being pruned). AQE's OptimizeSkewedJoin must split the hot
    // partition at mapper granularity: the FTS twin of q_join_skew_aqe
    // (broadcast off, fixture-scale thresholds, round-robin repartition
    // standing in for a many-mapper cluster scan), plan-asserted in
    // PlanShapeSpec. The oracle recomputes scores and first positions
    // from the same padded text.
    Q("q_fts_skew_serving",
      (s0, dir) => {
        val s = s0.newSession()
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        val docs2 = Tables(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(" "),
            expr("repeat('the ', CAST(doc_id % 80 AS INT))")).as("text"))
        val terms = Seq("the", "data", "dup")
        val ix = Index.build(docs2, positional = true)
        val qp = ix.postings.filter(col("term").isin(terms: _*))
          .repartition(16)
        // collection statistics served from a PERSISTED dictionary: at
        // trillion-term scale df lives in a table, and — the AQE mechanics
        // half — OptimizeSkewedJoin only matches joins whose children are
        // bare Sort-over-shuffle, so a
        // stats side that aggregates AFTER its own shuffle can never be
        // skew-split; the persisted read plans scan → exchange → sort,
        // which can
        // built once per corpus dir: suites drive queries concurrently in
        // one JVM, and a fixed shared path could be overwritten by a
        // sibling invocation over another corpus between this eager write
        // and the lazy read of the returned plan
        val statsDir = graft.core.Scratch.layoutOnce(dir, "fts_skew_stats", "_SUCCESS") { d =>
          qp.groupBy("term")
            .agg(countDistinct(col("doc_id")).cast("double").as("df"))
            .write.mode("overwrite").parquet(d)
        }
        val df = s.read.parquet(statsDir)
        qp.hint("merge").join(df, "term")
          .join(ix.docLens, "doc_id")
          .crossJoin(broadcast(ix.stats))
          .withColumn("idf", log((col("n_docs").cast("double") - col("df")
            + 0.5) / (col("df") + 0.5) + 1.0))
          .withColumn("score_t", col("idf") * (col("tf").cast("double")
            * 2.2) / (col("tf").cast("double") +
              (col("dl").cast("double") / col("avgdl") * 0.75 + 0.25) * 1.2))
          .groupBy("doc_id").agg(sum(col("score_t")).as("s"),
            min(array_min(col("positions"))).cast("long").as("first_pos"))
          .select(col("doc_id"), round(col("s"), 4).as("score"),
            col("first_pos"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
      },
      Some("""WITH d2 AS (SELECT doc_id,
                  text || ' ' || repeat('the ', CAST(doc_id % 80 AS INT))
                    AS text FROM documents),
               toks AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    t -> len(t) > 0) AS t FROM d2),
               pos AS (SELECT doc_id, unnest([{'p': i - 1, 'term': t[i]}
                    FOR i IN range(1, len(t) + 1)], recursive := true)
                  FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf,
                        min(p) AS mp
                      FROM pos GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                         FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('the', 'data', 'dup') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s,
                        CAST(min(tf.mp) AS BIGINT) AS first_pos
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score, first_pos FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // Skew guard at index build (SURVEY §7 risk 6): terms in more than 78%
    // of documents are CAPPED out of the index — bounded per-term postings
    // by construction — and capped query terms are ignored (standard
    // stopword behavior). Here 'data' (df 395/500 at sf0.01) is capped,
    // 'vector' (382) survives, so the query degrades to "docs containing
    // vector". The oracle recomputes the same df band from scratch.
    Q("q_fts_skew",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val (ix, stop) = Index.buildWithDfCap(docs, maxDfFrac = 0.78)
        val eff = Search.effectiveTerms(Seq("data", "vector"), stop)
        Search.matchAllIds(ix, eff).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents),
               tdf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
                       GROUP BY term),
               q(term) AS (SELECT unnest(['data', 'vector'])),
               eff AS (SELECT q.term FROM q JOIN tdf USING(term) CROSS JOIN n
                       WHERE tdf.df <= floor(0.78 * n.n))
               SELECT doc_id FROM toks
               WHERE NOT EXISTS (SELECT 1 FROM eff WHERE NOT list_contains(t, eff.term))
                 AND (SELECT count(*) FROM eff) > 0
               ORDER BY doc_id""")),

    // DELETES in the streaming index lifecycle: tombstones append to the
    // delta log (merge-on-read DELETE — base postings stay immutable) and
    // every read/compaction anti-joins them, with corpus stats re-derived
    // from the survivors. BM25 over the tombstoned index must equal BM25
    // over a corpus that never contained the deleted docs.
    Q("q_fts_deleted",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_del_delta")
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_del_stream"), deltaDir)
        val evens = Tables(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0).select("doc_id")
        graft.fts.IncrementalIndex.delete(s, deltaDir, evens)
        val ix = graft.fts.IncrementalIndex.read(s, deltaDir)
        Search.scoreBm25(ix, Seq("spark", "query"), k = 10)
      },
      Some(bm25OracleOver(
        "(SELECT * FROM documents WHERE doc_id % 2 = 1) documents"))),

    // DELETE composed with the POSITIONAL + ANALYZER index: tombstones must
    // kill position lists too — a phrase query over the merge-on-read view
    // can never resurrect a deleted doc's adjacency — and surviving docs
    // keep ANALYZED phrase semantics: positions live in analyzed space, so
    // 'the data queries' normalizes to the adjacency ('data','query') and
    // matches even where a stopword sat between the words in the raw text.
    // Oracle: replay stopword/stem/min-length over the surviving half, then
    // the same adjacency containment.
    Q("q_fts_deleted_pos",
      (s, dir) => {
        val cfg = graft.fts.AnalyzerConfig(
          stopWords = Seq("the"), sStem = true, minTokenLen = 2)
        val deltaDir = graft.core.Scratch.dir("fts_index_delpos_delta")
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_delpos_stream"),
          deltaDir, positional = true, analyzer = cfg)
        val evens = Tables(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0).select("doc_id")
        graft.fts.IncrementalIndex.delete(s, deltaDir, evens)
        val ix = graft.fts.IncrementalIndex.read(s, deltaDir)
        Search.matchPhrasePositional(ix,
            cfg.tokenizeQuery("the data queries"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents
                             WHERE doc_id % 2 = 1),
               an AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter(t, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM toks)
               SELECT doc_id FROM an
               WHERE contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
               ORDER BY doc_id""")),

    // UPSERT completes the index CRUD: the doc's current version is
    // tombstoned as-of the latest batch and the replacement appends as a
    // NEW batch, so the versioned anti-join kills only the old rows — an
    // update costs one tombstone + one doc-sized append, never a rewrite.
    // BM25 over the upserted index must equal a corpus that always had the
    // new text.
    Q("q_fts_upsert",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_ups_delta")
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_ups_stream"), deltaDir)
        val updated = Tables(s, dir, "documents")
          .filter(col("doc_id") < 10)
          .withColumn("text", concat(col("text"), lit(" zzzupdated")))
        graft.fts.IncrementalIndex.upsert(s, deltaDir, updated)
        val ix = graft.fts.IncrementalIndex.read(s, deltaDir)
        Search.scoreBm25(ix, Seq("spark", "query"), k = 10)
      },
      Some(bm25OracleOver(
        """(SELECT doc_id,
              CASE WHEN doc_id < 10 THEN text || ' zzzupdated' ELSE text END AS text
            FROM documents) documents"""))),

    // TIME TRAVEL: after an upsert rewrites docs < 10, readAsOf(0) — the
    // pre-upsert ingest frontier — must score BM25 over the ORIGINAL
    // corpus, tombstones and replacement batch invisible (strictly-after
    // visibility; read() == readAsOf(∞) serves the upserted corpus, which
    // q_fts_upsert pins). The snapshot-isolation read a lake-format table
    // gives you, over the same partitioned delta log.
    Q("q_fts_time_travel",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_tt_delta")
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_tt_stream"), deltaDir)
        val updated = Tables(s, dir, "documents")
          .filter(col("doc_id") < 10)
          .withColumn("text", concat(col("text"), lit(" zzzupdated")))
        graft.fts.IncrementalIndex.upsert(s, deltaDir, updated)
        val atIngest = graft.fts.IncrementalIndex.readAsOf(s, deltaDir, 0L)
        Search.scoreBm25(atIngest, Seq("spark", "query"), k = 10)
      },
      Some(bm25Oracle)),

    // EPOCH management closes the delta-log lifecycle: compaction records a
    // watermark and physically truncates the folded partitions, so the log
    // is bounded by one epoch of deltas and a read never re-aggregates
    // history. Two full cycles here — ingest → compact → upsert (a
    // post-watermark delta whose tombstone kills the BASE version) →
    // compact again into a fresh base — and BM25 over the final epoch must
    // equal a corpus that always had the new text (same oracle as
    // q_fts_upsert).
    Q("q_fts_epochs",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_epoch_delta")
        val base1 = graft.core.Scratch.dir("fts_index_epoch_base1")
        val base2 = graft.core.Scratch.dir("fts_index_epoch_base2")
        val fs = new org.apache.hadoop.fs.Path(deltaDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        Seq(base1, base2).foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(d), true))
        ingestDocs(s, dir, graft.core.Scratch.dir("docs_epoch_stream"), deltaDir)
        graft.fts.IncrementalIndex.compact(s, deltaDir, base1)
        val updated = Tables(s, dir, "documents")
          .filter(col("doc_id") < 10)
          .withColumn("text", concat(col("text"), lit(" zzzupdated")))
        graft.fts.IncrementalIndex.upsert(s, deltaDir, updated)
        graft.fts.IncrementalIndex.compact(s, deltaDir, base2)
        Search.scoreBm25(graft.fts.Index.read(s, base2), Seq("spark", "query"), k = 10)
      },
      Some(bm25OracleOver(
        """(SELECT doc_id,
              CASE WHEN doc_id < 10 THEN text || ' zzzupdated' ELSE text END AS text
            FROM documents) documents"""))),

    // The positional half of the streaming lifecycle: ingest with position
    // capture → compact → register (positional detected from the delta
    // schema) → SQL fts_near serves from position lists over the COMPACTED
    // index — proximity search over a streaming-built index, no batch
    // rebuild anywhere. Same oracle as q_fts_near.
    Q("q_fts_compacted_near",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_cnear_delta")
        val outDir = graft.core.Scratch.dir("fts_index_cnear_out")
        val landing = graft.core.Scratch.dir("docs_cnear_stream")
        new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(outDir), true)
        ingestDocs(s, dir, landing, deltaDir, positional = true)
        graft.fts.IncrementalIndex.compactAndRegister(s, deltaDir, outDir, landing)
        s.read.parquet(landing).createOrReplaceTempView("documents_cnear")
        s.sql("""SELECT doc_id FROM documents_cnear
                 WHERE fts_near(text, 'data', 'query', 3)
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(pa) > 0 AND len(pb) > 0
                 AND len(list_filter(pa, p ->
                       len(list_filter(pb, q -> abs(p - q) <= 3)) > 0)) > 0
               ORDER BY doc_id""")),

    // DISJUNCTIONS through the index: every branch of the OR is exactly
    // answerable from the positional index (phrase via position lists,
    // match via postings), so the whole predicate lowers to ONE semi-join
    // against the union of the branch id sets — no scan lowering
    // (plan-asserted).
    Q("q_fts_sql_or",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixor")
        s.sql("""SELECT doc_id FROM documents_ixor
                 WHERE fts_phrase(text, 'data query') OR fts_match(text, 'vector')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
                  OR list_contains(t, 'vector')
               ORDER BY doc_id""")),

    // Suffix (leading-star) term query through the library: '*er' has no
    // literal head, so the suffix test reads the whole term column of the
    // postings (never the corpus). Oracle = tokens ending in 'er'.
    Q("q_fts_suffix",
      (s, dir) =>
        Search.matchWildcardIds(servedIndex(s, dir), "*er").orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x -> x LIKE '%er')) > 0
               ORDER BY doc_id""")),

    // Leading-star wildcard through SQL over a registered index: '*er'
    // expands against the index's term vocabulary on the driver, and the
    // postings scan reads only the matching terms' buckets — same rows as
    // q_fts_suffix, plan-asserted.
    Q("q_fts_sql_suffix",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixsuf")
        s.sql("""SELECT doc_id FROM documents_ixsuf
                 WHERE fts_wildcard(text, '*er')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x -> x LIKE '%er')) > 0
               ORDER BY doc_id""")),

    // Boolean must/mustNot through SQL: NOT fts_match_any lowers to a
    // LEFT-ANTI join on the any-term id set (the library's matchBoolean
    // mustNot), composed with the positive semi-join — same rows/oracle as
    // q_fts_match_not, no scan lowering anywhere (plan-asserted).
    Q("q_fts_sql_not",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixnot")
        s.sql("""SELECT doc_id FROM documents_ixnot
                 WHERE fts_match(text, 'vector')
                   AND NOT fts_match_any(text, 'slow batch')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'vector')
                 AND NOT list_contains(t, 'slow') AND NOT list_contains(t, 'batch')
               ORDER BY doc_id""")),

    // Single-star wildcard term query through SQL: 'c*er' expands against
    // the index's vocabulary, and the expanded terms' buckets are filtered
    // by the head range with the suffix + length guard (the single-star
    // shape matchWildcardIds also runs). Oracle mirrors the exact
    // semantics (LIKE + the non-overlap length guard).
    Q("q_fts_sql_wildcard",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixwc")
        s.sql("""SELECT doc_id FROM documents_ixwc
                 WHERE fts_wildcard(text, 'c*er')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x ->
                       x LIKE 'c%er' AND len(x) >= 3)) > 0
               ORDER BY doc_id""")),

    // GENERAL wildcard patterns — Lucene's full WildcardQuery: any number
    // of '*' plus '?' single-char wildcards ('c?st*er' → customer). The
    // index path pushes the literal head as a term RANGE (row-group
    // pruning) and runs a codegen'd LIKE over the PRUNED postings rows —
    // no dictionary shuffle, no corpus scan (covering, plan-asserted).
    // The single-star form keeps its LIKE-free range+suffix plan
    // (q_fts_sql_wildcard above).
    Q("q_fts_sql_pattern",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixpt")
        s.sql("""SELECT doc_id FROM documents_ixpt
                 WHERE fts_wildcard(text, 'c?st*er')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x -> x LIKE 'c_st%er')) > 0
               ORDER BY doc_id""")),

    // General patterns through the QUERY LANGUAGE: a word with '?' or
    // several '*'s is one pattern token ('v?lue AND s*r*am NOT qu?r?');
    // the prohibited pattern anti-joins its id set through the covering
    // classifier, so the whole id-only query stays index-only.
    Q("q_fts_query_pattern",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qpt")
        s.sql("""SELECT doc_id FROM documents_qpt
                 WHERE fts_query(text, 'v?lue AND s*r*am NOT qu?r?')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x -> x LIKE 'v_lue')) > 0
                 AND len(list_filter(t, x -> x LIKE 's%r%am')) > 0
                 AND NOT len(list_filter(t, x -> x LIKE 'qu_r_')) > 0
               ORDER BY doc_id""")),

    // REGEX TERMS in the query language — Lucene's RegexpQuery
    // (`/pattern/`, full-term match): the one Lucene query type that had
    // no counterpart here before round 12. `/quer[a-z]+/` carries the
    // anchored literal prefix 'quer', which pushes as a term RANGE into
    // the sorted postings (the wildcard machinery's row-group pruning)
    // with the codegen'd RLIKE as residual over the PRUNED rows; the
    // prohibited `/sl.w/` regex anti-joins its id set through the same
    // covering classifier (prefix 'sl'), so the id-only query never scans
    // the corpus — plan-asserted in PlanShapeSpec. The oracle replays
    // full-match semantics with regexp_full_match (patterns are
    // RE2-portable by contract).
    Q("q_fts_query_regex",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qrx")
        s.sql("""SELECT doc_id FROM documents_qrx
                 WHERE fts_query(text, 'vector AND /quer[a-z]+/ NOT /sl.w/')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'vector')
                 AND len(list_filter(t, x -> regexp_full_match(x, 'quer[a-z]+'))) > 0
                 AND NOT len(list_filter(t, x -> regexp_full_match(x, 'sl.w'))) > 0
               ORDER BY doc_id""")),

    // WILDCARD SLOTS INSIDE A QUOTED PHRASE — Lucene's MultiPhraseQuery
    // ('"d?ta quer*"'): each slot is an exact term or a pattern; a pattern
    // slot's position list is the UNION of the position lists of every
    // dictionary term matching it (head-range + LIKE over the postings,
    // the q_fts_sql_pattern machinery), then the same adjacency fold as
    // the exact positional phrase. Before round 10 the tokenizer silently
    // DROPPED the metacharacters ('"data quer*"' matched the literal
    // phrase "data quer"); now they mean pattern slots.
    Q("q_fts_query_phrase_wild",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qpw")
        s.sql("""SELECT doc_id FROM documents_qpw
                 WHERE fts_query(text, '"d?ta quer*" AND vector')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len([i FOR i IN range(1, len(t))
                          IF t[i] LIKE 'd_ta' AND t[i+1] LIKE 'quer%']) > 0
                 AND list_contains(t, 'vector')
               ORDER BY doc_id""")),

    // The QUERY-STRING language (QueryParser): one Lucene-style string —
    // `vector AND ("data query" OR quer*) NOT slow` — parsed at analysis
    // time into the fts_match/fts_phrase/fts_prefix tree glued with
    // And/Or/Not, each leaf taking its own index lowering over the
    // registered postings. The oracle replays the boolean algebra over
    // token-list predicates.
    Q("q_fts_query",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qstr")
        s.sql("""SELECT doc_id FROM documents_qstr
                 WHERE fts_query(text, 'vector AND ("data query" OR quer*) NOT slow')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'vector')
                 AND (contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
                      OR len(list_filter(t, x -> starts_with(x, 'quer'))) > 0)
                 AND NOT list_contains(t, 'slow')
               ORDER BY doc_id""")),

    // Query-string NEAR/k + implicit AND + punctuated-word normalization:
    // `data NEAR/3 query vector,stream` — NEAR lowers to the positional
    // plan, and the comma-joined word normalizes through the SAME frozen
    // v1 grammar as the indexer (two terms, implicit AND), so punctuation
    // in a query can never silently match zero rows.
    Q("q_fts_query_near",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qstr2")
        s.sql("""SELECT doc_id FROM documents_qstr2
                 WHERE fts_query(text, 'data NEAR/3 query vector,stream')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id, t,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(pa) > 0 AND len(pb) > 0
                 AND len(list_filter(pa, p ->
                       len(list_filter(pb, q -> abs(p - q) <= 3)) > 0)) > 0
                 AND list_contains(t, 'vector') AND list_contains(t, 'stream')
               ORDER BY doc_id""")),

    // Query-string SLOPPY PHRASE: `"data query"~2 AND spark` — the quoted
    // phrase with a `~k` suffix lowers to FtsPhraseSlop (ordered, ≤ 2
    // extra tokens interleaved) over the positional index; the bare term
    // stays an ordinary postings semi-join. Oracle replays the ordered
    // window over per-term position lists plus the containment conjunct.
    Q("q_fts_query_slop",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qsl")
        s.sql("""SELECT doc_id FROM documents_qsl
                 WHERE fts_query(text, '"data query"~2 AND spark')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id, t,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len(t) + 1) IF t[i] = 'query'] AS pb
               FROM toks)
               SELECT doc_id FROM pos
               WHERE len(list_filter(pa, p ->
                       len(list_filter(pb, q -> q > p AND q - p <= 3)) > 0)) > 0
                 AND list_contains(t, 'spark')
               ORDER BY doc_id""")),

    // Query-language FIELD SCOPING + required/prohibited operators:
    // `+spark query -slow source:(src1 OR src3)` — the `source:` scope
    // lowers its group over the `source` column's OWN registered index
    // (the multicol per-(table, column) machinery, resolved through an
    // UnresolvedAttribute the analyzer binds), `+` spells the implicit-AND
    // default, `-slow` is a prohibited term (postings anti-join). Every
    // clause is index-exact, so the whole WHERE is semi/anti-joins over
    // pruned postings — no corpus tokenization. Oracle replays the
    // boolean algebra; source values are single v1 tokens, so the scoped
    // containment is value equality.
    Q("q_fts_query_fields",
      (s, dir) => {
        val path = s"$dir/documents.parquet"
        graft.fts.Index.createIndex(s, path,
          graft.core.Scratch.dir("fts_index_sql"))
        graft.fts.Index.createIndex(s, path,
          graft.core.Scratch.dir("fts_index_src"), textCol = "source")
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qf")
        s.sql("""SELECT doc_id FROM documents_qf
                 WHERE fts_query(text, '+spark query -slow source:(src1 OR src3)')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'spark') AND list_contains(t, 'query')
                 AND NOT list_contains(t, 'slow')
                 AND (source = 'src1' OR source = 'src3')
               ORDER BY doc_id""")),

    // Query-language TERM RANGES: `vector [q TO r}` — true iff the doc
    // contains a token in the dictionary range (here: any q-initial term;
    // lo inclusive, hi exclusive — Lucene's mixable-bound syntax). The
    // range lowers to fts_term_range, whose index path pushes [lo, hi)
    // as a term RANGE into the term-sorted postings — parquet row-group
    // min/max pruning, the same access path as `quer*` (whose
    // `prefix ≤ t < prefix⁺` window is the special case). Oracle replays
    // the bounds over the tokenized corpus with DuckDB's binary string
    // comparison — identical order to the UTF8 order both graft paths use
    // on these [a-z0-9]+ terms.
    Q("q_fts_query_range",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qr")
        s.sql("""SELECT doc_id FROM documents_qr
                 WHERE fts_query(text, 'vector [q TO r}')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'vector')
                 AND len(list_filter(t, x -> x >= 'q' AND x < 'r')) > 0
               ORDER BY doc_id""")),

    // Result-page snippets: fts_snippet extracts the ±3-token window
    // around the first query-term occurrence — the highlight every search
    // surface renders next to a hit, composed here with the index-backed
    // fts_match filter (snippet evaluates only on matching docs). Oracle
    // replays the window arithmetic with DuckDB list slicing.
    Q("q_fts_snippet",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_snip")
        s.sql("""SELECT doc_id, fts_snippet(text, 'vector', 3) AS snip
                 FROM documents_snip WHERE fts_match(text, 'vector')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               hit AS (SELECT doc_id, t, list_position(t, 'vector') AS p FROM toks)
               SELECT doc_id,
                 array_to_string(t[greatest(1, p - 3):least(len(t), p + 3)], ' ') AS snip
               FROM hit WHERE coalesce(p, 0) > 0 ORDER BY doc_id""")),

    // CONFIGURED analyzer (SURVEY §7 risk 3 generalized): stopword removal
    // + Harman S-stemming + min-length, applied identically at build time
    // (Analyzer.tokenizeWith) and query time (cfg.normalizeTerms) — the raw
    // user query "the queries window" normalizes to ('query', 'window'):
    // 'the' is stopped, 'queries' stems to the corpus term 'query'. The
    // oracle replays the same pipeline in SQL.
    Q("q_fts_analyzer",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cfg = graft.fts.AnalyzerConfig(
          stopWords = Seq("the"), sStem = true, minTokenLen = 2)
        val ix = Index.build(docs, analyzer = cfg)
        val eff = cfg.normalizeTerms(Seq("the", "queries", "window"))
        Search.matchAllIds(ix, eff).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               an AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter(t, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM toks)
               SELECT doc_id FROM an
               WHERE list_contains(t, 'query') AND list_contains(t, 'window')
               ORDER BY doc_id""")),

    // The ANALYZER on the SQL surface: createIndex persists the configured
    // pipeline with the index and the rewrite normalizes query strings
    // through it — 'the queries window' reaches the postings semi-join as
    // ('query','window'): 'the' stopped, 'queries' stemmed to the corpus
    // term. fts_score ranks through the same pruned scoring join (BM25
    // statistics are the ANALYZED corpus's). The oracle replays the full
    // pipeline and the BM25 formula over the analyzed tokens.
    Q("q_fts_sql_analyzer",
      (s, dir) => {
        // a SCRATCH COPY of the table: the catalog keys on (table, column),
        // so registering the stemmed index for the shared fixture path
        // would replace the v1 (documents, text) entry the other SQL
        // queries race for within one harness session
        val tbl = graft.core.Scratch.layoutOnce(dir, "docs_an_table", "_SUCCESS") { out =>
          Tables(s, dir, "documents").write.mode("overwrite").parquet(out)
        }
        graft.fts.Index.createIndex(s, tbl,
          graft.core.Scratch.dir("fts_index_sql_an"),
          analyzer = graft.fts.AnalyzerConfig(
            stopWords = Seq("the"), sStem = true, minTokenLen = 2))
        s.read.parquet(tbl).createOrReplaceTempView("documents_ixan")
        s.sql("""SELECT doc_id, round(fts_score(text, 'the queries window'), 4) AS score
                 FROM documents_ixan
                 WHERE fts_match_any(text, 'the queries window')
                 ORDER BY score DESC, doc_id LIMIT 10""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t0 FROM documents),
               an AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter(t0, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM toks),
               tk AS (SELECT doc_id, unnest(t) AS term FROM an),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tk GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tk GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('query', 'window') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // STEMMED PHRASE search — analyzer × positional composition: the index
    // is built through the analyzer pipeline WITH positions, so positions
    // are offsets in the ANALYZED stream and `fts_phrase` lowers to the
    // pure position-list plan (plan-asserted in PlanShapeSpec) with the
    // query phrase replayed through the same pipeline. 'the queries
    // window' analyzes to ['query','window']; a doc matches when those
    // are ADJACENT after stopword/stem/min-length — e.g. raw "query the
    // window" matches (the stopword vanishes before positions are
    // assigned). Scratch table copy: the catalog keys on (table, column)
    // and the harness runs queries concurrently (see q_fts_sql_analyzer).
    Q("q_fts_sql_analyzer_phrase",
      (s, dir) => {
        val tbl = graft.core.Scratch.layoutOnce(dir, "docs_anp_table", "_SUCCESS") { out =>
          Tables(s, dir, "documents").write.mode("overwrite").parquet(out)
        }
        graft.fts.Index.createIndex(s, tbl,
          graft.core.Scratch.dir("fts_index_sql_anp"),
          positional = true,
          analyzer = graft.fts.AnalyzerConfig(
            stopWords = Seq("the"), sStem = true, minTokenLen = 2))
        s.read.parquet(tbl).createOrReplaceTempView("documents_ixanp")
        s.sql("""SELECT doc_id FROM documents_ixanp
                 WHERE fts_phrase(text, 'the queries window')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t0 FROM documents),
               an AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter(t0, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM toks)
               SELECT doc_id FROM an
               WHERE len([i FOR i IN range(1, len(t))
                          IF t[i] = 'query' AND t[i+1] = 'window']) > 0
               ORDER BY doc_id""")),

    // fts_score in AGGREGATE position: the scoring join grafts below the
    // Aggregate and the agg expressions rewrite in place — per-language
    // best-BM25 without projecting per-doc scores first. Docs containing
    // no query term score 0.0 (the coalesce contract), so every lang
    // appears. The oracle left-joins per-doc scores and takes the max.
    Q("q_fts_score_agg",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_ixagg")
        s.sql("""SELECT lang, round(max(fts_score(text, 'spark query')), 4) AS best
                 FROM documents_ixagg
                 GROUP BY lang ORDER BY lang""")
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT d.lang, round(max(coalesce(sc.s, 0.0)), 4) AS best
               FROM documents d LEFT JOIN sc USING(doc_id)
               GROUP BY d.lang ORDER BY d.lang""")),

    // The analyzer through the STREAMING lifecycle: documents ingest
    // through the configured pipeline (deltas carry ANALYZED terms), the
    // compaction registers the bucketed index under the same persisted
    // config, and SQL fts_match normalizes its query through it — stemmed
    // search over a streamed corpus, no batch rebuild anywhere. Oracle =
    // q_fts_analyzer's pipeline replay for ('query','window').
    Q("q_fts_stream_analyzer",
      (s, dir) => {
        val deltaDir = graft.core.Scratch.dir("fts_index_san_delta")
        val outDir = graft.core.Scratch.dir("fts_index_san_out")
        val landing = graft.core.Scratch.dir("docs_san_stream")
        new org.apache.hadoop.fs.Path(outDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(outDir), true)
        ingestDocs(s, dir, landing, deltaDir,
          analyzer = graft.fts.AnalyzerConfig(
            stopWords = Seq("the"), sStem = true, minTokenLen = 2))
        graft.fts.IncrementalIndex.compactAndRegister(s, deltaDir, outDir, landing)
        s.read.parquet(landing).createOrReplaceTempView("documents_san")
        s.sql("""SELECT doc_id FROM documents_san
                 WHERE fts_match(text, 'the queries window')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               an AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter(t, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM toks)
               SELECT doc_id FROM an
               WHERE list_contains(t, 'query') AND list_contains(t, 'window')
               ORDER BY doc_id""")),

    // MULTI-INDEX per table: the catalog keys on (table, column), so a
    // second indexed column registers ALONGSIDE the first — title + body
    // is the first thing a document search user asks for. One WHERE clause
    // probes both indexes: each conjunct resolves its own entry from its
    // attribute's lineage and lowers to a semi-join against THAT index's
    // postings (both plan-asserted in PlanShapeSpec). `source` values are
    // single tokens, so its oracle predicate is plain equality.
    Q("q_fts_multicol",
      (s, dir) => {
        val path = s"$dir/documents.parquet"
        graft.fts.Index.createIndex(s, path,
          graft.core.Scratch.dir("fts_index_sql"))
        graft.fts.Index.createIndex(s, path,
          graft.core.Scratch.dir("fts_index_src"), textCol = "source")
        Tables(s, dir, "documents").createOrReplaceTempView("documents_mc")
        s.sql("""SELECT doc_id FROM documents_mc
                 WHERE fts_match(text, 'spark query') AND fts_match(source, 'src3')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE list_contains(t, 'spark') AND list_contains(t, 'query')
                 AND source = 'src3'
               ORDER BY doc_id""")),

    // AUTOCOMPLETE — the search-box completion surface: top-k dictionary
    // completions of a prefix ranked by document frequency (desc, then
    // term for reproducible ties), candidates from the same pruned
    // prefix window the prefix query pushes; df is one agg over the
    // windowed postings — vocabulary-scale, never corpus-scale. 's'
    // completes to the corpus terms scan/slow/small/sort/spark/...
    Q("q_fts_autocomplete",
      (s, dir) => {
        Search.autocomplete(servedIndex(s, dir), "S", 5)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term
                             FROM documents)
               SELECT term, count(DISTINCT doc_id) AS df FROM toks
               WHERE term >= 's' AND term < 't'
               GROUP BY term ORDER BY df DESC, term LIMIT 5""")),

    // TRIGRAM SUBSTRING SEARCH (pg_trgm / Google Code Search / Zoekt):
    // character-trigram postings span spaces and punctuation, so the
    // arbitrary case-insensitive substring 'spark quer' — which no token
    // index can answer without a corpus scan — resolves as the
    // intersection of its grams' postings plus an exact contains()
    // verify over candidates ONLY. The oracle is the brute-force
    // contains() the index path must equal.
    Q("q_fts_trigram",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = Index.buildTrigram(docs)
        Search.substringSearch(docs, ix, "Spark Quer").orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
              WHERE contains(lower(text), 'spark quer')
              ORDER BY doc_id""")),

    // PHONETIC MATCH (Lucene PhoneticFilter slot, Soundex): the typo'd
    // query 'spork' finds docs containing 'spark' — both encode S162 —
    // through the fuzzy-style dictionary expansion (encoder over |vocab|
    // terms, postings union; the corpus never sees the encoder). The
    // oracle replays Soundex over the CLOSED fixture vocabulary as a
    // pinned word→code map, itself asserted against Spark's soundex for
    // every corpus token in SearchSpec (the porter-map pattern).
    Q("q_fts_phonetic",
      (s, dir) => {
        // dict + join sides both read postings — serve from the persisted
        // layout instead of tokenizing the corpus twice (q_fts_fuzzy note)
        Search.matchPhoneticIds(servedIndex(s, dir), "spork").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               tk AS (SELECT doc_id, unnest(t) AS w FROM toks),
               sx AS (SELECT doc_id, CASE w
                        WHEN 'a' THEN 'A000' WHEN 'agg' THEN 'A200'
                        WHEN 'batch' THEN 'B320' WHEN 'big' THEN 'B200'
                        WHEN 'column' THEN 'C450' WHEN 'customer' THEN 'C235'
                        WHEN 'data' THEN 'D300' WHEN 'dup' THEN 'D100'
                        WHEN 'fast' THEN 'F230' WHEN 'filter' THEN 'F436'
                        WHEN 'group' THEN 'G610' WHEN 'hash' THEN 'H200'
                        WHEN 'join' THEN 'J500' WHEN 'key' THEN 'K000'
                        WHEN 'line' THEN 'L500' WHEN 'merge' THEN 'M620'
                        WHEN 'order' THEN 'O636' WHEN 'part' THEN 'P630'
                        WHEN 'query' THEN 'Q600' WHEN 'row' THEN 'R000'
                        WHEN 'scan' THEN 'S500' WHEN 'slow' THEN 'S400'
                        WHEN 'small' THEN 'S540' WHEN 'sort' THEN 'S630'
                        WHEN 'spark' THEN 'S162' WHEN 'stream' THEN 'S365'
                        WHEN 'table' THEN 'T140' WHEN 'the' THEN 'T000'
                        WHEN 'value' THEN 'V400' WHEN 'vector' THEN 'V236'
                        WHEN 'window' THEN 'W530' END AS code
                      FROM tk)
               SELECT DISTINCT doc_id FROM sx WHERE code = 'S162'
               ORDER BY doc_id""")),

    // RAW-TEXT REGEX over the trigram index (the Zoekt serving shape,
    // distinct from the dictionary-level fts_regexp term queries): the
    // pattern's extracted literal factor ('big data', conservative
    // extraction that bails on unsafe metachars) prunes candidates
    // through its grams' postings, then the regex engine runs over the
    // candidates only. The oracle is the brute-force regexp scan.
    Q("q_fts_trigram_regex",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = Index.buildTrigram(docs)
        Search.regexpSubstringSearch(docs, ix, "big data.* table")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
              WHERE regexp_matches(text, 'big data.* table')
              ORDER BY doc_id""")),

    // DISMAX multi-field ranking (Lucene DisjunctionMaxQuery / Solr
    // dismax): the query scores per-field over each field's OWN index —
    // title (the doc's first five tokens, boosted 2×) and body — and
    // combines as best-field + 0.3 × the rest. A short title keeps its
    // own length statistics instead of being drowned by body avgdl (the
    // failure mode BM25F's merged index has on heterogeneous fields).
    // The oracle replays both per-field BM25 computations and the
    // max/tie combination.
    Q("q_fts_dismax",
      (s, dir) => {
        val docs2 = Tables(s, dir, "documents").select(col("doc_id"),
          concat_ws(" ",
            slice(graft.fts.Analyzer.tokenize(col("text")), 1, 5)).as("title"),
          col("text"))
        val ixTitle = Index.build(docs2, textCol = "title")
        val ixBody = Index.build(docs2, textCol = "text")
        Search.dismaxTopK(Seq(ixTitle -> 2.0, ixBody -> 1.0),
          Seq("spark", "query"), k = 10, tie = 0.3)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               fields AS (
                 SELECT doc_id, 'title' AS f, 2.0 AS boost, t[1:5] AS ft
                 FROM toks
                 UNION ALL
                 SELECT doc_id, 'body', 1.0, t FROM toks),
               tk AS (SELECT doc_id, f, boost, unnest(ft) AS term FROM fields),
               tf AS (SELECT f, doc_id, term, max(boost) AS boost,
                        count(*)::DOUBLE AS tf
                      FROM tk GROUP BY 1, 2, 3),
               dl AS (SELECT f, doc_id, count(*)::DOUBLE AS dl
                      FROM tk GROUP BY 1, 2),
               stats AS (SELECT f, count(*)::DOUBLE AS n, avg(dl) AS avgdl
                         FROM dl GROUP BY 1),
               df AS (SELECT f, term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY 1, 2),
               sc AS (SELECT tf.doc_id, tf.f,
                        max(tf.boost) * sum(
                          ln((s.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                          tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/s.avgdl))
                        ) AS sf
                      FROM tf
                      JOIN df ON tf.f = df.f AND tf.term = df.term
                      JOIN dl ON tf.f = dl.f AND tf.doc_id = dl.doc_id
                      JOIN stats s ON tf.f = s.f
                      GROUP BY tf.doc_id, tf.f),
               comb AS (SELECT doc_id,
                          max(sf) + 0.3*(sum(sf) - max(sf)) AS score
                        FROM sc GROUP BY doc_id)
               SELECT doc_id, round(score, 4) AS score FROM comb
               ORDER BY score DESC, doc_id LIMIT 10""")),

    // LANGUAGE-MODEL ranking, DIRICHLET smoothing (Zhai & Lafferty 2001;
    // Lucene LMDirichletSimilarity, mu = 2000): the query-likelihood
    // family BM25 competes with — smoothing scales with doc length, so a
    // one-hit short doc leans on the collection model instead of winning
    // on idf alone. Collection term frequency and the corpus token total
    // stay BIGINT until after aggregation (both engines sum exactly);
    // only the per-row formula runs in floating point. Oracle replays
    // the formula including Lucene's zero clip.
    Q("q_fts_lm_dirichlet",
      (s, dir) => Search.lmDirichletTopK(
        Index.build(Tables(s, dir, "documents")),
        Seq("spark", "query"), k = 10),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
               ct AS (SELECT sum(dl)::DOUBLE AS ctoks FROM dl),
               cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum(greatest(0.0,
                          ln(1.0 + tf.tf::DOUBLE * ct.ctoks / (2000.0 * cf.cf)) +
                          ln(2000.0 / (dl.dl::DOUBLE + 2000.0)))) AS s
                      FROM tf JOIN cf USING(term) JOIN dl USING(doc_id)
                      CROSS JOIN ct GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // LANGUAGE-MODEL ranking, JELINEK-MERCER smoothing (lambda = 0.1,
    // Lucene's short-query recommendation): linear interpolation between
    // document and collection models — length-independent mixing,
    // contrast Dirichlet above. Same pruned-postings plan; same exact
    // integer collection statistics.
    Q("q_fts_lm_jm",
      (s, dir) => Search.lmJelinekMercerTopK(
        Index.build(Tables(s, dir, "documents")),
        Seq("spark", "query"), k = 10),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
               ct AS (SELECT sum(dl)::DOUBLE AS ctoks FROM dl),
               cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum(ln(1.0 +
                          (0.9 * tf.tf::DOUBLE / dl.dl::DOUBLE) * ct.ctoks /
                          (0.1 * cf.cf))) AS s
                      FROM tf JOIN cf USING(term) JOIN dl USING(doc_id)
                      CROSS JOIN ct GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // FIELD COLLAPSING (Lucene grouping / Solr collapse): BM25 ranking
    // where only the best doc per `lang` survives — one representative
    // per site/author/domain is how serving dedupes result pages. The
    // oracle replays the window: row_number over (lang → score desc,
    // doc_id), rn = 1, global re-rank. Plan: WindowGroupLimit (top-1 per
    // group pushed below the shuffle; asserted in PlanShapeSpec).
    Q("q_fts_collapse",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Search.collapseTopK(docs, Index.build(docs),
          Seq("spark", "query"), collapseCol = "lang", k = 5)
      },
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   round(sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                     tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ), 4) AS score
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id),
               keyed AS (SELECT sc.doc_id, sc.score, d.lang
                         FROM sc JOIN documents d USING(doc_id)),
               best AS (SELECT doc_id, score, lang,
                          row_number() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id) AS rn
                        FROM keyed)
               SELECT doc_id, score, lang FROM best WHERE rn = 1
               ORDER BY score DESC, lang LIMIT 5""")),

    // PARENT-CHILD BLOCK JOIN (Lucene ToParentBlockJoinQuery,
    // ScoreMode.Max): chunks are the children, documents the parents — a
    // doc ranks by its best-matching chunk and reports WHICH chunk won
    // (the RAG serving shape: retrieve chunks, attribute to documents).
    // Same chunk grammar as q_pipeline_chunk_bm25 (size 8, overlap 2);
    // the oracle replays chunking, chunk BM25, the per-parent argmax
    // window, and the max aggregate.
    Q("q_fts_block_join",
      (s, dir) => {
        val chunks = graft.pipeline.Chunking
          .chunk(Tables(s, dir, "documents"), size = 8, overlap = 2)
          .select(col("doc_id").as("parent_id"),
            (col("doc_id") * 1000 + col("chunk_id")).as("child_id"),
            col("text"))
        Search.blockJoinTopK(chunks, Seq("spark", "query"), k = 10)
      },
      Some(s"""WITH toks0 AS (SELECT doc_id, $DTOKS AS t FROM documents),
               c AS (SELECT doc_id, t,
                       unnest(range(0,
                         CAST(floor((len(t) - 1) / 6) AS INT) + 1)) AS cid
                     FROM toks0 WHERE len(t) >= 1),
               chunks AS (SELECT doc_id, doc_id * 1000 + cid AS ck,
                            t[cid*6+1 : cid*6+8] AS t FROM c),
               tk AS (SELECT ck, unnest(t) AS term FROM chunks),
               tf AS (SELECT ck, term, count(*)::DOUBLE AS tf FROM tk GROUP BY 1, 2),
               dl AS (SELECT ck, count(*)::DOUBLE AS dl FROM tk GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.ck,
                        round(sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                          tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ), 4) AS cs
                      FROM tf JOIN df USING(term) JOIN dl USING(ck) CROSS JOIN stats
                      GROUP BY tf.ck),
               j AS (SELECT chunks.doc_id, sc.ck, sc.cs
                     FROM sc JOIN chunks USING(ck)),
               best AS (SELECT doc_id, ck,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY cs DESC, ck) AS rn
                        FROM j)
               SELECT j.doc_id AS parent_id, max(j.cs) AS score,
                 max(b.ck) AS best_child
               FROM j JOIN (SELECT doc_id, ck FROM best WHERE rn = 1) b
                 USING(doc_id)
               GROUP BY j.doc_id
               ORDER BY score DESC, parent_id LIMIT 10""")),

    // MAXSCORE dynamic pruning (Turtle & Flood 1995; Lucene WANDScorer):
    // top-k BM25 for 'dup OR batch' where 'dup' is rare (df 25) and
    // 'batch' is the corpus's most common term (df 402) — the per-term
    // upper-bound partition proves batch-only docs can't reach the top
    // 10, so candidates come from the 25-posting rare list instead of
    // the 400+-doc union (~17× fewer docs scored; MaxScoreSpec pins the
    // partition). The oracle is the UNPRUNED BM25 — identical results is
    // the operator's whole contract.
    Q("q_fts_wand",
      (s, dir) => Search.bm25TopKMaxScore(
        Index.build(Tables(s, dir, "documents")),
        Seq("dup", "batch"), k = 10),
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('dup', 'batch') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // MAXSCORE over the PERSISTED layout (the servedIndex lifecycle): its
    // postings record their bucket count and already carry dl, so MaxScore
    // spills nothing, and every read — the exact per-term maxima, the
    // seed, theta, candidates and scoring — is the query terms'
    // bucket-pruned slice (Index.slice). Three driver actions (stats, term
    // bounds, seed) before the final plan. Oracle: the unpruned BM25, again.
    Q("q_fts_wand_persisted",
      (s, dir) => Search.bm25TopKMaxScore(servedIndex(s, dir), Seq("dup", "batch"), k = 10),
      Some(s"""WITH toks AS (
                 SELECT doc_id, unnest($DTOKS) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('dup', 'batch') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // PERCOLATOR — reverse search (Elasticsearch percolate): saved
    // queries are the index, arriving documents are the probes — the
    // alerting shape. Four stored subscriptions (conjunctive musts, one
    // with a mustNot veto) against the first 200 docs; matching is one
    // term-keyed broadcast join + count equality, the veto an anti-join,
    // never a doc×query product. Oracle replays musts, counts, and veto.
    Q("q_fts_percolate",
      (s, dir) => {
        import s.implicits._
        val subs = Seq(
          (1L, Seq("spark", "query"), Seq.empty[String]),
          (2L, Seq("fast", "scan"), Seq("slow")),
          (3L, Seq("dup"), Seq.empty[String]),
          (4L, Seq("nonexistentterm"), Seq.empty[String])
        ).toDF("query_id", "must", "must_not")
        Search.percolate(
          Tables(s, dir, "documents").filter(col("doc_id") < 200), subs)
          .orderBy("doc_id", "query_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents
                             WHERE doc_id < 200),
               d AS (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks),
               subs(query_id, must, must_not) AS (VALUES
                 (1, ['spark', 'query'], []::VARCHAR[]),
                 (2, ['fast', 'scan'], ['slow']),
                 (3, ['dup'], []::VARCHAR[]),
                 (4, ['nonexistentterm'], []::VARCHAR[])),
               m AS (SELECT DISTINCT query_id, unnest(must) AS term FROM subs),
               nt AS (SELECT query_id, count(*) AS n_must FROM m GROUP BY 1),
               hit AS (SELECT d.doc_id, m.query_id, count(*) AS n_hit
                       FROM d JOIN m USING (term) GROUP BY 1, 2),
               ok AS (SELECT doc_id, hit.query_id FROM hit
                      JOIN nt ON hit.query_id = nt.query_id
                      WHERE n_hit = n_must),
               mn AS (SELECT DISTINCT query_id, unnest(must_not) AS term
                      FROM subs),
               veto AS (SELECT DISTINCT d.doc_id, mn.query_id
                        FROM d JOIN mn USING (term))
               SELECT ok.doc_id, CAST(ok.query_id AS BIGINT) AS query_id
               FROM ok ANTI JOIN veto
                 ON ok.doc_id = veto.doc_id AND ok.query_id = veto.query_id
               ORDER BY doc_id, query_id""")),

    // CJK segmentation (the no-word-delimiter story): AnalyzerConfig's
    // cjkBigrams base tokenizer emits character bigrams for CJK runs and
    // v1 word tokens for Latin runs. The query '東京都' becomes bigrams
    // ('東京','京都'); only a doc containing the contiguous phrase carries
    // BOTH. Inline corpus on both sides (the fixture tables are ASCII);
    // the oracle replays bigram segmentation with a DuckDB list
    // comprehension.
    Q("q_fts_cjk",
      (s, dir) => {
        import s.implicits._
        val docs = Seq(
          (1L, "東京都に住む"),
          (2L, "東京タワーの近く"),
          (3L, "spark query engine"),
          (4L, "京都市は静か"),
          (5L, "場所は東京")
        ).toDF("doc_id", "text")
        val cfg = graft.fts.AnalyzerConfig(cjkBigrams = true)
        val ix = Index.build(docs, analyzer = cfg)
        Search.matchAllIds(ix, cfg.tokenizeQuery("東京都")).orderBy("doc_id")
      },
      Some("""WITH docs(doc_id, text) AS (VALUES
                 (1, '東京都に住む'), (2, '東京タワーの近く'),
                 (3, 'spark query engine'), (4, '京都市は静か'),
                 (5, '場所は東京')),
               an AS (SELECT doc_id::BIGINT AS doc_id,
                 CASE WHEN regexp_matches(text, '^[a-z0-9 ]+$')
                   THEN string_split(text, ' ')
                   ELSE [substr(text, i, 2) FOR i IN range(1, len(text))]
                 END AS t FROM docs)
               SELECT doc_id FROM an
               WHERE list_contains(t, '東京') AND list_contains(t, '京都')
               ORDER BY doc_id""")),

    // Postings/index build itself: corpus term frequencies (explode → agg).
    Q("q_fts_postings",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"))
        ix.postings.groupBy("term")
          .agg(sum(col("tf")).as("total_tf"), count(lit(1)).as("n_docs"))
          .orderBy(col("total_tf").desc, col("term")).limit(20)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term FROM documents)
               SELECT term, count(*) AS total_tf, count(DISTINCT doc_id) AS n_docs
               FROM toks GROUP BY term
               ORDER BY total_tf DESC, term LIMIT 20""")),

    // Prefix (wildcard-suffix) term query `quer*` over the PERSISTED index:
    // a RANGE filter on the term — against the term-sorted-within-bucket
    // layout, parquet row-group min/max stats skip every group whose term
    // range misses the prefix window (hash buckets can't prune here;
    // sortedness restores the locality the hash destroyed).
    Q("q_fts_prefix",
      (s, dir) => {
        Search.matchPrefixIds(servedIndex(s, dir), "quer").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len(list_filter(t, x -> starts_with(x, 'quer'))) > 0
               ORDER BY doc_id""")),

    // RANKED retrieval through the QUERY-STRING language: ONE Lucene-style
    // string drives BOTH the boolean match set (fts_query → per-leaf index
    // lowerings: postings semi-join, positional phrase, prefix range,
    // NOT anti-join) and the ranking (fts_query_score → BM25 over the
    // query's positive scoring terms — bare terms + phrase terms; the
    // prefix clause and the NOT subtree filter but do not score, Lucene's
    // constant-score treatment). ORDER BY score LIMIT k plans as
    // TakeOrderedAndProject over the COVERING plan: the projection touches
    // only doc_id + score and every conjunct — including the OR-union and
    // the NOT anti-set — is index-exact, so the corpus is never scanned
    // (plan-asserted in PlanShapeSpec). Oracle replays boolean algebra +
    // the BM25 formula over the v1 tokens.
    Q("q_fts_query_ranked",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qrank")
        s.sql("""SELECT doc_id,
                   round(fts_query_score(text,
                     'vector AND ("data query" OR quer*) NOT slow'), 4) AS score
                 FROM documents_qrank
                 WHERE fts_query(text,
                   'vector AND ("data query" OR quer*) NOT slow')
                 ORDER BY score DESC, doc_id LIMIT 10""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM occ GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('vector', 'data', 'query') GROUP BY term),
               sc AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 GROUP BY tf.doc_id),
               m AS (SELECT doc_id FROM toks
                 WHERE list_contains(t, 'vector')
                   AND (contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
                        OR len(list_filter(t, x -> starts_with(x, 'quer'))) > 0)
                   AND NOT list_contains(t, 'slow'))
               SELECT m.doc_id, round(coalesce(sc.s, 0.0), 4) AS score
               FROM m LEFT JOIN sc USING (doc_id)
               ORDER BY score DESC, m.doc_id LIMIT 10""")),

    // FUZZY terms in the query language: `querry~1` (Lucene fuzzy syntax)
    // expands over the term DICTIONARY — length-banded, then exact
    // levenshtein; the distance never touches the corpus — and the matched
    // terms drive the ordinary postings union, AND-composed with the plain
    // term 'vector' through the standard semi-join. Oracle replays
    // dictionary + distance + union + conjunction with DuckDB's own
    // levenshtein.
    Q("q_fts_query_fuzzy",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql"))
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qfuzz")
        s.sql("""SELECT doc_id FROM documents_qfuzz
                 WHERE fts_query(text, 'querry~1 AND vector')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               dict AS (SELECT DISTINCT term FROM occ),
               hits AS (SELECT term FROM dict
                        WHERE abs(len(term) - 6) <= 1
                          AND levenshtein(term, 'querry') <= 1),
               fz AS (SELECT DISTINCT doc_id FROM occ JOIN hits USING (term))
               SELECT toks.doc_id FROM toks JOIN fz USING (doc_id)
               WHERE list_contains(t, 'vector')
               ORDER BY doc_id""")),

    // The COMPOSED surface: query-string language × configured analyzer —
    // a punctuated query with a phrase and a NOT, served by a POSITIONAL
    // analyzer index. Every leaf normalizes through the PERSISTED pipeline
    // (entryTerms / entryPhraseTerms): 'Queries,' → v1 token 'queries' →
    // stems to the corpus term 'query'; the phrase "the data query" drops
    // its stopword and matches adjacency IN ANALYZED SPACE (positions are
    // analyzed-stream offsets, so 'data the query' text matches too).
    // Oracle replays stopword + S-stem + min-length, then the algebra over
    // the analyzed tokens.
    Q("q_fts_query_analyzer",
      (s, dir) => {
        // scratch COPY of the table: the catalog keys on (table, column),
        // and the shared fixture path must keep its v1 entry for the other
        // SQL queries
        val tbl = graft.core.Scratch.layoutOnce(dir, "docs_qan_table", "_SUCCESS") { out =>
          Tables(s, dir, "documents").write.mode("overwrite").parquet(out)
        }
        graft.fts.Index.createIndex(s, tbl,
          graft.core.Scratch.dir("fts_index_qan"), positional = true,
          analyzer = graft.fts.AnalyzerConfig(
            stopWords = Seq("the"), sStem = true, minTokenLen = 2))
        s.read.parquet(tbl).createOrReplaceTempView("documents_qan")
        s.sql("""SELECT doc_id FROM documents_qan
                 WHERE fts_query(text, 'Queries, AND "the data query" NOT slow')
                 ORDER BY doc_id""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t0 FROM documents),
               an AS (SELECT doc_id,
                 list_filter(
                   list_transform(
                     list_filter(t0, x -> x <> 'the'),
                     x -> CASE
                       WHEN x LIKE '%ies' AND NOT (x LIKE '%eies' OR x LIKE '%aies')
                         THEN substr(x, 1, len(x) - 3) || 'y'
                       WHEN x LIKE '%es' AND NOT (x LIKE '%aes' OR x LIKE '%ees' OR x LIKE '%oes')
                         THEN substr(x, 1, len(x) - 1)
                       WHEN x LIKE '%s' AND NOT (x LIKE '%us' OR x LIKE '%ss')
                         THEN substr(x, 1, len(x) - 1)
                       ELSE x END),
                   x -> len(x) >= 2) AS t
                 FROM toks)
               SELECT doc_id FROM an
               WHERE list_contains(t, 'query')
                 AND contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
                 AND NOT list_contains(t, 'slow')
               ORDER BY doc_id""")),

    // BOOSTS in the query language (`term^w`, `"phrase"^w` — Lucene boost
    // syntax): boolean matching ignores them; fts_query_score groups the
    // scoring terms by boost and sums w·BM25(group) — clauses are additive,
    // so the per-term view is score = Σ_t w_t·bm25_t. The unboosted case
    // stays a single FtsScore (covering preserved); each boosted group
    // adds one scoring join over its own pruned postings. The oracle
    // replays the per-term weighted formula.
    Q("q_fts_query_boost",
      (s, dir) => {
        graft.fts.Index.createIndex(s, s"$dir/documents.parquet",
          graft.core.Scratch.dir("fts_index_sql_pos"), positional = true)
        Tables(s, dir, "documents").createOrReplaceTempView("documents_qboost")
        s.sql("""SELECT doc_id,
                   round(fts_query_score(text,
                     'vector^2 AND ("data query"^1.5 OR quer*)'), 4) AS score
                 FROM documents_qboost
                 WHERE fts_query(text,
                   'vector^2 AND ("data query"^1.5 OR quer*)')
                 ORDER BY score DESC, doc_id LIMIT 10""")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM occ GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('vector', 'data', 'query') GROUP BY term),
               -- mirror the engine's GROUP-THEN-MULTIPLY structure exactly
               -- (1.5·Σ{data,query} + 2·Σ{vector}); distributing the boost
               -- into the per-term sum would change IEEE rounding
               sca AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 WHERE tf.term IN ('data', 'query')
                 GROUP BY tf.doc_id),
               scb AS (
                 SELECT tf.doc_id,
                   sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                        tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                 FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
                 WHERE tf.term = 'vector'
                 GROUP BY tf.doc_id),
               m AS (SELECT doc_id FROM toks
                 WHERE list_contains(t, 'vector')
                   AND (contains(' ' || array_to_string(t, ' ') || ' ', ' data query ')
                        OR len(list_filter(t, x -> starts_with(x, 'quer'))) > 0))
               SELECT m.doc_id,
                 round(coalesce(1.5 * sca.s, 0.0) + coalesce(2.0 * scb.s, 0.0), 4) AS score
               FROM m LEFT JOIN sca USING (doc_id) LEFT JOIN scb USING (doc_id)
               ORDER BY score DESC, m.doc_id LIMIT 10""")),

    // SIGNIFICANT TERMS (ES significant_terms, JLH): terms over-represented
    // in the German docs vs the whole corpus — the aggregation that surfaces
    // "what makes this slice different". Foreground df is one semi-join over
    // the postings; both set sizes broadcast as single rows, so the frame
    // never exceeds |vocab| scoring rows at any corpus size.
    Q("q_fts_significant",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = Index.build(docs)
        Search.significantTerms(ix,
          docs.filter(col("lang") === "de").select("doc_id"), k = 10)
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, lang, unnest(list_distinct(t)) AS term
                       FROM toks),
               bg AS (SELECT term, count(*) AS bg_df FROM occ GROUP BY term),
               fg AS (SELECT term, count(*) AS fg_df FROM occ
                      WHERE lang = 'de' GROUP BY term),
               nn AS (SELECT
                 (SELECT count(DISTINCT doc_id) FROM occ)::DOUBLE AS bg_n,
                 (SELECT count(*) FROM documents WHERE lang = 'de')::DOUBLE AS fg_n)
               SELECT fg.term, fg.fg_df, bg.bg_df,
                 round((fg.fg_df / nn.fg_n - bg.bg_df / nn.bg_n) *
                       ((fg.fg_df / nn.fg_n) / (bg.bg_df / nn.bg_n)), 6) AS score
               FROM fg JOIN bg USING (term) CROSS JOIN nn
               ORDER BY score DESC, term LIMIT 10""")),

    // RM3 PSEUDO-RELEVANCE FEEDBACK (Lavrenko & Croft relevance models):
    // top-5 docs of the initial 'data query' retrieval vote expansion terms
    // by P(w|d) weighted with their normalized scores; the interpolated
    // (λ=0.6) weighted query reranks. The oracle replays all three stages —
    // retrieval, relevance model, weighted rerank — stage-rounded exactly
    // like the engine so term selection can never flip on an ulp.
    Q("q_fts_rm3",
      (s, dir) => Search.rm3TopK(
        Index.build(Tables(s, dir, "documents")),
        Seq("data", "query"), k = 10, fbDocs = 5, fbTerms = 5, lambda = 0.6),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df0 AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                       WHERE term IN ('data', 'query') GROUP BY term),
               s0 AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df0.df + 0.5)/(df0.df + 0.5) + 1.0) *
                             (tf.tf*2.2) /
                             (tf.tf + (dl.dl/stats.avgdl*0.75 + 0.25)*1.2) ) AS s
                      FROM tf JOIN df0 USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               fb AS (SELECT doc_id, round(s, 4) AS s FROM s0
                      ORDER BY round(s, 4) DESC, doc_id LIMIT 5),
               stot AS (SELECT sum(s) AS stot FROM fb),
               rm AS (SELECT tf.term,
                        round(sum((tf.tf/dl.dl) * (fb.s/stot.stot)), 6) AS p_rm
                      FROM tf JOIN fb USING (doc_id) JOIN dl USING (doc_id)
                      CROSS JOIN stot GROUP BY tf.term
                      ORDER BY p_rm DESC, tf.term LIMIT 5),
               w AS (SELECT coalesce(o.term, rm.term) AS term,
                       round(coalesce(o.w0, 0.0) + 0.4*coalesce(rm.p_rm, 0.0), 6) AS qw
                     FROM (SELECT unnest(['data', 'query']) AS term, 0.3 AS w0) o
                     FULL OUTER JOIN rm ON o.term = rm.term),
               dfw AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                       WHERE term IN (SELECT term FROM w) GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( w.qw *
                             ln((stats.n - dfw.df + 0.5)/(dfw.df + 0.5) + 1.0) *
                             (tf.tf*2.2) /
                             (tf.tf + (dl.dl/stats.avgdl*0.75 + 0.25)*1.2) ) AS s
                      FROM tf JOIN w USING (term) JOIN dfw USING (term)
                      JOIN dl USING (doc_id) CROSS JOIN stats
                      GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10""")),

    // SPAN-FIRST (Lucene SpanFirstQuery): 'spark' within the first 5 token
    // positions — lead-paragraph matching from the positional postings
    // alone; the corpus text is never re-tokenized.
    Q("q_fts_span_first",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"), positional = true)
        Search.matchSpanFirst(ix, "spark", 5).orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id FROM toks
               WHERE len([i FOR i IN range(1, least(len(t), 5) + 1)
                          IF t[i] = 'spark']) > 0
               ORDER BY doc_id""")),

    // SPAN-NOT (Lucene SpanNotQuery): an occurrence of 'data' with no
    // 'query' within 2 positions — wider than NOT-contains (the doc may
    // say 'query' elsewhere), narrower than contains('data'). Two postings
    // lists left-joined; quantifiers run as doc-local array lambdas.
    Q("q_fts_span_not",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"), positional = true)
        Search.matchSpanNot(ix, "data", "query", dist = 2).orderBy("doc_id")
      },
      Some(s"""WITH pos AS (SELECT doc_id,
                 [i FOR i IN range(1, len($DTOKS) + 1)
                  IF ($DTOKS)[i] = 'data'] AS pa,
                 [i FOR i IN range(1, len($DTOKS) + 1)
                  IF ($DTOKS)[i] = 'query'] AS pb
               FROM documents)
               SELECT doc_id FROM pos
               WHERE len(pa) > 0 AND (len(pb) = 0 OR
                 len([x FOR x IN pa
                      IF len([y FOR y IN pb IF abs(x - y) <= 2]) = 0]) > 0)
               ORDER BY doc_id""")),

    // INDEX-SORTED early termination (Lucene index sorting): postings in
    // value-banded partitions of the doc's static score (n_chars here;
    // a quality model in production), best band first — the top-10-by-
    // static-score read stops after the first bands holding ≥10 matches
    // (2 of 7 at sf0.01, spec-asserted), each probe a partition-pruned
    // count. Exact by construction: unread bands score strictly lower.
    // The oracle is banding-free ground truth.
    Q("q_fts_static_sorted",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val out = graft.core.Scratch.layoutOnce(dir, "fts_static_banded",
            "postings_banded/_SUCCESS") { o =>
          Index.writeStaticBanded(Index.build(docs),
            docs.select(col("doc_id"), col("n_chars").as("score")),
            o, bandWidth = 80L, nBands = 8)
        }
        Search.topKStaticBanded(s, out, "spark", k = 10)._1
      },
      Some(s"""SELECT doc_id, n_chars AS score FROM documents
               WHERE list_contains($DTOKS, 'spark')
               ORDER BY n_chars DESC, doc_id LIMIT 10""")),

    // RANGE FACETS (ES range aggregation over a match set): the 'data'
    // match set bucketed by fixed n_chars ranges — the numeric-filter
    // sidebar beside q_fts_facets' term counts. The match set comes from
    // the postings semi-join; the facet agg touches matches only, and the
    // fixed boundaries need no quantile pass. Sum pinned to BIGINT.
    Q("q_fts_range_facets",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = Index.build(docs)
        val hits = docs.join(Search.matchAllIds(ix, Seq("data")),
          Seq("doc_id"), "left_semi")
        hits.withColumn("bucket",
            when(col("n_chars") < 150, "lt150")
              .when(col("n_chars") < 300, "150-299")
              .when(col("n_chars") < 450, "300-449")
              .otherwise("gte450"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("bucket")
      },
      Some(s"""WITH toks AS (SELECT doc_id, n_chars, $DTOKS AS t FROM documents),
               m AS (SELECT doc_id, n_chars FROM toks
                     WHERE list_contains(t, 'data'))
               SELECT CASE WHEN n_chars < 150 THEN 'lt150'
                           WHEN n_chars < 300 THEN '150-299'
                           WHEN n_chars < 450 THEN '300-449'
                           ELSE 'gte450' END AS bucket,
                 count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
               FROM m GROUP BY 1 ORDER BY bucket""")),

    // COMPOSITE AGGREGATION pagination (ES composite agg): grouped
    // aggregates paged by a KEYSET cursor on the group key — page 2 is
    // "keys strictly after page 1's last (lang, source)", so the final
    // top-k heap stays page-sized at any depth (OFFSET sorts offset+k
    // group rows). The group-key total order makes the oracle's OFFSET
    // form provably the same page. Cursor collect is one row.
    Q("q_fts_composite_agg",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val groups = docs.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
        val page1 = groups.orderBy("lang", "source").limit(10).collect()
        val last = page1.last // the composite 'after' cursor
        val (al, as_) = (last.getString(0), last.getString(1))
        groups.filter(col("lang") > al ||
            (col("lang") === al && col("source") > as_))
          .orderBy("lang", "source").limit(10)
      },
      Some("""SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars
              FROM documents GROUP BY lang, source
              ORDER BY lang, source LIMIT 10 OFFSET 10""")),

    // PHRASE SUGGESTER (ES phrase suggest, laplace smoothing): whole-query
    // did-you-mean — 'sow data' expands per-slot over the dictionary
    // (dist → corpus-count → term; 'sow' reaches BOTH 'slow' and 'row',
    // so two plausible rewrites compete), candidate phrases rank by a
    // Laplace-smoothed bigram LM — the rewrite that actually co-occurs
    // in the corpus wins. Count tables are the distributed state;
    // candidate collects are perSlot-bounded; the oracle replays
    // dictionary expansion, the cross product, and the LM arithmetic.
    Q("q_fts_suggest_phrase",
      (s, dir) => Search.suggestPhrase(Tables(s, dir, "documents"),
        Seq("sow", "data"), maxEdits = 1, perSlot = 5, k = 3),
      Some(s"""WITH toks AS (SELECT $DTOKS AS t FROM documents),
               uni AS (SELECT unnest(t) AS w FROM toks),
               c1 AS (SELECT w, count(*)::DOUBLE AS c FROM uni GROUP BY w),
               st AS (SELECT sum(c) AS n, count(*)::DOUBLE AS v FROM c1),
               c2 AS (SELECT p.w1, p.w2, count(*)::DOUBLE AS c2 FROM
                        (SELECT unnest([{'w1': t[i], 'w2': t[i+1]}
                                        FOR i IN range(1, len(t))]) AS p
                         FROM toks)
                      GROUP BY 1, 2),
               ca AS (SELECT w, c FROM c1
                      WHERE abs(len(w) - 3) <= 1 AND levenshtein(w, 'sow') <= 1
                      ORDER BY levenshtein(w, 'sow'), c DESC, w LIMIT 5),
               cb AS (SELECT w, c FROM c1
                      WHERE abs(len(w) - 4) <= 1 AND levenshtein(w, 'data') <= 1
                      ORDER BY levenshtein(w, 'data'), c DESC, w LIMIT 5),
               ph AS (SELECT a.w AS w1, a.c AS c, b.w AS w2
                      FROM ca a CROSS JOIN cb b),
               sc AS (SELECT ph.w1 || ' ' || ph.w2 AS suggestion,
                        round(ln(ph.c / st.n) +
                              ln((coalesce(c2.c2, 0) + 1.0) / (ph.c + st.v)), 6)
                          AS score
                      FROM ph LEFT JOIN c2
                        ON c2.w1 = ph.w1 AND c2.w2 = ph.w2
                      CROSS JOIN st)
               SELECT suggestion, score FROM sc
               ORDER BY score DESC, suggestion LIMIT 3""")),

    // RESCORE WINDOW (ES rescore API): BM25 ranks everything cheaply, the
    // top-50 window alone pays the expensive exact-phrase proximity boost
    // (positional postings), and the final top-10 re-sorts the window —
    // O(window) expensive scoring regardless of match-set size, the
    // two-stage serving shape production rankers run (vector twin:
    // q_sim_maxsim_rerank). Stage-1 scores round before the cut so the
    // window is a total-order prefix both engines reproduce.
    Q("q_fts_rescore",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"), positional = true)
        Search.rescoreTopK(ix, Seq("data", "query"), Seq("data", "query"),
          window = 50, k = 10, boost = 2.0)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('data', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             (tf.tf*2.2) /
                             (tf.tf + (dl.dl/stats.avgdl*0.75 + 0.25)*1.2) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               w AS (SELECT doc_id, round(s, 4) AS s1 FROM sc
                     ORDER BY round(s, 4) DESC, doc_id LIMIT 50),
               ph AS (SELECT doc_id FROM toks
                      WHERE contains(' ' || array_to_string(t, ' ') || ' ',
                                     ' data query '))
               SELECT doc_id,
                 round(s1 + CASE WHEN doc_id IN (SELECT doc_id FROM ph)
                   THEN 2.0 ELSE 0.0 END, 4) AS score
               FROM w ORDER BY score DESC, doc_id LIMIT 10""")),

    // SEARCH-AFTER keyset pagination (ES search_after): page 2 of the
    // 'data query' ranking is "strictly after page 1's last (score, id)
    // cursor" — the predicate keeps the top-k heap k-sized at any page
    // depth, where OFFSET would sort offset+k rows on one reducer. The
    // rounded (score DESC, doc_id ASC) sort is total, so the oracle's
    // OFFSET formulation is provably the same page.
    Q("q_fts_search_after",
      (s, dir) => {
        val ix = Index.build(Tables(s, dir, "documents"))
        val page1 = Search.scoreBm25(ix, Seq("data", "query"), 10).collect()
        val last = page1.last // bounded: k rows, the serving cursor
        Search.searchAfter(ix, Seq("data", "query"), 10,
          afterScore = last.getDouble(1), afterId = last.getLong(0))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('data', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             (tf.tf*2.2) /
                             (tf.tf + (dl.dl/stats.avgdl*0.75 + 0.25)*1.2) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id)
               SELECT doc_id, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, doc_id LIMIT 10 OFFSET 10""")),

    // nDCG@10 (Järvelin & Kekäläinen; trec_eval's headline graded
    // metric) of the BM25 ranking, evaluated IN-ENGINE: qrels are graded
    // deterministically from the corpus (2 = doc holds both query terms,
    // 1 = exactly one), so both engines derive judgments and ranking from
    // the same parquet. The ranked list is k rows and IDCG reads only the
    // grade histogram's top-k prefix — evaluation never re-touches
    // corpus-scale data (graft.fts.Eval.ndcgAtK).
    Q("q_fts_ndcg",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ranked = Search.bm25TopK(docs, Seq("spark", "query"), k = 10)
        val qrels = docs.select(col("doc_id"),
          graft.fts.Analyzer.tokenize(col("text")).as("t"))
          .select(col("doc_id"),
            (array_contains(col("t"), "spark").cast("int") +
              array_contains(col("t"), "query").cast("int")).as("rel"))
        graft.fts.Eval.ndcgAtK(ranked, qrels, k = 10)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               ranked AS (SELECT doc_id, rank FROM (
                   SELECT doc_id, row_number() OVER
                     (ORDER BY round(s, 4) DESC, doc_id) AS rank FROM sc)
                 WHERE rank <= 10),
               rel AS (SELECT doc_id,
                   list_contains(t, 'spark')::INT +
                   list_contains(t, 'query')::INT AS rel FROM toks),
               dcg AS (SELECT coalesce(sum((pow(2.0, r.rel) - 1.0)
                         / log2(rank + 1.0)), 0.0) AS dcg
                       FROM ranked LEFT JOIN rel r USING (doc_id)),
               hist AS (SELECT rel, count(*) AS n,
                   coalesce(sum(count(*)) OVER (ORDER BY rel DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS above
                 FROM rel WHERE rel > 0 GROUP BY rel),
               pos AS (SELECT unnest(range(1, 11)) AS i),
               idcg AS (SELECT coalesce(sum((pow(2.0, rel) - 1.0)
                          / log2(i + 1.0)), 0.0) AS idcg
                        FROM pos JOIN hist ON i > above AND i <= above + n),
               nr AS (SELECT count(*) AS n_rel FROM rel WHERE rel > 0)
               SELECT round(dcg, 4) AS dcg, round(idcg, 4) AS idcg,
                 round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 4)
                   AS ndcg,
                 n_rel
               FROM dcg, idcg, nr""")),

    // MRR@10 over a 3-query batch (the navigational-search metric):
    // relevant = docs containing ALL the query's terms, rankings = BM25.
    // Reciprocal ranks scale by lcm(1..10)=2520 to exact integers, so
    // the cross-query mean never accumulates floats in either engine
    // (graft.fts.Eval.mrrAtK). Per-query rows + the replicated MRR.
    Q("q_fts_mrr",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = Index.build(docs)
        val toks = docs.select(col("doc_id"),
          graft.fts.Analyzer.tokenize(col("text")).as("t"))
        def rel(terms: Seq[String]) = toks
          .filter(terms.map(t => array_contains(col("t"), t)).reduce(_ && _))
          .select("doc_id")
        val runs = Seq(
          1 -> Seq("spark", "query"),
          2 -> Seq("merge", "window"),
          3 -> Seq("data", "query")).map { case (qid, ts) =>
          (qid, Search.scoreBm25(ix, ts, 10), rel(ts))
        }
        graft.fts.Eval.mrrAtK(runs, k = 10)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               q AS (SELECT 1 AS qid, ['spark', 'query'] AS terms
                     UNION ALL SELECT 2, ['merge', 'window']
                     UNION ALL SELECT 3, ['data', 'query']),
               qt AS (SELECT qid, unnest(terms) AS term FROM q),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN (SELECT term FROM qt) GROUP BY term),
               sc AS (SELECT qt.qid, tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM qt JOIN tf USING (term) JOIN df USING (term)
                        JOIN dl USING (doc_id) CROSS JOIN stats
                      GROUP BY qt.qid, tf.doc_id),
               ranked AS (SELECT qid, doc_id, row_number() OVER
                   (PARTITION BY qid ORDER BY round(s, 4) DESC, doc_id)
                   AS rank FROM sc),
               rel AS (SELECT q.qid, toks.doc_id FROM q JOIN toks
                       ON len(list_filter(q.terms,
                            x -> list_contains(toks.t, x))) = len(q.terms)),
               fr AS (SELECT r.qid, min(r.rank) AS frk
                      FROM ranked r JOIN rel
                        ON r.qid = rel.qid AND r.doc_id = rel.doc_id
                      WHERE r.rank <= 10 GROUP BY r.qid),
               rr AS (SELECT q.qid, fr.frk,
                        CASE WHEN fr.frk IS NOT NULL
                             THEN 2520 // fr.frk ELSE 0 END AS rr_int
                      FROM q LEFT JOIN fr USING (qid)),
               m AS (SELECT sum(rr_int) AS rr_sum, count(*) AS nq FROM rr)
               SELECT rr.qid, CAST(rr.frk AS INTEGER) AS first_rel_rank,
                 floor(rr_int::DOUBLE / 2520.0 * 10000 + 0.5) / 10000 AS rr,
                 floor(rr_sum::DOUBLE / (nq * 2520)::DOUBLE * 10000 + 0.5)
                   / 10000 AS mrr
               FROM rr, m ORDER BY qid""")),

    // RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010) between the BM25
    // and TF-IDF rankings of the same query — the top-weighted ranking
    // similarity for non-conjoint top-k lists (Kendall/Spearman need
    // conjoint domains). Truncated prefix form over the two k-row lists:
    // ≤ k² work regardless of corpus size (graft.fts.Eval.rboAtK). The
    // (1−p) factor is written 1.0−0.9 on BOTH sides — the same IEEE
    // subtraction, since 0.1 the literal is a different double.
    Q("q_fts_rbo",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.fts.Eval.rboAtK(
          Search.bm25TopK(docs, Seq("merge", "window"), k = 10),
          Search.tfidfTopK(docs, Seq("merge", "window"), k = 10),
          k = 10, p = 0.9)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM occ GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('merge', 'window') GROUP BY term),
               bm AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               ti AS (SELECT tf.doc_id,
                        sum( (tf.tf/dl.dl) * ln((stats.n + 1.0)/(df.df + 1.0)) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               ra AS (SELECT doc_id, ra FROM (
                   SELECT doc_id, row_number() OVER
                     (ORDER BY round(s, 4) DESC, doc_id) AS ra FROM bm)
                 WHERE ra <= 10),
               rb AS (SELECT doc_id, rb FROM (
                   SELECT doc_id, row_number() OVER
                     (ORDER BY round(s, 6) DESC, doc_id) AS rb FROM ti)
                 WHERE rb <= 10),
               fd AS (SELECT greatest(ra, rb) AS first_depth
                      FROM ra JOIN rb USING (doc_id)),
               depths AS (SELECT unnest(range(1, 11)) AS d),
               ag AS (SELECT d, count(first_depth) AS overlap
                      FROM depths LEFT JOIN fd ON first_depth <= d
                      GROUP BY d)
               SELECT round(sum(pow(0.9, d - 1.0) * (1.0 - 0.9)
                        * overlap::DOUBLE / d), 4) AS rbo,
                 max(CASE WHEN d = 10 THEN overlap END) AS overlap_k
               FROM ag""")),

    // FUNCTION-SCORE DECAY (Elasticsearch function_score gauss decay,
    // multiplicative): BM25 relevance × exp(−((n_chars−200)/300)²) — the
    // freshness/size re-ranking every serving stack layers on lexical
    // score (here decaying on document size; the fixture has no date
    // column — same algebra). Composes on scoreAllBm25's full-precision
    // scores; the decay term is one codegen'd projection over the
    // candidate set (never the corpus), then the usual rounded-score
    // top-k total order.
    Q("q_fts_decay",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // serve from the persisted layout (built once per corpus dir):
        // scoring reads ONLY the two terms' pruned buckets (dl is
        // denormalized on the posting rows), so the data-bound work is
        // candidate-sized; the n_chars join scans a 2-column projection
        // of the corpus against the broadcast-sized candidate set
        val decay = exp(-pow((col("n_chars") - 200.0) / 300.0, 2))
        Search.scoreAllBm25(servedIndex(s, dir), Seq("spark", "query"))
          .join(docs.select("doc_id", "n_chars"), "doc_id")
          .select(col("doc_id"), round(col("score") * decay, 4).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term
                             FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                         FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id)
               SELECT sc.doc_id,
                 round(s * exp(-pow((d.n_chars - 200.0) / 300.0, 2)), 4)
                   AS score
               FROM sc JOIN documents d ON sc.doc_id = d.doc_id
               ORDER BY score DESC, sc.doc_id LIMIT 10""")),

    // SCORE EXPLAIN (Lucene Explanation / ES _explain): per-(doc, term)
    // BM25 decomposition — tf, df, idf, and the term's contribution to
    // the total — for the query's top-3 docs. The serving-debug surface
    // every relevance tuning loop reads. Plan: the top-3 ids bound the
    // postings via a semi-join, so the breakdown touches 3·|terms| rows
    // regardless of corpus size; df/idf stay corpus statistics.
    Q("q_fts_explain",
      (s, dir) => {
        // persisted-layout serving (same as q_fts_decay): the pruned bucket
        // read bounds qp to the two terms' postings, and the denormalized
        // `dl` on those rows replaces the O(corpus) docLens join entirely
        val ix = servedIndex(s, dir)
        val terms = Seq("spark", "query")
        val qp = Index.slice(ix, terms)
        val top = Search.scoreBm25(ix, terms, 3)
          .select("doc_id")
        val df = qp.groupBy("term")
          .agg(countDistinct(col("doc_id")).cast("double").as("df"))
        val idf = log((col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5) + 1.0)
        val norm = col("tf") * 2.2 /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
        qp.join(top, Seq("doc_id"), "left_semi")
          .join(broadcast(df), "term")
          .crossJoin(broadcast(ix.stats))
          .select(col("doc_id"), col("term"),
            col("tf").cast("long").as("tf"), col("df").cast("long").as("df"),
            round(idf, 4).as("idf"),
            round(idf * norm, 4).as("contribution"))
          .orderBy("doc_id", "term")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term
                             FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                         FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               top AS (SELECT doc_id FROM sc
                       ORDER BY round(s, 4) DESC, doc_id LIMIT 3)
               SELECT tf.doc_id, tf.term,
                 CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
                 round(ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0), 4)
                   AS idf,
                 round(ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                       tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)),
                       4) AS contribution
               FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                 CROSS JOIN stats
                 JOIN top ON tf.doc_id = top.doc_id
               ORDER BY tf.doc_id, tf.term""")),

    // GEO-FILTERED SEARCH (the ES geo_distance-filter + match query —
    // "nearby documents matching 'spark query'"): BM25 relevance ∩ a
    // coordinate box, coordinates md5-derived per doc. Composition
    // order matters and is the cheap one: the box is a per-doc predicate
    // (semi-join onto the candidate set), BM25 statistics stay
    // CORPUS-level (a filter must not change idf — the same contract the
    // MaxScore candidates path pins), top-k after the intersection.
    Q("q_fts_geo",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = Index.build(docs)
        val pts = docs.select(col("doc_id"),
          ((conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":lat"))), 1, 8), 16, 10).cast("long") % 17000)
            .cast("double") / 100.0 - 85.0).as("lat"),
          ((conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":lon"))), 1, 8), 16, 10).cast("long") % 36000)
            .cast("double") / 100.0 - 180.0).as("lon"))
        val boxed = pts.filter(col("lat") >= -40.0 && col("lat") <= 40.0 &&
          col("lon") >= -90.0 && col("lon") <= 90.0).select("doc_id")
        Search.scoreAllBm25(ix, Seq("spark", "query"))
          .join(boxed, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), round(col("score"), 4).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($DTOKS) AS term
                             FROM documents),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM toks GROUP BY 1, 2),
               dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                         FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.doc_id,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
                      CROSS JOIN stats GROUP BY tf.doc_id),
               pts AS (SELECT doc_id,
                   CAST((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                          || ':lat'), 1, 8) AS BIGINT) % 17000) AS DOUBLE)
                     / 100.0 - 85.0 AS lat,
                   CAST((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                          || ':lon'), 1, 8) AS BIGINT) % 36000) AS DOUBLE)
                     / 100.0 - 180.0 AS lon
                 FROM documents)
               SELECT sc.doc_id, round(sc.s, 4) AS score
               FROM sc JOIN pts ON sc.doc_id = pts.doc_id
               WHERE pts.lat BETWEEN -40.0 AND 40.0
                 AND pts.lon BETWEEN -90.0 AND 90.0
               ORDER BY score DESC, sc.doc_id LIMIT 10"""))
  )
}
