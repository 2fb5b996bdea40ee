package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.pipeline.{Bpe, Chunking, Classifier, Components, Curation, Dedup, Embed, EvalText, Geo, Graph, Hybrid, Mixing, Multimodal, Packing, Rank, Sampling, Sft, Similarity, TextStats, UnigramLm}
import graft.streaming.StreamVectorIndex

/** LLM-training-data pipeline operators (builder brief): dedup (exact,
  * MinHash+LSH, SimHash, n-gram blocking, embedding), similarity search
  * (brute-force + LSH ANN), text analysis, multimodal columns.
  *
  * The three near-dup strategies all end in the same exact-Jaccard verify,
  * so they share one oracle: DuckDB recomputes ground truth as brute-force
  * all-pairs shingle Jaccard (fine at oracle scale; the Spark side never
  * does all-pairs — that's the point of LSH).
  */
object Pipeline extends QueryPack {

  private[queries] val DTOKS =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"

  /** The q_dedup_skew boilerplate page — one SQL-literal-safe lowercase
    * sentence every rewritten doc shares verbatim, so its shingle set
    * (and minhash signature) is identical across the whole hot cluster. */
  private val SkewTemplate =
    "this page uses a standard navigation template with a header a footer " +
      "a search box and a login form all rights reserved contact us for " +
      "terms of service and privacy policy details"

  /** The shared hot-band corpus for the q_dedup_skew* rows: 400 of 500
    * docs rewritten to [[SkewTemplate]] (one corpus-scale near-dup
    * cluster), the rest organic. */
  private def skewFixture(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        when(col("doc_id") < 400, lit(SkewTemplate))
          .otherwise(col("text")).as("text"))

  /** The q_dedup_skew* fixture replayed as a DuckDB CTE. */
  private val skewFixtureSql =
    s"""fixture AS (SELECT doc_id,
          CASE WHEN doc_id < 400 THEN '$SkewTemplate' ELSE text END AS text
        FROM documents WHERE doc_id < 500)"""

  /** Seeded multi-line CURATION fixture shared by q_text_gopher /
    * q_pipeline_c4 (the q_dedup_lines fixture pattern — the sf docs are
    * single-line and punctuation-free, so both sides derive the same
    * multi-line corpus deterministically): wrap 6 tokens per line; line i
    * gets a '- ' bullet when (doc_id+i)%7=0 and ends '.' when
    * (doc_id+i)%2=0, else '...' when (doc_id+i)%5=0; d%3 docs append a
    * stop-word sentence (Gopher R7 passes somewhere), d%9 docs a
    * symbol/junk line (R3 + all three C4 page rules fail somewhere).
    * Persisted + counted; callers unpersist. */
  private[queries] def curationFixture(
      s: org.apache.spark.sql.SparkSession, dir: String,
      doubled: Boolean = false): org.apache.spark.sql.DataFrame = {
    // `doubled` repeats the token stream so docs clear Gopher's 50-word
    // floor AFTER C4 line filtering — the composed streaming row's fixture
    val toks = split(
      if (doubled) concat_ws(" ", col("text"), col("text")) else col("text"),
      " ")
    val nLines = ceil(size(toks) / lit(6.0)).cast("int")
    val wrapped = array_join(transform(sequence(lit(0), nLines - 1), i =>
      concat(
        when(pmod(col("doc_id") + i, lit(7)) === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(toks, i * 6 + 1, lit(6)), " "),
        when(pmod(col("doc_id") + i, lit(2)) === 0, lit("."))
          .otherwise(when(pmod(col("doc_id") + i, lit(5)) === 0, lit("..."))
            .otherwise(lit(""))))), "\n")
    val fixture = Tables(s, dir, "documents").select(col("doc_id"),
      concat(wrapped,
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\nall of that have with more data rows today."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(9)) === 0,
          lit("\n# ## lorem ipsum javascript { weird"))
          .otherwise(lit(""))).as("text"))
      .persist()
    fixture.count()
    fixture
  }

  /** The SQL mirror of [[curationFixture]] — a WITH prefix ending in a
    * `fixture(doc_id, text)` CTE; oracles append their own CTEs after it. */
  private[queries] def curationFixtureSql(doubled: Boolean): String =
    s"""WITH base AS (SELECT doc_id,
                     string_split(${if (doubled) "text || ' ' || text"
      else "text"}, ' ') AS t
                     FROM documents),
       wrapped AS (SELECT doc_id,
         array_to_string([
           (CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END)
           || array_to_string(t[i*6+1 : i*6+6], ' ')
           || (CASE WHEN (doc_id + i) % 2 = 0 THEN '.'
                    WHEN (doc_id + i) % 5 = 0 THEN '...' ELSE '' END)
           FOR i IN range(0, cast(ceil(len(t)/6.0) AS INT))], chr(10)) AS w
         FROM base),
       fixture AS (SELECT doc_id,
         w || (CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'all of that have with more data rows today.'
                 ELSE '' END)
           || (CASE WHEN doc_id % 9 = 0
                 THEN chr(10) || '# ## lorem ipsum javascript { weird'
                 ELSE '' END)
         AS text FROM wrapped)"""

  private[queries] val CurationFixtureSql = curationFixtureSql(doubled = false)

  /** Shared ANN recall harness: derive the clustered fixture, compare the
    * candidate method's top-10 against exact brute force, emit ONE row with
    * the recall@10 ≥ 0.8 verdict. The fixture is persisted for both scans
    * and released before returning (rows materialized eagerly). */
  private def recallCheck(s: org.apache.spark.sql.SparkSession, dir: String)(
      ann: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val clustered = emb.select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist() // heavy interpreted zip_with chain; both paths scan it
    clustered.count()
    try {
      val exact = Similarity.bruteForceTopK(clustered, 0L, 10).select("vec_id")
      val recall = exact.join(ann(clustered).select("vec_id"), "vec_id")
        .agg((count(lit(1)) >= 8).as("ok"))
      s.createDataFrame(
        java.util.Arrays.asList(recall.collect(): _*), recall.schema)
    } finally clustered.unpersist()
  }

  /** All-pairs 3-shingle Jaccard ≥ 0.8 in DuckDB (ground truth). */
  private val nearDupOracle: String =
    s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
        sh AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                FOR i IN range(1, len(t) - 1)]) AS s
               FROM toks WHERE len(t) >= 3),
        pairs AS (
          SELECT a.doc_id AS aid, b.doc_id AS bid,
            len(list_intersect(a.s, b.s))::DOUBLE /
              len(list_distinct(list_concat(a.s, b.s))) AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT aid, bid, round(j, 4) AS jac FROM pairs
        WHERE j >= 0.8 ORDER BY aid, bid"""

  /** Ten unrolled PageRank steps in DuckDB — shared by the ad-hoc and
    * bucketed-layout rows (identical semantics, different physical plan). */
  private val pagerankOracle: String = {
    val base = """WITH e AS (SELECT l_orderkey % 100 AS src,
                    l_suppkey % 100 AS dst FROM lineitem),
          nodes AS (SELECT src AS node FROM e
                    UNION SELECT dst FROM e),
          nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
          outdeg AS (SELECT src, count(*)::DOUBLE AS outd
                     FROM e GROUP BY src),
          pr0 AS (SELECT node, 1.0 / nn.n AS rank
                  FROM nodes CROSS JOIN nn)"""
    val steps = (1 to 10).map { k =>
      s"""pr$k AS (
            SELECT nodes.node,
              (0.15 / nn.n) + 0.85 *
                (coalesce(m.mass, 0) + dg.dm / nn.n) AS rank
            FROM nodes CROSS JOIN nn
            LEFT JOIN (SELECT e.dst AS node,
                         sum(p.rank / o.outd) AS mass
                       FROM pr${k - 1} p
                       JOIN outdeg o ON p.node = o.src
                       JOIN e ON e.src = p.node
                       GROUP BY e.dst) m USING(node)
            CROSS JOIN (SELECT coalesce(sum(p.rank), 0) AS dm
                        FROM pr${k - 1} p
                        LEFT JOIN outdeg o ON p.node = o.src
                        WHERE o.src IS NULL) dg)"""
    }.mkString(",\n")
    s"""$base,
        $steps
        SELECT node, round(rank, 6) AS rank FROM pr10 ORDER BY node"""
  }

  /** Ten unrolled HITS steps (window-form L2 norms — one reference per
    * CTE: a doubly-referenced CTE inlines as two copies in DuckDB, which
    * across 10 chained iterations expands exponentially; the plan
    * exhausted the fd limit re-opening the parquet scan before this was
    * flattened to window-normalization). Shared by the ad-hoc and
    * bucketed-layout rows. */
  private val hitsOracle: String = {
    val base = """WITH e AS (SELECT l_orderkey % 100 AS src,
                    l_suppkey % 100 AS dst FROM lineitem),
          nodes AS (SELECT src AS node FROM e
                    UNION SELECT dst FROM e),
          h0 AS (SELECT node, 1.0 AS hub FROM nodes)"""
    val steps = (1 to 10).map { k =>
      s"""a${k}r AS (SELECT e.dst AS node, sum(p.hub) AS auth
            FROM e JOIN h${k - 1} p ON e.src = p.node GROUP BY e.dst),
          a$k AS (SELECT nodes.node,
              coalesce(a${k}r.auth, 0)
                / sqrt(sum(coalesce(a${k}r.auth, 0)
                           * coalesce(a${k}r.auth, 0)) OVER ()) AS auth
            FROM nodes LEFT JOIN a${k}r USING (node)),
          h${k}r AS (SELECT e.src AS node, sum(p.auth) AS hub
            FROM e JOIN a$k p ON e.dst = p.node GROUP BY e.src),
          h$k AS (SELECT nodes.node,
              coalesce(h${k}r.hub, 0)
                / sqrt(sum(coalesce(h${k}r.hub, 0)
                           * coalesce(h${k}r.hub, 0)) OVER ()) AS hub
            FROM nodes LEFT JOIN h${k}r USING (node))"""
    }.mkString(",\n")
    s"""$base,
        $steps
        SELECT a10.node, round(a10.auth, 6) AS auth,
          round(h10.hub, 6) AS hub
        FROM a10 JOIN h10 USING (node) ORDER BY node"""
  }

  /** PPMI embedding training replayed in DuckDB: window-2 co-occurrence
    * (position self-join), integer-marginal PPMI rounded to 6 (the pinned
    * matrix BOTH engines iterate), top-8 dims by (count marginal DESC,
    * term), and three window-normalized power steps (the q_graph_hits
    * single-reference-per-CTE discipline). */
  private val embedTrainOracle: String = {
    val base = s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
          pos AS (SELECT doc_id, unnest([{'pos': i, 'term': t[i]}
                    FOR i IN range(1, len(t) + 1)], recursive := true)
                  FROM toks),
          pr AS (SELECT a.term AS x, b.term AS y
                 FROM pos a JOIN pos b ON a.doc_id = b.doc_id
                  AND b.pos > a.pos AND b.pos <= a.pos + 2),
          cooc AS (SELECT a, b, count(*)::BIGINT AS cab FROM (
                     SELECT x AS a, y AS b FROM pr
                     UNION ALL SELECT y AS a, x AS b FROM pr)
                   GROUP BY a, b),
          marg AS (SELECT a, sum(cab)::DOUBLE AS ca FROM cooc GROUP BY a),
          tot AS (SELECT sum(cab)::DOUBLE AS total FROM cooc),
          pp AS (SELECT w.a, w.b, w.w FROM (
                   SELECT c.a, c.b,
                     round(greatest(0.0, ln(c.cab::DOUBLE * tot.total /
                       (ma.ca * mb.cb))), 6) AS w
                   FROM cooc c
                   JOIN marg ma ON c.a = ma.a
                   JOIN (SELECT a AS b, ca AS cb FROM marg) mb ON c.b = mb.b
                   CROSS JOIN tot) w
                 WHERE w.w > 0),
          dims AS (SELECT b, dim_rank FROM (
                     SELECT a AS b,
                       row_number() OVER (ORDER BY ca DESC, a) AS dim_rank
                     FROM marg) WHERE dim_rank <= 8),
          cells AS (SELECT v.a AS term, d.dim_rank, coalesce(p.w, 0.0) AS w
                    FROM marg v CROSS JOIN dims d
                    LEFT JOIN pp p ON p.a = v.a AND p.b = d.b),
          vecs AS (SELECT term, list(w ORDER BY dim_rank) AS vec
                   FROM cells GROUP BY term),
          v0 AS (SELECT a AS term, 1.0 AS v FROM marg)"""
    val steps = (1 to 3).map { k =>
      s"""v${k}r AS (SELECT p.a AS term, sum(p.w * q.v) AS v
            FROM pp p JOIN v${k - 1} q ON p.b = q.term GROUP BY p.a),
          v$k AS (SELECT m.a AS term,
              coalesce(r.v, 0) / sqrt(sum(coalesce(r.v, 0)
                * coalesce(r.v, 0)) OVER ()) AS v
            FROM marg m LEFT JOIN v${k}r r ON m.a = r.term)"""
    }.mkString(",\n")
    s"""$base,
        $steps
        SELECT vecs.term, vecs.vec, round(v3.v, 6) AS pc1
        FROM vecs JOIN v3 USING (term) ORDER BY vecs.term"""
  }

  /** The oracle-boundary shape for a trained embedding frame: the vec
    * array EXPLODED to scalar (term, dim, value) rows (the q_collect
    * house rule — the driver's comparator hashes scalar cells only),
    * 1-based dims, pinned 6-digit values. */
  private def explodeEmbedding(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.select(col("term"), col("pc1"),
        posexplode(col("vec")).as(Seq("dim0", "value0")))
      .select(col("term"), (col("dim0") + 1).cast("long").as("dim"),
        round(col("value0"), 6).as("value"), col("pc1"))
      .orderBy("term", "dim")

  /** [[embedTrainOracle]] pushed through the same explode — shared by the
    * batch-trained and incrementally-maintained rows (their outputs must
    * be identical by the additivity contract). */
  private val embedTrainExplodedOracle: String =
    s"""WITH emb AS ($embedTrainOracle),
        ex AS (SELECT term, pc1,
            unnest([{'dim': CAST(i AS BIGINT),
                     'value': round(vec[i], 6)}
              FOR i IN range(1, len(vec) + 1)], recursive := true)
          FROM emb)
        SELECT term, dim, value, pc1 FROM ex ORDER BY term, dim"""

  /** The (l_orderkey%100 → l_suppkey%100) edge list every q_graph_* row
    * iterates. */
  private def graphEdges(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "lineitem").select(
      (col("l_orderkey") % 100).as("src"),
      (col("l_suppkey") % 100).as("dst"))

  /** Bucketed edge layout for `dir`, built ONCE per (JVM, corpus dir) —
    * the [[graft.queries.Fts]] servedIndex pattern applied to graph
    * state: a real deployment maintains the layout out-of-band and
    * iterative queries SERVE from it, so re-paying the one-time
    * bucketBy write per query would mismeasure the path the layout
    * exists for. Keyed by corpus-dir md5 so sf dirs never collide;
    * synchronized since suites drive queries concurrently in one JVM. */
  private def edgeLayoutFor(s: org.apache.spark.sql.SparkSession,
                            dir: String): Rank.EdgeLayout = synchronized {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    val name = s"edges_g$key"
    // dir-PATH-keyed layout: an in-JVM corpus rewrite must drop both the
    // catalog tables and the bucketed files (Tables.invalidate runs this)
    graft.core.Scratch.registerLayout(dir, name) { () =>
      Seq(s"${name}_by_src", s"${name}_by_dst").foreach(t =>
        scala.util.Try(s.sql(s"DROP TABLE IF EXISTS $t")))
      graft.core.Scratch.deleteLocal(graft.core.Scratch.dir(name))
    }
    if (s.catalog.tableExists(s"${name}_by_src") &&
        s.catalog.tableExists(s"${name}_by_dst"))
      Rank.EdgeLayout(s.table(s"${name}_by_src"), s.table(s"${name}_by_dst"))
    else Rank.writeEdgeLayout(graphEdges(s, dir),
      graft.core.Scratch.dir(name), name, buckets = 8)
  }

  /** The trained PPMI embedding space for `dir`, built ONCE per (JVM,
    * corpus dir) and served from parquet thereafter — the servedIndex /
    * [[edgeLayoutFor]] pattern applied to embedding state: a deployment
    * trains the space out-of-band and every serving surface (train dump,
    * analogy, neighbors) reads the vocabulary-sized table, so re-paying
    * the corpus co-occurrence pass per query would mismeasure serving.
    * Keyed by corpus-dir md5 so sf corpora never collide; `_SUCCESS`
    * marks a complete write; synchronized since suites drive queries
    * concurrently in one JVM. */
  private def embedLayoutFor(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    synchronized {
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val outDir = graft.core.Scratch.dir(s"embed_layout_$key")
      // layout is dir-PATH-keyed, so an in-JVM corpus rewrite under the
      // same path must drop it — Tables.invalidate(dir) runs this thunk
      graft.core.Scratch.registerLayout(dir, s"embed_layout_$key")(() =>
        graft.core.Scratch.deleteLocal(outDir))
      val done = new org.apache.hadoop.fs.Path(s"$outDir/_SUCCESS")
      val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(done))
        Embed.trainPpmiEmbeddings(Tables(s, dir, "documents"),
            window = 2, dims = 8, powerIters = 3)
          .write.mode("overwrite").parquet(outDir)
      s.read.parquet(outDir)
    }

  def queries: Seq[Q] = Seq(

    // ---- deduplication ------------------------------------------------------
    Q("q_dedup_exact",
      (s, dir) => Dedup.exactStats(Tables(s, dir, "documents")),
      Some("""SELECT count(*) AS total, count(DISTINCT text) AS distinct_texts,
              count(*) - count(DISTINCT text) AS dup_docs FROM documents""")),

    // NORMALIZE-THEN-DEDUP — why text_normalize exists, demonstrated as
    // data: the fixture mixes encodings the way multi-source crawls do —
    // all 500 docs carry a DECOMPOSED e+U+0301 suffix, and 250 re-ingested
    // copies carry the PRECOMPOSED é of the SAME visible text. Raw
    // exact-dedup sees 750 distinct content keys (every copy missed); the
    // NFC pre-pass collapses exactly the 250 cross-encoding pairs back to
    // 500. The n_raw − n_nfc gap IS the silent dup leak a pipeline ships
    // without normalization. Oracle replays fixture + counts via
    // nfc_normalize, hash-exact.
    Q("q_dedup_nfc",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents_dnfc")
        s.sql("""WITH decomposed AS (
                   SELECT doc_id, text || ' cafe\u0301' AS t0 FROM documents_dnfc),
                 copies AS (
                   SELECT doc_id + 10000 AS doc_id, text || ' caf\u00e9' AS t0
                   FROM documents_dnfc WHERE doc_id % 2 = 0),
                 fixture AS (SELECT * FROM decomposed
                             UNION ALL SELECT * FROM copies)
                 SELECT count(*) AS n_docs,
                   count(DISTINCT md5(t0)) AS n_raw,
                   count(DISTINCT md5(text_normalize(t0, 'NFC'))) AS n_nfc
                 FROM fixture""")
      },
      Some("""WITH decomposed AS (
                SELECT doc_id, text || ' cafe' || chr(769) AS t0 FROM documents),
              copies AS (
                SELECT doc_id + 10000 AS doc_id, text || ' caf' || chr(233) AS t0
                FROM documents WHERE doc_id % 2 = 0),
              fixture AS (SELECT * FROM decomposed
                          UNION ALL SELECT * FROM copies)
              SELECT count(*) AS n_docs,
                count(DISTINCT md5(t0)) AS n_raw,
                count(DISTINCT md5(nfc_normalize(t0))) AS n_nfc
              FROM fixture""")),

    Q("q_dedup_minhash",
      (s, dir) => Dedup.nearDupPairsMinhash(Tables(s, dir, "documents"), 0.8),
      Some(nearDupOracle)),

    Q("q_dedup_simhash",
      (s, dir) => Dedup.nearDupPairsSimhash(Tables(s, dir, "documents"), 0.8),
      Some(nearDupOracle)),


    Q("q_dedup_ngram",
      (s, dir) => Dedup.nearDupPairsNgram(Tables(s, dir, "documents"), 0.8),
      Some(nearDupOracle)),

    // SKEWED-BAND LSH dedup — the dedup twin of q_fts_skew_serving's hot
    // term (a stopword-scale band key): 400 of 500 fixture docs are
    // rewritten to ONE boilerplate template (the production shape — site
    // chrome, error pages, cookie banners form a single near-dup cluster
    // of corpus scale), so every band has one bucket carrying 400 of its
    // rows and the banded self-join's hot partition clears
    // factor×median. AQE's OptimizeSkewedJoin must split it at mapper
    // granularity — a SELF-join is skewed on BOTH sides of the same
    // partition, which Spark handles with cartesian sub-splits
    // (left-slices × right-slices); plan-asserted in PlanShapeSpec. The
    // banded row is deliberately narrow (doc_id, n, band, bh) and a hot
    // bucket's rows differ only in doc_id, so lz4 flattens the byte skew
    // (~4×) — fixture thresholds are sized for that; at 100 TB a
    // boilerplate cluster is 10⁸ band rows and clears any factor on
    // mass alone. Output aggregates the VERIFIED pairs (exact Jaccard),
    // so the oracle is all-pairs ground truth, not an LSH artifact:
    // identical texts collide in every band (recall exactly 1).
    Q("q_dedup_skew",
      (s0, dir) => {
        val s = s0.newSession()
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        // the skew GEOMETRY needs the band keyspace spread thin: 16 hot
        // keys over 32 reduce partitions keeps the median partition
        // organic-sized (a 4-partition test session would average the
        // hot mass into every partition and nothing clears factor×median)
        s.conf.set("spark.sql.shuffle.partitions", "32")
        val sets = Dedup.shingleSets(skewFixture(s, dir))
        val pairs = Dedup.verifyJaccard(
          Dedup.minhashCandidates(sets), sets, 0.8)
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("aid") < 400 && col("bid") < 400, 1L)
            .otherwise(0L)).as("n_template"),
          sum(when(col("aid") >= 400 || col("bid") >= 400, 1L)
            .otherwise(0L)).as("n_organic"),
          round(min(col("jac")), 4).as("min_jac"))
      },
      Some(s"""WITH $skewFixtureSql,
              toks AS (SELECT doc_id, $DTOKS AS t FROM fixture),
              sh AS (SELECT doc_id,
                       list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                      FOR i IN range(1, len(t) - 1)]) AS s
                     FROM toks WHERE len(t) >= 3),
              pairs AS (
                SELECT a.doc_id AS aid, b.doc_id AS bid,
                  len(list_intersect(a.s, b.s))::DOUBLE /
                    len(list_distinct(list_concat(a.s, b.s))) AS j
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              SELECT count(*) AS n_pairs,
                CAST(sum(CASE WHEN aid < 400 AND bid < 400 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_template,
                CAST(sum(CASE WHEN aid >= 400 OR bid >= 400 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_organic,
                round(min(j), 4) AS min_jac
              FROM pairs WHERE j >= 0.8""")),

    // The CAPPED alternative on the same hot-band corpus: instead of
    // skew-SPLITTING the C(400,2)-pair bucket (q_dedup_skew), the
    // candidate generator caps per-bucket pair mass — buckets over the
    // cap emit n−1 STAR pairs against their lowest doc_id, so the hot
    // key never reaches the banded self-join at all
    // (Dedup.minhashCandidatesCapped: bucket stats are map-side-combined,
    // the bn ≤ cap filter removes the hot bucket before the join). Under
    // CONNECTED-COMPONENT dedup policy the output is EXACT here, not
    // approximate: every star pair of the boilerplate cluster verifies
    // at Jaccard 1, so the cluster closes into the same single component
    // the all-pairs ground truth produces, and small buckets still emit
    // all pairs — the oracle is the recursive-reachability ground truth
    // over ALL-pairs Jaccard (the q_dedup_cc bar), hash-exact. Pair mass:
    // 399 star pairs vs 79,800 — the 100 TB path when one template
    // cluster holds 10⁸ docs and C(n,2) is unpayable at any parallelism.
    Q("q_dedup_skew_capped",
      (s, dir) => {
        val sets = Dedup.shingleSets(skewFixture(s, dir))
        val pairs = Dedup.verifyJaccard(
          Dedup.minhashCandidatesCapped(sets, cap = 32), sets, 0.8)
        Components.connectedComponents(
          pairs.select(col("aid"), col("bid"))).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $skewFixtureSql,
               toks AS (SELECT doc_id, $DTOKS AS t FROM fixture),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS s
                      FROM toks WHERE len(t) >= 3),
               p AS (SELECT a.doc_id AS aid, b.doc_id AS bid
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.s, b.s))::DOUBLE /
                           len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
               e AS (SELECT aid AS a, bid AS b FROM p
                     UNION SELECT bid, aid FROM p),
               n AS (SELECT DISTINCT a AS id FROM e),
               reach(id, r) AS (
                 SELECT id, id FROM n
                 UNION
                 SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id)
               SELECT id AS doc_id, min(r) AS comp FROM reach
               GROUP BY id ORDER BY doc_id""")),

    // AUTO hot-band policy (Dedup.minhashCandidatesAuto): the split-vs-cap
    // decision rule as an entry point — cap a bucket once its own pair
    // mass C(n,2) exceeds the per-bucket budget, leave the rest to the
    // ordinary banded join (+ AQE if residual skew remains). The fixture's
    // boilerplate cluster (400 docs → 79,800 pairs/bucket) exceeds the
    // 1,000-pair budget passed here (→ cap 45), so the hot buckets STAR
    // while the organic near-dup buckets keep exact all-pairs — and the
    // result is hash-equal to the same recursive-reachability ground truth
    // as the capped row, proving the policy seam changes nothing under
    // connected-component semantics.
    Q("q_dedup_auto",
      (s, dir) => {
        val sets = Dedup.shingleSets(skewFixture(s, dir))
        val pairs = Dedup.verifyJaccard(
          Dedup.minhashCandidatesAuto(sets, pairBudgetPerBucket = 1000L),
          sets, 0.8)
        Components.connectedComponents(
          pairs.select(col("aid"), col("bid"))).orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $skewFixtureSql,
               toks AS (SELECT doc_id, $DTOKS AS t FROM fixture),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS s
                      FROM toks WHERE len(t) >= 3),
               p AS (SELECT a.doc_id AS aid, b.doc_id AS bid
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.s, b.s))::DOUBLE /
                           len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
               e AS (SELECT aid AS a, bid AS b FROM p
                     UNION SELECT bid, aid FROM p),
               n AS (SELECT DISTINCT a AS id FROM e),
               reach(id, r) AS (
                 SELECT id, id FROM n
                 UNION
                 SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id)
               SELECT id AS doc_id, min(r) AS comp FROM reach
               GROUP BY id ORDER BY doc_id""")),

    // Dedup clustering: near-dup similarity is not transitive, but dedup
    // policy is ("one doc per connected cluster") — close the verified pairs
    // into components. Spark side = alternating large-star/small-star
    // contraction (O(log² n) rounds of groupBy+join, never a driver
    // union-find); oracle = recursive-CTE reachability ground truth, so the
    // hash match proves the contraction computes exactly min-reachable-id.
    Q("q_dedup_cc",
      (s, dir) => Components.connectedComponents(
          Dedup.nearDupPairsNgram(Tables(s, dir, "documents"), 0.8))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
               toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS s
                      FROM toks WHERE len(t) >= 3),
               p AS (SELECT a.doc_id AS aid, b.doc_id AS bid
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.s, b.s))::DOUBLE /
                           len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
               e AS (SELECT aid AS a, bid AS b FROM p
                     UNION SELECT bid, aid FROM p),
               n AS (SELECT DISTINCT a AS id FROM e),
               reach(id, r) AS (
                 SELECT id, id FROM n
                 UNION
                 SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id)
               SELECT id AS doc_id, min(r) AS comp FROM reach
               GROUP BY id ORDER BY doc_id""")),

    // KEEP-BEST near-dup resolution — the dedup END-GAME every curation
    // pipeline runs: near-dup pairs → connected components → per-cluster
    // survivor by CLASSIFIER quality (ties break on doc_id), losers
    // anti-joined away, unpaired docs untouched. Composes three shipped
    // components (LSH-free exact-blocking pairs, large/small-star CC,
    // hashed classifier); per-cluster ranking is a window over the
    // cluster frame (pairs-sized, not corpus-sized). Oracle replays
    // pairs + reachability + quality + argmax in one statement.
    Q("q_pipeline_keep_best",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val comps = Components.connectedComponents(
          Dedup.nearDupPairsNgram(docs, 0.8))
        val quality = Classifier.score(docs, Classifier.hashWeights(s))
        val losers = comps.join(quality, "doc_id")
          .withColumn("rk", row_number().over(
            Window.partitionBy("comp")
              .orderBy(col("quality").desc, col("doc_id"))))
          .filter(col("rk") > 1).select("doc_id")
        docs.join(losers, Seq("doc_id"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE
               toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS s
                      FROM toks WHERE len(t) >= 3),
               p AS (SELECT a.doc_id AS aid, b.doc_id AS bid
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.s, b.s))::DOUBLE /
                           len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
               e AS (SELECT aid AS a, bid AS b FROM p
                     UNION SELECT bid, aid FROM p),
               n AS (SELECT DISTINCT a AS id FROM e),
               reach(id, r) AS (
                 SELECT id, id FROM n
                 UNION
                 SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id),
               comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach
                        GROUP BY id),
               fx AS (SELECT doc_id, list_concat(t,
                        CASE WHEN len(t) >= 2
                          THEN [t[i] || '_' || t[i+1] FOR i IN range(1, len(t))]
                          ELSE [] END) AS fs
                      FROM toks),
               exf AS (SELECT doc_id, unnest(fs) AS fe FROM fx),
               bq AS (SELECT doc_id, substring(md5(fe), 1, 2) AS bucket FROM exf),
               w AS (SELECT lower(lpad(to_hex(i), 2, '0')) AS bucket,
                       (ascii(substring(lower(lpad(to_hex(i), 2, '0')), 1, 1)) * 7 +
                        ascii(substring(lower(lpad(to_hex(i), 2, '0')), 2, 1)) * 13)
                         % 21 - 10 AS w
                     FROM range(256) r(i)),
               qual AS (SELECT bq.doc_id,
                          round(1.0 / (1.0 + exp(-(sum(coalesce(w.w, 0))::DOUBLE /
                            (count(*) * 2.0)))), 4) AS quality
                        FROM bq LEFT JOIN w USING(bucket) GROUP BY bq.doc_id),
               ranked AS (SELECT c.doc_id,
                            row_number() OVER (PARTITION BY c.comp
                              ORDER BY q.quality DESC, c.doc_id) AS rk
                          FROM comp c JOIN qual q USING(doc_id)),
               losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
               SELECT lang, count(*) AS n_docs FROM documents
               WHERE doc_id NOT IN (SELECT doc_id FROM losers)
               GROUP BY lang ORDER BY lang""")),

    // The raw embeddings fixture has NO cosine-0.8 pairs (uniform random
    // directions), which made this oracle match vacuously empty — so SEED
    // true near-dups on both sides: exact clones of the five lowest ids at
    // vec_id+100000. Identical vectors land in identical LSH buckets by
    // construction (every hyperplane projection has the same sign), so the
    // candidate path, the verify kernel, AND the non-empty result are all
    // proven against the all-pairs oracle.
    Q("q_dedup_embed",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val seeded = emb.unionByName(
          emb.filter(col("vec_id") < 5)
            .withColumn("vec_id", col("vec_id") + 100000L))
        Similarity.nearDupPairs(seeded, 0.8)
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              e AS (SELECT * FROM base
                    UNION ALL
                    SELECT vec_id + 100000, v FROM base WHERE vec_id < 5),
              p AS (SELECT a.vec_id AS aid, b.vec_id AS bid,
                      list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
                    FROM e a JOIN e b ON a.vec_id < b.vec_id)
              SELECT aid, bid, round(c, 4) AS cosim FROM p
              WHERE round(c, 4) >= 0.8 ORDER BY aid, bid""")),

    // SemDeDup (Abbas et al. 2023): cluster-blocked semantic dedup — the
    // q_dedup_embed seeded-clone fixture run through Dedup.semDedup.
    // Identical clones score identically against every center, so they land
    // in the same cell and die at cosine 1.0; the oracle replays center
    // seeding (16 lowest ids), the rounded scaled-dot argmax with first-max
    // tiebreak, the within-cell pair verify, and the keep-lowest-id policy.
    Q("q_dedup_semantic",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val seeded = emb.unionByName(
          emb.filter(col("vec_id") < 5)
            .withColumn("vec_id", col("vec_id") + 100000L))
        Dedup.semDedup(seeded)
          .select(col("vec_id"), col("cell"), col("label"))
          .orderBy("vec_id")
      },
      Some("""WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                            FROM embeddings),
              e AS (SELECT * FROM base
                    UNION ALL
                    SELECT vec_id + 100000, label, v FROM base WHERE vec_id < 5),
              cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
                        FROM e WHERE list_dot_product(v, v) > 0
                        QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
              scored AS (SELECT e.vec_id, e.label, c.cid,
                           round(list_dot_product(e.v, c.cv) /
                                 sqrt(list_dot_product(c.cv, c.cv)), 9) AS s
                         FROM e CROSS JOIN cents c),
              assigned AS (SELECT vec_id, label, cid::INTEGER AS cell FROM (
                             SELECT vec_id, label, cid,
                               row_number() OVER (PARTITION BY vec_id
                                 ORDER BY s DESC, cid) AS rn
                             FROM scored) WHERE rn = 1),
              av AS (SELECT a.vec_id, a.cell, e.v
                     FROM assigned a JOIN e USING (vec_id)),
              dropped AS (SELECT DISTINCT b.vec_id FROM av a JOIN av b
                          ON a.cell = b.cell AND a.vec_id < b.vec_id
                          WHERE round(list_dot_product(a.v, b.v) /
                            (sqrt(list_dot_product(a.v, a.v)) *
                             sqrt(list_dot_product(b.v, b.v))), 4) >= 0.8)
              SELECT vec_id, cell, label FROM assigned
              WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
              ORDER BY vec_id""")),

    // DECONTAMINATION — eval-set overlap removal, the step every serious
    // training pipeline runs before training: corpus docs whose shingle
    // Jaccard against ANY benchmark doc reaches 0.8 are dropped. Cross-
    // corpus LSH (benchmark side broadcast — eval sets are tiny, the
    // corpus is not) + exact verify on candidates. Fixture benchmark =
    // every 7th doc, so those docs (J=1 with themselves) and their
    // near-dups vanish; the oracle replays the all-pairs cross Jaccard.
    // EXACT N-GRAM decontamination (Brown et al. 2020 Appendix C — the
    // GPT-3 13-gram collision rule, the conservative "any verbatim
    // overlap" semantics beside q_dedup_decontam's Jaccard threshold):
    // benchmark = every 50th doc; its distinct 13-grams broadcast into
    // one semi-join against the corpus's exploded grams — the benchmark
    // docs flag themselves, anything sharing a verbatim 13-gram goes
    // with them, survivors anti-join. Oracle replays shingles + join.
    Q("q_dedup_decontam_ngram",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.decontaminateNgram(docs, docs.filter(col("doc_id") % 50 === 0))
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               sh AS (SELECT doc_id,
                        unnest([array_to_string(t[i:i+12], ' ')
                                FOR i IN range(1, len(t) - 11)]) AS g
                      FROM toks WHERE len(t) >= 13),
               bg AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
               bad AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bg USING(g))
               SELECT doc_id FROM documents ANTI JOIN bad USING(doc_id)
               ORDER BY doc_id""")),

    // ALL-PAIRS SIMILARITY SEARCH, exact threshold (Bayardo WW'07 prefix
    // filter — the cosine edition of the ngram prefix blocking): every
    // pair with 5-gram-shingle TF-IDF cosine >= 0.5, recall 1.0 by construction
    // (the suffix bound is a proof: the pair's first shared feature in
    // the rare-first global order must sit inside both prefixes).
    // Candidates meet only on indexed features; the exact cosine verify
    // is candidate-bounded; never O(N²). Oracle = brute-force ground
    // truth over all shared-feature pairs, so the hash match proves the
    // pruning lossless.
    Q("q_dedup_apss",
      (s, dir) => Dedup.cosinePairsApss(Tables(s, dir, "documents"), 0.5),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               sh AS (SELECT doc_id,
                        unnest([array_to_string(t[i:i+4], ' ')
                                FOR i IN range(1, len(t) - 3)]) AS term
                      FROM toks WHERE len(t) >= 5),
               tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
                      FROM sh GROUP BY 1, 2),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
               st AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tf),
               w AS (SELECT doc_id, term, tf * ln(st.n / df.df) AS w
                     FROM tf JOIN df USING (term) CROSS JOIN st),
               nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nm FROM w GROUP BY 1),
               wn AS (SELECT w.doc_id, term, w / nm AS wn
                      FROM w JOIN nrm USING (doc_id)),
               p AS (SELECT a.doc_id AS aid, b.doc_id AS bid,
                       round(sum(a.wn * b.wn), 4) AS cos
                     FROM wn a JOIN wn b
                       ON a.term = b.term AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
               SELECT aid, bid, cos FROM p WHERE cos >= 0.5
               ORDER BY aid, bid""")),

    // BLOOM-FILTER decontamination audit (Dolma-class): the benchmark's
    // 13-grams compress into a Bloom filter (k=3, md5-slot hashing both
    // engines replay bit-for-bit); per doc the audit counts grams passing
    // the filter vs grams verbatim in the benchmark — fp_grams is the
    // price of making the broadcast side m/8 bytes instead of the gram
    // strings. m = 2^13 is deliberately undersized for the fixture's 359
    // benchmark grams (load ~0.13) so the false-positive arm is LIVE at
    // oracle scale (~43 fp grams / 38 fp docs at sf0.01); production m
    // scales with the benchmark, the semantics don't change. No false
    // negatives by construction (exact ⊆ bloom, spec-asserted), and the
    // broadcast-bitset serving path is spec-asserted identical to this
    // relational formulation.
    Q("q_dedup_decontam_bloom",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.bloomContaminationAudit(docs,
          docs.filter(col("doc_id") % 50 === 0), mBits = 8192)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               shraw AS (SELECT doc_id,
                           unnest([array_to_string(t[i:i+12], ' ')
                                   FOR i IN range(1, len(t) - 11)]) AS g
                         FROM toks WHERE len(t) >= 13),
               sh AS (SELECT DISTINCT doc_id, g FROM shraw),
               bgr AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
               slots AS (SELECT unnest([0, 1, 2]) AS i),
               occ AS (SELECT DISTINCT
                         (CAST('0x' || substring(md5(g || ':' || CAST(i AS VARCHAR)), 1, 15)
                               AS BIGINT) % 8192) AS pos
                       FROM bgr CROSS JOIN slots),
               cpos AS (SELECT doc_id, g, i,
                          (CAST('0x' || substring(md5(g || ':' || CAST(i AS VARCHAR)), 1, 15)
                                AS BIGINT) % 8192) AS pos
                        FROM sh CROSS JOIN slots),
               bh AS (SELECT doc_id, g FROM cpos JOIN occ USING (pos)
                      GROUP BY doc_id, g HAVING count(*) = 3),
               bl AS (SELECT doc_id, count(*) AS bloom_grams FROM bh GROUP BY doc_id),
               ex AS (SELECT doc_id, count(*) AS exact_grams
                      FROM (SELECT DISTINCT sh.doc_id, sh.g FROM sh JOIN bgr USING (g))
                      GROUP BY doc_id)
               SELECT bl.doc_id, bl.bloom_grams,
                 coalesce(ex.exact_grams, 0) AS exact_grams,
                 bl.bloom_grams - coalesce(ex.exact_grams, 0) AS fp_grams
               FROM bl LEFT JOIN ex USING (doc_id) ORDER BY doc_id""")),

    Q("q_dedup_decontam",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val bench = docs.filter(col("doc_id") % 7 === 0)
        Dedup.decontaminate(docs, bench, 0.8)
          .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS s
                      FROM toks WHERE len(t) >= 3),
               bench AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
               contaminated AS (
                 SELECT DISTINCT c.doc_id FROM sh c JOIN bench b ON true
                 WHERE len(list_intersect(c.s, b.s))::DOUBLE /
                       len(list_distinct(list_concat(c.s, b.s))) >= 0.8)
               SELECT lang, count(*) AS n FROM documents
               WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
               GROUP BY lang ORDER BY lang""")),

    // LINE-level dedup (RefinedWeb/CCNet): boilerplate lines — trimmed
    // form in >= 50 distinct docs — removed from every doc, order
    // preserved. The fixture docs are single-line, so both sides derive
    // the same multi-line corpus deterministically (the q_dedup_embed
    // seeded-fixture pattern): tokens re-wrapped 6 per line, plus a
    // footer on even ids (df 250 -> dropped), a newsletter line on %5
    // (df 100 -> dropped), and a banner on %11 (df 46 < 50 -> KEPT,
    // pinning the threshold direction). Oracle replays fixture + dedup.
    // EXACT-SUBSTRING dedup (Lee et al. ExactSubstr, relational form): a
    // token position inside any 5-gram occurring in >= 2 DISTINCT docs is
    // duplicated and removed; survivors reassemble in order. No suffix
    // array: with a fixed span floor k, duplicated-span = union of
    // duplicated k-windows. One shuffle on the gram, one on (doc, pos),
    // one on doc_id — never all-pairs. Oracle replays windows, df, cover,
    // and reassembly; per-doc cleaned text + drop count hash exact.
    Q("q_dedup_substr",
      (s, dir) => Dedup.exactSubstrDedup(Tables(s, dir, "documents"), k = 5)
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               g0 AS (SELECT doc_id, t,
                        unnest(range(1, greatest(len(t) - 3, 1))) AS pos
                      FROM toks),
               g AS (SELECT doc_id, pos,
                       array_to_string(t[pos:pos+4], ' ') AS gram FROM g0),
               hot AS (SELECT gram FROM g GROUP BY gram
                       HAVING count(DISTINCT doc_id) >= 2),
               cov AS (SELECT DISTINCT doc_id,
                         unnest(range(pos, pos + 5)) AS p
                       FROM g JOIN hot USING (gram)),
               tk AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS p,
                        unnest(t) AS tok FROM toks),
               kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
                        ANTI JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p),
               rebuilt AS (SELECT doc_id,
                             array_to_string(list(tok ORDER BY p), ' ') AS clean,
                             count(*) AS n_kept
                           FROM kept GROUP BY doc_id)
               SELECT toks.doc_id, COALESCE(r.clean, '') AS text,
                 CAST(len(t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
               FROM toks LEFT JOIN rebuilt r USING (doc_id)
               ORDER BY toks.doc_id""")),

    Q("q_dedup_lines",
      (s, dir) => {
        val toks = split(col("text"), " ")
        val nLines = ceil(size(toks) / lit(6.0)).cast("int")
        val wrapped = array_join(transform(sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * 6 + 1, lit(6)), " ")), "\n")
        // persist: the interpreted wrap expression would otherwise re-run
        // in every branch that fans out of the fixture (lines ×2 + spine)
        val fixture = Tables(s, dir, "documents").select(col("doc_id"),
          concat(
            when(pmod(col("doc_id"), lit(2)) === 0,
              lit("promo footer visit our site\n")).otherwise(lit("")),
            wrapped,
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("\nsubscribe to the newsletter")).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(11)) === 0,
              lit("\nsale banner limited offer")).otherwise(lit(""))).as("text"))
          .persist()
        fixture.count()
        try {
          val out = Dedup.dedupLines(fixture, 50).orderBy("doc_id")
          s.createDataFrame(
            java.util.Arrays.asList(out.collect(): _*), out.schema)
        } finally fixture.unpersist()
      },
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
                            FROM documents),
              wrapped AS (SELECT doc_id,
                array_to_string([array_to_string(t[i*6+1 : i*6+6], ' ')
                  FOR i IN range(0, cast(ceil(len(t)/6.0) AS INT))], chr(10)) AS w
                FROM base),
              fixture AS (SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0
                      THEN 'promo footer visit our site' || chr(10) ELSE '' END)
                || w
                || (CASE WHEN doc_id % 5 = 0
                         THEN chr(10) || 'subscribe to the newsletter' ELSE '' END)
                || (CASE WHEN doc_id % 11 = 0
                         THEN chr(10) || 'sale banner limited offer' ELSE '' END)
                  AS text FROM wrapped),
              ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM fixture),
              lines AS (SELECT doc_id, unnest(arr) AS line,
                          unnest(range(1, len(arr) + 1)) AS pos FROM ls),
              hot AS (SELECT trim(line) AS norm FROM lines
                      WHERE len(trim(line)) > 0
                      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 50),
              kept AS (SELECT doc_id, pos, line FROM lines
                       WHERE trim(line) NOT IN (SELECT norm FROM hot)),
              agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
                      FROM kept GROUP BY doc_id)
              SELECT f.doc_id, coalesce(a.text, '') AS text
              FROM fixture f LEFT JOIN agg a USING (doc_id)
              ORDER BY f.doc_id""")),

    // ---- similarity search --------------------------------------------------
    Q("q_sim_cosine",
      (s, dir) => Similarity.bruteForceTopK(Tables(s, dir, "embeddings"), 0L, 10),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              sc AS (SELECT vec_id,
                       list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
                     FROM e CROSS JOIN q WHERE vec_id <> 0)
              SELECT vec_id, round(c, 4) AS cosim FROM sc
              ORDER BY round(c, 4) DESC, vec_id LIMIT 10""")),

    // RANGE SEARCH — FAISS range_search semantics: every vector within a
    // cosine RADIUS of the query (the unbounded-count dual of top-k; the
    // shape dedup radii use). Seeded clones (q_dedup_embed's fixture
    // pattern) pin the radius boundary's top end at cosine 1.0 while the
    // 0.25 threshold keeps a non-trivial mid-range set from the raw
    // vectors; one broadcast scan, corpus never shuffled; all-rows-in-
    // radius replayed exactly.
    Q("q_sim_range",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val seeded = emb.unionByName(
          emb.filter(col("vec_id") === 0)
            .withColumn("vec_id", col("vec_id") + 100000L))
        Similarity.rangeSearch(seeded, 0L, 0.25)
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
                            FROM embeddings),
              e AS (SELECT * FROM base
                    UNION ALL
                    SELECT vec_id + 100000, v FROM base WHERE vec_id = 0),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              sc AS (SELECT vec_id,
                       round(list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) *
                          sqrt(list_dot_product(qv, qv))), 4) AS cosim
                     FROM e CROSS JOIN q WHERE vec_id <> 0)
              SELECT vec_id, cosim FROM sc WHERE cosim >= 0.25
              ORDER BY cosim DESC, vec_id""")),

    // MMR DIVERSIFIED RERANK (Carbonell & Goldstein 1998): greedy
    // selection trading relevance against novelty — step i maximizes
    // λ·rel − (1−λ)·max sim to the already-picked set, k=5 at λ=0.7 over
    // the exact top-40 shortlist of query vec 7. The distributed stage is
    // the shortlist (one corpus scan, TakeOrderedAndProject); the greedy
    // loop is serving-sized by construction. The oracle UNROLLS the five
    // greedy steps as chained CTEs, replaying the 9-dp rounded objective
    // and smaller-id tiebreak exactly.
    Q("q_sim_mmr",
      (s, dir) => Similarity.mmrRerank(Tables(s, dir, "embeddings"),
        queryId = 7L, k = 5, lambda = 0.7, shortlist = 40),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT v AS qv FROM e
                    WHERE vec_id = 7 AND list_dot_product(v, v) > 0 LIMIT 1),
              rel AS (SELECT vec_id AS id, v,
                        round(list_dot_product(v, qv) /
                          (sqrt(list_dot_product(v, v)) *
                           sqrt(list_dot_product(qv, qv))), 9) AS rel
                      FROM e, q WHERE vec_id <> 7),
              cand AS (SELECT * FROM rel WHERE rel IS NOT NULL
                       ORDER BY rel DESC, id LIMIT 40),
              s1 AS (SELECT id, v, round(0.7*rel, 9) AS mmr FROM cand
                     ORDER BY round(0.7*rel, 9) DESC, id LIMIT 1),
              p2 AS (SELECT c.id, c.v, round(0.7*c.rel - 0.3*(
                       SELECT max(round(list_dot_product(c.v, s.v) /
                         (sqrt(list_dot_product(c.v, c.v)) *
                          sqrt(list_dot_product(s.v, s.v))), 9)) FROM s1 s), 9) AS mmr
                     FROM cand c WHERE c.id NOT IN (SELECT id FROM s1)),
              s2 AS (SELECT id, v, mmr FROM p2 ORDER BY mmr DESC, id LIMIT 1),
              sel2 AS (SELECT id, v FROM s1 UNION ALL SELECT id, v FROM s2),
              p3 AS (SELECT c.id, c.v, round(0.7*c.rel - 0.3*(
                       SELECT max(round(list_dot_product(c.v, s.v) /
                         (sqrt(list_dot_product(c.v, c.v)) *
                          sqrt(list_dot_product(s.v, s.v))), 9)) FROM sel2 s), 9) AS mmr
                     FROM cand c WHERE c.id NOT IN (SELECT id FROM sel2)),
              s3 AS (SELECT id, v, mmr FROM p3 ORDER BY mmr DESC, id LIMIT 1),
              sel3 AS (SELECT id, v FROM sel2 UNION ALL SELECT id, v FROM s3),
              p4 AS (SELECT c.id, c.v, round(0.7*c.rel - 0.3*(
                       SELECT max(round(list_dot_product(c.v, s.v) /
                         (sqrt(list_dot_product(c.v, c.v)) *
                          sqrt(list_dot_product(s.v, s.v))), 9)) FROM sel3 s), 9) AS mmr
                     FROM cand c WHERE c.id NOT IN (SELECT id FROM sel3)),
              s4 AS (SELECT id, v, mmr FROM p4 ORDER BY mmr DESC, id LIMIT 1),
              sel4 AS (SELECT id, v FROM sel3 UNION ALL SELECT id, v FROM s4),
              p5 AS (SELECT c.id, c.v, round(0.7*c.rel - 0.3*(
                       SELECT max(round(list_dot_product(c.v, s.v) /
                         (sqrt(list_dot_product(c.v, c.v)) *
                          sqrt(list_dot_product(s.v, s.v))), 9)) FROM sel4 s), 9) AS mmr
                     FROM cand c WHERE c.id NOT IN (SELECT id FROM sel4)),
              s5 AS (SELECT id, v, mmr FROM p5 ORDER BY mmr DESC, id LIMIT 1)
              SELECT rank, vec_id, round(mmr, 4) AS mmr FROM (
                SELECT 1 AS rank, id AS vec_id, mmr FROM s1
                UNION ALL SELECT 2, id, mmr FROM s2
                UNION ALL SELECT 3, id, mmr FROM s3
                UNION ALL SELECT 4, id, mmr FROM s4
                UNION ALL SELECT 5, id, mmr FROM s5)
              ORDER BY rank""")),

    // The SQL face of vector search: vec_cosine (kernel dots composed in
    // codegen) ranks the corpus against a scalar-subquery query vector;
    // ORDER BY score LIMIT k plans as TakeOrderedAndProject — the
    // per-partition-heap brute-force baseline, no global sort, at any
    // scale (the pruned serving paths remain the library API). Same
    // oracle as q_sim_cosine — SQL and library brute force must agree.
    Q("q_sim_sql",
      (s, dir) => {
        graft.core.Tables.registerViews(s, dir)
        s.sql("""WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
                            FROM embeddings),
                 q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
                 SELECT vec_id, ROUND(vec_cosine(v, qv), 4) AS cosim
                 FROM e CROSS JOIN q WHERE vec_id <> 0
                 ORDER BY cosim DESC, vec_id LIMIT 10""")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              sc AS (SELECT vec_id,
                       list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
                     FROM e CROSS JOIN q WHERE vec_id <> 0)
              SELECT vec_id, round(c, 4) AS cosim FROM sc
              ORDER BY round(c, 4) DESC, vec_id LIMIT 10""")),

    // ANN vs exact: self-contained recall assertion (approximate results are
    // engine-specific, so both sides emit ok — but the contract is REAL:
    // recall@10 ≥ 0.8 while probing 16 of 4096 buckets (0.4% of the corpus'
    // bucket space; query-directed multiprobe). Runs on the clustered
    // fixture derived from the embeddings table — on uniform-random vectors
    // no sublinear method beats a scan (see Similarity.clusteredVec).
    Q("q_sim_ann",
      (s, dir) => recallCheck(s, dir)(Similarity.annTopK(_, 0L, 10)),
      Some("SELECT true AS ok")),

    // ANN over the PERSISTED LSH-bucketed layout: the corpus is written
    // partitioned by hyperplane-sign bucket, so the query's 16-probe set is
    // a PARTITION filter — 16/4096 of the bucket space read, the corpus
    // never re-bucketed per query (the FTS bucketed-postings layout for
    // vectors; plan-asserted in PlanShapeSpec). Same clustered fixture and
    // recall@10 >= 0.8 contract as q_sim_ann.
    Q("q_sim_ann_persisted",
      (s, dir) => recallCheck(s, dir) { emb =>
        // build once, then serve — the lifecycle the split API enforces
        // (the serving call refuses to rewrite the corpus); build-once per
        // (JVM, corpus dir), serving pays only the pruned bucket reads
        val bucketsDir = graft.core.Scratch.layoutOnce(dir,
            "ann_buckets", "_SUCCESS") { out =>
          Similarity.writeBucketed(emb, out)
        }
        Similarity.annTopKPersisted(emb, bucketsDir, 0L, 10)
      },
      Some("SELECT true AS ok")),

    // IVF — the coarse-quantizer ANN scale path (cells instead of LSH
    // buckets): same clustered fixture and self-contained recall contract
    // as q_sim_ann. recall@10 ≥ 0.8 scanning nprobe/nlist = 4/16 of the
    // corpus' cells.
    Q("q_sim_ivf",
      (s, dir) => recallCheck(s, dir)(Similarity.ivfTopK(_, 0L, 10)),
      Some("SELECT true AS ok")),

    // IVF over the PERSISTED cell-partitioned layout: the probe set is a
    // literal partition filter — the scan reads 4/16 of the files, the
    // corpus is never re-scanned (vector analogue of q_fts_bm25_persisted).
    // Same clustered fixture + recall contract as q_sim_ivf.
    Q("q_sim_ivf_persisted",
      (s, dir) => recallCheck(s, dir) { emb =>
        val cellsDir = graft.core.Scratch.layoutOnce(dir,
            "ivf_cells", "_quantizer/_SUCCESS") { out =>
          Similarity.writeCelled(emb, out)
        }
        Similarity.ivfTopKPersisted(emb, cellsDir, 0L, 10)
      },
      Some("SELECT true AS ok")),

    // PRODUCT QUANTIZATION encode — the 32× compression step between int8
    // and raw vectors (8 sub-space codes per 64-dim vector, 16 centroids
    // per sub-space, deterministic codebooks). The code assignment is
    // exactly reproducible (distances rounded to 9 dp before the argmin,
    // ties to the lowest centroid), so the oracle replays the nearest-
    // centroid argmin per sub-space in SQL and the code CHECKSUM must
    // hash-match — the q_embed_quant contract applied to PQ.
    Q("q_embed_pq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val codebooks = Similarity.pqCodebooks(emb)
        Similarity.pqEncodeAll(emb, codebooks)
          .select(col("vec_id"),
            aggregate(col("pq_codes"), lit(0L),
              (a, c) => a + c.cast("long")).as("code_sum"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS cv
                        FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
              sd AS (SELECT e.vec_id, s.s, c.code,
                       round(list_sum(list_transform(range(1, 9),
                         i -> (e.v[s.s*8 + i] - c.cv[s.s*8 + i])
                              * (e.v[s.s*8 + i] - c.cv[s.s*8 + i]))), 9) AS dist
                     FROM e CROSS JOIN range(8) s(s) CROSS JOIN cents c),
              picked AS (SELECT vec_id, s, code,
                           row_number() OVER (PARTITION BY vec_id, s
                                              ORDER BY dist, code) AS rn
                         FROM sd)
              SELECT vec_id, sum(code)::BIGINT AS code_sum
              FROM picked WHERE rn = 1
              GROUP BY vec_id ORDER BY vec_id""")),

    // ADC serving over the PQ codes: per-candidate cost is 8 LUT lookups
    // over the m-int code row — the raw vectors are never scanned at
    // serve time. The contract matches the codebook's RESOLUTION: 16
    // deterministic centroids per sub-space resolve cluster-level
    // geometry (every member of the query's cluster ties on ADC; rank
    // within the cluster is below quantization resolution), so the
    // assertion is neighborhood recovery — every ADC top-k result lies in
    // the query's cluster, and k results exist (the ANN pattern: the
    // CONTRACT is portable, approximate ranks are not).
    Q("q_sim_pq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val clustered = emb.select(col("vec_id"),
            Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
          .persist()
        clustered.count()
        try {
          val inCluster = clustered
            .filter(pmod(col("vec_id"), lit(24)) === 0).count()
          val k = math.min(10L, inCluster - 1).toInt
          val approx = Similarity.pqTopK(clustered, 0L, k)
          val verdict = approx.agg(
            (count(lit(1)) === k &&
              sum(when(pmod(col("vec_id"), lit(24)) === 0, 0)
                .otherwise(1)) === 0).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally clustered.unpersist()
      },
      Some("SELECT true AS ok")),

    // IVF-PQ — the canonical composition of both scale paths: coarse
    // cells bound WHICH partitions are read (nprobe/nlist partition
    // filter), PQ codes bound WHAT is read per candidate (m ints, not the
    // raw vector). Build persists the celled layout + codes + both
    // quantizer artifacts; serve never touches the raw corpus. Same
    // neighborhood-recovery contract as q_sim_pq.
    // IVF-PQ with the REFINE step (FAISS IndexRefineFlat): ADC over the
    // probed cells shortlists 100 candidates, the shortlist re-ranks by
    // EXACT cosine (a candidate-bounded broadcast join — corpus-size-free),
    // and the top-10 must recover >= 0.8 of brute-force truth. This is the
    // recall contract ADC-only serving can't make on tightly-clustered
    // corpora (AnnRecallSpot measures ADC-only collapsing to 0.04 recall
    // at x10 density while refined holds ~1.0).
    Q("q_sim_ivfpq_refined",
      (s, dir) => recallCheck(s, dir) { emb =>
        // build-once serving layout per (JVM, corpus dir): the layout is a
        // deterministic function of the corpus; serving pays the pruned
        // cell reads, not a per-query re-quantization
        val layoutDir = graft.core.Scratch.layoutOnce(dir,
            "ivfpq_refined_cells", "_pqmeta/_SUCCESS") { out =>
          Similarity.writeCelledPq(emb, out)
        }
        Similarity.ivfPqTopKRefined(emb, layoutDir, 0L, 10)
      },
      Some("SELECT true AS ok")),

    // HARD-NEGATIVE MINING (contrastive training's data step): for each
    // of 8 anchor vectors, the top-5 most-similar corpus vectors with a
    // DIFFERENT label — broadcast anchors × one corpus scan, per-anchor
    // top-k bounded map-side (WindowGroupLimit). Exact, so the oracle
    // replays it brute-force; the pruned scale path is knnJoin + the
    // label-mismatch residual (documented on Similarity.hardNegatives).
    Q("q_sim_hard_negatives",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.hardNegatives(emb.filter(col("vec_id") < 8), emb, 5)
          .orderBy("q_id", "n_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
                    FROM e WHERE vec_id < 8),
              sc AS (SELECT q_id, e.vec_id AS n_id,
                       round(list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) *
                          sqrt(list_dot_product(qv, qv))), 4) AS cosim
                     FROM e CROSS JOIN q WHERE e.label <> q.q_label)
              SELECT q_id, n_id, cosim FROM (
                SELECT q_id, n_id, cosim,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosim DESC, n_id) AS rk
                FROM sc) WHERE rk <= 5
              ORDER BY q_id, n_id""")),

    // RESIDUAL IVF-PQ (the standard FAISS encoding — codes quantize
    // v − centroid(cell), codebooks train on residuals, serving builds
    // per-probed-cell LUTs off the _pqmeta marker): same recall@10 >= 0.8
    // contract through the residual layout + refine. Why it matters is
    // MEASURED (AnnRecallSpot, x10 density): raw ADC 0.038 vs residual
    // ADC 0.262 at identical code width — the codebook spends its bits on
    // within-cluster offsets, the part that actually ranks candidates.
    Q("q_sim_ivfpq_residual",
      (s, dir) => recallCheck(s, dir) { emb =>
        val layoutDir = graft.core.Scratch.layoutOnce(dir,
            "ivfpq_residual_cells", "_pqmeta/_SUCCESS") { out =>
          Similarity.writeCelledPq(emb, out, residual = true)
        }
        Similarity.ivfPqTopKRefined(emb, layoutDir, 0L, 10)
      },
      Some("SELECT true AS ok")),

    Q("q_sim_ivfpq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val clustered = emb.select(col("vec_id"),
            Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
          .persist()
        clustered.count()
        try {
          val layoutDir = graft.core.Scratch.layoutOnce(dir,
              "ivfpq_cells", "_pqmeta/_SUCCESS") { out =>
            Similarity.writeCelledPq(clustered, out)
          }
          val inCluster = clustered
            .filter(pmod(col("vec_id"), lit(24)) === 0).count()
          val k = math.min(10L, inCluster - 1).toInt
          val approx = Similarity.ivfPqTopK(clustered, layoutDir, 0L, k)
          val verdict = approx.agg(
            (count(lit(1)) === k &&
              sum(when(pmod(col("vec_id"), lit(24)) === 0, 0)
                .otherwise(1)) === 0).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally clustered.unpersist()
      },
      Some("SELECT true AS ok")),

    // LATE-INTERACTION (ColBERT-style MaxSim) brute-force baseline:
    // score(Q, D) = Σ_qtoken max_dtoken cosine(q, d) over the multi-vector
    // view (each 64-d embedding split into 4×16-d sub-vectors — the
    // deterministic bridge fixture; a real per-token table lands in the
    // same (id, pos, vec) shape). Query tokens broadcast; the interaction
    // is one projection pass + two partial-aggregating groupBys; top-k
    // plans as TakeOrderedAndProject. Oracle replays slicing, per-token
    // maxima, and the sum in SQL.
    Q("q_sim_maxsim",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val docToks = Similarity.sliceVectors(emb.filter(col("vec_id") =!= 0), 4)
        val qToks = Similarity.sliceVectors(
            emb.filter(col("vec_id") === 0).limit(1), 4)
          .select(col("pos"), col("vec"))
        Similarity.maxSimTopK(docToks, qToks, 10)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              g AS (SELECT unnest(range(4)) AS pos),
              tok AS (SELECT vec_id, pos,
                        list_slice(v, pos*16 + 1, pos*16 + 16) AS t
                      FROM e CROSS JOIN g),
              q AS (SELECT pos AS qpos, t AS qt FROM tok WHERE vec_id = 0),
              sims AS (SELECT vec_id, qpos,
                         max(list_dot_product(t, qt) /
                             (sqrt(list_dot_product(t, t)) *
                              sqrt(list_dot_product(qt, qt)))) AS mx
                       FROM tok CROSS JOIN q WHERE vec_id <> 0 GROUP BY 1, 2),
              sc AS (SELECT vec_id, round(sum(mx), 4) AS maxsim
                     FROM sims GROUP BY 1)
              SELECT vec_id, maxsim FROM sc
              ORDER BY maxsim DESC, vec_id LIMIT 10""")),

    // RETRIEVE-THEN-RERANK late interaction — the serving shape that
    // scales: stage 1 retrieves 40 candidates by POOLED-vector cosine
    // (the existing top-k machinery; a pruned IVF/ANN first stage slots
    // in unchanged), stage 2 re-ranks ONLY candidates with full MaxSim —
    // rerank cost bounded by |candidates|·m² regardless of corpus size.
    // Exact first stage ⇒ deterministic end-to-end; oracle replays both
    // stages (pooled top-40 with the same rounded-score/id tie-break,
    // then the MaxSim re-rank).
    Q("q_sim_maxsim_rerank",
      (s, dir) => Similarity.maxSimRerank(
        Tables(s, dir, "embeddings"), queryId = 0L, k = 10),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              sc AS (SELECT vec_id,
                       round(list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) *
                          sqrt(list_dot_product(qv, qv))), 4) AS c
                     FROM e CROSS JOIN q0 WHERE vec_id <> 0),
              cands AS (SELECT vec_id FROM sc ORDER BY c DESC, vec_id LIMIT 40),
              g AS (SELECT unnest(range(4)) AS pos),
              tok AS (SELECT vec_id, pos,
                        list_slice(v, pos*16 + 1, pos*16 + 16) AS t
                      FROM e CROSS JOIN g
                      WHERE vec_id IN (SELECT vec_id FROM cands)),
              qt AS (SELECT pos AS qpos,
                       list_slice(qv, pos*16 + 1, pos*16 + 16) AS qt
                     FROM q0 CROSS JOIN g),
              sims AS (SELECT vec_id, qpos,
                         max(list_dot_product(t, qt) /
                             (sqrt(list_dot_product(t, t)) *
                              sqrt(list_dot_product(qt, qt)))) AS mx
                       FROM tok CROSS JOIN qt GROUP BY 1, 2),
              sc2 AS (SELECT vec_id, round(sum(mx), 4) AS maxsim
                      FROM sims GROUP BY 1)
              SELECT vec_id, maxsim FROM sc2
              ORDER BY maxsim DESC, vec_id LIMIT 10""")),

    // Batch k-NN JOIN, exact mode: top-5 neighbors for EVERY query row
    // through the join machinery (probe-cells column → equi-join on cell →
    // per-query rank window), with nprobe = nlist so the result is exactly
    // brute force — the DuckDB oracle replays the per-query cosine top-5
    // and must hash-match (q_sim_cosine's contract, batched). The pruned
    // mode's recall contract is q_sim_knn_join below.
    // GRAPH-BASED ANN — single-layer NSW (the family HNSW stacks; Malkov
    // & Yashunin 2018) made fully deterministic: exact k-NN graph
    // (degree 8), MULTI-ENTRY seed (16 lowest ids — the DiskANN
    // medoid-set role; a clustered corpus's k-NN graph has no
    // cross-cluster edges, so single-entry search can't leave its
    // island), 3-hop beam-16 search, every beam cut on (rounded cosine,
    // id). The oracle replays the ENTIRE search
    // — brute-force graph, entry, all three unrolled hops, final top-10
    // — so this is hash-exact, not a recall verdict. Serving touches
    // ≤ hops·beam·degree rows regardless of corpus size.
    Q("q_sim_nsw",
      (s, dir) => Similarity.nswTopK(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 500),
        queryId = 7L, k = 10),
      Some {
        val cos = (a: String, b: String) =>
          s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
            s"sqrt(list_dot_product($b, $b))), 4)"
        val base = s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                        FROM embeddings WHERE vec_id < 500),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
              sc AS MATERIALIZED (
                SELECT e.vec_id AS id, ${cos("v", "qv")} AS s
                FROM e CROSS JOIN q),
              g AS MATERIALIZED (SELECT src, dst FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst,
                  row_number() OVER (PARTITION BY a.vec_id ORDER BY
                    ${cos("a.v", "b.v")} DESC, b.vec_id) AS rk
                FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rk <= 8),
              c0 AS MATERIALIZED (SELECT id, s FROM
                (SELECT id, s FROM sc ORDER BY id LIMIT 16)
                ORDER BY s DESC, id LIMIT 16)"""
        val hopSteps = (1 to 3).map { i =>
          s"""p$i AS (SELECT DISTINCT id FROM (
                SELECT id FROM c${i - 1}
                UNION ALL
                SELECT g.dst AS id FROM c${i - 1} c JOIN g ON c.id = g.src)),
              c$i AS MATERIALIZED (
                SELECT sc.id, sc.s FROM p$i JOIN sc USING (id)
                ORDER BY s DESC, id LIMIT 16)"""
        }.mkString(",\n")
        s"""$base,
            $hopSteps
            SELECT id AS vec_id, s AS cosim FROM c3 WHERE id <> 7
            ORDER BY s DESC, id LIMIT 10"""
      }),

    // MATRYOSHKA truncated serving (Kusupati et al. 2022): rank by the
    // leading 32 of 64 dims (cosine renormalizes implicitly) and audit
    // each hit against the full-dim top-10 — the scan-width/IO lever for
    // embedding serving, with its quality cost measured in-row. Oracle
    // replays both rankings and the membership join.
    Q("q_sim_matryoshka",
      (s, dir) => Similarity.matryoshkaTopK(
        Tables(s, dir, "embeddings"), queryId = 0L, k = 10, dims = 32),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT v AS qvf, v[1:32] AS qvt FROM e WHERE vec_id = 0),
              sc AS (SELECT e.vec_id,
                       round(list_dot_product(v[1:32], qvt) /
                         (sqrt(list_dot_product(v[1:32], v[1:32])) *
                          sqrt(list_dot_product(qvt, qvt))), 4) AS ct,
                       round(list_dot_product(v, qvf) /
                         (sqrt(list_dot_product(v, v)) *
                          sqrt(list_dot_product(qvf, qvf))), 4) AS cf
                     FROM e CROSS JOIN q WHERE e.vec_id <> 0),
              ft AS (SELECT vec_id FROM sc ORDER BY cf DESC, vec_id LIMIT 10),
              tt AS (SELECT vec_id, ct FROM sc ORDER BY ct DESC, vec_id LIMIT 10)
              SELECT tt.vec_id, tt.ct AS cosim_trunc,
                ft.vec_id IS NOT NULL AS in_full_topk
              FROM tt LEFT JOIN ft USING(vec_id)
              ORDER BY cosim_trunc DESC, tt.vec_id""")),

    Q("q_sim_knn_exact",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.knnJoin(emb.filter(col("vec_id") < 32), emb, 5,
            nlist = 16, nprobe = 16)
          .orderBy("q_id", "n_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 32),
              sc AS (SELECT q_id, e.vec_id AS n_id,
                       round(list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) *
                          sqrt(list_dot_product(qv, qv))), 4) AS cosim
                     FROM e CROSS JOIN q WHERE e.vec_id <> q_id)
              SELECT q_id, n_id, cosim FROM (
                SELECT q_id, n_id, cosim,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosim DESC, n_id) AS rk
                FROM sc) WHERE rk <= 5
              ORDER BY q_id, n_id""")),

    // Batch k-NN JOIN, pruned mode: every vector is a query, each probes
    // 4 of 16 trained cells — compared pairs are |Q|·|corpus|/4, not the
    // cross product — and the per-query top-10 must recover ≥ 0.9 of the
    // exact brute-force top-10 ON AVERAGE over all queries (clustered
    // fixture; approximate results are engine-specific so both sides emit
    // the verdict, but the contract is real and batched). Plan-asserted:
    // equi-join on cell (never a cross product) + WindowGroupLimit
    // bounding per-query state map-side.
    Q("q_sim_knn_join",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val clustered = emb.select(col("vec_id"),
            Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
          .persist()
        clustered.count()
        try {
          val knn = Similarity.knnJoin(clustered, clustered, 10)
            .select(col("q_id"), col("n_id"))
          val exact = Similarity.knnJoin(clustered, clustered, 10,
              nlist = 16, nprobe = 16, trainIters = 0)
            .select(col("q_id"), col("n_id"))
          val nq = clustered.count()
          val verdict = exact.join(knn, Seq("q_id", "n_id"))
            .agg((count(lit(1)) >= lit(9.0) * nq).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally clustered.unpersist()
      },
      Some("SELECT true AS ok")),

    // Streamed vector index MUTATION: tombstone DELETEs and a versioned
    // UPSERT over the delta log — the vector mirror of q_fts_deleted /
    // q_fts_upsert. Two cluster-0 ids are deleted (they WOULD rank in the
    // query's top-10 — non-vacuous), one foreign id is re-pointed into
    // cluster 0, and serving must equal the in-memory ADC baseline over
    // the surviving corpus — merge-on-read BEFORE compaction and from the
    // folded base AFTER it, with the upserted id present and the deleted
    // ids absent. Approximate path is engine-specific → verdict row.
    Q("q_sim_stream_upsert",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val clustered = emb.select(col("vec_id"),
            Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
          .persist()
        clustered.count()
        try {
          val root = graft.core.Scratch.dir("vec_stream_up_q")
          val hconf = s.sparkContext.hadoopConfiguration
          val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          Similarity.writeQuantizer(clustered, root, trainIters = 1)
          val landing = s"$root/landing"
          val stage = s"$root/stage_0"
          clustered.coalesce(1).write.mode("overwrite").parquet(stage)
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$stage/part-*")).head.getPath
          fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
          org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
            new org.apache.hadoop.fs.Path(s"$landing/b0.parquet"), false, hconf)
          graft.streaming.StreamTune.withStatePartitions(s, Seq(landing)) {
            StreamVectorIndex.start(s.readStream
              .schema(clustered.schema).parquet(landing), root).awaitTermination()
          }
          // delete two of the query's own cluster (ids ≡ 0 mod 24);
          // re-point id 7 at a cluster-0 member's vector (deterministic)
          import s.implicits._
          StreamVectorIndex.delete(s, root, Seq(24L, 48L).toDF("vec_id"))
          val newVec = clustered.filter(col("vec_id") === 120L)
            .select(col("embedding")).limit(1).collect()(0).getSeq[Double](0)
          StreamVectorIndex.upsert(s, root,
            Seq((7L, newVec)).toDF("vec_id", "embedding"))
          val survivors = clustered.filter(!col("vec_id").isin(24L, 48L, 7L))
            .unionByName(Seq((7L, newVec)).toDF("vec_id", "embedding"))
          def topIds(rows: Seq[org.apache.spark.sql.Row]) =
            rows.map(_.getLong(0)).toSet
          val preCompact = StreamVectorIndex.topK(clustered, root, 0L, 10)
            .collect().toSeq
          val baseDir = graft.core.Scratch.dir("vec_stream_up_q_base")
          fs.delete(new org.apache.hadoop.fs.Path(baseDir), true)
          StreamVectorIndex.compact(s, root, baseDir)
          val postCompact = StreamVectorIndex.topK(clustered, root, 0L, 10)
            .collect().toSeq
          val (cents, norms) = Similarity.readQuantizer(s, root)
          val books = Similarity.readPqCodebooks(s, root)
          val qv = clustered.filter(col("vec_id") === 0L)
            .select(col("embedding").cast("array<double>"))
            .limit(1).collect()(0).getSeq[Double](0).toArray
          val probes = Similarity.nearestCells(qv, cents, norms, 4)
          val v = col("embedding").cast("array<double>")
          val batch = Similarity.pqTopKOnCodes(
            survivors.select(col("vec_id"),
                Similarity.cellExpr(v, cents, norms).as("cell"),
                Similarity.pqEncode(v, books).as("pq_codes"))
              .filter(col("cell").isin(probes: _*)),
            qv, books, 0L, 10).collect().toSeq
          val verdict = s.range(1).select(
            lit(preCompact == batch && postCompact == batch &&
              batch.size == 10 && topIds(batch).contains(7L) &&
              !topIds(batch).exists(Set(24L, 48L))).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally clustered.unpersist()
      },
      Some("SELECT true AS ok")),

    // STREAMING CHUNK-VECTOR LIFECYCLE — the RAG maintenance loop end to
    // end: documents chunk (stable key doc_id·1000+chunk_id), chunks get
    // feature-hash embeddings, the chunk vectors stream-ingest into the
    // IVF-PQ delta index, and a DOCUMENT EDIT re-chunks — the shrunken
    // doc's surviving chunk keys UPSERT while its stale tail chunks
    // TOMBSTONE (the chunk-count change is exactly why the stable
    // composite key matters: without it an edit strands orphan chunks).
    // Serving must equal the in-memory ADC baseline over the post-edit
    // chunk corpus both pre- and post-compaction, with every stale key
    // absent. Approximate path engine-specific → verdict row.
    Q("q_sim_stream_chunks",
      (s, dir) => {
        val toks16 = graft.fts.Analyzer.tokenize(col("text"))
        def embed(c: org.apache.spark.sql.Column) = transform(
          sequence(lit(0), lit(15)),
          b => size(filter(c, t =>
            pmod(xxhash64(t), lit(16)) === b.cast("bigint"))).cast("double"))
        def chunksOf(docs: org.apache.spark.sql.DataFrame) =
          Chunking.chunk(docs, size = 8, overlap = 2)
            .select((col("doc_id") * 1000 + col("chunk_id")).as("vec_id"),
              embed(graft.fts.Analyzer.tokenize(col("text"))).as("embedding"))
        val docs = Tables(s, dir, "documents").filter(col("doc_id") < 120)
        val chunks = chunksOf(docs).persist()
        chunks.count()
        try {
          val root = graft.core.Scratch.dir("vec_stream_chunks_q")
          val hconf = s.sparkContext.hadoopConfiguration
          val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          Similarity.writeQuantizer(chunks, root, trainIters = 1)
          val landing = s"$root/landing"
          val stage = s"$root/stage_0"
          chunks.coalesce(1).write.mode("overwrite").parquet(stage)
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$stage/part-*")).head.getPath
          fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
          org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
            new org.apache.hadoop.fs.Path(s"$landing/b0.parquet"), false, hconf)
          graft.streaming.StreamTune.withStatePartitions(s, Seq(landing)) {
            StreamVectorIndex.start(s.readStream
              .schema(chunks.schema).parquet(landing), root).awaitTermination()
          }
          // the EDIT: doc 7 shrinks to its first 10 tokens → re-chunk
          import s.implicits._
          val edited = docs.filter(col("doc_id") === 7L)
            .withColumn("text",
              array_join(slice(toks16, 1, 10), " "))
            .persist()
          val newChunks = chunksOf(edited).persist()
          val newKeys = newChunks.select("vec_id").as[Long].collect().toSet
          val oldKeys = chunks.filter(col("vec_id") >= 7000L && col("vec_id") < 8000L)
            .select("vec_id").as[Long].collect().toSet
          val stale = (oldKeys -- newKeys).toSeq.sorted
          require(stale.nonEmpty, "fixture: the edit must shed at least one chunk")
          StreamVectorIndex.delete(s, root, stale.toDF("vec_id"))
          StreamVectorIndex.upsert(s, root, newChunks)
          val survivors = chunks
            .filter(col("vec_id") < 7000L || col("vec_id") >= 8000L)
            .unionByName(newChunks).persist()
          val preCompact = StreamVectorIndex.topK(survivors, root, 0L, 10)
            .collect().toSeq
          val baseDir = graft.core.Scratch.dir("vec_stream_chunks_q_base")
          fs.delete(new org.apache.hadoop.fs.Path(baseDir), true)
          StreamVectorIndex.compact(s, root, baseDir)
          val postCompact = StreamVectorIndex.topK(survivors, root, 0L, 10)
            .collect().toSeq
          val (cents, norms) = Similarity.readQuantizer(s, root)
          val books = Similarity.readPqCodebooks(s, root)
          val qv = survivors.filter(col("vec_id") === 0L)
            .select(col("embedding")).limit(1).collect()(0)
            .getSeq[Double](0).toArray
          val probes = Similarity.nearestCells(qv, cents, norms, 4)
          val v = col("embedding")
          val batch = Similarity.pqTopKOnCodes(
            survivors.select(col("vec_id"),
                Similarity.cellExpr(v, cents, norms).as("cell"),
                Similarity.pqEncode(v, books).as("pq_codes"))
              .filter(col("cell").isin(probes: _*)),
            qv, books, 0L, 10).collect().toSeq
          val staleSet = stale.toSet
          val verdict = s.range(1).select(
            lit(preCompact == batch && postCompact == batch &&
              batch.size == 10 &&
              !preCompact.exists(r => staleSet(r.getLong(0)))).as("ok"))
          newChunks.unpersist(); edited.unpersist(); survivors.unpersist()
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally chunks.unpersist()
      },
      Some("SELECT true AS ok")),

    // HYBRID retrieval — RRF fusion of the lexical and vector rankings:
    // BM25 top-20 for ('spark','query') over the documents index fused
    // with exact-cosine top-20 around vector 0 by reciprocal rank
    // (1/(60+r) each side, full-outer on id). Both input rankings follow
    // the engine-portable convention (rounded score DESC, id ASC), so the
    // oracle replays ranks and the fusion formula exactly. The fusion
    // joins two k-row frames; all corpus-scale work stays in the two
    // pruned serving plans it composes.
    Q("q_hybrid",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ix = graft.fts.Index.build(docs)
        val text = graft.fts.Search.scoreBm25(ix, Seq("spark", "query"), 20)
        val vec = Similarity.bruteForceTopK(Tables(s, dir, "embeddings"), 0L, 20)
        Hybrid.rrfFuse(text, vec, 10)
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
                 GROUP BY tf.doc_id),
               t AS (SELECT doc_id AS id,
                       row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS r
                     FROM sc QUALIFY r <= 20),
               e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
               q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
               cs AS (SELECT vec_id,
                        list_dot_product(v, qv) /
                          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
                      FROM e CROSS JOIN q WHERE vec_id <> 0),
               v AS (SELECT vec_id AS id,
                       row_number() OVER (ORDER BY round(c, 4) DESC, vec_id) AS r
                     FROM cs QUALIFY r <= 20)
               SELECT COALESCE(t.id, v.id) AS id,
                 round(COALESCE(1.0/(60+t.r), 0) + COALESCE(1.0/(60+v.r), 0), 6) AS rrf
               FROM t FULL OUTER JOIN v ON t.id = v.id
               ORDER BY rrf DESC, id LIMIT 10""")),

    // STREAMING vector-index maintenance — the IncrementalIndex delta/epoch
    // lifecycle applied to IVF-PQ code rows: quantizer trained ONCE
    // (frozen), micro-batches encode and append batch_id-partitioned code
    // deltas, compaction folds them into the cell-partitioned base. The
    // contract is EXACT: pre-compaction (base+delta) and post-compaction
    // serving must both equal a batch ADC encode against the same frozen
    // artifacts — streamed ingest changes WHERE codes live, never what
    // they are.
    Q("q_sim_stream",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val clustered = emb.select(col("vec_id"),
            Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
          .persist()
        clustered.count()
        try {
          val root = graft.core.Scratch.dir("vec_stream_q")
          val hconf = s.sparkContext.hadoopConfiguration
          val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
          fs.delete(new org.apache.hadoop.fs.Path(root), true)
          // 1 Lloyd iteration: the contract here is streamed == batch
          // EXACTNESS against frozen artifacts, not centroid quality
          // (q_sim_ivf* own the recall contracts) — don't pay 3 training
          // passes per harness run
          Similarity.writeQuantizer(clustered, root, trainIters = 1)
          // two micro-batches: ids split by parity via two staged files
          val landing = s"$root/landing"
          for ((half, i) <- Seq(clustered.filter(col("vec_id") % 2 === 0),
              clustered.filter(col("vec_id") % 2 === 1)).zipWithIndex) {
            val stage = s"$root/stage_$i"
            half.coalesce(1).write.mode("overwrite").parquet(stage)
            val part = fs.globStatus(
              new org.apache.hadoop.fs.Path(s"$stage/part-*")).head.getPath
            fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
            val dst = new org.apache.hadoop.fs.Path(s"$landing/b$i.parquet")
            org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dst, false, hconf)
            fs.setTimes(dst, 1700000000000L + i * 60000L, -1)
          }
          graft.streaming.StreamTune.withStatePartitions(s, Seq(landing)) {
            StreamVectorIndex.start(s.readStream
              .schema(clustered.schema).option("maxFilesPerTrigger", 1)
              .parquet(landing), root).awaitTermination()
          }
          val preCompact = StreamVectorIndex.topK(clustered, root, 0L, 10)
            .collect().toSeq
          val baseDir = graft.core.Scratch.dir("vec_stream_q_base")
          fs.delete(new org.apache.hadoop.fs.Path(baseDir), true)
          StreamVectorIndex.compact(s, root, baseDir)
          val postCompact = StreamVectorIndex.topK(clustered, root, 0L, 10)
            .collect().toSeq
          // batch oracle: same frozen artifacts, in-memory encode + ADC
          val (cents, norms) = Similarity.readQuantizer(s, root)
          val books = Similarity.readPqCodebooks(s, root)
          val qv = clustered.filter(col("vec_id") === 0L)
            .select(col("embedding").cast("array<double>"))
            .limit(1).collect()(0).getSeq[Double](0).toArray
          val probes = Similarity.nearestCells(qv, cents, norms, 4)
          val v = col("embedding").cast("array<double>")
          val batch = Similarity.pqTopKOnCodes(
            clustered.select(col("vec_id"),
                Similarity.cellExpr(v, cents, norms).as("cell"),
                Similarity.pqEncode(v, books).as("pq_codes"))
              .filter(col("cell").isin(probes: _*)),
            qv, books, 0L, 10).collect().toSeq
          val verdict = s.range(1).select(
            lit(preCompact == batch && postCompact == batch &&
              batch.size == 10).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally clustered.unpersist()
      },
      Some("SELECT true AS ok")),

    // Int8 quantization of the embedding column — pure map (no shuffle);
    // checksum is an exact integer sum, so the oracle hash proves the codes
    // are bit-reproducible across engines, not just approximately close.
    Q("q_embed_quant",
      (s, dir) => {
        val v = col("embedding").cast("array<double>")
        Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            round(Similarity.quantScale(v), 6).as("scale"),
            aggregate(Similarity.quantizeInt8(v), lit(0L),
              (acc, q) => acc + q.cast("long")).as("checksum"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              sc AS (SELECT vec_id, v,
                       CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                            THEN 127.0 / list_max(list_transform(v, x -> abs(x))) END AS s
                     FROM e)
              SELECT vec_id, round(s, 6) AS scale,
                CASE WHEN s IS NOT NULL THEN
                  CAST(list_sum(list_transform(v, x -> CAST(round(x * s) AS BIGINT))) AS BIGINT)
                END AS checksum
              FROM sc ORDER BY vec_id""")),

    // PAGERANK as relational power iteration (graft.pipeline.Rank): the
    // link-analysis weight for reference-structured corpora, 10 fixed
    // iterations with dangling mass redistributed (Σrank = 1 invariant).
    // GraphX is a module-level non-goal (SURVEY §0); the OPERATOR is pure
    // join+agg — which is how it runs at 100 TB anyway (edge list
    // bucketed by src, every iteration on the same partitioning). The
    // oracle unrolls the identical ten steps as chained CTEs.
    Q("q_graph_pagerank",
      (s, dir) => Rank.pageRank(
        Tables(s, dir, "lineitem").select(
          (col("l_orderkey") % 100).as("src"),
          (col("l_suppkey") % 100).as("dst"))),
      Some(pagerankOracle)),

    // PAGERANK over the persisted BUCKETED edge layout — identical ranks
    // (same oracle), different physical story: the one-time
    // writeEdgeLayout bucketBy(src) write replaces the executor-memory
    // persist(), and every iteration's contribution join plans with NO
    // Exchange on the edge side (merge-pinned SMJ against the bucketed
    // scan; plan-asserted in PlanShapeSpec). This is the 100 TB shape —
    // the r14 verdict's Rank.scala:56 item made a library entry point.
    Q("q_graph_pagerank_bucketed",
      (s, dir) => Rank.pageRankOnLayout(edgeLayoutFor(s, dir)),
      Some(pagerankOracle)),

    // PERSONALIZED PageRank oracle row: teleport (and the dangling-mass
    // restart) restricted to seeds {0, 1} — proximity-to-trusted-docs
    // authority. Same generated ten-step oracle with the teleport column
    // threaded through start vector and restart term.
    Q("q_graph_ppr",
      (s, dir) => Rank.personalizedPageRank(
        Tables(s, dir, "lineitem").select(
          (col("l_orderkey") % 100).as("src"),
          (col("l_suppkey") % 100).as("dst")),
        seeds = Seq(0L, 1L)),
      Some {
        val base = """WITH e AS (SELECT l_orderkey % 100 AS src,
                        l_suppkey % 100 AS dst FROM lineitem),
              nodes AS (SELECT src AS node FROM e
                        UNION SELECT dst FROM e),
              tp AS (SELECT node,
                       CASE WHEN node IN (0, 1) THEN 0.5 ELSE 0.0 END AS t
                     FROM nodes),
              outdeg AS (SELECT src, count(*)::DOUBLE AS outd
                         FROM e GROUP BY src),
              pr0 AS (SELECT node, t AS rank FROM tp)"""
        val steps = (1 to 10).map { k =>
          s"""pr$k AS (
                SELECT tp.node,
                  0.15 * tp.t + 0.85 *
                    (coalesce(m.mass, 0) + dg.dm * tp.t) AS rank
                FROM tp
                LEFT JOIN (SELECT e.dst AS node,
                             sum(p.rank / o.outd) AS mass
                           FROM pr${k - 1} p
                           JOIN outdeg o ON p.node = o.src
                           JOIN e ON e.src = p.node
                           GROUP BY e.dst) m USING(node)
                CROSS JOIN (SELECT coalesce(sum(p.rank), 0) AS dm
                            FROM pr${k - 1} p
                            LEFT JOIN outdeg o ON p.node = o.src
                            WHERE o.src IS NULL) dg)"""
        }.mkString(",\n")
        s"""$base,
            $steps
            SELECT node, round(rank, 6) AS rank FROM pr10 ORDER BY node"""
      }),

    // ---- text analysis ------------------------------------------------------
    Q("q_text_stats",
      (s, dir) => TextStats.qualityStats(Tables(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, text, $DTOKS AS t FROM documents)
               SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
                 len(list_distinct(t)) AS n_distinct,
                 round(len(list_distinct(t))::DOUBLE / len(t), 4) AS distinct_ratio,
                 round(list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t), 4) AS mean_tok_len,
                 round(len(list_filter(t, x -> list_contains(['the','a','an','of','to','and','in','is'], x)))::DOUBLE / len(t), 4) AS stop_ratio,
                 ceil(length(text) / 4.0)::BIGINT AS est_bpe_tokens,
                 len(regexp_extract_all(lower(text), '[a-z0-9]{1,4}'))::BIGINT AS n_bpe_pieces
               FROM toks ORDER BY doc_id""")),

    // Model-based filtering — the fastText-shaped linear classifier every
    // curation pipeline runs (quality/domain scoring): hashing-trick
    // features (unigrams + bigrams → md5 bucket), broadcast weight TABLE,
    // per-doc sigmoid(mean weight). Weights here are the deterministic
    // hash-derived fixture (INTEGER weights so the per-doc sum is exact —
    // no float-sum drift across aggregation order); a trained model drops
    // in as any (bucket, w) frame. Serving is explode → broadcast join →
    // one partial-aggregating groupBy: no corpus shuffle, no UDF. Oracle
    // re-derives features, buckets, the weight table, and the score.
    Q("q_text_classifier",
      (s, dir) => Classifier.score(Tables(s, dir, "documents"),
          Classifier.hashWeights(s))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               f AS (SELECT doc_id, list_concat(t,
                       CASE WHEN len(t) >= 2
                         THEN [t[i] || '_' || t[i+1] FOR i IN range(1, len(t))]
                         ELSE [] END) AS fs
                     FROM toks),
               ex AS (SELECT doc_id, unnest(fs) AS f FROM f),
               b AS (SELECT doc_id, f, substring(md5(f), 1, 2) AS bucket FROM ex),
               w AS (SELECT lower(lpad(to_hex(i), 2, '0')) AS bucket,
                       (ascii(substring(lower(lpad(to_hex(i), 2, '0')), 1, 1)) * 7 +
                        ascii(substring(lower(lpad(to_hex(i), 2, '0')), 2, 1)) * 13)
                         % 21 - 10 AS w
                     FROM range(256) r(i)),
               sc AS (SELECT doc_id, sum(coalesce(w, 0)) AS sw, count(f) AS n
                      FROM b LEFT JOIN w USING(bucket) GROUP BY doc_id)
               SELECT doc_id,
                 CASE WHEN n > 0 THEN
                   round(1.0 / (1.0 + exp(-(sw::DOUBLE / (n * 2.0)))), 4)
                 END AS quality
               FROM sc ORDER BY doc_id""")),

    // BPE tokenizer TRAINING + application (pipeline/Bpe.scala): train on
    // the distributed word histogram (the way SentencePiece/HF train —
    // corpus reduces to (word, freq) first, the merge loop is vocab-sized),
    // apply by encoding DISTINCT words and broadcast-joining the token
    // stream. Learned merges are engine-specific (no SQL replay of the
    // iterative argmax) → verdict row over the REAL contracts: round-trip
    // (pieces concat back to every word), piece-count bound, full merge
    // budget consumed on this corpus, training determinism (two runs agree),
    // and actual compression (pieces < chars). Merge-table unit truth is
    // BpeSpec's hand-computed corpus.
    Q("q_text_bpe",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = Bpe.train(docs, numMerges = 30)
        val merges2 = Bpe.train(docs, numMerges = 30)
        val encoded = Bpe.applyMerges(Bpe.words(docs), merges).persist()
        try {
          val bad = encoded.filter(
            concat_ws("", col("pieces")) =!= col("word") ||
              col("n_pieces") > length(col("word"))).count()
          val totals = encoded.agg(
            sum(length(col("word"))).as("chars"),
            sum(col("n_pieces")).as("pieces")).head()
          val verdict = s.range(1).select(
            lit(bad == 0 && merges == merges2 && merges.size == 30 &&
              totals.getLong(1) < totals.getLong(0)).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally encoded.unpersist()
      },
      Some("SELECT true AS ok")),

    // WORDPIECE tokenizer training (Schuster & Nakajima 2012 — BERT's
    // tokenizer; the THIRD production trainer beside q_text_bpe and
    // q_text_unigram): same histogram-reduction → driver-loop shape, but
    // merges maximize the likelihood-gain score f(ab)/(f(a)·f(b)) —
    // compared as exact BigInt cross-products, no float ties — and
    // serving is greedy longest-match against the final '##'-marked
    // vocabulary (the real WordPiece apply, not merge replay). Training
    // is not SQL-expressible → verdict oracle over the real contracts:
    // determinism (two runs, one model), lossless round-trip with no
    // [UNK] on the training corpus, '##' marker discipline (first piece
    // bare, continuations marked), genuine compression, and vocab size
    // within alphabet + numMerges.
    Q("q_text_wordpiece",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val m1 = Bpe.trainWordPiece(docs, numMerges = 30)
        val m2 = Bpe.trainWordPiece(docs, numMerges = 30)
        val encoded = Bpe.applyWordPiece(Bpe.words(docs), m1).persist()
        try {
          val strip = concat_ws("",
            transform(col("pieces"), p => regexp_replace(p, "^##", "")))
          val bad = encoded.filter(
            strip =!= col("word") ||
              col("n_pieces") > length(col("word")) ||
              array_contains(col("pieces"), "[UNK]") ||
              element_at(col("pieces"), 1).startsWith("##") ||
              exists(slice(col("pieces"), 2, 1000000),
                p => !p.startsWith("##"))).count()
          val totals = encoded.agg(
            sum(length(col("word"))).as("chars"),
            sum(col("n_pieces")).as("pieces")).head()
          val alphabet = m1.vocab.count(_.stripPrefix("##").length == 1)
          val verdict = s.range(1).select(
            lit(bad == 0 && m1.vocab == m2.vocab &&
              totals.getLong(1) < totals.getLong(0) &&
              m1.vocab.size <= alphabet + 30 &&
              m1.vocab.size > alphabet).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally encoded.unpersist()
      },
      Some("SELECT true AS ok")),

    // UNIGRAM-LM tokenizer training (Kudo 2018; SentencePiece `unigram` —
    // the other production tokenizer family beside q_text_bpe): hard-EM
    // over the capped word histogram, Viterbi apply via distinct-word
    // broadcast join. Like q_text_bpe, EM training is not SQL-expressible
    // (oracle = verdict over the REAL contracts): (1) training is
    // deterministic — two independent runs learn the identical model;
    // (2) every corpus word round-trips (concat(pieces) == word) with
    // n_pieces <= chars; (3) genuine compression — total pieces < total
    // chars; (4) the hard-EM Viterbi objective is non-decreasing across
    // iterations (the EM argument, asserted numerically); (5) the pruned
    // vocab respects the requested size and keeps every single char.
    Q("q_text_unigram",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val m1 = UnigramLm.train(docs, vocabSize = 300, emIters = 3)
        val m2 = UnigramLm.train(docs, vocabSize = 300, emIters = 3)
        val encoded = UnigramLm.applyModel(Bpe.words(docs), m1).persist()
        try {
          val bad = encoded.filter(
            concat_ws("", col("pieces")) =!= col("word") ||
              col("n_pieces") > length(col("word"))).count()
          val totals = encoded.agg(
            sum(length(col("word"))).as("chars"),
            sum(col("n_pieces")).as("pieces")).head()
          val monotone = m1.losses.sliding(2).forall {
            case Seq(a, b) => b >= a - 1e-6
            case _ => true
          }
          val chars = m1.logp.keys.count(_.length == 1)
          val verdict = s.range(1).select(
            lit(bad == 0 && m1.logp == m2.logp && monotone &&
              m1.logp.size <= 300 && m1.logp.size > chars &&
              totals.getLong(1) < totals.getLong(0)).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally encoded.unpersist()
      },
      Some("SELECT true AS ok")),

    // TRAINED model-based filtering: Naive-Bayes log-odds weights learned
    // in one distributed closed-form pass from a seed-keyword WEAK label
    // (docs mentioning 'spark' — the standard bootstrap for a topic
    // classifier when no labels exist), then served through the same
    // broadcast-join scorer. End-to-end train → score, fully
    // oracle-replayed (counts, smoothing, ln, rounding, clamp, sigmoid);
    // class separation asserted in ClassifierSpec.
    Q("q_text_classifier_trained",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Classifier.score(docs,
            Classifier.trainLogOdds(docs, col("text").contains("spark")))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, contains(text, 'spark') AS y,
                             $DTOKS AS t
                             FROM documents),
               f AS (SELECT doc_id, y, list_concat(t,
                       CASE WHEN len(t) >= 2
                         THEN [t[i] || '_' || t[i+1] FOR i IN range(1, len(t))]
                         ELSE [] END) AS fs
                     FROM toks),
               ex AS (SELECT doc_id, y, unnest(fs) AS fe FROM f),
               b AS (SELECT doc_id, y, substring(md5(fe), 1, 2) AS bucket FROM ex),
               cnt AS (SELECT bucket,
                         count(*) FILTER (y)::DOUBLE AS np,
                         count(*) FILTER (NOT y)::DOUBLE AS nn
                       FROM b GROUP BY bucket),
               tot AS (SELECT count(*) FILTER (y)::DOUBLE AS tp,
                         count(*) FILTER (NOT y)::DOUBLE AS tn
                       FROM b),
               w AS (SELECT bucket,
                       CAST(greatest(-10, least(10,
                         round(ln(((np + 1.0) / (tp + 256)) /
                                  ((nn + 1.0) / (tn + 256))) * 4.0, 0)))
                         AS INTEGER) AS w
                     FROM cnt CROSS JOIN tot),
               sc AS (SELECT b.doc_id, sum(coalesce(w.w, 0)) AS sw,
                        count(*) AS n
                      FROM b LEFT JOIN w USING(bucket) GROUP BY b.doc_id)
               SELECT doc_id,
                 CASE WHEN n > 0 THEN
                   round(1.0 / (1.0 + exp(-(sw::DOUBLE / (n * 2.0)))), 4)
                 END AS quality
               FROM sc ORDER BY doc_id""")),

    Q("q_text_lang",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"), TextStats.langGuess(col("text")).as("lang_guess"))
        .groupBy("lang_guess").agg(count(lit(1)).as("n")).orderBy("lang_guess"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               g AS (SELECT doc_id,
                 CASE WHEN len(list_filter(t, x -> list_contains(['the','a','an','of','to','and','in','is'], x)))::DOUBLE / len(t) >= 0.02
                      THEN 'en' ELSE 'unk' END AS lang_guess FROM toks)
               SELECT lang_guess, count(*) AS n FROM g GROUP BY 1 ORDER BY lang_guess""")),

    // LANG-ID CONFUSION MATRIX (the quality report for q_text_lang's
    // heuristic against the fixture's true labels — the eval row every
    // classifier-in-the-pipeline needs): per (true, guessed) counts with
    // the 'en' detector's precision/recall replicated. One aggregation
    // over the same deterministic guess; ratios floor-form.
    Q("q_eval_langid",
      (s, dir) => {
        val g = Tables(s, dir, "documents").select(col("lang"),
          TextStats.langGuess(col("text")).as("lang_guess"))
        val cm = g.groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
        val m = g.agg(
          sum(when(col("lang_guess") === "en" && col("lang") === "en", 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("lang_guess") === "en" && col("lang") =!= "en", 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("lang_guess") =!= "en" && col("lang") === "en", 1L)
            .otherwise(0L)).as("fn"))
        cm.crossJoin(broadcast(m))
          .select(col("lang"), col("lang_guess"), col("n"),
            graft.core.Num.roundHalfUp(col("tp").cast("double") /
              (col("tp") + col("fp")).cast("double"), 4).as("precision_en"),
            graft.core.Num.roundHalfUp(col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double"), 4).as("recall_en"))
          .orderBy("lang", "lang_guess")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t
                             FROM documents),
               g AS (SELECT lang,
                 CASE WHEN len(list_filter(t, x -> list_contains(
                        ['the','a','an','of','to','and','in','is'], x)))::DOUBLE
                        / len(t) >= 0.02
                      THEN 'en' ELSE 'unk' END AS lang_guess FROM toks),
               cm AS (SELECT lang, lang_guess, count(*) AS n FROM g
                      GROUP BY 1, 2),
               m AS (SELECT
                   CAST(sum(CASE WHEN lang_guess = 'en' AND lang = 'en'
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN lang_guess = 'en' AND lang != 'en'
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN lang_guess != 'en' AND lang = 'en'
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn
                 FROM g)
               SELECT cm.lang, cm.lang_guess, cm.n,
                 floor(m.tp::DOUBLE / (m.tp + m.fp)::DOUBLE * 10000 + 0.5)
                   / 10000 AS precision_en,
                 floor(m.tp::DOUBLE / (m.tp + m.fn)::DOUBLE * 10000 + 0.5)
                   / 10000 AS recall_en
               FROM cm CROSS JOIN m ORDER BY cm.lang, cm.lang_guess""")),

    // RAKE keyword extraction (Rose et al. 2010): stopword-delimited
    // candidate phrases, word score = degree/frequency, phrase score =
    // Σ word scores — the unsupervised keyphrase labeler for corpus
    // exploration and topic tagging. Statistics are document-local by
    // definition, so the operator carries NO corpus-wide shuffle. The
    // oracle replays the full chain: running stopword count → phrase
    // runs → deg/freq → phrase sums → per-doc top-3.
    Q("q_text_rake",
      (s, dir) => TextStats.rakeKeywords(
        Tables(s, dir, "documents").filter(col("doc_id") < 500), perDoc = 3),
      Some(s"""WITH docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
               toks AS (SELECT doc_id, $DTOKS AS t FROM docs0),
               pos AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS p, t FROM toks),
               tk AS (SELECT doc_id, CAST(p AS INT) AS p,
                        t[CAST(p AS INT)] AS tok FROM pos),
               g AS (SELECT doc_id, p, tok,
                       sum(CASE WHEN tok IN ('the','a','an','of','to','and','in','is')
                           THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY p) AS grp
                     FROM tk),
               w AS (SELECT doc_id, grp, p, tok FROM g
                     WHERE tok NOT IN ('the','a','an','of','to','and','in','is')),
               ph AS (SELECT doc_id, grp, count(*) AS len,
                        string_agg(tok, ' ' ORDER BY p) AS phrase
                      FROM w GROUP BY 1, 2),
               pw AS (SELECT w.doc_id, w.grp, ph.len, w.tok AS word
                      FROM w JOIN ph USING(doc_id, grp)),
               ws AS (SELECT doc_id, word,
                        sum(len)::DOUBLE / count(*) AS wscore
                      FROM pw GROUP BY 1, 2),
               ps AS (SELECT pw.doc_id, pw.grp, round(sum(ws.wscore), 4) AS score
                      FROM pw JOIN ws ON pw.doc_id = ws.doc_id
                        AND pw.word = ws.word
                      GROUP BY 1, 2),
               named AS (SELECT DISTINCT ph.doc_id, ph.phrase, ps.score
                         FROM ph JOIN ps USING(doc_id, grp)),
               top AS (SELECT doc_id, phrase, score,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, phrase) AS rn
                       FROM named)
               SELECT doc_id, phrase, score FROM top WHERE rn <= 3
               ORDER BY doc_id, score DESC, phrase""")),

    // T5 SPAN CORRUPTION (Raffel et al. 2020 §3.1.4) — the denoising
    // objective's offline prep, made deterministic: fixed 3-token
    // groups, group (doc, g) masked iff md5("doc:g") 3-hex < 614
    // (rate 0.15·4096), sentinels numbered in span order. The oracle
    // replays hashing, masking, sentinel numbering, and both the
    // corrupted input and the target sequence byte-for-byte.
    Q("q_pipeline_spanmask",
      (s, dir) => Curation.spanCorrupt(
        Tables(s, dir, "documents").filter(col("doc_id") < 300))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents
                             WHERE doc_id < 300),
               m AS (SELECT doc_id, t,
                       [g FOR g IN range(0, CAST(ceil(len(t) / 3.0) AS BIGINT))
                        IF ('0x' || substr(md5(doc_id::VARCHAR || ':' ||
                          g::VARCHAR), 1, 3))::INT < 614] AS mg
                     FROM toks)
               SELECT doc_id,
                 -- DuckDB list_position returns 0 (not NULL) for absent
                 array_to_string(list_filter([
                   CASE WHEN coalesce(list_position(mg, (p-1)//3), 0) = 0
                          THEN t[p]
                        WHEN (p-1)%3 = 0 THEN '<extra_id_' ||
                          (list_position(mg, (p-1)//3) - 1)::VARCHAR || '>'
                        ELSE NULL END
                   FOR p IN range(1, len(t) + 1)],
                   x -> x IS NOT NULL), ' ') AS corrupted,
                 -- array_to_string of the empty list is NULL, not ''
                 coalesce(array_to_string([
                   '<extra_id_' || (i-1)::VARCHAR || '> ' ||
                     array_to_string(t[mg[i]*3+1 : mg[i]*3+3], ' ')
                   FOR i IN range(1, len(mg) + 1)], ' '), '') AS targets,
                 CAST(len(mg) AS INT) AS n_masked
               FROM m ORDER BY doc_id""")),

    // Gopher-style REPETITION signal: duplicate 3-gram fraction per doc —
    // the quality filter that catches boilerplate/looped generations;
    // every doc's fraction is pinned through the oracle hash.
    Q("q_text_repetition",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.repetitionFrac(col("text")).as("rep3"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               r AS (SELECT doc_id,
                 CASE WHEN len(t) >= 3 THEN
                   round((len(t) - 2 -
                     len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                        FOR i IN range(1, len(t) - 1)])))::DOUBLE
                     / (len(t) - 2), 4)
                 ELSE 0.0 END AS rep3
                 FROM toks)
               SELECT doc_id, rep3 FROM r ORDER BY doc_id""")),

    Q("q_text_fingerprint",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents)
               SELECT doc_id,
                 list_reduce(list_prepend(0::BIGINT,
                     [(131*len(x) + ascii(x[1]))::BIGINT FOR x IN t]),
                   (a, b) -> (a*31 + b) % 2147483647) AS fp
               FROM toks ORDER BY doc_id""")),

    // PII redaction — the scrub every shipped corpus needs: emails, IPs,
    // and 555-phones replaced by tags, counts audited on the raw text.
    // The fixture has no PII, so both sides seed it deterministically from
    // doc_id (%3 → an email, %4 → a dotted-quad, %5 → a phone; doc 0 gets
    // all three). The oracle replays seeding, RE2-portable patterns, and
    // replacement order, and every redacted doc hash-matches.
    // UNICODE NORMALIZATION (text_normalize, a native codegen Expression —
    // Spark ships no normalizer builtin): the same visible text arrives
    // precomposed from one source and decomposed from another
    // (é vs e+U+0301), and every downstream equality — dedup shingles,
    // FTS terms, content hashes — silently misses across the encodings
    // until an NFC pass runs first. The fixture text gains a decomposed
    // suffix (combining acute + the NFC-INVARIANT ﬁ ligature, which NFC
    // must NOT touch — that's NFKC's job, pinned in the spec); md5 of the
    // normalized string proves byte identity with DuckDB's nfc_normalize.
    Q("q_text_nfc",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents_nfc")
        s.sql("""SELECT doc_id,
                   CAST(length(raw) AS INT) AS len_raw,
                   CAST(length(text_normalize(raw, 'NFC')) AS INT) AS len_nfc,
                   md5(text_normalize(raw, 'NFC')) AS h
                 FROM (SELECT doc_id, text || ' cafe\u0301 \uFB01le' AS raw
                       FROM documents_nfc)
                 ORDER BY doc_id""")
      },
      Some("""SELECT doc_id,
                CAST(length(raw) AS INTEGER) AS len_raw,
                CAST(length(nfc_normalize(raw)) AS INTEGER) AS len_nfc,
                md5(nfc_normalize(raw)) AS h
              FROM (SELECT doc_id,
                      text || ' cafe' || chr(769) || ' ' || chr(64257) || 'le' AS raw
                    FROM documents)
              ORDER BY doc_id""")),

    Q("q_text_pii",
      (s, dir) => {
        val phone = concat(lit("555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        val seeded = Tables(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(4)) === 0,
              concat(lit(" server at 10.0."), pmod(col("doc_id"), lit(256)),
                lit("."), pmod(col("doc_id"), lit(7)))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" call "), phone)).otherwise(lit(""))).as("text"))
        TextStats.redactPii(seeded).orderBy("doc_id")
      },
      Some("""WITH seeded AS (SELECT doc_id, text
                || (CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || doc_id || '@example.com' ELSE '' END)
                || (CASE WHEN doc_id % 4 = 0
                    THEN ' server at 10.0.' || (doc_id % 256) || '.' || (doc_id % 7)
                    ELSE '' END)
                || (CASE WHEN doc_id % 5 = 0
                    THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
                         || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                    ELSE '' END) AS text
              FROM documents)
              SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(text,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b555-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text,
                len(regexp_extract_all(text,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_email,
                len(regexp_extract_all(text,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
                len(regexp_extract_all(text,
                  '\b555-\d{3}-\d{4}\b'))::BIGINT AS n_phone
              FROM seeded ORDER BY doc_id""")),

    // CCNet-style perplexity filter: an add-α unigram LM is trained on the
    // English slice (the stand-in for CCNet's Wikipedia reference corpus)
    // and every doc is scored against it — low perplexity ≈ reads like the
    // reference. Model state is vocabulary-sized and broadcast; the corpus
    // is never shuffled by token (scale notes in Lm.scala). The oracle
    // retrains the same LM and replays the smoothing formula per token.
    Q("q_text_perplexity",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.pipeline.Lm.perplexity(docs, docs.where(col("lang") === "en"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents),
               train AS (SELECT unnest(t) AS tok FROM toks WHERE lang = 'en'),
               cnt AS (SELECT tok, count(*)::BIGINT AS c FROM train GROUP BY tok),
               tot AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM cnt),
               d AS (SELECT doc_id, unnest(t) AS tok FROM toks),
               lp AS (SELECT d.doc_id,
                        avg(ln((coalesce(c.c, 0) + 0.5) / (tot.n + 0.5*(tot.v + 1)))) AS m
                      FROM d LEFT JOIN cnt c USING (tok) CROSS JOIN tot
                      GROUP BY d.doc_id)
               SELECT doc_id, round(exp(-m), 4) AS ppl FROM lp ORDER BY doc_id""")),

    // INTERPOLATED KNESER-NEY bigram perplexity (Kneser & Ney 1995 —
    // KenLM's smoothing, CCNet's quality-filter family) trained on the
    // English slice: absolute discounting with continuation-probability
    // backoff, the statistically-honest upgrade over q_text_perplexity's
    // add-α unigram. The oracle replays bigram extraction, all four
    // count tables, the discount interpolation, the unseen-context
    // backoff, and the unseen-continuation floor.
    Q("q_text_kn",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.pipeline.Lm.knPerplexity(docs, docs.where(col("lang") === "en"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents),
               pos AS (SELECT doc_id, lang, t,
                         unnest(range(1, len(t))) AS i FROM toks),
               bg AS (SELECT doc_id, lang,
                        t[CAST(i AS INT)] AS v, t[CAST(i AS INT) + 1] AS w
                      FROM pos),
               cvw AS (SELECT v, w, count(*)::BIGINT AS cvw FROM bg
                       WHERE lang = 'en' GROUP BY v, w),
               ctx AS (SELECT v, sum(cvw)::BIGINT AS cv, count(*)::BIGINT AS n1pv
                       FROM cvw GROUP BY v),
               cont AS (SELECT w, count(*)::BIGINT AS n1pw FROM cvw GROUP BY w),
               tot AS (SELECT count(*)::DOUBLE AS n1pp FROM cvw),
               sc AS (SELECT bg.doc_id,
                        CASE WHEN ctx.cv IS NOT NULL THEN
                          (greatest(coalesce(cvw.cvw, 0)::DOUBLE - 0.75, 0.0) +
                           0.75 * ctx.n1pv::DOUBLE *
                             (coalesce(cont.n1pw, 0)::DOUBLE / tot.n1pp)) /
                            ctx.cv::DOUBLE
                        ELSE coalesce(cont.n1pw, 0)::DOUBLE / tot.n1pp END AS p,
                        tot.n1pp AS n1pp
                      FROM bg
                      LEFT JOIN cvw ON bg.v = cvw.v AND bg.w = cvw.w
                      LEFT JOIN ctx ON bg.v = ctx.v
                      LEFT JOIN cont ON bg.w = cont.w
                      CROSS JOIN tot),
               lp AS (SELECT doc_id,
                        avg(ln(CASE WHEN p > 0 THEN p
                               ELSE 1.0 / (n1pp + 1.0) END)) AS m
                      FROM sc GROUP BY doc_id)
               SELECT doc_id, round(exp(-m), 4) AS ppl FROM lp
               ORDER BY doc_id""")),

    // CCNet perplexity BUCKETS (Wenzek et al. 2020): per-language
    // head/middle/tail at each language's OWN perplexity tertiles under
    // the English-reference LM — the published quality policy that keeps
    // one noisy language from being globally tail-classified. Summary =
    // per (lang, bucket) count + min/max of the rounded ppl (order-free
    // aggregates, so no float-sum ambiguity). Oracle replays perplexity,
    // quantile_cont tertiles, bucket assignment, and the rollup.
    Q("q_pipeline_ccnet",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.pipeline.Lm.ccnetBuckets(docs, docs.where(col("lang") === "en"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n"),
            min(col("ppl")).as("min_ppl"), max(col("ppl")).as("max_ppl"))
          .orderBy("lang", "bucket")
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents),
               train AS (SELECT unnest(t) AS tok FROM toks WHERE lang = 'en'),
               cnt AS (SELECT tok, count(*)::BIGINT AS c FROM train GROUP BY tok),
               tot AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM cnt),
               d AS (SELECT doc_id, unnest(t) AS tok FROM toks),
               ppl AS (SELECT d.doc_id,
                         round(exp(-avg(ln((coalesce(c.c, 0) + 0.5) /
                           (tot.n + 0.5*(tot.v + 1))))), 4) AS ppl
                       FROM d LEFT JOIN cnt c USING (tok) CROSS JOIN tot
                       GROUP BY d.doc_id),
               wl AS (SELECT ppl.doc_id, t2.lang, ppl.ppl
                      FROM ppl JOIN toks t2 USING (doc_id)),
               thr AS (SELECT lang,
                         round(quantile_cont(ppl, 0.333333), 6) AS p33,
                         round(quantile_cont(ppl, 0.666667), 6) AS p66
                       FROM wl GROUP BY lang),
               b AS (SELECT wl.doc_id, wl.lang, wl.ppl,
                       CASE WHEN wl.ppl <= thr.p33 THEN 'head'
                            WHEN wl.ppl <= thr.p66 THEN 'middle'
                            ELSE 'tail' END AS bucket
                     FROM wl JOIN thr USING (lang))
               SELECT lang, bucket, count(*) AS n,
                 min(ppl) AS min_ppl, max(ppl) AS max_ppl
               FROM b GROUP BY lang, bucket ORDER BY lang, bucket""")),

    // DSIR-style importance weighting toward the English slice: hashed
    // bigram features (3-hex-char md5 prefix → 4096 buckets — the
    // engine-portable hash), per-bucket log-ratio of λ-mixture-smoothed
    // target vs raw distributions, summed per doc. Bucket/ratio tables are
    // ≤4096 rows and broadcast; two corpus passes by construction (global
    // counts before scoring). The oracle replays hash, smoothing, and sum.
    Q("q_text_dsir",
      (s, dir) => graft.pipeline.Lm.dsirWeights(
          Tables(s, dir, "documents"), col("lang") === "en")
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, lang, $DTOKS AS t FROM documents),
               f AS (SELECT doc_id, lang = 'en' AS is_t,
                       unnest([substr(md5(t[i] || ' ' || t[i+1]), 1, 3)
                               FOR i IN range(1, len(t))]) AS b
                     FROM toks WHERE len(t) >= 2),
               raw AS (SELECT b, count(*)::BIGINT AS cr FROM f GROUP BY b),
               tgt AS (SELECT b, count(*)::BIGINT AS ct FROM f WHERE is_t GROUP BY b),
               totr AS (SELECT sum(cr)::DOUBLE AS nr FROM raw),
               tott AS (SELECT sum(ct)::DOUBLE AS nt FROM tgt),
               r AS (SELECT raw.b,
                       ln(coalesce(tgt.ct, 0) / tott.nt * 0.99 + 0.01/4096) -
                       ln(raw.cr / totr.nr * 0.99 + 0.01/4096) AS lr
                     FROM raw LEFT JOIN tgt USING (b)
                     CROSS JOIN totr CROSS JOIN tott)
               SELECT f.doc_id, round(sum(r.lr), 4) AS dsir_w
               FROM f JOIN r USING (b) GROUP BY f.doc_id ORDER BY doc_id""")),

    // Token-window chunking (RAG/embedding prep): 64-token windows every
    // 48 tokens, trailing partial kept; chunk_id derived from the window
    // start, so the whole op is one narrow projection — no window
    // function, no shuffle. The oracle slices the same token lists.
    Q("q_text_chunk",
      (s, dir) => graft.pipeline.Lm.chunk(Tables(s, dir, "documents"), 64, 48)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               st AS (SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s
                      FROM toks WHERE len(t) > 0)
               SELECT doc_id, (s // 48)::BIGINT AS chunk_id,
                 least(64, len(t) - s)::BIGINT AS n_chunk_tokens,
                 array_to_string(list_slice(t, s + 1, s + 64), ' ') AS chunk_text
               FROM st ORDER BY doc_id, chunk_id""")),

    // ---- end-to-end curation ------------------------------------------------
    // The composite the library exists for: quality-filter (token count +
    // lexical diversity) → exact dedup keeping the lowest doc_id per content
    // hash → per-language corpus counts. Everything stays declarative, so
    // Catalyst fuses the quality projection into the scan and both joins are
    // semi-joins on doc_id.
    Q("q_pipeline_curate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val keep = TextStats.qualityStats(docs)
          .filter(col("n_tokens") >= 20 && col("distinct_ratio") >= 0.4)
          .select("doc_id")
        val reps = docs.join(keep, Seq("doc_id"), "left_semi")
          .groupBy(md5(col("text")).as("content_key"))
          .agg(min(col("doc_id")).as("doc_id"))
        docs.join(reps.select("doc_id"), Seq("doc_id"), "left_semi")
          .groupBy("lang").agg(count(lit(1)).as("n"))
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (SELECT doc_id, text, lang, $DTOKS AS t FROM documents),
               keep AS (
                 SELECT doc_id FROM toks
                 WHERE len(t) >= 20
                   AND round(len(list_distinct(t))::DOUBLE / len(t), 4) >= 0.4),
               reps AS (
                 SELECT min(doc_id) AS doc_id
                 FROM documents JOIN keep USING (doc_id)
                 GROUP BY md5(text))
               SELECT lang, count(*) AS n
               FROM documents JOIN reps USING (doc_id)
               GROUP BY lang ORDER BY lang""")),

    // The WHOLE library in one query — the canonical LLM-corpus curation
    // pipeline: quality filter → exact dedup (keep min id per content hash)
    // → near-dedup (drop any doc with a smaller-id near-dup at J ≥ 0.8;
    // "local minima" rule = keep-first, deterministic and
    // transitive-chain-stable) → per-language doc counts + BPE-ish token
    // budget. Every stage is shuffle-bounded: semi/anti joins on doc_id,
    // prefix-filter blocking for candidates (never all-pairs). Prefix
    // filtering (not minhash) on purpose: its recall is EXACTLY 1.0, so the
    // brute-force all-pairs oracle can never diverge on any fixture —
    // minhash's 1e-8 band-miss probability is fine in production but is a
    // latent hash-mismatch in a bit-compare harness.
    Q("q_pipeline_full",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val keep = TextStats.qualityStats(docs)
          .filter(col("n_tokens") >= 20 && col("distinct_ratio") >= 0.4)
          .select("doc_id")
        val filtered = docs.join(keep, Seq("doc_id"), "left_semi")
        val exactReps = filtered
          .groupBy(md5(col("text")).as("content_key"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val stage2 = filtered.join(exactReps, Seq("doc_id"), "left_semi")
        val dropIds = Dedup.nearDupPairsNgram(stage2, 0.8)
          .select(col("bid").as("doc_id")).distinct()
        stage2.join(dropIds, Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextStats.estBpeTokens(col("text"))).as("token_budget"))
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (SELECT doc_id, text, lang, $DTOKS AS t FROM documents),
               keep AS (
                 SELECT doc_id FROM toks
                 WHERE len(t) >= 20
                   AND round(len(list_distinct(t))::DOUBLE / len(t), 4) >= 0.4),
               f AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
               reps AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
               s2 AS (SELECT f.* FROM f JOIN reps USING (doc_id)),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS sgl
                      FROM toks JOIN s2 USING (doc_id) WHERE len(t) >= 3),
               pairs AS (
                 SELECT a.doc_id AS aid, b.doc_id AS bid
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                 WHERE len(list_intersect(a.sgl, b.sgl))::DOUBLE /
                       len(list_distinct(list_concat(a.sgl, b.sgl))) >= 0.8),
               finals AS (
                 SELECT * FROM s2
                 WHERE doc_id NOT IN (SELECT DISTINCT bid FROM pairs))
               SELECT lang, count(*) AS n_docs,
                 CAST(sum(ceil(strlen(text) / 4.0)) AS BIGINT) AS token_budget
               FROM finals GROUP BY lang ORDER BY lang""")),

    // Deterministic hash-based train/val/test split — reproducible corpus
    // splits are assignment by content-stable hash, never by RNG (a re-run,
    // a different executor count, or a different engine must produce the
    // SAME split; that's why the oracle can hash-match it exactly). Buckets
    // come from the first md5 hex byte of the id: ≤ 0xc9 → train (~79%),
    // ≤ 0xe5 → val (~11%), else test (~10%). Pure per-row map — no shuffle
    // except the final tiny aggregate.
    Q("q_split_hash",
      (s, dir) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 2)
        Tables(s, dir, "documents")
          .select(col("lang"),
            when(h <= "c9", "train").when(h <= "e5", "val").otherwise("test")
              .as("split"),
            TextStats.estBpeTokens(col("text")).as("toks"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("token_budget"))
          .orderBy("split", "lang")
      },
      Some("""WITH s AS (SELECT lang,
                CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'c9' THEN 'train'
                     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
                     ELSE 'test' END AS split,
                CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS toks
              FROM documents)
            SELECT split, lang, count(*) AS n_docs,
              CAST(sum(toks) AS BIGINT) AS token_budget
            FROM s GROUP BY split, lang ORDER BY split, lang""")),

    // Sequence packing into 2048-token training bins. The Spark side is the
    // DISTRIBUTED two-level prefix sum (range partition → local window →
    // broadcast offsets — see graft.pipeline.Packing); the oracle states the
    // same semantics as the naive single-partition global window DuckDB can
    // afford at oracle scale. Hash equality proves the distributed prefix
    // sum is exactly the sequential one.
    // RAG-style document CHUNKING (pipeline/Chunking.scala): sliding
    // 8-token windows with 2-token overlap (stride 6), chunk c = tokens
    // [c*6, c*6+8), last chunk short — shuffle-FREE (tokenize → narrow
    // generate → slice projections; chunk rows inherit the scan's
    // partitioning, and (doc_id, chunk_id) is the stable upsert key the
    // streaming vector index wants). Oracle replays the window algebra.
    Q("q_pipeline_chunk",
      (s, dir) => Chunking.chunk(Tables(s, dir, "documents"),
          size = 8, overlap = 2)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               c AS (SELECT doc_id, t,
                       unnest(range(0,
                         CAST(floor((len(t) - 1) / 6) AS INT) + 1)) AS cid
                     FROM toks WHERE len(t) >= 1)
               SELECT doc_id, CAST(cid AS INT) AS chunk_id,
                 array_to_string(t[cid*6+1 : cid*6+8], ' ') AS text,
                 CAST(least(8, len(t) - cid*6) AS INT) AS n_toks
               FROM c ORDER BY doc_id, chunk_id""")),

    // CHUNK-LEVEL RETRIEVAL — chunking composed with the FTS index, the
    // RAG serving shape (retrieve the best-matching CHUNK, not document):
    // chunks become the corpus rows (key doc_id*1000+chunk_id — stride 6
    // bounds chunks/doc far below 1000 at any doc length the fixture
    // grammar yields), BM25 over the chunk index, top-10 chunks for
    // ('spark','query'). Chunk-level dl/avgdl make short focused chunks
    // outrank long diluted documents — the reason RAG indexes chunks.
    // Oracle replays chunking + BM25 end-to-end.
    Q("q_pipeline_chunk_bm25",
      (s, dir) => {
        val chunks = Chunking.chunk(Tables(s, dir, "documents"),
            size = 8, overlap = 2)
          .select((col("doc_id") * 1000 + col("chunk_id")).as("doc_id"),
            col("text"))
        graft.fts.Search.scoreBm25(graft.fts.Index.build(chunks),
          Seq("spark", "query"), k = 10)
          .withColumnRenamed("doc_id", "chunk_key")
      },
      Some(s"""WITH toks0 AS (SELECT doc_id, $DTOKS AS t FROM documents),
               c AS (SELECT doc_id, t,
                       unnest(range(0,
                         CAST(floor((len(t) - 1) / 6) AS INT) + 1)) AS cid
                     FROM toks0 WHERE len(t) >= 1),
               chunks AS (SELECT doc_id * 1000 + cid AS ck,
                            t[cid*6+1 : cid*6+8] AS t FROM c),
               tk AS (SELECT ck, unnest(t) AS term FROM chunks),
               tf AS (SELECT ck, term, count(*)::DOUBLE AS tf FROM tk GROUP BY 1, 2),
               dl AS (SELECT ck, count(*)::DOUBLE AS dl FROM tk GROUP BY 1),
               stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
               df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                      WHERE term IN ('spark', 'query') GROUP BY term),
               sc AS (SELECT tf.ck,
                        sum( ln((stats.n - df.df + 0.5)/(df.df + 0.5) + 1.0) *
                             tf.tf*2.2/(tf.tf + 1.2*(0.25 + 0.75*dl.dl/stats.avgdl)) ) AS s
                      FROM tf JOIN df USING(term) JOIN dl USING(ck) CROSS JOIN stats
                      GROUP BY tf.ck)
               SELECT ck AS chunk_key, round(s, 4) AS score FROM sc
               ORDER BY round(s, 4) DESC, chunk_key LIMIT 10""")),

    Q("q_pipeline_pack",
      (s, dir) => Packing.packByBudget(Tables(s, dir, "documents"), 2048L),
      Some("""WITH t AS (SELECT doc_id,
                CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS toks FROM documents),
              c AS (SELECT doc_id, toks,
                      sum(toks) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM t)
              SELECT CAST((cum - toks) // 2048 AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
              FROM c GROUP BY 1 ORDER BY 1""")),

    // PERCENTILE quality cutoff — thresholds in a curation pipeline are
    // set by the corpus's own distribution ("drop the worst decile"), not
    // constants: the p90 of the repetition signal becomes the filter, via
    // a 1-row broadcast (no driver round-trip). Exact percentile is a
    // one-reducer sort kept for oracle parity — the 100 TB swap is
    // approx_percentile in the same plan position; everything else is
    // unchanged.
    // Deterministic QUALITY-WEIGHTED SAMPLING + epoch reshuffle — the
    // STRATIFIED sample with EXACT per-language quotas (rank-based, not
    // Bernoulli): within each stratum rows rank by md5(doc_id:seed) and
    // the first `target` survive; fr's quota (80) exceeds its 64 docs —
    // the keep-all branch is live. One rank window PARTITIONED BY the
    // stratum (plan-asserted in PlanShapeSpec): per-task state is one
    // stratum slice, never a global sort. The per-quota filter compares a
    // joined column, so it can't fold to WindowGroupLimit — with a single
    // literal quota it would; the window partitioning is the scale
    // guarantee either way. Oracle replays the md5 ordering bit-for-bit.
    Q("q_pipeline_stratified",
      (s, dir) => Sampling.stratifiedSample(Tables(s, dir, "documents"),
          "lang", Map("en" -> 60L, "de" -> 30L, "es" -> 30L,
            "fr" -> 80L, "zh" -> 30L), seed = "s1")
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("lang", "rk"),
      Some("""WITH ranked AS (SELECT doc_id, lang,
                CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s1'), doc_id)
                  AS INTEGER) AS rk
              FROM documents)
              SELECT doc_id, lang, rk FROM ranked
              WHERE rk <= CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 30
                WHEN 'es' THEN 30 WHEN 'fr' THEN 80 WHEN 'zh' THEN 30 END
              ORDER BY lang, rk""")),

    // DETERMINISTIC EPOCH SHUFFLE: the training-order permutation as pure
    // hash arithmetic — shard = md5(doc_id:epoch) prefix mod 8, position =
    // in-shard rank of the full digest. A new epoch is a new permutation;
    // a re-run of any failed shard reproduces it exactly (no RNG state);
    // the permutation IS the hash partitioning, so at 100 TB each output
    // shard is one task's local sort of constant-width keys — no global
    // sort anywhere. Oracle replays the digest ordering.
    Q("q_pipeline_shuffle",
      (s, dir) => Sampling.epochShuffle(Tables(s, dir, "documents"),
          epoch = 1, nShards = 8)
        .orderBy("shard", "pos"),
      Some("""WITH k AS (SELECT doc_id,
                  md5(CAST(doc_id AS VARCHAR) || ':ep1') AS k
                FROM documents),
              s AS (SELECT doc_id, k,
                  CAST(CAST('0x' || substring(k, 1, 4) AS BIGINT) % 8 AS INTEGER) AS shard
                FROM k)
              SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                     AS INTEGER) AS pos
              FROM s ORDER BY shard, pos""")),

    // LENGTH-BUCKETED BATCHING audit: 8 equal-size quantile buckets by
    // token count; per bucket the padding efficiency Σlen/(n·max_len).
    // The corpus-global ntile decomposes into a histogram-scale cumsum +
    // a len-partitioned row_number + exact integer ntile arithmetic — no
    // corpus-wide single-partition window (the oracle MAY global-sort;
    // the engine never does). sum pinned to BIGINT (DuckDB widens to
    // HUGEINT).
    Q("q_pipeline_length_bucket",
      (s, dir) => Sampling.lengthBuckets(Tables(s, dir, "documents"), 8),
      Some(s"""WITH lens AS (SELECT doc_id AS id, len($DTOKS)::BIGINT AS len
                             FROM documents),
               ranked AS (SELECT id, len,
                   row_number() OVER (ORDER BY len, id) AS rk,
                   count(*) OVER () AS n_total
                 FROM lens),
               b AS (SELECT len,
                   CAST(CASE WHEN rk <= ((n_total // 8) + 1) * (n_total % 8)
                     THEN (rk - 1) // ((n_total // 8) + 1) + 1
                     ELSE (n_total % 8) +
                          (rk - ((n_total // 8) + 1) * (n_total % 8) - 1)
                            // (n_total // 8) + 1 END AS INTEGER) AS bucket
                 FROM ranked)
               SELECT bucket, count(*) AS n_docs,
                 min(len) AS min_len, max(len) AS max_len,
                 CAST(sum(len) AS BIGINT) AS sum_len,
                 floor(sum(len)::DOUBLE / (count(*) * max(len))::DOUBLE
                       * 10000 + 0.5) / 10000 AS pad_eff
               FROM b GROUP BY bucket ORDER BY bucket""")),

    // PREFERENCE-PAIR construction (the RLHF/DPO data shape): per
    // (lang, source) group, chosen = highest-scoring doc, rejected =
    // lowest (ties on id), pair kept only when the gap clears the margin —
    // indistinguishable sides teach nothing. n_chars stands in for the
    // reward-model score (exact integer, so the gap filter is exact). Two
    // rank windows over one group partitioning — group-local state only.
    Q("q_pipeline_pref_pairs",
      (s, dir) => Sampling.preferencePairs(Tables(s, dir, "documents"),
        Seq("lang", "source"), "n_chars", margin = 50L),
      Some("""WITH m AS (SELECT lang, source, doc_id, n_chars,
                row_number() OVER (PARTITION BY lang, source
                                   ORDER BY n_chars DESC, doc_id) AS b,
                row_number() OVER (PARTITION BY lang, source
                                   ORDER BY n_chars ASC, doc_id) AS r
              FROM documents),
              c AS (SELECT lang, source, doc_id AS chosen_id,
                      n_chars AS chosen_score FROM m WHERE b = 1),
              j AS (SELECT lang, source, doc_id AS rejected_id,
                      n_chars AS rejected_score FROM m WHERE r = 1)
              SELECT c.lang, c.source, chosen_id, chosen_score,
                rejected_id, rejected_score,
                chosen_score - rejected_score AS gap
              FROM c JOIN j USING (lang, source)
              WHERE chosen_id <> rejected_id
                AND chosen_score - rejected_score >= 50
              ORDER BY lang, source""")),

    // COLLOCATIONS by PMI (Church & Hanks pointwise mutual information):
    // adjacent-pair association ln(c₁₂·N / (c₁·c₂)) over the bigram and
    // unigram count tables (the same frames the phrase suggester and KN
    // perplexity build), min-count floor against low-frequency noise —
    // the phrase-mining pass that feeds tokenizer/ngram vocabularies.
    // Vocabulary-scale state; one corpus pass per count table.
    Q("q_text_collocations",
      (s, dir) => {
        graft.core.Tables.registerViews(s, dir)
        s.sql("""WITH toks AS (SELECT filter(split(lower(text), '[^a-z0-9]+'),
                     t -> t != '') AS t FROM documents),
                 uni AS (SELECT explode(t) AS w FROM toks),
                 c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
                 st AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c1),
                 big AS (SELECT explode(filter(transform(t,
                       (x, i) -> IF(i < size(t) - 1,
                         named_struct('w1', t[i], 'w2', t[i+1]), null)),
                     p -> p IS NOT NULL)) AS p FROM toks),
                 c2 AS (SELECT p.w1, p.w2, count(*) AS c12 FROM big
                        GROUP BY p.w1, p.w2)
                 SELECT w1, w2, c12,
                   round(ln(c12 * st.n / (a.c * b.c)), 4) AS pmi
                 FROM c2 JOIN c1 a ON a.w = w1 JOIN c1 b ON b.w = w2
                 CROSS JOIN st
                 WHERE c12 >= 25
                 ORDER BY pmi DESC, w1, w2 LIMIT 20""")
      },
      Some("""WITH toks AS (SELECT list_filter(string_split_regex(lower(text),
                  '[^a-z0-9]+'), t -> len(t) > 0) AS t FROM documents),
              uni AS (SELECT unnest(t) AS w FROM toks),
              c1 AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
              st AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c1),
              big AS (SELECT unnest([{'w1': t[i], 'w2': t[i+1]}
                                     FOR i IN range(1, len(t))]) AS p
                      FROM toks),
              c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c12
                     FROM big GROUP BY 1, 2)
              SELECT w1, w2, c12,
                round(ln(c12 * st.n / (a.c * b.c)), 4) AS pmi
              FROM c2 JOIN c1 a ON a.w = w1 JOIN c1 b ON b.w = w2
              CROSS JOIN st
              WHERE c12 >= 25
              ORDER BY pmi DESC, w1, w2 LIMIT 20""")),

    // SPLIT-LEAKAGE audit (the dedup-before-split lesson, quantified):
    // deterministic hash split into train/test, then count the near-dup
    // pairs (the verified ngram-prefix pair set) that STRADDLE the split
    // — each is a test answer sitting in the training set. One join of
    // the pair frame against the split assignment; the pair machinery is
    // the existing blocked/verified path, never all-pairs.
    Q("q_pipeline_split_leakage",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val split = docs.select(col("doc_id"),
          when(conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":split"))), 1, 6), 16, 10).cast("long") % 10 < 8, "train")
            .otherwise("test").as("split"))
        val pairs = Dedup.nearDupPairsNgram(docs, 0.8)
        pairs
          .join(split.withColumnRenamed("doc_id", "aid")
            .withColumnRenamed("split", "sa"), "aid")
          .join(split.withColumnRenamed("doc_id", "bid")
            .withColumnRenamed("split", "sb"), "bid")
          .agg(count(lit(1)).as("near_dup_pairs"),
            sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
              .as("leaking_pairs"),
            countDistinct(when(col("sa") =!= col("sb"),
              when(col("sa") === "test", col("aid"))
                .otherwise(col("bid")))).as("contaminated_test_docs"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents),
               sh AS (SELECT doc_id,
                        list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       FOR i IN range(1, len(t) - 1)]) AS s
                      FROM toks WHERE len(t) >= 3),
               p AS (SELECT a.doc_id AS aid, b.doc_id AS bid
                     FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                     WHERE len(list_intersect(a.s, b.s))::DOUBLE /
                           len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
               sp AS (SELECT doc_id,
                        CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                               || ':split'), 1, 6) AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'test' END AS split
                      FROM documents)
               SELECT count(*) AS near_dup_pairs,
                 CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
                      AS BIGINT) AS leaking_pairs,
                 count(DISTINCT CASE WHEN sa.split <> sb.split THEN
                   CASE WHEN sa.split = 'test' THEN p.aid ELSE p.bid END
                 END) AS contaminated_test_docs
               FROM p JOIN sp sa ON sa.doc_id = p.aid
               JOIN sp sb ON sb.doc_id = p.bid""")),

    // ZIPF FIT: the rank-frequency slope of the token histogram on the
    // log-log scale (natural text ≈ −1; the fixture's synthetic word soup
    // is much flatter — which is exactly what the statistic detects, the
    // "is this corpus natural language" screen). regr_slope over the
    // vocabulary-sized (ln rank, ln freq) frame — the regression state is
    // |vocab| rows; both engines compute the same least-squares moments.
    Q("q_text_zipf",
      (s, dir) => {
        graft.core.Tables.registerViews(s, dir)
        s.sql("""WITH c AS (SELECT w, count(*) AS c FROM
                   (SELECT explode(split(lower(text), '[^a-z0-9]+')) AS w
                    FROM documents) WHERE w <> '' GROUP BY w),
                 r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
                       FROM c)
                 SELECT count(*) AS n_terms,
                   round(regr_slope(ln(c), ln(rk)), 4) AS zipf_slope,
                   round(regr_r2(ln(c), ln(rk)), 4) AS r2
                 FROM r""")
      },
      Some("""WITH c AS (SELECT w, count(*) AS c FROM
                (SELECT unnest(list_filter(string_split_regex(lower(text),
                   '[^a-z0-9]+'), t -> len(t) > 0)) AS w
                 FROM documents) GROUP BY w),
              r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
                    FROM c)
              SELECT count(*) AS n_terms,
                round(regr_slope(ln(c), ln(rk)), 4) AS zipf_slope,
                round(regr_r2(ln(c), ln(rk)), 4) AS r2
              FROM r""")),

    // DATASET CARD manifest (the per-slice metadata artifact every corpus
    // release ships): one row per language with volume, length, source
    // diversity, exact-dup pressure, and corpus share — a single
    // aggregation pass plus one broadcast total, the stats a curation run
    // publishes beside the data. sum pinned to BIGINT (HUGEINT widening).
    Q("q_pipeline_datacard",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val tot = d.agg(count(lit(1)).cast("double").as("n_total"))
        d.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            // rational ratios → floor-form rounding (core.Num.roundHalfUp)
            graft.core.Num.roundHalfUp(avg(col("n_chars")), 2)
              .as("mean_chars"),
            countDistinct(col("source")).as("n_sources"),
            (count(lit(1)) - countDistinct(col("text"))).as("exact_dup_docs"))
          .crossJoin(broadcast(tot))
          .withColumn("share",
            graft.core.Num.roundHalfUp(col("n_docs") / col("n_total"), 4))
          .drop("n_total")
          .orderBy("lang")
      },
      Some("""WITH tot AS (SELECT count(*)::DOUBLE AS n_total FROM documents)
              SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                floor(avg(n_chars) * 100 + 0.5) / 100 AS mean_chars,
                count(DISTINCT source) AS n_sources,
                count(*) - count(DISTINCT text) AS exact_dup_docs,
                floor(count(*) / tot.n_total * 10000 + 0.5) / 10000 AS share
              FROM documents CROSS JOIN tot
              GROUP BY lang, tot.n_total ORDER BY lang""")),

    // CURRICULUM SCHEDULE (Bengio et al.; competence-based pacing): epoch
    // e draws its budget only from the easiest fraction of the corpus by
    // exact difficulty rank (n_chars here; a loss/perplexity signal in
    // production) — the allowed pool widens 50% → 75% → 100% and the
    // drawn difficulty profile shifts with it. Rank decomposes via the
    // histogram cumsum (no corpus-global window on the engine side); the
    // oracle MAY global-sort. Draw is md5-deterministic per epoch.
    Q("q_pipeline_curriculum",
      (s, dir) => Sampling.curriculumSchedule(Tables(s, dir, "documents"),
        "n_chars", fractions = Seq(0.5, 0.75, 1.0), budget = 100,
        seed = "c1"),
      Some("""WITH lens AS (SELECT doc_id AS id, n_chars AS d FROM documents),
              ranked AS (SELECT id, d,
                  row_number() OVER (ORDER BY d, id) AS rk,
                  count(*) OVER () AS n_total
                FROM lens),
              ep AS (SELECT unnest([1, 2, 3]) AS epoch,
                            unnest([0.5, 0.75, 1.0]) AS f),
              allowed AS (SELECT ep.epoch, r.id, r.rk FROM ranked r
                          JOIN ep ON r.rk <= CAST(ceil(r.n_total * ep.f)
                                                  AS BIGINT)),
              drawn AS (SELECT epoch, id, rk,
                  row_number() OVER (PARTITION BY epoch
                    ORDER BY md5(CAST(id AS VARCHAR) || ':c1:' ||
                                 CAST(epoch AS VARCHAR)), id) AS dn
                FROM allowed),
              agg AS (SELECT epoch,
                  count(*) FILTER (dn <= 100) AS n_drawn,
                  max(rk) FILTER (dn <= 100) AS max_rank,
                  round(avg(rk) FILTER (dn <= 100), 2) AS mean_rank,
                  count(*) AS n_allowed
                FROM drawn GROUP BY epoch)
              SELECT CAST(epoch AS INTEGER) AS epoch, n_allowed, n_drawn,
                mean_rank, max_rank
              FROM agg ORDER BY epoch""")),

    // WEIGHTED SAMPLE WITHOUT REPLACEMENT (Efraimidis-Spirakis A-ES
    // exponential race; the principled "sample 50 docs proportional to
    // length" draw): key = −ln(u)/w per row, n smallest win — one
    // projection + a TakeOrderedAndProject heap, no sequential draws, no
    // RNG state; u is the md5 trick shifted into (0,1] so the log is
    // total. Keys round to 9 dp (libm ln ulps) with id tiebreak.
    Q("q_pipeline_weighted_sample",
      (s, dir) => Sampling.weightedSample(Tables(s, dir, "documents"),
          "n_chars", n = 50, seed = "w1")
        .select(col("doc_id"), col("skey")),
      Some("""WITH k AS (SELECT doc_id,
                round(-ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                        || ':w1'), 1, 6) AS BIGINT) + 1.0) / 16777216.0)
                      / n_chars, 9) AS skey
              FROM documents)
              SELECT doc_id, skey FROM k ORDER BY skey, doc_id LIMIT 50""")),

    // RNG-free way a training pipeline thins a corpus: per-doc keep
    // probability p from a quality proxy, uniform u derived from
    // md5(doc_id, epoch) — no RNG state, so any worker (or engine)
    // recomputes the identical sample, and changing the epoch tag reseeds
    // the whole draw. Keep iff u < p. Stateless, embarrassingly parallel,
    // resumable — the properties 100 TB curation needs. Oracle replays
    // md5 bit-for-bit (both engines agree on md5 hex).
    Q("q_pipeline_sample_det",
      (s, dir) => {
        graft.core.Tables.registerViews(s, dir)
        s.sql("""WITH sc AS (SELECT doc_id, lang,
                     least(1.0, n_chars / 2000.0) AS p,
                     CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':ep1')), 1, 6), 16, 10) AS DOUBLE)
                       / 16777216.0 AS u
                   FROM documents)
                 SELECT lang, count(*) AS kept,
                   CAST(round(sum(p), 3) AS DOUBLE) AS expected
                 FROM sc WHERE u < p
                 GROUP BY lang ORDER BY lang""")
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
                  least(1.0, n_chars / 2000.0) AS p,
                  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ep1'), 1, 6) AS BIGINT) AS DOUBLE)
                    / 16777216.0 AS u
                FROM documents)
              SELECT lang, count(*) AS kept,
                CAST(round(sum(p), 3) AS DOUBLE) AS expected
              FROM sc WHERE u < p
              GROUP BY lang ORDER BY lang""")),

    Q("q_pipeline_quality_cut",
      (s, dir) => {
        val scored = Tables(s, dir, "documents").select(col("doc_id"),
            col("lang"),
            TextStats.repetitionFrac(col("text")).as("rep3"),
            TextStats.estBpeTokens(col("text")).as("toks"))
          .persist() // rep3 is a kernel pass; threshold + filter both scan
        scored.count()
        try {
          val thr = scored.agg(
            round(expr("percentile(rep3, 0.9)"), 6).as("thr"))
          val out = scored.crossJoin(broadcast(thr))
            .filter(col("rep3") <= col("thr"))
            .groupBy("lang")
            .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
            .orderBy("lang")
          s.createDataFrame(
            java.util.Arrays.asList(out.collect(): _*), out.schema)
        } finally scored.unpersist()
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, text, $DTOKS AS t FROM documents),
               r AS (SELECT doc_id, lang,
                       CASE WHEN len(t) >= 3 THEN
                         round((len(t) - 2 -
                           len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                              FOR i IN range(1, len(t) - 1)])))::DOUBLE
                           / (len(t) - 2), 4)
                       ELSE 0.0 END AS rep3,
                       CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS toks
                     FROM toks),
               thr AS (SELECT round(quantile_cont(rep3, 0.9), 6) AS t FROM r)
               SELECT lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens
               FROM r, thr WHERE rep3 <= t
               GROUP BY lang ORDER BY lang""")),

    // GOPHER document-quality rules (Rae et al. 2021, Table A1) over the
    // seeded multi-line fixture (wrap 6 tokens/line; deterministic '.",
    // '...' endings, '- ' bullets; d%3 docs gain a stop-word line so R7
    // passes somewhere, d%9 docs a symbol/junk line so R3 fails
    // somewhere). EVERY signal column is in the output, so the oracle
    // pins each rule's arithmetic per doc — keep is derived from the
    // rounded signals on both sides.
    Q("q_text_gopher",
      (s, dir) => {
        val fixture = curationFixture(s, dir)
        try {
          val out = graft.pipeline.Curation.gopherQuality(fixture)
            .orderBy("doc_id")
          s.createDataFrame(
            java.util.Arrays.asList(out.collect(): _*), out.schema)
        } finally fixture.unpersist()
      },
      Some(s"""$CurationFixtureSql,
               w AS (SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'),
                         x -> len(x) > 0) AS w,
                       string_split(text, chr(10)) AS l
                     FROM fixture),
               sig AS (SELECT doc_id,
                 len(w)::BIGINT AS n_words,
                 round(list_sum(list_transform(w, x -> len(x)))::DOUBLE
                   / len(w), 6) AS mean_word_len,
                 round(((len(text) - len(replace(text, '#', '')))
                   + (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE
                   / len(w), 6) AS symbol_ratio,
                 round(len(list_filter(l, x -> starts_with(x, '- ')
                   OR starts_with(x, '* ') OR starts_with(x, '• ')))::DOUBLE
                   / len(l), 6) AS bullet_frac,
                 round(len(list_filter(l, x -> ends_with(x, '...')))::DOUBLE
                   / len(l), 6) AS ellipsis_frac,
                 round(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                   / len(w), 6) AS alpha_word_frac,
                 len(list_intersect(w, ['the','be','to','of','and','that',
                   'have','with']))::BIGINT AS n_stop_kinds
               FROM w)
               SELECT *,
                 (n_words BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
                  AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
                  AND n_stop_kinds >= 2) AS keep
               FROM sig ORDER BY doc_id""")),

    // C4 cleaning (Raffel et al. 2020 §2.2) over the same fixture: line
    // retention (terminal punctuation, >= 5 words, no 'javascript'), then
    // page drops (< 3 kept lines, 'lorem ipsum', '{'). Cleaned text,
    // kept-line count, and page verdict all hash-exact per doc.
    Q("q_pipeline_c4",
      (s, dir) => {
        val fixture = curationFixture(s, dir)
        try {
          val out = graft.pipeline.Curation.c4Clean(fixture)
            .orderBy("doc_id")
          s.createDataFrame(
            java.util.Arrays.asList(out.collect(): _*), out.schema)
        } finally fixture.unpersist()
      },
      Some(s"""$CurationFixtureSql,
               kl AS (SELECT doc_id, text,
                 list_filter(string_split(text, chr(10)), x ->
                   (ends_with(x, '.') OR ends_with(x, '!')
                    OR ends_with(x, '?') OR ends_with(x, '"'))
                   AND len(list_filter(string_split_regex(x, '\\s+'),
                         y -> len(y) > 0)) >= 5
                   AND NOT contains(lower(x), 'javascript')) AS kl
                 FROM fixture)
               SELECT doc_id,
                 coalesce(array_to_string(kl, chr(10)), '') AS clean_text,
                 len(kl)::BIGINT AS n_lines_kept,
                 (len(kl) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
                  AND NOT contains(text, '{')) AS keep
               FROM kl ORDER BY doc_id""")),

    // CORPUS MIXING — per-source token budgets (the training-mixture
    // weights step): each source contributes its md5-ordered document
    // prefix until the budget is reached. Budgets pin the edges: src1
    // uncapped (all 25 docs), src0/src2 mid-cap, src3 zero (absent from
    // the output), src4 budget 1 (exactly one straddling doc — the
    // exclusive-prefix contract), every other source unlisted (dropped).
    // Spark runs the per-source DISTRIBUTED prefix sum (see
    // graft.pipeline.Mixing); the oracle states the same semantics as the
    // naive per-source window DuckDB can afford at oracle scale.
    // TEMPERATURE-weighted mixing (mT5/XLM-R alpha-sampling): per-source
    // budgets derive FROM THE DATA as w_s ∝ n_s^0.3 over the per-source
    // token counts (alpha<1 up-samples small sources), then the standard
    // budget mixer applies. Weights are rounded to 4 dp and integer-
    // scaled BEFORE any division so every remaining step is exact BIGINT
    // arithmetic — a float Σw would differ by summation order across
    // engines and flip a floor boundary. Oracle replays counts → pow →
    // scaling → integer budgets → the md5-prefix mix.
    Q("q_pipeline_mix_temp",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Mixing.mixByBudget(docs,
            Mixing.temperatureBudgets(docs, totalBudget = 10000L, alpha = 0.3))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("mixed_tokens"))
          .orderBy("source")
      },
      Some("""WITH n AS (SELECT source,
                  sum(CAST(ceil(strlen(text) / 4.0) AS BIGINT)) AS n
                FROM documents GROUP BY 1),
              w AS (SELECT source,
                      CAST(round(pow(CAST(n AS DOUBLE), 0.3) * 10000) AS BIGINT)
                        AS w4 FROM n),
              tot AS (SELECT sum(w4) AS sw FROM w),
              b AS (SELECT source, (10000 * w4) // sw AS budget FROM w, tot),
              t AS (SELECT doc_id, source,
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h,
                      CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS toks
                    FROM documents),
              c AS (SELECT t.source, t.toks, b.budget,
                      sum(toks) OVER (PARTITION BY t.source ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) - toks AS strt
                    FROM t JOIN b USING (source))
              SELECT source, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS mixed_tokens
              FROM c WHERE strt < budget
              GROUP BY source ORDER BY source""")),

    // DATA-CONSTRAINED repeat caps (Muennighoff et al. 2023,
    // arXiv:2305.16264): temperature budgets, but no source is asked for
    // more than maxEpochs passes over its own tokens; freed budget
    // redistributes proportionally among the uncapped sources via EXACT
    // integer waterfilling (sort by cap/weight, cap the binding prefix —
    // Mixing.temperatureBudgetsCappedCounted). total=55000 @ alpha=0.3,
    // maxEpochs=1.5 caps 12 of the fixture's 20 sources and leaves 8
    // proportional, pinning both branches AND the redistribution
    // arithmetic. The oracle replays the sort key, the prefix condition,
    // the budget floors, and the md5-prefix mix.
    Q("q_pipeline_mix_capped",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val budgets = Mixing.temperatureBudgetsCapped(docs,
          totalBudget = 55000L, alpha = 0.3, maxEpochs = 1.5)
        import s.implicits._
        val bdf = budgets.toSeq.toDF("source", "budget")
        Mixing.mixByBudget(docs, budgets)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("mixed_tokens"))
          .join(broadcast(bdf), "source")
          .select(col("source"), col("budget"), col("n_docs"),
            col("mixed_tokens"))
          .orderBy("source")
      },
      Some("""WITH n AS (SELECT source,
                  sum(CAST(ceil(strlen(text) / 4.0) AS BIGINT)) AS n
                FROM documents GROUP BY 1),
              w AS (SELECT source, n,
                      CAST(round(pow(CAST(n AS DOUBLE), 0.3) * 10000) AS BIGINT)
                        AS w4,
                      (n * 15000) // 10000 AS cap
                    FROM n),
              ord AS (SELECT a.*, (SELECT count(*) FROM w b
                        WHERE b.cap::HUGEINT * a.w4 < a.cap::HUGEINT * b.w4
                           OR (b.cap::HUGEINT * a.w4 = a.cap::HUGEINT * b.w4
                               AND b.source < a.source)) + 1 AS i
                      FROM w a),
              pre AS (SELECT *,
                        coalesce(sum(cap) OVER (ORDER BY i
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS ccprev,
                        sum(w4) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS swfrom
                      FROM ord),
              flag AS (SELECT *,
                         bool_and(cap * swfrom < (55000 - ccprev) * w4)
                           OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS iscap
                       FROM pre),
              agg AS (SELECT
                        coalesce(sum(CASE WHEN iscap THEN cap END), 0) AS ccstar,
                        coalesce(sum(CASE WHEN NOT iscap THEN w4 END), 0) AS swstar
                      FROM flag),
              b AS (SELECT source,
                      (CASE WHEN iscap THEN cap
                            ELSE ((55000 - ccstar) * w4) // swstar
                       END)::BIGINT AS budget
                    FROM flag, agg),
              t AS (SELECT doc_id, source,
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h,
                      CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS toks
                    FROM documents),
              c AS (SELECT t.source, t.toks, b.budget,
                      sum(toks) OVER (PARTITION BY t.source ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) - toks AS strt
                    FROM t JOIN b USING (source))
              SELECT source, min(budget) AS budget, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS mixed_tokens
              FROM c WHERE strt < budget
              GROUP BY source ORDER BY source""")),

    // FINEWEB-SHAPE END-TO-END (Penedo et al. 2024's published stage
    // order, from this library's parts): C4 line/page scrub → Gopher
    // quality rules on the CLEANED text → MinHash-LSH near-dup dedup
    // keep-lowest-id → repeat-capped temperature budgets → md5-prefix
    // mix → per-source audit counts. The doubled curation fixture gains
    // "re-crawl" clones (ids +100000) so the dedup stage bites (8 drops);
    // total=8000 @ maxEpochs=1.0 caps 4 of 20 sources. Every stage both
    // bites and replays: the oracle chains fixture → C4 → rounded Gopher
    // signals → all-pairs shingle Jaccard → waterfill → mix, hash-exact.
    Q("q_pipeline_fineweb",
      (s, dir) => {
        val fixture0 = curationFixture(s, dir, doubled = true)
        var surv: org.apache.spark.sql.DataFrame = null
        var perDoc: org.apache.spark.sql.DataFrame = null
        try {
          val fixture = fixture0.unionByName(
            fixture0.filter(col("doc_id") < 60)
              .withColumn("doc_id", col("doc_id") + 100000L))
          val c4 = graft.pipeline.Curation.c4Clean(fixture)
            .filter(col("keep"))
            .select(col("doc_id"), col("clean_text").as("text"))
          surv = c4.join(
              graft.pipeline.Curation.gopherQuality(c4)
                .filter(col("keep")).select("doc_id"),
              Seq("doc_id"), "left_semi")
            .persist()
          surv.count()
          val dropped = Dedup.nearDupPairsMinhash(surv, 0.8)
            .select(col("bid").as("doc_id")).distinct()
          val deduped = surv.join(dropped, Seq("doc_id"), "left_anti")
          val srcOf = Tables(s, dir, "documents")
            .select(col("doc_id").as("orig_id"), col("source"))
          perDoc = deduped
            .withColumn("orig_id", pmod(col("doc_id"), lit(100000L)))
            .join(broadcast(srcOf), "orig_id")
            .select(col("doc_id"), col("source"),
              TextStats.estBpeTokens(col("text")).as("toks"))
            .persist() // budgets, mix, and the audit join all scan it
          perDoc.count()
          val budgets = Mixing.temperatureBudgetsCappedCounted(
            perDoc, totalBudget = 8000L, alpha = 0.3, maxEpochs = 1.0)
          import s.implicits._
          val bdf = broadcast(budgets.toSeq.toDF("source", "budget"))
          val out = Mixing.mixByBudgetCounted(perDoc, budgets)
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("mixed_tokens"))
            .join(bdf, "source")
            .select(col("source"), col("budget"), col("n_docs"),
              col("mixed_tokens"))
            .orderBy("source")
          s.createDataFrame(
            java.util.Arrays.asList(out.collect(): _*), out.schema)
        } finally {
          if (perDoc != null) perDoc.unpersist()
          if (surv != null) surv.unpersist()
          fixture0.unpersist()
        }
      },
      Some(s"""${curationFixtureSql(doubled = true)},
               fixall AS (SELECT * FROM fixture
                          UNION ALL
                          SELECT doc_id + 100000, text FROM fixture
                          WHERE doc_id < 60),
               kl AS (SELECT doc_id, text,
                 list_filter(string_split(text, chr(10)), x ->
                   (ends_with(x, '.') OR ends_with(x, '!')
                    OR ends_with(x, '?') OR ends_with(x, '"'))
                   AND len(list_filter(string_split_regex(x, '\\s+'),
                         y -> len(y) > 0)) >= 5
                   AND NOT contains(lower(x), 'javascript')) AS kl
                 FROM fixall),
               c4 AS (SELECT doc_id,
                        coalesce(array_to_string(kl, chr(10)), '') AS ct
                      FROM kl WHERE len(kl) >= 3
                        AND NOT contains(lower(text), 'lorem ipsum')
                        AND NOT contains(text, '{')),
               wrds AS (SELECT doc_id, ct,
                          list_filter(string_split_regex(ct, '\\s+'),
                            x -> len(x) > 0) AS w,
                          string_split(ct, chr(10)) AS l
                        FROM c4),
               sig AS (SELECT doc_id, ct,
                 len(w)::BIGINT AS nw,
                 round(list_sum(list_transform(w, x -> len(x)))::DOUBLE
                   / len(w), 6) AS mwl,
                 round(((len(ct) - len(replace(ct, '#', '')))
                   + (len(ct) - len(replace(ct, '...', ''))) // 3)::DOUBLE
                   / len(w), 6) AS sym,
                 round(len(list_filter(l, x -> starts_with(x, '- ')
                   OR starts_with(x, '* ') OR starts_with(x, '• ')))::DOUBLE
                   / len(l), 6) AS bf,
                 round(len(list_filter(l, x -> ends_with(x, '...')))::DOUBLE
                   / len(l), 6) AS ef,
                 round(len(list_filter(w, x ->
                   regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(w), 6) AS af,
                 len(list_intersect(w, ['the','be','to','of','and','that',
                   'have','with']))::BIGINT AS stops
               FROM wrds),
               surv AS (SELECT doc_id, ct FROM sig
                        WHERE nw BETWEEN 50 AND 100000
                          AND mwl BETWEEN 3.0 AND 10.0 AND sym <= 0.1
                          AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8
                          AND stops >= 2),
               stoks AS (SELECT doc_id, ct,
                 list_filter(string_split_regex(lower(ct), '[^a-z0-9]+'),
                   x -> len(x) > 0) AS t
                 FROM surv),
               shing AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                FOR i IN range(1, len(t) - 1)]) AS sh
                 FROM stoks WHERE len(t) >= 3),
               ddrop AS (SELECT DISTINCT b.doc_id
                         FROM shing a JOIN shing b ON a.doc_id < b.doc_id
                         WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                           len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
               perdoc AS (SELECT s2.doc_id, doc.source,
                            CAST(ceil(strlen(s2.ct) / 4.0) AS BIGINT) AS toks
                          FROM surv s2
                          JOIN documents doc
                            ON s2.doc_id % 100000 = doc.doc_id
                          WHERE s2.doc_id NOT IN (SELECT doc_id FROM ddrop)),
               n AS (SELECT source, sum(toks)::BIGINT AS n
                     FROM perdoc GROUP BY 1),
               w4 AS (SELECT source, n,
                        CAST(round(pow(CAST(n AS DOUBLE), 0.3) * 10000)
                          AS BIGINT) AS w4,
                        (n * 10000) // 10000 AS cap
                      FROM n),
               ord AS (SELECT a.*, (SELECT count(*) FROM w4 b
                         WHERE b.cap::HUGEINT * a.w4 < a.cap::HUGEINT * b.w4
                            OR (b.cap::HUGEINT * a.w4 = a.cap::HUGEINT * b.w4
                                AND b.source < a.source)) + 1 AS i
                       FROM w4 a),
               pre AS (SELECT *,
                         coalesce(sum(cap) OVER (ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS ccprev,
                         sum(w4) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS swfrom
                       FROM ord),
               flag AS (SELECT *,
                          bool_and(cap * swfrom < (8000 - ccprev) * w4)
                            OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS iscap
                        FROM pre),
               agg AS (SELECT
                         coalesce(sum(CASE WHEN iscap THEN cap END), 0) AS ccstar,
                         coalesce(sum(CASE WHEN NOT iscap THEN w4 END), 0) AS swstar
                       FROM flag),
               b AS (SELECT source,
                       (CASE WHEN iscap THEN cap
                             ELSE ((8000 - ccstar) * w4) // swstar
                        END)::BIGINT AS budget
                     FROM flag, agg),
               cum AS (SELECT p.source, p.toks, b.budget,
                         sum(toks) OVER (PARTITION BY p.source
                           ORDER BY substring(md5(CAST(p.doc_id AS VARCHAR)), 1, 8),
                             p.doc_id
                           ROWS UNBOUNDED PRECEDING) - toks AS strt
                       FROM perdoc p JOIN b USING (source))
               SELECT source, min(budget) AS budget, count(*) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS mixed_tokens
               FROM cum WHERE strt < budget
               GROUP BY source ORDER BY source""")),

    // REAL-BPE mixture budgets (round-11 verdict item 3): budgets and
    // selection both measured in the tokens a training run over the
    // TRAINED tokenizer actually consumes (Bpe.train → Bpe.countTokens →
    // temperatureBudgetsCounted → mixByBudgetCounted), closing the
    // units loop the estimator path approximates. Learned merges are
    // engine-specific (no SQL replay of the iterative argmax — the
    // q_text_bpe precedent), so the row is a verdict over the REAL
    // contracts: (1) the distributed two-phase prefix-sum mixer equals an
    // independent single-window replay of the same semantics, (2) per-
    // source overflow is bounded by its straddling document (exclusive-
    // prefix contract), (3) counts are genuine BPE output — compression
    // holds (tokens < chars) and totals are positive, (4) budget totals
    // never exceed the requested total.
    Q("q_pipeline_mix_bpe",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = Bpe.train(docs, numMerges = 30)
        val perDoc = docs.select(col("doc_id"), col("source"))
          .join(Bpe.countTokens(docs, merges), "doc_id")
          .persist() // counted once; budgets, mix, and replay all scan it
        perDoc.count()
        try {
          val total = 10000L
          val budgets =
            Mixing.temperatureBudgetsCounted(perDoc, total, alpha = 0.3)
          val sel = Mixing.mixByBudgetCounted(perDoc, budgets)
          import s.implicits._
          val bdf = broadcast(budgets.toSeq.toDF("source", "budget"))
          // independent replay: one window cumsum over the same counts
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy("h", "doc_id")
          val replay = perDoc
            .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 8))
            .join(bdf, "source")
            .withColumn("strt", sum(col("toks")).over(w) - col("toks"))
            .where(col("strt") < col("budget"))
          val mismatch = sel.select("doc_id")
            .unionAll(replay.select("doc_id"))
            .groupBy("doc_id").agg(count(lit(1)).as("c"))
            .filter(col("c") =!= 2).count()
          val overflow = sel.groupBy("source")
            .agg(sum(col("toks")).as("got"), max(col("toks")).as("mx"))
            .join(bdf, "source")
            .filter(col("got") >= col("budget") + col("mx")).count()
          val t = docs.join(perDoc.select("doc_id", "toks"), "doc_id")
            .agg(sum(length(col("text"))).as("chars"),
              sum(col("toks")).as("toks")).head()
          val verdict = s.range(1).select(
            lit(mismatch == 0 && overflow == 0 &&
              t.getLong(1) > 0 && t.getLong(1) < t.getLong(0) &&
              budgets.values.sum <= total).as("ok"))
          s.createDataFrame(
            java.util.Arrays.asList(verdict.collect(): _*), verdict.schema)
        } finally perDoc.unpersist()
      },
      Some("SELECT true AS ok")),

    Q("q_pipeline_mix",
      (s, dir) => Mixing.mixByBudget(Tables(s, dir, "documents"),
          Map("src0" -> 1000L, "src1" -> 5000L, "src2" -> 800L,
            "src3" -> 0L, "src4" -> 1L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("mixed_tokens"))
        .orderBy("source"),
      Some("""WITH b(source, budget) AS (VALUES
                ('src0', 1000), ('src1', 5000), ('src2', 800),
                ('src3', 0), ('src4', 1)),
              t AS (SELECT doc_id, source,
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h,
                      CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS toks
                    FROM documents),
              c AS (SELECT t.source, t.toks, b.budget,
                      sum(toks) OVER (PARTITION BY t.source ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) - toks AS strt
                    FROM t JOIN b USING (source))
              SELECT source, count(*) AS n_docs,
                CAST(sum(toks) AS BIGINT) AS mixed_tokens
              FROM c WHERE strt < budget
              GROUP BY source ORDER BY source""")),

    // ---- multimodal columns -------------------------------------------------
    // Binary payload + typed metadata through the typed mapPartitions decode
    // path (decode itself is a deterministic stub — see Multimodal scaladoc).
    // Frame sampling over the "video" payload: fixed-stride windows, one
    // row per frame (flatMap in mapPartitions — codec init once per
    // partition); the oracle recomputes every frame checksum from char
    // ranges (the synthetic text is pure ASCII, so bytes == chars).
    // TRIANGLE COUNTING — the third classic graph primitive next to
    // pagerank/components: count 3-cycles via the canonical two-join plan
    // (orient every edge low→high so each triangle is built exactly once,
    // wedge join e1.dst=e2.src, close with a semi-membership join). Pure
    // equi-joins on edge keys — two shuffles, no BNLJ — which is why this
    // shape scales to billion-edge graphs; the high-degree-vertex wedge
    // explosion is the known cost (mitigated in production by degree
    // ordering, which the low→high orientation already approximates).
    // LABEL PROPAGATION community detection (Raghavan et al. 2007,
    // deterministic synchronous variant — the form GraphX ships): edges
    // are confined to 20-node blocks of the 100-node id space, so labels
    // can never cross a block boundary; after three weighted-majority
    // steps (ties → smallest label) each block has collapsed to one or
    // two surviving labels (synchronous LPA settles over a few more
    // rounds — the fixed iteration count is what keeps the row
    // deterministic and replayable). The oracle unrolls the three
    // synchronous steps with the same argmax.
    Q("q_graph_lpa",
      (s, dir) => Rank.labelPropagation(
        Tables(s, dir, "lineitem").select(
          (col("l_orderkey") % 100).as("src"),
          (col("l_orderkey") % 100 - col("l_orderkey") % 20 +
            col("l_suppkey") % 20).as("dst")),
        iters = 3),
      Some {
        val base = """WITH e0 AS (SELECT l_orderkey % 100 AS src,
                        (l_orderkey % 100) - (l_orderkey % 20) +
                          (l_suppkey % 20) AS dst
                      FROM lineitem),
              u AS (SELECT src, dst FROM e0
                    UNION ALL SELECT dst, src FROM e0),
              nodes AS (SELECT DISTINCT src AS node FROM u),
              l0 AS (SELECT node, node AS label FROM nodes)"""
        val steps = (1 to 3).map { k =>
          s"""v$k AS (SELECT u.src, p.label, count(*) AS c
                      FROM u JOIN l${k - 1} p ON u.dst = p.node
                      GROUP BY 1, 2),
              b$k AS (SELECT src, label FROM (
                        SELECT src, label, row_number() OVER (
                          PARTITION BY src ORDER BY c DESC, label) AS rn
                        FROM v$k) WHERE rn = 1),
              l$k AS (SELECT p.node, coalesce(b.label, p.label) AS label
                      FROM l${k - 1} p LEFT JOIN b$k b ON p.node = b.src)"""
        }.mkString(",\n")
        s"$base,\n$steps\nSELECT node, label FROM l3 ORDER BY node"
      }),

    Q("q_graph_triangles",
      (s, dir) => {
        val e = Tables(s, dir, "lineitem").select(
            (col("l_orderkey") % 100).as("a"), (col("l_suppkey") % 100).as("b"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("src"),
            greatest(col("a"), col("b")).as("dst"))
          .distinct()
        val e1 = e.select(col("src").as("x"), col("dst").as("y"))
        val e2 = e.select(col("src").as("y"), col("dst").as("z"))
        val closing = e.select(col("src").as("x"), col("dst").as("z"))
        e1.join(e2, "y")
          .join(closing, Seq("x", "z"), "left_semi")
          .agg(count(lit(1)).as("triangles"))
      },
      Some("""WITH e AS (
                SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
                FROM (SELECT l_orderkey % 100 AS a, l_suppkey % 100 AS b
                      FROM lineitem)
                WHERE a <> b)
              SELECT count(*) AS triangles
              FROM e e1 JOIN e e2 ON e1.dst = e2.src
              WHERE EXISTS (SELECT 1 FROM e e3
                            WHERE e3.src = e1.src AND e3.dst = e2.dst)""")),

    // LINK PREDICTION by neighborhood overlap (Liben-Nowell & Kleinberg
    // 2003): common neighbors / Jaccard / Adamic-Adar over a sparse
    // fixture graph (~8.5k edges, avg degree 17). Candidates come only
    // through shared neighbors (two-hop join) with hubCap = 25 — degree-
    // 26+ hubs are skipped as bridges, which the oracle replays, so the
    // quadratic-in-hub-degree term is provably bounded on both sides.
    Q("q_graph_linkpred",
      (s, dir) => Graph.linkPrediction(
        Tables(s, dir, "lineitem").filter(col("l_linenumber") === 1).select(
          (col("l_orderkey") % 1000).as("src"),
          ((col("l_partkey") * 7 + col("l_suppkey")) % 1000).as("dst")),
        k = 20, hubCap = 25),
      Some("""WITH e0 AS (SELECT l_orderkey % 1000 AS x,
                  (l_partkey * 7 + l_suppkey) % 1000 AS y
                FROM lineitem WHERE l_linenumber = 1),
              s AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
                    FROM e0 WHERE x <> y),
              u AS (SELECT a, b FROM s UNION ALL SELECT b, a FROM s),
              deg AS (SELECT a AS node, count(*) AS deg FROM u GROUP BY a),
              byz AS (SELECT u.b AS z, u.a AS n, d.deg AS degz
                      FROM u JOIN deg d ON u.b = d.node WHERE d.deg <= 25),
              pairs AS (SELECT x.z, x.degz, x.n AS a, y.n AS b
                        FROM byz x JOIN byz y ON x.z = y.z AND x.n < y.n),
              scored AS (SELECT a, b, count(*) AS cn,
                           sum(1.0 / ln(degz::DOUBLE)) AS aa
                         FROM pairs GROUP BY a, b),
              fresh AS (SELECT scored.* FROM scored ANTI JOIN s USING(a, b))
              SELECT f.a, f.b, f.cn,
                round(f.cn::DOUBLE / (da.deg + db.deg - f.cn)::DOUBLE, 4) AS jaccard,
                round(f.aa, 4) AS adamic_adar
              FROM fresh f
              JOIN deg da ON f.a = da.node
              JOIN deg db ON f.b = db.node
              ORDER BY adamic_adar DESC, f.a, f.b LIMIT 20""")),

    // K-CORE decomposition (Seidman 1983) by iterative peeling on the
    // same sparse graph: k = 12 cascades through SEVEN peel rounds at
    // this sf before the 848-node core stabilizes (measured) — the dense-
    // subgraph signal spam/boilerplate mining wants. The engine loop runs
    // to convergence; the oracle unrolls ten peels (idempotent once
    // converged, so the extra rounds are no-ops).
    Q("q_graph_kcore",
      (s, dir) => Graph.kCore(
        Tables(s, dir, "lineitem").filter(col("l_linenumber") === 1).select(
          (col("l_orderkey") % 1000).as("src"),
          ((col("l_partkey") * 7 + col("l_suppkey")) % 1000).as("dst")),
        k = 12),
      Some {
        val base = """WITH e0 AS (SELECT l_orderkey % 1000 AS x,
                          (l_partkey * 7 + l_suppkey) % 1000 AS y
                        FROM lineitem WHERE l_linenumber = 1),
              s AS MATERIALIZED (
                    SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
                    FROM e0 WHERE x <> y),
              u0 AS MATERIALIZED (
                    SELECT a, b FROM s UNION ALL SELECT b, a FROM s)"""
        // each step reads u_{i-1} three times — without MATERIALIZED,
        // DuckDB inlines the chain into 3^10 base-table scans and dies on
        // file handles; materializing pins each peel to one evaluation
        val steps = (1 to 10).map { i =>
          s"""k$i AS MATERIALIZED (
                        SELECT a FROM (SELECT a, count(*) AS d FROM u${i - 1}
                        GROUP BY a) WHERE d >= 12),
              u$i AS MATERIALIZED (
                      SELECT p.a, p.b FROM u${i - 1} p
                      JOIN k$i ka ON p.a = ka.a
                      JOIN k$i kb ON p.b = kb.a)"""
        }.mkString(",\n")
        s"""$base,
            $steps
            SELECT a AS node, count(*) AS core_deg FROM u10
            GROUP BY a HAVING count(*) >= 12 ORDER BY node"""
      }),

    // REAL header-level image decode — PNG IHDR / JPEG SOFn marker walk /
    // GIF logical-screen parsing straight off the binary column (no codec
    // library; pixel decode stays the documented stub). The fixtures are
    // SPEC-CORRECT container headers generated deterministically from the
    // id, so the oracle closes the loop: the parsed (fmt, width, height)
    // must equal the generator's formulas, proving the byte-walk reads the
    // real grammar (big-endian PNG/JPEG, little-endian GIF, marker-chain
    // skipping over APP0/DQT segments).
    Q("q_multimodal_headers",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "synth", Multimodal.synthImage(id)))
        Multimodal.headerDims(media).toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN 'png'
                     WHEN doc_id % 3 = 1 THEN 'jpeg'
                     ELSE 'gif' END AS fmt,
                CAST(doc_id % 300 + 1 AS INT) AS width,
                CAST(doc_id % 200 + 1 AS INT) AS height
              FROM documents ORDER BY doc_id""")),

    // REAL WAV/RIFF header decode (audio companion to the image row):
    // chunk-walk "RIFF…WAVE" → fmt → data, little-endian fields, duration
    // from data bytes / block align. Fixtures are canonical WAV files
    // generated from the id; oracle replays the generator formulas.
    Q("q_multimodal_audio",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "wav", Multimodal.synthWav(id)))
        Multimodal.audioInfo(media).toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
                CAST(doc_id % 2 + 1 AS INT) AS channels,
                CAST(16 AS INT) AS bits,
                doc_id % 1000 + 1 AS n_samples
              FROM documents ORDER BY doc_id""")),

    // AUDIO FEATURE EXTRACTION over REAL bytes: the fixture WAVs carry
    // actual 16-bit LE PCM (synthWavPcm's closed-form waveform), audioRms
    // chunk-walks the RIFF container, decodes the interleaved samples,
    // and emits per-256-frame-window RMS — the canonical silence/VAD/
    // loudness pre-filter. The oracle never parses a byte: it re-derives
    // the waveform from the generator formula and replays Σv²/count —
    // the parse↔generate loop, now over sample CONTENT, not just headers.
    Q("q_multimodal_rms",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 200).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "wav",
            Multimodal.synthWavPcm(id)))
        Multimodal.audioRms(media).orderBy("doc_id", "win")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 1000 + 1 AS INT) AS n,
                           CAST(doc_id % 2 + 1 AS INT) AS ch
                         FROM documents WHERE doc_id < 200),
              fr AS (SELECT doc_id, ch, unnest(range(0, n)) AS s FROM d),
              smp AS (SELECT doc_id, s, unnest(range(0, ch)) AS c FROM fr),
              v AS (SELECT doc_id, CAST(s // 256 AS INT) AS w,
                      ((doc_id*31 + s*7 + c*13) % 2048) - 1024 AS v
                    FROM smp)
              SELECT doc_id, w AS win,
                round(sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)), 4) AS rms
              FROM v GROUP BY doc_id, w ORDER BY doc_id, win""")),

    // ZERO-CROSSING RATE over the same real PCM content (q_multimodal_rms's
    // energy pair — together the classic voiced/unvoiced VAD features).
    // Crossings are per-channel sign flips between consecutive frames
    // inside the window, pooled over channels; the oracle replays the
    // generator formula at s and s−1, counts products < 0, and emits 0.0
    // for single-frame windows (no pairs — doc 0 has exactly one frame).
    Q("q_multimodal_zcr",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 200).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "wav",
            Multimodal.synthWavPcm(id)))
        Multimodal.audioZcr(media).orderBy("doc_id", "win")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 1000 + 1 AS INT) AS n,
                           CAST(doc_id % 2 + 1 AS INT) AS ch
                         FROM documents WHERE doc_id < 200),
              wins AS (SELECT doc_id, n, ch,
                         CAST(unnest(range(0, (n + 255) // 256)) AS INT) AS w
                       FROM d),
              fr AS (SELECT doc_id, ch, unnest(range(1, n)) AS s FROM d),
              smp AS (SELECT doc_id, s, unnest(range(0, ch)) AS c FROM fr),
              x AS (SELECT doc_id, CAST(s // 256 AS INT) AS w,
                      (((doc_id*31 + (s-1)*7 + c*13) % 2048) - 1024) *
                        (((doc_id*31 + s*7 + c*13) % 2048) - 1024) AS prod
                    FROM smp WHERE s % 256 <> 0),
              cr AS (SELECT doc_id, w,
                       count(*) FILTER (WHERE prod < 0) AS crossings
                     FROM x GROUP BY doc_id, w)
              SELECT wins.doc_id, wins.w AS win,
                CASE WHEN least(wins.n, (wins.w + 1) * 256) - wins.w * 256 < 2
                     THEN 0.0
                     ELSE round(coalesce(cr.crossings, 0)::DOUBLE /
                       (wins.ch * (least(wins.n, (wins.w + 1) * 256)
                          - wins.w * 256 - 1)), 4) END AS zcr
              FROM wins LEFT JOIN cr
                ON wins.doc_id = cr.doc_id AND wins.w = cr.w
              ORDER BY wins.doc_id, win""")),

    // IMAGE PIXEL CONTENT (round-11 verdict item 6 — image parity with the
    // audio PCM path): REAL uncompressed P6 PPM payloads decode to pixels
    // (header walk + RGB triples → gray), then the aHash perceptual
    // fingerprint folds them to an 8×8 cell grid, thresholds at the cell
    // mean, and packs 4×16-bit bands. All arithmetic exact (integer sums,
    // power-of-two divisors), so the oracle replays pixels → cells → mean
    // → bits → bands from the generator formula while Spark parses the
    // BYTES — the parse↔generate loop.
    Q("q_multimodal_pixels",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 200).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "ppm",
            Multimodal.synthPpm(id)))
        Multimodal.imageAHash(media).orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 100 AS b
                         FROM documents WHERE doc_id < 200),
              px AS (SELECT doc_id, x, y,
                       CASE WHEN doc_id >= 100 AND x < 2 AND y < 2
                         THEN least(255, (b*7 + x*13 + y*31 + x*y*(b%5)) % 256 + 40)
                         ELSE (b*7 + x*13 + y*31 + x*y*(b%5)) % 256 END AS g
                     FROM d
                     CROSS JOIN (SELECT unnest(range(0, 16)) AS x)
                     CROSS JOIN (SELECT unnest(range(0, 16)) AS y)),
              cell AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS cb,
                         sum(g) / 4.0 AS avg
                       FROM px GROUP BY doc_id, cb),
              m AS (SELECT doc_id, sum(avg) / 64.0 AS mean FROM cell GROUP BY doc_id),
              mg AS (SELECT doc_id, round(sum(g) / 256.0, 4) AS mean_gray
                     FROM px GROUP BY doc_id),
              bands AS (SELECT c.doc_id, cb // 16 AS band,
                          CAST(sum(CASE WHEN c.avg > m.mean
                            THEN 1::BIGINT << (cb % 16) ELSE 0 END) AS INT) AS v
                        FROM cell c JOIN m USING (doc_id)
                        GROUP BY c.doc_id, band)
              SELECT d.doc_id, 16 AS width, 16 AS height, mg.mean_gray,
                CAST(max(CASE WHEN band = 0 THEN v END) AS INT) AS b0,
                CAST(max(CASE WHEN band = 1 THEN v END) AS INT) AS b1,
                CAST(max(CASE WHEN band = 2 THEN v END) AS INT) AS b2,
                CAST(max(CASE WHEN band = 3 THEN v END) AS INT) AS b3
              FROM d JOIN mg USING (doc_id) JOIN bands USING (doc_id)
              GROUP BY d.doc_id, mg.mean_gray
              ORDER BY doc_id""")),

    // REAL pixel resize (nearest-neighbor 16×16 → 8×8) over the decoded
    // PPM corpus: the downscale a multimodal pipeline runs before
    // feature extraction, replacing the byte-stride stub for decodable
    // payloads. The sampled source coordinate is 2·out on both axes, so
    // the oracle derives every resized gray from the generator formula
    // and replays mean + order-weighted checksum exactly.
    Q("q_multimodal_resize_px",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 200).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "ppm",
            Multimodal.synthPpm(id)))
        Multimodal.resizePixels(media, 8, 8).orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 100 AS b
                         FROM documents WHERE doc_id < 200),
              o AS (SELECT doc_id, b, ox, oy FROM d
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS ox)
                    CROSS JOIN (SELECT unnest(range(0, 8)) AS oy)),
              g AS (SELECT doc_id, oy * 8 + ox + 1 AS widx,
                      CASE WHEN doc_id >= 100 AND ox = 0 AND oy = 0
                        THEN least(255, (b*7 + (2*ox)*13 + (2*oy)*31 +
                          (2*ox)*(2*oy)*(b%5)) % 256 + 40)
                        ELSE (b*7 + (2*ox)*13 + (2*oy)*31 +
                          (2*ox)*(2*oy)*(b%5)) % 256 END AS g
                    FROM o)
              SELECT doc_id, 16 AS in_w, 16 AS in_h, 8 AS out_w,
                8 AS out_h, round(sum(g) / 64.0, 4) AS mean_gray,
                CAST(sum(widx * g) AS BIGINT) AS checksum
              FROM g GROUP BY doc_id ORDER BY doc_id""")),

    // NEAR-DUPLICATE IMAGE DEDUP over the decoded pixels (round-11
    // verdict item 6): aHash bands block candidates (pigeonhole — ≤ 3
    // differing bits leave one of 4 bands equal, so blocking misses no
    // pair at the default threshold) and the exact Hamming verify runs on
    // candidates only, never all-pairs — the simhash scale shape with a
    // perceptual hash. The fixture plants (i, i+100) near-dup pairs (same
    // base image, 2×2 brightened block); the oracle is the brute-force
    // all-pairs replay DuckDB can afford at oracle scale.
    Q("q_dedup_image",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 200).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "ppm",
            Multimodal.synthPpm(id)))
        Multimodal.nearDupImagePairs(media).orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 100 AS b
                         FROM documents WHERE doc_id < 200),
              px AS (SELECT doc_id, x, y,
                       CASE WHEN doc_id >= 100 AND x < 2 AND y < 2
                         THEN least(255, (b*7 + x*13 + y*31 + x*y*(b%5)) % 256 + 40)
                         ELSE (b*7 + x*13 + y*31 + x*y*(b%5)) % 256 END AS g
                     FROM d
                     CROSS JOIN (SELECT unnest(range(0, 16)) AS x)
                     CROSS JOIN (SELECT unnest(range(0, 16)) AS y)),
              cell AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS cb,
                         sum(g) / 4.0 AS avg
                       FROM px GROUP BY doc_id, cb),
              m AS (SELECT doc_id, sum(avg) / 64.0 AS mean FROM cell GROUP BY doc_id),
              bands AS (SELECT c.doc_id, cb // 16 AS band,
                          CAST(sum(CASE WHEN c.avg > m.mean
                            THEN 1::BIGINT << (cb % 16) ELSE 0 END) AS INT) AS v
                        FROM cell c JOIN m USING (doc_id)
                        GROUP BY c.doc_id, band),
              h AS (SELECT doc_id,
                      max(CASE WHEN band = 0 THEN v END) AS b0,
                      max(CASE WHEN band = 1 THEN v END) AS b1,
                      max(CASE WHEN band = 2 THEN v END) AS b2,
                      max(CASE WHEN band = 3 THEN v END) AS b3
                    FROM bands GROUP BY doc_id)
              SELECT a_id, b_id, hamming FROM (
                SELECT x.doc_id AS a_id, y.doc_id AS b_id,
                  CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
                       bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
                    AS INT) AS hamming
                FROM h x JOIN h y ON x.doc_id < y.doc_id)
              WHERE hamming <= 3
              ORDER BY a_id, b_id""")),

    // dHASH perceptual fingerprint (Krawetz difference hash, the aHash
    // complement): the sign of each horizontal cell gradient — invariant
    // under global brightness shifts, local-structure-only. 8×8 exact-
    // integer cell grid (sums compare directly; no float anywhere), 56
    // bits in four 14-bit pigeonhole bands. The oracle replays pixels →
    // cell sums → gradient signs → band packing from the generator
    // formula while Spark parses the bytes — the parse↔generate loop.
    Q("q_multimodal_dhash",
      (s, dir) => {
        import s.implicits._
        val media = Tables(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 200).as[Long]
          .map(id => graft.pipeline.MediaRecord(id, "ppm",
            Multimodal.synthPpm(id)))
        Multimodal.imageDHash(media).orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 100 AS b
                         FROM documents WHERE doc_id < 200),
              px AS (SELECT doc_id, x, y,
                       CASE WHEN doc_id >= 100 AND x < 2 AND y < 2
                         THEN least(255, (b*7 + x*13 + y*31 + x*y*(b%5)) % 256 + 40)
                         ELSE (b*7 + x*13 + y*31 + x*y*(b%5)) % 256 END AS g
                     FROM d
                     CROSS JOIN (SELECT unnest(range(0, 16)) AS x)
                     CROSS JOIN (SELECT unnest(range(0, 16)) AS y)),
              cell AS (SELECT doc_id, y // 2 AS r, x // 2 AS c, sum(g) AS sv
                       FROM px GROUP BY 1, 2, 3),
              bits AS (SELECT a.doc_id, a.r * 7 + a.c AS bit
                       FROM cell a JOIN cell b2 ON a.doc_id = b2.doc_id
                         AND a.r = b2.r AND b2.c = a.c + 1
                       WHERE a.sv < b2.sv),
              bands AS (SELECT doc_id, bit // 14 AS band,
                          CAST(sum(1::BIGINT << (bit % 14)) AS INT) AS v
                        FROM bits GROUP BY 1, 2)
              SELECT d.doc_id, 16 AS width, 16 AS height,
                CAST(coalesce(max(CASE WHEN band = 0 THEN v END), 0) AS INT) AS d0,
                CAST(coalesce(max(CASE WHEN band = 1 THEN v END), 0) AS INT) AS d1,
                CAST(coalesce(max(CASE WHEN band = 2 THEN v END), 0) AS INT) AS d2,
                CAST(coalesce(max(CASE WHEN band = 3 THEN v END), 0) AS INT) AS d3
              FROM d LEFT JOIN bands USING (doc_id)
              GROUP BY d.doc_id ORDER BY d.doc_id""")),

    Q("q_multimodal_frames",
      (s, dir) => {
        import s.implicits._
        Multimodal.sampleFrames(
            Multimodal.toMedia(Tables(s, dir, "documents")).as[graft.pipeline.MediaRecord])
          .toDF().orderBy("doc_id", "frame_idx")
      },
      Some("""WITH frames AS (
                SELECT doc_id, unnest(range(0, CAST(ceil(strlen(text) / 512.0) AS BIGINT))) AS frame_idx,
                       text
                FROM documents WHERE strlen(text) > 0)
              SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
                list_reduce(list_prepend(0::BIGINT,
                    [ascii(c)::BIGINT FOR c IN string_split(substring(text, frame_idx*512 + 1, 256), '')]),
                  (a, b) -> (a*31 + b) % 2147483647) AS checksum
              FROM frames ORDER BY doc_id, frame_idx""")),

    // Feature-extract stage: 16-bin byte histogram per payload through the
    // same mapPartitions batch shape (stand-in for a real feature net);
    // oracle recomputes the histogram from character codes (ASCII fixture:
    // bytes == chars).
    Q("q_multimodal_hist",
      (s, dir) => {
        import s.implicits._
        graft.pipeline.MultimodalFeatures.byteHistogram(
            Multimodal.toMedia(Tables(s, dir, "documents")).as[graft.pipeline.MediaRecord])
          .toDF()
          .select(col("doc_id") +:
            (0 until 16).map(b => col("hist").getItem(b).as(s"h$b")): _*)
          .orderBy("doc_id")
      },
      Some("""WITH codes AS (
                SELECT doc_id,
                  [ascii(c) % 16 FOR c IN string_split(text, '')] AS cs
                FROM documents)
              SELECT doc_id,
                """ + (0 until 16).map(b =>
                  s"CAST(len(list_filter(cs, x -> x = $b)) AS BIGINT) AS h$b")
                  .mkString(", ") + """
              FROM codes ORDER BY doc_id""")),

    // Resize stage: stride-downsample each payload to ≤ 64 kept bytes
    // (stride ⌈n/64⌉) through the same batched decode path; the oracle
    // recomputes the kept-byte rolling checksum from char codes (ASCII
    // fixture: bytes == chars).
    Q("q_multimodal_resize",
      (s, dir) => {
        import s.implicits._
        Multimodal.resize(
            Multimodal.toMedia(Tables(s, dir, "documents")).as[graft.pipeline.MediaRecord])
          .toDF().orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id, strlen(text) AS n,
                GREATEST(1, CAST(ceil(strlen(text) / 64.0) AS INTEGER)) AS k, text
              FROM documents)
              SELECT doc_id, CAST(n AS BIGINT) AS n_in,
                CAST(len(range(1, n + 1, k)) AS INTEGER) AS n_out,
                list_reduce(list_prepend(0::BIGINT,
                    [ascii(text[i])::BIGINT FOR i IN range(1, n + 1, k)]),
                  (a, b) -> (a*31 + b) % 2147483647) AS checksum
              FROM m ORDER BY doc_id""")),

    Q("q_multimodal",
      (s, dir) => Multimodal.features(s, Tables(s, dir, "documents"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, 'img/' || source AS fmt,
              strlen(text)::BIGINT AS n_bytes,
              ((strlen(text) % 64 + 1) * 16)::INTEGER AS width,
              ((strlen(text) % 48 + 1) * 16)::INTEGER AS height,
              list_reduce(list_prepend(0::BIGINT,
                  [ascii(c)::BIGINT FOR c IN string_split(text, '')]),
                (a, b) -> (a*31 + b) % 2147483647) AS checksum
              FROM documents ORDER BY doc_id""")),

    // COUNT-MIN SKETCH point frequencies (Cormode & Muthukrishnan; the
    // frequency dual of q_stats_kmv's distinct sketch): token counts from
    // a 3×64 counter grid — d·w=192 counters REGARDLESS of corpus size,
    // the structure a coordinator receives instead of a full histogram.
    // w=64 is deliberately undersized for the fixture vocabulary so the
    // overcount arm is LIVE (est ≥ true always — never an undercount,
    // spec-asserted); the md5 slot hashing replays exactly in the oracle.
    // Build = one explode+groupBy (map-side combine, ≤ d·w groups
    // shuffled); estimate = a 10-key broadcast-sized left join.
    Q("q_stats_cms",
      (s, dir) => {
        import graft.ops.Cms
        val toks = Tables(s, dir, "documents")
          .select(explode(graft.fts.Analyzer.tokenize(col("text"))).as("term"))
        val truth = toks.groupBy("term").agg(count(lit(1)).as("true_cnt"))
        val top = truth.orderBy(col("true_cnt").desc, col("term")).limit(10)
        val est = Cms.estimate(Cms.sketch(toks, "term", d = 3, w = 64),
          top, "term", d = 3, w = 64)
        top.join(est, col("term") === col("key"))
          .select(col("term"), col("true_cnt"), col("est").as("est_cnt"),
            (col("est") - col("true_cnt")).as("overcount"))
          .orderBy("term")
      },
      Some(s"""WITH occ AS (SELECT unnest($DTOKS) AS term FROM documents),
               tru AS (SELECT term, count(*) AS true_cnt FROM occ GROUP BY term),
               top AS (SELECT term, true_cnt FROM tru
                       ORDER BY true_cnt DESC, term LIMIT 10),
               rows_ AS (SELECT unnest([0, 1, 2]) AS r),
               cnt AS (SELECT r,
                   (CAST('0x' || substring(md5(term || '#' || CAST(r AS VARCHAR)), 1, 15)
                         AS BIGINT) % 64) AS pos,
                   count(*) AS cnt
                 FROM occ CROSS JOIN rows_ GROUP BY 1, 2),
               est AS (SELECT t.term, min(coalesce(c.cnt, 0)) AS est_cnt
                 FROM (SELECT term FROM top) t CROSS JOIN rows_ r
                 LEFT JOIN cnt c ON c.r = r.r AND c.pos =
                   (CAST('0x' || substring(md5(t.term || '#' || CAST(r.r AS VARCHAR)), 1, 15)
                         AS BIGINT) % 64)
                 GROUP BY t.term)
               SELECT top.term, top.true_cnt, est.est_cnt,
                 est.est_cnt - top.true_cnt AS overcount
               FROM top JOIN est USING (term) ORDER BY term""")),

    // ——— SFT / chat-data prep (pipeline/Sft.scala): the events stream
    // becomes role-tagged conversations (one per user, turns in event-time
    // order, role from the event type), then the four operators every chat
    // fine-tune runs: template render, alternation audit, turn-level
    // dedup, context-budget truncation. The oracle re-derives the same
    // conversation frame from scratch in each row. Content deliberately
    // excludes the DOUBLE value column — engines format doubles
    // differently, and the contract is byte-identical rendered text.

    // Chat-template render: the serialized training example, byte-exact
    // across engines (string_agg ORDER BY replayed by the array_sort over
    // (turn_idx,…) structs). Per-conversation collect_list is bounded by
    // session length.
    Q("q_sft_render",
      (s, dir) => Sft.renderTemplate(
        Sft.conversations(Tables(s, dir, "events"))),
      Some("""WITH conv AS (SELECT user_id AS conv_id,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS INTEGER) AS turn_idx,
                  CASE WHEN event_type IN ('click', 'view', 'search', 'signup')
                    THEN 'user' ELSE 'assistant' END AS role,
                  event_type || ' ' || props AS content
                FROM events),
              r AS (SELECT conv_id, count(*) AS n_turns,
                  string_agg('<|' || role || '|>' || content, ''
                             ORDER BY turn_idx) AS rendered
                FROM conv GROUP BY conv_id)
              SELECT conv_id, n_turns, rendered,
                len(rendered)::BIGINT AS n_chars
              FROM r ORDER BY conv_id""")),

    // Alternation audit: same-role adjacencies (each a merge-or-drop
    // decision downstream) + the 'user'-opener contract, per conversation.
    Q("q_sft_validate",
      (s, dir) => Sft.validateConversations(
        Sft.conversations(Tables(s, dir, "events"))),
      Some("""WITH conv AS (SELECT user_id AS conv_id,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS INTEGER) AS turn_idx,
                  CASE WHEN event_type IN ('click', 'view', 'search', 'signup')
                    THEN 'user' ELSE 'assistant' END AS role
                FROM events),
              l AS (SELECT conv_id, turn_idx, role,
                  lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
                FROM conv)
              SELECT conv_id, count(*) AS n_turns,
                CAST(sum(CASE WHEN role = prev THEN 1 ELSE 0 END) AS BIGINT)
                  AS same_role_adjacencies,
                max(CASE WHEN turn_idx = 1 THEN role END) = 'user'
                  AS starts_with_user
              FROM l GROUP BY conv_id ORDER BY conv_id""")),

    // Turn-level exact dedup across conversations (the SFT analogue of
    // line-level dedup): identical (role, content) turns collapse to the
    // first (conv, turn) occurrence — hash-partitioned by turn content,
    // never a driver-side set.
    Q("q_sft_turn_dedup",
      (s, dir) => Sft.turnDedup(
        Sft.conversations(Tables(s, dir, "events"))),
      Some("""WITH conv AS (SELECT user_id AS conv_id,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS INTEGER) AS turn_idx,
                  CASE WHEN event_type IN ('click', 'view', 'search', 'signup')
                    THEN 'user' ELSE 'assistant' END AS role,
                  event_type || ' ' || props AS content
                FROM events),
              d AS (SELECT conv_id,
                  row_number() OVER (PARTITION BY role, content
                    ORDER BY conv_id, turn_idx) AS rn
                FROM conv)
              SELECT conv_id,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
                CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS dropped
              FROM d GROUP BY conv_id ORDER BY conv_id""")),

    // LOSS-MASK accounting: SFT trains on assistant tokens only, so the
    // trainable ratio (assistant chars / total) is the per-conversation
    // value-for-context-window number. One aggregation, exact integers,
    // sums pinned to BIGINT.
    Q("q_sft_loss_mask",
      (s, dir) => Sft.lossMaskStats(
        Sft.conversations(Tables(s, dir, "events"))),
      Some("""WITH conv AS (SELECT user_id AS conv_id,
                  CASE WHEN event_type IN ('click', 'view', 'search', 'signup')
                    THEN 'user' ELSE 'assistant' END AS role,
                  event_type || ' ' || props AS content
                FROM events)
              SELECT conv_id, count(*) AS n_turns,
                CAST(sum(len(content)) AS BIGINT) AS chars_total,
                CAST(sum(CASE WHEN role = 'assistant' THEN len(content)
                              ELSE 0 END) AS BIGINT) AS chars_trainable,
                floor(sum(CASE WHEN role = 'assistant' THEN len(content)
                               ELSE 0 END)::DOUBLE
                      / sum(len(content))::DOUBLE
                      * 10000 + 0.5) / 10000 AS trainable_ratio
              FROM conv GROUP BY conv_id ORDER BY conv_id""")),

    // Context-budget truncation: keep the longest turn SUFFIX fitting 800
    // chars (context windows drop the oldest turns first) — one reverse
    // cumulative sum per conversation, exact integer arithmetic.
    Q("q_sft_truncate",
      (s, dir) => Sft.truncateToBudget(
        Sft.conversations(Tables(s, dir, "events")), budget = 800L),
      Some("""WITH conv AS (SELECT user_id AS conv_id,
                  CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS INTEGER) AS turn_idx,
                  event_type || ' ' || props AS content
                FROM events),
              t AS (SELECT conv_id, content,
                  sum(len(content)::BIGINT) OVER (PARTITION BY conv_id
                    ORDER BY turn_idx DESC) AS cum
                FROM conv)
              SELECT conv_id, count(*) AS n_turns,
                CAST(sum(CASE WHEN cum <= 800 THEN 1 ELSE 0 END) AS BIGINT)
                  AS turns_kept,
                CAST(sum(CASE WHEN cum <= 800 THEN len(content) ELSE 0 END)
                     AS BIGINT) AS chars_kept,
                count(*) - CAST(sum(CASE WHEN cum <= 800 THEN 1 ELSE 0 END)
                                AS BIGINT) AS turns_dropped
              FROM t GROUP BY conv_id ORDER BY conv_id""")),

    // STRATIFIED K-FOLD (the cross-validation split behind every trained
    // curation component): fold = (hash-rank − 1) mod k within the lang
    // stratum — per-stratum fold sizes differ by at most one, and the
    // audit below proves both the balance and that folds see the same
    // length distribution (mean_chars per fold). One window per stratum;
    // rational mean → floor-form rounding.
    Q("q_pipeline_kfold",
      (s, dir) => Sampling.kfoldAssign(Tables(s, dir, "documents"),
          "lang", k = 4, seed = "kf")
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n_docs"),
          graft.core.Num.roundHalfUp(avg(col("n_chars")), 2)
            .as("mean_chars"))
        .orderBy("lang", "fold"),
      Some("""WITH r AS (SELECT lang, n_chars,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(doc_id::VARCHAR || ':kf'), doc_id) AS rk
                FROM documents)
              SELECT lang, CAST((rk - 1) % 4 AS INTEGER) AS fold,
                count(*) AS n_docs,
                floor(avg(n_chars) * 100 + 0.5) / 100 AS mean_chars
              FROM r GROUP BY 1, 2 ORDER BY lang, fold""")),

    // WINSORIZED per-slice statistics (Tukey robust scaling): exact
    // p05/p95 per lang, lengths clamped into the band, clip counts and
    // the winsorized mean. Percentile interpolation is RATIONAL →
    // floor-form rounding; Spark percentile ≡ DuckDB quantile_cont
    // (lower + frac·(upper−lower) at position (n−1)·p).
    Q("q_pipeline_winsorize",
      (s, dir) => Curation.winsorizeStats(Tables(s, dir, "documents"),
        "lang", "n_chars", 0.05, 0.95).orderBy("lang"),
      Some("""WITH b AS (SELECT lang,
                  quantile_cont(n_chars, 0.05) AS plo,
                  quantile_cont(n_chars, 0.95) AS phi
                FROM documents GROUP BY lang)
              SELECT d.lang, count(*) AS n,
                floor(min(plo) * 10000 + 0.5) / 10000 AS p_lo,
                floor(min(phi) * 10000 + 0.5) / 10000 AS p_hi,
                CAST(sum(CASE WHEN n_chars < plo THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clip_lo,
                CAST(sum(CASE WHEN n_chars > phi THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clip_hi,
                floor(avg(CASE WHEN n_chars < plo THEN plo
                               WHEN n_chars > phi THEN phi
                               ELSE n_chars::DOUBLE END) * 100 + 0.5) / 100
                  AS mean_win
              FROM documents d JOIN b USING (lang)
              GROUP BY d.lang ORDER BY d.lang""")),

    // CALIBRATION audit (reliability diagram + ECE, Guo et al. 2017) of
    // the trained classifier against its own training label — the check
    // that a quality score's 0.8 means 80%. Everything aggregates in
    // exact INTEGER space (scores are 4-dp rationals, so s·10⁴ is an
    // exact Long and ECE's numerator is Σ|10⁴·y_b − Σs4_b| — no float
    // accumulates across rows in either engine); one final division per
    // column, floor-form rounded.
    Q("q_pipeline_calibration",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val y = col("text").contains("spark")
        val scored = Classifier.score(docs, Classifier.trainLogOdds(docs, y))
          .join(docs.select(col("doc_id"), y.as("y")), "doc_id")
        Classifier.calibration(scored, "quality", "y", bins = 10)
      },
      Some(s"""WITH toks AS (SELECT doc_id, contains(text, 'spark') AS y,
                             $DTOKS AS t
                             FROM documents),
               f AS (SELECT doc_id, y, list_concat(t,
                       CASE WHEN len(t) >= 2
                         THEN [t[i] || '_' || t[i+1] FOR i IN range(1, len(t))]
                         ELSE [] END) AS fs
                     FROM toks),
               ex AS (SELECT doc_id, y, unnest(fs) AS fe FROM f),
               bk AS (SELECT doc_id, y, substring(md5(fe), 1, 2) AS bucket FROM ex),
               cnt AS (SELECT bucket,
                         count(*) FILTER (y)::DOUBLE AS np,
                         count(*) FILTER (NOT y)::DOUBLE AS nn
                       FROM bk GROUP BY bucket),
               tot AS (SELECT count(*) FILTER (y)::DOUBLE AS tp,
                         count(*) FILTER (NOT y)::DOUBLE AS tn
                       FROM bk),
               w AS (SELECT bucket,
                       CAST(greatest(-10, least(10,
                         round(ln(((np + 1.0) / (tp + 256)) /
                                  ((nn + 1.0) / (tn + 256))) * 4.0, 0)))
                         AS INTEGER) AS w
                     FROM cnt CROSS JOIN tot),
               sc AS (SELECT bk.doc_id, any_value(bk.y) AS y,
                        sum(coalesce(w.w, 0)) AS sw, count(*) AS n
                      FROM bk LEFT JOIN w USING(bucket) GROUP BY bk.doc_id),
               q AS (SELECT doc_id, y,
                       round(1.0 / (1.0 + exp(-(sw::DOUBLE / (n * 2.0)))), 4)
                         AS quality
                     FROM sc WHERE n > 0),
               per AS (SELECT least(CAST(floor(quality * 10) AS INTEGER), 9)
                           AS bin,
                         count(*) AS n,
                         CAST(sum(CAST(round(quality * 10000, 0) AS BIGINT))
                           AS BIGINT) AS ss,
                         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                           AS ys
                       FROM q GROUP BY 1),
               g AS (SELECT bin, n, ss, ys, abs(ys * 10000 - ss) AS gap_num
                     FROM per),
               t2 AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                        CAST(sum(gap_num) AS BIGINT) AS gap_total FROM g)
               SELECT bin, n,
                 floor(ss::DOUBLE / (n * 10000.0) * 10000 + 0.5) / 10000
                   AS conf,
                 floor(ys::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS acc,
                 floor(gap_num::DOUBLE / (n * 10000.0) * 10000 + 0.5) / 10000
                   AS gap,
                 floor(gap_total::DOUBLE / (n_total * 10000.0) * 10000 + 0.5)
                   / 10000 AS ece
               FROM g CROSS JOIN t2 ORDER BY bin""")),

    // COHEN'S KAPPA between two quality raters (the agreement audit run
    // before trusting any heuristic gate): rater A = length gate
    // (n_chars ≥ 200), rater B = hash-weight classifier ≥ 0.5. Chance-
    // corrected agreement from the 2×2 confusion counts — exact integers
    // until the three final divisions (floor-form rounded). One
    // aggregation pass.
    Q("q_pipeline_kappa",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val q = Classifier.score(docs, Classifier.hashWeights(s))
        val rated = docs.select(col("doc_id"),
            (col("n_chars") >= 200L).as("ra"))
          .join(q, "doc_id")
          .withColumn("rb", coalesce(col("quality") >= 0.5, lit(false)))
        val cm = rated.agg(
          count(lit(1)).as("n"),
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("a"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("d"))
        cm.select(col("n"), col("a"), col("b"), col("c"), col("d"),
            ((col("a") + col("d")).cast("double") / col("n").cast("double"))
              .as("po0"),
            (((col("a") + col("b")) * (col("a") + col("c")) +
              (col("c") + col("d")) * (col("b") + col("d"))).cast("double") /
              (col("n") * col("n")).cast("double")).as("pe0"))
          .select(col("n"), col("a"), col("b"), col("c"), col("d"),
            graft.core.Num.roundHalfUp(col("po0"), 4).as("po"),
            graft.core.Num.roundHalfUp(col("pe0"), 4).as("pe"),
            graft.core.Num.roundHalfUp(
              when(col("pe0") < 1.0,
                (col("po0") - col("pe0")) / (lit(1.0) - col("pe0")))
                .otherwise(0.0), 4).as("kappa"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, n_chars, $DTOKS AS t FROM documents),
               f AS (SELECT doc_id, n_chars, list_concat(t,
                       CASE WHEN len(t) >= 2
                         THEN [t[i] || '_' || t[i+1] FOR i IN range(1, len(t))]
                         ELSE [] END) AS fs
                     FROM toks),
               ex AS (SELECT doc_id, unnest(fs) AS fe FROM f),
               bq AS (SELECT doc_id, substring(md5(fe), 1, 2) AS bucket FROM ex),
               w AS (SELECT lower(lpad(to_hex(i), 2, '0')) AS bucket,
                       (ascii(substring(lower(lpad(to_hex(i), 2, '0')), 1, 1)) * 7 +
                        ascii(substring(lower(lpad(to_hex(i), 2, '0')), 2, 1)) * 13)
                         % 21 - 10 AS w
                     FROM range(256) r(i)),
               qual AS (SELECT bq.doc_id,
                          round(1.0 / (1.0 + exp(-(sum(coalesce(w.w, 0))::DOUBLE /
                            (count(*) * 2.0)))), 4) AS quality
                        FROM bq LEFT JOIN w USING(bucket) GROUP BY bq.doc_id),
               rated AS (SELECT d.doc_id, d.n_chars >= 200 AS ra,
                           coalesce(q.quality >= 0.5, false) AS rb
                         FROM documents d JOIN qual q USING (doc_id)),
               cm AS (SELECT count(*) AS n,
                        CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS a,
                        CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS b,
                        CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS c,
                        CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS d
                      FROM rated),
               e AS (SELECT n, a, b, c, d,
                       (a + d)::DOUBLE / n::DOUBLE AS po0,
                       ((a + b) * (a + c) + (c + d) * (b + d))::DOUBLE /
                         (n * n)::DOUBLE AS pe0
                     FROM cm)
               SELECT n, a, b, c, d,
                 floor(po0 * 10000 + 0.5) / 10000 AS po,
                 floor(pe0 * 10000 + 0.5) / 10000 AS pe,
                 floor((CASE WHEN pe0 < 1.0
                             THEN (po0 - pe0) / (1.0 - pe0) ELSE 0.0 END)
                       * 10000 + 0.5) / 10000 AS kappa
               FROM e""")),

    // FLESCH READING EASE (readability gate): per-doc words/sentences/
    // syllable-runs — a pure projection, no shuffle. All-integer inputs →
    // rational score → floor-form rounding. Frozen reading documented on
    // TextStats.readability; oracle replays tokenization, [.!?] sentence
    // count (min 1) and [aeiouy]-run syllables (min 1/word).
    Q("q_text_readability",
      (s, dir) => TextStats.readability(
          Tables(s, dir, "documents").filter(col("doc_id") < 400))
        .orderBy("doc_id"),
      Some(s"""WITH d0 AS (SELECT doc_id, text, $DTOKS AS t FROM documents
                           WHERE doc_id < 400),
               sent AS (SELECT doc_id,
                   greatest(1, len(regexp_extract_all(text, '[.!?]')))::BIGINT
                     AS sentences,
                   len(t)::BIGINT AS words, t
                 FROM d0),
               syl AS (SELECT doc_id, CAST(coalesce(sum(
                     greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))), 0)
                   AS BIGINT) AS syllables
                 FROM (SELECT doc_id, unnest(t) AS w FROM d0) GROUP BY doc_id)
               SELECT s.doc_id, s.words, s.sentences,
                 coalesce(y.syllables, 0) AS syllables,
                 CASE WHEN s.words > 0 THEN
                   floor((206.835
                          - 1.015 * (s.words::DOUBLE / s.sentences::DOUBLE)
                          - 84.6 * (coalesce(y.syllables, 0)::DOUBLE
                                    / s.words::DOUBLE)) * 100 + 0.5) / 100
                 END AS flesch
               FROM sent s LEFT JOIN syl y USING (doc_id)
               ORDER BY s.doc_id""")),

    // KWIC CONCORDANCE for 'query': every occurrence with two tokens of
    // context each side — tokenize → posexplode → filter → array slices
    // of the doc's own tokens; no join, no shuffle, a scan at any scale.
    Q("q_text_kwic",
      (s, dir) => TextStats.kwic(
          Tables(s, dir, "documents").filter(col("doc_id") < 300),
          "query", window = 2)
        .orderBy("doc_id", "i"),
      Some(s"""WITH d0 AS (SELECT doc_id, $DTOKS AS t FROM documents
                           WHERE doc_id < 300),
               pos AS (SELECT doc_id, t,
                         CAST(unnest(range(1, len(t) + 1)) AS INTEGER) AS i
                       FROM d0),
               hit AS (SELECT doc_id, t, i FROM pos WHERE t[i] = 'query')
               SELECT doc_id, i,
                 coalesce(array_to_string(t[greatest(1, i - 2):i - 1], ' '),
                   '') AS left_ctx,
                 coalesce(array_to_string(t[i + 1:least(len(t), i + 2)], ' '),
                   '') AS right_ctx
               FROM hit ORDER BY doc_id, i""")),

    // K-ANONYMITY audit over the (lang, source) quasi-identifier (the
    // re-identification risk report a dataset release ships): classes
    // below k=25 are risky; the suppressed share is the fraction of docs
    // that would need generalization. One aggregation pass; rational
    // share → floor-form rounding.
    Q("q_pipeline_kanon",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val classes = docs.groupBy("lang", "source")
          .agg(count(lit(1)).as("n"))
        classes.agg(
            count(lit(1)).as("n_classes"),
            sum(when(col("n") < 25, 1L).otherwise(0L)).as("n_risky"),
            min(col("n")).as("min_class"),
            sum(when(col("n") < 25, col("n")).otherwise(0L)).as("docs_risky"))
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
          .select(col("n_classes"), col("n_risky"), col("min_class"),
            graft.core.Num.roundHalfUp(
              col("docs_risky").cast("double") / col("n_total").cast("double"),
              4).as("suppressed_share"))
      },
      Some("""WITH c AS (SELECT lang, source, count(*) AS n
                         FROM documents GROUP BY 1, 2),
              t AS (SELECT count(*) AS n_total FROM documents)
              SELECT count(*) AS n_classes,
                CAST(sum(CASE WHEN n < 25 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_risky,
                min(n) AS min_class,
                floor(sum(CASE WHEN n < 25 THEN n ELSE 0 END)::DOUBLE
                      / any_value(n_total)::DOUBLE * 10000 + 0.5) / 10000
                  AS suppressed_share
              FROM c CROSS JOIN t""")),

    // JENSEN–SHANNON divergence between the 'en' slice's and the rest's
    // unigram distributions — the mixture-shift diagnostic a curation run
    // publishes when a source changes. One explode+groupBy builds both
    // count vectors; the divergence is one vocab-sized aggregation.
    // Transcendental (logs) → plain round(4).
    Q("q_text_jsd",
      (s, dir) => TextStats.jsDivergence(
        Tables(s, dir, "documents"), col("lang") === "en"),
      Some(s"""WITH occ AS (SELECT lang = 'en' AS in_p, unnest($DTOKS) AS term
                            FROM documents),
               cnt AS (SELECT term,
                         CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                         CAST(sum(CASE WHEN in_p THEN 0 ELSE 1 END) AS BIGINT) AS cq
                       FROM occ GROUP BY term),
               tot AS (SELECT sum(cp)::DOUBLE AS tp, sum(cq)::DOUBLE AS tq
                       FROM cnt),
               pq AS (SELECT cp, cq, cp::DOUBLE / tp AS p, cq::DOUBLE / tq AS q
                      FROM cnt CROSS JOIN tot)
               SELECT CAST(sum(CASE WHEN cp > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_terms_p,
                 CAST(sum(CASE WHEN cq > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_terms_q,
                 round(sum(CASE WHEN cp > 0
                             THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0 END) +
                       sum(CASE WHEN cq > 0
                             THEN 0.5 * q * ln(2.0 * q / (p + q)) ELSE 0 END), 4)
                   AS jsd_nats
               FROM pq""")),

    // CORPUS BLEU-4 (Papineni 2002) over a deterministic candidate/
    // reference fixture: ref = the doc's tokens, cand = the same tokens
    // with every k-th position dropped (k = doc_id%4 + 3) — the "lossy
    // generation" an SFT eval scores. Clipped matches via one explode +
    // groupBy + co-partitioned join per side; never all-pairs
    // (pipeline/EvalText.scala bleu). p_n are rational → floor-form
    // rounding; BP/BLEU are exp/ln-derived → plain round.
    Q("q_eval_bleu",
      (s, dir) => {
        val toks = Tables(s, dir, "documents").filter(col("doc_id") < 600)
          .select(col("doc_id"),
            graft.fts.Analyzer.tokenize(col("text")).as("t"))
        val pairs = toks.select(col("doc_id").as("pid"),
          filter(col("t"), (_, i) =>
            pmod(i + 1, pmod(col("doc_id"), lit(4)) + 3) =!= 0).as("cand"),
          col("t").as("ref"))
        EvalText.bleu(pairs, maxN = 4)
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents
                             WHERE doc_id < 600),
               pairs AS (SELECT doc_id AS pid,
                   [t[i] FOR i IN range(1, len(t) + 1)
                         IF i % (doc_id % 4 + 3) != 0] AS cand,
                   t AS ref FROM toks),
               nn AS (SELECT unnest([1, 2, 3, 4]) AS n),
               cg AS (SELECT pid, n, gram, count(*) AS c_cnt
                      FROM (SELECT p.pid, nn.n,
                              unnest([array_to_string(p.cand[i:i+nn.n-1], ' ')
                                FOR i IN range(1, len(p.cand) - nn.n + 2)])
                                AS gram
                            FROM pairs p CROSS JOIN nn)
                      GROUP BY 1, 2, 3),
               rg AS (SELECT pid, n, gram, count(*) AS r_cnt
                      FROM (SELECT p.pid, nn.n,
                              unnest([array_to_string(p.ref[i:i+nn.n-1], ' ')
                                FOR i IN range(1, len(p.ref) - nn.n + 2)])
                                AS gram
                            FROM pairs p CROSS JOIN nn)
                      GROUP BY 1, 2, 3),
               mt AS (SELECT pid, n, sum(least(c_cnt, r_cnt)) AS m
                      FROM cg JOIN rg USING (pid, n, gram) GROUP BY 1, 2),
               tot AS (SELECT pid, nn.n AS n,
                         greatest(len(cand) - nn.n + 1, 0) AS c_tot
                       FROM pairs CROSS JOIN nn),
               pern AS (SELECT t.n, CAST(coalesce(sum(m), 0) AS BIGINT) AS m,
                          CAST(sum(c_tot) AS BIGINT) AS t
                        FROM tot t LEFT JOIN mt USING (pid, n) GROUP BY t.n),
               agg AS (SELECT
                   max(CASE WHEN n = 1 THEN
                     floor(m::DOUBLE / t::DOUBLE * 10000 + 0.5) / 10000 END)
                     AS p1,
                   max(CASE WHEN n = 2 THEN
                     floor(m::DOUBLE / t::DOUBLE * 10000 + 0.5) / 10000 END)
                     AS p2,
                   max(CASE WHEN n = 3 THEN
                     floor(m::DOUBLE / t::DOUBLE * 10000 + 0.5) / 10000 END)
                     AS p3,
                   max(CASE WHEN n = 4 THEN
                     floor(m::DOUBLE / t::DOUBLE * 10000 + 0.5) / 10000 END)
                     AS p4,
                   sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS zero_ps,
                   sum(CASE WHEN m > 0 THEN ln(m::DOUBLE / t::DOUBLE)
                       ELSE 0 END) AS logsum
                 FROM pern),
               lens AS (SELECT CAST(sum(len(cand)) AS BIGINT) AS c_len,
                          CAST(sum(len(ref)) AS BIGINT) AS r_len FROM pairs)
               SELECT p1, p2, p3, p4, c_len, r_len,
                 round(CASE WHEN c_len >= r_len THEN 1.0
                   ELSE exp(1.0 - r_len::DOUBLE / c_len::DOUBLE) END, 4)
                   AS bp,
                 round(CASE WHEN zero_ps > 0 THEN 0.0
                   ELSE (CASE WHEN c_len >= r_len THEN 1.0
                         ELSE exp(1.0 - r_len::DOUBLE / c_len::DOUBLE) END)
                        * exp(logsum / 4.0) END, 4) AS bleu
               FROM agg CROSS JOIN lens""")),

    // ROUGE-1/2 per pair (Lin 2004) on the same lossy-generation fixture
    // (pid < 300): precision/recall from clipped n-gram matches; F1 in
    // the integer form 2m/(c+r) so both engines divide the same exact
    // integers once. One row per (pid, n).
    Q("q_eval_rouge",
      (s, dir) => {
        val toks = Tables(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            graft.fts.Analyzer.tokenize(col("text")).as("t"))
        val pairs = toks.select(col("doc_id").as("pid"),
          filter(col("t"), (_, i) =>
            pmod(i + 1, pmod(col("doc_id"), lit(4)) + 3) =!= 0).as("cand"),
          col("t").as("ref"))
        EvalText.rougeN(pairs, Seq(1, 2)).orderBy("pid", "n")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $DTOKS AS t FROM documents
                             WHERE doc_id < 300),
               pairs AS (SELECT doc_id AS pid,
                   [t[i] FOR i IN range(1, len(t) + 1)
                         IF i % (doc_id % 4 + 3) != 0] AS cand,
                   t AS ref FROM toks),
               nn AS (SELECT unnest([1, 2]) AS n),
               cg AS (SELECT pid, n, gram, count(*) AS c_cnt
                      FROM (SELECT p.pid, nn.n,
                              unnest([array_to_string(p.cand[i:i+nn.n-1], ' ')
                                FOR i IN range(1, len(p.cand) - nn.n + 2)])
                                AS gram
                            FROM pairs p CROSS JOIN nn)
                      GROUP BY 1, 2, 3),
               rg AS (SELECT pid, n, gram, count(*) AS r_cnt
                      FROM (SELECT p.pid, nn.n,
                              unnest([array_to_string(p.ref[i:i+nn.n-1], ' ')
                                FOR i IN range(1, len(p.ref) - nn.n + 2)])
                                AS gram
                            FROM pairs p CROSS JOIN nn)
                      GROUP BY 1, 2, 3),
               mt AS (SELECT pid, n, sum(least(c_cnt, r_cnt)) AS m
                      FROM cg JOIN rg USING (pid, n, gram) GROUP BY 1, 2),
               tot AS (SELECT pid, nn.n AS n,
                         greatest(len(cand) - nn.n + 1, 0) AS c_tot,
                         greatest(len(ref) - nn.n + 1, 0) AS r_tot
                       FROM pairs CROSS JOIN nn)
               SELECT t.pid, t.n,
                 CAST(coalesce(mt.m, 0) AS BIGINT) AS matched,
                 CAST(t.c_tot AS BIGINT) AS cand_total,
                 CAST(t.r_tot AS BIGINT) AS ref_total,
                 CASE WHEN t.c_tot > 0 THEN
                   floor(coalesce(mt.m, 0)::DOUBLE / t.c_tot::DOUBLE
                         * 10000 + 0.5) / 10000 ELSE 0.0 END AS precision,
                 CASE WHEN t.r_tot > 0 THEN
                   floor(coalesce(mt.m, 0)::DOUBLE / t.r_tot::DOUBLE
                         * 10000 + 0.5) / 10000 ELSE 0.0 END AS recall,
                 CASE WHEN t.c_tot + t.r_tot > 0 THEN
                   floor((coalesce(mt.m, 0) * 2)::DOUBLE
                         / (t.c_tot + t.r_tot)::DOUBLE * 10000 + 0.5) / 10000
                   ELSE 0.0 END AS f1
               FROM tot t LEFT JOIN mt ON t.pid = mt.pid AND t.n = mt.n
               ORDER BY t.pid, t.n""")),

    // ENTITY RESOLUTION via Jaro-Winkler (Winkler 1990, the record-linkage
    // staple; Spark has no built-in — graft.ext.JaroWinklerExpr is a
    // native codegen expression, oracle = DuckDB jaro_winkler_similarity,
    // semantics probed + pinned in JaroWinklerSpec). Fixture: a "dirty
    // catalog" of part names with one deterministic character deletion at
    // position partkey%(len−3)+3; resolution = best clean name at rounded
    // JW ≥ 0.9. Scale shape: the q_join_fuzzy dictionary lesson — match
    // DISTINCT dirty names against DISTINCT clean names under a
    // (2-char-prefix, length±1) block, broadcast the dictionary, then map
    // winners back to rows. Corpus-side work is one projection + one
    // broadcast join; similarity only ever runs on dictionary pairs.
    Q("q_er_jw",
      (s, dir) => {
        val parts = Tables(s, dir, "part")
        val len = length(col("p_name"))
        val pos = (pmod(col("p_partkey"), (len - 3).cast("long")) + 3)
          .cast("int")
        val dirty = parts.select(col("p_partkey").as("pid"),
          concat(col("p_name").substr(lit(1), pos - 1),
            col("p_name").substr(pos + 1, len - pos)).as("dname"))
        val dict = dirty.select("dname").distinct()
        val clean = parts.select("p_name").distinct()
        val scored = dict.join(broadcast(clean),
            substring(col("dname"), 1, 2) === substring(col("p_name"), 1, 2)
              && abs(length(col("dname")) - length(col("p_name"))) <= 1)
          .select(col("dname"), col("p_name").as("match_name"),
            graft.core.Num.roundHalfUp(
              call_function("jaro_winkler", col("dname"), col("p_name")), 4)
              .as("jw"))
          .filter(col("jw") >= 0.9)
        val best = scored.withColumn("rk",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy("dname")
              .orderBy(col("jw").desc, col("match_name"))))
          .filter(col("rk") === 1).drop("rk")
        dirty.join(broadcast(best), Seq("dname"))
          .select("pid", "dname", "match_name", "jw").orderBy("pid")
      },
      Some("""WITH p AS (SELECT p_partkey AS pid, p_name,
                   CAST(p_partkey % (len(p_name) - 3) + 3 AS INT) AS pos
                 FROM part),
              dirty AS (SELECT pid,
                  substr(p_name, 1, pos - 1)
                    || substr(p_name, pos + 1, len(p_name) - pos) AS dname
                FROM p),
              dict AS (SELECT DISTINCT dname FROM dirty),
              clean AS (SELECT DISTINCT p_name FROM part),
              scored AS (SELECT dname, p_name AS match_name,
                  floor(jaro_winkler_similarity(dname, p_name) * 10000 + 0.5)
                    / 10000 AS jw
                FROM dict JOIN clean
                  ON substr(dname, 1, 2) = substr(p_name, 1, 2)
                 AND abs(len(dname) - len(p_name)) <= 1),
              best AS (SELECT dname, match_name, jw, row_number() OVER
                  (PARTITION BY dname ORDER BY jw DESC, match_name) AS rk
                FROM scored WHERE jw >= 0.9)
              SELECT d.pid, d.dname, b.match_name, b.jw
              FROM dirty d JOIN best b ON d.dname = b.dname AND b.rk = 1
              ORDER BY d.pid""")),

    // ASSOCIATION RULES (Agrawal & Srikant 1994 A-Priori, pair level) —
    // market-basket mining over order baskets: brands co-purchased in one
    // order → support / confidence / lift per directed rule. Plan: basket
    // self-join ON THE ORDER KEY ONLY (pair fan-out is bounded by basket
    // size² ≤ ~81, never corpus²), item counts broadcast back. Lift stays
    // in integer space (pair·N / (a·c)) until one final division →
    // floor-form rounding.
    Q("q_mine_rules",
      (s, dir) => {
        val parts = Tables(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        val baskets = Tables(s, dir, "lineitem")
          .join(broadcast(parts), "l_partkey")
          .select(col("l_orderkey"), col("p_brand")).distinct()
        val nOrders = baskets.select("l_orderkey").distinct()
          .agg(count(lit(1)).as("n_orders"))
        val itemCnt = baskets.groupBy("p_brand").agg(count(lit(1)).as("cnt"))
        val pairs = baskets.as("a")
          .join(baskets.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.p_brand") < col("b.p_brand"))
          .groupBy(col("a.p_brand").as("x"), col("b.p_brand").as("y"))
          .agg(count(lit(1)).as("pair_n"))
          .filter(col("pair_n") >= 20)
        val directed = pairs
          .select(col("x").as("antecedent"), col("y").as("consequent"),
            col("pair_n"))
          .unionByName(pairs.select(col("y").as("antecedent"),
            col("x").as("consequent"), col("pair_n")))
        directed
          .join(broadcast(itemCnt.select(col("p_brand").as("antecedent"),
            col("cnt").as("a_cnt"))), "antecedent")
          .join(broadcast(itemCnt.select(col("p_brand").as("consequent"),
            col("cnt").as("c_cnt"))), "consequent")
          .crossJoin(broadcast(nOrders))
          .select(col("antecedent"), col("consequent"), col("pair_n"),
            graft.core.Num.roundHalfUp(col("pair_n").cast("double") /
              col("n_orders").cast("double"), 4).as("support"),
            graft.core.Num.roundHalfUp(col("pair_n").cast("double") /
              col("a_cnt").cast("double"), 4).as("confidence"),
            graft.core.Num.roundHalfUp(
              (col("pair_n") * col("n_orders")).cast("double") /
                (col("a_cnt") * col("c_cnt")).cast("double"), 4).as("lift"))
          .orderBy("antecedent", "consequent")
      },
      Some("""WITH baskets AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
              n_ord AS (SELECT count(DISTINCT l_orderkey) AS n_orders
                        FROM baskets),
              item AS (SELECT p_brand, count(*) AS cnt FROM baskets
                       GROUP BY 1),
              pairs AS (SELECT a.p_brand AS x, b.p_brand AS y,
                          count(*) AS pair_n
                        FROM baskets a JOIN baskets b
                          ON a.l_orderkey = b.l_orderkey
                         AND a.p_brand < b.p_brand
                        GROUP BY 1, 2 HAVING count(*) >= 20),
              directed AS (SELECT x AS antecedent, y AS consequent, pair_n
                           FROM pairs
                           UNION ALL
                           SELECT y, x, pair_n FROM pairs)
              SELECT d.antecedent, d.consequent,
                CAST(d.pair_n AS BIGINT) AS pair_n,
                floor(d.pair_n::DOUBLE / n.n_orders::DOUBLE * 10000 + 0.5)
                  / 10000 AS support,
                floor(d.pair_n::DOUBLE / a.cnt::DOUBLE * 10000 + 0.5)
                  / 10000 AS confidence,
                floor((d.pair_n * n.n_orders)::DOUBLE
                      / (a.cnt * c.cnt)::DOUBLE * 10000 + 0.5) / 10000
                  AS lift
              FROM directed d
                JOIN item a ON d.antecedent = a.p_brand
                JOIN item c ON d.consequent = c.p_brand
                CROSS JOIN n_ord n
              ORDER BY d.antecedent, d.consequent""")),

    // L-DIVERSITY audit (Machanavajjhala 2007 — the companion to
    // q_pipeline_kanon's k-anonymity): within each (nation, segment)
    // quasi-identifier class, how many DISTINCT sensitive values
    // ($1000-wide account-balance bands) appear? Classes with l < 3 leak
    // the sensitive attribute even when k-anonymous. One aggregation
    // pass; the suppressed share is rational → floor-form rounding.
    Q("q_pipeline_ldiv",
      (s, dir) => {
        val cust = Tables(s, dir, "customer")
        val cls = cust.groupBy("c_nationkey", "c_mktsegment")
          .agg(countDistinct(floor(col("c_acctbal") / 1000).cast("long"))
            .as("l"), count(lit(1)).as("n"))
        cls.agg(count(lit(1)).as("n_classes"), min(col("l")).as("min_l"),
            sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_risky"),
            sum(when(col("l") < 3, col("n")).otherwise(0L)).as("rows_risky"))
          .crossJoin(broadcast(cust.agg(count(lit(1)).as("n_total"))))
          .select(col("n_classes"), col("min_l"), col("n_risky"),
            graft.core.Num.roundHalfUp(col("rows_risky").cast("double") /
              col("n_total").cast("double"), 4).as("suppressed_share"))
      },
      Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
                  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                    AS l,
                  count(*) AS n
                FROM customer GROUP BY 1, 2),
              t AS (SELECT count(*) AS n_total FROM customer)
              SELECT count(*) AS n_classes, CAST(min(l) AS BIGINT) AS min_l,
                CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_risky,
                floor(sum(CASE WHEN l < 3 THEN n ELSE 0 END)::DOUBLE
                      / any_value(n_total)::DOUBLE * 10000 + 0.5) / 10000
                  AS suppressed_share
              FROM cls CROSS JOIN t""")),

    // HITS hubs & authorities (Kleinberg 1999) on the pagerank fixture
    // graph — the complementary link-analysis pair (pipeline/Rank.scala
    // hits): synchronous a←Eᵀh / h←Ea power iteration, L2-normalized
    // each half-step, 10 rounds. Oracle unrolls the identical steps.
    Q("q_graph_hits",
      (s, dir) => Rank.hits(
        Tables(s, dir, "lineitem").select(
          (col("l_orderkey") % 100).as("src"),
          (col("l_suppkey") % 100).as("dst"))),
      Some(hitsOracle)),

    // HITS over the persisted DUAL-ORIENTATION edge layout: the auth
    // step joins the bucketed-by-src table, the hub step the
    // bucketed-by-dst table — each iteration join exchange-free on the
    // edge side (same oracle as q_graph_hits; physical claim asserted
    // in PlanShapeSpec).
    Q("q_graph_hits_bucketed",
      (s, dir) => Rank.hitsOnLayout(edgeLayoutFor(s, dir)),
      Some(hitsOracle)),

    // WORD-EMBEDDING TRAINING (the reference's last §2.9 text seed,
    // ml/feature/Word2Vec.scala:121): skip-gram's SGD is nondeterministic
    // by construction, so the engine trains the closed-form equivalent —
    // Levy & Goldberg's explicit shifted-PPMI space (window-2
    // co-occurrence → PPMI rows over the top-8 integer-marginal dims)
    // plus the dominant PPMI direction via THREE pinned power-method
    // steps (the q_graph_* pattern: the oracle unrolls the identical
    // normalized matvecs). Every stage is an equi-join/aggregate; state
    // is vocabulary²-bounded regardless of corpus size.
    // Output shape: the vec array is EXPLODED to scalar (term, dim,
    // value) rows at the oracle boundary (the q_collect house rule —
    // the driver's comparator hashes scalar cells only); dims are
    // 1-based and both engines emit the identical pinned 6-digit
    // values. Served from the train-once layout ([[embedLayoutFor]]) —
    // the corpus pass is paid once per (JVM, dir), not per query.
    Q("q_text_embed_train",
      (s, dir) => explodeEmbedding(embedLayoutFor(s, dir)),
      Some(embedTrainExplodedOracle)),

    // VECTOR ARITHMETIC over the trained space (the Word2Vec analogy
    // surface — findSynonyms(va − vb + vc); reference
    // ml/feature/Word2Vec.scala:527): target = v(spark) − v(slow) +
    // v(fast), rank the vocabulary by cosine against it, excluding the
    // three operands (the standard analogy-eval protocol). On the
    // fixture's near-uniform vocabulary the winner is arbitrary but
    // DETERMINISTIC — both engines fold the same pinned 8-dim rounded
    // vectors in index order. One broadcast 1-row target; the scan side
    // is the vocabulary table.
    Q("q_text_embed_analogy",
      (s, dir) => {
        // served from the train-once parquet layout: each vecOf is a
        // vocabulary-table point lookup, the scan side reads the same
        // small table — no persist needed, nothing retrains in-query
        val emb = embedLayoutFor(s, dir).select(col("term"), col("vec"))
        def vecOf(t: String, as: String) =
          emb.filter(col("term") === t).select(col("vec").as(as))
        val target = vecOf("spark", "va")
          .crossJoin(vecOf("slow", "vb")).crossJoin(vecOf("fast", "vc"))
          .select(zip_with(zip_with(col("va"), col("vb"), _ - _),
            col("vc"), _ + _).as("vt"))
        emb.crossJoin(broadcast(target))
          .filter(!col("term").isin("spark", "slow", "fast"))
          .select(col("term"),
            round(Embed.cosine(col("vec"), col("vt")), 6).as("cos"))
          .orderBy(col("cos").desc, col("term")).limit(5)
      },
      Some {
        val dot = "list_sum([e.vec[i] * t.vt[i] FOR i IN range(1, 9)])"
        val ne = "sqrt(list_sum([e.vec[i] * e.vec[i] FOR i IN range(1, 9)]))"
        val nt = "sqrt(list_sum([t.vt[i] * t.vt[i] FOR i IN range(1, 9)]))"
        s"""WITH emb AS ($embedTrainOracle),
            t AS (SELECT [a.vec[i] - b.vec[i] + c.vec[i]
                          FOR i IN range(1, 9)] AS vt
                  FROM (SELECT vec FROM emb WHERE term = 'spark') a,
                       (SELECT vec FROM emb WHERE term = 'slow') b,
                       (SELECT vec FROM emb WHERE term = 'fast') c),
            sc AS (SELECT e.term,
                round(CASE WHEN $ne > 0 AND $nt > 0
                           THEN $dot / ($ne * $nt) ELSE 0.0 END, 6) AS cos
              FROM emb e CROSS JOIN t
              WHERE e.term NOT IN ('spark', 'slow', 'fast'))
            SELECT term, cos FROM sc ORDER BY cos DESC, term LIMIT 5"""
      }),

    // The trained space SERVING: top-3 nearest terms per vocabulary term
    // by cosine over the explicit PPMI vectors — the "similar words"
    // surface Word2Vec.findSynonyms exposes (reference
    // ml/feature/Word2Vec.scala:527). All-pairs here is vocabulary² —
    // dictionary-bounded at ANY corpus size (the corpus only sharpens
    // the counts); a trillion-term vocabulary would serve this through
    // the ANN paths (q_sim_*), not a wider cross join. Cosine folds the
    // 8 pinned dims in index order on both engines, so the rounded
    // scores rank identically.
    Q("q_text_embed_neighbors",
      (s, dir) => {
        // both sides of the vocab² cross join scan the same train-once
        // parquet layout — the corpus pass is never re-paid in-query
        val emb = embedLayoutFor(s, dir).select(col("term"), col("vec"))
        val a = emb.select(col("term"), col("vec").as("va"))
        val b = emb.select(col("term").as("nbr"), col("vec").as("vb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("term")
          .orderBy(col("cos").desc, col("nbr"))
        a.crossJoin(b).filter(col("term") =!= col("nbr"))
          .select(col("term"), col("nbr"),
            round(Embed.cosine(col("va"), col("vb")), 6).as("cos"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("term"), col("rank").cast("long").as("rank"),
            col("nbr"), col("cos"))
          .orderBy("term", "rank")
      },
      Some {
        val dot = "list_sum([a.vec[i] * b.vec[i] FOR i IN range(1, 9)])"
        val na = "sqrt(list_sum([a.vec[i] * a.vec[i] FOR i IN range(1, 9)]))"
        val nb = "sqrt(list_sum([b.vec[i] * b.vec[i] FOR i IN range(1, 9)]))"
        s"""WITH emb AS ($embedTrainOracle),
            pairs AS (SELECT a.term, b.term AS nbr,
                round(CASE WHEN $na > 0 AND $nb > 0
                           THEN $dot / ($na * $nb) ELSE 0.0 END, 6) AS cos
              FROM emb a JOIN emb b ON a.term <> b.term),
            ranked AS (SELECT term, nbr, cos,
                row_number() OVER (PARTITION BY term
                                   ORDER BY cos DESC, nbr) AS rank
              FROM pairs)
            SELECT term, rank, nbr, cos FROM ranked
            WHERE rank <= 3 ORDER BY term, rank"""
      }),

    // INCREMENTAL embedding maintenance (streaming/StreamEmbed.scala):
    // windowed co-occurrence is ADDITIVE across document batches (window
    // pairs never cross docs), so ingest appends per-batch (a, b, cab)
    // deltas and serving folds Σcab before the vocabulary-bounded
    // PPMI → vectors algebra. The corpus streams in TWO AvailableNow
    // RUNS sharing one checkpoint (deterministic batch boundaries + a
    // restart-resume proof: run 2 processes only the file staged after
    // run 1), and the served space must equal the batch trainer
    // BIT-FOR-BIT — the oracle is the same full-corpus training replay
    // as q_text_embed_train. At 100 TB this is the only affordable
    // lifecycle: new data pays its own delta, never the corpus re-pass,
    // and serve-time state is bounded by distinct observed pairs.
    Q("q_text_embed_incremental",
      // synchronized + dir-md5-keyed root: suites drive queries
      // concurrently in one JVM over different corpus dirs, and a fixed
      // shared root would let a sibling invocation's delete-at-start
      // remove this run's landing/checkpoint/store mid-stream — the same
      // hazard class embedLayoutFor/fts_skew_stats already key against.
      // The lock is the object lock embedLayoutFor uses, so the two
      // embed surfaces also never interleave their stage/train phases.
      (s, dir) => synchronized {
        val dkey = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
        val root = graft.core.Scratch.dir(s"embed_incr_q_$dkey")
        val landing = s"$root/landing"
        val store = s"$root/store"
        val hconf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val docs = Tables(s, dir, "documents")
        val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
        def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val stageDir = s"$root/stage_$name"
          df.coalesce(1).write.mode("overwrite").parquet(stageDir)
          val part = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$stageDir/part-*")).head.getPath
          fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
          org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
            new org.apache.hadoop.fs.Path(s"$landing/$name.parquet"),
            false, hconf)
        }
        // NOT StreamTune-wrapped (r18, measured): this stream has no
        // stateful stage — the foreachBatch body is a CPU-bound window-2
        // co-occurrence aggregation over the whole batch, and squeezing
        // its shuffle to the data-sized 1 partition serialized real
        // compute (4.46 s → 5.43 s at sf0.1). The state-partition rule is
        // for state-store overhead, not for compute parallelism.
        def ingest(): Unit = graft.streaming.StreamEmbed.start(
          s.readStream.schema(docs.schema).parquet(landing), store)
          .awaitTermination()
        stage(docs.filter(col("doc_id") <= half), "batch0"); ingest()
        stage(docs.filter(col("doc_id") > half), "batch1"); ingest()
        explodeEmbedding(
          graft.streaming.StreamEmbed.serveEmbeddings(s, store))
      },
      Some(embedTrainExplodedOracle)),

    // chrF2 (Popović, WMT 2015 — the character-level MT metric, robust
    // to tokenization): whitespace-stripped character n-grams n = 1..4,
    // corpus-micro precision/recall per n, macro-averaged across n, then
    // F_{β=2}. Reuses the SAME clipped-count kernel as BLEU/ROUGE
    // (EvalText.pairGramStats over char arrays). Everything is a ratio
    // of exact integers → floor-form rounding end-to-end.
    Q("q_eval_chrf",
      (s, dir) => {
        val chars = (c: org.apache.spark.sql.Column) =>
          filter(split(regexp_replace(c, "\\s+", ""), ""), _ =!= "")
        val base = Tables(s, dir, "documents").filter(col("doc_id") < 400)
        val pairs = base.select(col("doc_id").as("pid"),
          filter(chars(col("text")), (_, i) =>
            pmod(i + 1, pmod(col("doc_id"), lit(4)) + 3) =!= 0).as("cand"),
          chars(col("text")).as("ref"))
        val perN = EvalText.pairGramStats(pairs, 1 to 4)
          .groupBy("n").agg(sum(col("matched")).as("m"),
            sum(col("cand_total")).as("ct"), sum(col("ref_total")).as("rt"))
          .select(
            (col("m").cast("double") / col("ct").cast("double")).as("p"),
            (col("m").cast("double") / col("rt").cast("double")).as("r"))
        perN.agg(avg(col("p")).as("chrp0"), avg(col("r")).as("chrr0"))
          .select(
            graft.core.Num.roundHalfUp(col("chrp0"), 4).as("chrp"),
            graft.core.Num.roundHalfUp(col("chrr0"), 4).as("chrr"),
            graft.core.Num.roundHalfUp(
              lit(5.0) * col("chrp0") * col("chrr0") /
                (lit(4.0) * col("chrp0") + col("chrr0")), 4).as("chrf2"))
      },
      Some("""WITH d0 AS (SELECT doc_id, regexp_replace(text, '\s+', '', 'g')
                     AS s FROM documents WHERE doc_id < 400),
              pairs AS (SELECT doc_id AS pid,
                  [s[i] FOR i IN range(1, len(s) + 1)
                        IF i % (doc_id % 4 + 3) != 0] AS cand,
                  [s[i] FOR i IN range(1, len(s) + 1)] AS ref
                FROM d0),
              nn AS (SELECT unnest([1, 2, 3, 4]) AS n),
              cg AS (SELECT pid, n, gram, count(*) AS c_cnt
                     FROM (SELECT p.pid, nn.n,
                             unnest([array_to_string(p.cand[i:i+nn.n-1], ' ')
                               FOR i IN range(1, len(p.cand) - nn.n + 2)])
                               AS gram
                           FROM pairs p CROSS JOIN nn)
                     GROUP BY 1, 2, 3),
              rg AS (SELECT pid, n, gram, count(*) AS r_cnt
                     FROM (SELECT p.pid, nn.n,
                             unnest([array_to_string(p.ref[i:i+nn.n-1], ' ')
                               FOR i IN range(1, len(p.ref) - nn.n + 2)])
                               AS gram
                           FROM pairs p CROSS JOIN nn)
                     GROUP BY 1, 2, 3),
              mt AS (SELECT pid, n, sum(least(c_cnt, r_cnt)) AS m
                     FROM cg JOIN rg USING (pid, n, gram) GROUP BY 1, 2),
              tot AS (SELECT pid, nn.n AS n,
                        greatest(len(cand) - nn.n + 1, 0) AS c_tot,
                        greatest(len(ref) - nn.n + 1, 0) AS r_tot
                      FROM pairs CROSS JOIN nn),
              pern AS (SELECT t.n,
                         coalesce(sum(m), 0)::DOUBLE / sum(c_tot)::DOUBLE
                           AS p,
                         coalesce(sum(m), 0)::DOUBLE / sum(r_tot)::DOUBLE
                           AS r
                       FROM tot t LEFT JOIN mt USING (pid, n) GROUP BY t.n),
              ag AS (SELECT avg(p) AS chrp0, avg(r) AS chrr0 FROM pern)
              SELECT floor(chrp0 * 10000 + 0.5) / 10000 AS chrp,
                floor(chrr0 * 10000 + 0.5) / 10000 AS chrr,
                floor(5.0 * chrp0 * chrr0 / (4.0 * chrp0 + chrr0)
                      * 10000 + 0.5) / 10000 AS chrf2
              FROM ag""")),

    // SPEARMAN RANK CORRELATION between two per-user engagement signals
    // (event count vs. total spend) — the monotonic-association check an
    // analytics pipeline publishes before trusting one signal as a proxy
    // for the other. Ranks are row_number over (value, user_id) — a
    // TOTAL order, so no tie-correction term and the classic EXACT form
    // applies: ρ = 1 − 6·Σd²/(n(n²−1)), computed entirely in integer
    // space until one final division (floor-form rounded). Spend sums in
    // DECIMAL (exact) so near-equal totals can't flip ranks across
    // engines. The rank windows span the USER dimension (bounded,
    // coordinator-scale relative to the event corpus); n³ stays exact in
    // a double to n ≈ 2·10⁵ — past that, promote to DECIMAL.
    Q("q_eval_spearman",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val perUser = Tables(s, dir, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).as("total_value"))
        val ranked = perUser
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n_events"), col("user_id"))))
          .withColumn("rv", row_number().over(
            Window.orderBy(col("total_value"), col("user_id"))))
        ranked
          .agg(count(lit(1)).as("n_users"),
            sum((col("rn") - col("rv")).cast("long") *
              (col("rn") - col("rv")).cast("long")).as("d2"))
          .select(col("n_users"),
            graft.core.Num.roundHalfUp(lit(1.0) -
              lit(6.0) * col("d2").cast("double") /
                (col("n_users") * (col("n_users") * col("n_users") - 1))
                  .cast("double"), 4).as("spearman"))
      },
      Some("""WITH pu AS (SELECT user_id, count(*) AS n_events,
                  sum(CAST(value AS DECIMAL(18,2))) AS total_value
                FROM events GROUP BY 1),
              rk AS (SELECT
                  row_number() OVER (ORDER BY n_events, user_id) AS rn,
                  row_number() OVER (ORDER BY total_value, user_id) AS rv
                FROM pu)
              SELECT count(*) AS n_users,
                floor((1.0 - 6.0 * sum((rn - rv) * (rn - rv))::DOUBLE
                       / (count(*) * (count(*) * count(*) - 1))::DOUBLE)
                      * 10000 + 0.5) / 10000 AS spearman
              FROM rk""")),

    // WEIGHT OF EVIDENCE / INFORMATION VALUE (the credit-scoring feature
    // audit — Siddiqi 2006): decile-bin the event value, per bin
    // WoE = ln(pos_share/neg_share) against the 'purchase' target, and
    // IV = Σ (pos_share − neg_share)·WoE replicated on every row. Bins
    // cut on the (value, event_id) total order, so both engines agree;
    // bins empty of a class are unscored (WoE NULL) and excluded from IV
    // — the standard smoothing-free convention. A corpus ntile would be
    // ONE global sort partition (measured 5.8× at ×10); the rank
    // decomposes as in Sampling.lengthBuckets — a histogram-scale cumsum
    // (2-dp values → bounded distinct domain) + a value-partitioned
    // row_number + exact integer ntile arithmetic. The oracle keeps
    // plain ntile: same total order, same classic bucket boundaries.
    Q("q_pipeline_woe",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("value"),
            (col("event_type") === "purchase").cast("long").as("pos"))
        val hist = ev.groupBy("value").agg(count(lit(1)).as("c"))
        val cum = hist.withColumn("cum_before",
            coalesce(sum(col("c")).over(Window.orderBy("value")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("value", "cum_before")
        val tot = ev.agg(count(lit(1)).as("n_total"))
        val binned = ev.join(broadcast(cum), "value")
          .withColumn("rk", col("cum_before") + row_number().over(
            Window.partitionBy("value").orderBy("event_id")))
          .crossJoin(broadcast(tot))
          .withColumn("q", expr("n_total div 10"))
          .withColumn("r", col("n_total") % 10)
          .withColumn("bin", expr(
            """CASE WHEN rk <= (q + 1) * r THEN (rk - 1) div (q + 1) + 1
               ELSE r + (rk - (q + 1) * r - 1) div q + 1 END""").cast("int"))
        val byBin = binned.groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
          .withColumn("n_neg", col("n") - col("n_pos"))
        val classTot = byBin.agg(sum(col("n_pos")).as("tp"),
          sum(col("n_neg")).as("tn"))
        val ps = col("n_pos").cast("double") / col("tp").cast("double")
        val ns = col("n_neg").cast("double") / col("tn").cast("double")
        val woe = when(col("n_pos") > 0 && col("n_neg") > 0, log(ps / ns))
        val terms = byBin.crossJoin(broadcast(classTot))
          .withColumn("iv_term", (ps - ns) * woe)
        val iv = terms.agg(round(sum(col("iv_term")), 4).as("iv"))
        terms.crossJoin(broadcast(iv))
          .select(col("bin"), col("n"), col("n_pos"),
            graft.core.Num.roundHalfUp(ps, 4).as("pos_share"),
            round(woe, 4).as("woe"), col("iv"))
          .orderBy("bin")
      },
      Some("""WITH b AS (SELECT value, event_id,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
                  ntile(10) OVER (ORDER BY value, event_id) AS bin
                FROM events),
              bb AS (SELECT bin, count(*) AS n,
                       CAST(sum(pos) AS BIGINT) AS n_pos,
                       CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
                     FROM b GROUP BY 1),
              tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
                        CAST(sum(n_neg) AS BIGINT) AS tn FROM bb),
              t AS (SELECT bin, n, n_pos,
                      n_pos::DOUBLE / tp::DOUBLE AS ps,
                      n_neg::DOUBLE / tn::DOUBLE AS ns,
                      CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                        ln((n_pos::DOUBLE / tp::DOUBLE)
                           / (n_neg::DOUBLE / tn::DOUBLE)) END AS woe
                    FROM bb CROSS JOIN tot),
              iv AS (SELECT round(sum((ps - ns) * woe), 4) AS iv FROM t)
              SELECT bin, n, n_pos,
                floor(ps * 10000 + 0.5) / 10000 AS pos_share,
                round(woe, 4) AS woe, iv.iv
              FROM t CROSS JOIN iv ORDER BY bin""")),

    // DELETION PROPAGATION AUDIT (right-to-be-forgotten): given a forget
    // set of users, remove their events via a broadcast anti-join and
    // publish the per-type before/after/removed reconciliation a privacy
    // review signs off on. The anti-join is the 100 TB shape: the forget
    // set is user-dimension sized and broadcasts; the corpus is scanned
    // once, never shuffled.
    Q("q_pipeline_forget",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val forget = ev.filter(col("user_id") % 97 === 0)
          .select("user_id").distinct()
        val kept = ev.join(broadcast(forget), Seq("user_id"), "left_anti")
        val before = ev.groupBy("event_type")
          .agg(count(lit(1)).as("rows_before"),
            countDistinct(col("user_id")).as("users_before"))
        val after = kept.groupBy("event_type")
          .agg(count(lit(1)).as("rows_after"),
            countDistinct(col("user_id")).as("users_after"))
        before.join(after, Seq("event_type"), "left_outer")
          .na.fill(0L, Seq("rows_after", "users_after"))
          .select(col("event_type"), col("rows_before"), col("rows_after"),
            (col("rows_before") - col("rows_after")).as("removed"),
            col("users_before"), col("users_after"))
          .orderBy("event_type")
      },
      Some("""WITH f AS (SELECT DISTINCT user_id FROM events
                         WHERE user_id % 97 = 0),
              before AS (SELECT event_type, count(*) AS rows_before,
                           count(DISTINCT user_id) AS users_before
                         FROM events GROUP BY 1),
              after AS (SELECT event_type, count(*) AS rows_after,
                          count(DISTINCT user_id) AS users_after
                        FROM events
                        WHERE user_id NOT IN (SELECT user_id FROM f)
                        GROUP BY 1)
              SELECT b.event_type, b.rows_before,
                coalesce(a.rows_after, 0) AS rows_after,
                b.rows_before - coalesce(a.rows_after, 0) AS removed,
                b.users_before, coalesce(a.users_after, 0) AS users_after
              FROM before b LEFT JOIN after a USING (event_type)
              ORDER BY b.event_type""")),

    // GEO RADIUS SEARCH (Elasticsearch geo_distance): all points within
    // 1500 km of (12.3, 45.6). Coordinates are md5-derived from the
    // customer key (hash-uniform — modular-arithmetic coords form a
    // lattice whose voids empty any small box); the bounding-box
    // prefilter is two scan-pushable range predicates (zone-map/file
    // skipping at scale — written range-clustered on (lat, lon) via the
    // ZOrder layout), haversine verifies only the boxed candidates
    // (pipeline/Geo.scala). The SAME driver-computed box literals feed
    // plan and oracle.
    Q("q_geo_radius",
      (s, dir) => {
        // the box prune must reach the SCAN, so the geo layout is a real
        // table: coordinates materialize once (the one-time layout write
        // every geo index pays), the search reads it back, and the plan
        // is REQUIREd to carry the range predicates as PushedFilters —
        // on a box over derived columns the prune would silently stay a
        // post-scan Filter, which is exactly the overstated claim this
        // assertion forbids
        val layout = graft.core.Scratch.layoutOnce(dir,
            "geo_layout", "_SUCCESS") { out =>
          Tables(s, dir, "customer").select(col("c_custkey"),
              ((conv(substring(md5(concat(col("c_custkey").cast("string"),
                lit(":lat"))), 1, 8), 16, 10).cast("long") % 17000)
                .cast("double") / 100.0 - 85.0).as("lat"),
              ((conv(substring(md5(concat(col("c_custkey").cast("string"),
                lit(":lon"))), 1, 8), 16, 10).cast("long") % 36000)
                .cast("double") / 100.0 - 180.0).as("lon"))
            .write.mode("overwrite").parquet(out)
        }
        val out = Geo.withinRadius(s.read.parquet(layout),
          qlat = 12.3, qlon = 45.6, radiusKm = 1500.0, idCol = "c_custkey")
        // assert on the STRUCTURED pushed-filter list of the scan node,
        // not the rendered plan text (the text truncates long filter
        // lists and its format shifts across Spark versions / AQE)
        val walker =
          new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        val pushed = walker.collect(out.queryExecution.executedPlan) {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
            // pushedDownFilters is Scala-protected (public in bytecode):
            // reflective call keeps the assertion on the structured
            // sources.Filter list rather than re-deriving the translation
            sc.getClass.getMethod("pushedDownFilters").invoke(sc)
              .asInstanceOf[Seq[org.apache.spark.sql.sources.Filter]]
        }.flatten
        def hasBox(attr: String): Boolean =
          pushed.exists {
            case org.apache.spark.sql.sources.GreaterThanOrEqual(a, _) =>
              a == attr
            case _ => false
          } && pushed.exists {
            case org.apache.spark.sql.sources.LessThanOrEqual(a, _) =>
              a == attr
            case _ => false
          }
        require(hasBox("lat") && hasBox("lon"),
          s"box predicates must push to the scan, got: ${pushed.mkString(", ")}")
        out
      },
      Some {
        val (latLo, latHi, lonLo, lonHi) = Geo.boundingBox(12.3, 45.6, 1500.0)
        s"""WITH pts AS (SELECT c_custkey,
               CAST((CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                      || ':lat'), 1, 8) AS BIGINT) % 17000) AS DOUBLE)
                 / 100.0 - 85.0 AS lat,
               CAST((CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                      || ':lon'), 1, 8) AS BIGINT) % 36000) AS DOUBLE)
                 / 100.0 - 180.0 AS lon
             FROM customer),
           cand AS (SELECT * FROM pts
                    WHERE lat >= $latLo AND lat <= $latHi
                      AND lon >= $lonLo AND lon <= $lonHi),
           d AS (SELECT c_custkey, lat, lon,
               round(2 * 6371.0 * asin(sqrt(
                 sin(radians(12.3 - lat) / 2) * sin(radians(12.3 - lat) / 2)
                 + cos(radians(lat)) * cos(radians(12.3))
                   * sin(radians(45.6 - lon) / 2)
                   * sin(radians(45.6 - lon) / 2))), 3) AS dist_km
             FROM cand)
           SELECT c_custkey, lat, lon, dist_km FROM d
           WHERE dist_km <= 1500.0 ORDER BY c_custkey"""
      }),

    // GEO k-NN: the 10 nearest customers to (48.2, -60.3) inside a
    // 3000 km search box — the bounded-search form a geo index serves
    // (shortfall ⇒ the serving layer widens the ring driver-side).
    // boundingBox REFUSES a box that wraps the antimeridian or reaches a
    // pole (those split into two boxes / a lon-complete scan) — guarded,
    // not silently wrong. Total order: (rounded km, key).
    Q("q_geo_knn",
      (s, dir) => Geo.nearestK(
        Tables(s, dir, "customer").select(col("c_custkey"),
          ((conv(substring(md5(concat(col("c_custkey").cast("string"),
            lit(":lat"))), 1, 8), 16, 10).cast("long") % 17000)
            .cast("double") / 100.0 - 85.0).as("lat"),
          ((conv(substring(md5(concat(col("c_custkey").cast("string"),
            lit(":lon"))), 1, 8), 16, 10).cast("long") % 36000)
            .cast("double") / 100.0 - 180.0).as("lon")),
        qlat = 48.2, qlon = -60.3, searchKm = 3000.0, k = 10,
        idCol = "c_custkey"),
      Some {
        val (latLo, latHi, lonLo, lonHi) =
          Geo.boundingBox(48.2, -60.3, 3000.0)
        s"""WITH pts AS (SELECT c_custkey,
               CAST((CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                      || ':lat'), 1, 8) AS BIGINT) % 17000) AS DOUBLE)
                 / 100.0 - 85.0 AS lat,
               CAST((CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                      || ':lon'), 1, 8) AS BIGINT) % 36000) AS DOUBLE)
                 / 100.0 - 180.0 AS lon
             FROM customer),
           cand AS (SELECT * FROM pts
                    WHERE lat >= $latLo AND lat <= $latHi
                      AND lon >= $lonLo AND lon <= $lonHi)
           SELECT c_custkey, lat, lon,
             round(2 * 6371.0 * asin(sqrt(
               sin(radians(48.2 - lat) / 2) * sin(radians(48.2 - lat) / 2)
               + cos(radians(lat)) * cos(radians(48.2))
                 * sin(radians(-60.3 - lon) / 2)
                 * sin(radians(-60.3 - lon) / 2))), 3) AS dist_km
           FROM cand ORDER BY dist_km, c_custkey LIMIT 10"""
      }),

    // BINARY QUANTIZATION ANN (the Lucene/Elasticsearch BQ path): sign
    // bits packed into two 32-bit halves (b0/b1 — two halves rather than
    // one 64-bit word so bit 63's sign never differs across engines),
    // Hamming shortlist via bit_count(xor) — 16 bytes per vector, a 16×
    // scan-width cut at serving — then exact-cosine rerank of the top-48.
    // Packing is one posexplode + groupBy (the index-build pass, one
    // shuffle on vec_id); serving touches packed words + 48 full vectors.
    Q("q_sim_bq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val packed = emb
          .select(col("vec_id"), posexplode(col("embedding")))
          .groupBy("vec_id")
          .agg(
            sum(when(col("pos") < 32 && col("col") > 0,
              expr("shiftleft(CAST(1 AS BIGINT), CAST(pos AS INT))"))
              .otherwise(0L)).as("b0"),
            sum(when(col("pos") >= 32 && col("col") > 0,
              expr("shiftleft(CAST(1 AS BIGINT), CAST(pos - 32 AS INT))"))
              .otherwise(0L)).as("b1"))
        val q = packed.filter(col("vec_id") === 0)
          .select(col("b0").as("q0"), col("b1").as("q1")).limit(1)
        val short = packed.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            (bit_count(col("b0").bitwiseXOR(col("q0"))) +
              bit_count(col("b1").bitwiseXOR(col("q1")))).as("hd"))
          .orderBy(col("hd"), col("vec_id")).limit(48)
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>").as("qv")).limit(1)
        short.join(emb, "vec_id").crossJoin(broadcast(qv))
          .select(col("vec_id"), col("hd"),
            round(graft.pipeline.Similarity.cosine(
              col("embedding").cast("array<double>"), col("qv")), 4)
              .as("cosim"))
          .orderBy(col("cosim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings),
              bits AS (SELECT vec_id, v,
                  CAST(unnest(range(1, len(v) + 1)) AS INT) AS i FROM e),
              p AS (SELECT vec_id,
                  CAST(sum(CASE WHEN i <= 32 AND v[i] > 0
                       THEN (1::BIGINT << (i - 1)) ELSE 0 END) AS BIGINT)
                    AS b0,
                  CAST(sum(CASE WHEN i > 32 AND v[i] > 0
                       THEN (1::BIGINT << (i - 33)) ELSE 0 END) AS BIGINT)
                    AS b1
                FROM bits GROUP BY vec_id),
              q AS (SELECT b0 AS q0, b1 AS q1 FROM p WHERE vec_id = 0),
              qe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              short AS (SELECT p.vec_id,
                  CAST(bit_count(xor(b0, q0)) + bit_count(xor(b1, q1))
                       AS INTEGER) AS hd
                FROM p CROSS JOIN q WHERE vec_id <> 0
                ORDER BY hd, vec_id LIMIT 48)
              SELECT s.vec_id, s.hd,
                round(list_dot_product(e.v, qe.qv) /
                  (sqrt(list_dot_product(e.v, e.v))
                   * sqrt(list_dot_product(qe.qv, qe.qv))), 4) AS cosim
              FROM short s JOIN e ON s.vec_id = e.vec_id CROSS JOIN qe
              ORDER BY cosim DESC, s.vec_id LIMIT 10""")),

    // DATA-QUALITY AUDIT (the Great-Expectations / Deequ check suite a
    // pipeline runs before trusting an extract): referential integrity
    // (lineitem→orders, orders→customer orphans via anti-joins —
    // broadcast/semi shapes, corpus scanned once per check), primary-key
    // uniqueness, null rates, and domain-range violations — one row per
    // check with its violation rate (rational → floor-form). Checks that
    // PASS still emit their row: the audit's value is the zero, recorded.
    Q("q_pipeline_dq",
      (s, dir) => {
        import s.implicits._
        val li = Tables(s, dir, "lineitem")
        val ord = Tables(s, dir, "orders")
        val cust = Tables(s, dir, "customer")
        def check(name: String, violations: Long, total: Long) =
          (name, violations, total)
        val rows = Seq(
          check("fk_lineitem_orders",
            li.join(ord.select(col("o_orderkey").as("l_orderkey")),
              Seq("l_orderkey"), "left_anti").count(), li.count()),
          check("fk_orders_customer",
            ord.join(cust.select(col("c_custkey").as("o_custkey")),
              Seq("o_custkey"), "left_anti").count(), ord.count()),
          check("pk_orders_unique",
            ord.groupBy("o_orderkey").count().filter(col("count") > 1)
              .agg(coalesce(sum(col("count")), lit(0L))).head().getLong(0),
            ord.count()),
          check("null_shipdate",
            li.filter(col("l_shipdate").isNull).count(), li.count()),
          check("range_quantity_positive",
            li.filter(col("l_quantity") <= 0).count(), li.count()),
          check("range_discount_unit",
            li.filter(col("l_discount") < 0 || col("l_discount") > 1)
              .count(), li.count()),
          check("range_totalprice_positive",
            ord.filter(col("o_totalprice") <= 0).count(), ord.count()))
        rows.toDF("check_name", "n_violations", "n_rows")
          .select(col("check_name"), col("n_violations"), col("n_rows"),
            graft.core.Num.roundHalfUp(
              col("n_violations").cast("double") / col("n_rows").cast("double"),
              6).as("violation_rate"))
          .orderBy("check_name")
      },
      Some("""WITH checks AS (
                SELECT 'fk_lineitem_orders' AS check_name,
                  (SELECT count(*) FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                    AS n_violations,
                  (SELECT count(*) FROM lineitem) AS n_rows
                UNION ALL
                SELECT 'fk_orders_customer',
                  (SELECT count(*) FROM orders
                   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
                  (SELECT count(*) FROM orders)
                UNION ALL
                SELECT 'pk_orders_unique',
                  (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
                    (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
                     HAVING count(*) > 1)),
                  (SELECT count(*) FROM orders)
                UNION ALL
                SELECT 'null_shipdate',
                  (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL),
                  (SELECT count(*) FROM lineitem)
                UNION ALL
                SELECT 'range_quantity_positive',
                  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0),
                  (SELECT count(*) FROM lineitem)
                UNION ALL
                SELECT 'range_discount_unit',
                  (SELECT count(*) FROM lineitem
                   WHERE l_discount < 0 OR l_discount > 1),
                  (SELECT count(*) FROM lineitem)
                UNION ALL
                SELECT 'range_totalprice_positive',
                  (SELECT count(*) FROM orders WHERE o_totalprice <= 0),
                  (SELECT count(*) FROM orders))
              SELECT check_name, n_violations, n_rows,
                floor(n_violations::DOUBLE / n_rows::DOUBLE * 1000000 + 0.5)
                  / 1000000 AS violation_rate
              FROM checks ORDER BY check_name""")),

    // SNAPSHOT DIFF / CDC DERIVATION (the change feed a lakehouse derives
    // between two table versions — Delta CDF semantics computed from
    // snapshots): v2 = v1 with deterministic deletes (id%13), updates
    // (lang rewrite on id%7) and inserts (id%11 clones above max id);
    // the diff is ONE full outer join on the key comparing a row
    // fingerprint — corpus-linear, shuffle on the key only, never a
    // cross-snapshot scan per column.
    Q("q_pipeline_diff",
      (s, dir) => {
        val v1 = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val maxId = 1000000L
        val v2 = v1.filter(col("doc_id") % 13 =!= 0)
          .withColumn("lang",
            when(col("doc_id") % 7 === 0, lit("xx")).otherwise(col("lang")))
          .unionByName(v1.filter(col("doc_id") % 11 === 0)
            .withColumn("doc_id", col("doc_id") + maxId))
        def fp(df: org.apache.spark.sql.DataFrame, side: String) =
          df.select(col("doc_id"),
            md5(concat_ws("\u0001", col("lang"), col("source"),
              col("n_chars"))).as(s"fp_$side"))
        val diff = fp(v1, "a").join(fp(v2, "b"), Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("fp_a").isNull, "insert")
              .when(col("fp_b").isNull, "delete")
              .when(col("fp_a") =!= col("fp_b"), "update")
              .otherwise("unchanged").as("change"))
        val feed = diff.filter(col("change") =!= "unchanged")
        val counts = diff.groupBy("change").agg(count(lit(1)).as("n"))
        feed.join(broadcast(counts), "change")
          .filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("change"), col("n").as("n_of_kind"))
          .orderBy("doc_id")
      },
      Some("""WITH v1 AS (SELECT doc_id, lang, source, n_chars
                          FROM documents),
              v2 AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END
                         AS lang, source, n_chars
                     FROM v1 WHERE doc_id % 13 != 0
                     UNION ALL
                     SELECT doc_id + 1000000, lang, source, n_chars
                     FROM v1 WHERE doc_id % 11 = 0),
              fa AS (SELECT doc_id,
                       md5(lang || chr(1) || source || chr(1)
                           || CAST(n_chars AS VARCHAR)) AS fp FROM v1),
              fb AS (SELECT doc_id,
                       md5(lang || chr(1) || source || chr(1)
                           || CAST(n_chars AS VARCHAR)) AS fp FROM v2),
              diff AS (SELECT coalesce(fa.doc_id, fb.doc_id) AS doc_id,
                         CASE WHEN fa.fp IS NULL THEN 'insert'
                              WHEN fb.fp IS NULL THEN 'delete'
                              WHEN fa.fp != fb.fp THEN 'update'
                              ELSE 'unchanged' END AS change
                       FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id),
              counts AS (SELECT change, count(*) AS n FROM diff GROUP BY 1)
              SELECT d.doc_id, d.change, counts.n AS n_of_kind
              FROM diff d JOIN counts USING (change)
              WHERE d.change != 'unchanged' AND d.doc_id % 5 = 0
              ORDER BY d.doc_id""")),

    // KEY-SKEW AUDIT (the partition-health report a pipeline publishes
    // before keying a 100 TB shuffle on a column): top-5 heavy hitters
    // with their row share, plus the GINI COEFFICIENT of the key
    // histogram — computed entirely in integer space: with x sorted
    // ascending, Σ rank·x over a tie-run of equal counts collapses to
    // c·(2·k·cum_before + k(k+1)) — so the only window is a cumsum over
    // the DISTINCT-COUNT histogram, never a per-key corpus rank. One
    // final division floor-form-rounds. (Products reach count·K²: move
    // the sums to DECIMAL past ~10⁹ distinct keys.)
    Q("q_pipeline_skew_audit",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val keys = Tables(s, dir, "events")
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val ch = keys.groupBy("cnt").agg(count(lit(1)).as("kn"))
        val cum = ch.withColumn("cb",
          coalesce(sum(col("kn")).over(Window.orderBy("cnt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val g = cum.agg(
            sum(col("cnt") * (col("kn") * col("cb") * 2 +
              col("kn") * (col("kn") + 1))).as("s2"),
            sum(col("kn")).as("k"),
            sum(col("cnt") * col("kn")).as("t"))
          .select(col("k").as("n_keys"), col("t").as("n_rows"),
            graft.core.Num.roundHalfUp(
              (col("s2") - (col("k") + 1) * col("t")).cast("double") /
                (col("k") * col("t")).cast("double"), 6).as("gini"))
        val top = keys
          .orderBy(col("cnt").desc, col("user_id")).limit(5)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("cnt").desc, col("user_id"))))
        top.crossJoin(broadcast(g))
          .select(col("rank"), col("user_id"), col("cnt"),
            graft.core.Num.roundHalfUp(col("cnt").cast("double") /
              col("n_rows").cast("double"), 6).as("share"),
            col("gini"), col("n_keys"))
          .orderBy("rank")
      },
      Some("""WITH keys AS (SELECT user_id, count(*) AS cnt FROM events
                            GROUP BY 1),
              ch AS (SELECT cnt, count(*) AS kn FROM keys GROUP BY 1),
              cum AS (SELECT cnt, kn, coalesce(sum(kn) OVER
                  (ORDER BY cnt ROWS BETWEEN UNBOUNDED PRECEDING AND
                   1 PRECEDING), 0) AS cb FROM ch),
              g AS (SELECT CAST(sum(kn) AS BIGINT) AS n_keys,
                      CAST(sum(cnt * kn) AS BIGINT) AS n_rows,
                      floor((sum(cnt * (kn * cb * 2 + kn * (kn + 1)))
                             - (sum(kn) + 1) * sum(cnt * kn))::DOUBLE
                            / (sum(kn) * sum(cnt * kn))::DOUBLE
                            * 1000000 + 0.5) / 1000000 AS gini
                    FROM cum),
              top AS (SELECT user_id, cnt, row_number() OVER
                  (ORDER BY cnt DESC, user_id) AS rank
                FROM keys ORDER BY cnt DESC, user_id LIMIT 5)
              SELECT t.rank, t.user_id, t.cnt,
                floor(t.cnt::DOUBLE / g.n_rows::DOUBLE * 1000000 + 0.5)
                  / 1000000 AS share,
                g.gini, g.n_keys
              FROM top t CROSS JOIN g ORDER BY t.rank""")),

    // FILTERED VECTOR SEARCH (the metadata-filter + ANN composition —
    // the hard serving problem every vector store names): top-k cosine
    // among label=3 vectors only. Served EXACT here: the label predicate
    // pushes into the scan (so the corpus read is already
    // filter-pruned), cosine runs on survivors, TakeOrderedAndProject
    // bounds the heap. The approximate tier composes the same filter
    // with the IVF probe (candidates ∩ filter before rerank — the
    // ACORN/filtered-DiskANN trade documented, not built, since recall
    // under filtering is corpus-dependent).
    Q("q_sim_filtered",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>").as("qv")).limit(1)
        emb.filter(col("label") === 3 && col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label"),
            round(graft.pipeline.Similarity.cosine(
              col("embedding").cast("array<double>"), col("qv")), 4)
              .as("cosim"))
          .orderBy(col("cosim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                         FROM embeddings),
              q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              sc AS (SELECT vec_id, label,
                       list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(qv, qv))) AS c
                     FROM e CROSS JOIN q
                     WHERE label = 3 AND vec_id <> 0)
              SELECT vec_id, label, round(c, 4) AS cosim FROM sc
              ORDER BY round(c, 4) DESC, vec_id LIMIT 10""")),

    // EMBEDDING-QUALITY METRICS (Wang & Isola 2020 — alignment &
    // uniformity, the two numbers that diagnose a contrastive embedding
    // space): alignment = mean ‖x̂−ŷ‖² over SAME-LABEL pairs (2−2·cos on
    // the normalized sphere), uniformity = ln E[e^(−2‖x̂−ŷ‖²)] over all
    // pairs. Exact forms are all-pairs, so this runs the standard
    // ESTIMATOR: a fixed deterministic sample (vec_id < 120 → 7 140
    // pairs), constant work at any corpus size — the honest bounded
    // form, the sample id range being the only knob.
    Q("q_eval_embed_quality",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 120)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val pairs = e.as("a").crossJoin(e.as("b"))
          .filter(col("a.vec_id") < col("b.vec_id"))
          .select((col("a.label") === col("b.label")).as("same"),
            (lit(2.0) - lit(2.0) * graft.pipeline.Similarity.cosine(
              col("a.v"), col("b.v"))).as("d2"))
        pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("same"), 1L).otherwise(0L)).as("n_pos_pairs"),
          round(avg(when(col("same"), col("d2"))), 4).as("alignment"),
          round(log(avg(exp(col("d2") * -2.0))), 4).as("uniformity"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                         FROM embeddings WHERE vec_id < 120),
              p AS (SELECT a.label = b.label AS same,
                      2 - 2 * (list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)))) AS d2
                    FROM e a JOIN e b ON a.vec_id < b.vec_id)
              SELECT count(*) AS n_pairs,
                CAST(sum(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_pos_pairs,
                round(avg(CASE WHEN same THEN d2 END), 4) AS alignment,
                round(ln(avg(exp(-2 * d2))), 4) AS uniformity
              FROM p"""))
  )
}
