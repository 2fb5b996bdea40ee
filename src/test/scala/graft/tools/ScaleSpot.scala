package graft.tools

import org.apache.spark.sql.functions._

/** Scale spot-run (test-scope dev driver): materializes an N×-sf0.1 corpus
  * under target/ and times DATA-BOUND queries at 1× and N× to measure how
  * wall-time scales with corpus size. N=5 ≈ sf0.5, N=10 ≈ sf1.
  *
  * Growth model: replicas with DISJOINT id ranges (the natural "more
  * documents" growth, not wider rows). Replica k's document TEXT is
  * token-shuffled by a per-replica hash order — the token multiset (tf,
  * df, doc length, BM25 statistics) is preserved, but the shingle
  * sequences differ, so replicas do NOT near-duplicate each other: true
  * near-dup pairs grow LINEARLY with the corpus (each replica carries the
  * original's internal duplicate structure), which is the honest
  * more-data regime for the pair-based LSH shapes (a verbatim-replica
  * corpus would grow pairs k² and measure the data, not the engine —
  * the round-9 exclusion this lifts).
  *
  *   sbt "Test/runMain graft.tools.ScaleSpot 5"
  *   sbt "Test/runMain graft.tools.ScaleSpot 10"
  */
object ScaleSpot {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 4
    val base = "/root/testdata/sf0.1"
    val out = s"/root/repo/target/sfscale_x$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- materialize the scaled corpus (replicas, disjoint id ranges;
    //      growth model documented on ScaleCorpus; skip tables a prior
    //      run of either spot tool already wrote) ----
    def ensure(name: String)(build: => Unit): Unit =
      if (!new java.io.File(s"$out/$name.parquet").exists()) build
    ensure("documents")(ScaleCorpus.documents(spark, out, factor))
    ensure("embeddings")(ScaleCorpus.embeddings(spark, out, factor))
    ensure("lineitem")(ScaleCorpus.lineitem(spark, out, factor))
    ensure("events")(ScaleCorpus.events(spark, out, factor))
    // small tables some query setups read incidentally (the "part"
    // ensure covers corpora materialized before part joined the set)
    ensure("nation")(ScaleCorpus.smallTables(spark, out))
    ensure("part")(ScaleCorpus.smallTables(spark, out))
    ensure("orders")(ScaleCorpus.orders(spark, out, factor))
    ensure("customer")(ScaleCorpus.customer(spark, out, factor))

    val names = Seq("q_text_dsir", "q_fts_sql_bm25", "q_fts_query_ranked",
      "q_sim_sql", "q_sim_ivfpq", "q_sim_knn_exact", "q_dedup_exact",
      "q_dedup_minhash", "q_graph_pagerank", "q_text_stats",
      // round-11 additions: the token-position self-join (substr dedup),
      // the shuffle-free chunker + chunk-corpus BM25, histogram BPE
      "q_dedup_substr", "q_pipeline_chunk", "q_pipeline_chunk_bm25",
      "q_text_bpe", "q_fts_highlight",
      // round-12 additions: cluster-blocked semantic dedup, the Gopher/C4
      // narrow curation projections, waterfilled budgets + mix, min-match
      "q_dedup_semantic", "q_text_gopher", "q_pipeline_c4",
      "q_pipeline_mix_capped", "q_fts_sql_min",
      // round-13 additions: porter analyzer build+search, per-field dismax
      // scoring, MMR shortlist+greedy, KMV sketches, z-order write+read
      "q_fts_analyzer_porter", "q_fts_dismax", "q_sim_mmr",
      "q_stats_kmv", "q_layout_zorder",
      // round-13 second wave: trigram index build+substring serve,
      // soundex dictionary expansion, autocomplete window, LPA rounds
      "q_fts_trigram", "q_fts_phonetic", "q_fts_autocomplete",
      "q_graph_lpa",
      // round-13 third wave: LM scorers (pruned postings + broadcast
      // collection stats), collapse (WindowGroupLimit), chunk block join,
      // MaxScore pruning, two-hop link prediction, k-core peeling,
      // KN bigram perplexity (broadcast count tables)
      "q_fts_lm_dirichlet", "q_fts_lm_jm", "q_fts_collapse",
      "q_fts_block_join", "q_fts_wand", "q_graph_linkpred",
      "q_graph_kcore", "q_text_kn",
      // round-13 closing wave: persisted block-max serving (write-heavy
      // lifecycle), CCNet tertile buckets (perplexity + 2 tiny aggs),
      // exact 13-gram decontamination (broadcast gram semi-join)
      "q_fts_wand_persisted", "q_pipeline_ccnet", "q_dedup_decontam_ngram",
      "q_fts_percolate", "q_sim_nsw", "q_sim_matryoshka",
      "q_temporal_gapfill",
      // round-14 wave: significant terms (fg semi-join + vocab agg), RM3
      // (two-stage retrieval), keyset page 2, span queries (positional
      // postings lambdas), index-sorted early termination (banded write +
      // pruned band reads), Bloom decontamination (positions semi-join),
      // stratified/shuffle/length-bucket/pref-pairs sampling windows, SFT
      // conversation ops (events-bound), CMS build+estimate, cohorts
      "q_fts_significant", "q_fts_rm3", "q_fts_search_after",
      "q_fts_span_first", "q_fts_span_not", "q_fts_static_sorted",
      "q_dedup_decontam_bloom", "q_pipeline_stratified",
      "q_pipeline_shuffle", "q_pipeline_length_bucket",
      "q_pipeline_pref_pairs", "q_sft_render", "q_sft_validate",
      "q_sft_turn_dedup", "q_sft_truncate", "q_stats_cms",
      "q_temporal_cohort",
      // round-14 second wave: APSS prefix-filtered cosine pairs — the
      // pair-based shape, linear in SHARING pairs (Σ df²); NB the ×10
      // corpus's hash-ordered replica text concentrates tokens into runs,
      // inflating hot 5-gram df (Σdf² measured 277k → 1.48e9 at ×10, a
      // corpus artifact — the minhash notes record the same stress), so
      // the measured ratio reflects the data's pair growth, not engine
      // superlinearity,
      // A-ES weighted draw (one projection + heap), streamed CMS
      // lifecycle, unigram-LM EM training (histogram-bounded driver
      // loop), linear interpolation (keyed grid windows)
      "q_dedup_apss", "q_pipeline_weighted_sample", "q_stream_cms",
      "q_text_unigram", "q_temporal_interpolate",
      // round-14 closing: rescore window (O(window) stage-2), datacard,
      // bigram-LM phrase suggester (count tables + bounded candidates),
      // SFT loss-mask accounting (one conversation-keyed agg)
      "q_fts_rescore", "q_pipeline_datacard", "q_fts_suggest_phrase",
      "q_sft_loss_mask",
      // SCD2: two dimension loads (current-slice + batch joins)
      "q_scd2", "q_text_zipf", "q_fts_composite_agg", "q_stream_scd2",
      "q_text_collocations", "q_pipeline_split_leakage",
      "q_pipeline_curriculum", "q_stream_weighted_sample", "q_fts_range_facets",
      // round-15 wave: clipped-n-gram eval metrics (BLEU/ROUGE/chrF share
      // one explode+join kernel), dictionary-blocked Jaro-Winkler ER,
      // basket-bounded association rules, rolling z-score + Markov
      // transitions (events), HITS power iteration, decay re-ranking +
      // per-term explain (candidate-bounded), binary-quantization ANN
      // (posexplode pack + Hamming shortlist), box-pruned geo search,
      // WoE/IV + Spearman + deletion audits, streamed batch-rate monitor
      "q_eval_bleu", "q_eval_rouge", "q_eval_chrf", "q_er_jw",
      "q_mine_rules", "q_temporal_anomaly", "q_temporal_markov",
      "q_graph_hits", "q_fts_decay", "q_fts_explain", "q_sim_bq",
      "q_geo_radius", "q_geo_knn", "q_pipeline_woe", "q_pipeline_forget",
      "q_eval_spearman", "q_pipeline_ldiv", "q_stream_anomaly",
      "q_temporal_ewma", "q_text_wordpiece", "q_pipeline_dq",
      "q_pipeline_diff", "q_eval_auc", "q_temporal_percentiles",
      "q_pipeline_skew_audit", "q_temporal_wow", "q_eval_embed_quality",
      "q_temporal_cep", "q_stream_percentiles", "q_stream_cep",
      "q_sim_filtered", "q_fts_geo", "q_eval_langid",
      // round-15 wave: bucketed-edge-layout graph iteration (one-time
      // layout write, exchange-free per-iteration edge joins), PPMI
      // embedding training (vocabulary-bounded state), skewed-term BM25
      // serving through AQE skew-split, watermark late-data eviction
      "q_graph_pagerank_bucketed", "q_graph_hits_bucketed",
      "q_text_embed_train", "q_text_embed_neighbors", "q_text_embed_analogy",
      "q_fts_skew_serving", "q_stream_watermark_late",
      // round-16 wave: hot-band LSH skew split + the capped (star-pair)
      // alternative, streaming co-occurrence deltas folded at serve
      "q_dedup_skew", "q_dedup_skew_capped", "q_text_embed_incremental")
    // SPARK_GRAFT_SCALE_ONLY=a,b,c re-measures a subset against the
    // already-materialized corpus (iterating on one operator's plan)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    // warm the JIT/session once on the small side
    time(base, "q_text_stats")
    // min-of-2, ALTERNATING: the first execution of a query pays its
    // codegen/JIT/index-build warmup, so a single 1×-then-N× pass
    // understates the ratio (the N× run rides the 1× run's warm code).
    val rows = names.filter(n => only.forall(_(n))).map { n =>
      val a1 = time(base, n); val aN = time(out, n)
      val b1 = time(base, n); val bN = time(out, n)
      val t1 = math.min(a1, b1); val tN = math.min(aN, bN)
      (n, t1, tN, tN / t1)
    }
    println(f"""{"scale_factor":$factor,"queries":{""" + rows.map {
      case (n, t1, tN, r) =>
        f""""$n":{"t_1x":$t1%.2f,"t_${factor}x":$tN%.2f,"ratio":$r%.2f}"""
    }.mkString(",") + "}}")
  }
}
