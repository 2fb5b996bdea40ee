package graft.tools

/** ×100 scale rehearsal (test-scope dev driver): materializes a
  * 100×-sf0.1 corpus (≈ sf10 — 500k documents, 200k embeddings, 60M
  * lineitem rows) with [[ScaleCorpus]]'s disjoint-id replica model and
  * times the HEADLINE SERVING PATHS against it. The ×10 table (SCALE.md)
  * is the per-round regression harness; this run is the rehearsal that
  * separates per-row cost from anything superlinear hiding below ×10 —
  * q_pipeline_woe's global-ntile defect was invisible at the oracle SF
  * and only measurable under rehearsal, which is exactly why the list
  * here is the paths a 100 TB deployment serves hottest:
  *
  *  - q_fts_compacted     (streaming ingest → compaction → pruned BM25)
  *  - q_sim_ivfpq_refined (trained IVF-PQ, density-adaptive refine)
  *  - q_sim_knn_join      (celled k-NN join + recall twin)
  *  - q_dedup_minhash     (banded LSH near-dup, pairs linear by corpus
  *                         construction)
  *  - q_graph_pagerank    (10 power iterations over 60M edges)
  *
  * Timing policy: min-of-2 at 1× (JIT warm-up absorbed); the ×100 run is
  * timed ONCE, after its 1× twin, so codegen is warm and the measurement
  * is data-bound — a second ×100 pass would double a multi-minute run to
  * shave noise the 1×-warmed first pass doesn't carry. The printed ratio
  * is t_100x / t_1x: linear-in-rows work reads ≈ 100 × (per-row cost
  * share); candidate-bounded serving reads far below that.
  *
  *   sbt "Test/runMain graft.tools.ScaleSpot100"
  */
object ScaleSpot100 {
  def main(args: Array[String]): Unit = {
    val factor = 100
    val base = ScaleCorpus.base
    val out = s"/root/repo/target/sfscale_x$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def ensure(name: String)(build: => Unit): Unit =
      if (!new java.io.File(s"$out/$name.parquet").exists()) build
    ensure("documents")(ScaleCorpus.documents(spark, out, factor))
    ensure("embeddings")(ScaleCorpus.embeddings(spark, out, factor))
    ensure("lineitem")(ScaleCorpus.lineitem(spark, out, factor))
    ensure("events")(ScaleCorpus.events(spark, out, factor))
    ensure("nation")(ScaleCorpus.smallTables(spark, out))
    ensure("orders")(ScaleCorpus.orders(spark, out, factor))
    ensure("customer")(ScaleCorpus.customer(spark, out, factor))

    // Wave 2 (round 16) runs the paths wave 1 skipped, via
    //   SPARK_GRAFT_SCALE_ONLY="q_fts_sql_indexed,q_fts_sql_bm25,
    //     q_fts_compacted_sql,q_text_embed_train,q_text_embed_analogy,
    //     q_text_embed_neighbors,q_sim_stream_upsert,q_stream_dedup_near"
    // (embed rows in that order: train's ×100 timing carries the one-time
    // layout build; analogy/neighbors then measure serve-only).
    val names = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q_fts_compacted", "q_sim_ivfpq_refined",
        "knn_join_serve", "q_dedup_minhash", "q_graph_pagerank"))
    // The k-NN join registry row (q_sim_knn_join) exists to PROVE the
    // ≥0.9 recall contract, so it runs the brute-force exact twin — at
    // ×100 that is 4e10 pairs by construction (it filled the disk with
    // sort spill when tried). The rehearsal measures the SERVING path
    // alone — correctness is already oracle-pinned at sf0.01 — and at
    // the configuration a deployment runs: nlist grows with the corpus
    // so cells stay ~125 vectors (the SemDeDup/IVF sizing rule SCALE.md
    // documents), keeping candidate pairs linear in n instead of n²/nlist.
    import org.apache.spark.sql.functions._
    val custom: Map[String, String => org.apache.spark.sql.DataFrame] = Map(
      // The SimHash nibble-band birthday term, MEASURED without executing
      // the join (wave-3, r16 verdict item 3): candidate mass is
      // Σ_bands Σ_buckets C(n_b, 2) — a cheap keyed aggregate over the
      // band rows. 16 four-bit bands have only 16 buckets each, so a
      // corpus of n docs pays ~n²/32 coincidental collisions per band
      // regardless of content — the quadratic term that makes simhash the
      // LOW-MEMORY strategy and minhash-LSH (wide 64-bit band hashes,
      // collision-free by hash width) the 100 TB path. The number here
      // turns that docstring claim into a measurement.
      "simhash_pair_mass" -> { dir =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val sets = graft.pipeline.Dedup.shingleSets(docs)
        val hashed = sets.select(col("doc_id"),
          graft.pipeline.Dedup.simhashFromHashes(col("hs")).as("sh64"))
          .persist()
        hashed.count()
        val out = Seq(16, 8).map { bands =>
          val width = 64 / bands
          val mask = (1L << width) - 1
          val banded = hashed.select(col("doc_id"),
            posexplode(array((0 until bands).map(b =>
              shiftright(col("sh64"), b * width).bitwiseAND(lit(mask))): _*)))
            .withColumnRenamed("pos", "band").withColumnRenamed("col", "nib")
          val r = banded.groupBy("band", "nib")
            .agg(count(lit(1)).as("n"))
            .agg(sum(col("n") * (col("n") - 1) / 2).as("pair_mass"),
              sum(col("n")).as("band_rows"))
            .head()
          println(s"[x100] simhash pair mass @$dir bands=$bands " +
            s"(${width}-bit): ${r.get(0)} candidate pairs from " +
            s"${r.get(1)} band rows")
          bands -> r.get(0).toString
        }
        hashed.unpersist(); sets.unpersist()
        // return a literal so the harness's noop write doesn't recompute
        // the corpus pass
        spark.sql(out.map { case (b, m) =>
          s"SELECT $b AS bands, CAST('$m' AS DOUBLE) AS pair_mass" }
          .mkString(" UNION ALL "))
      },
      // SemDeDup at DEPLOYMENT sizing (wave-3): nlist ~ n/125 (the Abbas
      // et al. cell-size rule SCALE.md documents) — 16 at 1×, 1600 at
      // ×100. Exercises the round-17 kernel routing: the declarative
      // round-9 scores array unrolled nlist dots and could never compile
      // at 1600 (the r16 IVF lesson, on the SemDeDup path).
      "semdedup_serve" -> { dir =>
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        val nlist = math.max(16, (n / 125).toInt)
        graft.pipeline.Dedup.semDedup(emb, nlist = nlist)
      },
      // The split-vs-cap break-even, MEASURED (r16 verdict item 6): one
      // boilerplate cluster of n identical docs inside a 5k-doc organic
      // corpus; time the AQE-split all-pairs path (pays C(n,2) in
      // parallel) against the capped star path (n−1 pairs) as n grows.
      // The printed pair rate (verified pairs/s on the split path) is the
      // constant that turns minhashCandidatesAuto's pair budget into
      // seconds — the SCALE.md decision rule cites these numbers.
      "dedup_cap_breakeven" -> { dir =>
        val docs0 = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")).filter(col("doc_id") < 5000)
          .persist()
        docs0.count()
        val boiler = docs0.orderBy("doc_id").limit(1)
          .select(col("text")).head().getString(0)
        val out = Seq(400, 1600, 6400).map { n =>
          val hot = spark.range(n).select(
            (col("id") + 1000000L).as("doc_id"), lit(boiler).as("text"))
          val sets = graft.pipeline.Dedup.shingleSets(docs0.unionByName(hot))
            .persist()
          sets.count()
          def timed(f: => Long): (Double, Long) = {
            val t0 = System.nanoTime()
            val c = f
            ((System.nanoTime() - t0) / 1e9, c)
          }
          val (tS, nS) = timed(graft.pipeline.Dedup.verifyJaccard(
            graft.pipeline.Dedup.minhashCandidates(sets), sets, 0.8).count())
          val (tC, nC) = timed(graft.pipeline.Dedup.verifyJaccard(
            graft.pipeline.Dedup.minhashCandidatesCapped(sets, cap = 45),
            sets, 0.8).count())
          sets.unpersist()
          println(f"[x100] cap_breakeven n=$n split=$tS%.2f s ($nS pairs, " +
            f"${nS / tS}%.0f pairs/s) cap=$tC%.2f s ($nC pairs)")
          (n, tS, nS, tC, nC)
        }
        docs0.unpersist()
        spark.sql(out.map { case (n, ts, ns, tc, nc) =>
          s"SELECT $n AS n, CAST($ts AS DOUBLE) AS t_split, " +
            s"CAST($ns AS BIGINT) AS pairs_split, " +
            s"CAST($tc AS DOUBLE) AS t_cap, CAST($nc AS BIGINT) AS pairs_cap"
        }.mkString(" UNION ALL "))
      },
      // APSS sharing-mass attribution (wave-3): q_dedup_apss's work is
      // linear in Σ_t C(df_t, 2) (shared-feature occurrences), and the
      // replica corpus's ~60-word vocabulary manufactures 5-gram
      // collisions across replicas — r13 measured Σdf² 277k (1×) →
      // 1.48e9 (×10). This probe extends the attribution to ×100 with
      // aggregates alone (the executed join exhausted the box's disk —
      // the measured reason the timed ×100 row is replaced by this
      // attribution + the ×10 regression row, same policy as the
      // quadratic knn exact twin).
      "apss_share_mass" -> { dir =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val sh = docs.select(col("doc_id"),
            graft.fts.Analyzer.tokenize(col("text")).as("t"))
          .filter(size(col("t")) >= 5)
          .select(col("doc_id"), explode(
            graft.pipeline.Dedup.gramsOf(col("t"), 5)).as("g"))
          .select(col("doc_id"), xxhash64(col("g")).as("term"))
        val df = sh.groupBy("doc_id", "term").count()
          .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        val r = df.agg(
          sum(col("df") * (col("df") - 1) / 2).as("share_pairs"),
          sum(col("df") * col("df")).as("sum_df2"),
          count(lit(1)).as("vocab"), max(col("df")).as("max_df")).head()
        println(s"[x100] apss share mass @$dir: share_pairs=${r.get(0)} " +
          s"sum_df2=${r.get(1)} vocab=${r.get(2)} max_df=${r.get(3)}")
        spark.sql(s"SELECT CAST('${r.get(0)}' AS DOUBLE) AS share_pairs, " +
          s"CAST('${r.get(1)}' AS DOUBLE) AS sum_df2, " +
          s"CAST(${r.get(2)} AS BIGINT) AS vocab")
      },
      // Graph-ANN serving at deployment sizing (wave-3 coda): build the
      // NSW neighbor graph through the celled knnJoin (the ×100-measured
      // serve path) at nlist ~ n/125, then run the beam search over it —
      // the index-time/query-time split a deployment runs (the registry
      // row is fixture-bounded at 500 vectors by design; this measures
      // the same operators corpus-sized).
      "nsw_serve" -> { dir =>
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        val nlist = math.max(16, (n / 125).toInt)
        val clustered = emb.select(col("vec_id"),
          graft.pipeline.Similarity.clusteredVec(col("vec_id"),
            col("embedding")).as("embedding"))
        val graph = graft.pipeline.Similarity
          .knnJoin(clustered, clustered, 8, nlist = nlist, nprobe = 4)
          .select(col("q_id").as("src"), col("n_id").as("dst")).persist()
        graph.count()
        graft.pipeline.Similarity.nswSearch(clustered, graph,
          queryId = 7L, k = 10, entries = 64)
      },
      "knn_join_serve" -> { dir =>
        val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
        val nlist = math.max(16, (n / 125).toInt)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val clustered = emb.select(col("vec_id"),
          graft.pipeline.Similarity.clusteredVec(col("vec_id"),
            col("embedding")).as("embedding"))
        graft.pipeline.Similarity.knnJoin(clustered, clustered, 10,
          nlist = nlist, nprobe = 4)
      })
    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      custom.getOrElse(name, graft.SparkEntry.queries(name)(spark, _: String))
        .apply(dir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    time(base, "q_text_stats") // session warm-up
    // SPARK_GRAFT_SCALE_SERVE_TWICE=1: time the ×100 run twice and report
    // both — the first ×100 call of a build-once serving row pays its
    // one-time layout build inside the timing (per-(JVM, corpus) scratch),
    // the second is the steady-state SERVE the deployment actually repeats.
    // Ratio splits into build-inclusive and serve-only so "build linear,
    // serve flat" is measurable from one run.
    val serveTwice = sys.env.get("SPARK_GRAFT_SCALE_SERVE_TWICE").contains("1")
    val rows = names.map { n =>
      val a1 = time(base, n); val b1 = time(base, n)
      val t1 = math.min(a1, b1)
      val tN = time(out, n)
      val tServe = if (serveTwice) time(out, n) else tN
      if (serveTwice)
        println(f"[x100] $n 1x=$t1%.2f 100x(build+serve)=$tN%.2f " +
          f"100x(serve)=$tServe%.2f ratio_build=${tN / t1}%.2f " +
          f"ratio_serve=${tServe / t1}%.2f")
      else
        println(f"[x100] $n 1x=$t1%.2f 100x=$tN%.2f ratio=${tN / t1}%.2f")
      (n, t1, tN, tServe)
    }
    println(f"""{"scale_factor":$factor,"queries":{""" + rows.map {
      case (n, t1, tN, tS) =>
        f""""$n":{"t_1x":$t1%.2f,"t_${factor}x":$tN%.2f,"t_${factor}x_serve":$tS%.2f,"ratio":${tN / t1}%.2f,"ratio_serve":${tS / t1}%.2f}"""
    }.mkString(",") + "}}")
  }
}
