package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("cosine of a zero vector is NULL (no direction), not an ANSI crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (0L, Array(0.0f, 0.0f)),          // zero vector: undefined direction
      (1L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "v")
    val out = rows.crossJoin(rows.select(col("v").as("u")))
      .select(Similarity.cosine(
        col("v").cast("array<double>"), col("u").cast("array<double>")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // pairs involving the zero vector are NULL; the (1,1) pair is 1.0
    assert(out.count(_.isEmpty) == 3, out.toSeq.toString)
    assert(out.flatten.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  private lazy val emb = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical → cos 1
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal → cos 0
      (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite → cos -1
      (4L, Array(1.0f, 1.0f, 0.0f))    // 45° → cos ≈ 0.7071
    ).toDF("vec_id", "embedding")
  }

  test("matryoshkaTopK ranks in truncated space and audits against full-dim") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // query
      (1L, Array(1.0f, 0.0f, 100.0f, 0.0f)), // trunc-perfect, full-poor
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // perfect in both spaces
      (3L, Array(0.8f, 0.0f, 0.6f, 0.0f))    // full 0.8, trunc 1.0 but id-tied out
    ).toDF("vec_id", "embedding")
    val r = Similarity.matryoshkaTopK(emb, queryId = 0L, k = 2, dims = 2)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getBoolean(2))).toList
    // truncated space: ids 1,2,3 all cosine 1.0 → id tiebreak keeps 1,2;
    // full-dim top-2 is {2 (1.0), 3 (0.8)} → vec 1 flagged as a trunc-only hit
    assert(r == List((1L, 1.0, false), (2L, 1.0, true)), r.toString)
    intercept[IllegalArgumentException](
      Similarity.matryoshkaTopK(emb, 0L, k = 2, dims = 0))
  }

  test("nswTopK: beam search over a connected graph recovers exact top-k") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one cloud, degree 8 of 11 → near-complete graph, so a wide beam
    // reaches everything within 3 hops and must equal brute force
    val emb = (0L to 11L).map(i =>
      (i, Array(1.0f, i / 12.0f, (i % 3) / 3.0f, (i % 5) / 5.0f)))
      .toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val nsw = rows(Similarity.nswTopK(emb, queryId = 7L, k = 5,
      degree = 8, beam = 12, hops = 3, nlist = 2))
    val exact = rows(Similarity.bruteForceTopK(emb, queryId = 7L, k = 5))
    assert(nsw == exact, s"nsw $nsw vs exact $exact")
    // result is bounded by k and never returns the query itself
    assert(nsw.length == 5 && !nsw.exists(_._1 == 7L))
    intercept[IllegalArgumentException](
      Similarity.nswTopK(emb, 7L, k = 5, beam = 3))
    intercept[IllegalArgumentException](
      Similarity.nswTopK(emb, 7L, k = 0))
  }

  test("nswTopK: multi-entry seeding crosses graph islands a single entry can't") {
    import spark.implicits._
    // two orthogonal clusters: the k-NN graph grows no cross-cluster
    // edges, so search seeded only at id 0 (island A) never reaches the
    // query's island B — the measured 0.06-recall failure mode the
    // multi-entry seed exists for
    val islands = ((0L to 4L).map(i => (i, Array(1.0f, i * 0.01f, 0f, 0f))) ++
      (10L to 14L).map(i => (i, Array(0f, 0f, 1.0f, (i - 10) * 0.01f))))
      .toDF("vec_id", "embedding")
    def ids(entries: Int) = Similarity.nswTopK(islands, queryId = 12L, k = 3,
      degree = 4, beam = 8, hops = 3, nlist = 2, entries = entries)
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.bruteForceTopK(islands, 12L, 3)
      .collect().map(_.getLong(0)).toSet
    assert(ids(1).intersect(exact).isEmpty, "single entry must stay on island A")
    assert(ids(6) == exact, s"${ids(6)} vs $exact")
  }

  test("cosine column computes expected values") {
    val r = Similarity.bruteForceTopK(emb, 0L, 4)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r(1L) == 1.0)
    assert(r(2L) == 0.0)
    assert(r(3L) == -1.0)
    assert(math.abs(r(4L) - 0.7071) < 1e-9)
  }

  test("top-k order is score desc then id") {
    val ids = Similarity.bruteForceTopK(emb, 0L, 4).collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 4L, 2L, 3L))
  }

  test("sliceVectors splits into m contiguous double sub-vectors") {
    import spark.implicits._
    val one = Seq((7L, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding")
    val toks = Similarity.sliceVectors(one, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(_._2)
    assert(toks.toSeq == Seq((7L, 0, Seq(1.0, 2.0)), (7L, 1, Seq(3.0, 4.0))))
  }

  test("maxSim: per-query-token maxima sum, hand-computed") {
    import spark.implicits._
    // 4-d vectors sliced 2-way: doc tokens are the 2-d halves
    val docs = Seq(
      // doc 1: halves (1,0) and (0,1) — both query halves match exactly → 2
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      // doc 2: halves (0,1) and (1,0) — SWAPPED: MaxSim is order-free → 2
      (2L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      // doc 3: halves (1,0) twice — q-half 1 matches 1.0, q-half 2 gets
      // its best of cos((0,1),(1,0)) = 0 → 1
      (3L, Array(1.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val qToks = Similarity.sliceVectors(q, 2).select(col("pos"), col("vec"))
    val r = Similarity.maxSimTopK(Similarity.sliceVectors(docs, 2), qToks, 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r == Map(1L -> 2.0, 2L -> 2.0, 3L -> 1.0))
  }

  test("maxSimRerank with full-width candidates equals full MaxSim") {
    val sf = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = Similarity.maxSimTopK(
      Similarity.sliceVectors(sf.filter(col("vec_id") =!= 0), 4),
      Similarity.sliceVectors(sf.filter(col("vec_id") === 0).limit(1), 4)
        .select(col("pos"), col("vec")),
      10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rerankAll = Similarity.maxSimRerank(sf, 0L, 10,
        nCandidates = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rerankAll == full)
    // bounded candidates on the CLUSTERED fixture: pooled cosine is a
    // faithful first stage when the corpus has structure (cluster members
    // are close in full space, hence in every slice), so the pruned
    // rerank recovers most of the unpruned MaxSim top-10. On pure-noise
    // vectors it wouldn't — pooled recall is a property of the corpus,
    // not of the machinery (same contract shape as the ANN/IVF specs).
    val clustered = sf.select(col("vec_id"),
      Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
    val fullC = Similarity.maxSimTopK(
      Similarity.sliceVectors(clustered.filter(col("vec_id") =!= 0), 4),
      Similarity.sliceVectors(clustered.filter(col("vec_id") === 0).limit(1), 4)
        .select(col("pos"), col("vec")),
      10).collect().map(_.getLong(0)).toSet
    val pruned = Similarity.maxSimRerank(clustered, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    assert(pruned.size == 10)
    assert((pruned intersect fullC).size >= 7,
      s"clustered pooled-candidate rerank recovered only ${(pruned intersect fullC).size}/10")
  }

  test("identical vectors always share an LSH bucket") {
    val b = emb.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("bucket", Similarity.lshBucket(col("v"), 8))
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L))
  }

  test("ann recall@10 >= 0.8 on the clustered fixture at 0.4% probe fraction") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    val exact = Similarity.bruteForceTopK(clustered, 0L, 10).collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(clustered, 0L, 10).collect().map(_.getLong(0)).toSet
    clustered.unpersist()
    assert((exact & ann).size >= 8, s"recall too low: ${(exact & ann).size}/10")
  }

  test("annTopK with an unknown query id returns empty, same as brute force") {
    val embFixture = spark.read.parquet(sf("embeddings"))
    assert(Similarity.annTopK(embFixture, 999999L, 10).collect().isEmpty)
    assert(Similarity.bruteForceTopK(embFixture, 999999L, 10).collect().isEmpty)
  }

  test("ivf recall@10 >= 0.8 on the clustered fixture at 4/16 probe cells") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    val exact = Similarity.bruteForceTopK(clustered, 0L, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(clustered, 0L, 10).collect().map(_.getLong(0)).toSet
    clustered.unpersist()
    assert((exact & ivf).size >= 8, s"recall too low: ${(exact & ivf).size}/10")
  }

  test("ivfPqTopKRefined: corpus-wide shortlist reduces to exact brute force") {
    // with refine >= |corpus| and all cells probed, the shortlist IS the
    // corpus, so the exact re-rank must equal bruteForceTopK row-for-row
    // (same rounding, same tie rule) — the degenerate contract that pins
    // the refine stage's ranking convention
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    try {
      val layout = graft.core.Scratch.dir("simspec_refined")
      Similarity.writeCelledPq(clustered, layout)
      val n = clustered.count().toInt
      val refined = Similarity.ivfPqTopKRefined(clustered, layout, 0L, 10,
        nprobe = 16, refine = n).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val exact = Similarity.bruteForceTopK(clustered, 0L, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(refined.toSeq == exact.toSeq)
    } finally clustered.unpersist()
  }

  test("adaptive refine: shortlist tracks probed-cell population, default serve clears recall") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    try {
      val layout = graft.core.Scratch.dir("simspec_adaptive")
      Similarity.writeCelledPq(clustered, layout)
      // probing ALL cells → candidates = whole corpus → the adaptive
      // shortlist must be ⌈n/2⌉ (the density term dominates the floor)
      val n = clustered.count()
      val all = Similarity.adaptiveRefine(clustered, layout, 0L, 10, 16,
        "vec_id", "embedding")
      assert(all == math.max(100L, (n + 1) / 2),
        s"adaptive refine $all for all-cell probe of $n vectors")
      // narrow probe on the sf fixture: small cells → floor wins
      val narrow = Similarity.adaptiveRefine(clustered, layout, 0L, 10, 1,
        "vec_id", "embedding")
      assert(narrow >= 100, s"floor not honored: $narrow")
      // ALL-DEFAULT serving (refine = 0 → adaptive) clears the contract
      val exact = Similarity.bruteForceTopK(clustered, 0L, 10)
        .collect().map(_.getLong(0)).toSet
      val got = Similarity.ivfPqTopKRefined(clustered, layout, 0L, 10)
        .collect().map(_.getLong(0)).toSet
      assert((exact & got).size >= 8, s"recall too low: ${(exact & got).size}/10")
      // pre-histogram layouts still serve (partition-pruned count fallback)
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
      }
      rmrf(new java.io.File(layout, "_cellhist"))
      val fallback = Similarity.adaptiveRefine(clustered, layout, 0L, 10, 16,
        "vec_id", "embedding")
      assert(fallback == all, s"fallback count $fallback != histogram $all")
    } finally clustered.unpersist()
  }

  test("residual IVF-PQ: serve detects the layout, ADC >= raw-ADC recall") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    try {
      val exact = Similarity.bruteForceTopK(clustered, 0L, 10)
        .collect().map(_.getLong(0)).toSet
      def recallOf(residual: Boolean): Int = {
        val layout = graft.core.Scratch.dir(s"simspec_res_$residual")
        Similarity.writeCelledPq(clustered, layout, residual = residual)
        val got = Similarity.ivfPqTopK(clustered, layout, 0L, 10, nprobe = 16)
          .collect().map(_.getLong(0)).toSet
        (exact & got).size
      }
      val raw = recallOf(residual = false)
      val res = recallOf(residual = true)
      // residual codes spend the codebook on within-cluster offsets — the
      // part that ranks candidates — so they can only help on this fixture
      assert(res >= raw, s"residual ADC recall $res < raw $raw")
      // and the refine stage over a residual layout still reduces to exact
      val n = clustered.count().toInt
      val layout = graft.core.Scratch.dir("simspec_res_true")
      val refined = Similarity.ivfPqTopKRefined(clustered, layout, 0L, 10,
        nprobe = 16, refine = n).collect().map(_.getLong(0)).toSeq
      val exactRows = Similarity.bruteForceTopK(clustered, 0L, 10)
        .collect().map(_.getLong(0)).toSeq
      assert(refined == exactRows)
    } finally clustered.unpersist()
  }

  test("k-means-trained IVF centroids beat (or saturate) the untrained seeds") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    try {
      val exact = Similarity.bruteForceTopK(clustered, 0L, 10)
        .collect().map(_.getLong(0)).toSet
      def recall(iters: Int): Int =
        (exact & Similarity.ivfTopK(clustered, 0L, 10, trainIters = iters)
          .collect().map(_.getLong(0)).toSet).size
      val untrained = recall(0)
      val trained = recall(Similarity.DefaultTrainIters)
      // the centroid-quality contract: training strictly improves recall,
      // or recall is already at/above 0.9 where seeds can't be beaten
      assert(trained > untrained || trained >= 9,
        s"trained recall@10 $trained must beat untrained $untrained or be >= 9")
      assert(trained >= 8, s"trained recall must hold the 0.8 floor: $trained")
    } finally clustered.unpersist()
  }

  test("persisted IVF probe partition-prunes to the probe cells") {
    val emb = spark.read.parquet(sf("embeddings"))
    // serve-only contract: the layout (and its quantizer) must exist first
    val missing = intercept[IllegalArgumentException] {
      Similarity.ivfTopKPersisted(emb,
        ttmp("ivf_spec_missing"), 0L, 5)
    }
    assert(missing.getMessage.contains("writeCelled"))
    Similarity.writeCelled(emb, ttmp("ivf_spec_cells"))
    val df = Similarity.ivfTopKPersisted(emb,
      ttmp("ivf_spec_cells"), 0L, 5)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe must be a partition filter:\n${plan.take(1500)}")
    val rows = df.collect()
    assert(rows.length <= 5 && rows.forall(_.getLong(0) != 0L))
  }

  test("ivfTopK returns at most k rows and empty for an unknown id") {
    val embFixture = spark.read.parquet(sf("embeddings"))
    assert(Similarity.ivfTopK(embFixture, 999999L, 10).collect().isEmpty)
    val rows = Similarity.ivfTopK(embFixture, 0L, 5).collect()
    assert(rows.length <= 5 && rows.forall(_.getLong(0) != 0L))
  }

  test("knnJoin with nprobe = nlist equals per-query brute force exactly") {
    val embFixture = spark.read.parquet(sf("embeddings"))
    val knn = Similarity.knnJoin(embFixture.filter(col("vec_id") < 8),
        embFixture, 4, nlist = 16, nprobe = 16, trainIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = (0L until 8L).flatMap { q =>
      Similarity.bruteForceTopK(embFixture, q, 4).collect()
        .map(r => (q, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(knn == brute)
  }

  test("knnJoin pruned: equi-join plan, WindowGroupLimit, avg recall >= 0.9") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
      .persist()
    clustered.count()
    try {
      val knnDf = Similarity.knnJoin(clustered, clustered, 10)
      val plan = knnDf.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // candidates meet in an equi-join on the cell id — never a cross
      // product — and the rank filter is bounded map-side
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), s"cross product:\n${plan.take(1500)}")
      assert(plan.contains("WindowGroupLimit"),
        s"per-query top-k must bound map-side:\n${plan.take(1500)}")
      val knn = knnDf.select("q_id", "n_id")
      val exact = Similarity.knnJoin(clustered, clustered, 10,
        nlist = 16, nprobe = 16, trainIters = 0).select("q_id", "n_id")
      val nq = clustered.count()
      val matched = exact.join(knn, Seq("q_id", "n_id")).count()
      assert(matched >= 9L * nq, s"avg recall ${matched.toDouble / (10 * nq)}")
    } finally clustered.unpersist()
  }

  test("mmrRerank diversifies: a near-dup of a picked result drops down") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)),        // the query
      (1L, Array(0.99f, 0.14f, 0f, 0f)),    // most relevant
      (2L, Array(0.98f, 0.17f, 0f, 0f)),    // near-dup of 1 (sim ~0.999)
      (3L, Array(0.7f, 0f, 0.71f, 0f)),     // relevant but novel direction
      (4L, Array(0f, 0f, 0f, 1.0f))         // irrelevant
    ).toDF("vec_id", "embedding")
    // λ=1: plain relevance order — the near-dup sits at rank 2
    val plain = Similarity.mmrRerank(emb, 0L, k = 3, lambda = 1.0,
      shortlist = 10).collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L, 3L), plain.toString)
    // λ=0.5: after picking 1, candidate 2's ~0.999 similarity to it makes
    // its objective NEGATIVE — rank 2 goes to the novel direction 3, and
    // even the orthogonal irrelevant vector 4 (objective 0) outranks the
    // near-dup at rank 3. The diversity term is doing exactly its job.
    val diverse = Similarity.mmrRerank(emb, 0L, k = 3, lambda = 0.5,
      shortlist = 10).collect().map(_.getLong(1)).toSeq
    assert(diverse == Seq(1L, 3L, 4L), diverse.toString)
    // ranks are 1..k and the objective column is monotone non-increasing
    // only within ties of the same selected set — just check shape here
    val rows = Similarity.mmrRerank(emb, 0L, k = 3, lambda = 0.5,
      shortlist = 10).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // contract guards
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(emb, 0L, k = 0, lambda = 0.5))
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(emb, 0L, k = 3, lambda = 1.5))
  }

  test("clustered fixture separates clusters (sanity for the ann contract)") {
    val clustered = spark.read.parquet(sf("embeddings"))
      .select(col("vec_id"),
        Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))
    // exact top-10 of vec 0 should be dominated by cluster 0 (id % 24 == 0)
    val top = Similarity.bruteForceTopK(clustered, 0L, 10).collect().map(_.getLong(0))
    assert(top.count(_ % 24 == 0) >= 8, s"clusters not separated: ${top.mkString(",")}")
  }
}
