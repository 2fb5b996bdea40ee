package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.fts.Analyzer

/** Deduplication operators for large-scale document corpora.
  *
  * Three candidate-generation strategies — MinHash+LSH banding, SimHash
  * chunk banding, and shared-shingle blocking — all followed by the same
  * exact shingle-Jaccard verification, so precision is 1.0 by construction
  * and the approximate stage only affects recall (tuned to ~1.0 at the 0.8
  * threshold; see band math below).
  *
  * Scale posture: nothing ever compares all pairs. Candidates come from a
  * shuffle on a band/bucket key (pairs meet only inside their bucket), the
  * reference's hash-shuffle pattern over Murmur3-style hashing (reference
  * misc.scala:443 — our xxhash64 analogue, hashes computed inside codegen).
  *
  * The shingle/signature kernels are called as `graft_*` SQL functions, so
  * the input must come from a session with `graft.ext.GraftExtensions`
  * (every [[graft.core.GraftSession.builder]] session has it).
  */
object Dedup {

  /** Contaminated-id result sets up to this size come back as a broadcast
    * local relation (~8 MB of longs at the cap — well inside driver and
    * broadcast budgets); larger sets stay distributed. */
  private val MaxLocalContaminatedIds = 1L << 20

  /** Exact-dup corpus summary: one row — total docs, distinct texts, dups. */
  def exactStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.agg(
      count(lit(1)).as("total"),
      countDistinct(col(textCol)).as("distinct_texts"),
      (count(lit(1)) - countDistinct(col(textCol))).as("dup_docs"))

  /** Exact-duplicate groups keyed by content hash (hash-groupBy dedup):
    * (representative id, member count) for groups with >1 member. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("rep_id", "n")

  /** doc_id + distinct n-token shingle HASH set (`hs`), computed by the
    * native one-pass kernel (graft.ext.TextKernels: tokenize → shingle →
    * hash in one compiled call per row — the interpreted higher-order
    * composition of the same semantics is 10⁴ lambda evals per doc). All
    * downstream similarity (signatures, Jaccard) operates on the hashes;
    * 64-bit collisions are ~1e-9 territory.
    *
    * Persisted AND eagerly materialized: the frame feeds candidate
    * generation and exact verification in the same job — a lazy cache
    * would let every scan race to recompute it (at warehouse scale this
    * step is "write the signature table"). */
  def shingleSets(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val sets = docs
      // spread the CPU-heavy kernel across the cluster — the input is often
      // a few large parquet files whose row groups don't split to full
      // parallelism. Explicit partition count: these rows are CPU-bound,
      // not byte-bound, and AQE would coalesce a keyless repartition of a
      // small-byte shuffle back to one partition.
      .repartition(docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(idCol))
      .select(col(idCol).as("doc_id"),
        call_function("graft_shingle_hashes", col(textCol)).as("hs"))
      .filter(size(col("hs")) > 0)
      .persist()
    sets.count()
    sets
  }

  /** MinHash signature from per-shingle hashes: component i = min over
    * shingle hashes of mix(h ^ seed_i) — seeded re-hashing instead of
    * affine (a*h+b mod p) permutations: same guarantees, no multiplication
    * that could overflow under ANSI mode. Native kernel (one call per row). */
  def minhashSignature(shingleHashes: Column, numHashes: Int = 64): Column =
    call_function("graft_minhash", shingleHashes)

  /** LSH band keys per doc: signature split into `bands` bands of
    * numHashes/bands rows, one (band, band-hash) row per band — the
    * meeting keys for both the batch self-join ([[minhashCandidates]]) and
    * the streaming store join ([[graft.streaming.StreamDedup]]). Each row
    * also carries the doc's shingle-set SIZE `n` (free — projected before
    * the explode, no join), so candidate joins can apply the exact
    * size-ratio prefilter while generating pairs, BEFORE any pair row is
    * shuffled into the distinct. */
  def bandKeys(sets: DataFrame, numHashes: Int = 64,
               bands: Int = 16): DataFrame = {
    val r = numHashes / bands
    sets.withColumn("sig", minhashSignature(col("hs"), numHashes))
      .select(col("doc_id"), size(col("hs")).as("n"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * r + 1, r))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  /** LSH candidate pairs: docs agreeing on any band's hash meet in that
    * band's shuffle bucket. With 64 hashes, 16 bands × 4 rows:
    * P(miss | J=0.9) = (1 − 0.9⁴)¹⁶ ≈ 1e-8. */
  def minhashCandidates(sets: DataFrame, numHashes: Int = 64,
                        bands: Int = 16, sizeRatio: Double = 0.0): DataFrame = {
    val banded = bandKeys(sets, numHashes, bands).persist()
    banded.count() // materialize before the self-join scans it twice
    minhashCandidatesFromBands(banded, sizeRatio)
  }

  /** The banded self-join over an ALREADY-materialized band-key frame — a
    * caller that holds the band rows (the streaming dedup keeps them for
    * its store append) must not re-pay the minhash kernel.
    *
    * `sizeRatio > 0` applies the EXACT size-ratio prune (J ≥ t needs
    * min(|A|,|B|)/max ≥ t) inside the join condition, so a hot (band, bh)
    * bucket's collision pairs die while being GENERATED — before the
    * pair-distinct shuffle ever sees them. This changes only the
    * CANDIDATE set, never the verified pair set: every pruned pair would
    * have failed [[verifyJaccard]]'s threshold anyway. Measured on the
    * ×10 streaming corpus (hash-ordered replica text makes same-replica
    * docs artificially shingle-correlated — a worst-case hot-bucket
    * stress): 4.86M collision candidates at ratio 0 vs the pruned set at
    * 0.8, the difference being the distinct's entire shuffle. */
  def minhashCandidatesFromBands(banded: DataFrame,
                                 sizeRatio: Double = 0.0): DataFrame = {
    val base = col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
      col("a.doc_id") < col("b.doc_id")
    val cond =
      if (sizeRatio <= 0.0) base
      else base &&
        col("a.n") >= lit(sizeRatio) * col("b.n") &&
        col("b.n") >= lit(sizeRatio) * col("a.n")
    banded.as("a").join(banded.as("b"), cond)
      .select(col("a.doc_id").as("aid"), col("b.doc_id").as("bid"))
      .distinct()
  }

  /** LSH candidates with PER-BUCKET PAIR-MASS CAPPING — the linear-mass
    * alternative to skew-splitting the banded self-join (its q_dedup_skew
    * complement): a bucket with n ≤ cap members emits all C(n,2) pairs as
    * usual; a hotter bucket emits only the n−1 STAR pairs against its
    * lowest doc_id. For connected-component dedup policy this preserves
    * the hot cluster's single component whenever the bucket is a genuine
    * near-dup cluster (every member verifies against the anchor — exact
    * for the boilerplate/identical-text clusters that create hot buckets
    * in practice), while the pair mass drops from C(n,2) to n−1. The hot
    * key never reaches the candidate self-join at all: bucket stats are
    * a map-side-combined aggregate (the skewed key collapses to one row
    * per mapper), and the bn ≤ cap filter removes the hot bucket BEFORE
    * the join — capping de-tiers the keyspace instead of splitting it. */
  def minhashCandidatesCapped(sets: DataFrame, cap: Int = 32,
                              numHashes: Int = 64,
                              bands: Int = 16): DataFrame = {
    require(cap >= 2, "cap below 2 would star every bucket")
    // Band keys SPILL to a per-call scratch parquet instead of .persist():
    // the frame feeds the stats aggregate and both sides of the self-join,
    // but the returned plan is lazy and a persist here has no unpersist
    // hook — long-lived callers (streaming contexts) would leak a cached
    // frame per call for the JVM lifetime (r16 advisory). The parquet
    // roundtrip costs one write + re-reads, is disposable with target/,
    // and reads back as scan → exchange → sort — the only child shape
    // AQE's OptimizeSkewedJoin can split if a caller routes residual
    // moderate skew through it.
    val spark = sets.sparkSession
    val spill = graft.core.Scratch.freshDir("dedup_cap_bands")
    bandKeys(sets, numHashes, bands).write.mode("overwrite").parquet(spill)
    val banded = spark.read.parquet(spill)
    val stats = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("anchor"))
    // Observability (r16 advisory): star pairs are exact under
    // connected-component policy only when the hot bucket is a genuine
    // near-dup cluster (every member verifies against the anchor); a
    // bucket hot by band-hash coincidence silently loses its non-anchor
    // pairs at verification. Surface the starred keyspace so recall loss
    // is attributable: downstream, the anchor-verify failure rate over
    // these buckets is the recall-loss signal (route such corpora through
    // minhashCandidates + AQE splitting instead).
    val hot = stats.filter(col("bn") > cap)
      .agg(count(lit(1)).as("hot"), coalesce(max(col("bn")), lit(0L)).as("mx"))
      .head()
    if (hot.getLong(0) > 0)
      System.err.println(s"[dedup] starring ${hot.getLong(0)} hot bucket(s) " +
        s"(max members ${hot.get(1)}, cap $cap): pair mass drops C(n,2) -> " +
        "n-1; exact iff each hot bucket anchor-verifies as one near-dup " +
        "cluster — run Dedup.starAudit for per-bucket verify fractions")
    val tagged = banded.join(stats, Seq("band", "bh"))
    val small = tagged.filter(col("bn") <= cap)
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("aid"), col("b.doc_id").as("bid"))
    val star = tagged
      .filter(col("bn") > cap && col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("aid"), col("doc_id").as("bid"))
    allPairs.union(star).distinct()
  }

  /** Hot-band policy chooser — encodes the split-vs-cap trade so a caller
    * doesn't rediscover it per corpus (r16 verdict item 6). The two
    * mechanisms for a bucket of n members:
    *
    *  - SPLIT ([[minhashCandidates]] + AQE OptimizeSkewedJoin): keeps all
    *    C(n,2) candidate pairs but spreads them across tasks. Exact
    *    candidate semantics for buckets that are NOT one near-dup cluster;
    *    the pair MASS is still paid — splitting changes placement, not
    *    work.
    *  - CAP ([[minhashCandidatesCapped]]): emits n−1 star pairs. Removes
    *    the mass entirely; exact only under connected-component policy for
    *    buckets that verify as one cluster.
    *
    * Decision rule: cap a bucket once its own pair mass C(n,2) exceeds
    * `pairBudgetPerBucket` — the mass a single task-sized unit of work can
    * absorb (beyond it, even a perfect split pays the quadratic term in
    * aggregate CPU); below it, AQE balances placement and nothing is
    * approximated. cap = ⌈√(2·budget)⌉, floored at 32 so tiny budgets
    * don't star ordinary buckets. The default budget (4M pairs ≈ one
    * task-minute of pair generation+verify at measured fixture rates)
    * caps buckets above ~2.9k members — at 100 TB a boilerplate cluster
    * is 10⁶⁺ members and always caps, ordinary near-dup buckets (dozens)
    * never do. Measured break-even: SCALE.md round-17 table. */
  def minhashCandidatesAuto(sets: DataFrame, numHashes: Int = 64,
                            bands: Int = 16,
                            pairBudgetPerBucket: Long = 4L << 20): DataFrame = {
    require(pairBudgetPerBucket >= 2, "budget must admit at least one pair")
    val cap = math.max(32,
      math.ceil(math.sqrt(2.0 * pairBudgetPerBucket.toDouble)).toInt)
    minhashCandidatesCapped(sets, cap, numHashes, bands)
  }

  /** Hot-bucket STAR AUDIT — the runnable recall-loss check for
    * [[minhashCandidatesCapped]] (the stderr note at cap time points
    * here). For every band bucket over `cap`, verify the star pairs
    * (anchor ↔ member) at `threshold` and report, per bucket:
    * `(band, bh, members, starred, verified, frac)`. frac = 1.0 means the
    * bucket anchor-verifies as one near-dup cluster, so capping it was
    * EXACT under connected-component policy; frac < 1.0 means non-anchor
    * members silently lost their pairs — route that corpus through
    * [[minhashCandidates]] + AQE splitting (or raise the cap) instead.
    * Cost is Σ(n−1) over hot buckets — the star mass itself, never
    * C(n,2), so the audit is always affordable where the cap is. */
  def starAudit(sets: DataFrame, cap: Int = 32, threshold: Double = 0.8,
                numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(cap >= 2, "cap below 2 would star every bucket")
    val spark = sets.sparkSession
    val spill = graft.core.Scratch.freshDir("dedup_audit_bands")
    bandKeys(sets, numHashes, bands).write.mode("overwrite").parquet(spill)
    val banded = spark.read.parquet(spill)
    val hot = banded.groupBy("band", "bh")
      .agg(count(lit(1)).as("members"), min(col("doc_id")).as("anchor"))
      .filter(col("members") > cap)
    val star = banded.join(hot, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("anchor"))
      .select(col("band"), col("bh"), col("members"),
        col("anchor").as("aid"), col("doc_id").as("bid"))
    val verified = verifyJaccard(
        star.select(least(col("aid"), col("bid")).as("aid"),
          greatest(col("aid"), col("bid")).as("bid")).distinct(),
        sets, threshold)
      .select(col("aid"), col("bid"), lit(1L).as("_ok"))
    star
      .select(col("band"), col("bh"), col("members"),
        least(col("aid"), col("bid")).as("aid"),
        greatest(col("aid"), col("bid")).as("bid"))
      .join(verified, Seq("aid", "bid"), "left")
      .groupBy("band", "bh", "members")
      .agg(count(lit(1)).as("starred"),
        coalesce(sum(col("_ok")), lit(0L)).as("verified"))
      .withColumn("frac",
        round(col("verified").cast("double") / col("starred"), 4))
  }

  /** SimHash (64-bit) from precomputed shingle hashes: bit j set iff the sum
    * over shingles of ±1 (sign of bit j of the shingle's hash) is positive.
    * Native kernel — the column-expression formulation is 64 interpreted
    * aggregates per row. */
  def simhashFromHashes(hashes: Column): Column =
    call_function("graft_simhash", hashes)

  /** SimHash candidates: band on 16 four-bit nibbles — pairs agreeing on any
    * nibble meet (recall 1.0 for Hamming distance < 16; near-dup pairs land
    * well under that). Narrow nibbles collide by birthday at corpus scale,
    * so the raw join output is immediately cut by a CHEAP xor/popcount
    * Hamming filter (two longs per row) BEFORE the distinct and the
    * expensive shingle-set verification ever see it. SimHash is the
    * low-memory strategy; minhash-LSH (wide band hashes, no quadratic
    * collision term) is the 100 TB path. */
  def simhashCandidates(sets: DataFrame, maxHamming: Int = 15,
                        bands: Int = 16): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    // The Manku/Jain/Sarma block rule (WWW'07 §3): to find every pair
    // within Hamming k, split the fingerprint into k+1 blocks — pigeonhole
    // leaves one block clean. `bands` IS that knob: bands=16 (4-bit
    // blocks) covers Hamming ≤ 15 but each band has only 16 buckets, so
    // coincidental collisions pay n²/2·(1/16) per band; bands=8 (8-bit
    // blocks) covers Hamming ≤ 7 at 1/16 that mass. The trade is REAL
    // recall, not a free lunch: the fixture's own J ≥ 0.8 near-dups
    // measure at Hamming 8–15 (bands=8 drops 3 of 28 oracle pairs), so
    // 64-bit simhash at the 0.8 threshold NEEDS k=15 and its birthday
    // term — which is why simhash stays the low-memory/small-corpus
    // strategy and minhash-LSH (64-bit band hashes: no birthday term)
    // is the 100 TB path. Narrower k (or a 128-bit fingerprint) makes
    // bands=8 sound; the contract is spec-pinned in DedupSpec.
    val width = 64 / bands
    val mask = (1L << width) - 1
    val hashed = sets.withColumn("sh64", simhashFromHashes(col("hs"))).persist()
    hashed.count() // materialize before the banded self-join
    val banded = hashed.select(col("doc_id"), col("sh64"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sh64"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "nib")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))) <= maxHamming)
      .select(col("a.doc_id").as("aid"), col("b.doc_id").as("bid"))
      .distinct()
  }

  /** Blocking candidates via PREFIX FILTERING (the AllPairs/PPJoin prefix
    * principle), EXACT at Jaccard ≥ `threshold`: order every doc's shingles
    * by the global total order (df ascending, shingle hash as tiebreak —
    * rarest first, identical on both sides of any pair); a doc with m
    * shingles blocks on its first L = m − ⌈t·m⌉ + 1 of them. If
    * J(a,b) ≥ t then |a∩b| ≥ t·max(|a|,|b|), so fewer than L_a elements of
    * `a` lie outside the intersection — the first L_a elements cannot ALL
    * be private to `a`, hence some SHARED shingle sits in both prefixes and
    * the pair collides. Recall is 1.0 by construction (unlike the previous
    * rarest-k heuristic, whose (1−J)^k bound assumed an independence that
    * doesn't hold — round-3 advisory); the all-pairs oracle is matched on
    * every fixture, not just the current one.
    *
    * Scale math: raw shared-shingle blocking emits Σ_s df(s)² pairs. The
    * prefix bound caps key rows at ~(1−t)·Σ m_d ≈ 20% of the inverted index
    * at t=0.8, and because the order is df-ascending the prefixes
    * concentrate on RARE shingles, so the per-shingle df² term collapses
    * (a stopword-like shingle enters a prefix only for docs with almost no
    * rarer shingles). No df cap — a cap would reintroduce missed pairs.
    * df=1 shingles are dropped from keys (no partner to meet), which keeps
    * exactness: removing elements that sort FIRST only shifts shared
    * shingles earlier, never out of the L-window computed from the full m. */
  def blockingCandidates(sets: DataFrame, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = sets
      .select(col("doc_id"), size(col("hs")).as("m"), explode(col("hs")).as("s"))
      .persist()
    inv.count() // scanned twice (df counts + key ranking)
    val dfs = inv.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") > 1)
    val keys = inv.join(dfs, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rn") <= col("m") - ceil(lit(threshold) * col("m")) + 1)
      .select("doc_id", "s")
      .persist()
    keys.count() // materialize before the self-join scans it twice
    inv.unpersist()
    keys.as("a").join(keys.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("aid"), col("b.doc_id").as("bid"))
      .distinct()
  }

  /** Exact verification: candidate pairs → true shingle Jaccard ≥ threshold
    * (over shingle hashes — identical to string-shingle Jaccard modulo
    * ~1e-9 hash collisions). Join is on the (small) candidate set, not all
    * pairs. Intersection via the sorted-merge kernel (the arrays are sorted
    * at build); union size derived as |a|+|b|−|∩| — no per-row hash sets,
    * no second array traversal. */
  def verifyJaccard(candidates: DataFrame, sets: DataFrame,
                    threshold: Double): DataFrame = {
    // SIZE-RATIO prefilter — EXACT, not probabilistic: |∩| ≤ min(|A|,|B|)
    // and |∪| ≥ max(|A|,|B|), so J ≥ t requires min/max ≥ t. The pairs
    // join the NARROW (id, size) projection first (16 bytes a row — AQE
    // broadcasts it whenever it fits; a shuffle of narrow rows otherwise),
    // so a candidate that cannot pass never ships its shingle arrays
    // through the verify joins. On a hot LSH bucket this is the
    // difference between a bounded and an array-dominated shuffle:
    // measured on the ×10 streaming corpus, 4.75M collision candidates ×
    // ~KB of arrays per pair flowed through the bid-side join before
    // this filter existed.
    val szA = sets.select(col("doc_id").as("aid"), size(col("hs")).as("_na"))
    val szB = sets.select(col("doc_id").as("bid"), size(col("hs")).as("_nb"))
    val plausible = candidates
      .join(szA, "aid").join(szB, "bid")
      .filter(col("_na") >= lit(threshold) * col("_nb") &&
        col("_nb") >= lit(threshold) * col("_na"))
      .select("aid", "bid")
    val a = sets.select(col("doc_id").as("aid"), col("hs").as("sha"))
    val b = sets.select(col("doc_id").as("bid"), col("hs").as("shb"))
    // candidates and both set sides derive from the persisted `sets` frame
    // — the join reads materialized arrays, no expression re-derivation.
    plausible.join(a, "aid").join(b, "bid")
      .withColumn("inter",
        call_function("graft_intersect_card", col("sha"), col("shb")).cast("double"))
      .withColumn("jac",
        col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("aid"), col("bid"), round(col("jac"), 4).as("jac"))
      .orderBy("aid", "bid")
  }

  /** DECONTAMINATION: corpus docs with a near-duplicate in `benchmark`
    * (the eval-set-overlap removal every serious training pipeline runs
    * before training). The CROSS-corpus variant of near-dup dedup: both
    * sides shingle/band with the same kernels, candidates meet only in a
    * shared (band, band-hash) LSH bucket — the benchmark side is tiny
    * relative to the corpus, so the banded join broadcasts it — and
    * exact-Jaccard verification runs on candidates only. Returns the
    * CLEAN corpus (contaminated docs anti-joined away); use
    * [[contaminatedIds]] for the audit list. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    threshold: Double = 0.8, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    corpus.join(
      contaminatedIds(corpus, benchmark, threshold, idCol, textCol),
      corpus(idCol) === col("contaminated_id"), "left_anti")

  /** EXACT N-GRAM decontamination (Brown et al. 2020 Appendix C — the
    * GPT-3 collision rule, the other canonical decontamination semantics
    * beside [[decontaminate]]'s near-dup Jaccard): a corpus document is
    * contaminated iff it shares ANY n-token shingle with any benchmark
    * document — no similarity arithmetic, no threshold, the conservative
    * "any verbatim overlap" standard eval suites apply (GPT-3 used
    * n = 13).
    *
    * Scale shape: the benchmark's distinct grams are EVAL-SET-sized
    * (broadcast); the corpus explodes its grams once and semi-joins —
    * one corpus pass, never all-pairs, and the gram explode prunes to
    * two columns. Returns the clean corpus; [[contaminatedNgramIds]] is
    * the audit list. */
  def contaminatedNgramIds(corpus: DataFrame, benchmark: DataFrame,
                           n: Int = 13, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(n >= 1, "shingle width must be positive")
    // grams via array_join(slice(t, i, n)) over a FIRST-materialized token
    // column — the exactSubstrDedup shape. Analyzer.shingles' n-way
    // element_at composition re-inlines the tokenizer per slot (13-gram =
    // 13 tokenizations per position once CollapseProject flattens it —
    // the round-6 interpreted-HOF trap; measured 28 s vs ~1 s here).
    def gramCol(t: Column): Column = filter(
      transform(t, (_, i) =>
        when(i <= size(t) - n, array_join(slice(t, i + 1, lit(n)), " "))),
      g => g.isNotNull)
    val bg = benchmark.select(Analyzer.tokenize(col(textCol)).as("t"))
      .select(explode(gramCol(col("t"))).as("g")).distinct()
    corpus
      .select(col(idCol).as("contaminated_id"),
        Analyzer.tokenize(col(textCol)).as("t"))
      .select(col("contaminated_id"), explode(gramCol(col("t"))).as("g"))
      .join(broadcast(bg), "g")
      .select("contaminated_id").distinct()
  }

  /** [[contaminatedNgramIds]] anti-joined away — the clean corpus. */
  def decontaminateNgram(corpus: DataFrame, benchmark: DataFrame,
                         n: Int = 13, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    corpus.join(contaminatedNgramIds(corpus, benchmark, n, idCol, textCol),
      corpus(idCol) === col("contaminated_id"), "left_anti")

  /** n-token shingles over a materialized token array — array_join(slice)
    * per position, never the Analyzer.shingles element_at composition (the
    * interpreted-HOF trap: n re-inlined tokenizations per slot). */
  private[graft] def gramsOf(t: Column, n: Int): Column = filter(
    transform(t, (_, i) =>
      when(i <= size(t) - n, array_join(slice(t, i + 1, lit(n)), " "))),
    g => g.isNotNull)

  /** Engine-portable Bloom position: slot `i` of gram `g` hashes to
    * md5(g || ':' || i)'s leading 60 bits mod `mBits` — replayable
    * bit-for-bit in any engine with md5 (the [[Mixing]] ordering trick). */
  private def bloomPos(g: Column, i: Int, mBits: Int): Column =
    conv(substring(md5(concat(g, lit(":"), lit(i.toString))), 1, 15), 16, 10)
      .cast("long") % mBits

  /** BLOOM-FILTER decontamination audit (the Dolma-class approximate-
    * membership gate): benchmark n-grams occupy `kHashes` positions each in
    * an `mBits` filter; a corpus gram *bloom-hits* iff all k of its
    * positions are occupied. No false negatives by construction — every
    * truly-shared gram hits — and the audit quantifies the false-positive
    * cost of compressing an arbitrarily large benchmark gram set into
    * m bits: per doc, `bloom_grams` (grams passing the filter) vs
    * `exact_grams` (grams verbatim in the benchmark) vs their difference
    * `fp_grams`.
    *
    * Why this matters at 100 TB: exact decontamination broadcasts the
    * benchmark's distinct grams (strings — GBs for a large eval suite);
    * the Bloom gate broadcasts m/8 bytes REGARDLESS of benchmark size and
    * rejects ~all of the corpus's grams with k codegen'd hash probes per
    * gram, no join. The exact semi-join then runs only over the tiny
    * bloom-surviving slice — the classic two-phase filter this audit
    * measures. This relational formulation (positions semi-join + slot
    * count) is the oracle-replayable dual of the broadcast bitset
    * ([[bloomContaminatedIdsBroadcast]] — spec-asserted identical). */
  def bloomContaminationAudit(corpus: DataFrame, benchmark: DataFrame,
                              n: Int = 13, mBits: Int = 1 << 16,
                              kHashes: Int = 3, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(n >= 1 && mBits >= 2 && kHashes >= 1, "bad bloom shape")
    def distinctGrams(df: DataFrame, keepId: Boolean): DataFrame = {
      val base = df.select(
        (if (keepId) col(idCol) else lit(0L)).as("doc_id"),
        Analyzer.tokenize(col(textCol)).as("t"))
      base.select(col("doc_id"), explode(gramsOf(col("t"), n)).as("g"))
        .select(col("doc_id"), col("g")).distinct()
    }
    val bg = distinctGrams(benchmark, keepId = false).select("g").distinct()
    val occupied = bg.select(explode(array(
        (0 until kHashes).map(i => bloomPos(col("g"), i, mBits)): _*)).as("pos"))
      .distinct()
    val cg = distinctGrams(corpus, keepId = true)
    val cpos = cg.select(col("doc_id"), col("g"),
      explode(array((0 until kHashes).map(i => bloomPos(col("g"), i, mBits)): _*)).as("pos"))
    // a slot matches at most one occupied row (occupied is distinct), so
    // count(*) == k ⇔ every probe found its bit set
    val bloomHits = cpos.join(occupied, "pos")
      .groupBy("doc_id", "g").agg(count(lit(1)).as("slots"))
      .filter(col("slots") === kHashes)
      .select(col("doc_id"), col("g"))
    val exactHits = cg.join(bg, "g").select(col("doc_id"), col("g"))
    val perDocBloom = bloomHits.groupBy("doc_id")
      .agg(countDistinct(col("g")).as("bloom_grams"))
    val perDocExact = exactHits.groupBy("doc_id")
      .agg(countDistinct(col("g")).as("exact_grams"))
    perDocBloom.join(perDocExact, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("exact_grams"))
      .withColumn("fp_grams", col("bloom_grams") - col("exact_grams"))
      .orderBy("doc_id")
  }

  /** ALL-PAIRS SIMILARITY SEARCH with an exact threshold (Bayardo,
    * Ma & Srikant WWW'07 — the AllPairs prefix filter, cosine edition of
    * the prefix-filter blocking [[nearDupPairsNgram]] runs for Jaccard):
    * every doc pair whose TF-IDF cosine over 3-token shingles reaches
    * `threshold`, WITHOUT the all-pairs product.
    *
    * The filter: fix one global feature order (df ASC, term — rare
    * first). For a pair with cos ≥ t, look at their first shared feature
    * in that order, at position i of doc a's sorted vector: every shared
    * feature sits at j ≥ i, so cos ≤ Σ_{j≥i} w_aj·maxw(f_j) = s_i(a) —
    * the suffix bound must clear t (symmetrically for b). So each doc
    * INDEXES only the prefix of features whose suffix bound ≥ t,
    * candidates meet on indexed features of BOTH sides, and exact cosine
    * verifies candidates only. Recall 1.0 by construction (the bound is
    * a proof, not a heuristic); the rare-first order keeps the indexed
    * postings lists short — common features fall out of every prefix.
    *
    * Plan: tf/df/norm aggregations (index-shaped), one per-doc window for
    * the suffix bound (doc-partitioned), the candidate equi-join on the
    * indexed feature, and a candidate-bounded verify join. Never O(N²). */
  def cosinePairsApss(docs: DataFrame, threshold: Double = 0.5,
                      n: Int = 5, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    require(n >= 1, "shingle width must be positive")
    // feature = n-token shingle. The width is the rarity dial: the filter
    // (and the candidate join under it) is only as strong as the features
    // are rare, and a small-vocabulary corpus needs wider shingles for
    // df to stay bounded as the corpus grows (3-grams on the ~60-word
    // fixture vocabulary hit avg df ~30 at x10 — Σdf² blew the candidate
    // join to a 30 GB spill; 5-grams keep max df single-digit)
    // Dictionary-hash the shingle to a 64-bit key at the door: the term
    // rides through SIX corpus-sized wide shuffles (tf, df, weight join,
    // norm, index, candidate + verify joins) and a 5-gram string is
    // 40–60 bytes against the hash's 8 — the ×100 rehearsal measured the
    // string form exhausting 70 GB of shuffle/spill where the hashed form
    // fits. Output is (aid, bid, cos) — the term never leaves the
    // operator, and tf/df/weights are invariant under a collision-free
    // rename (64-bit over a corpus-scale shingle vocabulary: collision
    // odds ~n²/2⁶⁵ — and the oracle's exact hash-compare would flag one).
    val sh = docs
      .select(col(idCol).as("doc_id"),
        Analyzer.tokenize(col(textCol)).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(gramsOf(col("t"), n)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("term"))
    // tf feeds df, the doc count, and the weight join — persist or the
    // tokenize→explode→agg chain runs once per consumer
    val tf = sh.groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .persist()
    // df and maxw are VOCAB-sized (shingle vocabularies run corpus-scale,
    // unlike word vocabularies) — no broadcast hint; AQE broadcasts them
    // when they happen to be small, sort-merge joins otherwise
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).cast("double").as("n"))
    val w = tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") * log(col("n") / col("df")))
    val nrm = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nm"))
    // wn fans out FOUR ways (index side twice, verify side twice) — an
    // unpersisted plan recomputes the whole tokenize→tf→df→norm chain per
    // consumer (the round-6 fan-out lesson; measured 4x at ×10)
    val wn = w.join(nrm, "doc_id")
      .select(col("doc_id"), col("term"), (col("w") / col("nm")).as("wn"),
        col("df"))
      .persist()
    val maxw = wn.groupBy("term").agg(max(col("wn")).as("maxw"))
    // suffix bound in the (df ASC, term) global order = running sum over
    // the REVERSED order, own position included; a small epsilon keeps
    // float noise from dropping a provable candidate (over-indexing is
    // harmless, under-indexing loses recall)
    val suffix = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("df").desc, col("term").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the verify filter below accepts round(cos, 4) >= t, which admits
    // true cosines down to t - 5e-5 (half the rounding grain) — the
    // blocking bound must cover everything the rounded filter can admit,
    // so index at t - 5e-5 (plus float-noise epsilon), not t
    val indexed = wn.join(maxw, "term")
      .withColumn("sb", sum(col("wn") * col("maxw")).over(suffix))
      .filter(col("sb") >= threshold - 5e-5 - 1e-9)
      .select(col("doc_id"), col("term"))
    val cand = indexed.as("ia")
      .join(indexed.as("ib"),
        col("ia.term") === col("ib.term") &&
          col("ia.doc_id") < col("ib.doc_id"))
      .select(col("ia.doc_id").as("aid"), col("ib.doc_id").as("bid"))
      .distinct()
      .persist()
    // verify via the SHARED-TERM join restricted to candidate docs and
    // semi-pruned to candidate pairs BEFORE aggregation: peak row count
    // is the shared-term occurrences among candidates (Σ df² shaped) —
    // never candidates × per-doc features, which multiplies every pair
    // by the doc length (measured as a 30 GB spill at ×10)
    val va = wn.join(cand.select("aid").distinct(),
        col("doc_id") === col("aid"))
      .select(col("aid"), col("term"), col("wn").as("wa"))
    val vb = wn.join(cand.select("bid").distinct(),
        col("doc_id") === col("bid"))
      .select(col("bid"), col("term"), col("wn").as("wb"))
    va.join(vb, "term")
      .where(col("aid") < col("bid"))
      .join(cand, Seq("aid", "bid"), "left_semi")
      .groupBy("aid", "bid")
      .agg(round(sum(col("wa") * col("wb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("aid", "bid")
  }

  /** The SERVING form of the Bloom gate: the filter materializes as an
    * m/64-word bitset literal (built from a BOUNDED collect — ≤ k · |bench
    * grams| positions, eval-set-sized by definition) and membership runs as
    * k codegen'd probe predicates per corpus gram — one scan, zero joins,
    * zero shuffles for the rejection phase. Returns the doc ids with at
    * least one bloom-hitting gram; identical to the relational audit's
    * bloom side (spec-asserted), so the oracle rows certify this path's
    * semantics too. */
  def bloomContaminatedIdsBroadcast(corpus: DataFrame, benchmark: DataFrame,
                                    n: Int = 13, mBits: Int = 1 << 16,
                                    kHashes: Int = 3, idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame = {
    require(mBits % 64 == 0, "mBits must be word-aligned")
    val bg = benchmark.select(Analyzer.tokenize(col(textCol)).as("t"))
      .select(explode(gramsOf(col("t"), n)).as("g")).distinct()
    val positions = bg.select(explode(array(
        (0 until kHashes).map(i => bloomPos(col("g"), i, mBits)): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0)) // bounded: eval-set-sized
    val words = new Array[Long](mBits / 64)
    positions.foreach(p => words((p / 64).toInt) |= (1L << (p % 64).toInt))
    val bits = typedLit(words.toSeq)
    // functions.shiftright only takes a literal shift; the SQL builtin
    // accepts a column — call_function keeps the probe inside codegen
    def probe(g: Column, i: Int): Column = {
      val pos = bloomPos(g, i, mBits)
      (call_function("shiftright",
        element_at(bits, (pos / 64).cast("int") + 1),
        (pos % 64).cast("int")) % 2) =!= 0
    }
    corpus.select(col(idCol).as("doc_id"),
        explode(gramsOf(Analyzer.tokenize(col(textCol)), n)).as("g"))
      .filter((0 until kHashes).map(i => probe(col("g"), i)).reduce(_ && _))
      .select("doc_id").distinct()
  }

  /** The contaminated corpus ids: docs whose shingle-Jaccard against ANY
    * benchmark doc reaches `threshold`. One column `contaminated_id`. */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                      threshold: Double = 0.8, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val corpusSets = shingleSets(corpus, idCol = idCol, textCol = textCol)
    val benchSets = shingleSets(benchmark, idCol = idCol, textCol = textCol)
    try {
      val corpusBands = bandKeys(corpusSets)
      val benchBands = bandKeys(benchSets)
      // benchmark side broadcast: eval sets are thousands of docs, the
      // corpus billions — the banded join must not shuffle the corpus
      val cands = corpusBands.as("c")
        .join(broadcast(benchBands.as("b")),
          col("c.band") === col("b.band") && col("c.bh") === col("b.bh") &&
            // exact size-ratio prune while generating pairs (see
            // minhashCandidatesFromBands): a collision candidate that
            // cannot reach the threshold never enters the distinct
            col("c.n") >= lit(threshold) * col("b.n") &&
            col("b.n") >= lit(threshold) * col("c.n"))
        .select(col("b.doc_id").as("aid"), col("c.doc_id").as("bid"))
        .distinct()
      // verify wants both sides' sets under one frame: benchmark ids are
      // namespaced out of the corpus id space by the aid/bid columns, so
      // a shared-id fixture (benchmark ⊂ corpus) stays unambiguous
      val verified = cands.join(
          benchSets.select(col("doc_id").as("aid"), col("hs").as("sha")), "aid")
        .join(corpusSets.select(col("doc_id").as("bid"), col("hs").as("shb")), "bid")
        .withColumn("inter", call_function("graft_intersect_card",
          col("sha"), col("shb")).cast("double"))
        .withColumn("jac",
          col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
        .filter(col("jac") >= threshold)
        .select(col("bid").as("contaminated_id")).distinct()
      // materialize while the signature caches are hot, then release the
      // scratch cache before returning — nothing registered in the
      // session's CacheManager outlives this call. The common case
      // (contamination ≪ corpus) comes back as a broadcast-hinted local
      // relation, so the caller's anti-join never shuffles the corpus; a
      // pathological corpus-scaled id set falls back to the lazy
      // distributed frame (recomputed once by the caller's single action).
      val out = verified.persist()
      val n = out.count()
      if (n <= MaxLocalContaminatedIds) {
        val rows = out.collect()
        out.unpersist()
        broadcast(corpus.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), out.schema))
      } else {
        out.unpersist()
        verified
      }
    } finally { corpusSets.unpersist(); benchSets.unpersist() }
  }

  /** LINE-level dedup across the corpus (the RefinedWeb/CCNet curation
    * step): a line whose trimmed form appears in at least `minDf` DISTINCT
    * documents is boilerplate (nav menus, cookie banners, footers — text
    * that repeats across pages without being a document-level duplicate)
    * and is removed from EVERY document; line order inside each document
    * is preserved, documents whose every line was boilerplate stay in the
    * corpus with empty text (drop-or-not is the caller's quality filter).
    * Blank lines are never boilerplate (formatting survives).
    *
    * Scale shape: explode to lines (narrow) → line-df hash aggregation
    * (count DISTINCT doc partial-aggregates map-side; one shuffle on the
    * line) → LEFT-ANTI join of lines against the hot set (a second
    * shuffle on the line; the hot side is at most |lines|/minDf rows by
    * definition, broadcastable for any real threshold) → order-preserving
    * reassembly (one shuffle on doc_id, sort_array over each doc's
    * collected (pos, line) structs). Nothing is ever all-pairs and no
    * driver state exists at any corpus size. */
  def dedupLines(docs: DataFrame, minDf: Long,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("norm", trim(col("line")))
    val hot = lines.where(length(col("norm")) > 0)
      .groupBy("norm").agg(countDistinct(col(idCol)).as("df"))
      .where(col("df") >= minDf).select("norm")
    val kept = lines.join(hot, Seq("norm"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        s => s.getField("line")), "\n").as("kept_text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("kept_text"), lit("")).as(textCol))
  }

  /** EXACT-SUBSTRING deduplication at token granularity (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    * operation, re-expressed relationally): a token position is DUPLICATED
    * when it lies inside any k-token window whose k-gram occurs in at
    * least `minDocs` DISTINCT documents; duplicated positions are removed
    * and the survivors reassemble in order. Deterministic by construction
    * — no suffix array needed when the span floor is a fixed k: every
    * duplicated span of length ≥ k is a union of duplicated k-windows, so
    * marking k-windows marks exactly the maximal duplicated spans.
    *
    * Scale shape (mirrors [[dedupLines]] one level down): posexplode to
    * token positions (narrow) → k-gram per position via a length-guarded
    * slice (narrow) → k-gram df aggregation (map-side partial, ONE shuffle
    * on the gram hash) → semi-join window starts against the hot grams →
    * covered positions explode (≤ k per start, narrow) → anti-join tokens
    * minus covered (shuffle on (doc, pos)) → order-preserving reassembly
    * (one shuffle on doc_id). Never all-pairs, no driver state; the hot
    * side is bounded by corpus-tokens/minDocs.
    *
    * Returns (idCol, textCol cleaned, n_dropped). */
  def exactSubstrDedup(docs: DataFrame, k: Int = 5, minDocs: Long = 2,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && minDocs >= 2, "need k >= 1 and minDocs >= 2")
    val tokArr = docs.select(col(idCol),
      graft.fts.Analyzer.tokenize(col(textCol)).as("t"))
    val toks = tokArr.select(col(idCol),
      posexplode(col("t")).as(Seq("pos", "tok")))
    // k-gram starting at pos (only where a full window fits); the gram is
    // the joined token run — tokens are [a-z0-9]+ so ' ' never collides.
    // Built per-doc BEFORE exploding (transform over positions), so the
    // exploded rows never carry the full token array: O(len·k) chars per
    // doc, not the O(len²) of an array column replicated per position.
    // Nulls appear only at the trailing len-k+1..len-1 positions, so the
    // post-filter posexplode index still equals the window start.
    val grams = tokArr.select(col(idCol),
      posexplode(filter(
        transform(col("t"), (_, i) =>
          when(i <= size(col("t")) - k,
            array_join(slice(col("t"), i + 1, lit(k)), " "))),
        g => g.isNotNull)).as(Seq("pos", "gram")))
    val hot = grams.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("df"))
      .where(col("df") >= minDocs).select("gram")
    val covered = grams.join(hot, Seq("gram"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    val kept = toks.select(col(idCol), col("pos"), col("tok"))
      .join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok")), " ").as("clean"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        size(graft.fts.Analyzer.tokenize(col(textCol))).as("n_toks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean"), lit("")).as(textCol),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).cast("bigint")
          .as("n_dropped"))
  }

  /** Near-duplicate pairs at `threshold` via MinHash LSH + exact verify. */
  def nearDupPairsMinhash(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sets = shingleSets(docs)
    verifyJaccard(minhashCandidates(sets), sets, threshold)
  }

  def nearDupPairsSimhash(docs: DataFrame, threshold: Double = 0.8,
                          bands: Int = 16): DataFrame = {
    val sets = shingleSets(docs)
    verifyJaccard(
      simhashCandidates(sets, maxHamming = bands - 1, bands = bands),
      sets, threshold)
  }

  def nearDupPairsNgram(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sets = shingleSets(docs)
    verifyJaccard(blockingCandidates(sets, threshold), sets, threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup over
    * embeddings — cluster the vectors, then within each cluster drop every
    * vector whose cosine similarity to an earlier (lower-id) member reaches
    * `threshold`. Returns the kept rows with their cluster id as `cell`.
    *
    * Determinism / oracle replay: cluster centers are the `nlist` lowest-id
    * vectors (the IVF coarse quantizer's seeding, Similarity.centroidsOf);
    * assignment is the argmax over dot(v,c)/‖c‖ ROUNDED to 9 dp with a
    * first-max tiebreak, so a SQL oracle replays the assignment exactly
    * (sequential IEEE-double dot products agree bit-for-bit across
    * engines). Lloyd-refined centers (Similarity.trainCentroids) drop in
    * when cross-engine replay is not needed. The paper keeps one arbitrary
    * member per duplicate group (its ablation shows the keep policy barely
    * matters); lowest id is the deterministic choice here.
    *
    * Scale shape: never all-pairs — the verify join meets only inside a
    * cluster (the paper's own O(N²/k) argument), and `nlist` grows with the
    * corpus (the paper uses 50k clusters for LAION) keeping E[cluster] =
    * N/nlist bounded. Centroids travel as plan literals — fine to ~1k
    * cells; past that, assign via the persisted celled layout
    * (Similarity.writeCelled) instead. */
  def semDedup(emb: DataFrame, nlist: Int = 16, threshold: Double = 0.8,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // seed from the nlist lowest-id NON-ZERO vectors: a zero vector has no
    // direction to quantize against, and its ‖c‖ = 0 denominator would
    // poison every score expression (the same degenerate-embedding class
    // the cosine() guard closes on the verify side). Zero vectors still
    // flow through as data — they score 0 against every cell and land in
    // cell 1 by the first-max tiebreak.
    val cents: Seq[Array[Double]] = emb
      .filter(Similarity.dot(v, v) > 0).orderBy(col(idCol)).limit(nlist)
      .select(v).collect().map(_.getSeq[Double](0).toArray).toSeq
    // Cell assignment through the native kernel with SemDeDup's pinned
    // score semantics (round each scaled dot to 9 dp, FIRST-max tiebreak —
    // bit-identical to the declarative round/array_position form this
    // replaces and to the DuckDB oracle's replay). The declarative array
    // unrolled nlist dots into one generated method: the same 64 KB-limit
    // silent-interpreted-fallback class the IVF path hit at deployment
    // nlist (r16), just waiting on this path — at the SemDeDup sizing rule
    // (nlist ~ n/125, Abbas et al. use cells of ~100–200) a 200k-vector
    // corpus needs nlist = 1600 and the unrolled form never compiles.
    val cell = org.apache.spark.sql.GraftColumnBridge.column(
      graft.ext.CellAssignExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        cents.map(_.clone()).toArray,
        cents.map(c => math.sqrt(c.map(x => x * x).sum)).toArray,
        roundTo = 9))
    val assigned = emb
      .withColumn("cell", cell)
      .persist() // scanned by both verify sides and the kept anti-join
    assigned.count()
    val a = assigned.select(col("cell"), col(idCol).as("aid"), v.as("va"))
    val b = assigned.select(col("cell"), col(idCol).as("bid"), v.as("vb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("aid") < col("bid") &&
        round(Similarity.cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("bid").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
  }
}
