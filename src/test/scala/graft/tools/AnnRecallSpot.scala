package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN recall@10 at scale (test-scope dev driver): the recall contracts
  * (q_sim_ann ≥ 0.8, q_sim_knn_join ≥ 0.9 avg) are asserted on the sf0.01
  * fixture, where pruning skips little; this measures the SAME recall on
  * the 1× (sf0.1) and ×N ScaleCorpus embeddings so the pruning-vs-recall
  * tradeoff is observed where pruning actually bites (at ×10 each IVF cell
  * holds ~1250 vectors and nprobe=4/16 skips 75 % of the corpus).
  *
  * Ground truth is brute force over a QUERY SAMPLE (the ann-benchmarks
  * protocol) — exact top-10 per query via the full scan, approximate via
  * the served layouts:
  *  - IVF-PQ: persisted writeCelledPq layout, partition-pruned probes,
  *    ADC scoring (the q_sim_ivfpq serving path), 16 queries across cells.
  *  - kNN join: pruned knnJoin (nprobe 4/16) vs exhaustive knnJoin
  *    (nprobe = nlist, untrained = single full pass), sampled query set.
  *
  *   sbt "Test/runMain graft.tools.AnnRecallSpot 10"
  */
object AnnRecallSpot {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    // codebook resolution + shortlist size — THE two recall dials of
    // two-stage PQ serving (args 2/3; defaults = the layout defaults)
    val ncent = if (args.length > 1) args(1).toInt else 16
    // 0 = the density-adaptive default (shortlist derived from the probed
    // cells' _cellhist populations); a positive value pins it fixed
    val refine = if (args.length > 2) args(2).toInt else 0
    val residual = args.length > 3 && args(3) == "residual"
    val out = s"/root/repo/target/sfscale_x$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline.Similarity

    if (!new java.io.File(s"$out/embeddings.parquet").exists())
      ScaleCorpus.embeddings(spark, out, factor)

    def clusteredOf(dir: String): DataFrame =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          Similarity.clusteredVec(col("vec_id"), col("embedding")).as("embedding"))

    /** Mean recall@10 of the IVF-PQ serving paths over 16 queries (one per
      * trained cell region; ids 0..15 land in 16 distinct clusters) —
      * (ADC-only, ADC+exact-refine-100) from the same persisted layout. */
    def ivfpqRecall(dir: String, tag: String): (Double, Double) = {
      val clustered = clusteredOf(dir).persist()
      clustered.count()
      try {
        val layout = graft.core.Scratch.dir(s"annrecall_${tag}_ivfpq")
        Similarity.writeCelledPq(clustered, layout, ncent = ncent,
          residual = residual)
        val recalls = (0L until 16L).map { qid =>
          val exact = Similarity.bruteForceTopK(clustered, qid, 10)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          def r(df: org.apache.spark.sql.DataFrame) = exact.intersect(
            df.select("vec_id").collect().map(_.getLong(0)).toSet).size / 10.0
          (r(Similarity.ivfPqTopK(clustered, layout, qid, 10)),
            r(Similarity.ivfPqTopKRefined(clustered, layout, qid, 10,
              refine = refine)))
        }
        (recalls.map(_._1).sum / recalls.size,
          recalls.map(_._2).sum / recalls.size)
      } finally clustered.unpersist()
    }

    /** Mean recall@10 of the pruned kNN join over a sampled query set vs
      * the exhaustive join (nprobe = nlist, trainIters = 0 → one full
      * corpus pass per query, the exact dual of the pruned plan). */
    def knnJoinRecall(dir: String, tag: String, qMod: Int): Double = {
      val clustered = clusteredOf(dir).persist()
      clustered.count()
      try {
        val qs = clustered.filter(pmod(col("vec_id"), lit(qMod)) === 0)
        val nq = qs.count().toDouble
        val pruned = Similarity.knnJoin(qs, clustered, 10)
          .select(col("q_id"), col("n_id"))
        val exact = Similarity.knnJoin(qs, clustered, 10,
            nlist = 16, nprobe = 16, trainIters = 0)
          .select(col("q_id"), col("n_id"))
        val hits = exact.join(pruned, Seq("q_id", "n_id")).count()
        hits / (10.0 * nq)
      } finally clustered.unpersist()
    }

    /** Mean recall@10 of NSW beam search (graph built APPROXIMATELY with
      * nprobe 4/16 — the large-corpus construction economics — searched
      * with beam 32 / 4 hops from the fixed min-id entry) over the same
      * 16 query ids vs brute force. */
    def nswRecall(dir: String, tag: String): Double = {
      val clustered = clusteredOf(dir).persist()
      clustered.count()
      try {
        val graph = Similarity.nswGraph(clustered, degree = 8, nlist = 16,
          nprobe = 4).persist()
        graph.count()
        try {
          val recalls = (0L until 16L).map { qid =>
            val exact = Similarity.bruteForceTopK(clustered, qid, 10)
              .select("vec_id").collect().map(_.getLong(0)).toSet
            val got = Similarity.nswSearch(clustered, graph, qid, 10,
                beam = 32, hops = 4)
              .select("vec_id").collect().map(_.getLong(0)).toSet
            exact.intersect(got).size / 10.0
          }
          recalls.sum / recalls.size
        } finally graph.unpersist()
      } finally clustered.unpersist()
    }

    val base = ScaleCorpus.base
    val (adc1, ref1) = ivfpqRecall(base, "b")
    val (adcN, refN) = ivfpqRecall(out, "s")
    val r = Seq(
      ("ivfpq_adc_1x", adc1), (s"ivfpq_adc_${factor}x", adcN),
      ("ivfpq_refined_1x", ref1), (s"ivfpq_refined_${factor}x", refN),
      // 20 queries at 1×, ~200 at ×10: sample thins with corpus growth so
      // the exact dual stays a bounded full pass
      ("knn_join_1x", knnJoinRecall(base, "b", 100)),
      (s"knn_join_${factor}x", knnJoinRecall(out, "s", 100)),
      ("nsw_1x", nswRecall(base, "b")),
      (s"nsw_${factor}x", nswRecall(out, "s")))
    println(s"""{"scale_factor":$factor,"ncent":$ncent,"refine":$refine,"residual":$residual,"recall_at_10":{""" +
      r.map { case (n, v) => f""""$n":$v%.3f""" }.mkString(",") + "}}")
  }
}
