package graft.tools

import org.apache.spark.sql.functions._

/** Streaming-lifecycle scale spot-run (test-scope dev driver): the ×N dual
  * of [[ScaleSpot]] for the stateful/streaming queries whose 100 TB story
  * rests on PER-BATCH bounds rather than per-query plans. Batch COUNT is
  * held constant by construction in every measured lifecycle — each stages
  * a fixed number of files and streams with maxFilesPerTrigger=1 (or one
  * AvailableNow drain) — so ×N data means ×N rows PER BATCH:
  *
  *  - q_stream_dedup_near: 2 doc batches split by id; the band store grows
  *    with the corpus but lookups stay bucket-pruned.
  *  - q_sim_stream: 2 embedding batches by parity; encode is per-row, the
  *    frozen quantizer is size-constant.
  *  - q_fts_epochs: 1-file ingest + two compaction cycles; compaction folds
  *    partitions whose count is batch-count-bound, rows scale ×N.
  *  - q_stream_stream_join: one AvailableNow drain per side; interval-
  *    bounded state, and the ×N corpus offsets user_id per replica
  *    (ScaleCorpus.events) so join pairs grow LINEARLY, not ×N².
  *
  * A ratio ≈ N says per-batch work is data-linear with no superlinear
  * state-store or compaction term; a ratio well BELOW N says the 1× run is
  * lifecycle-overhead-dominated (micro-batch setup, checkpoint IO) — both
  * are healthy. Superlinear (≫N) would flag state growth beyond data.
  *
  *   sbt "Test/runMain graft.tools.StreamScaleSpot 5"
  *   sbt "Test/runMain graft.tools.StreamScaleSpot 10"
  */
object StreamScaleSpot {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 5
    val base = ScaleCorpus.base
    val out = s"/root/repo/target/sfscale_x$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // materialize only what the streaming set reads, reusing ScaleSpot's
    // layout (and its corpus if a prior ScaleSpot run left one)
    def ensure(name: String)(build: => Unit): Unit =
      if (!new java.io.File(s"$out/$name.parquet").exists()) build
    ensure("documents")(ScaleCorpus.documents(spark, out, factor))
    ensure("embeddings")(ScaleCorpus.embeddings(spark, out, factor))
    ensure("events")(ScaleCorpus.events(spark, out, factor))

    val names = Seq("q_stream_dedup_near", "q_sim_stream", "q_fts_epochs",
      "q_stream_stream_join")
    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    // warm the session once (JIT, hadoop FS init) on the small side
    time(base, "q_sim_stream")
    // min-of-2, alternating (same rationale as ScaleSpot): first execution
    // pays codegen/JIT warmup; streaming lifecycles also pay state-store
    // provider init on first use
    val rows = names.map { n =>
      val a1 = time(base, n); val aN = time(out, n)
      val b1 = time(base, n); val bN = time(out, n)
      val t1 = math.min(a1, b1); val tN = math.min(aN, bN)
      (n, t1, tN, tN / t1)
    }
    println(f"""{"scale_factor":$factor,"mode":"streaming","queries":{""" +
      rows.map { case (n, t1, tN, r) =>
        f""""$n":{"t_1x":$t1%.2f,"t_${factor}x":$tN%.2f,"ratio":$r%.2f}"""
      }.mkString(",") + "}}")
  }
}
