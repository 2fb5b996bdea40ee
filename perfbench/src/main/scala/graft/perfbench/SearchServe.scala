package graft.perfbench

import graft.fts.{Index, IndexCatalog, QueryParser}
import scala.collection.mutable

/** `search_serve`: warm full-text search over one positional index, from
  * SQL `fts_*` predicates — the engine's user path. One closed-loop client
  * sends the next query when the previous one has returned. */
object SearchServe {
  val Docs = 5000
  val Vocab = 100000
  val WarmupQueries = 20
  val MinQueries = 20

  def run(ctx: Ctx): Result = {
    import ctx.spark
    val t = ctx.tracer

    // ---- set-up: corpus, index, warm-up ---------------------------------
    val setup0 = System.nanoTime()
    val corpus = new Gen.Corpus(ctx.seed, Vocab)
    val docs = corpus.docs(0L, Docs, new scala.util.Random(ctx.seed * 7919 + 1))
    val ref = new Ref.Index
    docs.foreach(d => ref.add(d.id, d.tokens))
    val corpusDir = ctx.dir("corpus")
    val tablePath = s"$corpusDir/docs.parquet"
    Workloads.writeDocs(spark, docs, tablePath, append = false)
    val textBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    val genS = (System.nanoTime() - setup0) / 1e9
    Main.log(f"corpus generated and written in $genS%.1f s")

    val indexDir = ctx.dir("index")
    t.operation()
    val build0 = System.nanoTime()
    t.span("fts", "Index.createIndex") {
      Index.createIndex(spark, tablePath, indexDir, positional = true)
    }
    val buildS = (System.nanoTime() - build0) / 1e9
    val indexBytes = Stats.diskBytes(java.nio.file.Paths.get(indexDir))
    Main.log(f"index built in $buildS%.1f s")

    val table = "docs"
    t.span("core", "Tables.apply") {
      graft.core.Tables(spark, corpusDir, "docs").createOrReplaceTempView(table)
    }
    val warm = Gen.queryMix(ref, table, WarmupQueries,
      new scala.util.Random(ctx.seed ^ 0x5eed5eedL))
    val warm0 = System.nanoTime()
    warm.foreach(q => spark.sql(q.sql).collect())
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = Main.sinceJvmStartS()
    Main.log(f"warm-up: ${warm.size} queries in $warmS%.1f s; setup_s $setupS%.1f")

    // ---- timed closed loop ---------------------------------------------
    val mix = Gen.queryMix(ref, table, 600, new scala.util.Random(ctx.seed * 31 + 7))
    final case class Done(q: Gen.Query, ms: Double, traced: Boolean,
                          ok: Boolean, rows: Int, op: Int)
    val done = mutable.ArrayBuffer.empty[Done]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (i < mix.size && (System.nanoTime() < deadline || i < MinQueries)) {
      val q = mix(i)
      // traced runs alternate traced and untraced queries: the gap between
      // the two medians is the tracing overhead
      val traceThis = t.enabled && i % 2 == 0
      val op = if (traceThis) t.operation() else -1
      val t0 = System.nanoTime()
      val rows =
        if (traceThis) t.span("bench", "query") {
          val df = t.span("sql", "analyze")(spark.sql(q.sql))
          t.span("ext", "optimize")(df.queryExecution.optimizedPlan)
          t.span("sql", "plan")(df.queryExecution.executedPlan)
          t.span("spark", "exec")(df.collect())
        }
        else spark.sql(q.sql).collect()
      val ms = Stats.ms(t0)
      if (traceThis) {
        // direct probes of the layers the optimizer calls, outside the
        // query's own span
        q.parseString.foreach(s => t.span("fts", "QueryParser.parse")(QueryParser.parse(s)))
        t.span("fts", "IndexCatalog.tableFingerprint")(IndexCatalog.tableFingerprint(tablePath))
        t.span("fts", "IndexCatalog.entriesFor")(IndexCatalog.entriesFor(tablePath))
      }
      val ok = q.expr match {
        case Ref.TopK(ts, k) =>
          Ref.sameTopK(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq, ref.topK(ts, k))
        case e =>
          val got = rows.map(_.getLong(0))
          got.length == got.distinct.length && got.toSet == ref.eval(e)
      }
      if (!ok) System.err.println(s"[perfbench] result mismatch: ${q.sql}")
      done += Done(q, ms, traceThis, ok, rows.length, op)
      i += 1
    }

    Main.log(s"timed: ${done.size} queries; " + done.map(d =>
      f"${d.q.kind}${if (d.q.tail) "/t" else ""}:${d.ms}%.0f").mkString(" "))

    // ---- metrics ---------------------------------------------------------
    val timed = done.filterNot(_.traced)
    val lat = timed.map(_.ms).toSeq
    def p50(f: Done => Boolean): Double = {
      val xs = timed.filter(f).map(_.ms).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val m = mutable.Map.empty[String, (Double, String)]
    m("setup_s") = (setupS, "s")
    m("query_p50_ms") = (Stats.median(lat), "ms")
    m("query_p75_ms") = (Stats.quantile(lat, 0.75), "ms")
    m("class.topk_p50_ms") = (p50(_.q.kind == "topk"), "ms")
    m("class.head_p50_ms") = (p50(!_.q.tail), "ms")
    m("class.tail_p50_ms") = (p50(_.q.tail), "ms")
    m("ingest_docs_per_s") = (Docs / buildS, "docs/s")
    m("write_amp") = (indexBytes.toDouble / textBytes, "ratio")
    m("disk_mb") = ((Stats.diskBytes(ctx.runDir.resolve("corpus")) +
      Stats.diskBytes(java.nio.file.Paths.get(indexDir)) +
      Workloads.scratchBytes()) / 1e6, "MB")
    m("class.qstring_p50_ms") = (p50(_.q.kind == "qstring"), "ms")

    if (t.enabled) {
      val spans = t.all
      val tracedDone = done.filter(_.traced)
      val byOp = spans.groupBy(_.op)
      def medianOf(name: String, scale: Double = 1.0): Double = {
        val xs = spans.filter(_.name == name).map(_.ms * scale)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      val qSpans = tracedDone.flatMap(d => byOp(d.op).find(_.name == "query"))
      def perQuery(k: String): Seq[Double] = qSpans.map(_.counters(k).toDouble).toSeq
      m("sql.analyze_ms") = (medianOf("analyze"), "ms")
      m("fts.parse_us") = (medianOf("QueryParser.parse", 1000.0), "us")
      m("ext.optimize_ms") = (medianOf("optimize"), "ms")
      m("catalog.fingerprint_ms") = (medianOf("IndexCatalog.tableFingerprint"), "ms")
      m("catalog.entries_ms") = (medianOf("IndexCatalog.entriesFor"), "ms")
      m("sql.plan_ms") = (medianOf("plan"), "ms")
      m("spark.exec_ms") = (medianOf("exec"), "ms")
      m("spark.jobs_per_query") = (Stats.mean(perQuery("jobs")), "count")
      m("spark.tasks_per_query") = (Stats.mean(perQuery("tasks")), "count")
      m("spark.task_ms_per_query") = (Stats.mean(perQuery("task_ms")), "ms")
      m("spark.input_rows_per_result") =
        (perQuery("input_rows").sum / math.max(1, tracedDone.map(_.rows).sum), "ratio")
      m("spark.input_mb_per_query") = (Stats.mean(perQuery("input_bytes")) / 1e6, "MB")
      val build = spans.find(_.name == "Index.createIndex").get
      m("fts.build_s") = (build.ms / 1000.0, "s")
      m("spark.build_shuffle_mb") = (build.counters("shuffle_write_bytes") / 1e6, "MB")
      m("spark.build_output_mb") = (build.counters("output_bytes") / 1e6, "MB")
      Workloads.selfTimes(t, tracedDone.map(_.op).toSet, m)
      m("trace.overhead_ms") =
        (Stats.median(tracedDone.map(_.ms).toSeq) - Stats.median(lat), "ms")
    }

    val tailLimit = math.max(2, (ref.nDocs * 0.001).toInt)
    Result(done.size, done.count(!_.ok), m.toMap, Map(
      "docs" -> Docs,
      "tokens" -> docs.map(_.tokens.length.toLong).sum,
      "distinct_terms" -> ref.termsByDf.size,
      "text_mb" -> textBytes / 1e6,
      "tail_df_below" -> tailLimit,
      "queries" -> done.size,
      "queries_by_kind" -> done.groupBy(_.q.kind).map { case (k, v) => k -> v.size },
      "head_queries" -> done.count(!_.q.tail),
      "tail_queries" -> done.count(_.q.tail),
      "repeat_share" -> (1.0 - done.map(_.q.sql).distinct.size.toDouble / done.size),
      "warmup_queries" -> warm.size))
  }
}
