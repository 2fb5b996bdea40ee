package graft.perfbench

import graft.fts.{IncrementalIndex, Search}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.expr
import scala.collection.mutable

/** `ingest_compact`: incremental ingest beside fresh reads on the `fts`
  * layer. Batches of generated docs append to the table and upsert into a
  * non-positional delta log; after each batch one fresh merge-on-read
  * search runs; every few batches a delete and an upsert touch 1% of the
  * live ids, the log compacts into a new epoch dir, and one SQL
  * `fts_match` runs over the registered table. The schedule is fixed, so
  * disk use and write amplification compare across runs. */
object IngestCompact {
  val Vocab = 100000
  val Batches = 6
  val BatchDocs = 1000
  val CompactEvery = 3
  val MutateShare = 0.01
  val Buckets = 8
  val WarmupDocs = 200
  val WarmupBatches = 1

  /** A timed fresh read: whole latency, and its boolean (head terms) and
    * ranked (head + tail term) queries' shares. */
  final case class Read(ms: Double, matchMs: Double, topkMs: Double, ok: Boolean,
                        traced: Boolean)

  /** One ingest log plus everything the schedule has measured on it. */
  final class Log(ctx: Ctx, root: Path, corpus: Gen.Corpus, seed: Long) {
    import ctx.{spark, tracer => t}
    val tablePath: String = root.resolve("docs.parquet").toString
    val logDir: String = root.resolve("log").toString
    val ref = new Ref.Index
    val reads_ = mutable.ArrayBuffer.empty[Read]
    val sqlMs = mutable.ArrayBuffer.empty[Double]
    var sqlFailed = 0
    val upsertMs = mutable.ArrayBuffer.empty[Double]
    val upsertDocs = mutable.ArrayBuffer.empty[Int]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val liveDeltas = mutable.ArrayBuffer.empty[Double]
    val deleteMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val tokenizeMrowsS = mutable.ArrayBuffer.empty[Double]
    val liveMb = mutable.ArrayBuffer.empty[Double]
    var writtenBytes = 0L
    var textBytes = 0L
    var tokens = 0L
    var epochs = 0
    private var reads = 0
    private var nextId = 0L

    private def docsDf(docs: Seq[Gen.Doc]) = {
      import spark.implicits._
      docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
    }

    /** Run `body` (an engine write under the log or an epoch dir) and add
      * the bytes it left there to `writtenBytes`. */
    private def writing[T](extra: => Long)(body: => T): T = {
      val before = Stats.diskBytes(Paths.get(logDir))
      val out = body
      writtenBytes += math.max(0L, Stats.diskBytes(Paths.get(logDir)) - before) + extra
      out
    }

    private def upsert(docs: Seq[Gen.Doc]): Unit = {
      val df = docsDf(docs)
      if (t.enabled) {
        // a direct pass of the tokenize kernel over the same batch
        val t0 = System.nanoTime()
        t.span("ext", "fts_tokenize") {
          df.select(expr("size(fts_tokenize(text))").as("n")).agg(expr("sum(n)")).collect()
        }
        tokenizeMrowsS += docs.size / 1e6 / ((System.nanoTime() - t0) / 1e9)
      }
      val t0 = System.nanoTime()
      writing(0L)(t.span("fts", "IncrementalIndex.upsert")(IncrementalIndex.upsert(spark, logDir, df)))
      upsertMs += Stats.ms(t0)
      upsertDocs += docs.size
      textBytes += docs.map(_.text.getBytes("UTF-8").length.toLong).sum
      tokens += docs.map(_.tokens.length.toLong).sum
      docs.foreach(d => ref.add(d.id, d.tokens))
    }

    def batch(n: Int, rnd: scala.util.Random): Unit = {
      t.operation()
      val docs = corpus.docs(nextId, n, rnd)
      nextId += n
      t.span("spark", "append table")(Workloads.writeDocs(spark, docs, tablePath, append = true))
      upsert(docs)
    }

    /** Query terms for fresh read `n`: two head terms from a fixed rank
      * rotation over the top 50 by df (so reads cost alike across seeds),
      * or, with `tail`, one head term and one tail term (df < 0.1% of the
      * live docs). */
    private def terms(rnd: scala.util.Random, n: Int, tail: Boolean): Seq[String] = {
      val byDf = ref.termsByDf
      val head = byDf.take(50)
      val h = head((n * 17 + 3) % head.size)
      if (tail) {
        val limit = math.max(2, (ref.nDocs * 0.001).toInt)
        val tails = byDf.filter(ref.df(_) < limit)
        Seq(h, tails(rnd.nextInt(tails.size)))
      } else Seq(h, head((n * 29 + 11) % head.size)).distinct
    }

    /** One fresh read: the merge-on-read view, then a boolean query on two
      * head terms and a ranked top-10 query on a head and a tail term, so
      * every read does the same kind of work. */
    def freshRead(rnd: scala.util.Random): Unit = {
      t.operation()
      reads += 1
      // a traced run traces reads in pairs (1–2, 5–6, …) and leaves the
      // pairs between untraced, for the overhead estimate
      val traced = t.enabled && ((reads - 1) / 2) % 2 == 0
      val headTs = terms(rnd, reads, tail = false)
      val tailTs = terms(rnd, reads, tail = true)
      val t0 = System.nanoTime()
      def read() = t.span("bench", "fresh read") {
        val ix = t.span("fts", "IncrementalIndex.read")(IncrementalIndex.read(spark, logDir))
        readMs += Stats.ms(t0)
        val m0 = System.nanoTime()
        val ids = t.span("bench", "match") {
          val df = t.span("fts", "Search.matchAllIds")(Search.matchAllIds(ix, headTs))
          t.span("spark", "exec")(df.collect()).map(_.getLong(0))
        }
        val k0 = System.nanoTime()
        val top = t.span("bench", "topk") {
          val df = t.span("fts", "Search.scoreBm25")(Search.scoreBm25(ix, tailTs, 10))
          t.span("spark", "exec")(df.collect()).map(r => (r.getLong(0), r.getDouble(1)))
        }
        (ids, top, (k0 - m0) / 1e6, Stats.ms(k0))
      }
      val (ids, top, matchMs, topMs) =
        if (traced || !t.enabled) read() else t.untraced(read())
      val ms = Stats.ms(t0)
      liveDeltas += partitions(s"$logDir/postings_delta").toDouble
      val ok = ids.length == ids.distinct.length && ids.toSet == ref.eval(Ref.All(headTs)) &&
        Ref.sameTopK(top.toSeq, ref.topK(tailTs, 10))
      if (!ok) System.err.println(s"[perfbench] fresh-read mismatch on terms $headTs / $tailTs")
      reads_ += Read(ms, matchMs, topMs, ok, traced)
    }

    /** Delete and upsert 1% of the live ids each, compact into a new epoch
      * dir and register it, then check SQL over the table against the
      * merge-on-read view. */
    def mutateAndCompact(rnd: scala.util.Random): Unit = {
      t.operation()
      val live = rnd.shuffle(ref.ids.toVector.sorted)
      val k = math.max(1, (live.size * MutateShare).toInt)
      val (dels, ups) = (live.take(k), live.slice(k, 2 * k))
      val d0 = System.nanoTime()
      writing(0L)(t.span("fts", "IncrementalIndex.delete") {
        import spark.implicits._
        IncrementalIndex.delete(spark, logDir, dels.toDF("doc_id"))
      })
      deleteMs += Stats.ms(d0)
      dels.foreach(ref.remove)
      val fresh = corpus.docs(0L, ups.size, rnd).zip(ups).map { case (d, id) => d.copy(id = id) }
      upsert(fresh.toSeq)

      epochs += 1
      val epochDir = root.resolve(s"epoch_$epochs").toString
      val c0 = System.nanoTime()
      writing(Stats.diskBytes(Paths.get(epochDir)))(t.span("fts", "IncrementalIndex.compactAndRegister") {
        IncrementalIndex.compactAndRegister(spark, logDir, epochDir, tablePath,
          buckets = Buckets)
      })
      compactMs += Stats.ms(c0)
      liveMb += Stats.diskBytes(root) / 1e6

      val ts = terms(rnd, epochs, tail = false)
      val q0 = System.nanoTime()
      val sqlIds = t.span("bench", "query") {
        spark.read.parquet(tablePath).createOrReplaceTempView("ingest_docs")
        val df = t.span("sql", "analyze")(spark.sql(
          s"SELECT doc_id FROM ingest_docs WHERE fts_match(text, '${ts.mkString(" ")}')"))
        t.span("spark", "exec")(df.collect()).map(_.getLong(0))
      }
      sqlMs += Stats.ms(q0)
      val morIds = Search.matchAllIds(IncrementalIndex.read(spark, logDir), ts)
        .collect().map(_.getLong(0))
      val want = ref.eval(Ref.All(ts))
      val ok = sqlIds.length == sqlIds.distinct.length && sqlIds.toSet == morIds.toSet &&
        morIds.toSet == want
      if (!ok) {
        System.err.println(s"[perfbench] SQL vs merge-on-read mismatch on terms $ts")
        sqlFailed += 1
      }
    }

    def schedule(batches: Int, batchDocs: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      (0 until batches).foreach { b =>
        val t0 = System.nanoTime()
        batch(batchDocs, rnd)
        val t1 = System.nanoTime()
        freshRead(rnd)
        val t2 = System.nanoTime()
        if ((b + 1) % CompactEvery == 0) mutateAndCompact(rnd)
        Main.log(f"batch $b: ingest ${(t1 - t0) / 1e9}%.2f s, " +
          f"fresh read ${(t2 - t1) / 1e9}%.2f s, " +
          f"compact ${(System.nanoTime() - t2) / 1e9}%.2f s")
      }
    }
  }

  private def partitions(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else {
      val st = Files.list(p)
      try st.filter(_.getFileName.toString.contains("=")).count().toInt
      finally st.close()
    }
  }

  def run(ctx: Ctx): Result = {
    val t = ctx.tracer
    val corpus = new Gen.Corpus(ctx.seed, Vocab)

    // ---- set-up: a small slice of the schedule on a throwaway log ------
    val warmRoot = ctx.runDir.resolve("warmup")
    new Log(ctx, warmRoot, corpus, ctx.seed ^ 0x5eedL).schedule(WarmupBatches, WarmupDocs)
    Workloads.deleteTree(warmRoot)
    val warmOps = t.all.map(_.op).toSet
    val setupS = Main.sinceJvmStartS()

    // ---- timed schedule --------------------------------------------------
    val root = ctx.runDir.resolve("ingest")
    val log = new Log(ctx, root, corpus, ctx.seed * 31 + 11)
    log.schedule(Batches, BatchDocs)

    val rs = log.reads_.toSeq
    val untracedRs = rs.filterNot(_.traced)
    val m = mutable.Map.empty[String, (Double, String)]
    m("setup_s") = (setupS, "s")
    m("query_p50_ms") = (Stats.median(rs.map(_.ms)), "ms")
    m("query_p75_ms") = (Stats.quantile(rs.map(_.ms), 0.75), "ms")
    m("class.topk_p50_ms") = (Stats.median(untracedRs.map(_.topkMs)), "ms")
    m("ingest_docs_per_s") = (log.upsertDocs.sum / (log.upsertMs.sum / 1000.0), "docs/s")
    m("write_amp") = (log.writtenBytes.toDouble / log.textBytes, "ratio")
    m("disk_mb") = ((Stats.diskBytes(root) + Workloads.scratchBytes()) / 1e6, "MB")
    m("class.head_p50_ms") = (Stats.median(untracedRs.map(_.matchMs)), "ms")
    m("class.tail_p50_ms") = (Stats.median(untracedRs.map(_.topkMs)), "ms")

    if (t.enabled) {
      val spans = t.all.filterNot(s => warmOps.contains(s.op))
      def sumOf(name: String, k: String): Seq[Double] =
        spans.filter(_.name == name).map(_.counters(k) / 1e6)
      m("fts.upsert_ms") = (Stats.median(log.upsertMs.toSeq), "ms")
      m("ext.tokenize_mrows_s") = (Stats.median(log.tokenizeMrowsS.toSeq), "Mrows/s")
      m("fts.live_deltas") = (Stats.median(log.liveDeltas.toSeq), "count")
      m("fts.mor_read_ms") = (Stats.median(log.readMs.toSeq), "ms")
      m("fts.delete_ms") = (Stats.median(log.deleteMs.toSeq), "ms")
      m("fts.compact_ms") = (Stats.median(log.compactMs.toSeq), "ms")
      m("sql.after_compact_ms") = (Stats.median(log.sqlMs.toSeq), "ms")
      m("spark.upsert_shuffle_mb") = (Stats.median(sumOf("IncrementalIndex.upsert", "shuffle_write_bytes")), "MB")
      m("spark.upsert_spill_mb") = (Stats.median(sumOf("IncrementalIndex.upsert", "spill_bytes")), "MB")
      m("spark.upsert_output_mb") = (Stats.median(sumOf("IncrementalIndex.upsert", "output_bytes")), "MB")
      val compact = "IncrementalIndex.compactAndRegister"
      m("spark.compact_shuffle_mb") = (Stats.median(sumOf(compact, "shuffle_write_bytes")), "MB")
      m("spark.compact_spill_mb") = (Stats.median(sumOf(compact, "spill_bytes")), "MB")
      m("spark.compact_output_mb") = (Stats.median(sumOf(compact, "output_bytes")), "MB")
      m("fs.live_mb") = (log.liveMb.last, "MB")
      m("core.scratch_mb") = (Workloads.scratchBytes() / 1e6, "MB")
      val ops = spans.map(_.op).toSet
      Workloads.selfTimes(t, ops, m)
      m("trace.overhead_ms") =
        (Stats.median(rs.filter(_.traced).map(_.ms)) - Stats.median(untracedRs.map(_.ms)), "ms")
    }

    val shape = Map[String, Any](
      "batches" -> Batches,
      "batch_docs" -> BatchDocs,
      "docs_ingested" -> log.upsertDocs.sum,
      "tokens" -> log.tokens,
      "live_docs" -> log.ref.nDocs,
      "distinct_terms" -> log.ref.termsByDf.size,
      "epochs" -> log.epochs,
      "fresh_reads" -> rs.size,
      "head_queries" -> rs.size,
      "tail_queries" -> rs.size,
      "sql_queries" -> log.sqlMs.size,
      "upserts" -> log.upsertMs.size,
      "text_mb" -> log.textBytes / 1e6,
      "warmup_docs" -> WarmupBatches * WarmupDocs)
    Result(rs.size + log.sqlMs.size + log.upsertMs.size + log.deleteMs.size +
      log.compactMs.size, rs.count(!_.ok) + log.sqlFailed, m.toMap, shape)
  }
}
