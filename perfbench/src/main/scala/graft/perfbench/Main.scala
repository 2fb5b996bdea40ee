package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one workload run needs: the session, the tracer, the run's seed,
  * the measuring window, and a run-scoped directory for every file the
  * run writes (deleted by the launcher when the run ends). */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     seconds: Int, runDir: Path) {
  def dir(name: String): String = runDir.resolve(name).toString
}

/** A workload's outcome. `metrics` maps name → (value, unit). */
final case class Result(attempted: Int, failed: Int,
                        metrics: Map[String, (Double, String)],
                        shape: Map[String, Any])

/** Entry point of the benchmark JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --run-dir <dir> --trace-file <file>`.
  * Prints the run's shape and, as its last line, the result JSON. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (known: ${Workloads.names.mkString(", ")})")
    Files.createDirectories(runDir)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = Ctx(spark, tracer, seed, seconds, runDir)

    Main.log(f"session ready at ${sinceJvmStartS()}%.1f s after JVM start")
    val res = Workloads.run(workload, ctx)
    val heapMb = retainedHeapMb()
    spark.stop()
    Main.log("workload done")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      Metrics.EndToEnd.foreach { case (name, unit) =>
        val v = if (name == "retained_heap_mb") heapMb
                else if (name == "ok_ratio")
                  1.0 - res.failed.toDouble / math.max(1, res.attempted)
                else res.metrics(name)._1
        metrics(name) = (v, unit)
      }
    } else {
      Metrics.PerLayer.foreach { case (name, unit) =>
        metrics(name) = (res.metrics.get(name).map(_._1).getOrElse(0.0), unit)
      }
      opts.get("trace-file").foreach { f =>
        tracer.write(Paths.get(f), Map("workload" -> workload, "seed" -> seed,
          "seconds" -> seconds) ++ res.shape)
      }
    }
    println("shape " + Json.obj(res.shape))
    val out = Map(
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json.obj(out))
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1f s] $msg")

  /** Seconds since the JVM started: `setup_s` is this, read at the first
    * timed operation. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Heap in use after a full collection, in MB: the least of several
    * collections, since Spark releases some state asynchronously (its
    * cleaner reacts to what the previous collection found unreachable). */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }
}

/** The metric catalogue the result line reports: every end-to-end metric
  * on an untraced run, every per-layer metric on a traced one (0 where a
  * workload does not exercise the layer). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "query_p50_ms" -> "ms",
    "query_p75_ms" -> "ms",
    "ingest_docs_per_s" -> "docs/s",
    "write_amp" -> "ratio",
    "disk_mb" -> "MB",
    "retained_heap_mb" -> "MB",
    "ok_ratio" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    // search_serve, per query
    "sql.analyze_ms" -> "ms",
    "fts.parse_us" -> "us",
    "ext.optimize_ms" -> "ms",
    "catalog.fingerprint_ms" -> "ms",
    "catalog.entries_ms" -> "ms",
    "sql.plan_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.task_ms_per_query" -> "ms",
    "spark.input_rows_per_result" -> "ratio",
    "spark.input_mb_per_query" -> "MB",
    // latency classes (untraced operations of the traced run)
    "class.topk_p50_ms" -> "ms",
    "class.head_p50_ms" -> "ms",
    "class.tail_p50_ms" -> "ms",
    "class.qstring_p50_ms" -> "ms",
    // index build (search_serve set-up)
    "fts.build_s" -> "s",
    "spark.build_shuffle_mb" -> "MB",
    "spark.build_output_mb" -> "MB",
    // ingest_compact
    "fts.upsert_ms" -> "ms",
    "ext.tokenize_mrows_s" -> "Mrows/s",
    "fts.live_deltas" -> "count",
    "fts.mor_read_ms" -> "ms",
    "fts.delete_ms" -> "ms",
    "fts.compact_ms" -> "ms",
    "sql.after_compact_ms" -> "ms",
    "spark.upsert_shuffle_mb" -> "MB",
    "spark.upsert_spill_mb" -> "MB",
    "spark.upsert_output_mb" -> "MB",
    "spark.compact_shuffle_mb" -> "MB",
    "spark.compact_spill_mb" -> "MB",
    "spark.compact_output_mb" -> "MB",
    "fs.live_mb" -> "MB",
    "core.scratch_mb" -> "MB",
    // self time per layer, per operation
    "self.core_ms" -> "ms",
    "self.sql_ms" -> "ms",
    "self.ext_ms" -> "ms",
    "self.fts_ms" -> "ms",
    "self.spark_ms" -> "ms",
    "self.bench_ms" -> "ms",
    // traced minus untraced median operation latency
    "trace.overhead_ms" -> "ms")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Bytes under `p` (0 when absent). */
  def diskBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally st.close()
    }
}
