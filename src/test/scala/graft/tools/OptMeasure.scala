package graft.tools

/** Optimization-round measurement driver (guide §1: measure first).
  *
  * Times named queries in isolation with the SAME methodology as Bench
  * (noop sink, clearCache between runs), best-of-N so host steal windows
  * don't masquerade as regressions, and optionally dumps each query's
  * `.explain("formatted")` to a file for the plans/ deliverable.
  *
  * Usage:
  *   runMain graft.tools.OptMeasure <nameOrPrefix...> [--reps=N]
  *     [--plans=DIR] [--suffix=_before] [--sf=/root/testdata/sf0.1]
  *
  * A bare prefix like `q_fts` selects every registered query that starts
  * with it; an exact name selects just that query.
  */
object OptMeasure {
  def main(args: Array[String]): Unit = {
    var reps = 3
    var plansDir: Option[String] = None
    var suffix = "_before"
    var sfDir = "/root/testdata/sf0.1"
    val sel = scala.collection.mutable.ArrayBuffer.empty[String]
    args.foreach {
      case a if a.startsWith("--reps=") => reps = a.stripPrefix("--reps=").toInt
      case a if a.startsWith("--plans=") => plansDir = Some(a.stripPrefix("--plans="))
      case a if a.startsWith("--suffix=") => suffix = a.stripPrefix("--suffix=")
      case a if a.startsWith("--sf=") => sfDir = a.stripPrefix("--sf=")
      case a => sel += a
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.localHive(
      graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // same session warmup as Bench so the first measured query isn't
    // charged the JIT ramp
    {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/nation.parquet")
        .join(spark.range(100).select(col("id").as("n_nationkey")), "n_nationkey")
        .groupBy("n_regionkey").agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }

    val all = graft.SparkEntry.queries
    val names = sel.flatMap { p =>
      if (all.contains(p)) Seq(p)
      else all.keys.filter(_.startsWith(p)).toSeq.sorted
    }.distinct
    require(names.nonEmpty, s"no queries match: ${sel.mkString(",")}")

    // where-does-the-time-go counters (guide §7.1 without the UI): jobs,
    // stages, tasks, executor task time, shuffle bytes — per measured run
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def snap(): (Long, Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskMs.get, shufR.get, shufW.get)

    names.foreach { name =>
      val fn = all(name)
      spark.sparkContext.setJobDescription(name)
      var lastStats = ""
      val times = (1 to reps).map { _ =>
        val pre = snap()
        val t0 = System.nanoTime()
        val ok = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[optmeasure] $name failed: ${e.getMessage}")
          false
        } finally spark.catalog.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; give them a beat
        Thread.sleep(150)
        val post = snap()
        lastStats = f"jobs=${post._1 - pre._1} stages=${post._2 - pre._2} " +
          f"tasks=${post._3 - pre._3} taskSec=${(post._4 - pre._4) / 1e3}%.1f " +
          f"shufMB=${(post._5 - pre._5 + post._6 - pre._6) / 2.0 / 1e6}%.1f"
        if (ok) dt else -1.0
      }
      plansDir.foreach { d =>
        scala.util.Try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name$suffix.txt"),
            plan.getBytes("UTF-8"))
        }.failed.foreach(e =>
          System.err.println(s"[optmeasure] plan dump $name failed: ${e.getMessage}"))
        spark.catalog.clearCache()
      }
      val best = times.filter(_ >= 0) match {
        case s if s.nonEmpty => s.min
        case _ => -1.0
      }
      println(f"[optmeasure] $name%-34s best=$best%7.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}  $lastStats")
    }
    spark.stop()
  }
}
