package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict to the named queries (local debugging;
    // the driver always calls with exactly two args = full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.localHive(
      graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Oracle type-divergence lint (HUGEINT/decimal-widening class). Loud
    // warning only here — the HARD gate is OracleLintSpec under sbt test;
    // aborting the driver's Verify run over a lint would zero the round.
    graft.core.OracleLint.lintAll(SparkEntry.oracleSql).foreach { v =>
      System.err.println(s"[verify] ORACLE LINT VIOLATION: $v")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Round-7 failure mode: an analysis-time exception left no output
        // dir, so the query silently VANISHED from CORRECTNESS instead of
        // erroring. Dump a one-row sentinel whose schema can never match an
        // oracle — the driver then records the query as a present, failing
        // row carrying the message, never as silently absent.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            .toDF("_graft_query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch {
          case e2: Throwable =>
            // if even the sentinel write fails, the query DOES vanish from
            // CORRECTNESS — make that loud so the operator sees it happened
            System.err.println(
              s"[verify] $name sentinel write ALSO failed — query will be " +
                s"absent from CORRECTNESS: ${e2.getMessage}")
        }
      }
      finally spark.catalog.clearCache() // queries persist scratch frames
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
