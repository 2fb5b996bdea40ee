package graft.tools

import java.nio.charset.StandardCharsets.UTF_8

import graft.ext.FtsShapes

/** Writes, for every query of the full-text agreement grid
  * ([[graft.ext.FtsShapes]]: each WHERE shape and bad-argument shape under
  * each projection, plus the `fts_score` top-k queries with and without an
  * extra conjunct, and the lang-scored two-column shapes), under each of
  * seven registrations of the agreement table (none, v1 tf-only, v1
  * positional, analyzer positional, v1 tf-only indexes on both text and
  * lang, v1 positional with 16 buckets instead of the default 64, and
  * analyzer positional registered by `restore` from the layout's own
  * metadata in a cleared catalog):
  *  - the optimized logical plan, expression ids normalized to `#N` and
  *    lambda variable numbers to `_N` (both come from JVM-wide counters,
  *    so they shift with every DataFrame a build happens to construct);
  *  - the md5 of the sorted result rows, or the error message.
  *
  * Two builds' outputs diff to the plan and result changes between them.
  *
  * Usage: `Test/runMain graft.tools.PlanGrid <outFile> <sfDir>`, where
  * `<sfDir>` holds the fixture's `documents.parquet`. Tables and indexes
  * go under the working directory's `target/qtmp`.
  */
object PlanGrid {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanGrid <outFile> <sfDir>")
    val Array(outFile, sfDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val table = graft.core.Scratch.freshDir("plan_grid_table")
    FtsShapes.writeTable(spark, s"$sfDir/documents.parquet", table)
    spark.read.parquet(table).createOrReplaceTempView("docs_agree")
    val (absent, unfilled) = FtsShapes.probeTerms(spark, "docs_agree")
    val where = for (p <- FtsShapes.projections;
                     w <- FtsShapes.shapes(absent, unfilled) ++ FtsShapes.badArgs)
      yield s"SELECT $p FROM docs_agree WHERE $w"
    val scores = for (q <- FtsShapes.scoreQueries(absent, unfilled);
                      c <- None +: FtsShapes.scoreConjuncts.map(Some(_)))
      yield FtsShapes.topkSql("docs_agree", q, c)
    val langScores = FtsShapes.langBounded.flatMap(FtsShapes.langScoreSql("docs_agree", _))
    val registrations = Seq[(String, Seq[String => Unit])](
      "none" -> Nil,
      "v1 tf-only" -> Seq(graft.fts.Index.createIndex(spark, table, _)),
      "v1 positional" -> Seq(graft.fts.Index.createIndex(spark, table, _,
        positional = true)),
      "analyzer positional" -> Seq(graft.fts.Index.createIndex(spark, table, _,
        positional = true, analyzer = graft.fts.AnalyzerConfig(
          stopWords = Seq("the", "of"), porter = true))),
      "v1 text + lang" -> Seq(graft.fts.Index.createIndex(spark, table, _),
        graft.fts.Index.createIndex(spark, table, _, textCol = "lang")),
      "v1 positional, 16 buckets" -> Seq(graft.fts.Index.createIndex(spark, table, _,
        buckets = 16, positional = true)),
      "analyzer positional, restored" -> Seq { (dir: String) =>
        graft.fts.Index.createIndex(spark, table, dir, positional = true,
          analyzer = graft.fts.AnalyzerConfig(stopWords = Seq("the", "of"), porter = true))
        graft.fts.IndexCatalog.clear()
        graft.fts.IndexCatalog.restore(spark, dir)
      })
    def message(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
        .getOrElse(e.toString)
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
        .map("%02x".format(_)).mkString
    val out = new StringBuilder
    for ((name, register) <- registrations) {
      graft.fts.IndexCatalog.clear()
      register.foreach(_(graft.core.Scratch.freshDir("plan_grid_index")))
      for (sql <- where ++ scores ++ langScores) {
        val df = scala.util.Try(spark.sql(sql))
        val plan = df.map(_.queryExecution.optimizedPlan.toString)
          .fold(e => s"error: ${message(e)}\n", identity)
        val result = df.map(_.collect().map(_.toString).sorted)
          .fold(e => s"error: ${message(e)}",
            rows => s"${rows.length} rows, md5 ${md5(rows.mkString("\n"))}")
        val normalized = plan.replaceAll("#\\d+", "#N")
          .replaceAll("\\b([a-z]+)_\\d+#N", "$1_N#N")
        out ++= s"== $name | $sql\n$normalized-> $result\n\n"
      }
    }
    graft.fts.IndexCatalog.clear()
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), out.toString.getBytes(UTF_8))
    println(s"[plangrid] ${registrations.size * (where.size + scores.size + langScores.size)} queries -> $outFile")
    spark.stop()
  }
}
