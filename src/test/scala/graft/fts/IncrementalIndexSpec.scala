package graft.fts

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{JobCount, SparkSpec}

/** Streaming index ingest must converge to the same index a batch build
  * produces over the same documents. */
class IncrementalIndexSpec extends SparkSpec {

  test("foreachBatch deltas + merge-on-read == batch index build") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")

    input.addData((1L, "spark makes big data simple"), (2L, "big data big results"))
    val q1 = IncrementalIndex.start(stream, dir)
    q1.awaitTermination()
    input.addData((3L, "spark streaming of data streams"))
    val q2 = IncrementalIndex.start(stream, dir)
    q2.awaitTermination()

    val incr = IncrementalIndex.read(spark, dir)
    val batch = Index.build(
      Seq((1L, "spark makes big data simple"), (2L, "big data big results"),
        (3L, "spark streaming of data streams")).toDF("doc_id", "text"))

    def canon(ix: FtsIndex) = (
      ix.postings.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      ix.docLens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      ix.stats.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet)
    assert(canon(incr) == canon(batch))

    // compaction produces the canonical bucketed layout, scores unchanged
    val compactDir = graft.core.Scratch.dir("compact_ix_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(compactDir))
    IncrementalIndex.compact(spark, dir, compactDir)
    val persisted = Index.read(spark, compactDir)
    val s1 = Search.scoreBm25(persisted, Seq("spark"), 5).collect().map(_.toSeq)
    val s2 = Search.scoreBm25(batch, Seq("spark"), 5).collect().map(_.toSeq)
    assert(s1.toSeq == s2.toSeq)
  }

  test("tombstones remove docs from reads, stats, and compaction") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_del_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val rows = Seq(
      (1L, "spark makes big data simple"),
      (2L, "big data big results"),
      (3L, "spark streaming of data streams"))
    val input = MemoryStream[(Long, String)]
    input.addData(rows: _*)
    IncrementalIndex.start(input.toDF().toDF("doc_id", "text"), dir)
      .awaitTermination()
    IncrementalIndex.delete(spark, dir, Seq(2L).toDF("doc_id"))

    val incr = IncrementalIndex.read(spark, dir)
    val batch = Index.build(
      Seq(rows(0), rows(2)).toDF("doc_id", "text"))
    def canon(ix: FtsIndex) = (
      ix.postings.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      ix.docLens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      ix.stats.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet)
    assert(canon(incr) == canon(batch),
      "tombstoned read must equal a build over the surviving docs")
    // compaction reads through the tombstones: the compacted layout is
    // clean (no residual deleted postings, stats already shrunk)
    val outDir = graft.core.Scratch.dir("incr_ix_del_compact")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    IncrementalIndex.compact(spark, dir, outDir)
    val persisted = Index.read(spark, outDir)
    assert(persisted.postings.filter(
      org.apache.spark.sql.functions.col("doc_id") === 2L).isEmpty)
    assert(persisted.stats.collect()(0).getLong(0) == 2L)
  }

  test("upsert replaces a doc's version; delete-after-upsert removes it") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_ups_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "spark makes big data simple"),
      (2L, "big data big results"), (3L, "spark streaming of data streams"))
    IncrementalIndex.start(input.toDF().toDF("doc_id", "text"), dir)
      .awaitTermination()

    // replace doc 2's content — only the NEW version may be visible
    IncrementalIndex.upsert(spark, dir,
      Seq((2L, "fresh vector content")).toDF("doc_id", "text"))
    val afterUpsert = IncrementalIndex.read(spark, dir)
    val expect = Index.build(Seq(
      (1L, "spark makes big data simple"),
      (2L, "fresh vector content"),
      (3L, "spark streaming of data streams")).toDF("doc_id", "text"))
    def canon(ix: FtsIndex) = (
      ix.postings.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      ix.docLens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(canon(afterUpsert) == canon(expect),
      "upserted read must equal a corpus that always had the new text")

    // deleting the doc AFTER the upsert kills the new version too
    IncrementalIndex.delete(spark, dir, Seq(2L).toDF("doc_id"))
    val afterDelete = IncrementalIndex.read(spark, dir)
    assert(afterDelete.docLens.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(afterDelete.postings.filter(
      org.apache.spark.sql.functions.col("doc_id") === 2L).isEmpty)
  }

  test("compaction epochs: watermark recorded, folded partitions truncated, " +
      "two cycles stay correct") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_epoch_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    input.addData((1L, "spark makes big data simple"), (2L, "big data big results"))
    IncrementalIndex.start(stream, dir).awaitTermination()
    input.addData((3L, "spark streaming of data streams"))
    IncrementalIndex.start(stream, dir).awaitTermination()

    def livePartitions(sub: String): Set[String] = {
      val d = new java.io.File(s"$dir/$sub")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSet
    }
    assert(livePartitions("postings_delta") == Set("batch_id=0", "batch_id=1"))

    // epoch 1: fold batches 0..1, record watermark, truncate them
    val base1 = graft.core.Scratch.dir("incr_ix_epoch_base1")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base1))
    IncrementalIndex.compact(spark, dir, base1)
    assert(IncrementalIndex.compactionInfo(spark, dir).exists(_._2 == 1L),
      "compaction must record the folded watermark")
    assert(livePartitions("postings_delta").isEmpty &&
      livePartitions("doclens_delta").isEmpty,
      "folded delta partitions must be physically truncated")

    // post-epoch deltas: an upsert replaces doc 2 (tombstone lands at the
    // watermark, killing the BASE version; replacement is batch 2)
    IncrementalIndex.upsert(spark, dir,
      Seq((2L, "fresh vector content")).toDF("doc_id", "text"))
    assert(livePartitions("postings_delta") == Set("batch_id=2"),
      "the log after epoch 1 must hold ONLY post-watermark partitions")
    val expect = Index.build(Seq(
      (1L, "spark makes big data simple"),
      (2L, "fresh vector content"),
      (3L, "spark streaming of data streams")).toDF("doc_id", "text"))
    def canon(ix: FtsIndex) = (
      ix.postings.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      ix.docLens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(canon(IncrementalIndex.read(spark, dir)) == canon(expect),
      "read = compacted base + post-watermark deltas must equal the batch build")

    // epoch 2: fold base1 + batch 2 into a NEW base; same view, log empty
    val base2 = graft.core.Scratch.dir("incr_ix_epoch_base2")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base2))
    IncrementalIndex.compact(spark, dir, base2)
    assert(IncrementalIndex.compactionInfo(spark, dir)
      .exists { case (b, w) => b == base2 && w == 2L })
    assert(livePartitions("postings_delta").isEmpty)
    assert(canon(IncrementalIndex.read(spark, dir)) == canon(expect),
      "the second epoch's merged view must be unchanged")
    assert(canon(FtsIndex(Index.read(spark, base2).postings
        .select("term", "doc_id", "tf"), Index.read(spark, base2).docLens, null))
      == canon(expect), "the epoch-2 base itself must hold the merged corpus")

    // folding INTO the live base is refused — it is an input of the fold
    val ex = intercept[IllegalArgumentException] {
      IncrementalIndex.compact(spark, dir, base2)
    }
    assert(ex.getMessage.contains("new"))
  }

  test("a stream resumed over an upsert-minted batch id fails loud") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_collide_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    input.addData((1L, "spark makes big data simple"))
    IncrementalIndex.start(stream, dir).awaitTermination() // batch 0
    // upsert mints batch 1 — the stream's checkpoint still thinks the next
    // batch is 1, so resuming it would merge two writers under one id
    IncrementalIndex.upsert(spark, dir,
      Seq((2L, "fresh vector content")).toDF("doc_id", "text"))
    input.addData((3L, "spark streaming of data streams"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IncrementalIndex.start(stream, dir).awaitTermination()
    }
    assert(ex.getMessage.contains("upsert"),
      s"collision must name the upsert, got: ${ex.getMessage.take(300)}")
  }

  test("the upsert-collision guard survives compaction truncating the marker") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_collide_compact_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    input.addData((1L, "spark makes big data simple"))
    IncrementalIndex.start(stream, dir).awaitTermination() // batch 0
    IncrementalIndex.upsert(spark, dir,                    // mints batch 1
      Seq((2L, "fresh vector content")).toDF("doc_id", "text"))
    // compaction folds batches 0–1 and TRUNCATES their partitions — the
    // physical _graft_upsert marker dies with batch_id=1; the epoch record
    // must carry the id forward or the resumed stream below would write
    // batch 1 under the watermark and read() would silently drop it
    val outDir = graft.core.Scratch.dir("incr_ix_collide_compact_base")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    IncrementalIndex.compact(spark, dir, outDir)
    input.addData((3L, "spark streaming of data streams"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      IncrementalIndex.start(stream, dir).awaitTermination()
    }
    assert(ex.getMessage.contains("upsert"),
      s"post-compaction collision must still name the upsert, got: " +
        ex.getMessage.take(300))

    // and the record survives a SECOND compaction (union of the carried
    // record with the new epoch's live markers, not an overwrite): a second
    // upsert mints batch 2 (post-watermark, physical marker), compaction
    // folds it, and BOTH ids must be recorded
    IncrementalIndex.upsert(spark, dir,
      Seq((4L, "another document entirely")).toDF("doc_id", "text"))
    val outDir2 = graft.core.Scratch.dir("incr_ix_collide_compact_base2")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir2))
    IncrementalIndex.compact(spark, dir, outDir2)
    val props = {
      val p = new org.apache.hadoop.fs.Path(dir, IncrementalIndex.CompactionFile)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      val pr = new java.util.Properties(); try pr.load(in) finally in.close(); pr
    }
    assert(props.getProperty("upsertBatches") == "1,2",
      s"second compaction must union old + new upsert ids, got: " +
        props.getProperty("upsertBatches"))
    // the folded view still serves all surviving docs
    assert(IncrementalIndex.read(spark, dir).docLens.collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("positional ingest: merge-on-read position lists == batch positional") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val dir = graft.core.Scratch.dir("incr_ix_pos_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val rows = Seq(
      (1L, "big data big query engine"),
      (2L, "data and more data then a query"),
      (3L, "query before data"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    input.addData(rows(0), rows(1))
    IncrementalIndex.start(stream, dir, positional = true).awaitTermination()
    input.addData(rows(2))
    IncrementalIndex.start(stream, dir, positional = true).awaitTermination()

    val incr = IncrementalIndex.read(spark, dir)
    val batch = Index.build(rows.toDF("doc_id", "text"), positional = true)
    def canonPos(ix: FtsIndex) = ix.postings.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3).toList)).toSet
    assert(canonPos(incr) == canonPos(batch))
    // proximity straight off the merged deltas equals the batch answer
    val a = Search.matchNear(incr, "data", "query", 3)
      .collect().map(_.getLong(0)).toSet
    val b = Search.matchNear(batch, "data", "query", 3)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("a compacted stemmed log records its analyzer and serves SQL under it") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext

    val table = graft.core.Scratch.freshDir("incr_ix_an_table")
    spark.read.parquet(sf("documents")).select("doc_id", "text").write.parquet(table)
    val rows = spark.read.parquet(table).as[(Long, String)].collect().toSeq
    val cfg = AnalyzerConfig(stopWords = Seq("the"), sStem = true, minTokenLen = 2)
    val dir = graft.core.Scratch.freshDir("incr_ix_an_log")
    val outDir = graft.core.Scratch.freshDir("incr_ix_an_base")
    // half streamed through the analyzer, half upserted (which replays it)
    val (streamed, upserted) = rows.splitAt(rows.size / 2)
    val input = MemoryStream[(Long, String)]
    input.addData(streamed)
    IncrementalIndex.start(input.toDF().toDF("doc_id", "text"), dir, analyzer = cfg)
      .awaitTermination()
    IncrementalIndex.upsert(spark, dir, upserted.toDF("doc_id", "text"))
    IncrementalIndex.compact(spark, dir, outDir)
    assert(Index.read(spark, outDir).analyzer == cfg,
      "the compacted layout must record the log's analyzer")
    try {
      IndexCatalog.clear()
      IndexCatalog.register(table, outDir)
      assert(IndexCatalog.get(table).exists(_.analyzer == cfg))
      spark.read.parquet(table).createOrReplaceTempView("docs_incr_an")
      val served = spark.sql(
        "SELECT doc_id FROM docs_incr_an WHERE fts_match(text, 'the queries window')")
        .collect().map(_.getLong(0)).toSet
      val expect = Search.matchAllIds(Index.build(rows.toDF("doc_id", "text"), analyzer = cfg),
          cfg.normalizeTerms(Seq("the", "queries", "window")))
        .collect().map(_.getLong(0)).toSet
      assert(expect.nonEmpty, "dead fixture")
      assert(served == expect)
    } finally IndexCatalog.clear()
  }

  test("time travel: pre-mutation views; history below the watermark fails loud") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = sparkS.sqlContext
    val dir = graft.core.Scratch.dir("tt_ix_test")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    input.addData((1L, "alpha beta"), (2L, "gamma delta"))
    IncrementalIndex.start(stream, dir).awaitTermination()          // batch 0
    input.addData((3L, "epsilon zeta"))
    IncrementalIndex.start(stream, dir).awaitTermination()          // batch 1

    def docsAt(asOf: Long): Set[Long] =
      IncrementalIndex.readAsOf(spark, dir, asOf)
        .docLens.collect().map(_.getLong(0)).toSet

    assert(docsAt(0L) == Set(1L, 2L), "frontier 0 excludes batch 1")
    assert(docsAt(1L) == Set(1L, 2L, 3L))

    // a delete stamped as_of = 1 applies STRICTLY after 1
    IncrementalIndex.delete(spark, dir, Seq(2L).toDF("doc_id"))
    assert(docsAt(1L) == Set(1L, 2L, 3L), "delete invisible at its own stamp")
    assert(docsAt(2L) == Set(1L, 3L))

    // an upsert (tombstone as_of = 1, replacement batch 2): frontier 1
    // still serves the OLD text, frontier 2 the new
    IncrementalIndex.upsert(spark, dir, Seq((1L, "alpha rewritten")).toDF("doc_id", "text"))
    def termsOf(asOf: Long): Set[String] =
      IncrementalIndex.readAsOf(spark, dir, asOf).postings
        .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
        .collect().map(_.getString(0)).toSet
    assert(termsOf(1L) == Set("alpha", "beta"), "pre-upsert view intact")
    assert(termsOf(2L) == Set("alpha", "rewritten"))
    assert(IncrementalIndex.read(spark, dir).postings
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .collect().map(_.getString(0)).toSet == Set("alpha", "rewritten"),
      "read() == readAsOf(infinity)")

    // compaction truncates history: views below the watermark fail loud
    val base = graft.core.Scratch.dir("tt_ix_base")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    IncrementalIndex.compact(spark, dir, base)
    val w = IncrementalIndex.compactionInfo(spark, dir).get._2
    val boom = intercept[IllegalArgumentException] {
      IncrementalIndex.readAsOf(spark, dir, w - 1)
    }
    assert(boom.getMessage.contains("watermark"))
    assert(docsAt(w) == Set(1L, 3L), "the watermark view itself survives")
  }

  /** Documents with `doc_id` of the given type (ids given as ints). */
  private def typedDocs(idType: org.apache.spark.sql.types.DataType)
                       (rows: Seq[(Int, String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val id: Int => Any = idType match {
      case LongType => _.toLong
      case StringType => i => s"d$i"
      case _ => i => i
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) =>
        org.apache.spark.sql.Row(id(i), t) }),
      StructType(Seq(StructField("doc_id", idType), StructField("text", StringType))))
  }

  /** A log holding every merge-on-read input — a compacted base, live
    * deltas, an upsert's tombstone and a delete's tombstone — whose live
    * documents at the end are [[mixedLogLive]]. */
  private def mixedLog(name: String,
                       docs: Seq[(Int, String)] => org.apache.spark.sql.DataFrame): String = {
    val dir = graft.core.Scratch.freshDir(name)
    IncrementalIndex.upsert(spark, dir, docs(Seq(1 -> "spark makes big data simple",
      2 -> "big data big results", 3 -> "spark streaming of data streams")))
    IncrementalIndex.upsert(spark, dir, docs(Seq(2 -> "big data fresh copy")))
    IncrementalIndex.delete(spark, dir, docs(Seq(3 -> "")).select("doc_id"))
    IncrementalIndex.compact(spark, dir, graft.core.Scratch.freshDir(s"${name}_base"),
      buckets = 4)
    IncrementalIndex.upsert(spark, dir, docs(Seq(5 -> "streams of spark data")))
    IncrementalIndex.delete(spark, dir, docs(Seq(1 -> "")).select("doc_id"))
    dir
  }

  private val mixedLogLive = Seq(2 -> "big data fresh copy", 5 -> "streams of spark data")

  test("merge-on-read views open without launching a Spark job") {
    val docs = typedDocs(org.apache.spark.sql.types.LongType) _
    val dir = mixedLog("mor_jobs", docs)
    // base + deltas + tombstones: the schema comes from parquet footers, so
    // opening the view runs no inference job (it used to launch 6)
    val (view, jobs) = JobCount(spark)(IncrementalIndex.read(spark, dir))
    assert(jobs == 0, s"IncrementalIndex.read launched $jobs jobs")
    assert(JobCount(spark)(IncrementalIndex.readAsOf(spark, dir, 2L))._2 == 0)
    val expect = Index.build(docs(mixedLogLive))
    def canon(ix: FtsIndex) = (
      ix.postings.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      ix.docLens.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(canon(view) == canon(expect))
  }

  test("INT and STRING doc ids keep their type through upsert, delete, compact, read") {
    import org.apache.spark.sql.types._
    for (idType <- Seq(IntegerType, StringType)) {
      val docs = typedDocs(idType) _
      val dir = mixedLog(s"mor_ids_${idType.typeName}", docs)
      val view = IncrementalIndex.read(spark, dir)
      val expect = Index.build(docs(mixedLogLive))
      def fields(d: org.apache.spark.sql.DataFrame) =
        d.schema.fields.map(f => f.name -> f.dataType).toSeq
      assert(fields(view.postings) == fields(expect.postings), idType)
      assert(fields(view.docLens) == fields(expect.docLens), idType)
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
      assert(rows(view.postings) == rows(expect.postings), idType)
      assert(rows(view.docLens) == rows(expect.docLens), idType)
      // each footer-schema read equals the inference read it replaces —
      // nullability and column order included
      val (base, _) = IncrementalIndex.compactionInfo(spark, dir).get
      for (sub <- Seq("postings", "doclens", "stats"))
        assert(Index.readParquet(spark, s"$base/$sub").schema ==
          spark.read.parquet(s"$base/$sub").schema, s"$idType base $sub")
      for ((sub, c) <- Seq("postings_delta" -> "batch_id",
          "doclens_delta" -> "batch_id", "deletes_delta" -> "as_of"))
        assert(Index.readParquet(spark, s"$dir/$sub", StructField(c, LongType)).schema ==
          spark.read.parquet(s"$dir/$sub").withColumn(c,
            org.apache.spark.sql.functions.col(c).cast("long")).schema,
          s"$idType $sub")
    }
  }
}
