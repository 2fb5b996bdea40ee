package graft.fts

import graft.SparkSpec

/** Reuse-if-fresh in [[Index.createIndex]]: a second build over an
  * unchanged table with identical parameters must SKIP the rebuild (the
  * persisted layout's bytes are untouched), while any table change or
  * parameter change must rebuild. Detection is physical: the postings
  * parquet files' (path, length, mtime) set is identical iff no rebuild
  * happened — no reliance on timing. */
class IndexReuseSpec extends SparkSpec {

  private def listing(dir: String): Set[String] = {
    val p = new java.io.File(dir)
    if (!p.isDirectory) Set.empty
    else p.listFiles().filterNot(_.getName.startsWith("_")).map(f =>
      s"${f.getName}#${f.length}#${f.lastModified}").toSet
  }

  private def freshCorpus(n: Int): String = {
    val dir = graft.core.Scratch.freshDir("ixreuse_corpus")
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"data query engine doc $i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("identical re-create skips the rebuild; append and param change rebuild") {
    val corpus = freshCorpus(50)
    val ixDir = graft.core.Scratch.freshDir("ixreuse_ix")

    Index.createIndex(spark, corpus, ixDir)
    val first = listing(s"$ixDir/postings")
    assert(first.nonEmpty)

    // same table, same params → no rebuild: physical files untouched
    Index.createIndex(spark, corpus, ixDir)
    assert(listing(s"$ixDir/postings") === first,
      "identical createIndex must reuse the persisted layout")
    // and the registration is live (restore path ran)
    assert(IndexCatalog.entriesFor(corpus).nonEmpty)

    // append to the table → fingerprint changes → rebuild
    import spark.implicits._
    Seq((999L, "appended row with data")).toDF("doc_id", "text")
      .write.mode("append").parquet(corpus)
    Index.createIndex(spark, corpus, ixDir)
    val afterAppend = listing(s"$ixDir/postings")
    assert(afterAppend !== first, "table change must force a rebuild")

    // parameter change (positional) → rebuild even though table unchanged
    Index.createIndex(spark, corpus, ixDir, positional = true)
    assert(listing(s"$ixDir/postings") !== afterAppend,
      "parameter change must force a rebuild")

    // query correctness through the reused index: a second identical call
    // then a search must still find the appended row
    Index.createIndex(spark, corpus, ixDir, positional = true)
    val ix = Index.read(spark, ixDir)
    val hits = Search.matchAllIds(ix, Seq("appended")).collect().map(_.getLong(0))
    assert(hits.toSet === Set(999L))
  }

  test("a missing or torn meta file never blesses the layout") {
    val corpus = freshCorpus(10)
    val ixDir = graft.core.Scratch.freshDir("ixreuse_torn")
    Index.createIndex(spark, corpus, ixDir)
    // corrupt the meta file the way a crash mid-store would
    val meta = new java.io.File(ixDir, IndexCatalog.MetaFile)
    java.nio.file.Files.write(meta.toPath, "not a properties file\u0000".getBytes)
    assert(!IndexCatalog.metaMatches(spark, corpus, ixDir, "doc_id", "text",
      64, positional = false, AnalyzerConfig()))
    // and createIndex repairs it: rebuild + fresh meta, then reuse works
    Index.createIndex(spark, corpus, ixDir)
    val l1 = listing(s"$ixDir/postings")
    Index.createIndex(spark, corpus, ixDir)
    assert(listing(s"$ixDir/postings") === l1)
  }

  test("a meta file that records reversed=true still restores and is reused") {
    val corpus = freshCorpus(20)
    val ixDir = graft.core.Scratch.freshDir("ixreuse_reversed")
    Index.createIndex(spark, corpus, ixDir)
    // the meta file as builds that wrote a reversed-term layout left it
    // (through the filesystem, which keeps the file's checksum)
    val meta = new org.apache.hadoop.fs.Path(ixDir, IndexCatalog.MetaFile)
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = new java.util.Properties()
    val in = fs.open(meta)
    try props.load(in) finally in.close()
    props.setProperty("reversed", "true")
    val out = fs.create(meta, true)
    try props.store(out, "graft index registration") finally out.close()
    val built = listing(s"$ixDir/postings")
    try {
      IndexCatalog.clear()
      IndexCatalog.restore(spark, ixDir)
      assert(IndexCatalog.get(corpus).exists(_.indexDir == ixDir))
      IndexCatalog.clear()
      Index.createIndex(spark, corpus, ixDir)
      assert(listing(s"$ixDir/postings") === built,
        "a reversed=true meta file must not force a rebuild")
      assert(IndexCatalog.get(corpus).exists(_.indexDir == ixDir))
    } finally IndexCatalog.clear()
  }

  test("a meta file with buckets, positional and analyzer keys restores the same entry") {
    val corpus = freshCorpus(20)
    val ixDir = graft.core.Scratch.freshDir("ixreuse_old_keys")
    val cfg = AnalyzerConfig(stopWords = Seq("the"), sStem = true, minTokenLen = 2)
    try {
      Index.createIndex(spark, corpus, ixDir, positional = true, analyzer = cfg)
      val entry = IndexCatalog.get(corpus)
      assert(entry.exists(e => e.positional && e.analyzer == cfg))
      // the meta file as builds that stated the build choices there left it
      val meta = new org.apache.hadoop.fs.Path(ixDir, IndexCatalog.MetaFile)
      val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val props = new java.util.Properties()
      val in = fs.open(meta)
      try props.load(in) finally in.close()
      props.setProperty("buckets", "64")
      props.setProperty("positional", "true")
      props.setProperty("analyzer", cfg.describe)
      val out = fs.create(meta, true)
      try props.store(out, "graft index registration") finally out.close()
      val built = listing(s"$ixDir/postings")
      IndexCatalog.clear()
      IndexCatalog.restore(spark, ixDir)
      assert(IndexCatalog.get(corpus) == entry)
      IndexCatalog.clear()
      Index.createIndex(spark, corpus, ixDir, positional = true, analyzer = cfg)
      assert(listing(s"$ixDir/postings") === built,
        "a meta file with the old keys must not force a rebuild")
      assert(IndexCatalog.get(corpus) == entry)
    } finally IndexCatalog.clear()
  }

  test("a v1 rebuild over an analyzer layout drops the analyzer record") {
    val corpus = freshCorpus(20)
    val ixDir = graft.core.Scratch.freshDir("ixreuse_analyzer_to_v1")
    try {
      Index.createIndex(spark, corpus, ixDir,
        analyzer = AnalyzerConfig(stopWords = Seq("the"), sStem = true))
      assert(!Index.readAnalyzerConfig(spark, ixDir).isV1)
      Index.createIndex(spark, corpus, ixDir)
      assert(Index.readAnalyzerConfig(spark, ixDir).isV1)
      assert(Index.read(spark, ixDir).analyzer.isV1)
      assert(IndexCatalog.get(corpus).exists(_.analyzer.isV1))
    } finally IndexCatalog.clear()
  }

  test("a layout that records no bucket count is read unpruned and rebuilt once") {
    val corpus = freshCorpus(30)
    val ixDir = graft.core.Scratch.freshDir("ixreuse_unrecorded")
    try {
      Index.createIndex(spark, corpus, ixDir)
      // the postings as writers that recorded no bucket count left them:
      // the same rows and bucket partitions, no metadata on `term`
      val copy = graft.core.Scratch.freshDir("ixreuse_unrecorded_postings")
      val p = spark.read.parquet(s"$ixDir/postings")
      p.select(p.columns.map(c =>
          if (c == "term") p(c).as(c, org.apache.spark.sql.types.Metadata.empty) else p(c)): _*)
        .write.partitionBy("bucket").parquet(copy)
      graft.core.Scratch.deleteLocal(s"$ixDir/postings")
      java.nio.file.Files.move(java.nio.file.Paths.get(copy),
        java.nio.file.Paths.get(ixDir, "postings"))
      val old = Index.read(spark, ixDir)
      assert(old.buckets.isEmpty)
      // correct, but unpruned
      val hits = Search.matchAllIds(old, Seq("engine", "7"))
      assert(hits.collect().map(_.getLong(0)).toSet === Set(7L))
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(hits.queryExecution.executedPlan) {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.isEmpty),
        hits.queryExecution.executedPlan.toString)
      // not reused: createIndex rebuilds it once, then reuses the rebuild
      assert(!IndexCatalog.metaMatches(spark, corpus, ixDir, "doc_id", "text",
        64, positional = false, AnalyzerConfig()))
      val unrecorded = listing(s"$ixDir/postings")
      Index.createIndex(spark, corpus, ixDir)
      val rebuilt = listing(s"$ixDir/postings")
      assert(rebuilt !== unrecorded, "a layout with no recorded count must be rebuilt")
      assert(Index.read(spark, ixDir).buckets.contains(64))
      Index.createIndex(spark, corpus, ixDir)
      assert(listing(s"$ixDir/postings") === rebuilt)
    } finally IndexCatalog.clear()
  }

  test("tableFingerprint's listStatus walk reproduces the listFiles hash") {
    // the previous listing: fs.listFiles(recursive), `_`-named files skipped
    def listFilesHash(tablePath: String): Long = {
      val path = new org.apache.hadoop.fs.Path(tablePath)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var acc = 0L
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) {
          val h = scala.util.hashing.MurmurHash3.stringHash(
            s"${f.getPath}#${f.getLen}#${f.getModificationTime}")
          acc ^= (h.toLong << 32) | (Integer.rotateLeft(h, 13).toLong & 0xffffffffL)
        }
      }
      acc
    }
    import spark.implicits._
    val table = graft.core.Scratch.freshDir("fingerprint_table")
    (0 until 40).map(i => (i.toLong, s"doc $i", s"l${i % 3}", i % 2))
      .toDF("doc_id", "text", "lang", "part")
      .write.partitionBy("lang", "part").parquet(table)
    // bookkeeping files at every level, and a data file under a
    // `_`-prefixed directory (skipped by name only when the FILE is `_`-named)
    def touch(rel: String, body: String): Unit = {
      val f = new java.io.File(table, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    }
    touch("lang=l0/_marker", "x")
    touch("lang=l1/part=1/_committed_0", "xy")
    touch("_temporary/0/part-00000.parquet", "partial")
    val fp = IndexCatalog.tableFingerprint(table)
    assert(fp == listFilesHash(table))
    assert(fp != 0L)
    // and it still moves with the listing
    touch("lang=l2/part=0/part-99999.parquet", "appended")
    assert(IndexCatalog.tableFingerprint(table) != fp)
    assert(IndexCatalog.tableFingerprint(table) == listFilesHash(table))
  }
}
