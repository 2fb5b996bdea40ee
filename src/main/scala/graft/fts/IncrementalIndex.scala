package graft.fts

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField}

/** Incremental inverted-index maintenance for streaming document ingest
  * (SURVEY.md §7 step 6). Strategy: merge-on-read deltas — each micro-batch
  * appends its own postings partition (cheap, append-only, no read-modify-
  * write of the base index), readers aggregate deltas on the fly, and a
  * compaction job periodically folds deltas into the canonical bucketed
  * layout. The reference snapshot had no watermark/late-data story
  * (pre-watermark StreamExecution.scala:174); bounding state by delta files
  * + compaction sidesteps unbounded streaming aggregation state entirely.
  *
  * EPOCHS: the delta log does not grow forever. [[compact]] records a
  * WATERMARK (the highest folded batch id) plus the compacted base's
  * location in `_graft_compaction.properties` inside the delta dir, then
  * physically TRUNCATES the folded delta partitions and the tombstones they
  * absorbed. [[read]] is then compacted base + post-watermark deltas only —
  * the base rows participate in the merge as one pseudo-batch at the
  * watermark, so later tombstones (`batch_id ≤ as_of`, watermark ≤ as_of)
  * still kill base versions. The delta layout is PARTITIONED by batch id
  * (deltas) / as_of (tombstones), so the post-watermark filter is a
  * partition filter, truncation is a directory delete, and a crash-replayed
  * micro-batch idempotently overwrites only its own partition (dynamic
  * partition overwrite) — the lifecycle the reference's state store manages
  * with checkpoint versions (HDFSBackedStateStoreProvider.scala:68).
  */
object IncrementalIndex {

  /** Compaction-epoch metadata dropped inside the delta dir. */
  val CompactionFile = "_graft_compaction.properties"

  /** Marker file [[upsert]] drops inside its delta partition: a resumed
    * stream whose checkpointed batch counter collides with an upsert-minted
    * batch id fails LOUD instead of silently merging two writers' batches
    * under one id (the versioned tombstone anti-join would then kill new
    * stream rows or resurrect upserted docs). */
  val UpsertMarker = "_graft_upsert"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (baseDir, watermark) of the last compaction, if any. */
  def compactionInfo(spark: SparkSession, dir: String): Option[(String, Long)] = {
    val p = new Path(dir, CompactionFile)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val props = new java.util.Properties()
      try props.load(in) finally in.close()
      Some((props.getProperty("baseDir"),
        props.getProperty("watermark").toLong))
    }
  }

  private def writeCompactionInfo(spark: SparkSession, dir: String,
                                  baseDir: String, watermark: Long,
                                  upsertBatches: Set[Long]): Unit = {
    val props = new java.util.Properties()
    props.setProperty("baseDir", baseDir)
    props.setProperty("watermark", watermark.toString)
    if (upsertBatches.nonEmpty)
      props.setProperty("upsertBatches",
        upsertBatches.toSeq.sorted.mkString(","))
    val p = new Path(dir, CompactionFile)
    val out = fsOf(spark, p).create(p, true)
    try props.store(out, "graft delta-log compaction epoch")
    finally out.close()
  }

  /** Upsert-minted batch ids whose delta partitions compaction has already
    * folded and truncated. The physical [[UpsertMarker]] files die with
    * their partitions, so [[compact]] carries the ids forward here —
    * without this record, a stream resumed from a pre-upsert checkpoint
    * would re-mint a folded upsert's batch id post-compaction and its
    * documents would be silently dropped by [[read]]'s post-watermark
    * filter (the exact silent two-writer merge the marker exists to catch). */
  private def recordedUpsertBatches(spark: SparkSession, dir: String): Set[Long] = {
    val p = new Path(dir, CompactionFile)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Set.empty
    else {
      val in = fs.open(p)
      val props = new java.util.Properties()
      try props.load(in) finally in.close()
      Option(props.getProperty("upsertBatches")).toSet[String]
        .flatMap(_.split(',').iterator.filter(_.nonEmpty).map(_.toLong))
    }
  }

  /** Live delta partitions stamped with a physical [[UpsertMarker]]. */
  private def liveUpsertBatches(spark: SparkSession, dir: String): Set[Long] = {
    val fs = fsOf(spark, new Path(dir))
    partitionIds(spark, s"$dir/postings_delta", "batch_id")
      .filter(id => fs.exists(
        new Path(s"$dir/postings_delta/batch_id=$id/$UpsertMarker")))
      .toSet
  }

  /** The live partition values of a partitioned delta directory (parsed
    * from `col=value` child dirs) — one LIST, no parquet footer reads. */
  private def partitionIds(spark: SparkSession, dir: String,
                           colName: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$colName=") =>
        n.stripPrefix(s"$colName=").toLong }
  }

  /** A partitioned delta directory as a DataFrame with its partition column
    * typed LONG (partition-value inference would yield INT for small ids),
    * or None when the directory has no live partitions. The data schema
    * comes from one parquet footer ([[Index.readParquet]]), so opening the
    * directory launches no schema-inference job. */
  private def loadDelta(spark: SparkSession, dir: String,
                        colName: String): Option[DataFrame] =
    if (partitionIds(spark, dir, colName).isEmpty) None
    else Some(Index.readParquet(spark, dir, StructField(colName, LongType)))

  /** Start a foreachBatch sink that appends per-batch postings deltas,
    * each batch built by [[Index.build]] with `analyzer` and `positional`.
    * `positional = true` captures per-doc position lists in the deltas —
    * downstream readers/compaction detect the positions column
    * automatically, and a compacted positional index serves SQL
    * `fts_near`/`fts_phrase` from position lists alone. A non-default
    * `analyzer` runs every batch through the configured pipeline and is
    * recorded in the delta dir — [[upsert]] replays it for replacements and
    * [[read]] carries it, so the compacted layout records it too and a
    * STREAMED corpus serves stemmed/stopworded/CJK SQL search end to end. */
  def start(docsStream: DataFrame, dir: String,
            idCol: String = "doc_id", textCol: String = "text",
            positional: Boolean = false,
            analyzer: AnalyzerConfig = AnalyzerConfig()): StreamingQuery = {
    if (!analyzer.isV1)
      Index.writeAnalyzerConfig(docsStream.sparkSession, dir, analyzer)
    docsStream.writeStream
      .outputMode("append")
      // durable offsets: a restarted ingest must NOT replay batches into the
      // delta log (exactly-once = offset WAL + per-partition idempotent
      // overwrite below)
      .option("checkpointLocation", s"$dir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // an existing partition for this id is either (a) a crash-replayed
        // batch — overwritten idempotently below — or (b) an UPSERT batch
        // the stream's checkpoint doesn't know about: fail loud, the two
        // writers' id spaces have collided (ADVICE r5)
        val part = new Path(s"$dir/postings_delta/batch_id=$batchId")
        // the marker may be physical (live partition) or carried forward in
        // the epoch record (compaction truncated the partition). A plain
        // batchId ≤ watermark check would NOT do: a crash-replayed stream
        // batch that compaction already folded legitimately re-lands under
        // the watermark (read() correctly ignores it — the data is in the
        // base); only an id minted by the OTHER writer means collision.
        if (fsOf(spark, part).exists(new Path(part, UpsertMarker)) ||
            recordedUpsertBatches(spark, dir).contains(batchId))
          throw new IllegalStateException(
            s"delta batch $batchId at $dir was minted by upsert(); the " +
              "stream's checkpointed batch counter has fallen behind the " +
              "delta log. Restart the ingest with a fresh checkpoint, or " +
              "quiesce upserts while a stream checkpoint is live.")
        // ONE build per batch: docLens derives from the same postings frame,
        // so a second Index.build would re-run scan→tokenize→explode→groupBy
        // for a frame the first call already produced (2× tokenize on the
        // ingest path)
        writeDeltaBatch(Index.build(batch, idCol, textCol, analyzer, positional),
          dir, batchId)
      }
      .start()
  }

  /** Write one batch's postings + doclens as `batch_id=N` partitions.
    * Dynamic partition overwrite: a replayed batch replaces ONLY its own
    * partition — idempotent without read-modify-write. */
  private def writeDeltaBatch(ix: FtsIndex, dir: String, batchId: Long): Unit = {
    val spark = ix.postings.sparkSession
    ix.postings
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$dir/postings_delta")
    // the doclens delta re-derives from the postings partition JUST
    // written (dl = Σtf per doc, the docLens definition in every build
    // variant) — ix.docLens would re-run the batch's scan→tokenize→
    // aggregate a second time, doubling per-batch ingest CPU
    Index.readParquet(spark, s"$dir/postings_delta/batch_id=$batchId")
      .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$dir/doclens_delta")
  }

  /** Highest batch id the log has EVER carried: live delta partitions or,
    * when compaction truncated them all, the recorded watermark. One
    * directory listing, no data read. */
  private def currentMaxBatch(spark: SparkSession, dir: String): Option[Long] = {
    val live = partitionIds(spark, s"$dir/postings_delta", "batch_id")
    val wm = compactionInfo(spark, dir).map(_._2)
    (live ++ wm) match {
      case Nil => None
      case ids => Some(ids.max)
    }
  }

  /** Append document TOMBSTONES as of the latest ingested batch: the
    * deleted docs' CURRENT versions disappear from every subsequent
    * merge-on-read view ([[read]] anti-joins `batch_id ≤ as_of` — the
    * compacted base counts as batch `watermark`) and from the next
    * compaction — the merge-on-read DELETE pattern: base postings stay
    * immutable, removal is data, not mutation. Versioning the tombstone
    * ("delete what exists now") is what lets a later [[upsert]] re-add the
    * same doc id. Idempotent; a delete before any ingest is a no-op. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String = "doc_id"): Unit =
    currentMaxBatch(spark, dir).foreach(asOf =>
      writeTombstones(spark, dir, ids, idCol, asOf))

  private def writeTombstones(spark: SparkSession, dir: String, ids: DataFrame,
                              idCol: String, asOf: Long): Unit =
    ids.select(col(idCol).as("doc_id")).distinct()
      .withColumn("as_of", lit(asOf))
      .write.mode(SaveMode.Append).partitionBy("as_of")
      .parquet(s"$dir/deletes_delta")

  /** UPSERT: tombstone the docs' current versions and append the
    * replacements as a new delta batch (positional if the log is) — an
    * update costs one tombstone + one doc-sized append, never an index
    * rewrite. Single-writer like the streaming sink; the batch partition is
    * stamped with [[UpsertMarker]] so a stream resumed from an older
    * checkpoint fails loud instead of colliding with the upserted id. */
  def upsert(spark: SparkSession, dir: String, docs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // ONE metadata pass over the log: live partitions + epoch info
    val maxBatch = currentMaxBatch(spark, dir)
    val nextBatch = maxBatch.map(_ + 1).getOrElse(0L)
    maxBatch.foreach(asOf =>
      writeTombstones(spark, dir, docs.select(col(idCol)), idCol, asOf))
    // positional? — from the live deltas' footer schema, else the
    // compacted base's (a driver-side footer read, no Spark job)
    val conf = spark.sparkContext.hadoopConfiguration
    val positional =
      Index.footerSchema(conf, s"$dir/postings_delta")
        .orElse(compactionInfo(spark, dir).flatMap { case (base, _) =>
          Index.footerSchema(conf, s"$base/postings") })
        .exists(_.fieldNames.contains("positions"))
    // replacements MUST go through the same pipeline the log was built with
    writeDeltaBatch(Index.build(docs, idCol, textCol,
      Index.readAnalyzerConfig(spark, dir), positional), dir, nextBatch)
    val marker = new Path(s"$dir/postings_delta/batch_id=$nextBatch/$UpsertMarker")
    fsOf(spark, marker).create(marker, true).close()
  }

  /** Merge-on-read view: the compacted base (if any) + POST-WATERMARK
    * deltas. TOMBSTONES ([[delete]]/[[upsert]]) are applied to the RAW rows
    * first — a tombstone kills rows with `batch_id ≤ as_of`, and base rows
    * carry `batch_id = watermark` so post-compaction deletes reach them —
    * then rows aggregate per (term, doc_id): safe because a doc LIVES in
    * exactly one surviving batch (append-only ingest + upsert's
    * tombstone-then-append). A positions column (positional ingest) is
    * detected from the schema and carried through; corpus stats re-derive
    * from the surviving doc lengths. The view carries the analyzer the log
    * records, so a layout [[compact]] writes from it records it too.
    * Tombstones at or below the watermark were folded by compaction and
    * truncated with their partitions. */
  def read(spark: SparkSession, dir: String): FtsIndex =
    readAsOf(spark, dir, Long.MaxValue)

  /** TIME-TRAVEL read: the merge-on-read view at ingest frontier `asOf` —
    * ingest batches `≤ asOf` are visible, and a tombstone stamped
    * `as_of = t` (a delete issued after batch t, or an upsert versioning
    * against t whose replacement rows land at t+1) applies to views
    * STRICTLY after t. So `readAsOf(t)` is the pre-mutation index,
    * `readAsOf(t+1)` sees the mutation, and [[read]] ≡ `readAsOf(∞)` —
    * the snapshot-isolation rule a data-lake table format gives you,
    * over the same partitioned delta log (both visibility filters are
    * PARTITION filters). History below the compaction watermark is
    * folded and physically truncated, so those views are gone: asking
    * for one fails loud rather than silently serving the folded state. */
  def readAsOf(spark: SparkSession, dir: String, asOf: Long): FtsIndex = {
    val comp = compactionInfo(spark, dir)
    val watermark = comp.map(_._2)
    watermark.filter(_ > asOf).foreach { w =>
      throw new IllegalArgumentException(
        s"time travel to batch $asOf at $dir is below the compaction " +
          s"watermark $w — compaction folded and truncated that history; " +
          "retained views start at the watermark")
    }
    // live deltas, restricted to post-watermark (truncation already removed
    // the folded partitions; the filter guards the crash window between the
    // epoch write and the directory deletes — and it is a PARTITION filter)
    // and to the time-travel frontier (a tautology for read())
    def liveDelta(sub: String): Option[DataFrame] =
      loadDelta(spark, s"$dir/$sub", "batch_id")
        .map(d => watermark.fold(d)(w => d.filter(col("batch_id") > w)))
        .map(_.filter(col("batch_id") <= asOf))
    val base = comp.map { case (baseDir, w) =>
      val ix = Index.read(spark, baseDir)
      // the base participates as one pseudo-batch AT the watermark: later
      // tombstones (as_of ≥ watermark) kill base versions, earlier ones
      // are already folded in. The persisted layout's denormalized dl and
      // its bucket are layout details, not delta-schema columns.
      val deltaCols = Seq("term", "doc_id", "tf", "positions")
        .filter(ix.postings.columns.contains).map(col)
      (ix.postings.select(deltaCols: _*).withColumn("batch_id", lit(w)),
        ix.docLens.withColumn("batch_id", lit(w)))
    }
    val rawP0 = (base.map(_._1) ++ liveDelta("postings_delta"))
      .reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalStateException(
        s"no delta log (and no compacted base) at $dir"))
    val rawL0 = (base.map(_._2) ++ liveDelta("doclens_delta"))
      .reduceOption(_ unionByName _).get
    var rawP = rawP0
    var rawL = rawL0
    loadDelta(spark, s"$dir/deletes_delta", "as_of").foreach { allDels =>
      val dels = watermark.fold(allDels)(w => allDels.filter(col("as_of") >= w))
        .filter(col("as_of") < asOf) // strictly-after visibility (see scaladoc)
        .select(col("doc_id").as("del_id"), col("as_of"))
      rawP = rawP.join(dels,
        rawP("doc_id") === dels("del_id") && rawP("batch_id") <= dels("as_of"),
        "left_anti")
      rawL = rawL.join(dels,
        rawL("doc_id") === dels("del_id") && rawL("batch_id") <= dels("as_of"),
        "left_anti")
    }
    val postings =
      if (rawP.columns.contains("positions"))
        rawP.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf"),
          sort_array(flatten(collect_list(col("positions")))).as("positions"))
      else rawP.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf"))
    Index.fromPostings(postings, Index.readAnalyzerConfig(spark, dir),
      Some(rawL.groupBy("doc_id").agg(sum(col("dl")).as("dl"))))
  }

  /** Fold the current merge-on-read view into the canonical bucketed layout
    * (Index.write format) at `outDir`, advance the epoch, and TRUNCATE the
    * folded delta partitions + absorbed tombstones. `outDir` must be a NEW
    * directory each epoch — the current base is an INPUT of this compaction
    * (readers mid-flight may also still hold the old base). The epoch write
    * is ordered last-of-the-metadata: base data first, then the properties
    * flip, then truncation — a crash in between leaves a readable log
    * (read()'s post-watermark filter tolerates un-truncated partitions). */
  def compact(spark: SparkSession, dir: String, outDir: String,
              buckets: Int = 64): Unit = {
    compactionInfo(spark, dir).foreach { case (base, _) =>
      require(new Path(base).toUri.getPath != new Path(outDir).toUri.getPath,
        s"compact target $outDir is the CURRENT base — fold into a new " +
          "directory each epoch (the old base is an input of this compaction)")
    }
    val newWatermark = currentMaxBatch(spark, dir).getOrElse(
      throw new IllegalStateException(s"nothing to compact at $dir"))
    // upsert-minted ids: the physical markers die with the truncated
    // partitions below, so fold them into the epoch record (union with the
    // previous epochs' record — the guard must survive ANY number of
    // compactions)
    val upserts = recordedUpsertBatches(spark, dir) ++
      liveUpsertBatches(spark, dir)
    Index.write(read(spark, dir), outDir, buckets)
    writeCompactionInfo(spark, dir, outDir, newWatermark, upserts)
    // physical truncation: folded delta partitions and the tombstones they
    // absorbed are directory deletes (the partitioned layout's payoff) —
    // the log stays bounded by one epoch of deltas
    val fs = fsOf(spark, new Path(dir))
    def drop(sub: String, colName: String, keepAbove: Long): Unit =
      partitionIds(spark, s"$dir/$sub", colName)
        .filter(_ <= keepAbove)
        .foreach(id => fs.delete(new Path(s"$dir/$sub/$colName=$id"), true))
    drop("postings_delta", "batch_id", newWatermark)
    drop("doclens_delta", "batch_id", newWatermark)
    // a tombstone at as_of = watermark must SURVIVE: the base rows now carry
    // batch_id = watermark, and a delete issued after the fold (same max
    // batch) must still kill them on read
    drop("deletes_delta", "as_of", newWatermark - 1)
  }

  /** [[compact]] plus the other half of the lifecycle [[Index.createIndex]]
    * performs: register the compacted index for `tablePath` (the table the
    * stream ingested) and persist the association metadata — so SQL
    * `fts_match`/`fts_score`/… over that table serves through the compacted
    * bucketed postings without a manual registration step. The
    * registration reads positions and analyzer from the compacted layout
    * ([[IndexCatalog.register]]): a POSITIONAL ingest ([[start]] with
    * positional=true) lowers `fts_near`/`fts_phrase` to pure position-list
    * plans, and an analyzer ingest normalizes SQL queries through its
    * pipeline. */
  def compactAndRegister(spark: SparkSession, dir: String, outDir: String,
                         tablePath: String, idCol: String = "doc_id",
                         textCol: String = "text", buckets: Int = 64): Unit = {
    compact(spark, dir, outDir, buckets)
    IndexCatalog.register(tablePath, outDir, idCol, textCol)
    IndexCatalog.writeMeta(spark, tablePath, outDir, idCol, textCol)
  }
}
