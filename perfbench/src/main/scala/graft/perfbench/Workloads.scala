package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.collection.mutable

object Workloads {
  val names: Seq[String] = Seq("search_serve", "ingest_compact")

  def run(name: String, ctx: Ctx): Result = name match {
    case "search_serve" => SearchServe.run(ctx)
    case "ingest_compact" => IngestCompact.run(ctx)
  }

  /** Write generated docs as a `doc_id, text` parquet table. */
  def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], path: String,
                append: Boolean): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode(if (append) SaveMode.Append else SaveMode.Overwrite).parquet(path)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally st.close()
    }

  /** Bytes under the engine's own scratch root (`core.Scratch`), whose
    * location the engine fixes. Read only when the engine has loaded
    * `Scratch` during this run, so that measuring never creates it. */
  def scratchBytes(): Long = {
    val find = classOf[ClassLoader].getDeclaredMethod("findLoadedClass", classOf[String])
    find.setAccessible(true)
    val loaded = find.invoke(getClass.getClassLoader, "graft.core.Scratch$") != null
    if (!loaded) 0L
    else Stats.diskBytes(Paths.get(graft.core.Scratch.dir("")))
  }

  /** Per-layer self time over the spans of the timed operations `ops`,
    * per operation. */
  def selfTimes(t: Tracer, ops: Set[Int], m: mutable.Map[String, (Double, String)]): Unit = {
    val self = t.selfMsByLayer(ops)
    Seq("core", "sql", "ext", "fts", "spark", "bench").foreach { l =>
      m(s"self.${l}_ms") = (self.getOrElse(l, 0.0) / math.max(1, ops.size), "ms")
    }
  }
}
