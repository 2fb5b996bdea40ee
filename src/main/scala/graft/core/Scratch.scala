package graft.core

/** Per-JVM scratch directories for query-staged artifacts (persisted
  * indexes, bucketed tables, stream landing/checkpoint dirs, IVF cells).
  *
  * The harness runs several JVMs against this repo concurrently (Verify,
  * Bench, test suites); a fixed shared path means one JVM's
  * SaveMode.Overwrite can delete a directory in the window where another
  * JVM is planning a read of it (observed: UNABLE_TO_INFER_SCHEMA on the
  * fts postings dir). A pid-scoped root makes every JVM's scratch space
  * private while staying deterministic within the JVM. The roots live
  * under the working directory's `target/qtmp` (a checkout's root, where
  * sbt forks its runs and tests); target/ is disposable, so accumulation
  * across runs is bounded by `sbt clean`.
  */
object Scratch {
  private val base = java.nio.file.Paths.get("target/qtmp").toAbsolutePath
  private val root = s"$base/jvm-${ProcessHandle.current().pid()}"

  // Sweep DEAD JVMs' scratch roots once at first use: pid-scoped dirs are
  // private while their JVM lives, garbage the moment it exits, and a day
  // of drive/bench/test runs leaves multiple GB behind — enough to matter
  // when a scale rehearsal needs the disk (the ×100 wave ran the box to
  // ENOSPC with ~1.5 GB of dead roots sitting here). Liveness via
  // ProcessHandle keeps a concurrent sibling JVM's root untouched.
  locally {
    if (java.nio.file.Files.isDirectory(base)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(base)) { st =>
        st.iterator().asScala.foreach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("jvm-")) {
            val alive = scala.util.Try(name.stripPrefix("jvm-").toLong)
              .toOption.exists(pid =>
                ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))
            if (!alive)
              scala.util.Try(deleteLocal(p.toString)) // best-effort sweep
          }
        }
      }
    }
  }

  def dir(name: String): String = s"$root/$name"

  /** Monotonic suffix for per-call scratch dirs (e.g. the dedup band-key
    * spill) — unique within the JVM without any cross-call state. */
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)
  def freshDir(prefix: String): String = dir(s"${prefix}_${seq.incrementAndGet()}")

  // ---- corpus-dir → served-layout registry -------------------------------
  //
  // Several serving caches are dir-md5-keyed parquet layouts built once per
  // (JVM, corpus dir) and then read back on every query: the trained
  // embedding space (queries/Pipeline.embedLayoutFor), the FTS serving
  // index + persisted df stats (queries/Fts), the bucketed graph edge
  // layout. Their keys embed the corpus dir's CONTENT-INDEPENDENT md5(path),
  // so a tool that regenerates a corpus UNDER THE SAME PATH in one JVM
  // (ScaleCorpus overwrite) would keep serving a space trained on the old
  // content, silently. Tables.invalidate(dir) is the single in-JVM
  // "this path's content changed" signal; each layout registers a drop
  // thunk here at build/serve time and invalidate runs + removes them.
  // Keyed by (corpusDir, layoutName) so repeated serving registers
  // idempotently instead of accumulating thunks.
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), () => Unit]()

  /** Record that `layoutName` is a served cache derived from `corpusDir`'s
    * content; `drop` must delete the cached state (scratch dir, catalog
    * tables) so the next serve rebuilds. Idempotent per (dir, name). */
  def registerLayout(corpusDir: String, layoutName: String)(drop: () => Unit): Unit =
    layouts.put((corpusDir, layoutName), drop)

  /** Drop every layout registered against `corpusDir` (run + deregister).
    * Called by [[Tables.invalidate]] — layouts must never outlive the
    * cached file-listing frames they were derived from. */
  def invalidateLayouts(corpusDir: String): Unit = {
    val it = layouts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == corpusDir) {
        try e.getValue.apply()
        catch { case t: Throwable =>
          System.err.println(
            s"[scratch] dropping layout ${e.getKey._2} failed: ${t.getMessage}")
        }
        it.remove()
      }
    }
  }

  /** Build-once per (JVM, corpus dir) serving layout: `build(out)` runs
    * only when `out/doneSubPath` is absent — `doneSubPath` must name the
    * artifact `build` writes LAST (usually a parquet `_SUCCESS`), so its
    * presence marks a COMPLETE layout and a crash mid-build rebuilds. The
    * layout key embeds the corpus dir's md5 so sf0.001/sf0.01/scale corpora
    * never collide, and a drop thunk is registered so `Tables.invalidate`
    * after an in-JVM corpus rewrite forces a rebuild. This is the serving
    * split the embed layout established: a serving stack pays the index /
    * cell / bucket build once per corpus version, not once per query —
    * every query still computes its answer from the layout's parquet.
    * Synchronized (one JVM-wide lock): ScalaTest suites can drive queries
    * concurrently. Returns the layout dir. */
  def layoutOnce(corpusDir: String, name: String, doneSubPath: String)
                (build: String => Unit): String = layoutLock.synchronized {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val out = dir(s"${name}_$key")
    registerLayout(corpusDir, s"${name}_$key")(() => deleteLocal(out))
    val done = java.nio.file.Paths.get(out, doneSubPath.split("/"): _*)
    if (!java.nio.file.Files.exists(done)) build(out)
    out
  }
  private val layoutLock = new Object

  /** Local recursive delete for layout drop thunks (scratch dirs live on
    * the local fs; no hadoop FileSystem needed after session stop). */
  def deleteLocal(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }
}
