package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory: every session the engine, its mains and its
  * specs run on is built here.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), UTC session time zone (oracle parity), shuffle partitions
  * sized for the local harness but overridable for cluster deploys.
  *
  * The graft SQL surface (`fts_*`, vector and text kernels, and the
  * `RewriteFtsMatch` rule in the operator-optimization batch) comes from
  * `spark.sql.extensions=graft.ext.GraftExtensions`. It is applied once,
  * when the session is created, and every `newSession()` of it inherits it.
  *
  * `nanosAsLong`: the events fixture stores ts as INT64 TIMESTAMP(NANOS),
  * which Spark 4 rejects by default; with this flag it reads as BIGINT
  * nanos and we convert explicitly where event-time is needed. */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Hive catalog support with a PER-JVM IN-MEMORY Derby metastore. The
    * classic single-JVM blocker — Derby's file-based metastore_db takes an
    * exclusive boot lock, so two concurrent JVMs (harness verify + bench)
    * die on db.lck — disappears when the metastore lives in JVM memory:
    * each process gets its own `jdbc:derby:memory:` database and its own
    * warehouse dir, nothing on disk is shared. The metastore is ephemeral
    * by design: Hive TABLES created by a query live for that JVM's
    * lifetime, which is exactly the harness contract (every query builds
    * its own state), while a production deploy would point
    * `javax.jdo.option.ConnectionURL` at a real metastore service
    * instead. */
  def localHive(b: SparkSession.Builder): SparkSession.Builder = {
    val pid = ProcessHandle.current().pid()
    b.config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:memory:graft_metastore_$pid;create=true")
      .config("spark.sql.warehouse.dir", s"target/graft-hive-wh-$pid")
      .enableHiveSupport()
  }
}
