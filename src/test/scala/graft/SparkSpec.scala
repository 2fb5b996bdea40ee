package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for test suites (small parallelism; same confs the
  * harness runs with, including the nanos-as-long parquet read). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"
  /** A scratch path for test-written tables and indexes, under the working
    * directory's `target/ttmp` (sbt forks tests in the project root). */
  def ttmp(name: String): String = s"${SparkSpec.ttmpRoot}/$name"
}

object SparkSpec {
  lazy val ttmpRoot: String = new java.io.File("target/ttmp").getAbsolutePath
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.localHive(
      graft.core.GraftSession.builder("local[4]", 4).appName("graft-test"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
