package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

/** The from-scratch Avro connector: full-fidelity round-trip of every
  * supported type (including nulls and binary), column pruning at the
  * scan, per-file parallelism, and loud failures outside the supported
  * schema subset. */
class AvroSpec extends SparkSpec {

  private val dir = ttmp("avro_spec")

  private def wipe(): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  test("round-trip preserves every supported type, nulls, and binary bytes") {
    wipe()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("raw", BinaryType, nullable = true)))
    val rows = Seq(
      Row(1L, 42, true, 1.5f, math.Pi, "héllo wörld", Array[Byte](0, 1, -1, 127)),
      Row(2L, null, null, null, null, null, null),
      Row(3L, -7, false, -0.0f, 1e-300, "", Array.empty[Byte]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroIo.write(df, dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.schema == schema, s"schema drift: ${back.schema}")
    val got = back.collect().sortBy(_.getLong(0))
    got.zip(rows).foreach { case (g, e) =>
      (0 until 6).foreach { i =>
        assert(g.get(i) == e.get(i), s"col $i: ${g.get(i)} vs ${e.get(i)}")
      }
      val gb = Option(g.get(6)).map(_.asInstanceOf[Array[Byte]].toSeq)
      val eb = Option(e.get(6)).map(_.asInstanceOf[Array[Byte]].toSeq)
      assert(gb == eb, s"binary: $gb vs $eb")
    }
  }

  test("column pruning reaches the scan; parallelism is per file") {
    // two non-empty partitions wrote two container files above
    val back = spark.read.format("graft-avro").load(dir).select("id", "s")
    val walker = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scan = walker.collect(back.queryExecution.executedPlan) {
      case b: BatchScanExec => b
    }.head
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("id", "s"),
      s"pruned schema: ${scan.scan.readSchema()}")
    assert(scan.inputRDD.getNumPartitions == 2,
      "one planned partition per container file")
    assert(back.count() == 3)
  }

  test("DSv2 write: overwrite truncates only at commit; append never collides") {
    wipe()
    val sparkS = spark
    import sparkS.implicits._
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val b = Seq((3L, "c")).toDF("id", "s")
    // decoy that overwrite must remove
    Seq((99L, "zzz")).toDF("id", "s")
      .write.format("graft-avro").mode("append").save(dir)
    a.write.format("graft-avro").mode("overwrite").save(dir)
    b.write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // no temp litter after commit
    val p = new org.apache.hadoop.fs.Path(dir, "_tmp")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(!fs.exists(p) || fs.listStatus(p).isEmpty,
      "committed writes must not leave files under _tmp")
  }

  test("DSv2 write: a failing job aborts without touching the destination") {
    wipe()
    val sparkS = spark
    import sparkS.implicits._
    Seq((1L, "keep")).toDF("id", "s")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val boom = spark.range(10).select(col("id"),
      udf((i: Long) => { require(i < 5, "boom"); "x" }).apply(col("id")).as("s"))
    intercept[Exception] {
      boom.write.format("graft-avro").mode("overwrite").save(dir)
    }
    // the failed overwrite must leave the previous generation intact
    // (truncation happens only inside driver-side commit)
    val back = spark.read.format("graft-avro").load(dir)
      .as[(Long, String)].collect()
    assert(back.toSeq == Seq((1L, "keep")))
  }

  test("unsupported schemas fail loud on write") {
    import org.apache.spark.sql.functions._
    val nested = spark.range(2).select(struct(col("id")).as("nest"))
    intercept[IllegalArgumentException](AvroSchemas.toAvro(nested.schema))
  }
}
