package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Zone-map file skipping: pruning must be a SUPERSET filter (never drop
  * a matching row), actually skip files on a clustered column, and stay
  * open-bound / multi-column correct. */
class ZoneMapSpec extends SparkSpec {

  private val dir = ttmp("zonemap_spec")

  private lazy val written: Unit = {
    val orders = spark.read.parquet(sf("orders"))
    ZoneMap.write(orders, dir, Seq("o_orderdate"), nFiles = 8)
  }

  test("pruning skips files and loses no rows") {
    written
    val r = Seq(ZoneMap.ZoneRange("o_orderdate", "1996-01-01", "1996-12-31"))
    val pruned = ZoneMap.pruneFiles(spark, dir, r)
    assert(pruned.total >= 8, s"expected ~8 files, manifest has ${pruned.total}")
    assert(pruned.files.nonEmpty && pruned.files.size < pruned.total,
      s"a one-year slice of the range-clustered 1995-2001 span must skip files: " +
        s"${pruned.files.size}/${pruned.total}")
    val viaZone = ZoneMap.read(spark, dir, r)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val full = spark.read.parquet(sf("orders"))
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") <= "1996-12-31")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(viaZone == full)
  }

  test("un-castable bounds and unknown zone columns fail loud") {
    written
    // a malformed date string vs the timestamp zone column would cast to
    // NULL, turn every manifest predicate NULL, and silently prune ALL
    // files — the failure mode must be an error, not an empty frame
    val bad = intercept[IllegalArgumentException] {
      ZoneMap.pruneFiles(spark, dir,
        Seq(ZoneMap.ZoneRange("o_orderdate", "not-a-date", null)))
    }
    assert(bad.getMessage.contains("not castable") ||
      bad.getMessage.contains("not-a-date"))
    // a zone column with no manifest stats is a caller error, same rule
    val missing = intercept[IllegalArgumentException] {
      ZoneMap.pruneFiles(spark, dir,
        Seq(ZoneMap.ZoneRange("o_nope", "a", "b")))
    }
    assert(missing.getMessage.contains("o_nope"))
  }

  test("open bounds and no-range degenerate to full reads") {
    written
    val all = spark.read.parquet(sf("orders")).count()
    assert(ZoneMap.read(spark, dir, Nil).count() == all)
    val open = ZoneMap.read(spark, dir,
      Seq(ZoneMap.ZoneRange("o_orderdate", "1998-06-01", null))).count()
    val expect = spark.read.parquet(sf("orders"))
      .filter(col("o_orderdate") >= "1998-06-01").count()
    assert(open == expect)
  }

  test("a range outside the data reads nothing, schema intact") {
    written
    val empty = ZoneMap.read(spark, dir,
      Seq(ZoneMap.ZoneRange("o_orderdate", "2199-01-01", "2199-12-31")))
    assert(empty.count() == 0)
    assert(empty.columns.contains("o_orderkey"))
  }

  test("z-order prunes on BOTH columns where lexicographic serves one") {
    import spark.implicits._
    // two independent uniform dimensions: x = id mod 100, y = id div 100
    val df = (0L until 10000L).map(i => (i, i % 100, i / 100))
      .toDF("id", "x", "y")
    val lexDir = ttmp("zonemap_lex2")
    val zDir = ttmp("zonemap_z2")
    ZoneMap.write(df, lexDir, Seq("x", "y"), nFiles = 16)
    ZoneMap.writeZOrdered(df, zDir, Seq("x", "y"), nFiles = 16)
    // a narrow slice of the SECOND dimension alone
    val yOnly = Seq(ZoneMap.ZoneRange("y", 10L, 19L))
    val lexY = ZoneMap.pruneFiles(spark, lexDir, yOnly)
    val zY = ZoneMap.pruneFiles(spark, zDir, yOnly)
    // lexicographic: x leads, every file spans nearly all of y → ~no skip
    assert(lexY.files.size >= lexY.total - 2,
      s"expected no trailing-column pruning from lex layout: " +
        s"${lexY.files.size}/${lexY.total}")
    // z-order: a 10% y-slice must skip at least half the files
    assert(zY.files.size * 2 <= zY.total,
      s"z-order must prune the second dimension: ${zY.files.size}/${zY.total}")
    // the leading dimension still prunes in the z layout
    val xOnly = Seq(ZoneMap.ZoneRange("x", 10L, 19L))
    val zX = ZoneMap.pruneFiles(spark, zDir, xOnly)
    assert(zX.files.size * 2 <= zX.total,
      s"z-order lost first-dimension pruning: ${zX.files.size}/${zX.total}")
    // and a two-column box prunes harder than either dimension alone
    val box = Seq(ZoneMap.ZoneRange("x", 10L, 19L),
      ZoneMap.ZoneRange("y", 10L, 19L))
    val zBox = ZoneMap.pruneFiles(spark, zDir, box)
    assert(zBox.files.size <= math.min(zX.files.size, zY.files.size))
    // layout never changes results: z-read == plain filter
    val viaZ = ZoneMap.read(spark, zDir, box)
      .select("id").collect().map(_.getLong(0)).toSet
    val expect = df.filter(col("x").between(10, 19) && col("y").between(10, 19))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaZ == expect)
    // nulls in a zone column code as bucket 0 and never crash the write
    val withNulls = df.withColumn("x",
      when(col("id") < 5, lit(null).cast("long")).otherwise(col("x")))
    val nDir = ttmp("zonemap_znull")
    ZoneMap.writeZOrdered(withNulls, nDir, Seq("x", "y"), nFiles = 4)
    assert(spark.read.parquet(s"$nDir/data").count() == 10000L)
  }
}
