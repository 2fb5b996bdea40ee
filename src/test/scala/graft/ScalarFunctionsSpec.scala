package graft

import org.apache.spark.sql.functions._

/** Known-answer tests for §2.9 functions the DuckDB oracle cannot express
  * (engine-specific semantics): soundex, sentences, parse_url,
  * format_number, initcap, conv, hypot, hex, months_between. */
class ScalarFunctionsSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(1).toDF("x").select(c).collect()(0).get(0)
  }

  test("soundex (reference stringExpressions.scala:1104)") {
    assert(one(soundex(lit("Robert"))) == "R163")
    assert(one(soundex(lit("Rupert"))) == "R163")
    assert(one(soundex(lit("Tymczak"))) == "T522")
  }

  test("sentences tokenizer (reference stringExpressions.scala:1393)") {
    val r = one(sentences(lit("Hi there! How are you?")))
      .asInstanceOf[scala.collection.Seq[scala.collection.Seq[String]]]
      .map(_.toList).toList
    assert(r == List(List("Hi", "there"), List("How", "are", "you")))
  }

  test("parse_url (reference stringExpressions.scala:709)") {
    assert(one(parse_url(lit("https://spark.apache.org/path?q=1"), lit("HOST"))) == "spark.apache.org")
    assert(one(parse_url(lit("https://spark.apache.org/path?q=1"), lit("QUERY"), lit("q"))) == "1")
  }

  test("format_number / initcap / conv / hex") {
    assert(one(format_number(lit(1234567.891), 2)) == "1,234,567.89")
    assert(one(initcap(lit("spark sql engine"))) == "Spark Sql Engine")
    assert(one(conv(lit("255"), 10, 16)) == "FF")
    assert(one(hex(lit(255L))) == "FF")
    assert(one(unhex(lit("4D"))).asInstanceOf[Array[Byte]].toSeq == Seq(0x4d.toByte))
  }

  test("hypot / factorial / bround-half-up vs bround-half-even") {
    assert(one(hypot(lit(3.0), lit(4.0))) == 5.0)
    assert(one(factorial(lit(5))) == 120L)
    assert(one(round(lit(2.5))) == 3.0)
    assert(one(bround(lit(2.5))) == 2.0)
  }

  test("months_between fractional semantics") {
    val mb = one(months_between(
      lit("2024-03-31").cast("timestamp"), lit("2024-02-29").cast("timestamp")))
    assert(mb == 1.0) // both are last days of month → whole month
    val mb2 = one(months_between(
      lit("2024-03-15").cast("timestamp"), lit("2024-02-15").cast("timestamp")))
    assert(mb2 == 1.0)
  }

  test("text_normalize: all four Unicode forms, codegen and SQL surface") {
    def norm(s: String, form: String): String = {
      import spark.implicits._
      Seq(s).toDF("s")
        .selectExpr(s"text_normalize(s, '$form') AS n")
        .collect()(0).getString(0)
    }
    val decomposed = "cafe\u0301" // e + combining acute
    val composed = "caf\u00e9"    // precomposed e-acute
    assert(norm(decomposed, "NFC") == composed)
    assert(norm(composed, "NFD") == decomposed)
    // NFC leaves compatibility characters ALONE; NFKC folds them
    assert(norm("ﬁle", "NFC") == "ﬁle")
    assert(norm("ﬁle", "NFKC") == "file")
    assert(norm("①", "NFKC") == "1") // circled one → digit
    assert(norm("ﬁle", "NFKD") == "file")
    // idempotence + ASCII passthrough + case-insensitive form name
    assert(norm(norm(decomposed, "NFC"), "NFC") == composed)
    assert(norm("plain ascii", "nfc") == "plain ascii")
    // accent folding (Lucene ASCIIFolding core / DuckDB strip_accents):
    // marks drop, no-decomposition letters (ø) pass through
    assert(norm(composed, "STRIP_ACCENTS") == "cafe")
    assert(norm(decomposed, "strip_accents") == "cafe")
    assert(norm("søren", "STRIP_ACCENTS") == "søren")
    // unknown form fails loud
    val e = intercept[Exception](norm("x", "NFX"))
    assert(e.getMessage != null)
  }

  test("stat helper API: approxQuantile / cov / corr / crosstab / freqItems / sampleBy") {
    val li = spark.read.parquet(sf("lineitem"))
    val q = li.stat.approxQuantile("l_quantity", Array(0.5), 0.01)
    assert(q(0) >= 1 && q(0) <= 50)
    assert(li.stat.corr("l_extendedprice", "l_extendedprice") == 1.0)
    val c = li.stat.corr("l_quantity", "l_extendedprice")
    assert(c >= -1.0 && c <= 1.0) // price is independent of qty in this fixture
    assert(li.stat.cov("l_quantity", "l_quantity") > 0) // cov(x,x) = var(x)
    val ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    assert(ct.count() == 3) // A, N, R
    val fi = li.stat.freqItems(Array("l_returnflag"), 0.4).collect()(0)
      .getSeq[String](0)
    assert(fi.nonEmpty)
    val sb = li.stat.sampleBy("l_returnflag",
      Map("A" -> 0.5, "N" -> 0.1, "R" -> 0.5), 42L)
    assert(sb.count() > 0 && sb.count() < li.count())
  }

  test("sketch API: bloomFilter membership and countMinSketch bounds") {
    val li = spark.read.parquet(sf("lineitem"))
    // Bloom: no false negatives — every present orderkey must test true
    val bf = li.stat.bloomFilter("l_orderkey", 10000L, 0.03)
    val present = li.select("l_orderkey").limit(50).collect().map(_.getLong(0))
    assert(present.forall(bf.mightContain))
    // Count-min: estimate is an UPPER bound on the true count (one-sided
    // error), and within eps·N of it with high probability
    val cms = li.stat.countMinSketch(
      org.apache.spark.sql.functions.col("l_returnflag"), 0.001, 0.99, 42)
    val trueA = li.filter(org.apache.spark.sql.functions.col("l_returnflag") === "A").count()
    val est = cms.estimateCount("A")
    assert(est >= trueA, s"CMS must never under-count: $est < $trueA")
    assert(est <= trueA + (0.001 * li.count()).toLong + 1,
      s"CMS estimate too loose: $est vs $trueA")
  }
}
