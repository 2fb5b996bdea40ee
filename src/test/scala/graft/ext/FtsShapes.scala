package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}

/** The full-text query grid that every lowering of the `fts_*` surface must
  * answer alike: the WHERE shapes, projections and argument errors of
  * ExtensionsSpec's agreement test, and its `fts_score` queries. The spec
  * and [[graft.tools.PlanGrid]] both read it, so a plan diff between two
  * builds covers exactly what the agreement test checks. */
object FtsShapes {

  /** The agreement table: the fixture's `documents` rows plus one NULL-text
    * document with lang 'en' (NOT forms drop it, since NOT over NULL is
    * NULL, unless the term set is empty: NOT false keeps it). Written to
    * `out`. */
  def writeTable(spark: SparkSession, documents: String, out: String): Unit =
    spark.read.parquet(documents).select("doc_id", "lang", "text")
      .union(spark.sql(
        "SELECT 100000L AS doc_id, 'en' AS lang, CAST(NULL AS STRING) AS text"))
      .write.mode("overwrite").parquet(out)

  /** The NULL-text document's id. */
  val NullDoc = "100000"

  /** Two terms outside the vocabulary of the view `view`, by their postings
    * bucket (the writer's `pmod(xxhash64(term), 64)`): `absent`, whose
    * bucket holds other terms' postings, and `unfilled`, whose bucket
    * holds no file at all. */
  def probeTerms(spark: SparkSession, view: String): (String, String) = {
    def bucket(t: String) =
      Math.floorMod(new XxHash64(Seq(Literal(t))).eval().asInstanceOf[Long], 64L)
    val filled = spark.sql(s"SELECT DISTINCT explode(fts_tokenize(text)) FROM $view")
      .collect().map(r => bucket(r.getString(0))).toSet
    val probes = (0 until 1000).map(i => s"nosuch$i")
    (probes.find(t => filled(bucket(t))).get, probes.find(t => !filled(bucket(t))).get)
  }

  def shapes(absent: String, unfilled: String): Seq[String] = Seq(
    "fts_match(text, 'data query spark')",
    "fts_match_any(text, 'dup vector')",
    "fts_match_min(text, 'data query dup spark', 3)",
    "fts_phrase(text, 'data query')",
    "fts_phrase_wild(text, 'data quer*')",
    "fts_prefix(text, 'du')",
    "fts_term_range(text, 'data', 'dup', true, false)",
    "fts_near(text, 'data', 'query', 2)",
    "fts_near(text, 'dup', 'dup', 1)",
    "fts_phrase_slop(text, 'data query', 2)",
    "fts_wildcard(text, 'd*p')",
    "fts_wildcard(text, 'c?st*er')",
    "fts_fuzzy(text, 'dupe', 1)",
    "fts_regexp(text, 'du[a-z]')",
    "NOT fts_match(text, 'data query')",
    "NOT fts_match_any(text, 'data dup')",
    "fts_match(text, 'dup') OR fts_prefix(text, 'vec')",
    "fts_match(text, 'dup') OR fts_phrase(text, 'data query')",
    "fts_match(text, 'data') AND lang = 'en'",
    "fts_match_any(text, 'spark dup') AND doc_id % 2 = 0",
    "fts_match(text, 'data') AND NOT fts_match_any(text, 'spark table')",
    "fts_query(text, 'data AND (quer* OR dup) NOT table')",
    "fts_query(text, '\"data query\"~2 OR dupe~1')",
    "fts_match(text, '!!! ...')",
    "fts_match_any(text, '...')",
    "NOT fts_match(text, '!!!')",
    "fts_phrase(text, '...')",
    "fts_phrase_slop(text, '...', 1)",
    "fts_near(text, 'data', NULL, 2)",
    "fts_phrase_slop(text, 'data query', NULL)",
    s"fts_match(text, '$absent')",
    s"fts_match(text, 'data $absent')",
    s"fts_match(text, '$unfilled')",
    s"fts_match_any(text, 'dup $unfilled')",
    s"NOT fts_match_any(text, '$unfilled')",
    // a repeated term fills two phrase slots
    "fts_phrase(text, 'line group line')",
    "fts_phrase_slop(text, 'order query order', 1)",
    "fts_phrase_slop(text, 'group line', 3)",
    // dictionary shapes with no literal head, or an exclusive bound
    "fts_wildcard(text, '*er')",
    "fts_wildcard(text, '?at*')",
    "fts_regexp(text, '.*up')",
    "fts_regexp(text, 'dup|da[a-z]a')",
    "fts_term_range(text, 'data', 'dup', false, true)",
    "fts_query(text, '/qu[a-z]*/ OR c*er')",
    "fts_query(text, 'data AND [dup TO vector}')",
    // two indexed columns: the NULL-text document has lang 'en', so a
    // covered plan may treat text as non-NULL only where a positive
    // conjunct proves it on every branch
    "(fts_match(text, 'data') OR fts_match(lang, 'en')) AND text IS NOT NULL",
    "fts_match(lang, 'en') AND text IS NOT NULL") ++ langBounded

  /** Out-of-range arguments: every lowering rejects them with one message. */
  val badArgs: Seq[String] = Seq(
    "fts_fuzzy(text, 'data', 3)", "fts_fuzzy(text, 'data', 0)",
    "fts_near(text, 'data', 'query', -1)", "fts_near(text, 'data', 'data', -1)",
    "fts_phrase_slop(text, 'data query', -1)",
    "fts_match_min(text, 'data query', 0)",
    "fts_term_range(text, 'dup', 'data', true, true)",
    "fts_term_range(text, '', 'data', true, true)",
    "fts_term_range(text, 'data', 'a-b', true, true)",
    "fts_wildcard(text, '*')",
    "fts_regexp(text, '')", "fts_regexp(text, 'du[')")

  val projections: Seq[String] = Seq("doc_id", "doc_id, lang")

  /** `fts_score` queries. Two terms each, so a document's score is one
    * addition, whose order cannot change the bits. */
  def scoreQueries(absent: String, unfilled: String): Seq[String] =
    Seq("data query", s"dup $unfilled", s"$absent $unfilled")

  /** Conjuncts added after a score query's bounding `fts_match_any`: a
    * negation, a disjunction and a dictionary expansion, so the covered
    * score plan carries an anti-joined, a unioned and a fuzzy id set. */
  val scoreConjuncts: Seq[String] = Seq(
    "NOT fts_match(text, 'table')",
    "(fts_match(text, 'dup') OR fts_prefix(text, 'vec'))",
    "fts_fuzzy(text, 'dupe', 1)")

  /** Two-column shapes of [[shapes]] bounded by `fts_match(lang, 'en')`, so
    * a score over the lang index alone can rank them: a negation over text
    * that no positive conjunct proves non-NULL, and one that a text match
    * does. */
  val langBounded: Seq[String] = Seq(
    "fts_match(lang, 'en') AND NOT fts_match(text, 'data')",
    "fts_match(lang, 'en') AND fts_match(text, 'data') AND NOT fts_match(text, 'query')")

  /** `where`'s ids ranked by `fts_score(lang, 'en')`, with the score
    * projected and without it. Lowerable only with an index on `lang`. */
  def langScoreSql(view: String, where: String): Seq[String] = Seq(
    s"SELECT doc_id, fts_score(lang, 'en') AS score FROM $view WHERE $where " +
      "ORDER BY score DESC, doc_id",
    s"SELECT doc_id FROM $view WHERE $where ORDER BY fts_score(lang, 'en') DESC, doc_id")

  /** The top-10 `fts_score` query over `view`, bounded by
    * `fts_match_any(text, q)` and optionally one more conjunct. */
  def topkSql(view: String, q: String, extra: Option[String] = None): String =
    s"SELECT doc_id, fts_score(text, '$q') AS score FROM $view " +
      s"WHERE fts_match_any(text, '$q')${extra.fold("")(" AND " + _)} " +
      "ORDER BY score DESC, doc_id LIMIT 10"
}
