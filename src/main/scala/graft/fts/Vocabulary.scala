package graft.fts

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.unsafe.types.UTF8String

/** An index's distinct terms, sorted in Spark's string order (binary
  * UTF-8), so dictionary predicates expand on the driver with the same
  * answers the postings filters give:
  *  - [[withPrefix]] is [[Search.matchPrefixIds]]' `[p, p⁺)` range, found
  *    by two binary searches;
  *  - [[withinEdits]] is [[Search.matchFuzzyIds]]' length band and
  *    `levenshtein ≤ k`, with the thresholded distance Spark's
  *    `levenshtein(l, r, k)` runs.
  *
  * [[IndexCatalog.cachedVocabulary]] keeps one per open index handle, so
  * a served `fts_prefix`/`fts_fuzzy` reads only its expanded terms'
  * buckets instead of the whole postings table. The terms are packed into
  * one byte array (term `i` is `bytes[offsets(i), offsets(i + 1))`): the
  * terms' UTF-8 bytes plus 4 bytes a term, instead of two objects a term. */
final class Vocabulary private (bytes: Array[Byte], offsets: Array[Int]) {

  def size: Int = offsets.length - 1

  private def at(i: Int): UTF8String =
    UTF8String.fromBytes(bytes, offsets(i), offsets(i + 1) - offsets(i))

  /** Terms `t` with `prefix ≤ t < prefix⁺` (the successor string: last
    * char + 1), in order. `prefix` is a normalized `[a-z0-9]+` fragment,
    * so the window is exactly the terms that start with it. */
  def withPrefix(prefix: String): Seq[String] = {
    val upper = prefix.init + (prefix.last + 1).toChar
    val (from, until) = (lowerBound(prefix), lowerBound(upper))
    (from until until).map(at(_).toString)
  }

  /** Terms within `maxEdits` Levenshtein edits of `term`, in order. */
  def withinEdits(term: String, maxEdits: Int): Seq[String] = {
    val q = UTF8String.fromString(term)
    (0 until size).iterator.map(at)
      .filter(t => math.abs(t.numChars - term.length) <= maxEdits &&
        t.levenshteinDistance(q, maxEdits) >= 0)
      .map(_.toString).toSeq
  }

  /** Index of the first term ≥ `s`. */
  private def lowerBound(s: String): Int = {
    val key = UTF8String.fromString(s)
    var (lo, hi) = (0, size)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (at(mid).compareTo(key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object Vocabulary {

  def apply(terms: Iterable[String]): Vocabulary = {
    val sorted = terms.iterator.map(UTF8String.fromString).toArray.distinct.sorted
    val offsets = sorted.scanLeft(0)(_ + _.numBytes)
    val bytes = new Array[Byte](offsets.last)
    sorted.indices.foreach(i =>
      System.arraycopy(sorted(i).getBytes, 0, bytes, offsets(i), sorted(i).numBytes))
    new Vocabulary(bytes, offsets)
  }

  /** The distinct terms of `postings`, in ONE job and no shuffle: each
    * task de-duplicates its own rows, the driver merges. A term lives in
    * one bucket, so tasks rarely send the same term twice. */
  def read(postings: DataFrame): Vocabulary =
    apply(postings.select("term")
      .mapPartitions((rows: Iterator[Row]) => rows.map(_.getString(0)).distinct)(Encoders.STRING)
      .collect())
}
