package graft.fts

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** An index's distinct terms, sorted in Spark's string order (binary
  * UTF-8), so term-dictionary predicates expand on the driver with the
  * same answers the postings filters give: [[matching]] binary-searches a
  * [[Search.TermShape]]'s window and evaluates its predicate, the same
  * Catalyst expression the library's filters run.
  *
  * [[IndexCatalog.cachedVocabulary]] keeps one per open index handle, so
  * a served term-dictionary predicate reads only its expanded terms'
  * buckets instead of the whole postings table. The terms are packed into
  * one byte array (term `i` is `bytes[offsets(i), offsets(i + 1))`): the
  * terms' UTF-8 bytes plus 4 bytes a term, instead of two objects a term. */
final class Vocabulary private (bytes: Array[Byte], offsets: Array[Int]) {

  def size: Int = offsets.length - 1

  private def at(i: Int): UTF8String =
    UTF8String.fromBytes(bytes, offsets(i), offsets(i + 1) - offsets(i))

  /** The terms `shape` matches, in order. */
  def matching(shape: Search.TermShape): Seq[String] = {
    val (from, until) = shape.window.fold((0, size)) { w =>
      (bound(w.lo, w.inclLo), bound(w.hi, !w.inclHi)) }
    val window = (from until until).iterator.map(at)
    val matched = shape.predicate(BoundReference(0, StringType, nullable = false)) match {
      case None => window
      case Some(p) =>
        val row = new GenericInternalRow(1)
        window.filter { t => row.update(0, t); p.eval(row) == true }
    }
    matched.map(_.toString).toSeq
  }

  /** Index of the first term ≥ `s` (`inclusive`) or > `s`. */
  private def bound(s: String, inclusive: Boolean): Int = {
    val key = UTF8String.fromString(s)
    var (lo, hi) = (0, size)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = at(mid).compareTo(key)
      if (c < 0 || (c == 0 && !inclusive)) lo = mid + 1 else hi = mid
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
