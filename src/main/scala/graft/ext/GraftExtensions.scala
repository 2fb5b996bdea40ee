package graft.ext

import java.util.Locale

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the frozen token grammar (graft.fts
  * .Analyzer semantics: lowercase, split on runs of non-[a-z0-9], drop
  * empties). Counterpart of the reference's in-SQL tokenizer `Sentences`
  * (reference stringExpressions.scala:1393) and ml `Tokenizer`
  * (ml/feature/Tokenizer.scala:32), but implemented with whole-stage
  * codegen (`doGenCode` calls the static eval — one virtual call per row,
  * no interpreted expression tree). */
case class FtsTokenize(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_tokenize requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_tokenize"

  override def nullSafeEval(input: Any): Any =
    FtsTokenize.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // MODULE$ access: the companion class suppresses static forwarders
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsTokenize$$.MODULE$$.tokenize($c);")

  override protected def withNewChildInternal(newChild: Expression): FtsTokenize =
    copy(child = newChild)
}

object FtsTokenize {
  private val splitter = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** Static kernel shared by interpreted eval and generated code. */
  def tokenize(s: UTF8String): ArrayData = {
    val lower = s.toString.toLowerCase(Locale.ROOT)
    val parts = splitter.split(lower)
    val out = new java.util.ArrayList[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) out.add(UTF8String.fromString(parts(i)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** CJK-aware tokenizer kernel: Latin/digit runs become lowercase word
  * tokens (v1 grammar), runs of CJK codepoints (unified ideographs,
  * kana, hangul, compatibility + extension blocks) become overlapping
  * CHARACTER BIGRAMS — the standard no-dictionary segmentation for
  * languages without word delimiters (the approach of Lucene's CJKAnalyzer;
  * the reference's own `Sentences` expression is locale-aware but
  * word-oriented, stringExpressions.scala:1393). A 1-character CJK run
  * emits the single character. Used by [[graft.fts.Analyzer.tokenizeWith]]
  * when `AnalyzerConfig.cjkBigrams` is set; not SQL-registered. */
case class FtsTokenizeCjk(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_tokenize_cjk requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_tokenize_cjk"
  override def nullSafeEval(input: Any): Any =
    FtsTokenizeCjk.tokenize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsTokenizeCjk$$.MODULE$$.tokenize($c);")
  override protected def withNewChildInternal(newChild: Expression): FtsTokenizeCjk =
    copy(child = newChild)
}

object FtsTokenizeCjk {
  /** CJK codepoint test: unified ideographs + radicals (2E80–9FFF covers
    * kana at 3040–30FF too), hangul syllables, compatibility ideographs,
    * extension planes. */
  def isCjk(cp: Int): Boolean =
    (cp >= 0x2E80 && cp <= 0x9FFF) ||
      (cp >= 0xAC00 && cp <= 0xD7AF) ||
      (cp >= 0xF900 && cp <= 0xFAFF) ||
      (cp >= 0x20000 && cp <= 0x2FA1F)

  /** String-level kernel (shared with the query-side mirror
    * [[graft.fts.AnalyzerConfig.tokenizeQuery]]). */
  def tokenizeString(s: String): Seq[String] = {
    val lower = s.toLowerCase(Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val word = new java.lang.StringBuilder()
    val cjkRun = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flushWord(): Unit =
      if (word.length > 0) { out += word.toString; word.setLength(0) }
    def flushCjk(): Unit = {
      if (cjkRun.length == 1) out += new String(Character.toChars(cjkRun(0)))
      else (0 until cjkRun.length - 1).foreach { i =>
        out += new String(
          Character.toChars(cjkRun(i)) ++ Character.toChars(cjkRun(i + 1)))
      }
      cjkRun.clear()
    }
    var i = 0
    while (i < lower.length) {
      val cp = lower.codePointAt(i)
      if (isCjk(cp)) { flushWord(); cjkRun += cp }
      else if ((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')) {
        flushCjk(); word.appendCodePoint(cp)
      } else { flushWord(); flushCjk() }
      i += Character.charCount(cp)
    }
    flushWord(); flushCjk()
    out.toSeq
  }

  def tokenize(s: UTF8String): ArrayData =
    new GenericArrayData(
      tokenizeString(s.toString).map(UTF8String.fromString).toArray[Any])
}

/** Scan-path kernel for `fts_prefix`: true iff ANY token of the document
  * starts with `prefix` (already normalized through the token grammar by
  * [[RewriteFtsMatch]], which is the only producer — not SQL-registered).
  * Codegen'd like [[FtsTokenize]]; the index path replaces this with a
  * semi-join against the postings of the prefix's vocabulary expansion. */
case class FtsHasTokenPrefix(child: Expression, prefix: String)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_prefix requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_has_token_prefix"
  override def nullSafeEval(input: Any): Any =
    FtsHasTokenPrefix.eval(input.asInstanceOf[UTF8String],
      UTF8String.fromString(prefix))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("prefix", UTF8String.fromString(prefix))
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsHasTokenPrefix$$.MODULE$$.eval($c, $p);")
  }
  override protected def withNewChildInternal(newChild: Expression): FtsHasTokenPrefix =
    copy(child = newChild)
}

object FtsHasTokenPrefix {
  def eval(s: UTF8String, prefix: UTF8String): Boolean = {
    val toks = FtsTokenize.tokenize(s)
    var i = 0
    while (i < toks.numElements()) {
      if (toks.getUTF8String(i).startsWith(prefix)) return true
      i += 1
    }
    false
  }
}

/** Scan-path kernel for `fts_term_range`: true iff ANY token of the
  * document sorts inside [lo, hi] (bounds inclusive/exclusive per flag;
  * binary UTF8 order — identical to the order the postings are sorted in,
  * so scan and index paths agree). Produced only by [[RewriteFtsMatch]];
  * not SQL-registered. The index path replaces this with the range
  * expanded against the index's vocabulary
  * ([[graft.fts.Search.TermShape.Range]]). */
case class FtsHasTokenRange(child: Expression, lo: String, hi: String,
                            inclLo: Boolean, inclHi: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_term_range requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_has_token_range"
  override def nullSafeEval(input: Any): Any =
    FtsHasTokenRange.eval(input.asInstanceOf[UTF8String],
      UTF8String.fromString(lo), UTF8String.fromString(hi), inclLo, inclHi)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("lo", UTF8String.fromString(lo))
    val h = ctx.addReferenceObj("hi", UTF8String.fromString(hi))
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsHasTokenRange$$.MODULE$$.eval($c, $l, $h, " +
        s"$inclLo, $inclHi);")
  }
  override protected def withNewChildInternal(newChild: Expression): FtsHasTokenRange =
    copy(child = newChild)
}

object FtsHasTokenRange {
  def eval(s: UTF8String, lo: UTF8String, hi: UTF8String,
           inclLo: Boolean, inclHi: Boolean): Boolean = {
    val toks = FtsTokenize.tokenize(s)
    var i = 0
    while (i < toks.numElements()) {
      val t = toks.getUTF8String(i)
      val cl = t.compareTo(lo)
      val ch = t.compareTo(hi)
      if ((if (inclLo) cl >= 0 else cl > 0) &&
          (if (inclHi) ch <= 0 else ch < 0)) return true
      i += 1
    }
    false
  }
}

/** Scan-path kernel for `fts_wildcard`: true iff ANY token starts with
  * `head`, ends with `tail`, and is long enough that head and tail do not
  * overlap (the exact semantics of the single-star pattern `head*tail`).
  * Produced only by [[RewriteFtsMatch]]; not SQL-registered. */
case class FtsHasTokenWildcard(child: Expression, head: String, tail: String)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_wildcard requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_has_token_wildcard"
  override def nullSafeEval(input: Any): Any =
    FtsHasTokenWildcard.eval(input.asInstanceOf[UTF8String],
      UTF8String.fromString(head), UTF8String.fromString(tail))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("wcHead", UTF8String.fromString(head))
    val t = ctx.addReferenceObj("wcTail", UTF8String.fromString(tail))
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsHasTokenWildcard$$.MODULE$$.eval($c, $h, $t);")
  }
  override protected def withNewChildInternal(newChild: Expression): FtsHasTokenWildcard =
    copy(child = newChild)
}

object FtsHasTokenWildcard {
  def eval(s: UTF8String, head: UTF8String, tail: UTF8String): Boolean = {
    val toks = FtsTokenize.tokenize(s)
    val need = head.numChars() + tail.numChars()
    var i = 0
    while (i < toks.numElements()) {
      val t = toks.getUTF8String(i)
      if (t.numChars() >= need && t.startsWith(head) && t.endsWith(tail))
        return true
      i += 1
    }
    false
  }
}

/** Scan-path kernel for `fts_near`: true iff tokens `a` and `b` occur within
  * `slop` positions of each other (either order). Single pass over the token
  * stream tracking the most recent occurrence of each term — any qualifying
  * pair (i, j), j < i, is caught at i because the latest other-term position
  * is ≥ j. `a == b` degenerates to containment, matching
  * [[graft.fts.Search.matchNear]]'s position-list semantics (|p − q| ≤ slop
  * is satisfied by p = q). Produced only by [[RewriteFtsMatch]]. */
case class FtsNearTokens(child: Expression, a: String, b: String, slop: Int)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_near requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_near_tokens"
  override def nullSafeEval(input: Any): Any =
    FtsNearTokens.eval(input.asInstanceOf[UTF8String],
      UTF8String.fromString(a), UTF8String.fromString(b), slop)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("nearA", UTF8String.fromString(a))
    val rb = ctx.addReferenceObj("nearB", UTF8String.fromString(b))
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsNearTokens$$.MODULE$$.eval($c, $ra, $rb, $slop);")
  }
  override protected def withNewChildInternal(newChild: Expression): FtsNearTokens =
    copy(child = newChild)
}

object FtsNearTokens {
  def eval(s: UTF8String, a: UTF8String, b: UTF8String, slop: Int): Boolean = {
    val toks = FtsTokenize.tokenize(s)
    val n = toks.numElements()
    if (a.equals(b)) { // |p − q| ≤ slop holds at p = q: containment
      var i = 0
      while (i < n) {
        if (toks.getUTF8String(i).equals(a)) return true
        i += 1
      }
      return false
    }
    var lastA = -1
    var lastB = -1
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t.equals(a)) {
        if (lastB >= 0 && i - lastB <= slop) return true
        lastA = i
      } else if (t.equals(b)) {
        if (lastA >= 0 && i - lastA <= slop) return true
        lastB = i
      }
      i += 1
    }
    false
  }
}

/** Scan-path kernel for `fts_phrase_slop`: true iff the phrase terms occur
  * IN ORDER with total span ≤ terms−1+slop (at most `slop` extra tokens
  * interleaved; slop 0 = exact phrase). Single pass over the token stream
  * with an n-slot DP: `best(j)` holds the LATEST start position of any
  * in-order chain covering slots 0..j seen so far — the span-minimal chain
  * a later slot-(j+1) match can extend. Slots are scanned descending per
  * position so a chain never consumes two slots at one token (matters when
  * the phrase repeats a term). Mirrors
  * [[graft.fts.Search.matchPhraseSloppy]]'s position-list semantics; the
  * index path replaces this with the pure postings plan. Produced only by
  * [[RewriteFtsMatch]]; not SQL-registered. */
case class FtsPhraseSlopTokens(child: Expression, terms: Seq[String], slop: Int)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fts_phrase_slop requires STRING input, got ${child.dataType.catalogString}")
  override def prettyName: String = "fts_phrase_slop_tokens"
  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray
  override def nullSafeEval(input: Any): Any =
    FtsPhraseSlopTokens.eval(input.asInstanceOf[UTF8String], termArr, slop)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("slopTerms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.FtsPhraseSlopTokens$$.MODULE$$.eval($c, $arr, $slop);")
  }
  override protected def withNewChildInternal(newChild: Expression): FtsPhraseSlopTokens =
    copy(child = newChild)
}

object FtsPhraseSlopTokens {
  def eval(s: UTF8String, terms: Array[UTF8String], slop: Int): Boolean = {
    val toks = FtsTokenize.tokenize(s)
    val n = terms.length
    if (n == 0) return false
    val m = toks.numElements()
    val window = n - 1 + slop
    // best(j) = latest start of an in-order chain over slots 0..j ending
    // strictly before the current position; −1 = no chain yet
    val best = new Array[Int](n)
    java.util.Arrays.fill(best, -1)
    var p = 0
    while (p < m) {
      val t = toks.getUTF8String(p)
      var j = n - 1
      while (j >= 0) {
        if (t.equals(terms(j))) {
          if (j == 0) {
            if (n == 1) return true
            best(0) = p // later start always dominates
          } else {
            val start = best(j - 1)
            if (start >= 0) {
              if (j == n - 1) {
                if (p - start <= window) return true
                // window missed: a later completion against a later start
                // may still fit — keep scanning
              } else if (start > best(j)) best(j) = start
            }
          }
        }
        j -= 1
      }
      p += 1
    }
    false
  }
}

/** `fts_snippet(text, 'q terms', width)`: the token window of ±`width`
  * tokens around the FIRST occurrence of any query term, space-joined —
  * the result-page snippet every search surface renders next to a hit.
  * NULL when no term occurs. Directly evaluable (plain per-row kernel, no
  * corpus state), codegen'd, deterministic: first occurrence in token
  * order, query terms normalized through the frozen grammar. */
case class FtsSnippet(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == org.apache.spark.sql.types.IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "fts_snippet requires (STRING, STRING, INT), got " +
          Seq(first, second, third).map(_.dataType.catalogString).mkString(", "))
  override def prettyName: String = "fts_snippet"
  override def nullSafeEval(s: Any, q: Any, w: Any): Any =
    FtsSnippet.eval(s.asInstanceOf[UTF8String], q.asInstanceOf[UTF8String],
      w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, q, w) => {
      val res = ctx.freshName("snip")
      s"""Object $res = graft.ext.FtsSnippet$$.MODULE$$.eval($s, $q, $w);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $res; }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): FtsSnippet =
    copy(first = f, second = s, third = t)
}

object FtsSnippet {
  /** Null when no query term occurs (distinguishes "no match" from an
    * empty document). */
  def eval(s: UTF8String, q: UTF8String, width: Int): UTF8String = {
    val toks = FtsTokenize.tokenize(s)
    val terms = FtsTokenize.tokenize(q)
    val n = toks.numElements()
    val m = terms.numElements()
    var hit = -1
    var i = 0
    while (i < n && hit < 0) {
      var j = 0
      while (j < m && hit < 0) {
        if (toks.getUTF8String(i).equals(terms.getUTF8String(j))) hit = i
        j += 1
      }
      i += 1
    }
    if (hit < 0) null
    else {
      val w = math.max(0, width)
      val from = math.max(0, hit - w)
      val to = math.min(n - 1, hit + w)
      val sb = new java.lang.StringBuilder()
      var k = from
      while (k <= to) {
        if (k > from) sb.append(' ')
        sb.append(toks.getUTF8String(k).toString)
        k += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }
}

/** A boolean `fts_*` predicate. Unevaluable: [[RewriteFtsMatch]] lowers
  * every one onto an index id set or a scan kernel during optimization.
  * The covered-match pass keys on this trait, so it considers each
  * predicate the id-set lowering knows without a list of its own. */
sealed trait FtsPredicate extends Expression
    with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
}

/** `fts_match(text, 'q terms')`: true iff the document contains ALL query
  * terms (token-level AND). Left unevaluated at runtime on purpose: the
  * analyzer accepts it, and [[RewriteFtsMatch]] lowers it to plain
  * array_contains conjunctions over [[FtsTokenize]] during optimization —
  * the same "rewrite the predicate, let the engine optimize the rest"
  * pattern as the reference's LikeSimplification (Optimizer.scala:99) and
  * RewritePredicateSubquery (Optimizer.scala:123). */
case class FtsMatch(left: Expression, right: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "fts_match"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsMatch =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_match_any(text, 'q terms')`: true iff the document contains AT
  * LEAST ONE query term (token-level OR). Lowered by [[RewriteFtsMatch]]
  * exactly like [[FtsMatch]] — index path is a semi-join against the ANY
  * postings (no per-doc term-count filter), scan path an OR conjunction. */
case class FtsMatchAny(left: Expression, right: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "fts_match_any"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsMatchAny =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_match_min(text, 'q terms', k)`: true iff the document contains at
  * least k DISTINCT query terms — Lucene's
  * BooleanQuery.setMinimumNumberShouldMatch / Elasticsearch's
  * minimum_should_match. Lowered by [[RewriteFtsMatch]]: index path =
  * pruned-postings distinct-term count ≥ k
  * ([[graft.fts.Search.matchMinIds]] — index-exact, covering for id-only
  * projections); scan path = size(array_intersect(tokens, terms)) ≥ k
  * (array_intersect dedups, so the count is distinct-terms on both
  * paths). k above the analyzed term count matches nothing (the analyzer
  * may drop stopwords — a data condition); k < 1 fails loud. */
case class FtsMatchMin(first: Expression, second: Expression,
                       third: Expression)
    extends FtsPredicate {
  override def children: Seq[Expression] = Seq(first, second, third)
  override def prettyName: String = "fts_match_min"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsMatchMin =
    copy(first = newChildren(0), second = newChildren(1), third = newChildren(2))
}

/** `fts_phrase(text, 'exact phrase')`: true iff the document contains the
  * phrase as a contiguous token sequence (the SQL surface of
  * [[graft.fts.Search.matchPhrase]]). Lowered by [[RewriteFtsMatch]]:
  * scan path = token-canonical substring containment; index path =
  * all-terms postings semi-join (cheap candidates) + the same containment
  * as a residual filter. */
case class FtsPhrase(left: Expression, right: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "fts_phrase"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsPhrase =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_phrase_wild(text, 'data quer*')`: true iff the document contains a
  * contiguous token sequence where each space-separated SLOT matches — an
  * exact term, or a `*`/`?` wildcard pattern (Lucene's MultiPhraseQuery,
  * query syntax `"data quer*"`). Lowered by [[RewriteFtsMatch]]: index
  * path = position-list adjacency fold with per-slot pattern unions over
  * a POSITIONAL v1 index ([[graft.fts.Search.matchPhraseWildPositional]]);
  * scan path = per-start-offset slot checks over the token array (exact
  * slots compare, pattern slots run the codegen'd LIKE). */
case class FtsPhraseWild(left: Expression, right: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "fts_phrase_wild"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsPhraseWild =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_score(text, 'q terms')`: the document's BM25(k1=1.2, b=0.75) score
  * for the query — RANKED retrieval on the SQL surface, so
  * `SELECT doc_id, fts_score(text,'q') AS s FROM docs
  *  WHERE fts_match_any(text,'q') ORDER BY s DESC LIMIT 10`
  * plans as a partition-pruned postings scoring join + TakeOrderedAndProject
  * (the reference's top-k primitive, sql/core/.../execution/limit.scala:114).
  * Unevaluable: corpus statistics (df, avgdl, N) live in the persisted
  * index, so [[RewriteFtsMatch]] lowers it — for a table registered in
  * [[graft.fts.IndexCatalog]] — to a left-outer join against
  * [[graft.fts.Search.scoreAllBm25]] over the pruned postings (docs with no
  * query term score 0.0). There is no scan fallback: without an index the
  * statistics don't exist, and the rewrite fails loud instead of silently
  * scanning the corpus four times. */
case class FtsScore(left: Expression, right: Expression)
    extends Expression with org.apache.spark.sql.catalyst.expressions.Unevaluable {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = false // coalesced to 0.0 by the rewrite
  override def prettyName: String = "fts_score"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsScore =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_prefix(text, 'quer')`: true iff the document contains a token with
  * the given prefix — the wildcard-suffix query `quer*`. Lowered by
  * [[RewriteFtsMatch]] like every term-dictionary predicate: index path =
  * the shape ([[graft.fts.Search.TermShape.Prefix]]) expanded against the
  * index's vocabulary on the driver ([[graft.fts.Vocabulary.matching]]),
  * then a semi-join against the postings of the expanded terms' buckets,
  * row-filtered by the term range; scan path = the [[FtsHasTokenPrefix]]
  * kernel. */
case class FtsPrefix(left: Expression, right: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "fts_prefix"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsPrefix =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_term_range(text, 'lo', 'hi', incl_lo, incl_hi)`: true iff the
  * document contains a token inside the [lo, hi] dictionary range —
  * Lucene's range query (query syntax `[lo TO hi]` / `{lo TO hi}`).
  * Lowered by [[RewriteFtsMatch]]: index path = the range
  * ([[graft.fts.Search.TermShape.Range]]) expanded against the index's
  * vocabulary, then the expanded terms' buckets row-filtered by the
  * range; scan path = the [[FtsHasTokenRange]] kernel. */
case class FtsTermRange(text: Expression, lo: Expression, hi: Expression,
                        inclLo: Expression, inclHi: Expression)
    extends FtsPredicate {
  override def children: Seq[Expression] = Seq(text, lo, hi, inclLo, inclHi)
  override def prettyName: String = "fts_term_range"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsTermRange =
    copy(text = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      inclLo = newChildren(3), inclHi = newChildren(4))
}

/** `fts_near(text, 'a', 'b', slop)`: true iff tokens a and b occur within
  * `slop` positions of each other, either order — proximity search on the
  * SQL surface. Lowered by [[RewriteFtsMatch]]: over a POSITIONAL index
  * ([[graft.fts.Index.build]] with `positional = true`) it is a pure postings plan
  * ([[graft.fts.Search.matchNear]], text never re-read); over a
  * non-positional index, an all-terms candidate semi-join with the
  * [[FtsNearTokens]] kernel as residual; unindexed, the kernel alone. */
case class FtsNear(text: Expression, termA: Expression, termB: Expression,
                   slop: Expression)
    extends FtsPredicate {
  override def children: Seq[Expression] = Seq(text, termA, termB, slop)
  override def prettyName: String = "fts_near"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsNear =
    copy(text = newChildren(0), termA = newChildren(1), termB = newChildren(2),
      slop = newChildren(3))
}

/** `fts_phrase_slop(text, 'a b', k)`: true iff the phrase terms occur in
  * order with at most `k` extra tokens interleaved (span ≤ terms−1+k) —
  * Lucene's sloppy phrase `"a b"~k`, restricted to ORDERED matches (the
  * unordered pairwise form is `fts_near`). `k = 0` is the exact phrase.
  * Lowered by [[RewriteFtsMatch]]: over a POSITIONAL index a pure postings
  * plan ([[graft.fts.Search.matchPhraseSloppy]], text never re-read); over
  * a tf-only v1 index an all-terms candidate semi-join with the
  * [[FtsPhraseSlopTokens]] kernel as residual; unindexed, the kernel
  * alone. */
case class FtsPhraseSlop(text: Expression, phrase: Expression,
                         slop: Expression)
    extends FtsPredicate {
  override def children: Seq[Expression] = Seq(text, phrase, slop)
  override def prettyName: String = "fts_phrase_slop"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsPhraseSlop =
    copy(text = newChildren(0), phrase = newChildren(1), slop = newChildren(2))
}

/** `fts_wildcard(text, 'qu*ry')`: true iff the document contains a token
  * matching the wildcard pattern — any number of `*` (any run) plus `?`
  * (exactly one char), Lucene's full WildcardQuery. Lowered by
  * [[RewriteFtsMatch]]: the single-star no-`?` form is
  * [[graft.fts.Search.TermShape.SingleStar]] (head window, suffix and
  * length test; scan path the [[FtsHasTokenWildcard]] kernel), every
  * other pattern [[graft.fts.Search.TermShape.Pattern]] (literal-head
  * window, codegen'd LIKE; scan path an exists(tokens, LIKE)). Index path:
  * the shape expanded against the index's vocabulary, then the expanded
  * terms' buckets row-filtered by it — a leading star reads no more than
  * any other pattern. `fts_prefix` is the tail-less special case. */
case class FtsWildcard(left: Expression, right: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(left, right)
  override def prettyName: String = "fts_wildcard"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsWildcard =
    copy(left = newChildren(0), right = newChildren(1))
}

/** `fts_fuzzy(text, 'term', k)`: true iff the document contains a token
  * within `k` Levenshtein edits of the term — typo-tolerant search on the
  * SQL surface (query syntax `term~k`). Lowered by [[RewriteFtsMatch]]:
  * index path = the term expanded against the index's vocabulary on the
  * driver ([[graft.fts.Search.TermShape.Fuzzy]]: a length band and the
  * thresholded `levenshtein(t, term, k) >= 0`), then a semi-join against
  * the expanded terms' postings in their buckets; scan path = the same
  * predicate in an exists() over the token array (the threshold form
  * bails out of the DP early, so a long token costs O(len·k), not
  * O(len²)). */
case class FtsFuzzy(text: Expression, term: Expression, maxEdits: Expression)
    extends FtsPredicate {
  override def children: Seq[Expression] = Seq(text, term, maxEdits)
  override def prettyName: String = "fts_fuzzy"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsFuzzy =
    copy(text = newChildren(0), term = newChildren(1), maxEdits = newChildren(2))
}

/** `fts_regexp(text, 'pattern')`: true iff the document contains a token
  * the regex matches IN FULL — Lucene's RegexpQuery (implicitly anchored
  * at both ends), query syntax `/pattern/`. Index terms are the frozen v1
  * grammar's lowercase `[a-z0-9]+`, so the pattern is matched against
  * that dictionary; an uppercase literal can never match. Lowered by
  * [[RewriteFtsMatch]] (reference seed: RLike,
  * sql/catalyst/.../regexpExpressions.scala:125) as
  * [[graft.fts.Search.TermShape.Regexp]]: the anchored RLIKE, windowed by
  * the pattern's anchored LITERAL prefix when it has one. Index path: the
  * shape expanded against the index's vocabulary, then the expanded
  * terms' buckets row-filtered by it, prefix or not; scan path: an
  * exists(tokens, RLIKE) over the token array. Keep patterns RE2-portable
  * (no lookaround/backrefs) — the oracle engine replays them. */
case class FtsRegexp(text: Expression, pattern: Expression) extends FtsPredicate {
  override def children: Seq[Expression] = Seq(text, pattern)
  override def prettyName: String = "fts_regexp"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FtsRegexp =
    copy(text = newChildren(0), pattern = newChildren(1))
}

/** Lowers every `fts_*` predicate and `fts_score` during optimization, in
  * four passes:
  *
  *  1. **Covered**: a projection, or an `ORDER BY` and the projection above
  *     it, that reads only the id column and at most one `fts_score`, over
  *     WHERE conjuncts that are all index-exact, is built from postings
  *     alone: the BM25 scoring subplan (whose rows a conjunct must bound to
  *     the score's terms), or else the first conjunct's id set, semi-joined
  *     with the other id sets and anti-joined with the negated ones. The
  *     corpus is never scanned. A covered row proves non-NULL its id, the
  *     scored text column, and each column that a positive conjunct reads
  *     on every branch (a match leaf its text column, an AND the union of
  *     its parts' columns, an OR the intersection of its branches'). An
  *     `IS NOT NULL` or a negation is covered only when every column it
  *     reads is proven; otherwise the query goes to the passes below.
  *  2. **Score join**: any other `fts_score` over a registered table
  *     becomes a left-outer join against the per-doc BM25 scores of the
  *     persisted index.
  *  3. **WHERE pass**: each conjunct a registered index answers
  *     ([[lowerConjunct]]) becomes a join step over the corpus scan,
  *     against postings partition-pruned to the query terms' buckets. Same
  *     predicate→semi-join shape as the reference's
  *     RewritePredicateSubquery (Optimizer.scala:123); the pruning rides
  *     the stock partition-pruning pathway (FileSourceStrategy.scala:78).
  *  4. **Scan fallback**: whatever is left becomes codegen'd kernels over
  *     `fts_tokenize(text)`, e.g. `array_contains(fts_tokenize(text), term)
  *     AND …` — a full scan, but pushdown-friendly like any predicate.
  *
  * Passes 1 and 2 share one scoring subplan, [[scoringPlan]]: the query
  * terms' pruned postings, with the index's corpus stats as literals.
  * Passes 1 and 3 share one id-set lowering, [[exactIds]]; the WHERE
  * pass adds only the forms that need the corpus row (negation under
  * IsNotNull, token-kernel residuals). Every lowering runs the same
  * argument checks, so a predicate's answer does not depend on which
  * index, if any, is registered.
  *
  * The rule runs inside the session optimizer's operator-optimization
  * batches. The subplans it grafts are not optimized on their own
  * ([[plannerReady]]): the batch the rule fires in, and every batch
  * after it, optimize them together with the query. Pushdown, constant
  * folding (the bucket filters that partition-prune the postings),
  * column pruning and inferred filters run once per query, and
  * [[SingleTaskPostings]] sees each postings scan once.
  */
object RewriteFtsMatch extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, ArrayContains, Attribute, Coalesce, EqualTo, ExprId, IsNotNull, Literal, NamedExpression, SortOrder}
  import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter, LeftSemi}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, Project, Sort, SubqueryAlias}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import graft.fts.IndexCatalog
  import graft.fts.Search.TermShape

  private def queryTerms(q: UTF8String): Seq[String] =
    graft.fts.Analyzer.tokenizeString(q.toString).distinct

  /** Query terms normalized through the INDEX's analyzer pipeline — an
    * analyzer-configured index (stemmed/stopworded/CJK) is only answerable
    * by terms that went through the same stages the corpus did
    * (AnalyzerConfig is persisted with the index for exactly this replay;
    * for the default config this is [[queryTerms]]). */
  private def entryTerms(entry: IndexCatalog.Entry, q: UTF8String): Seq[String] =
    if (entry.analyzer.isV1) queryTerms(q)
    else entry.analyzer.tokenizeQuery(q.toString).distinct

  /** Phrase tokens keep ORDER and REPETITION (unlike [[queryTerms]]). */
  private def phraseTerms(q: UTF8String): Seq[String] =
    graft.fts.Analyzer.tokenizeString(q.toString)

  /** Phrase tokens through the entry's analyzer pipeline — order and
    * repetition preserved (tokenizeQuery keeps both; only [[entryTerms]]
    * dedups). A positional ANALYZER index stores positions in analyzed
    * space ([[graft.fts.Index.build]]), so the
    * phrase's analyzed token sequence is exactly what adjacency means
    * there — stemmed phrase search. */
  private def entryPhraseTerms(entry: IndexCatalog.Entry,
                               q: UTF8String): Seq[String] =
    if (entry.analyzer.isV1) phraseTerms(q)
    else entry.analyzer.tokenizeQuery(q.toString)

  /** A near operand through the entry's pipeline: None when the analyzer
    * drops it (stopword / min-length) or splits it (CJK bigrams of a
    * multi-char operand) — a dropped term has no postings, so the
    * proximity predicate can never hold. */
  private def entryNearTerm(entry: IndexCatalog.Entry,
                            t: String): Option[String] =
    if (entry.analyzer.isV1) Some(t)
    else entry.analyzer.tokenizeQuery(t) match {
      case Seq(one) => Some(one)
      case _ => None
    }

  /** Token-canonical phrase containment over `text`: the space-padded join
    * of the tokens contains the space-padded phrase — all codegen'd
    * built-ins, identical semantics to [[graft.fts.Search.matchPhrase]]'s
    * verification stage. */
  private def phraseContains(text: Expression, terms: Seq[String]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, Concat, Contains}
    def s(v: String) = Literal(UTF8String.fromString(v), StringType)
    val canonical = Concat(Seq(s(" "),
      ArrayJoin(FtsTokenize(text), s(" "), None), s(" ")))
    Contains(canonical, s(" " + terms.mkString(" ") + " "))
  }

  /** An attribute's resolved index binding: the entry serving it plus the
    * child-level id attribute to semi-join on. A table can carry SEVERAL
    * indexes (one per text column), so every conjunct resolves its OWN
    * binding from the attribute it scores/filters. */
  private type EntryFor = Attribute => Option[(IndexCatalog.Entry, Attribute)]

  /** The argument checks every lowering of a predicate runs, so the scan
    * fallback and the index plans reject the same call with one message. */
  private def checkSlop(fn: String, slop: Int): Unit =
    if (slop < 0) throw new IllegalArgumentException(
      s"$fn requires a non-negative slop, got $slop")
  private def checkMinMatch(k: Int): Unit =
    if (k < 1) throw new IllegalArgumentException(
      s"fts_match_min: minimum_should_match must be >= 1, got $k")

  /** The exact doc-id set for one positive fts predicate over its resolved
    * entry's persisted index, as a [[plannerReady]] plan, with the id
    * attribute the set joins on; None when the predicate is not
    * index-exact here. */
  private def exactIds(e: Expression, entryFor: EntryFor): Option[(LogicalPlan, Attribute)] =
    exactIdsDf(e, entryFor).map { case (df, idAttr) => (plannerReady(df), idAttr) }

  /** [[exactIds]] as a DataFrame. A disjunction is the union of its
    * branches' sets, a conjunction their intersection. */
  private def exactIdsDf(e: Expression, entryFor: EntryFor)
      : Option[(org.apache.spark.sql.DataFrame, Attribute)] = {
    // Branches over different indexed columns are fine (same doc id);
    // mixed id attributes cannot combine. A branch needing a text residual
    // (phrase/near over a tf-only index) is not index-exact, so the whole
    // expression falls to the scan lowering
    def combined(branches: Seq[Expression],
                 combine: Seq[org.apache.spark.sql.DataFrame] => org.apache.spark.sql.DataFrame) = {
      val resolved = branches.map(exactIdsDf(_, entryFor))
      if (resolved.exists(_.isEmpty) ||
          resolved.flatten.map(_._2.exprId).distinct.size != 1) None
      else Some((combine(resolved.flatten.map(_._1)), resolved.head.get._2))
    }
    e match {
      case FtsMatch(a: Attribute, Literal(q: UTF8String, StringType))
          if entryFor(a).isDefined =>
        val (entry, idAttr) = entryFor(a).get
        val ts = entryTerms(entry, q)
        Some((if (ts.isEmpty) emptyIds(entry)
          else matchingIds(entry, ts, requireAll = true), idAttr))
      case FtsMatchAny(a: Attribute, Literal(q: UTF8String, StringType))
          if entryFor(a).isDefined =>
        val (entry, idAttr) = entryFor(a).get
        val ts = entryTerms(entry, q)
        Some((if (ts.isEmpty) emptyIds(entry)
          else matchingIds(entry, ts, requireAll = false), idAttr))
      case FtsMatchMin(a: Attribute, Literal(q: UTF8String, StringType),
                       Literal(k: Int, org.apache.spark.sql.types.IntegerType))
          if entryFor(a).isDefined =>
        val (entry, idAttr) = entryFor(a).get
        checkMinMatch(k)
        val ts = entryTerms(entry, q)
        Some((if (ts.isEmpty || k > ts.distinct.size) emptyIds(entry)
          else graft.fts.Search.matchMinIds(persistedIx(entry), ts, k), idAttr))
      // phrase/near are index-exact on any POSITIONAL index: v1 positions
      // under the frozen grammar, analyzer positions in analyzed space
      // (query tokens replay the same pipeline). Term-dictionary shapes
      // keep frozen-v1 semantics: they predate the analyzer stages, so
      // they are only index-exact against a v1 index
      case FtsPhrase(a: Attribute, Literal(q: UTF8String, StringType))
          if entryFor(a).exists(_._1.positional) =>
        val (entry, idAttr) = entryFor(a).get
        val ts = entryPhraseTerms(entry, q)
        Some((if (ts.isEmpty) emptyIds(entry)
          else graft.fts.Search.matchPhrasePositional(persistedIx(entry), ts), idAttr))
      case FtsPhraseWild(a: Attribute, Literal(q: UTF8String, StringType))
          if entryFor(a).exists(e => e._1.analyzer.isV1 && e._1.positional) =>
        val (entry, idAttr) = entryFor(a).get
        val slots = wildSlots(q)
        Some((if (slots.isEmpty) emptyIds(entry)
          else graft.fts.Search.matchPhraseWildPositional(persistedIx(entry), slots), idAttr))
      case FtsNear(a: Attribute, Literal(ta: UTF8String, StringType),
                   Literal(tb: UTF8String, StringType),
                   Literal(sl: Int, org.apache.spark.sql.types.IntegerType))
          if entryFor(a).exists(_._1.positional) =>
        val (entry, idAttr) = entryFor(a).get
        checkSlop("fts_near", sl)
        val (na, nb) = (entryNearTerm(entry, singleTerm(ta, "fts_near")),
          entryNearTerm(entry, singleTerm(tb, "fts_near")))
        Some((if (na.isEmpty || nb.isEmpty) emptyIds(entry)
          else graft.fts.Search.matchNear(persistedIx(entry), na.get, nb.get, sl), idAttr))
      case FtsPhraseSlop(a: Attribute, Literal(q: UTF8String, StringType),
                         Literal(sl: Int, org.apache.spark.sql.types.IntegerType))
          if entryFor(a).exists(_._1.positional) =>
        val (entry, idAttr) = entryFor(a).get
        checkSlop("fts_phrase_slop", sl)
        val ts = entryPhraseTerms(entry, q)
        Some((if (ts.isEmpty) emptyIds(entry)
          else graft.fts.Search.matchPhraseSloppy(persistedIx(entry), ts, sl), idAttr))
      // term-dictionary shapes expand against the index's vocabulary on
      // the driver. v1 only: an analyzer index's dictionary is stemmed, so
      // a pattern or an edit distance over the raw query measures the
      // wrong space
      case DictionaryShape(a: Attribute, shape) if entryFor(a).exists(_._1.analyzer.isV1) =>
        val (entry, idAttr) = entryFor(a).get
        Some((expandedIds(entry, shape), idAttr))
      // recursive, so nested Ors flatten
      case or: org.apache.spark.sql.catalyst.expressions.Or =>
        combined(splitDisjunctivePredicates(or), _.reduce(_ unionByName _).distinct())
      // a conjunction inside an OR branch — `(a AND b*) OR c`; top-level
      // Ands are split into separate conjuncts before they get here
      case and: org.apache.spark.sql.catalyst.expressions.And =>
        combined(splitConjunctivePredicates(and), _.reduce((a, b) =>
          a.join(b, a(a.columns.head) === b(b.columns.head), "left_semi")))
      case _ => None
    }
  }

  /** `df`'s analyzed plan, ready for the planner without an optimizer run.
    * The rule runs inside the outer optimizer's operator-optimization
    * batches, after the batches that remove nodes no strategy plans; this
    * applies just those rules: [[org.apache.spark.sql.catalyst.optimizer.Optimizer]]'s
    * `FinishAnalysis` (resolved `broadcast` hints fold into their joins,
    * subquery aliases go, replaceable expressions are replaced), `With`
    * expressions rewritten, and `distinct()` as an aggregate. The outer
    * optimizer then optimizes the grafted plan with the query around it:
    * pushdown, pruning and inferred filters run once per query. */
  private def plannerReady(df: org.apache.spark.sql.DataFrame): LogicalPlan = {
    import org.apache.spark.sql.catalyst.optimizer.{ReplaceDeduplicateWithAggregate, ReplaceDistinctWithAggregate, RewriteWithExpression}
    val qe = df.queryExecution
    Seq(qe.sparkSession.sessionState.optimizer.FinishAnalysis, RewriteWithExpression,
        ReplaceDeduplicateWithAggregate, ReplaceDistinctWithAggregate)
      .foldLeft(qe.analyzed)((plan, rule) => rule(plan))
  }

  /** `cur` joined with an id set (first column) on `idAttr`. */
  private def idJoin(cur: LogicalPlan, idAttr: Attribute, ids: LogicalPlan,
                     joinType: org.apache.spark.sql.catalyst.plans.JoinType): LogicalPlan =
    Join(cur, ids, joinType, Some(EqualTo(idAttr, ids.output.head)), JoinHint.NONE)

  /** One WHERE conjunct as a step over the plan it filters, or None when no
    * registered index answers it (the scan fallback lowers it then):
    *  - an id set [[exactIds]] answers is semi-joined;
    *  - `NOT fts_match(_any)` anti-joins the positive id set (the
    *    library's mustNot, [[graft.fts.Search.matchBoolean]]) under
    *    IsNotNull(text): a NULL-text doc has no postings, so the bare
    *    anti-join would keep it while the scan path's NOT(NULL) drops it.
    *    No usable terms is the scan path's NOT(false), a no-op that keeps
    *    NULL-text rows too;
    *  - phrase, near and sloppy phrase over a tf-only v1 index semi-join
    *    the all-terms candidates, then verify them with the token kernel.
    *    An analyzer index has no such residual: the kernels re-tokenize
    *    text with the v1 grammar, which does not speak analyzed positions. */
  private def lowerConjunct(c: Expression, entryFor: EntryFor)
      : Option[LogicalPlan => LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Not
    import org.apache.spark.sql.types.IntegerType
    def negated(a: Attribute, q: UTF8String, requireAll: Boolean) =
      entryFor(a).map { case (entry, idAttr) =>
        val terms = entryTerms(entry, q)
        if (terms.isEmpty) identity[LogicalPlan] _
        else {
          val ids = plannerReady(matchingIds(entry, terms, requireAll))
          (cur: LogicalPlan) => idJoin(Filter(IsNotNull(a), cur), idAttr, ids, LeftAnti)
        }
      }
    def verified(a: Attribute, terms: Seq[String], residual: Expression) =
      entryFor(a).filter { case (e, _) => e.analyzer.isV1 && !e.positional }
        .map { case (entry, idAttr) =>
          if (terms.isEmpty) Filter(Literal.FalseLiteral, _: LogicalPlan)
          else {
            val ids = plannerReady(matchingIds(entry, terms, requireAll = true))
            (cur: LogicalPlan) => Filter(residual, idJoin(cur, idAttr, ids, LeftSemi))
          }
        }
    exactIds(c, entryFor).map { case (ids, idAttr) =>
      (cur: LogicalPlan) => idJoin(cur, idAttr, ids, LeftSemi)
    }.orElse(c match {
      case Not(FtsMatch(a: Attribute, Literal(q: UTF8String, StringType))) =>
        negated(a, q, requireAll = true)
      case Not(FtsMatchAny(a: Attribute, Literal(q: UTF8String, StringType))) =>
        negated(a, q, requireAll = false)
      case FtsPhrase(a: Attribute, Literal(q: UTF8String, StringType)) =>
        verified(a, queryTerms(q), phraseContains(a, phraseTerms(q)))
      case FtsNear(a: Attribute, Literal(ta: UTF8String, StringType),
                   Literal(tb: UTF8String, StringType), Literal(sl: Int, IntegerType)) =>
        checkSlop("fts_near", sl)
        val (na, nb) = (singleTerm(ta, "fts_near"), singleTerm(tb, "fts_near"))
        verified(a, Seq(na, nb), FtsNearTokens(a, na, nb, sl))
      case FtsPhraseSlop(a: Attribute, Literal(q: UTF8String, StringType),
                         Literal(sl: Int, IntegerType)) =>
        checkSlop("fts_phrase_slop", sl)
        val terms = phraseTerms(q)
        verified(a, terms.distinct, FtsPhraseSlopTokens(a, terms, sl))
      case _ => None
    })
  }

  /** Normalized wildcard-phrase slots: the space-separated words of the
    * slot string, each an exact term or a `*`/`?` pattern with at least
    * one literal character (a meta-only slot would cost a dictionary-wide
    * union per phrase position — rejected loud, like the all-star
    * wildcard). */
  private def wildSlots(q: UTF8String): Seq[String] = {
    val slots = q.toString.toLowerCase(Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq
    slots.foreach { s =>
      if (!s.matches("[a-z0-9*?]+"))
        throw new IllegalArgumentException(
          s"fts_phrase_wild slot '$s' must normalize to [a-z0-9*?]+ " +
            "(the only charset the frozen grammar indexes)")
      if (s.forall(c => c == '*' || c == '?'))
        throw new IllegalArgumentException(
          s"fts_phrase_wild slot '$s' needs at least one literal character " +
            "— a metacharacter-only slot matches the whole dictionary")
    }
    slots
  }

  /** Wildcard-phrase SCAN path: some start offset i where tokens(i+j)
    * satisfies slot j for every j — exact slots compare, pattern slots run
    * the codegen'd LIKE. Guarded CaseWhen keeps 3VL (NULL text → NULL) and
    * never evaluates the sequence with a sub-1 stop (Sequence would
    * auto-descend into index 0). The repeated FtsTokenize collapses under
    * subexpression elimination. */
  private def wildPhraseExists(text: Expression, slots: Seq[String]): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.IntegerType
    val n = slots.size
    def s(v: String) = Literal(UTF8String.fromString(v), StringType)
    val toks = FtsTokenize(text)
    val iv = NamedLambdaVariable("i", IntegerType, nullable = false)
    val checks = slots.zipWithIndex.map[Expression] { case (slot, j) =>
      val elem = ElementAt(toks,
        if (j == 0) iv else Add(iv, Literal(j)))
      if (slot.exists(c => c == '*' || c == '?'))
        new Like(elem, s(slot.replace('*', '%').replace('?', '_')))
      else EqualTo(elem, s(slot))
    }.reduce(And(_, _))
    // Sequence is TimeZoneAwareExpression even over ints — it stays
    // unresolved (and trips PLAN_VALIDATION) until a zone is bound
    val starts = new Sequence(
      Literal(1), Subtract(Size(toks), Literal(n - 1)), None,
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    CaseWhen(
      Seq(
        (IsNull(text), Literal(null, BooleanType)),
        (GreaterThanOrEqual(Size(toks), Literal(n)),
          ArrayExists(starts, LambdaFunction(checks, Seq(iv))))),
      Some(Literal.FalseLiteral))
  }

  /** A term-dictionary predicate's text argument and validated shape
    * ([[graft.fts.Search.TermShape]]), when its other arguments are
    * literals. Every lowering validates through the shape's constructor,
    * so each rejects a bad call with one message. */
  private object DictionaryShape {
    def unapply(e: Expression): Option[(Expression, TermShape)] = e match {
      case FtsPrefix(text, Literal(p: UTF8String, StringType)) =>
        Some((text, TermShape.prefix(p.toString)))
      case FtsTermRange(text, Literal(lo: UTF8String, StringType),
                        Literal(hi: UTF8String, StringType),
                        Literal(il: Boolean, BooleanType),
                        Literal(ih: Boolean, BooleanType)) =>
        Some((text, TermShape.range(lo.toString, hi.toString, il, ih)))
      case FtsWildcard(text, Literal(p: UTF8String, StringType)) =>
        Some((text, TermShape.wildcard(p.toString)))
      case FtsRegexp(text, Literal(p: UTF8String, StringType)) =>
        Some((text, TermShape.regexp(p.toString)))
      case FtsFuzzy(text, Literal(t: UTF8String, StringType),
                    Literal(k: Int, org.apache.spark.sql.types.IntegerType)) =>
        Some((text, TermShape.fuzzy(t.toString, k)))
      case _ => None
    }
  }

  /** A term-dictionary predicate's SCAN path: the prefix, range and
    * single-star kernels, or exists(tokens, t → the shape's predicate) —
    * a codegen'd LIKE, RLIKE or thresholded levenshtein (it bails out of
    * the DP band past k, so a long token costs O(len·k), not O(len²)).
    * NULL text is NULL, through the kernels and ArrayExists alike. */
  private def scanShape(text: Expression, shape: TermShape): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayExists, LambdaFunction, NamedLambdaVariable}
    shape match {
      case TermShape.Prefix(p) => FtsHasTokenPrefix(text, p)
      case TermShape.Range(lo, hi, il, ih) => FtsHasTokenRange(text, lo, hi, il, ih)
      case TermShape.SingleStar(h, t) => FtsHasTokenWildcard(text, h, t)
      case other =>
        val v = NamedLambdaVariable("t", StringType, nullable = false)
        ArrayExists(FtsTokenize(text), LambdaFunction(other.predicate(v).get, Seq(v)))
    }
  }

  /** The single token `t` normalizes to under the frozen grammar. */
  private def singleTerm(t: UTF8String, fn: String): String = {
    val ts = queryTerms(t)
    if (ts.size != 1)
      throw new IllegalArgumentException(
        s"$fn requires terms that normalize to exactly one token, got '$t'")
    ts.head
  }

  /** The persisted index, with the bucket count its postings record, its
    * DataFrames cached per (session, indexDir) in
    * [[IndexCatalog.cachedIndex]] — re-opening the parquet on every
    * optimizer pass cost a file LISTING per query on top of the
    * fingerprint check. */
  private def persistedIx(entry: IndexCatalog.Entry): graft.fts.FtsIndex =
    IndexCatalog.cachedIndex(
      org.apache.spark.sql.SparkSession.active, entry)

  /** The entry's term vocabulary, read once per index directory
    * ([[IndexCatalog.cachedVocabulary]]). */
  private def vocabulary(entry: IndexCatalog.Entry): graft.fts.Vocabulary =
    IndexCatalog.cachedVocabulary(
      org.apache.spark.sql.SparkSession.active, entry)

  /** The base-relation exprId that `attr` (an output of `plan`) carries,
    * traced through pass-through Projects (direct references and simple
    * `col AS alias` renames), Filters, and SubqueryAliases. None for
    * computed expressions or any node this walk doesn't model — name
    * equality alone is NOT identity: `SELECT upper(title) AS text` must not
    * be lowered to the text column's postings semi-join. */
  private def traceToBase(attr: Attribute, plan: LogicalPlan): Option[ExprId] =
    plan match {
      case lr: LogicalRelation =>
        lr.output.find(_.exprId == attr.exprId).map(_.exprId)
      case p: Project =>
        p.projectList.find(_.exprId == attr.exprId).flatMap {
          case a: Attribute => traceToBase(a, p.child)
          case Alias(a: Attribute, _) => traceToBase(a, p.child)
          case _ => None
        }
      case f: Filter => traceToBase(attr, f.child)
      case s: SubqueryAlias => traceToBase(attr, s.child)
      case _ => None
    }

  /** Thread `needed` base attributes through the pass-through chain
    * [[traceToBase]] models, so a column ColumnPruning dropped (doc_id
    * under an Aggregate that only needs lang+text) is available again as a
    * join key. Only ADDS columns to pass-through Projects — callers that
    * use the returned plan must restore the original schema on top. */
  private def ensureCols(plan: LogicalPlan, needed: Seq[Attribute]): LogicalPlan =
    plan match {
      case p: Project =>
        val c = ensureCols(p.child, needed)
        val missing = needed.filterNot(n =>
          p.projectList.exists(_.exprId == n.exprId))
          .filter(c.outputSet.contains)
        Project(p.projectList ++ missing, c)
      case f: Filter => Filter(f.condition, ensureCols(f.child, needed))
      case s: SubqueryAlias => SubqueryAlias(s.identifier, ensureCols(s.child, needed))
      case other => other // a relation exposes everything already
    }

  /** ALL registered FRESH indexes for a plan rooted at exactly one
    * file-source relation, as a resolver from an attribute to its serving
    * entry + the id attribute (semi-join key) — by exprId lineage, never
    * by name. One table may carry several indexes (one per text column:
    * title + body), so resolution is per attribute. Returns the resolver
    * plus the EFFECTIVE child to graft joins onto: identical to `child`
    * unless the id column had been pruned below it, in which case it is
    * re-threaded through the pass-through chain (callers restore the
    * original schema on top — all of them already wrap in a Project or an
    * Aggregate whose output is the declared one). */
  private def indexedTable(child: LogicalPlan): Option[(EntryFor, LogicalPlan)] =
    child.collectLeaves() match {
      case Seq(lr: LogicalRelation) =>
        val entries = (lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.headOption
          case _ => None
        }).toSeq.flatMap(path => IndexCatalog.entriesFor(path.toString))
        val baseIds = entries
          .flatMap(e => lr.output.find(_.name.equalsIgnoreCase(e.idCol)))
          .distinct
        val effChild =
          if (baseIds.forall(b => child.output.exists(a =>
              traceToBase(a, child).contains(b.exprId)))) child
          else ensureCols(child, baseIds)
        val resolved: Map[ExprId, (IndexCatalog.Entry, Attribute)] =
          entries.flatMap { entry =>
            for {
              baseText <- lr.output.find(_.name.equalsIgnoreCase(entry.textCol))
              baseIdCol <- lr.output.find(_.name.equalsIgnoreCase(entry.idCol))
              idAttr <- effChild.output.find(a =>
                traceToBase(a, effChild).contains(baseIdCol.exprId))
            } yield baseText.exprId -> (entry, idAttr)
          }.toMap
        if (resolved.isEmpty) None
        else Some(((a: Attribute) => traceToBase(a, effChild).flatMap(resolved.get),
          effChild))
      case _ => None
    }

  /** Doc ids matching `terms` (ALL of them, or ANY if `requireAll` is
    * false) over the persisted postings: the AND/OR match shapes the
    * library API exposes, over the terms' bucket-pruned slice
    * ([[graft.fts.Index.slice]]) — one implementation of the match
    * semantics. */
  private def matchingIds(entry: IndexCatalog.Entry, terms: Seq[String],
                          requireAll: Boolean): org.apache.spark.sql.DataFrame =
    if (requireAll) graft.fts.Search.matchAllIds(persistedIx(entry), terms)
    else graft.fts.Search.matchAnyIds(persistedIx(entry), terms)

  /** A type-correct empty id set (optimizes to an empty LocalRelation). */
  private def emptyIds(entry: IndexCatalog.Entry): org.apache.spark.sql.DataFrame =
    persistedIx(entry).postings
      .filter(org.apache.spark.sql.GraftColumnBridge.column(Literal.FalseLiteral))
      .select("doc_id")

  /** Doc ids holding a term `shape` matches, the shape expanded against
    * the index's vocabulary on the driver ([[graft.fts.Vocabulary.matching]]):
    * one postings slice ([[graft.fts.Index.slice]]) pruned to the expanded
    * terms' distinct buckets (at most the layout's bucket count, however
    * many terms matched), whose row filter is the shape's own
    * ([[graft.fts.Search.TermShape.rowFilter]]). One term's ids are
    * already distinct ([[graft.fts.FtsIndex]] uniqueness contract). A
    * small slice then runs as one task ([[SingleTaskPostings]]). */
  private def expandedIds(entry: IndexCatalog.Entry, shape: TermShape)
      : org.apache.spark.sql.DataFrame = {
    val terms = vocabulary(entry).matching(shape)
    if (terms.isEmpty) emptyIds(entry)
    else {
      val ids = graft.fts.Index.slice(persistedIx(entry), terms, shape.rowFilter)
        .select("doc_id")
      if (terms.size == 1) ids else ids.distinct()
    }
  }

  /** Per-doc BM25 scores for `terms` as a [[plannerReady]] plan over the
    * persisted index ([[graft.fts.Search.scoreAllBm25]]): postings pruned
    * to the terms' buckets, doc lengths read from the `dl` column
    * [[graft.fts.Index.write]] denormalized onto them, and the corpus
    * stats `(n_docs, avgdl)` folded in as literals, read once per index
    * directory ([[IndexCatalog.cachedStats]]). The plan reads the pruned
    * postings and nothing else: no doclens join, no stats broadcast.
    * Output: (doc_id, score). */
  private def scoringPlan(entry: IndexCatalog.Entry, terms: Seq[String]): LogicalPlan =
    plannerReady(graft.fts.Search.scoreAllBm25(persistedIx(entry), terms, stats = Some(
      IndexCatalog.cachedStats(org.apache.spark.sql.SparkSession.active, entry))))

  /** A WHERE conjunct as the covered builder in [[apply]] classifies it:
    * an IsNotNull, the score's own term domain, or an id set, semi-joined
    * or (negated) anti-joined. */
  private sealed trait Covering
  private case class Implied(attr: Attribute) extends Covering
  private case object ScoreDomain extends Covering
  private case class IdSet(conjunct: Expression, ids: LogicalPlan, idAttr: Attribute,
                           negated: Boolean) extends Covering

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Score join — ranked retrieval: fts_score occurrences in a Project over a
    // registered table become a LEFT-OUTER join against the per-doc BM25
    // scoring subplan (pruned postings, literal corpus stats), the expression
    // replaced by coalesce(score, 0.0) — docs containing no query term
    // score zero. Runs BEFORE the filter pass so the Project's child is
    // still the clean Filter/SubqueryAlias/relation chain traceToBase
    // models (the filter pass grafts joins into that chain).
    // Graft the scoring join(s) under `child` and substitute each lowerable
    // FtsScore in `exprs` with coalesce(score, 0.0). None if nothing lowers.
    def lowerScores(exprs: Seq[Expression], child: LogicalPlan)
        : Option[(Seq[Expression], LogicalPlan)] =
      indexedTable(child).flatMap { case (entryFor, effChild) =>
        // one scoring join per (index, query) — two scored COLUMNS of the
        // same table resolve to different entries and get their own joins
        val queries = exprs.flatMap(_.collect {
          case FtsScore(a: Attribute, Literal(q: UTF8String, StringType))
              if entryFor(a).isDefined =>
            val (entry, idAttr) = entryFor(a).get
            ((entry.indexDir, q), (entry, idAttr))
        }).distinct
        if (queries.isEmpty) None
        else {
          var cur: LogicalPlan = effChild
          val repl = scala.collection.mutable.Map.empty[(String, UTF8String), Expression]
          queries.foreach { case ((dirKey, q), (entry, idAttr)) =>
            val terms = entryTerms(entry, q)
            if (terms.isEmpty) repl((dirKey, q)) = Literal(0.0)
            else {
              val sub = scoringPlan(entry, terms)
              cur = idJoin(cur, idAttr, sub, LeftOuter)
              repl((dirKey, q)) = Coalesce(Seq(sub.output(1), Literal(0.0)))
            }
          }
          val newExprs = exprs.map(_.transform {
            case FtsScore(a: Attribute, Literal(q: UTF8String, StringType))
                if entryFor(a).isDefined =>
              repl((entryFor(a).get._1.indexDir, q))
          })
          Some((newExprs, cur))
        }
      }
    // INDEX-ONLY (covered) plans: a projection, or a sort and the
    // projection above it, that reads nothing but the id column and at most
    // one fts_score, over WHERE conjuncts the index answers, is built from
    // postings alone. At 100 TB that is the difference between a
    // corpus-wide doc_id scan per query and a plan that touches only the
    // query terms' pruned postings buckets. The core is the scoring subplan
    // when there is a score (a conjunct must bound the rows to its term
    // domain), else the first positive id set; the other positive sets are
    // semi-joined to it in conjunct order, then the negated ones
    // anti-joined. A covered row's id and scored text are non-NULL, and so
    // is every column a positive conjunct reads on all its branches: an
    // IsNotNull or a negation over any other column is not covered, since
    // NOT over a NULL column drops a row the bare anti-join keeps. The id
    // column identifies a document (the index aggregates per id). Returns
    // the core and the rebinding of expressions onto it: a bare id
    // reference keeps its exprId for consumers above (alias trick).
    def covered(exprs: Seq[Expression], cond: Expression, grandchild: LogicalPlan)
        : Option[(LogicalPlan, Expression => Expression)] =
      indexedTable(grandchild).flatMap { case (entryFor, _) =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Not, Or}
        val scores = exprs.flatMap(_.collect {
          case FtsScore(a: Attribute, Literal(q: UTF8String, StringType)) =>
            entryFor(a).map { case (e, id) => (e, id, q) }
          case _: FtsScore => None
        })
        val resolved = scores.flatten
        val score = resolved.headOption.map { case (e, id, q) => (e, id, entryTerms(e, q)) }
        // everything but the score must come from the id column
        val refs = AttributeSet(exprs.flatMap(
          _.transform { case _: FtsScore => Literal(0.0) }.references))
        // every score occurrence must resolve, to ONE (index, query) with terms
        if (refs.size > 1 || resolved.size != scores.size || score.exists(_._3.isEmpty) ||
            resolved.map(r => (r._1.indexDir, r._3)).distinct.size > 1) None
        else {
          val scoreSet = score.fold(Set.empty[String])(_._3.toSet)
          val col = (a: Attribute) => entryFor(a).map(_._1.indexDir)
          // a match over the scored column: (all terms required, its terms)
          def scoreLeaf(c: Expression) = score.flatMap { case (e, _, _) => c match {
            case FtsMatch(a: Attribute, Literal(q: UTF8String, StringType))
                if col(a).contains(e.indexDir) => Some((true, entryTerms(e, q).toSet))
            case FtsMatchAny(a: Attribute, Literal(q: UTF8String, StringType))
                if col(a).contains(e.indexDir) => Some((false, entryTerms(e, q).toSet))
            case _ => None
          }}
          // the indexed columns a positive conjunct reads on every branch
          def proves(e: Expression): Set[String] = e match {
            case or: Or => splitDisjunctivePredicates(or).map(proves).reduce(_ intersect _)
            case and: And => splitConjunctivePredicates(and).map(proves).reduce(_ union _)
            case leaf => leaf.references.flatMap(col).toSet
          }
          val conjuncts = splitConjunctivePredicates(cond).map {
            case IsNotNull(a: Attribute) => Some(Implied(a))
            // exactly the docs the scoring subplan holds: no id set needed
            case c if scoreLeaf(c).exists { case (all, ts) =>
                ts == scoreSet && (!all || ts.size == 1) } => Some(ScoreDomain)
            case Not(inner) => exactIds(inner, entryFor).map { case (ids, id) =>
              IdSet(inner, ids, id, negated = true) }
            case c => exactIds(c, entryFor).map { case (ids, id) =>
              IdSet(c, ids, id, negated = false) }
          }
          val (anti, semi) = conjuncts.flatten.collect { case s: IdSet => s }.partition(_.negated)
          score.map(_._2).orElse(semi.headOption.map(_.idAttr)).filter { id =>
            val proven = score.map(_._1.indexDir).toSet ++ semi.flatMap(s => proves(s.conjunct))
            def isProven(a: Attribute) = a.exprId == id.exprId || col(a).exists(proven)
            refs.subsetOf(AttributeSet(Seq(id))) &&
              conjuncts.forall {
                case Some(Implied(a)) => isProven(a)
                case Some(ScoreDomain) => true
                case Some(s: IdSet) => s.idAttr.exprId == id.exprId &&
                  (!s.negated || s.conjunct.references.forall(isProven))
                case None => false
              } &&
              // some conjunct bounds the rows to the score's term domain
              // (at least one score term present)
              (score.isEmpty || conjuncts.exists {
                case Some(ScoreDomain) => true
                case Some(IdSet(c, _, _, false)) => scoreLeaf(c).exists { case (all, ts) =>
                  if (all) ts.exists(scoreSet) else ts.nonEmpty && ts.subsetOf(scoreSet) }
                case _ => false
              })
          }.map { id =>
            val (start, joined) = score match {
              case Some((e, _, ts)) => (scoringPlan(e, ts), semi)
              case None => (semi.head.ids, semi.tail)
            }
            val core = (joined ++ anti).foldLeft(start) { (cur, s) =>
              idJoin(cur, cur.output.head, s.ids, if (s.negated) LeftAnti else LeftSemi) }
            (core, (e: Expression) => (e, e.transform {
              case _: FtsScore => Coalesce(Seq(core.output(1), Literal(0.0)))
              case a: Attribute if a.exprId == id.exprId => core.output.head
            }) match {
              case (ne: NamedExpression, a: Attribute) if a.exprId != ne.exprId =>
                Alias(a, ne.name)(exprId = ne.exprId)
              case (_, other) => other
            })
          }
        }
      }
    // `SELECT id-only … WHERE <index-exact> ORDER BY fts_score(…) LIMIT k`
    // plans as Project(id, Sort(score-order, Project([id, text], Filter)))
    // — the inner Project carries text ONLY to feed the sort key, so the
    // id-only-ness is visible at the OUTER Project. Covering the whole
    // chain discards the inner list: Project(ids, Sort(rebound keys,
    // core)), which with LIMIT still plans as TakeOrderedAndProject.
    val coveredPlans = plan.transformUp {
      case p @ Project(list, Filter(cond, grandchild))
          if p.resolved && cond.exists(_.isInstanceOf[FtsPredicate]) =>
        covered(list, cond, grandchild).fold[LogicalPlan](p) { case (core, rebind) =>
          Project(list.map(rebind(_).asInstanceOf[NamedExpression]), core)
        }
      case p @ Project(outer, Sort(order, global, Project(_, Filter(cond, grandchild)), hint))
          if p.resolved && cond.exists(_.isInstanceOf[FtsPredicate]) =>
        covered(order ++ outer, cond, grandchild).fold[LogicalPlan](p) { case (core, rebind) =>
          Project(outer.map(rebind(_).asInstanceOf[NamedExpression]),
            Sort(order.map(rebind(_).asInstanceOf[SortOrder]), global, core, hint))
        }
    }
    val scoreAware = coveredPlans.transformUp {
      case p @ Project(projectList, child)
          if p.resolved && projectList.exists(_.exists(_.isInstanceOf[FtsScore])) =>
        lowerScores(projectList, child).fold[LogicalPlan](p) { case (newList, cur) =>
          Project(newList.map(_.asInstanceOf[NamedExpression]), cur)
        }
      // filter pushdown may have INLINED a projected score alias into a
      // Filter condition (`WHERE s <> 0` over `SELECT fts_score(..) AS s`) —
      // lower it there too, projecting back to the child's schema so the
      // grafted join's columns don't leak upward
      case f @ Filter(cond, child)
          if f.resolved && cond.exists(_.isInstanceOf[FtsScore]) =>
        lowerScores(Seq(cond), child) match {
          case Some((Seq(newCond), cur)) =>
            Project(child.output, Filter(newCond, cur))
          case _ => f
        }
      // `ORDER BY fts_score(text,'q') DESC` without projecting the score:
      // graft the scoring join below the Sort, rewrite the sort keys, and
      // project the original schema back on top — with LIMIT the whole
      // thing still plans as TakeOrderedAndProject
      case srt @ Sort(order, global, child, hint)
          if srt.resolved && order.exists(_.exists(_.isInstanceOf[FtsScore])) =>
        lowerScores(order, child) match {
          case Some((newOrder, cur)) =>
            Project(child.output,
              Sort(newOrder.map(_.asInstanceOf[SortOrder]), global, cur, hint))
          case None => srt
        }
      // AGGREGATE positions — `GROUP BY lang … max(fts_score(text,'q'))`
      // or a HAVING over one (parsed as an agg expression): graft the
      // scoring join below the Aggregate and rewrite both grouping and
      // aggregate expressions; the Aggregate's declared output is
      // unchanged, so the join's columns don't leak upward
      case agg @ org.apache.spark.sql.catalyst.plans.logical.Aggregate(
            grouping, aggExprs, child, hint)
          if agg.resolved &&
            (grouping ++ aggExprs).exists(_.exists(_.isInstanceOf[FtsScore])) =>
        lowerScores(grouping ++ aggExprs, child) match {
          case Some((newAll, cur)) =>
            val (newG, newA) = newAll.splitAt(grouping.size)
            org.apache.spark.sql.catalyst.plans.logical.Aggregate(
              newG, newA.map(_.asInstanceOf[NamedExpression]), cur, hint)
          case None => agg
        }
    }
    // WHERE pass: each conjunct an index answers becomes a join step over
    // the Filter of the rest, one WHERE clause possibly probing several
    // indexed columns (title AND body) of the same table
    val indexAware = scoreAware.transformUp {
      case f @ Filter(cond, child) if f.resolved =>
        indexedTable(child).fold[LogicalPlan](f) { case (entryFor, effChild) =>
          val (steps, rest) = splitConjunctivePredicates(cond)
            .partitionMap(c => lowerConjunct(c, entryFor).toLeft(c))
          if (steps.isEmpty) f
          else {
            val base = rest.reduceOption(And).fold(effChild)(Filter(_, effChild))
            val folded = steps.foldLeft(base)((cur, step) => step(cur))
            // an id column re-threaded for the join must not leak upward
            if (effChild eq child) folded else Project(child.output, folded)
          }
        }
    }
    indexAware.transformAllExpressions {
      case FtsMatch(text, Literal(q: UTF8String, StringType)) =>
        val terms = queryTerms(q)
        if (terms.isEmpty) Literal.FalseLiteral
        else terms.map[Expression](t =>
            ArrayContains(FtsTokenize(text), Literal(UTF8String.fromString(t), StringType)))
          .reduce(And)
      case FtsMatchAny(text, Literal(q: UTF8String, StringType)) =>
        val terms = queryTerms(q)
        if (terms.isEmpty) Literal.FalseLiteral
        else terms.map[Expression](t =>
            ArrayContains(FtsTokenize(text), Literal(UTF8String.fromString(t), StringType)))
          .reduce(org.apache.spark.sql.catalyst.expressions.Or(_, _))
      case FtsMatchMin(text, Literal(q: UTF8String, StringType),
                       Literal(k: Int, org.apache.spark.sql.types.IntegerType)) =>
        checkMinMatch(k)
        val terms = queryTerms(q).distinct
        if (terms.isEmpty || k > terms.size) Literal.FalseLiteral
        else org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          org.apache.spark.sql.catalyst.expressions.Size(
            org.apache.spark.sql.catalyst.expressions.ArrayIntersect(
              FtsTokenize(text),
              org.apache.spark.sql.catalyst.expressions.CreateArray(
                terms.map(t => Literal(UTF8String.fromString(t), StringType))))),
          Literal(k))
      case FtsPhrase(text, Literal(q: UTF8String, StringType)) =>
        val terms = phraseTerms(q)
        if (terms.isEmpty) Literal.FalseLiteral
        else phraseContains(text, terms)
      case DictionaryShape(text, shape) => scanShape(text, shape)
      case FtsPhraseWild(text, Literal(q: UTF8String, StringType)) =>
        val slots = wildSlots(q)
        if (slots.isEmpty) Literal.FalseLiteral
        else wildPhraseExists(text, slots)
      case FtsNear(text, Literal(ta: UTF8String, StringType),
                   Literal(tb: UTF8String, StringType),
                   Literal(sl: Int, org.apache.spark.sql.types.IntegerType)) =>
        checkSlop("fts_near", sl)
        FtsNearTokens(text, singleTerm(ta, "fts_near"),
          singleTerm(tb, "fts_near"), sl)
      case FtsPhraseSlop(text, Literal(q: UTF8String, StringType),
                         Literal(sl: Int, org.apache.spark.sql.types.IntegerType)) =>
        checkSlop("fts_phrase_slop", sl)
        val terms = phraseTerms(q)
        if (terms.isEmpty) Literal.FalseLiteral
        // slop 0 is the exact phrase — same containment lowering, so the
        // two spellings plan identically
        else if (sl == 0) phraseContains(text, terms)
        else FtsPhraseSlopTokens(text, terms, sl)
      // a NULL argument literal: three-valued logic, same as every SQL
      // predicate (child 0 is the text column of every predicate)
      case p: FtsPredicate if p.children.tail.exists {
            case Literal(null, _) => true; case _ => false } =>
        Literal(null, BooleanType)
      // anything else (non-literal query) would otherwise survive as an
      // Unevaluable and die in physical planning with an opaque error
      case m: FtsMatch => throw new IllegalArgumentException(
        s"fts_match requires a literal query string, got: ${m.right.sql}")
      case m: FtsMatchAny => throw new IllegalArgumentException(
        s"fts_match_any requires a literal query string, got: ${m.right.sql}")
      case m: FtsMatchMin => throw new IllegalArgumentException(
        "fts_match_min requires a literal query string and a literal INT " +
          s"threshold, got: ${m.sql}")
      case m: FtsPhrase => throw new IllegalArgumentException(
        s"fts_phrase requires a literal query string, got: ${m.right.sql}")
      case m: FtsPhraseWild => throw new IllegalArgumentException(
        s"fts_phrase_wild requires a literal slot string, got: ${m.right.sql}")
      case m: FtsPrefix => throw new IllegalArgumentException(
        s"fts_prefix requires a literal prefix string, got: ${m.right.sql}")
      case m: FtsWildcard => throw new IllegalArgumentException(
        s"fts_wildcard requires a literal pattern string, got: ${m.right.sql}")
      case m: FtsNear => throw new IllegalArgumentException(
        "fts_near requires literal string terms and a literal INT slop, got: " +
          s"${m.sql}")
      case m: FtsFuzzy => throw new IllegalArgumentException(
        "fts_fuzzy requires a literal string term and a literal INT edit " +
          s"distance, got: ${m.sql}")
      case m: FtsTermRange => throw new IllegalArgumentException(
        "fts_term_range requires literal string bounds and literal BOOLEAN " +
          s"inclusivity flags, got: ${m.sql}")
      // fts_score that survived the score join: no registered index, a computed (not
      // base-column) text argument, a non-literal query, or an unsupported
      // position. Corpus statistics (df, avgdl, N) live in the persisted
      // index, so there is no scan lowering — fail with the remedy.
      case m: FtsScore => throw new IllegalArgumentException(
        s"fts_score could not be lowered (got: ${m.sql}). It requires: a literal " +
          "query string; the scored column to be the indexed text column of a " +
          "table with a registered fresh index (graft.fts.Index.createIndex); " +
          "and use in a SELECT list, WHERE, ORDER BY, GROUP BY, or aggregate. " +
          "BM25 needs corpus statistics, which live in the index — there is " +
          "no scan fallback.")
    }
  }
}

/** Session extensions: the full-text function surface, the rewrite rule
  * and the single-task rule for small postings slices.
  * Enabled by `spark.sql.extensions=graft.ext.GraftExtensions`, which
  * [[graft.core.GraftSession.builder]] sets. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.allFunctions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteFtsMatch)
    ext.injectPreCBORule(_ => SingleTaskPostings)
  }
}

object GraftExtensions {
  /** The complete graft SQL function surface — fts + vector + text kernels,
    * injected into every session by [[GraftExtensions]]. */
  def allFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (new FunctionIdentifier("fts_tokenize"),
        new ExpressionInfo(classOf[FtsTokenize].getName, "fts_tokenize"),
        (args: Seq[Expression]) => FtsTokenize(args.head)),
      (new FunctionIdentifier("fts_match"),
        new ExpressionInfo(classOf[FtsMatch].getName, "fts_match"),
        (args: Seq[Expression]) => FtsMatch(args(0), args(1))),
      (new FunctionIdentifier("fts_match_any"),
        new ExpressionInfo(classOf[FtsMatchAny].getName, "fts_match_any"),
        (args: Seq[Expression]) => FtsMatchAny(args(0), args(1))),
      (new FunctionIdentifier("fts_match_min"),
        new ExpressionInfo(classOf[FtsMatchMin].getName, "fts_match_min"),
        (args: Seq[Expression]) => FtsMatchMin(args(0), args(1), args(2))),
      (new FunctionIdentifier("fts_phrase"),
        new ExpressionInfo(classOf[FtsPhrase].getName, "fts_phrase"),
        (args: Seq[Expression]) => FtsPhrase(args(0), args(1))),
      (new FunctionIdentifier("fts_phrase_wild"),
        new ExpressionInfo(classOf[FtsPhraseWild].getName, "fts_phrase_wild"),
        (args: Seq[Expression]) => FtsPhraseWild(args(0), args(1))),
      (new FunctionIdentifier("fts_score"),
        new ExpressionInfo(classOf[FtsScore].getName, "fts_score"),
        (args: Seq[Expression]) => FtsScore(args(0), args(1))),
      (new FunctionIdentifier("fts_prefix"),
        new ExpressionInfo(classOf[FtsPrefix].getName, "fts_prefix"),
        (args: Seq[Expression]) => FtsPrefix(args(0), args(1))),
      (new FunctionIdentifier("fts_near"),
        new ExpressionInfo(classOf[FtsNear].getName, "fts_near"),
        (args: Seq[Expression]) => FtsNear(args(0), args(1), args(2), args(3))),
      (new FunctionIdentifier("fts_phrase_slop"),
        new ExpressionInfo(classOf[FtsPhraseSlop].getName, "fts_phrase_slop"),
        (args: Seq[Expression]) => FtsPhraseSlop(args(0), args(1), args(2))),
      (new FunctionIdentifier("fts_snippet"),
        new ExpressionInfo(classOf[FtsSnippet].getName, "fts_snippet"),
        (args: Seq[Expression]) => FtsSnippet(args(0), args(1), args(2))),
      (new FunctionIdentifier("fts_wildcard"),
        new ExpressionInfo(classOf[FtsWildcard].getName, "fts_wildcard"),
        (args: Seq[Expression]) => FtsWildcard(args(0), args(1))),
      (new FunctionIdentifier("fts_fuzzy"),
        new ExpressionInfo(classOf[FtsFuzzy].getName, "fts_fuzzy"),
        (args: Seq[Expression]) => FtsFuzzy(args(0), args(1), args(2))),
      (new FunctionIdentifier("fts_regexp"),
        new ExpressionInfo(classOf[FtsRegexp].getName, "fts_regexp"),
        (args: Seq[Expression]) => FtsRegexp(args(0), args(1))),
      // `fts_term_range(text, lo, hi[, incl_lo, incl_hi])` — dictionary
      // range query (bounds default inclusive, Lucene's `[lo TO hi]`)
      (new FunctionIdentifier("fts_term_range"),
        new ExpressionInfo(classOf[FtsTermRange].getName, "fts_term_range"),
        (args: Seq[Expression]) => args.length match {
          case 3 => FtsTermRange(args(0), args(1), args(2),
            org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral,
            org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
          case 5 => FtsTermRange(args(0), args(1), args(2), args(3), args(4))
          case n => throw new org.apache.spark.sql.AnalysisException(
            "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
            Map("errorMessage" ->
              s"fts_term_range(text, lo, hi[, incl_lo, incl_hi]) takes 3 or 5 arguments, got $n"),
            None)
        }),
      // `fts_query(text, 'a AND ("b c" OR d*) NOT e')` — the Lucene-style
      // query language. Parsed ONCE here (the query must be a foldable
      // string — a literal or a constant expression) and expanded into the
      // existing FTS leaf expressions glued with Catalyst And/Or/Not, so
      // each leaf takes its own RewriteFtsMatch lowering (index semi-join /
      // OR-union / anti-join / scan kernel) exactly as if written by hand.
      // Pure front-end: no new execution machinery — the ExpressionInfo
      // marker class is QueryParser, which builds the composite tree.
      (new FunctionIdentifier("fts_query"),
        new ExpressionInfo(graft.fts.QueryParser.getClass.getName, null,
          "fts_query",
          "fts_query(text, query) - Lucene-style query-string search: " +
            "bare terms (implicit AND), \"quoted phrases\", trailing-* " +
            "prefix, single inner/leading * wildcard, term~k fuzzy, " +
            "[lo TO hi] / {lo TO hi} term ranges, a NEAR/k b, term^w and " +
            "\"phrase\"^w boosts, +required/-prohibited operators, " +
            "field:term scoping to another indexed column, and AND/OR/NOT " +
            "with parentheses. The query must be a constant (foldable) " +
            "string; it is parsed at analysis time and expanded into the " +
            "fts_match/fts_phrase/fts_prefix/fts_wildcard/fts_fuzzy/" +
            "fts_term_range/fts_near expression tree.",
          ""),
        (args: Seq[Expression]) => {
          def analysisError(msg: String): Nothing =
            throw new org.apache.spark.sql.AnalysisException(
              "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
              Map("errorMessage" -> msg), None)
          if (args.length != 2) analysisError(
            s"fts_query(text, 'query string') takes 2 arguments, got ${args.length}")
          val qe = args(1)
          if (qe.dataType != StringType || !qe.foldable) analysisError(
            s"fts_query requires a constant (foldable) query string, got: ${qe.sql}")
          val q = qe.eval() match {
            case null => analysisError("fts_query query string must not be NULL")
            case s: UTF8String => s.toString
          }
          try graft.fts.QueryParser.compile(args(0), q)
          catch { case e: IllegalArgumentException => analysisError(e.getMessage) }
        }),
      // `fts_query_score(text, '<query string>')` — RANKED retrieval for
      // the query language: the document's BM25 score for the query's
      // positive scoring terms (Term leaves, phrase terms, NEAR operands;
      // Prefix/Wildcard/Fuzzy clauses and NOT subtrees filter but don't
      // score — Lucene's constant-score treatment of multi-term and
      // prohibited clauses). Compiles at analysis time to [[FtsScore]]
      // over the extracted term bag, so the whole ranked-retrieval
      // machinery (pass-0 scoring join over pruned postings, the
      // covering-index plan, TakeOrderedAndProject top-k) applies
      // unchanged. Pair with `WHERE fts_query(text, <same string>)` for
      // the boolean match set.
      (new FunctionIdentifier("fts_query_score"),
        new ExpressionInfo(graft.fts.QueryParser.getClass.getName, null,
          "fts_query_score",
          "fts_query_score(text, query) - BM25 score of the document for " +
            "the query string's positive scoring terms (bare terms, phrase " +
            "terms, NEAR operands; prefix/wildcard/fuzzy and NOT clauses " +
            "filter only). Requires a registered index; compose with " +
            "fts_query(text, query) for the boolean match set and " +
            "ORDER BY … LIMIT k for top-k.",
          ""),
        (args: Seq[Expression]) => {
          def analysisError(msg: String): Nothing =
            throw new org.apache.spark.sql.AnalysisException(
              "_LEGACY_ERROR_USER_RAISED_EXCEPTION",
              Map("errorMessage" -> msg), None)
          if (args.length != 2) analysisError(
            s"fts_query_score(text, 'query string') takes 2 arguments, got ${args.length}")
          val qe = args(1)
          if (qe.dataType != StringType || !qe.foldable) analysisError(
            s"fts_query_score requires a constant (foldable) query string, got: ${qe.sql}")
          val q = qe.eval() match {
            case null => analysisError("fts_query_score query string must not be NULL")
            case s: UTF8String => s.toString
          }
          val weights =
            try graft.fts.QueryParser.scoringWeights(graft.fts.QueryParser.parse(q))
            catch { case e: IllegalArgumentException => analysisError(e.getMessage) }
          if (weights.isEmpty) analysisError(
            s"fts_query_score: query '$q' has no scoring terms (only " +
              "prefix/wildcard/fuzzy/NOT clauses) — nothing to rank by")
          // one FtsScore per distinct boost, summed with the boost as a
          // plain multiplier: Σ_w w·bm25(terms_w). An unboosted query is a
          // single weight-1.0 group — exactly one FtsScore, so the
          // covering-index plan is preserved; each boosted group adds one
          // more scoring join over its own pruned postings (clauses are
          // additive in Lucene too, so `a AND a^2` scores 3·bm25(a)).
          val groups = weights.distinct.groupBy(_._2).toSeq.sortBy(_._1)
          val parts: Seq[Expression] = groups.map { case (w, ts) =>
            val fs: Expression = FtsScore(args(0),
              org.apache.spark.sql.catalyst.expressions.Literal(
                UTF8String.fromString(ts.map(_._1).distinct.mkString(" ")),
                StringType))
            if (w == 1.0) fs
            else org.apache.spark.sql.catalyst.expressions.Multiply(
              org.apache.spark.sql.catalyst.expressions.Literal(w), fs)
          }
          parts.reduce((a, b) =>
            org.apache.spark.sql.catalyst.expressions.Add(a, b))
        })
    ) ++ VecKernels.functions ++ TextKernels.functions
}
