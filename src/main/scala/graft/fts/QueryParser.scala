package graft.fts

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal, Not, Or}

/** Lucene-style query-string language over the FTS surface:
  *
  * {{{
  *   data AND ("fast table" OR quer*) AND NOT (slow OR zz?item)
  *   spark NEAR/3 shuffle
  * }}}
  *
  *  - bare word        → [[graft.ext.FtsMatch]]   (all-terms containment)
  *  - "quoted words"   → [[graft.ext.FtsPhrase]]  (adjacent, in order)
  *  - "quoted words"~k → [[graft.ext.FtsPhraseSlop]] (in order, ≤ k extra
  *    tokens interleaved — Lucene's sloppy phrase, ordered)
  *  - trailing-* word  → [[graft.ext.FtsPrefix]]
  *  - single inner `*` → [[graft.ext.FtsWildcard]] (head*tail);
  *    multi-`*` / `?` words → general wildcard patterns (Lucene's full
  *    WildcardQuery)
  *  - term~k (k ∈ 1,2; bare `~` = 2) → [[graft.ext.FtsFuzzy]] (typo-tolerant)
  *  - /pattern/ → [[graft.ext.FtsRegexp]] (Lucene RegexpQuery: some token
  *    matches the regex in full)
  *  - a NEAR/k b       → [[graft.ext.FtsNear]]    (proximity, either order)
  *  - term^w / "phrase"^w → boost: a no-op for boolean matching, a score
  *    multiplier for `fts_query_score` ([[scoringWeights]])
  *  - +term / -term (also on phrases and groups: `-"a b"`, `-(a OR b)`) →
  *    Lucene's required/prohibited operators. Adjacency is already
  *    implicit AND here, so `+` is the explicit spelling of the default
  *    and `-x` ≡ `NOT x`; both must be directly attached to what they
  *    negate/require (a free-standing `-` fails loud — it could equally
  *    be pasted punctuation).
  *  - field:term / field:"phrase" / field:(group) → scope the clause to
  *    ANOTHER indexed column of the same table (`source:wiki AND vector`
  *    searches `source` for wiki and the default column for vector).
  *    Lowered over an [[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]]
  *    so the analyzer resolves the field against the query's own plan —
  *    a typo'd field is a loud "column not found", and each scoped leaf
  *    picks up its OWN per-(table, column) index lowering exactly like a
  *    hand-written `fts_match(source, …)` conjunct. Scoped clauses FILTER
  *    but do not score (`fts_query_score` is single-field BM25 — the
  *    default column's statistics say nothing about another field), so a
  *    boost inside a scope is rejected as a silent no-op. A word whose
  *    pre-`:` prefix is not an identifier (`12:30`, `:foo`) is NOT a
  *    scope — it stays a plain word through the token grammar.
  *  - [lo TO hi] / {lo TO hi} → term RANGE (inclusive / exclusive
  *    bounds, mixable): true iff the document contains a token inside
  *    the range — Lucene's range query over the term dictionary. Lowers
  *    to [[graft.ext.FtsTermRange]]. Filters without scoring, like every
  *    multi-term clause.
  *
  * Every term-dictionary clause (prefix, wildcard, fuzzy, regexp, range)
  * lowers like its SQL function: against a v1 index it expands against
  * the index's term vocabulary on the driver and reads only the matching
  * terms' postings buckets ([[Search.TermShape]]); unindexed, a codegen'd
  * token-scan kernel.
  *  - AND / OR / NOT, parentheses; adjacency is implicit AND (so
  *    `big data` ≡ `big AND data` — each term must appear, matching
  *    fts_match's all-terms semantics for multi-term strings).
  *
  * The parser runs once per query at ANALYSIS time (the string must be a
  * literal / foldable argument) and emits a tree of the existing Unevaluable
  * FTS expressions glued with Catalyst And/Or/Not — so every leaf picks up
  * its own [[graft.ext.RewriteFtsMatch]] lowering (postings semi-join,
  * OR-union, NOT anti-join, scan-kernel fallback) exactly as if the user
  * had written the conjuncts by hand. No new execution machinery: the
  * query language is pure front-end.
  *
  * Operator words are reserved (case-insensitive); terms are normalized
  * through the frozen v1 grammar ([[Analyzer.tokenizeString]]:
  * lowercase(ROOT), split on non-[a-z0-9] runs), so `Spark-SQL` queries as
  * the implicit-AND of the two terms `spark` and `sql` — exactly the tokens
  * the analyzer produced at index time.
  */
object QueryParser {

  sealed trait Node
  final case class Term(t: String) extends Node
  final case class Phrase(ts: Seq[String]) extends Node
  /** `"a b"~k` — ordered sloppy phrase: terms in phrase order with at most
    * `slop` extra tokens interleaved (span ≤ ts−1+slop). */
  final case class SloppyPhrase(ts: Seq[String], slop: Int) extends Node
  /** `"data quer*"` — phrase with `*`/`?` WILDCARD slots (Lucene's
    * MultiPhraseQuery): each slot is an exact term or a pattern; a pattern
    * slot matches any dictionary term of that shape at that position.
    * Like the other multi-term clauses (Prefix/Wildcard/Fuzzy) it FILTERS
    * without scoring — constant-score treatment. */
  final case class WildPhrase(slots: Seq[String]) extends Node
  final case class Prefix(p: String) extends Node
  final case class Wildcard(pat: String) extends Node
  /** `/pattern/` — Lucene RegexpQuery: some token matches the regex IN
    * FULL (implicit `^…$` anchoring). Filters without scoring, like the
    * other multi-term clauses. */
  final case class Regex(pat: String) extends Node
  final case class Fuzzy(t: String, maxEdits: Int) extends Node
  final case class TermRange(lo: String, hi: String,
                             inclLo: Boolean, inclHi: Boolean) extends Node
  final case class Near(a: String, b: String, slop: Int) extends Node
  final case class Boosted(n: Node, w: Double) extends Node
  final case class Scoped(field: String, n: Node) extends Node
  final case class AndN(l: Node, r: Node) extends Node
  final case class OrN(l: Node, r: Node) extends Node
  final case class NotN(n: Node) extends Node

  // ---- lexer ----------------------------------------------------------------

  private sealed trait Tok
  private case object LPar extends Tok
  private case object RPar extends Tok
  // '[' / '{' and ']' / '}' — term-range delimiters (incl = inclusive)
  private final case class LBrT(incl: Boolean) extends Tok
  private final case class RBrT(incl: Boolean) extends Tok
  private case object AndT extends Tok
  private case object OrT extends Tok
  private case object NotT extends Tok
  private final case class NearT(slop: Int) extends Tok
  private final case class PhraseT(raw: String, slop: Int, boost: Double) extends Tok
  private final case class RegexT(pat: String) extends Tok
  private final case class WordT(raw: String) extends Tok

  private val NearRe = "(?i)near/(\\d+)".r

  private def lex(q: String): List[Tok] = {
    val out = List.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      q.charAt(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => out += LPar; i += 1
        case ')' => out += RPar; i += 1
        case '[' => out += LBrT(incl = true); i += 1
        case '{' => out += LBrT(incl = false); i += 1
        case ']' => out += RBrT(incl = true); i += 1
        case '}' => out += RBrT(incl = false); i += 1
        case '"' =>
          val end = q.indexOf('"', i + 1)
          require(end > 0, s"unterminated phrase quote in query: $q")
          // "phrase"~k — Lucene's sloppy phrase, here ORDERED proximity:
          // terms in phrase order with at most k extra tokens interleaved
          // (slop 0 = exact; the unordered pairwise form stays NEAR/k).
          // The slop must be an explicit integer — a bare '~' has no
          // defined width and would silently change the match set.
          var j = end + 1
          var slop = 0
          if (j < q.length && q.charAt(j) == '~') {
            var k = j + 1
            while (k < q.length && q.charAt(k).isDigit) k += 1
            require(k > j + 1,
              s"fts_query: phrase slop needs an explicit integer " +
                s"""("a b"~2) in query: $q""")
            slop = q.substring(j + 1, k).toInt
            j = k
          }
          // "phrase"^w / "phrase"~k^w — boost suffix after the slop
          var boost = 1.0
          if (j < q.length && q.charAt(j) == '^') {
            var k = j + 1
            while (k < q.length && (q.charAt(k).isDigit || q.charAt(k) == '.')) k += 1
            val s = q.substring(j + 1, k)
            boost =
              try s.toDouble
              catch { case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"fts_query: phrase boost must be a number, got '^$s' in query: $q")
              }
            require(boost > 0 && !boost.isInfinite,
              s"fts_query: boost must be a positive finite number in query: $q")
            j = k
          }
          // anything still glued to the phrase ("a b"x, "a b"^2x) would
          // silently tokenize into an AND'd term — reject loud instead
          require(j >= q.length || q.charAt(j).isWhitespace ||
              q.charAt(j) == '(' || q.charAt(j) == ')',
            s"fts_query: unexpected '${q.charAt(math.min(j, q.length - 1))}' " +
              s"directly after a phrase in query: $q")
          out += PhraseT(q.substring(i + 1, end), slop, boost); i = j
        case '/' =>
          // `/pattern/` — regex term (Lucene RegexpQuery syntax). Read RAW
          // to the closing unescaped '/' (regex metacharacters like '('
          // must not hit the grammar); `\/` escapes a literal slash.
          var j = i + 1
          val sb = new StringBuilder
          var closed = false
          while (j < q.length && !closed) {
            q.charAt(j) match {
              case '\\' if j + 1 < q.length && q.charAt(j + 1) == '/' =>
                sb += '/'; j += 2
              case '/' => closed = true; j += 1
              case c => sb += c; j += 1
            }
          }
          require(closed, s"fts_query: unterminated /regex/ in query: $q")
          require(sb.nonEmpty, s"fts_query: empty /regex/ in query: $q")
          // validate at parse time — a bad pattern is a loud analysis
          // error, not a per-row runtime failure
          try java.util.regex.Pattern.compile(sb.toString)
          catch { case e: java.util.regex.PatternSyntaxException =>
            throw new IllegalArgumentException(
              s"fts_query: regex '/${sb}/' does not compile " +
                s"(${e.getDescription}) in query: $q")
          }
          // like phrases: anything glued after the closing '/' would
          // silently tokenize into an AND'd term — reject loud
          require(j >= q.length || q.charAt(j).isWhitespace ||
              q.charAt(j) == '(' || q.charAt(j) == ')',
            s"fts_query: unexpected '${q.charAt(math.min(j, q.length - 1))}' " +
              s"directly after a /regex/ in query: $q")
          out += RegexT(sb.toString); i = j
        case _ =>
          var j = i
          while (j < q.length && !q.charAt(j).isWhitespace &&
            q.charAt(j) != '(' && q.charAt(j) != ')' && q.charAt(j) != '"' &&
            q.charAt(j) != '[' && q.charAt(j) != ']' &&
            q.charAt(j) != '{' && q.charAt(j) != '}') j += 1
          out += (q.substring(i, j) match {
            case w if w.equalsIgnoreCase("and") => AndT
            case w if w.equalsIgnoreCase("or") => OrT
            case w if w.equalsIgnoreCase("not") => NotT
            case NearRe(k) => NearT(k.toInt)
            case w => WordT(w)
          })
          i = j
      }
    }
    out.result()
  }

  // ---- parser (precedence: OR < AND/NEAR < NOT < primary) -------------------

  private final class P(var toks: List[Tok], q: String) {
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"fts_query: $msg in query: $q")

    def parseOr(): Node = {
      var n = parseAnd()
      while (toks.headOption.contains(OrT)) { toks = toks.tail; n = OrN(n, parseAnd()) }
      n
    }

    def parseAnd(): Node = {
      var n = parseNot()
      var done = false
      while (!done) toks match {
        case AndT :: rest => toks = rest; n = AndN(n, parseNot())
        case NearT(k) :: rest =>
          toks = rest
          (n, parseNot()) match {
            case (Term(a), Term(b)) => n = Near(a, b, k)
            case _ => fail("NEAR/k needs a plain term on each side")
          }
        case t :: _ if t != OrT && t != RPar => n = AndN(n, parseNot()) // implicit AND
        case _ => done = true
      }
      n
    }

    def parseNot(): Node = toks match {
      case NotT :: rest => toks = rest; NotN(parseNot())
      // Lucene's required/prohibited prefix operators. Implicit adjacency
      // is already AND, so `+` is the explicit spelling of the default;
      // `-x` ≡ NOT x. Either must be directly ATTACHED: a free-standing
      // `-` could equally be pasted punctuation ("foo - bar"), and
      // guessing would silently change the match set — fail loud instead.
      case WordT(raw) :: rest if raw.head == '+' || raw.head == '-' =>
        val required = raw.head == '+'
        val restRaw = raw.tail
        toks = rest
        if (restRaw.isEmpty) {
          toks match {
            case (LPar | PhraseT(_, _, _) | LBrT(_) | RegexT(_)) :: _ => ()
            case _ => fail(s"'${raw.head}' must be directly attached to a " +
              "term, phrase, range, regex, or (group)")
          }
        } else {
          if (restRaw.head == '+' || restRaw.head == '-')
            fail(s"term '$raw': at most one leading '+'/'-' operator")
          if (restRaw.head == '/')
            // `-/pat/` lexed as one word (the '/' only starts a regex
            // token at token-initial position) — the v1 grammar would
            // silently strip the slashes into a plain term; demand the
            // spaced form instead
            fail(s"term '$raw': write '${raw.head} /regex/' with a space " +
              "— '+'/'-' glued to a regex is ambiguous")
          toks = WordT(restRaw) :: toks
        }
        val inner = parsePrimary()
        if (required) inner else NotN(inner)
      case _ => parsePrimary()
    }

    /** One range endpoint: the next word, normalized to exactly one term. */
    private def rangeEndpoint(): String = toks match {
      case WordT(raw) :: rest =>
        toks = rest
        val ts = Analyzer.tokenizeString(raw)
        if (ts.size != 1) fail(
          s"range endpoint '$raw' must normalize to exactly one term")
        ts.head
      case t => fail(s"term range needs a term endpoint, " +
        s"got ${t.headOption.getOrElse("end of query")}")
    }

    /** `[A-Za-z_][A-Za-z0-9_]*` — a word prefix that can name a column.
      * Anything else before a ':' (`12:30`, `:foo`, `http://…` has a
      * valid prefix but its rest re-parses) is NOT a field scope. */
    private def isFieldName(s: String): Boolean =
      s.nonEmpty && (s.head.isLetter || s.head == '_') &&
        s.forall(c => c.isLetterOrDigit || c == '_')

    def parsePrimary(): Node = toks match {
      case LPar :: rest =>
        toks = rest
        val n = parseOr()
        toks match {
          case RPar :: r2 => toks = r2; n
          case _ => fail("missing ')'")
        }
      case LBrT(inclLo) :: rest =>
        // `[lo TO hi]` / `{lo TO hi}` — a term RANGE over the dictionary
        // (Lucene range-query syntax; bounds mixable: `[a TO b}`).
        // Endpoints normalize through the frozen grammar to exactly ONE
        // term each — a multi-token endpoint has no defined order against
        // single index terms, so it fails loud.
        toks = rest
        val lo = rangeEndpoint()
        toks match {
          case WordT(w) :: r2 if w.equalsIgnoreCase("to") => toks = r2
          case _ => fail("term range needs 'TO' between its endpoints")
        }
        val hi = rangeEndpoint()
        toks match {
          case RBrT(inclHi) :: r2 =>
            toks = r2
            // an always-empty range is a query bug, not an empty result
            val ok = if (inclLo && inclHi) lo <= hi else lo < hi
            if (!ok) fail(s"term range [$lo TO $hi] is empty " +
              "(lo must sort before hi)")
            TermRange(lo, hi, inclLo, inclHi)
          case _ => fail("missing ']' or '}' closing a term range")
        }
      case PhraseT(raw, slop, boost) :: rest =>
        toks = rest
        val words = raw.split("\\s+").filter(_.nonEmpty).toSeq
        val hasMeta = words.exists(_.exists(c => c == '*' || c == '?'))
        if (words.exists(_.contains('~')))
          fail(s"""phrase "$raw": fuzzy terms inside a quoted phrase are """ +
            "not supported — '~' binds to the whole phrase as slop " +
            "(\"a b\"~2), never to a word inside it")
        if (hasMeta) {
          // wildcard-slot phrase — Lucene's MultiPhraseQuery. Before this
          // branch existed the tokenizer SILENTLY dropped '*'/'?' ("quer*"
          // matched the literal term "quer"); now metacharacters mean
          // pattern slots, and malformed slots fail loud.
          if (slop != 0)
            fail(s"""phrase "$raw": wildcard slots inside a sloppy """ +
              "phrase (~k) are not supported — use the exact form " +
              "\"a b*\" or widen the pattern")
          // same rule as term-level wildcards: multi-term clauses filter
          // without scoring, so a boost would be a silent no-op — reject
          if (boost != 1.0)
            fail(s"""phrase "$raw": boost applies to scoring clauses """ +
              "only — wildcard phrases filter without scoring")
          val slots = words.flatMap { w =>
            if (w.exists(c => c == '*' || c == '?')) {
              val n = w.toLowerCase(java.util.Locale.ROOT)
              if (!n.matches("[a-z0-9*?]+"))
                fail(s"phrase wildcard slot '$w' must normalize to " +
                  "[a-z0-9*?]+ (no punctuation mixed with wildcards)")
              if (n.forall(c => c == '*' || c == '?'))
                fail(s"phrase wildcard slot '$w' needs at least one " +
                  "literal character")
              Seq(n)
            } else Analyzer.tokenizeString(w) // 0..n exact slots
          }
          if (slots.isEmpty) fail(s"""phrase "$raw" has no tokens""")
          // a single surviving slot is no phrase: canonicalize to the
          // plain wildcard/term clause so lowering stays uniform
          val inner =
            if (slots.size > 1) WildPhrase(slots)
            else if (slots.head.exists(c => c == '*' || c == '?')) Wildcard(slots.head)
            else Term(slots.head)
          if (boost == 1.0) inner else Boosted(inner, boost)
        } else {
          val ts = Analyzer.tokenizeString(raw)
          if (ts.isEmpty) fail(s"""phrase "$raw" has no tokens""")
          else {
            // slop on a 1-token phrase is the plain term; slop 0 the exact
            // phrase — normalize so downstream lowering stays canonical
            val inner =
              if (slop == 0 || ts.size == 1) Phrase(ts)
              else SloppyPhrase(ts, slop)
            if (boost == 1.0) inner else Boosted(inner, boost)
          }
        }
      case WordT(raw) :: rest if raw.indexOf(':') > 0 &&
          isFieldName(raw.substring(0, raw.indexOf(':'))) =>
        // field:… — scope the directly-following clause to another column.
        // The scoped part re-enters the parser (field:"a b", field:(a OR
        // b), field:quer*) so every leaf form composes; nesting is
        // rejected by [[validate]] after the parse.
        val colon = raw.indexOf(':')
        val field = raw.substring(0, colon)
        val restRaw = raw.substring(colon + 1)
        toks = rest
        if (restRaw.isEmpty) {
          toks match {
            case (LPar | PhraseT(_, _, _) | LBrT(_)) :: _ => ()
            case _ => fail(s"field scope '$field:' needs a term, phrase, " +
              "range, or (group) directly after ':'")
          }
        } else if (restRaw.head == '/')
          // `field:/pat/` lexes as one word (the '/' only starts a regex
          // token at token-initial position) and the v1 grammar would
          // silently strip the slashes — demand the grouped form, which
          // lexes the regex properly
          fail(s"field scope '$field:': write '$field:(/regex/)' — a " +
            "regex glued to ':' is ambiguous")
        else toks = WordT(restRaw) :: toks
        Scoped(field, parsePrimary())
      case RegexT(pat) :: rest =>
        toks = rest
        Regex(pat)
      case WordT(raw) :: rest =>
        toks = rest
        wordNode(raw)
      case t => fail(s"unexpected ${t.headOption.getOrElse("end of query")}")
    }

    /** A bare word through the frozen v1 normalization
      * ([[Analyzer.tokenizeString]] — the SAME helper the indexer's kernel
      * semantics and the phrase path use), with a single `*` (query syntax,
      * not index grammar) kept aside. One raw word may normalize to several
      * index terms (`Spark-SQL` → `spark`, `sql`); those combine as implicit
      * AND — exactly the tokens the indexer produced for the same text, so a
      * punctuated query can never silently match zero rows against terms
      * that were split at index time. */
    private def wordNode(raw: String): Node = {
      // a leading operator only reaches here through a field scope
      // (`source:-wiki`) — the op must come BEFORE the scope (`-source:wiki`),
      // and the v1 grammar would otherwise silently drop the sign
      if (raw.head == '+' || raw.head == '-')
        fail(s"term '$raw': '+'/'-' must come before the field scope " +
          s"(-field:term, not field:-term)")
      // `term^w` — boost suffix (Lucene syntax). Boosts exist to weight
      // SCORING clauses, and prefix/wildcard/fuzzy clauses filter without
      // scoring here, so a boost on one would be a silent no-op — reject.
      val caret = raw.indexOf('^')
      if (caret >= 0) {
        if (raw.indexOf('^', caret + 1) >= 0)
          fail(s"term '$raw': at most one '^'")
        val s = raw.substring(caret + 1)
        val w =
          try s.toDouble
          catch { case _: NumberFormatException =>
            fail(s"term '$raw': boost must be a number, got '^$s'")
          }
        if (!(w > 0) || w.isInfinite)
          fail(s"term '$raw': boost must be a positive finite number")
        val base = raw.substring(0, caret)
        if (base.isEmpty) fail(s"term '$raw': '^' needs a term before it")
        if (base.exists(c => c == '*' || c == '~' || c == '?'))
          fail(s"term '$raw': boost applies to scoring clauses only — " +
            "prefix/wildcard/fuzzy clauses filter without scoring")
        val inner = unboostedWord(base)
        return if (w == 1.0) inner else Boosted(inner, w)
      }
      unboostedWord(raw)
    }

    private def unboostedWord(raw: String): Node = {
      val stars = raw.count(_ == '*')
      if (raw.contains('?') || stars > 1) {
        // GENERAL wildcard pattern (Lucene WildcardQuery): any number of
        // '*' plus '?' single-char wildcards. The whole word must be ONE
        // pattern token — punctuation inside a pattern is ambiguous (the
        // indexer split such text into several tokens, none of which the
        // pattern could mean), fail loud. The single-star no-'?' form
        // stays on the adjacency logic below (raw-char star binding).
        if (raw.contains('~'))
          fail(s"term '$raw': cannot combine a wildcard pattern and '~'")
        val norm = raw.toLowerCase(java.util.Locale.ROOT)
        if (!norm.matches("[a-z0-9*?]+"))
          fail(s"term '$raw': a wildcard pattern may contain only " +
            "[a-z0-9], '*' and '?'")
        if (norm.forall(_ == '*'))
          fail(s"term '$raw': all-star pattern matches every token")
        return Wildcard(norm)
      }
      if (raw.contains('~')) {
        // `term~k` — typo-tolerant term (Lucene fuzzy syntax). The tilde
        // must be a SUFFIX directly attached to an alphanumeric fragment;
        // `k` ∈ {1, 2} (bare `~` = 2, Lucene's default). The fuzzy binds
        // to the adjacent index term; any further tokens the word
        // normalized into stay plain AND'd terms (same adjacency rule as
        // the star).
        if (stars > 0) fail(s"term '$raw': cannot combine '*' and '~'")
        if (raw.count(_ == '~') > 1) fail(s"term '$raw': at most one '~'")
        val at = raw.indexOf('~')
        val maxEdits = raw.substring(at + 1) match {
          case "" => 2
          case "1" => 1
          case "2" => 2
          case other => fail(
            s"term '$raw': fuzzy edit distance must be 1 or 2, got '$other'")
        }
        if (at == 0 || !raw.charAt(at - 1).isLetterOrDigit)
          fail(s"term '$raw': '~' must directly follow a letter or digit")
        val ts = Analyzer.tokenizeString(raw.substring(0, at))
        if (ts.isEmpty) fail(s"term '$raw' has no tokens")
        val nodes = ts.dropRight(1).map(Term(_): Node) :+
          (Fuzzy(ts.last, maxEdits): Node)
        return nodes.reduceLeft(AndN.apply)
      }
      if (stars == 0) {
        val ts = Analyzer.tokenizeString(raw)
        if (ts.isEmpty) fail(s"term '$raw' has no tokens")
        ts.map(Term(_): Node).reduceLeft(AndN.apply)
      } else {
        val at = raw.indexOf('*')
        // the star binds only to a fragment it directly TOUCHES (raw char
        // adjacency, not post-tokenization adjacency): the indexer splits
        // `foo-bar` into two terms, so `foo-*bar` must not fuse into
        // Wildcard("foo*bar") — no single index term ever contains both
        // fragments and the pattern would silently match zero rows. The
        // punctuation-separated side stays a plain AND'd Term instead.
        val leftAdj = at > 0 && raw.charAt(at - 1).isLetterOrDigit
        val rightAdj = at < raw.length - 1 && raw.charAt(at + 1).isLetterOrDigit
        val lt = Analyzer.tokenizeString(raw.substring(0, at))
        val rt = Analyzer.tokenizeString(raw.substring(at + 1))
        val (starNode, rest) = ((leftAdj, rightAdj)) match {
          case (true, true) =>
            (Wildcard(s"${lt.last}*${rt.head}"), lt.dropRight(1) ++ rt.drop(1))
          case (true, false) => (Prefix(lt.last), lt.dropRight(1) ++ rt)
          case (false, true) => (Wildcard(s"*${rt.head}"), lt ++ rt.drop(1))
          case (false, false) =>
            fail(s"term '$raw': '*' must touch a letter or digit")
        }
        (starNode +: rest.map(Term(_): Node)).reduceLeft(AndN.apply)
      }
    }
  }

  /** The positive SCORING term bag of a parsed query — what
    * `fts_query_score` ranks by. Term leaves, phrase terms, and NEAR
    * operands contribute their BM25 term scores; Prefix/Wildcard/Fuzzy
    * clauses FILTER but do not score (the constant-score treatment
    * Lucene's multi-term queries rewrite to by default), and nothing
    * under a NOT scores (prohibited clauses never score in Lucene
    * either). Duplicates are fine — BM25 scoring dedups. */
  def scoringTerms(n: Node): Seq[String] = n match {
    case Term(t) => Seq(t)
    case Phrase(ts) => ts
    case SloppyPhrase(ts, _) => ts
    case Near(a, b, _) => Seq(a, b)
    case Prefix(_) | Wildcard(_) | Regex(_) | Fuzzy(_, _)
       | TermRange(_, _, _, _) | WildPhrase(_) => Nil
    // field-scoped clauses filter without scoring: fts_query_score is
    // single-field BM25, and the default column's corpus statistics say
    // nothing about another field's terms
    case Scoped(_, _) => Nil
    case Boosted(inner, _) => scoringTerms(inner)
    case AndN(l, r) => scoringTerms(l) ++ scoringTerms(r)
    case OrN(l, r) => scoringTerms(l) ++ scoringTerms(r)
    case NotN(_) => Nil
  }

  /** (term, weight) pairs for ranked retrieval with boosts — like
    * [[scoringTerms]], but each term carries the PRODUCT of the `^w`
    * boosts on its enclosing clauses (`(a "b c"^2)^1.5` weights b and c
    * by 3.0). Non-scoring clauses stay non-scoring regardless of boost. */
  def scoringWeights(n: Node, w: Double = 1.0): Seq[(String, Double)] = n match {
    case Term(t) => Seq(t -> w)
    case Phrase(ts) => ts.map(_ -> w)
    case SloppyPhrase(ts, _) => ts.map(_ -> w)
    case Near(a, b, _) => Seq(a -> w, b -> w)
    case Prefix(_) | Wildcard(_) | Regex(_) | Fuzzy(_, _)
       | TermRange(_, _, _, _) | WildPhrase(_) => Nil
    case Scoped(_, _) => Nil
    case Boosted(inner, bw) => scoringWeights(inner, w * bw)
    case AndN(l, r) => scoringWeights(l, w) ++ scoringWeights(r, w)
    case OrN(l, r) => scoringWeights(l, w) ++ scoringWeights(r, w)
    case NotN(_) => Nil
  }

  /** Parse a query string to its AST (fails loud on syntax errors). */
  def parse(q: String): Node = {
    val p = new P(lex(q), q)
    val n = p.parseOr()
    require(p.toks.isEmpty, s"fts_query: trailing input after query: $q")
    validate(n, q, inScope = false)
    n
  }

  /** Post-parse structural checks that span primaries: field scopes
    * cannot nest (`title:(a OR source:b)` — Lucene silently lets the
    * inner field win, the silent-surprise class this language rejects),
    * and a boost inside a scope would be a silent scoring no-op (scoped
    * clauses never score — [[scoringWeights]]). */
  private def validate(n: Node, q: String, inScope: Boolean): Unit = n match {
    case Scoped(f, inner) =>
      require(!inScope,
        s"fts_query: field scopes cannot nest (at '$f:') in query: $q")
      validate(inner, q, inScope = true)
    case Boosted(inner, _) =>
      require(!inScope, "fts_query: a boost inside a field scope would be " +
        s"a silent no-op — scoped clauses filter without scoring: $q")
      validate(inner, q, inScope)
    case AndN(l, r) => validate(l, q, inScope); validate(r, q, inScope)
    case OrN(l, r) => validate(l, q, inScope); validate(r, q, inScope)
    case NotN(x) => validate(x, q, inScope)
    case _ => ()
  }

  /** Lower an AST over a text column expression into the existing FTS
    * expression tree; [[graft.ext.RewriteFtsMatch]] then lowers each leaf. */
  def lower(text: Expression, n: Node): Expression = n match {
    case Term(t) => graft.ext.FtsMatch(text, Literal(t))
    case Phrase(ts) => graft.ext.FtsPhrase(text, Literal(ts.mkString(" ")))
    case SloppyPhrase(ts, k) =>
      graft.ext.FtsPhraseSlop(text, Literal(ts.mkString(" ")), Literal(k))
    case WildPhrase(slots) =>
      graft.ext.FtsPhraseWild(text, Literal(slots.mkString(" ")))
    case Prefix(p) => graft.ext.FtsPrefix(text, Literal(p))
    case Wildcard(w) => graft.ext.FtsWildcard(text, Literal(w))
    case Regex(p) => graft.ext.FtsRegexp(text, Literal(p))
    case Fuzzy(t, k) => graft.ext.FtsFuzzy(text, Literal(t), Literal(k))
    case TermRange(lo, hi, il, ih) =>
      graft.ext.FtsTermRange(text, Literal(lo), Literal(hi),
        Literal(il), Literal(ih))
    // boolean matching ignores boosts — they exist for the scoring path
    case Boosted(inner, _) => lower(text, inner)
    // field scope: the clause lowers over the NAMED column instead of the
    // default text expression; the analyzer resolves it against the
    // query's plan (case-insensitively, like any SQL identifier), so a
    // typo'd field is a loud "column not found" and a resolved one picks
    // up its own per-(table, column) index entry in RewriteFtsMatch
    case Scoped(f, inner) => lower(UnresolvedAttribute.quoted(f), inner)
    case Near(a, b, k) =>
      graft.ext.FtsNear(text, Literal(a), Literal(b), Literal(k))
    case AndN(l, r) => And(lower(text, l), lower(text, r))
    case OrN(l, r) => Or(lower(text, l), lower(text, r))
    case NotN(x) => Not(lower(text, x))
  }

  /** Parse + lower in one step — the `fts_query(text, 'q')` builder body. */
  def compile(text: Expression, q: String): Expression = lower(text, parse(q))
}
