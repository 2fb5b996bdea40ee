package graft.ext

import java.util.Locale

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the dedup hot path. The declarative higher-order
  * variants (graft.pipeline.Dedup building blocks) are evaluated
  * interpreted by Catalyst — fine for composition, but tokenize → shingle →
  * hash → signature per document is 10⁴–10⁵ lambda evaluations per row.
  * These expressions run the whole kernel as one compiled JVM call per row,
  * and generate that call inline via `doGenCode` (same pattern as
  * FtsTokenize) so the enclosing whole-stage codegen span stays fused —
  * no interpreted-eval island in the hot path.
  *
  * Hash mixing is internal-only (never compared against SQL xxhash64):
  * 64-bit avalanche over token-hash windows, stable across partitions and
  * sessions by construction.
  */
object TextKernels {

  // xxhash64-style avalanche finalizer (public-domain mixing constants)
  @inline private[ext] def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Distinct hashes of n-token shingles of the frozen token grammar,
    * SORTED ascending — [[intersectCard]] relies on the order for its
    * allocation-free sorted-merge; set semantics are order-independent
    * everywhere else (minhash/simhash fold over the whole array). */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val parts = s.toString.toLowerCase(Locale.ROOT).split("[^a-z0-9]+")
    // token hashes, skipping empties
    var m = 0
    val th = new Array[Long](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { th(m) = mix(parts(i).hashCode.toLong * 0x9e3779b97f4a7c15L); m += 1 }
      i += 1
    }
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m - n + 1)
    var k = 0
    i = 0
    while (i <= m - n) {
      var h = 0x87c37b91114253d5L
      var j = 0
      while (j < n) { h = mix(h ^ th(i + j)) * 31L + j; j += 1 }
      h = mix(h)
      if (set.add(h)) { out(k) = h; k += 1 }
      i += 1
    }
    val trimmed = java.util.Arrays.copyOf(out, k)
    java.util.Arrays.sort(trimmed)
    new GenericArrayData(trimmed)
  }

  /** |a ∩ b| over two long-array SETS: one sorted-merge pass when both
    * inputs are ascending (the layout graft_shingle_hashes emits), no
    * per-row hash-set allocation (array_intersect builds one per
    * invocation — measured hot in the dedup verify stage at sf0.1). Union
    * size follows as |a| + |b| − |a ∩ b|, so Jaccard needs only this
    * kernel. An out-of-order element (caller fed arrays not built by the
    * sorting kernel) is detected during the merge and the call falls back
    * to a hash-set intersection — correct on any input, never silently
    * undercounts. */
  /** Unicode-normalize `s` under the named form (NFC/NFD/NFKC/NFKD,
    * case-insensitive). Shared by interpreted eval and generated code. */
  def normalizeForm(s: UTF8String, form: UTF8String): UTF8String = {
    val f = form.toString.toUpperCase(Locale.ROOT) match {
      case "NFC" => java.text.Normalizer.Form.NFC
      case "NFD" => java.text.Normalizer.Form.NFD
      case "NFKC" => java.text.Normalizer.Form.NFKC
      case "NFKD" => java.text.Normalizer.Form.NFKD
      // accent folding (Lucene ASCIIFoldingFilter's common core / DuckDB
      // strip_accents semantics): decompose, drop combining marks,
      // recompose — é→e, ñ→n, ł→l; standalone letters with no mark
      // decomposition (ø, œ) pass through, same as utf8proc/ICU
      case "STRIP_ACCENTS" => return stripAccents(s)
      case other => throw new IllegalArgumentException(
        s"text_normalize: unknown form '$other' " +
          "(want NFC/NFD/NFKC/NFKD/STRIP_ACCENTS)")
    }
    UTF8String.fromString(java.text.Normalizer.normalize(s.toString, f))
  }

  /** NFD → drop non-spacing marks → NFC; the string-side mirror is
    * [[graft.fts.AnalyzerConfig.foldString]]. */
  def stripAccents(s: UTF8String): UTF8String =
    UTF8String.fromString(stripAccentsString(s.toString))

  /** DISTINCT character 3-grams of the LOWERCASED raw string — the
    * trigram-index unit (pg_trgm / Google Code Search / Zoekt): unlike
    * token postings these span spaces and punctuation, so an arbitrary
    * substring needle can be answered by intersecting its grams'
    * postings. Grams are JVM char windows (supplementary-plane chars
    * occupy two units — consistent on index and query side, which is the
    * only contract the intersection needs). Strings shorter than 3 chars
    * produce an empty set. One compiled call per row. */
  def charTrigrams(s: UTF8String): ArrayData = {
    val t = s.toString.toLowerCase(Locale.ROOT)
    val n = t.length
    if (n < 3) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.HashSet[String](n * 2)
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i <= n - 3) {
      val g = t.substring(i, i + 3)
      if (seen.add(g)) out.add(UTF8String.fromString(g))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Query-side mirror of [[charTrigrams]]. */
  def charTrigramsString(s: String): Seq[String] = {
    val t = s.toLowerCase(Locale.ROOT)
    if (t.length < 3) Seq.empty
    else (0 to t.length - 3).map(i => t.substring(i, i + 3)).distinct
  }

  def stripAccentsString(s: String): String = {
    val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val cp = nfd.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".getBytes("US-ASCII")

  /** Hashed-bigram feature stream (the DSIR feature extractor,
    * graft.pipeline.Lm): per adjacent token pair under the frozen v1
    * grammar, the first 3 lowercase hex chars of md5("tokᵢ tokᵢ₊₁") —
    * 4096 buckets. Byte-identical to
    * `substring(md5(concat_ws(' ', …)), 1, 3)`, which is what the SQL
    * oracles replay; md5 (not the internal mixer) because the bucket ids
    * ARE compared cross-engine. One tokenize + one digest per pair — the
    * declarative `transform` formulation re-evaluated its non-lambda
    * subtree (the whole tokenize) per array element, turning feature
    * extraction O(tokens²) per document. <2 tokens → empty stream. */
  def bigramBuckets(s: UTF8String): ArrayData = {
    val toks = FtsTokenize.tokenize(s)
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      md.update(' '.toByte)
      md.update(toks.getUTF8String(i + 1).getBytes)
      val d = md.digest()
      out(i) = UTF8String.fromBytes(Array(
        HexChars((d(0) >> 4) & 0xF), HexChars(d(0) & 0xF),
        HexChars((d(1) >> 4) & 0xF)))
      i += 1
    }
    new GenericArrayData(out)
  }

  def intersectCard(a: ArrayData, b: ArrayData): Long = {
    if (!isAscending(a) || !isAscending(b)) return intersectCardUnsorted(a, b)
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** One cheap validation pass — a mid-merge order check can exhaust one
    * side before ever reaching the out-of-order element and silently
    * undercount, so order is proven before the merge is trusted. */
  private def isAscending(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 1
    while (i < n) {
      if (a.getLong(i) < a.getLong(i - 1)) return false
      i += 1
    }
    true
  }

  private def intersectCardUnsorted(a: ArrayData, b: ArrayData): Long = {
    val set = new java.util.HashSet[java.lang.Long](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { set.add(a.getLong(i)); i += 1 }
    var c = 0L
    var j = 0
    while (j < b.numElements()) { if (set.remove(b.getLong(j))) c += 1; j += 1 }
    c
  }

  /** MinHash signature over shingle hashes: sig(i) = min over h of
    * mix(h ^ seed(i)). */
  def minhashSig(hs: ArrayData, numHashes: Int): ArrayData = {
    val n = hs.numElements()
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seed = mix(0xdeadbeefL + i * 0x9e3779b97f4a7c15L)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = mix(hs.getLong(j) ^ seed)
        if (v < best) best = v
        j += 1
      }
      sig(i) = best
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over shingle hashes (bit j = sign of ±1 votes). */
  def simhash(hs: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** The kernels' SQL function surface, part of
    * [[GraftExtensions.allFunctions]] (see [[VecKernels.functions]]). */
  def functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashesExpr(args.head)),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSigExpr].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinhashSigExpr(args.head)),
    (new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimhashExpr(args.head)),
    (new FunctionIdentifier("graft_intersect_card"),
      new ExpressionInfo(classOf[IntersectCardExpr].getName, "graft_intersect_card"),
      (args: Seq[Expression]) => IntersectCardExpr(args(0), args(1))),
    (new FunctionIdentifier("text_normalize"),
      new ExpressionInfo(classOf[TextNormalizeExpr].getName, "text_normalize"),
      (args: Seq[Expression]) => TextNormalizeExpr(args(0), args(1))),
    (new FunctionIdentifier("graft_bigram_buckets"),
      new ExpressionInfo(classOf[BigramBucketsExpr].getName, "graft_bigram_buckets"),
      (args: Seq[Expression]) => BigramBucketsExpr(args.head)),
    (new FunctionIdentifier("porter_stem"),
      new ExpressionInfo(classOf[PorterStemExpr].getName, "porter_stem"),
      (args: Seq[Expression]) => PorterStemExpr(args.head)),
    (new FunctionIdentifier("graft_char_trigrams"),
      new ExpressionInfo(classOf[CharTrigramsExpr].getName, "graft_char_trigrams"),
      (args: Seq[Expression]) => CharTrigramsExpr(args.head)),
    (new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler"),
      (args: Seq[Expression]) => JaroWinklerExpr(args(0), args(1))))

  /** Jaro-Winkler similarity over code points, matching DuckDB's
    * `jaro_winkler_similarity` bit-for-bit (probed this session so the
    * ER oracle replays exactly): 0.0 when either side is empty (DuckDB
    * returns 0, not 1, for empty-vs-empty); standard Jaro with match
    * window ⌊max(|a|,|b|)/2⌋−1 and floor(t/2) half-transpositions;
    * Winkler boost l·0.1·(1−jaro) with l = common prefix capped at 4,
    * applied ONLY when jaro > 0.7 (verified: a sub-0.7 pair with a long
    * shared prefix stays unboosted in DuckDB). Case-sensitive, exact
    * code points — callers normalize first if they want folding. */
  def jaroWinkler(au: UTF8String, bu: UTF8String): Double = {
    val a = au.toString.codePoints.toArray
    val b = bu.toString.codePoints.toArray
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aM = new Array[Boolean](la)
    val bM = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && a(i) == b(j)) {
          aM(i) = true; bM(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    while (l < 4 && l < la && l < lb && a(l) == b(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

case class BigramBucketsExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_bigram_buckets"
  override def nullSafeEval(input: Any): Any =
    TextKernels.bigramBuckets(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.bigramBuckets($c);")
  override protected def withNewChildInternal(newChild: Expression): BigramBucketsExpr =
    copy(child = newChild)
}

case class ShingleHashesExpr(child: Expression, n: Int = 3)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.shingleHashes($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** [[TextKernels.charTrigrams]] as an expression. */
case class CharTrigramsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "graft_char_trigrams"
  override def nullSafeEval(input: Any): Any =
    TextKernels.charTrigrams(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.charTrigrams($c);")
  override protected def withNewChildInternal(newChild: Expression): CharTrigramsExpr =
    copy(child = newChild)
}

case class MinhashSigExpr(child: Expression, numHashes: Int = 64)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override def nullSafeEval(input: Any): Any =
    TextKernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.minhashSig($c, $numHashes);")
  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

case class SimhashExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  override def nullSafeEval(input: Any): Any =
    TextKernels.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.simhash($c);")
  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

/** Unicode normalization as a native codegen expression —
  * `text_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD')`. Spark ships no
  * normalizer builtin, yet a multilingual corpus MUST normalize before
  * tokenize/dedup/hash: the same visible text arrives precomposed from
  * one source and decomposed from another (é vs e+U+0301), and every
  * downstream equality — dedup shingles, FTS terms, exact-match joins,
  * content hashes — silently misses across the two encodings. One
  * compiled `java.text.Normalizer` call per row (form resolved per call,
  * a cheap enum lookup; normalization of already-normal ASCII is an
  * O(n) verification pass, so the common case costs a scan, not a
  * rewrite). NFC oracle-verified against DuckDB's nfc_normalize
  * (q_text_nfc); compatibility forms pinned in ScalarFunctionsSpec. */
case class TextNormalizeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "text_normalize"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.StringType &&
        right.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"text_normalize requires (STRING, STRING), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def nullSafeEval(s: Any, f: Any): Any =
    TextKernels.normalizeForm(s.asInstanceOf[UTF8String], f.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, f) =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.normalizeForm($s, $f);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TextNormalizeExpr =
    copy(left = newLeft, right = newRight)
}

case class IntersectCardExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intersect_card"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.intersectCard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.intersectCard($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCardExpr =
    copy(left = newLeft, right = newRight)
}

/** [[TextKernels.jaroWinkler]] as a codegen expression — the fuzzy
  * name-similarity kernel for entity resolution (Spark ships levenshtein
  * but no Jaro-Winkler; a Scala UDF here would break the enclosing
  * whole-stage codegen span exactly where the blocked ER join is
  * hottest). */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "jaro_winkler"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.StringType &&
        right.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires (STRING, STRING), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.ext.TextKernels$$.MODULE$$.jaroWinkler($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}
