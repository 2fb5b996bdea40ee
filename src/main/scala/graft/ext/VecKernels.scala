package graft.ext

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native kernels for the vector/similarity hot path. The declarative
  * `aggregate(zip_with(...))` formulation of a dot product costs ~2·dim
  * interpreted lambda evaluations per row — fine at fixture scale, the
  * dominant cost on a billion-vector corpus. Each kernel is one compiled
  * call per row and generates inline code (no CodegenFallback island).
  *
  * Numeric identity: [[dot]] multiplies and left-fold-adds in index order —
  * exactly the operation sequence of the SQL `aggregate(zip_with(a, b,
  * (x, y) => x*y), 0.0, (acc, v) => acc + v)` it replaces, so scores are
  * bit-identical and oracle comparisons are unaffected. [[lshProjs]]
  * reproduces the SQL plane components (`xxhash64(lit(p), d)` via the same
  * XXH64 with Spark's seed 42) so bucket assignments match the column
  * formulation bit-for-bit as well.
  */
object VecKernels {

  /** Left-to-right Σ a(i)·b(i) over two equal-length array<double> columns.
    * Callers (DotExpr) return NULL on a length mismatch — the same
    * three-valued behavior as the `zip_with` formulation this replaces
    * (zip_with pads the short side with nulls, poisoning the sum), so a
    * ragged embedding row falls out of top-k instead of contributing a
    * silently-truncated score. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** IVF cell assignment: 1-based argmax over per-centroid scaled dots
    * `dot(v, cᵢ)/normᵢ`, FIRST-max tiebreak via `Double.compare` — the
    * exact semantics of the declarative
    * `array_position(scores, array_max(scores))` it replaces (including
    * the −0.0 < 0.0 and NaN-greatest orderings), over the same
    * index-order dot folds, so assignments are bit-identical. The
    * declarative form unrolls nlist dot products into one generated
    * method — at deployment sizing (nlist ∝ corpus, ScaleSpot100
    * measured nlist = 1600) that exceeds the JVM's 64 KB method limit
    * and drops the whole stage to interpreted execution; this kernel is
    * one compiled call with the centroids riding along as a reference
    * object. Returns null (not an exception) when the vector's length
    * doesn't match the centroids — the DotExpr null contract. */
  def cellAssign(v: ArrayData, centroids: Array[Array[Double]],
                 norms: Array[Double]): Any = cellAssign(v, centroids, norms, -1)

  /** As above, with SemDeDup's score semantics when `roundTo >= 0`: each
    * scaled dot is rounded to `roundTo` dp (Spark `round` = BigDecimal
    * HALF_UP) BEFORE the argmax, so raw scores that agree to 9 dp TIE and
    * the FIRST (lowest-index) centroid wins — bit-identical to the
    * declarative `array_position(scores, array_max(scores))` over
    * `round(dot/‖c‖, 9)` that [[graft.pipeline.Dedup.semDedup]] used at
    * fixture nlist (and that its DuckDB oracle replays). The IVF serving
    * path keeps roundTo = -1 (raw compare), its own pinned semantics. */
  def cellAssign(v: ArrayData, centroids: Array[Array[Double]],
                 norms: Array[Double], roundTo: Int): Any = {
    if (centroids.length == 0) return null
    val n = v.numElements()
    if (n != centroids(0).length) return null
    var mi = 0
    var best = 0.0
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += v.getDouble(j) * c(j); j += 1 }
      var score = acc / norms(i)
      if (roundTo >= 0)
        score = java.math.BigDecimal.valueOf(score)
          .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()
      if (i == 0 || java.lang.Double.compare(score, best) > 0) {
        best = score; mi = i
      }
      i += 1
    }
    mi + 1
  }

  /** Pseudo-random hyperplane component p,d in [-1, 1): same derivation as
    * Similarity's SQL version — pmod(xxhash64(p, d), 2000)/1000 − 1. */
  @inline private def planeComponent(p: Int, d: Int): Double = {
    var h = XXH64.hashInt(p, 42L)
    h = XXH64.hashInt(d, h)
    (((h % 2000L) + 2000L) % 2000L - 1000.0) / 1000.0
  }

  /** Projections of `v` onto hyperplanes 0..planes-1 (index-order sums —
    * identical doubles to the declarative formulation). */
  def lshProjs(v: ArrayData, planes: Int): ArrayData = {
    val dim = v.numElements()
    val out = new Array[Double](planes)
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < dim) { acc += v.getDouble(d) * planeComponent(p, d); d += 1 }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }

  /** PQ encode: per sub-space, the index of the L2-nearest codebook
    * centroid. Distances are left-fold index-order sums rounded to 9 dp
    * with Spark's `round` semantics (BigDecimal HALF_UP) — bit-identical
    * to the declarative formulation this kernel replaces (the unrolled
    * column expression was a ~1000-term codegen compilation bomb: ~10 s of
    * janino per plan) and to the DuckDB oracle's replay; ties break to the
    * lowest centroid index. NULL for a vector shorter than the codebooks'
    * span (callers treat ragged rows as unencodable, the DotExpr
    * convention). */
  def pqEncode(v: ArrayData, codebooks: Array[Array[Array[Double]]]): Any = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    if (v.numElements() < m * sub) return null
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cents = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val d = v.getDouble(s * sub + i) - cents(c)(i)
          acc += d * d
          i += 1
        }
        val r = java.math.BigDecimal.valueOf(acc)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
        if (r < bestD) { bestD = r; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Sign-packed LSH bucket (bit p set iff projection p > 0). */
  def lshBucket(v: ArrayData, planes: Int): Long = {
    val projs = lshProjs(v, planes)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      if (projs.getDouble(p) > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** The kernels' SQL function surface, part of
    * [[GraftExtensions.allFunctions]] and so registered only through
    * `spark.sql.extensions`. The library API in [[graft.pipeline.Similarity]]
    * builds the expressions directly and needs no registry. */
  def functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => DotExpr(args(0), args(1))),
    // cosine as a composition of kernel dots — the SQL face of the vector
    // baseline: dot/(‖a‖·‖b‖), every sub-expression inline-codegen'd
    (new FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[DotExpr].getName, "vec_cosine"),
      {
        case Seq(a, b) =>
          org.apache.spark.sql.catalyst.expressions.Divide(DotExpr(a, b),
            org.apache.spark.sql.catalyst.expressions.Multiply(
              org.apache.spark.sql.catalyst.expressions.Sqrt(DotExpr(a, a)),
              org.apache.spark.sql.catalyst.expressions.Sqrt(DotExpr(b, b))))
        case args => throw new IllegalArgumentException(
          s"vec_cosine(a, b) takes two vectors, got ${args.length} args")
      }),
    // planes arrives as a literal second argument (an Expression builder has
    // no other channel for a scalar parameter)
    (new FunctionIdentifier("graft_lsh_projs"),
      new ExpressionInfo(classOf[LshProjsExpr].getName, "graft_lsh_projs"),
      {
        case Seq(v) => LshProjsExpr(v)
        case Seq(v, Literal(p: Int, IntegerType)) => LshProjsExpr(v, p)
        case args => throw new IllegalArgumentException(
          "graft_lsh_projs(vec[, planes]) needs a literal integer planes arg, got: "
            + args.map(_.sql).mkString(", "))
      }),
    (new FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketExpr].getName, "graft_lsh_bucket"),
      {
        case Seq(v) => LshBucketExpr(v)
        case Seq(v, Literal(p: Int, IntegerType)) => LshBucketExpr(v, p)
        case args => throw new IllegalArgumentException(
          "graft_lsh_bucket(vec[, planes]) needs a literal integer planes arg, got: "
            + args.map(_.sql).mkString(", "))
      }))
}

case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // also null on length mismatch
  override def prettyName: String = "graft_dot"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null else VecKernels.dot(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.ext.VecKernels$$.MODULE$$.dot($a, $b);
      }""")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

/** [[VecKernels.pqEncode]] as an expression; the codebooks ride along as a
  * broadcast-by-reference object (ctx.addReferenceObj), so the generated
  * code is one static call regardless of m × ncent × subdim. */
case class PqEncodeExpr(child: Expression,
                        codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true // null for ragged (short) vectors
  override def prettyName: String = "graft_pq_encode"
  override def nullSafeEval(input: Any): Any =
    VecKernels.pqEncode(input.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
    // fresh per call site: two pq_encode calls in one codegen scope must
    // not collide on the local's name (a collision fails janino and drops
    // the stage to interpreted execution)
    val res = ctx.freshName("pqRes")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $res = graft.ext.VecKernels$$.MODULE$$.pqEncode($c, (double[][][]) $cb);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $res; }""")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** [[VecKernels.cellAssign]] as an expression; like [[PqEncodeExpr]],
  * the centroid table and norms ride along as reference objects, so the
  * generated code is one static call regardless of nlist — the
  * declarative argmax unrolled nlist dots and blew the 64 KB generated-
  * method limit at deployment sizing (nlist ∝ corpus). */
case class CellAssignExpr(child: Expression,
                          centroids: Array[Array[Double]],
                          norms: Array[Double],
                          roundTo: Int = -1)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // null on vector-length mismatch
  override def prettyName: String = "graft_cell_assign"
  override def nullSafeEval(input: Any): Any =
    VecKernels.cellAssign(input.asInstanceOf[ArrayData], centroids, norms, roundTo)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("cellCentroids", centroids, "double[][]")
    val nrm = ctx.addReferenceObj("cellNorms", norms, "double[]")
    val res = ctx.freshName("cellRes")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $res = graft.ext.VecKernels$$.MODULE$$.cellAssign($c,
        (double[][]) $cents, (double[]) $nrm, $roundTo);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Integer) $res).intValue(); }""")
  }
  override protected def withNewChildInternal(newChild: Expression): CellAssignExpr =
    copy(child = newChild)
}

case class LshProjsExpr(child: Expression, planes: Int = 12)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_lsh_projs"
  override def nullSafeEval(input: Any): Any =
    VecKernels.lshProjs(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.VecKernels$$.MODULE$$.lshProjs($c, $planes);")
  override protected def withNewChildInternal(newChild: Expression): LshProjsExpr =
    copy(child = newChild)
}

case class LshBucketExpr(child: Expression, planes: Int = 12)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"
  override def nullSafeEval(input: Any): Any =
    VecKernels.lshBucket(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ext.VecKernels$$.MODULE$$.lshBucket($c, $planes);")
  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}
