package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import graft.SparkSpec

/** The permanent codegen-size gate (r16 verdict item 4). Three rounds each
  * found one expression whose GENERATED code size scaled with a deployment
  * parameter and silently dropped to interpreted execution at deployment
  * sizing — q_embed_pq's unrolled codebook distances (r5), the text-kernel
  * higher-order compositions (r6), the IVF cell-argmax unrolled over nlist
  * (r16, ScaleSpot100 at nlist=1600: janino's 64 KB method limit). The
  * interpreted fallback is the worst failure mode: bit-identical results,
  * ~10× the serve cost, zero errors — only the logs know.
  *
  * This spec drives every parameter-scaled path at DEPLOYMENT sizing
  * (nlist=1600-class — the ScaleSpot100 ×100 configuration) under a log4j2
  * appender that captures Spark's three fallback signatures:
  *
  *  - "Expr codegen error and falling back to interpreter mode"
  *    (CodeGeneratorWithInterpretedFallback — projection/predicate level)
  *  - "Whole-stage codegen disabled for plan"
  *    (WholeStageCodegenExec — stage-level compile failure)
  *  - "Found too long generated codes" (bytecode above the JIT's huge-
  *    method limit — runs compiled but un-JIT-able; same disease)
  *  - "Failed to compile the generated Java code" (CodeGenerator)
  *
  * Any future expression that re-introduces the class fails here, at test
  * time, instead of at the next ×100 rehearsal.
  */
class CodegenGateSpec extends SparkSpec {

  private val markers = Seq(
    "falling back to interpreter mode",
    "Whole-stage codegen disabled for plan",
    "Found too long generated codes",
    "Failed to compile the generated Java code")

  /** Runs `body` with a WARN-level appender on the log4j2 root logger;
    * returns the captured fallback messages (empty = clean codegen). */
  private def captureFallbacks(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(
        "graft-cg-gate", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (markers.exists(m.contains)) hits.add(m.take(400))
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      cfg.getRootLogger.removeAppender("graft-cg-gate")
      ctx.updateLoggers()
      app.stop()
    }
    import scala.jdk.CollectionConverters._
    hits.iterator().asScala.toSeq
  }

  /** 2,500 deterministic dim-8 vectors — enough ids to seed nlist=1600
    * centroids (the fixture's 500 embeddings are not). */
  private def synthEmbeddings = spark.range(2500).select(
    col("id").as("vec_id"),
    expr("transform(sequence(0, 7), d -> " +
      "cast(pmod(xxhash64(id, d), 1000) as double) / 500.0 - 1.0)")
      .as("embedding"))

  test("IVF cell assignment compiles at deployment nlist (1600)") {
    val centroids = Array.tabulate(1600, 8)((i, j) =>
      ((i * 31 + j * 7) % 997) / 997.0 - 0.5)
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val v = GraftColumnBridge.expression(col("embedding"))
    val cell = GraftColumnBridge.column(CellAssignExpr(v, centroids, norms))
    val hits = captureFallbacks {
      val n = synthEmbeddings.select(cell.as("cell"))
        .agg(countDistinct(col("cell"))).head().getLong(0)
      assert(n > 1, "cell assignment must actually spread vectors")
    }
    assert(hits.isEmpty, s"codegen fallback at nlist=1600:\n${hits.mkString("\n")}")
  }

  test("PQ encode compiles at deployment codebook sizing (4 x 256 x 2)") {
    val codebooks = Array.tabulate(4, 256, 2)((s, c, i) =>
      ((s * 131 + c * 17 + i) % 499) / 499.0 - 0.5)
    val v = GraftColumnBridge.expression(col("embedding"))
    val codes = GraftColumnBridge.column(PqEncodeExpr(v, codebooks))
    val hits = captureFallbacks {
      val n = synthEmbeddings.select(codes.as("code"))
        .agg(countDistinct(col("code"))).head().getLong(0)
      assert(n > 1)
    }
    assert(hits.isEmpty, s"codegen fallback at PQ sizing:\n${hits.mkString("\n")}")
  }

  test("semDedup assigns cells clean at deployment nlist (1600)") {
    // the SemDeDup sizing rule is nlist ~ n/125 (cells of ~100–200), so a
    // 200k-vector corpus runs nlist = 1600 — the declarative round-9
    // scores array this path used before round 17 unrolled 1600 dots and
    // could never compile there
    val hits = captureFallbacks {
      val out = graft.pipeline.Dedup.semDedup(synthEmbeddings, nlist = 1600)
      assert(out.count() > 0)
      assert(out.select(countDistinct(col("cell"))).head().getLong(0) > 100,
        "deployment nlist must actually spread cells")
    }
    assert(hits.isEmpty,
      s"codegen fallback in semDedup at nlist=1600:\n${hits.mkString("\n")}")
  }

  test("end-to-end knnJoin serves clean at deployment nlist (the r16 repro)") {
    val emb = synthEmbeddings
    val hits = captureFallbacks {
      val out = graft.pipeline.Similarity.knnJoin(emb, emb, k = 5,
        nlist = 1600, nprobe = 4)
      assert(out.count() > 0)
    }
    assert(hits.isEmpty,
      s"codegen fallback in knnJoin at nlist=1600:\n${hits.mkString("\n")}")
  }

  test("text kernels compile clean over the fixture corpus") {
    val docs = spark.read.parquet(sf("documents"))
    val hits = captureFallbacks {
      val n = docs.select(
          call_function("graft_minhash",
            call_function("graft_shingle_hashes", col("text"))).as("sig"),
          call_function("graft_simhash",
            call_function("graft_shingle_hashes", col("text"))).as("sh"))
        .agg(countDistinct(col("sh"))).head().getLong(0)
      assert(n > 1)
    }
    assert(hits.isEmpty, s"codegen fallback in text kernels:\n${hits.mkString("\n")}")
  }

  test("the gate itself detects an interpreted fallback (sensitivity check)") {
    // An expression whose generated Java cannot compile — the same janino
    // failure a >64 KB generated method produces, without manufacturing
    // 64 KB of code. The stage (or projection) must fall back to
    // interpreted eval AND the appender must capture the signature: this
    // proves the four green tests above are evidence, not silence.
    val hits = captureFallbacks {
      val out = spark.range(10)
        .select(GraftColumnBridge.column(
          graft.ext.BrokenCodegenForGate(
            GraftColumnBridge.expression(col("id")))).as("v"))
        .agg(sum(col("v"))).head().getLong(0)
      assert(out == 10, "interpreted fallback must still compute the result")
    }
    assert(hits.nonEmpty,
      "the uncompilable expression must trip a fallback marker; if this " +
        "fires, the capture wiring is broken and every green above is void")
  }
}

/** Test-only: generates deliberately uncompilable Java so CodegenGateSpec
  * can prove its appender actually catches the interpreted-fallback
  * signature. Top-level (not nested in the suite) because CodegenContext
  * references the expression's class in generated comments and a
  * method-local class name confuses janino's error paths. */
case class BrokenCodegenForGate(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def nullSafeEval(input: Any): Any = 1L
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = this is not java;")
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = newChild)
}
