package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one-session-factory contract: every session is
  * built by `graft.core.GraftSession.builder`, whose
  * `spark.sql.extensions` conf is the only way the graft SQL surface gets
  * into a session. A second builder or a post-hoc registration helper
  * would bring back sessions whose functions or rule placement differ from
  * the ones the specs and the benchmark run on. */
class SourceGuardSpec extends AnyFunSuite {

  private val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def offenders(pattern: String, allowed: Path*): Seq[String] = {
    val re = pattern.r
    for {
      (p, text) <- sources if !allowed.contains(p)
      (line, i) <- text.linesIterator.zipWithIndex if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  test("only GraftSession calls the SparkSession builder") {
    assert(sources.exists(_._1 == factory), s"no $factory among ${sources.size} files")
    val bad = offenders("""SparkSession\s*\.\s*builder\b""", factory)
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  test("no post-hoc install of the graft function surface") {
    val bad = offenders("""\bdef\s+install\s*\(""") ++
      offenders("""\b(GraftExtensions|TextKernels|VecKernels)\s*\.\s*install\b""") ++
      offenders("""\.install\s*\(\s*spark\b""") ++
      offenders("""GraftSession\s*\.\s*tune\b""")
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }
}
