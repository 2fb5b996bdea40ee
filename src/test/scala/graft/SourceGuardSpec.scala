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

  /** The string literals of a Scala source, comments skipped: plain and
    * triple-quoted strings (interpolated ones included) and char
    * literals, whose quote must not open a string. */
  private def stringLiterals(src: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def upTo(s: String, from: Int) = src.indexOf(s, from) match {
      case -1 => src.length
      case j => j
    }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) i = upTo("\n", i)
      else if (src.startsWith("/*", i)) i = upTo("*/", i + 2) + 2
      else if (src.startsWith("\"\"\"", i)) {
        val end = upTo("\"\"\"", i + 3)
        out += src.substring(i + 3, end)
        i = end + 3
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        out += src.substring(i + 1, math.min(j, src.length))
        i = j + 1
      } else if (src.startsWith("'\\", i)) i = upTo("'", i + 3) + 1
      else if (i + 2 < src.length && src.charAt(i) == '\'' && src.charAt(i + 2) == '\'') i += 3
      else i += 1
    }
    out.toSeq
  }

  /** A path hard-coded to one checkout breaks every other checkout, and
    * from any other working directory it writes into that one. Two forms
    * are caught: the checkout's own root (sbt forks the tests there) and
    * any absolute path into a `target/` build directory, wherever the
    * checkout that wrote it lived. Build and scratch output resolves
    * `target/` against the working directory instead. */
  test("no string literal in src/main hard-codes a checkout or build path") {
    val checkout = Paths.get("").toAbsolutePath.toString
    assert(Files.isDirectory(Paths.get(checkout, "src", "main")), checkout)
    val buildPath = "^/\\S*/target(/|$)".r
    val main = sources.filter(_._1.startsWith(Paths.get("src", "main")))
    assert(main.size > 50, s"only ${main.size} main sources found")
    val bad = for {
      (p, text) <- main
      lit <- stringLiterals(text)
      if lit.contains(checkout) || buildPath.findFirstIn(lit).isDefined
    } yield s"$p: \"$lit\""
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  /** The full-text rewrite runs inside the session optimizer's
    * operator-optimization batches and grafts its subplans unoptimized, so
    * each query is optimized once: no nested optimizer run and no
    * hand-applied optimizer rule in the extension package, and the
    * single-task rule needs no tag to recognize nodes of an earlier run. */
  test("the full-text rewrite runs no nested optimizer") {
    val ext = Paths.get("src", "main", "scala", "graft", "ext")
    val stp = ext.resolve("SingleTaskPostings.scala")
    assert(sources.exists(_._1 == stp), s"no $stp among ${sources.size} files")
    val others = sources.map(_._1).filterNot(_.startsWith(ext))
    val bad = offenders("""optimizedPlan|\bColumnPruning\s*\(|\bCollapseProject\s*\(""",
        others: _*) ++
      offenders("""\bTreeNodeTag\b""", sources.map(_._1).filterNot(_ == stp): _*)
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  /** SQL's term-dictionary predicates expand against the index's term
    * vocabulary and read only the matching terms' buckets. The library's
    * whole-postings filters are their reference, not a second lowering. */
  test("the SQL rewrite lowers no term-dictionary predicate through a postings-wide filter") {
    val ext = Paths.get("src", "main", "scala", "graft", "ext")
    assert(sources.exists(_._1.startsWith(ext)), s"no $ext sources")
    val bad = offenders("""Search\s*\.\s*match(TermRange|Wildcard|Pattern|Regexp|Suffix)Ids\b""",
      sources.map(_._1).filterNot(_.startsWith(ext)): _*)
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
  }

  /** A persisted index's postings are bucketed by a hash of the term, and
    * every term-restricted read prunes to its terms' buckets. The hash and
    * the bucket column live in `graft.fts.Index` alone (its `write` and
    * `slice`), so a reader cannot compute a bucket its own way, or read
    * the bucket count from anywhere but the layout. In the full-text query
    * pack `bucket` also names a range-facet column, so there only the hash
    * is checked. */
  test("only graft.fts.Index names the postings' bucket hash and column") {
    val pkg = Paths.get("src", "main", "scala", "graft")
    val fts = pkg.resolve("fts").resolve("Fts.scala")
    val pack = pkg.resolve("queries").resolve("Fts.scala")
    assert(sources.exists(_._1 == fts) && sources.exists(_._1 == pack), "no fts sources")
    val hash = """\bxxhash64\b|\bbucketOf\b""".r
    def hashLines(text: String) = text.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/")).filter(hash.findFirstIn(_).isDefined)
    // Fts.scala split into `object Index` and the rest
    val (index, rest) = {
      val text = sources.find(_._1 == fts).get._2
      val from = text.indexOf("\nobject Index ")
      val until = text.indexOf("\n}\n", from)
      assert(from >= 0 && until > from, s"no object Index in $fts")
      (text.substring(from, until), text.substring(0, from) + text.substring(until))
    }
    val bad = for {
      (p, text) <- sources
      inPkg = p.startsWith(pkg.resolve("fts")) || p.startsWith(pkg.resolve("ext"))
      if inPkg || p == pack
      checked = if (p == fts) rest else text
      offence <- hashLines(checked).toSeq ++
        (if (inPkg && stringLiterals(checked).contains("bucket")) Seq("\"bucket\"") else Nil)
    } yield s"$p: $offence"
    assert(bad.isEmpty, bad.mkString("\n  ", "\n  ", ""))
    assert(hashLines(index).nonEmpty && stringLiterals(index).contains("bucket"))
  }

  /** The analyzer record beside a layout has one owner, as the bucket hash
    * does: `graft.fts.Index` writes and reads it, and everyone else asks
    * `Index` (the layout's [[graft.fts.FtsIndex.analyzer]], or
    * `readAnalyzerConfig` for a delta log). */
  test("only graft.fts.Index names the analyzer record file") {
    val fts = Paths.get("src", "main", "scala", "graft", "fts", "Fts.scala")
    val text = sources.find(_._1 == fts).map(_._2).getOrElse(fail(s"no $fts"))
    val from = text.indexOf("\nobject Index ")
    val until = text.indexOf("\n}\n", from)
    assert(from >= 0 && until > from, s"no object Index in $fts")
    val name = "_graft_analyzer.properties"
    assert(text.substring(from, until).contains(name))
    val bad = for {
      (p, t) <- sources if p.startsWith(Paths.get("src", "main", "scala", "graft"))
      checked = if (p == fts) t.substring(0, from) + t.substring(until) else t
      line <- checked.linesIterator if line.contains(name)
    } yield s"$p: ${line.trim}"
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
