package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** README design rules as source checks over `src/main/scala`: each
  * decision has one home, and a re-typed copy anywhere else fails
  * here. A line's scope is its file plus the nearest enclosing
  * `object` and `def` above it (by indentation), which is enough for
  * the one-definition rules below. */
class SourceRulesSpec extends AnyFunSuite {

  private case class Hit(file: String, line: Int, obj: String, dfn: String,
      text: String) {
    override def toString: String = s"$file:$line: ${text.trim}"
  }

  private val root = Paths.get("src/main/scala/graft")

  private lazy val sources: Seq[Path] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally st.close()
  }

  private val objectDecl = """^(\s*)(?:private\S*\s+)?object\s+(\w+)""".r.unanchored
  private val defDecl =
    """^(\s*)(?:(?:private|protected)\S*\s+|override\s+|final\s+)*def\s+(\w+)""".r.unanchored

  /** Every line of main source matching `pattern`, with its scope. */
  private def hits(pattern: String): Seq[Hit] = {
    val re = pattern.r
    sources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      def enclosing(i: Int, decl: scala.util.matching.Regex): String = {
        val indent = lines(i).takeWhile(_ == ' ').length
        (i to 0 by -1).iterator.map(lines(_)).collectFirst {
          case decl(ws, name) if ws.length < indent => name
        }.getOrElse("")
      }
      lines.indices.filter(i => re.findFirstIn(lines(i)).isDefined).map { i =>
        Hit(root.relativize(p).toString, i + 1, enclosing(i, objectDecl),
          enclosing(i, defDecl), lines(i))
      }
    }
  }

  private def assertOnlyIn(pattern: String, home: String)(ok: Hit => Boolean) = {
    val all = hits(pattern)
    assert(all.nonEmpty, s"$pattern no longer matches anything; update the rule")
    val stray = all.filterNot(ok)
    assert(stray.isEmpty,
      s"$pattern belongs in $home only; found:\n${stray.mkString("\n")}")
  }

  test("the tokenizer (split(lower(...))) is typed only in graft.api.Text") {
    assertOnlyIn("""(^|[^_a-z])split\(lower""", "graft.api.Text") { h =>
      h.file == "api/GraftApi.scala" && h.obj == "Text"
    }
  }

  test("the >= 8-band near-dup pair set is typed only in TextOps.nearDupPairs") {
    assertOnlyIn("""matches"\) >= 8""", "TextOps.nearDupPairs") { h =>
      h.file == "operators/TextOps.scala" && h.dfn == "nearDupPairs"
    }
  }

  test("the n-gram window (i -> concat(...)) is typed only in graft.api.Text") {
    assertOnlyIn("""i -> concat\(""", "graft.api.Text") { h =>
      h.file == "api/GraftApi.scala" && h.obj == "Text"
    }
  }

  test("shared state and tmp paths live only in sources/Store.scala") {
    assertOnlyIn("""ConcurrentHashMap|WeakHashMap|java\.io\.tmpdir""",
        "graft.sources.Store") { h =>
      h.file == "sources/Store.scala"
    }
  }
}
