package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No uncalled declarations under `src/main`: every `def`, `val`,
  * `object`, `class`, `trait` and `type` declared there is named, as a
  * word, somewhere in `src/` or `perfbench/src` besides a declaration,
  * once comments are stripped. A caller in a spec counts, so library
  * surface that only specs exercise stays. String literals count too:
  * a registry row names its kernel method in one.
  *
  * Not audited, because nothing names them at their use: an `override`
  * (the supertype's caller reaches it), an `implicit` (resolution picks
  * it), and a program's `main` with the top-level object declaring it
  * (the JVM starts it).
  */
class CallerAuditSpec extends AnyFunSuite {

  private val charLiteral = Pattern.compile("""'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'""")

  /** `text` without comments and, unless `keepStrings`, without string
    * and character literals. Blanked spans keep their newlines, so an
    * offset in the result has the line it had in `text`.
    */
  private def strip(text: String, keepStrings: Boolean): String = {
    val out = new StringBuilder(text.length)
    val n = text.length
    def blank(from: Int, until: Int): Int = {
      (from until until).foreach(k => out += (if (text(k) == '\n') '\n' else ' '))
      until
    }
    def literal(from: Int, until: Int): Int =
      if (keepStrings) { out ++= text.substring(from, until); until } else blank(from, until)
    val chars = charLiteral.matcher(text)
    var i = 0
    while (i < n) {
      i = if (text.startsWith("\"\"\"", i)) {
        val close = text.indexOf("\"\"\"", i + 3)
        var end = if (close < 0) n else close + 3
        while (end < n && text(end) == '"') end += 1
        literal(i, end)
      } else if (text(i) == '"') {
        var end = i + 1
        while (end < n && text(end) != '"' && text(end) != '\n')
          end += (if (text(end) == '\\') 2 else 1)
        literal(i, math.min(end + 1, n))
      } else if (text(i) == '\'' && chars.region(i, n).lookingAt()) {
        blank(i, chars.end())
      } else if (text.startsWith("//", i)) {
        val eol = text.indexOf('\n', i)
        blank(i, if (eol < 0) n else eol)
      } else if (text.startsWith("/*", i)) {
        // block comments nest in Scala
        var depth = 1
        var end = i + 2
        while (depth > 0 && end < n) {
          if (text.startsWith("/*", end)) { depth += 1; end += 2 }
          else if (text.startsWith("*/", end)) { depth -= 1; end += 2 }
          else end += 1
        }
        blank(i, math.min(end, n))
      } else {
        out += text(i)
        i + 1
      }
    }
    out.toString
  }

  private val declaration = """\b(?:def|val|object|class|trait|type)\s+([A-Za-z_]\w*)""".r
  private val word = """[A-Za-z_]\w*""".r
  private val exemptModifier = """\b(?:override|implicit)\b""".r
  private val topLevelObject = """(?m)^(?:\w+\s+)*object\s+(\w+)""".r
  private val mainMethod = """\bdef\s+main\s*\(""".r

  private case class Source(path: Path, code: String, bare: String)

  /** The modifiers in front of the declaration at `at`: the text back to
    * the nearest delimiter. */
  private def modifiers(bare: String, at: Int): String = {
    var from = at
    while (from > 0 && "{};()=,\n".indexOf(bare(from - 1).toInt) < 0) from -= 1
    bare.substring(from, at)
  }

  /** `path:line name` for every audited declaration under `src/main`
    * whose name occurs only at declarations.
    */
  private def uncalled(): Seq[String] = {
    val sources = Seq("src", "perfbench/src").map(Paths.get(_)).filter(Files.isDirectory(_))
      .flatMap(root => Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")))
      .sortBy(_.toString)
      .map { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        Source(p, strip(text, keepStrings = true), strip(text, keepStrings = false))
      }
    val uses = sources.flatMap(s => word.findAllIn(s.code))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val sites = sources.flatMap(s => declaration.findAllMatchIn(s.bare).map(_.group(1)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    for {
      s <- sources if s.path.startsWith(Paths.get("src/main"))
      entries = mainMethod.findAllMatchIn(s.bare).flatMap(m =>
        topLevelObject.findAllMatchIn(s.bare.substring(0, m.start)).map(_.group(1))
          .toSeq.lastOption).toSet + "main"
      d <- declaration.findAllMatchIn(s.bare)
      name = d.group(1)
      if exemptModifier.findFirstIn(modifiers(s.bare, d.start)).isEmpty && !entries(name)
      if uses.getOrElse(name, 0) <= sites(name)
    } yield s"${s.path}:${s.bare.substring(0, d.start).count(_ == '\n') + 1} $name"
  }

  test("every declaration under src/main has a caller") {
    val found = uncalled()
    if (found.nonEmpty) fail(found.mkString("uncalled declarations:\n", "\n", ""))
  }
}
