package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Spark interprets higher-order-function lambdas element by element,
  * so an md5 inside one costs a hex digest (and usually a slice, a join,
  * a substring and a base conversion) per token or gram. Per-element
  * digests go through the native `TextExpressions.md5Keys` (or
  * `simhash32`) instead. A per-row digest over a lambda's result, as in
  * `md5(array_join(transform(...)))`, is fine and passes.
  */
class HofDigestLintSpec extends AnyFunSuite {
  private val Hof = """(?<![\w$])(transform|aggregate|zip_with|exists|forall)\s*\(""".r
  private val Md5 = """(?<![\w$])md5\s*\(""".r

  /** `src` with comments and string/char literal contents blanked
    * (newlines kept, so offsets still map to lines): only code is
    * scanned, and the oracles' DuckDB SQL text is not code.
    */
  private def code(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, until: Int): Unit =
      for (k <- from until until.min(src.length) if out(k) != '\n') out(k) = ' '
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val j = if (e < 0) src.length else e
        blank(i, j); i = j
      } else if (src.startsWith("/*", i)) {
        var depth = 0; var j = i
        var open = true
        while (j < src.length && open) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2; open = depth > 0 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) src.length else e + 3
        while (j < src.length && src(j) == '"') j += 1
        blank(i + 3, j - 3); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        blank(i + 1, j); i = j + 1
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val e = src.indexOf('\'', i + 2)
        val j = if (e < 0) src.length else e
        blank(i + 1, j); i = j + 1
      } else i += 1
    }
    new String(out)
  }

  /** (line, hof) of every md5 call inside the argument list of a HOF. */
  private def hits(src: String): Seq[(Int, String)] = {
    val c = code(src)
    Hof.findAllMatchIn(c).flatMap { m =>
      var j = m.end; var depth = 1
      while (j < c.length && depth > 0) {
        if (c(j) == '(') depth += 1 else if (c(j) == ')') depth -= 1
        j += 1
      }
      Md5.findAllMatchIn(c.substring(m.end, j))
        .map(d => (c.substring(0, m.end + d.start).count(_ == '\n') + 1, m.group(1)))
    }.toSeq.distinct
  }

  test("the scan tells a per-element digest from a per-row digest") {
    assert(hits("transform(toks, t => md5(t.cast(\"binary\")))") === Seq((1, "transform")))
    assert(hits("aggregate(xs, z,\n  (a, x) => a + conv(md5(x), 16, 10))") === Seq((2, "aggregate")))
    assert(hits("md5(array_join(transform(col(\"qv\"), _.cast(\"string\")), \",\"))").isEmpty)
    assert(hits("transform(xs, x => x) // md5(x)\nval s = \"exists(md5(\"").isEmpty)
    assert(hits("list_transform(xs, x -> md5(x))").isEmpty)
  }

  test("no main source computes an md5 inside a higher-order-function lambda") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val sources = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, s"only ${sources.size} sources under $root")
    val found = for {
      p <- sources
      (line, hof) <- hits(new String(Files.readAllBytes(p), "UTF-8"))
    } yield s"${root.relativize(p)}:$line: md5 inside $hof(...)"
    assert(found.isEmpty, found.sorted.mkString(
      "\nuse graft.functions.TextExpressions.md5Keys for per-element digests:\n", "\n", ""))
  }
}
