package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Spark interprets higher-order-function lambdas element by element,
  * so an md5 inside one costs a hex digest (and usually a slice, a join,
  * a substring and a base conversion) per token or gram. Per-element
  * digests go through the native `TextExpressions.md5Keys` (or
  * `simhash32`) instead. A per-row digest over a lambda's result, as in
  * `md5(array_join(transform(...)))`, is fine and passes. A lambda that
  * calls a same-file helper computing an md5 is flagged like one that
  * calls md5 itself.
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

  private val Def = """(?<![\w$])def\s+([\w$]+)""".r

  /** The pattern of a reference to the same-file def `name`. */
  private def ref(name: String) =
    ("""(?<![\w$.])""" + java.util.regex.Pattern.quote(name) + """(?![\w$])""").r

  /** Names of the defs in `c` whose body computes an md5, directly or
    * through another such def. A body runs from the def to the next
    * code line indented no deeper than the def (closing brackets
    * aside).
    */
  private def digestHelpers(c: String): Set[String] = {
    val bodies = Def.findAllMatchIn(c).map { m =>
      val lineStart = c.lastIndexOf('\n', m.start) + 1
      val indent = c.indexWhere(_ != ' ', lineStart) - lineStart
      var end = c.indexOf('\n', m.end)
      var open = end >= 0
      while (open) {
        val next = c.indexOf('\n', end + 1)
        val line = c.substring(end + 1, if (next < 0) c.length else next)
        val lead = line.indexWhere(_ != ' ')
        if (lead >= 0 && lead <= indent && !"})".contains(line(lead))) open = false
        else if (next < 0) { end = c.length; open = false }
        else end = next
      }
      (m.group(1), c.substring(m.end, if (end < 0) c.length else end))
    }.toSeq
    var found = bodies.collect { case (n, b) if Md5.findFirstIn(b).nonEmpty => n }.toSet
    var grown = true
    while (grown) {
      val more = bodies.collect {
        case (n, b) if !found(n) && found.exists(h => ref(h).findFirstIn(b).nonEmpty) => n
      }
      grown = more.nonEmpty
      found ++= more
    }
    found
  }

  /** (line, hof) of every md5 call inside the argument list of a HOF,
    * or of a call there to a same-file def that computes one.
    */
  private def hits(src: String): Seq[(Int, String)] = {
    val c = code(src)
    val digests = Md5 +: digestHelpers(c).toSeq.map(ref)
    Hof.findAllMatchIn(c).flatMap { m =>
      var j = m.end; var depth = 1
      while (j < c.length && depth > 0) {
        if (c(j) == '(') depth += 1 else if (c(j) == ')') depth -= 1
        j += 1
      }
      digests.flatMap(_.findAllMatchIn(c.substring(m.end, j)))
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

  test("the scan follows a same-file helper whose body computes an md5") {
    val helper = "  private def flag(t: Column): Column =\n    substring(md5(t), 32, 1) === lit(\"0\")\n"
    assert(hits(helper + "  def f = aggregate(xs, z,\n    (a, t) => a || flag(t))") ===
      Seq((4, "aggregate")))
    // through a second helper that calls the first
    assert(hits(helper + "  private def g(t: Column) = flag(t)\n  val y = exists(xs, g(_))") ===
      Seq((4, "exists")))
    // a per-row call outside any lambda, and a helper without md5
    assert(hits(helper + "  val r = flag(col(\"w\"))").isEmpty)
    assert(hits("  private def h(t: Column) =\n    t.cast(\"binary\")\n" +
      "  val z = transform(xs, h(_))").isEmpty)
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
