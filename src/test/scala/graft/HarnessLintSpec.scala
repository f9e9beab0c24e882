package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Timing goes through the two harnesses that measure the product
  * path: perfbench (with per-layer tracing) and `graft.Bench`. A
  * runnable object under `src/test` is a private timing loop whose
  * numbers no artifact records, so the only one allowed is `PlanDump`,
  * which writes the committed plan pins.
  */
class HarnessLintSpec extends AnyFunSuite {

  test("no test source outside PlanDump defines a main") {
    val root = Paths.get(sys.props("user.dir"), "src", "test", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val exempt = root.resolve("graft/PlanDump.scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != exempt).toSeq
    assert(sources.size > 10, s"only ${sources.size} sources under $root")
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if entry.findFirstIn(line).isDefined
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("\ntime it with perfbench or graft.Bench instead of:\n", "\n", ""))
  }
}
