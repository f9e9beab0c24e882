package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftConfig` holds run and deployment settings only. The two
  * runner mains read it; operators, registry entries, oracle text and
  * streaming twins take their parameters as code constants and
  * explicit arguments, so none of them may load configuration.
  */
class ConfigReadLintSpec extends AnyFunSuite {

  test("no main source outside Bench and Verify loads GraftConfig") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val exempt = Set("graft/Bench.scala", "graft/Verify.scala").map(root.resolve)
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !exempt(p)).toSeq
    assert(sources.size > 10, s"only ${sources.size} sources under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("GraftConfig.load(")
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("\npass the operator parameter explicitly instead of:\n", "\n", ""))
  }
}
