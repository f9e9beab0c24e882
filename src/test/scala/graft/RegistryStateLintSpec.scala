package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The registry keeps no on-disk state. An input that one entry takes
  * from another is a declared need (`SparkEntry.Needs`), materialized
  * once per harness run, never a file the registry writes and reads
  * back on a later call.
  */
class RegistryStateLintSpec extends AnyFunSuite {

  test("SparkEntry does no file I/O") {
    val p = Paths.get(sys.props("user.dir"), "src", "main", "scala",
      "graft", "SparkEntry.scala")
    assert(Files.isRegularFile(p), s"$p not found")
    val io = """java\.io\.File|java\.nio\.file|\.write|\bFs\.""".r
    val hits = for {
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if io.findFirstIn(line).isDefined
    } yield s"SparkEntry.scala:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      hits.mkString("\ndeclare the input as a SparkEntry.Needs instead of:\n", "\n", ""))
  }
}
