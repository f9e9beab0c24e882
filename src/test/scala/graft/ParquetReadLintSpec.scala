package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A bare `spark.read.parquet` infers its schema with a Spark job;
  * main code reads parquet through `graft.sources.Tables.parquet`,
  * which resolves it from the footer on the driver. Streaming reads
  * (`readStream`) take an explicit schema and are not matched.
  */
class ParquetReadLintSpec extends AnyFunSuite {

  test("no main source outside Tables reads parquet with schema inference") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"$root not found")
    val exempt = root.resolve("graft/sources/Tables.scala")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != exempt).toSeq
    assert(sources.size > 10, s"only ${sources.size} sources under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains(".read.parquet(")
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\nuse Tables.parquet instead of:\n", "\n", ""))
  }
}
