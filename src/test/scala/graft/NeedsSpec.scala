package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Fs

/** An entry that takes another entry's output declares it as a need
  * (`SparkEntry.Needs`). A harness run (`SparkEntry.forRun`, which
  * Bench and Verify call) materializes each need once and hands the
  * same frame to every consumer; nothing lands on disk.
  */
class NeedsSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a harness run derives the ANN truth once; each consumer equals its standalone call") {
    // the directory the registry's on-disk truth cache used to fill
    val oldCache = new java.io.File("target/graft_truth")
    Fs.deleteLocal(oldCache)
    val derivations = new AtomicInteger
    val registry = SparkEntry.queries.updated("ann_exact_truth",
      (s: SparkSession, d: String) => {
        derivations.incrementAndGet()
        SparkEntry.queries("ann_exact_truth")(s, d)
      })
    val consumers = Seq("ann_recall", "ann_operating_curve")
    consumers.foreach(n =>
      assert(SparkEntry.queries(n).isInstanceOf[SparkEntry.Needs], n))
    var run: Map[String, (SparkSession, String) => DataFrame] = null
    val resolveJobs = jobsDuring {
      run = SparkEntry.forRun(spark, sf, Set("ann_exact_truth") ++ consumers,
        registry)
    }
    // materialized eagerly, before any consumer is called
    assert(derivations.get === 1)
    assert(resolveJobs > 0)
    consumers.foreach { name =>
      var standalone, got: Seq[String] = Nil
      val standaloneJobs = jobsDuring {
        standalone = rows(SparkEntry.queries(name)(spark, sf))
      }
      val runJobs = jobsDuring { got = rows(run(name)(spark, sf)) }
      assert(got.nonEmpty && got === standalone, name)
      // the standalone call derives the truth; the run's consumer reads it
      assert(runJobs < standaloneJobs, s"$name: $runJobs vs $standaloneJobs jobs")
    }
    assert(derivations.get === 1)
    assert(!oldCache.exists, s"$oldCache was created")
  }
}
