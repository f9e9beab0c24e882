package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.{BeforeAndAfterAllConfigMap, ConfigMap, DoNotDiscover}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bpe, Dedup, UnigramLm}
import graft.sources.Tables

/** The curation round loops — BPE merge rounds, unigram EM rounds and
  * the min-label closure — run as plain RDD rounds over materialized
  * state. Pins: their results do not depend on how the dictionary or
  * the pair frame is split (1 or 7 partitions) nor on the scheduler's
  * core count (a separate `local[1]` JVM), and each round costs one
  * Spark job.
  */
class RoundLoopSpec extends AnyFunSuite {
  import TestSpark._
  import RoundLoopSpec._

  /** Runs `body` with every SQL shuffle split `n` ways and no adaptive
    * coalescing, so the word dictionary has exactly `n` partitions. */
  private def splitInto[T](n: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { keys.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def dictPartitions(words: DataFrame): Seq[Int] =
    ColumnBridge.logicalPlan(words).collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getNumPartitions
    }

  test("merge table, unigram pieces and cluster labels are identical split 1 and 7 ways") {
    val docs = Tables.documents(spark, Sf)
    val bySplit = Seq(1, 7).map { n =>
      splitInto(n) {
        // the split really reaches the dictionary the rounds read
        val (_, words, _) = Bpe.trainBatched(docs, nMerges = 2, batchK = 1)
        assert(dictPartitions(words) === Seq(n))
        ColumnBridge.unpersistCheckpoint(words)
        results(spark, n)
      }
    }
    for (((k, one), (_, seven)) <- bySplit(0).zip(bySplit(1))) {
      assert(one.nonEmpty, k)
      assert(one === seven, k)
    }
  }

  test("the loops give the same results in a local[1] JVM") {
    val here = results(spark, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val out = Files.createTempFile("round-loops-local1", ".tsv")
    try {
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
          a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val pb = new ProcessBuilder((Seq(javaBin, "-Xmx1g") ++ jvmArgs ++ Seq(
          "org.scalatest.tools.Runner", "-oW", "-s", classOf[RoundLoopLocal1Probe].getName,
          s"-Dout=$out")).asJava)
      pb.environment().put("CLASSPATH", sys.props("java.class.path"))
      pb.redirectErrorStream(true)
      val log = Files.createTempFile("round-loops-local1", ".log")
      pb.redirectOutput(log.toFile)
      val exit = pb.start().waitFor()
      val tail = Files.readAllLines(log).asScala.takeRight(40).mkString("\n")
      Files.deleteIfExists(log)
      assert(exit === 0, tail)
      assert(read(out) === here)
    } finally Files.deleteIfExists(out)
  }

  test("each round costs one Spark job") {
    val docs = Tables.documents(spark, Sf)
    var merges = Seq.empty[Bpe.Merge]
    var words: DataFrame = null
    val bpeJobs = jobsDuring { val (m, w) = Bpe.train(docs, nMerges = 8); merges = m; words = w }
    ColumnBridge.unpersistCheckpoint(words)
    val uniJobs = jobsDuring { UnigramLm.train(docs, iters = 2) }
    // a path graph 1-2-…-6 from local rows (no job to build the pairs):
    // 5 rounds move label 1 down the path, a 6th finds no change
    import spark.implicits._
    val ids = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(a => (a, a + 1)).toDF("doc_a", "doc_b")
    var clustered: DataFrame = null
    val closureJobs = jobsDuring { clustered = Dedup.clustersFromPairs(ids, pairs) }
    val counts = s"jobs: BPE $bpeJobs, unigram $uniJobs, closure $closureJobs"
    // K = 1: one round per merge; the dictionary is the + 2
    assert(merges.size === 8)
    assert(bpeJobs <= 8 + 2, counts)
    // the seed count and one job per EM round (iters, then the
    // re-estimation after the prune), plus the dictionary
    assert(uniJobs <= 1 + 3 + 2, counts)
    assert(closureJobs === 6, counts)
    assert(clustered.select("cluster_id", "cluster_size").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 6L)))
    ColumnBridge.unpersistCheckpoint(clustered)
  }
}

object RoundLoopSpec {
  /** The sf0.01 fixture, beside the suite's default sf0.001 one. */
  val Sf: String = Paths.get(TestSpark.sf).resolveSibling("sf0.01").toString

  /** The three loops' results as comparable strings, keyed by loop.
    * `pairSplit` is the partition count the pair and id frames are
    * repartitioned to before the closure.
    */
  def results(spark: SparkSession, pairSplit: Int): Seq[(String, Seq[String])] = {
    val docs = Tables.documents(spark, Sf)
    def merges(m: Seq[Bpe.Merge]) = m.map(_.toString)
    val (bpe, bpeWords) = Bpe.train(docs, nMerges = 16)
    ColumnBridge.unpersistCheckpoint(bpeWords)
    val (batched, batchedWords, _) = Bpe.trainBatched(docs, nMerges = 24, batchK = 4)
    ColumnBridge.unpersistCheckpoint(batchedWords)
    val (bytes, bytesWords, _) =
      Bpe.trainBatched(docs, nMerges = 12, batchK = 3, byteLevel = true)
    ColumnBridge.unpersistCheckpoint(bytesWords)
    // a random graph with chains and shared ends, beside the band
    // graph of the real corpus
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong))
      .filter { case (a, b) => a < b }.toDF("doc_a", "doc_b").repartition(pairSplit)
    val ids = (0L until 600L).toDF("doc_id").repartition(pairSplit)
    def labels(df: DataFrame) = {
      val out = df.select("doc_id", "cluster_id", "cluster_size").collect()
        .map(r => s"${r.getLong(0)} ${r.getLong(1)} ${r.getLong(2)}").toSeq
      ColumnBridge.unpersistCheckpoint(df)
      out
    }
    Seq(
      "bpe" -> merges(bpe),
      "bpe_batched" -> merges(batched),
      "bpe_bytes" -> merges(bytes),
      "unigram_hard" -> UnigramLm.train(docs).map(_.toString),
      "unigram_soft" -> UnigramLm.train(docs, softEm = true).map(_.toString),
      "closure" -> labels(Dedup.clustersFromPairs(ids, pairs)),
      "clusters" -> labels(Dedup.clusters(docs)))
  }

  def write(out: Path, rs: Seq[(String, Seq[String])]): Unit =
    Files.write(out, rs.flatMap { case (k, vs) => vs.map(v => s"$k\t$v") }.asJava)

  def read(in: Path): Seq[(String, Seq[String])] = {
    val lines = Files.readAllLines(in).asScala.toSeq.map(_.split("\t", 2))
    lines.map(_(0)).distinct.map(k => k -> lines.filter(_(0) == k).map(_(1)))
  }
}

/** Run only by [[RoundLoopSpec]], in a JVM of its own: computes the
  * loops' results under `local[1]` and writes them to the `out` path
  * of the runner's config map.
  */
@DoNotDiscover
class RoundLoopLocal1Probe extends AnyFunSuite with BeforeAndAfterAllConfigMap {
  private var out: Option[Path] = None
  override def beforeAll(cm: ConfigMap): Unit =
    out = cm.getOptional[String]("out").map(Paths.get(_))

  test("round loops under local[1]") {
    val spark = SparkSession.builder().master("local[1]").appName("graft-local1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      assert(spark.sparkContext.defaultParallelism === 1)
      RoundLoopSpec.write(out.get, RoundLoopSpec.results(spark, 4))
    } finally spark.stop()
  }
}
