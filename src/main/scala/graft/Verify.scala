package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.control.NonFatal
import graft.sources.Fs

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * KILL-RESISTANT by construction (r13 VERDICT #1 — the round-13
  * driver run was killed mid-dump and, because the old layout wrote
  * oracle_sql.json only AFTER all ~237 parquet dumps, the entire
  * round's oracle set silently zeroed to `{}`):
  *   1. oracle_sql.json is written FIRST — the trained-dictionary
  *      placeholders resolve up front (fixture-cheap trainings), so a
  *      run killed at any later point still leaves the full oracle
  *      set plus whatever parquet subset completed — a valid,
  *      checkable artifact instead of nothing.
  *   2. one stderr line per query (`i/total name ok|FAILED|TIMEOUT`),
  *      so a killed run's log shows exactly how far it got.
  *   3. a per-query wall cap (SPARK_GRAFT_VERIFY_CAP_SEC, default
  *      600 s): a hung query has its jobs cancelled via its own job
  *      group and the dump moves on — one wedged plan can no longer
  *      zero the round.
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle-SQL JSON body for the kept subset, with every
    * trained-dictionary placeholder resolved by training on the SAME
    * fixture the queries run (the training fold is not SQL-expressible
    * but the apply step given the dictionary is — so the dumped SQL is
    * self-contained for the driver's DuckDB gate). Each placeholder
    * resolves lazily: a subset run that keeps no dependent oracle
    * never pays the training.
    */
  def oracleJson(spark: SparkSession, sfDir: String,
                 keep: String => Boolean): String = {
    val kept0 = SparkEntry.oracleSql.filter(kv => keep(kv._1))
    val dicts: Seq[(String, () => String)] = Seq(
      SparkEntry.BpeDictPlaceholder ->
        (() => SparkEntry.bpeDictValues(spark, sfDir)),
      SparkEntry.BpeBytesDictPlaceholder ->
        (() => SparkEntry.bpeBytesDictValues(spark, sfDir)),
      SparkEntry.BpeBatchedDictPlaceholder ->
        (() => SparkEntry.bpeBatchedDictValues(spark, sfDir)),
      SparkEntry.UnigramDictPlaceholder ->
        (() => SparkEntry.unigramDictValues(spark, sfDir)),
      SparkEntry.UnigramSoftDictPlaceholder ->
        (() => SparkEntry.unigramSoftDictValues(spark, sfDir)),
      SparkEntry.OpqLearnedRotPlaceholder ->
        (() => SparkEntry.opqLearnedRotLiteral(spark, sfDir)))
    val kept = dicts.foldLeft(kept0) { case (acc, (ph, mk)) =>
      if (acc.values.exists(_.contains(ph))) {
        val dict = mk()
        acc.map { case (k, v) => k -> v.replace(ph, dict) }
      } else acc
    }
    kept.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
  }

  /** Resolve + write `outDir/oracle_sql.json`. Called BEFORE any
    * parquet dump in [[main]] — a run killed mid-dump still leaves the
    * round's full oracle set on disk (spec-covered: VerifySpec writes
    * the oracle set with ZERO dumps performed and checks validity).
    */
  def writeOracleJson(spark: SparkSession, sfDir: String, outDir: String,
                      keep: String => Boolean): Unit = {
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(spark, sfDir, keep))
    ()
  }

  /** Dump each kept query to `outDir/<name>` parquet. Per query: one
    * stderr progress line; a wall cap enforced by running the dump in
    * a Future under its own job group and cancelling the group on
    * timeout (interruptOnCancel kills the running tasks), so one hung
    * plan cannot starve the queries after it. The needs of the kept
    * entries are materialized once, before the first dump
    * ([[SparkEntry.forRun]]). `queries` is a parameter so the spec can
    * inject a deliberately-hanging entry.
    */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  keep: String => Boolean, capSec: Long,
                  queries: Map[String, (SparkSession, String) => DataFrame] =
                    SparkEntry.queries): Unit = {
    new java.io.File(outDir).mkdirs()
    val run = SparkEntry.forRun(spark, sfDir, keep, queries)
    val names = run.keys.toSeq.sorted.filter(keep)
    val total = names.length
    names.zipWithIndex.foreach { case (name, idx) =>
      val group = s"verify-$name"
      val t0 = System.nanoTime()
      // r14 ADVICE: cancelJobGroup only reaches jobs ALREADY submitted
      // — a query hung in driver-side code (plan construction, a
      // collect about to start) leaks a zombie Future that may submit
      // and run jobs AFTER the cancel, leaving a partially written
      // parquet dir the DuckDB compare would read as a truncated (but
      // well-formed) result. Two guards: the dump dir is deleted on
      // timeout/failure, and a poisoned flag checked in the zombie's
      // finally re-issues the cancel + re-deletes whatever the zombie
      // eventually wrote, so a timed-out query can neither leave a
      // misleading artifact nor keep holding the cluster.
      val poisoned = new java.util.concurrent.atomic.AtomicBoolean(false)
      def purge(): Unit = Fs.deleteLocal(new java.io.File(s"$outDir/$name"))
      val fut = Future {
        spark.sparkContext
          .setJobGroup(group, s"verify dump $name", interruptOnCancel = true)
        try run(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        finally {
          spark.sparkContext.clearJobGroup()
          if (poisoned.get()) {
            spark.sparkContext.cancelJobGroup(group)
            purge()
          }
        }
      }
      def secs = f"${(System.nanoTime() - t0) / 1e9}%.1fs"
      try {
        Await.result(fut, capSec.seconds)
        System.err.println(s"[verify] ${idx + 1}/$total $name ok $secs")
      } catch {
        case _: TimeoutException =>
          poisoned.set(true)
          spark.sparkContext.cancelJobGroup(group)
          purge()
          System.err.println(
            s"[verify] ${idx + 1}/$total $name TIMEOUT after ${capSec}s — jobs cancelled, dump purged")
        case NonFatal(e) =>
          purge()
          System.err.println(
            s"[verify] ${idx + 1}/$total $name FAILED: ${e.getMessage}")
      }
      // Bench's settle barrier: a GC, then wait for the ContextCleaner
      // to reap the blocks and shuffle files the query left pinned
      Bench.settle()
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated subset for fast local iteration; the
    // driver always runs the full set (2-arg form)
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // file > env > defaults — see GraftConfig (config-file parity with
    // the reference's etl_config.yaml; the driver sets env only)
    val cfg = GraftConfig.load()
    val cpus = cfg.cpus.toString
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // plan-diversity crosscheck knob: set to -1 to force every join
    // onto the shuffle path (the plan family a 100 TB run would use
    // once dims outgrow the broadcast threshold) — results must stay
    // hash-identical to the broadcast plans and to DuckDB
    cfg.broadcastThreshold
      .foreach(t => builder.config("spark.sql.autoBroadcastJoinThreshold", t))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ORACLE SET FIRST (see object scaladoc): the round's hard signal
    // must never depend on the last byte of a 237-query dump surviving
    writeOracleJson(spark, sfDir, outDir, keep)
    System.err.println(s"[verify] oracle_sql.json written to $outDir")
    val capSec = sys.env.get("SPARK_GRAFT_VERIFY_CAP_SEC")
      .map(_.toLong).getOrElse(600L)
    dumpQueries(spark, sfDir, outDir, keep, capSec)
    spark.stop()
  }
}
