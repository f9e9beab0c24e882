package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Loader, Tables}

/** `Tables.parquet` resolves schemas from the footer on the driver; it
  * must give exactly the schema (and rows) `spark.read.parquet` infers,
  * raise Spark's own errors, and launch no job while a query is built.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val fixtures = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"/root/testdata/$d")

  private def fixtureFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$dir/$n").toSeq

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertParity(path: String): Unit = {
    val mine = Tables.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(mine.schema === theirs.schema, s"schema of $path")
    assert(mine.except(theirs).isEmpty && theirs.except(mine).isEmpty, s"rows of $path")
    assert(Tables.rowCount(spark, path) === theirs.count(), s"row count of $path")
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every fixture table: footer schema equals Spark's inferred schema") {
    for (dir <- fixtures; p <- fixtureFiles(dir)) {
      assert(Tables.parquet(spark, p).schema === spark.read.parquet(p).schema, p)
      assert(Tables.rowCount(spark, p) === spark.read.parquet(p).count(), p)
    }
  }

  /** An events table whose `ts` is INT64 TIMESTAMP(`unit`, local),
    * written without Spark's schema metadata, so the footer's parquet
    * types are what both readers convert. */
  private def writeEvents(dir: String, unit: String, ts: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts (TIMESTAMP($unit,false));
         |  required binary event_type (STRING);
         |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t)
        .append("event_type", "view"))
    } finally w.close()
  }

  private def eventMicros(df: DataFrame): Seq[Long] =
    df.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq

  test("events: both physical ts types resolve as Spark infers them") {
    val micros = Seq(1700000000123456L, 1700000100000001L)
    val nanosDir = tmp("graft_events_nanos")
    writeEvents(nanosDir, "NANOS", micros.map(_ * 1000L + 789L))
    val ntzDir = tmp("graft_events_ntz")
    writeEvents(ntzDir, "MICROS", micros)

    val nanos = Tables.events(spark, nanosDir) // sets nanosAsLong
    assertParity(s"$nanosDir/events.parquet")
    assert(Tables.parquet(spark, s"$nanosDir/events.parquet").schema("ts").dataType === LongType)
    assert(nanos.schema("ts").dataType === TimestampType)
    assert(eventMicros(nanos) === micros)

    assertParity(s"$ntzDir/events.parquet")
    assert(Tables.parquet(spark, s"$ntzDir/events.parquet").schema("ts").dataType ===
      TimestampNTZType)
    val ntz = Tables.events(spark, ntzDir)
    assert(ntz.schema("ts").dataType === TimestampType)
    assert(eventMicros(ntz) === micros)
    for (d <- fixtures)
      assert(Tables.events(spark, d).schema("ts").dataType === TimestampType, d)

    // without nanosAsLong Spark rejects TIMESTAMP(NANOS); so must we, alike
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val p = s"$nanosDir/events.parquet"
      assertSameFailure(Tables.parquet(spark, p).schema, spark.read.parquet(p).schema)
    }
  }

  test("Spark-landed, partitioned and globbed tables keep Spark's schema") {
    val landed = tmp("graft_landed") + "/customer"
    Loader.truncateAndLoad(Tables.customer(spark, sf).repartition(3), landed)
    assertParity(landed)

    val parted = tmp("graft_parted") + "/lineitem"
    Tables.lineitem(spark, sf).write.partitionBy("l_returnflag", "l_linestatus")
      .parquet(parted)
    assertParity(parted)
    val schema = Tables.parquet(spark, parted).schema
    assert(schema.fieldNames.takeRight(2).toSeq === Seq("l_returnflag", "l_linestatus"))

    // a file that also carries its partition column: Spark decides
    val shadowed = tmp("graft_shadowed")
    Tables.nation(spark, sf).write.parquet(s"$shadowed/n_regionkey=9")
    assertParity(shadowed)

    val sink = tmp("graft_sink")
    Tables.nation(spark, sf).filter(col("n_nationkey") < 10).write.parquet(s"$sink/batch_0")
    Tables.nation(spark, sf).filter(col("n_nationkey") >= 10).write.parquet(s"$sink/batch_1")
    assertParity(s"$sink/batch_*")
    assert(Tables.rowCount(spark, s"$sink/batch_*") === 25L)
  }

  test("mergeSchema: differing files merge exactly as Spark merges them") {
    import spark.implicits._
    val dir = tmp("graft_merge")
    Seq((1L, "a")).toDF("k", "x").write.parquet(s"$dir/t/part=1")
    Seq((2L, 2.5)).toDF("k", "y").write.parquet(s"$dir/t/part=2")
    // merge off: both take the first file's schema
    assertParity(s"$dir/t")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assertParity(s"$dir/t")
      assert(Tables.parquet(spark, s"$dir/t").schema.fieldNames.toSeq ===
        Seq("k", "x", "y", "part"))
    }
  }

  private def assertSameFailure(mine: => Any, theirs: => Any): Unit = {
    val a = intercept[Exception](mine)
    val b = intercept[Exception](theirs)
    assert(a.getClass === b.getClass)
    def condition(e: Exception) = e match {
      case t: SparkThrowable => Option(t.getCondition)
      case _ => None
    }
    assert(condition(a) === condition(b), s"${a.getMessage} vs ${b.getMessage}")
  }

  test("missing paths and empty directories fail as spark.read.parquet fails") {
    val missing = tmp("graft_missing") + "/nope.parquet"
    assertSameFailure(Tables.parquet(spark, missing), spark.read.parquet(missing))
    assertSameFailure(Tables.rowCount(spark, missing), spark.read.parquet(missing).count())
    val glob = tmp("graft_missing_glob") + "/batch_*"
    assertSameFailure(Tables.parquet(spark, glob), spark.read.parquet(glob))
    val empty = tmp("graft_empty")
    assertSameFailure(Tables.parquet(spark, empty), spark.read.parquet(empty))
    assertSameFailure(Tables.rowCount(spark, empty), spark.read.parquet(empty).count())
  }

  test("building warehouse-path queries launches no Spark job") {
    for (n <- Seq("dim_customer", "scd2_customer", "fact_sales", "fact_transactions",
                  "validate_ri", "q5_region_volume", "sessionize_events")) {
      val jobs = TestSpark.jobsDuring { SparkEntry.queries(n)(spark, TestSpark.sf) }
      assert(jobs === 0, s"$n launched $jobs job(s) while building its plan")
    }
  }
}
