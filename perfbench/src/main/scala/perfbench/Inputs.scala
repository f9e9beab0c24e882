package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.sources.Tables

/** Seeded input generation, all of it under the benchmark's own work
  * directory. The source fixture is only ever read.
  */
object Inputs {

  private val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a fixture table; `events` goes through `Tables.events`, which
    * normalizes the drifting `ts` physical type.
    */
  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    if (table == "events") Tables.events(spark, dir) else Tables(spark, dir, table)

  /** Chunk count for a table of `rows` rows, as `graft.Bench` chooses
    * it: one chunk per ~20k weighted rows, capped at min(cores, 8).
    * Documents and embeddings rows weigh 100 and 40 ordinary rows.
    */
  private def chunks(table: String, rows: Long, cores: Int): Int = {
    val weight = Map("documents" -> 100L, "embeddings" -> 40L).getOrElse(table, 1L)
    math.min(math.min(cores, 8).toLong,
      math.max(1L, (rows * weight + 19999L) / 20000L)).toInt
  }

  /** Parquet footers of a fixture table (one file or a directory). */
  private def footers(spark: SparkSession, dir: String, table: String)
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    path.getFileSystem(conf).listStatus(path).toSeq
      .filter(st => st.getPath == path || st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter finally reader.close()
      }
  }

  /** Row count of a fixture table from its parquet footers, no job. */
  private def rows(spark: SparkSession, dir: String, table: String): Long =
    footers(spark, dir, table).flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

  /** Largest value of an integer column, from the footer statistics
    * when every row group carries them, else by an aggregate.
    */
  private def maxOf(spark: SparkSession, dir: String, table: String, column: String): Long = {
    val stats = footers(spark, dir, table).flatMap(_.getBlocks.asScala).map(
      _.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics))
    if (stats.nonEmpty && stats.forall(_.exists(s => s != null && s.hasNonNullValue)))
      stats.map(_.get.genericGetMax.asInstanceOf[Number].longValue).max
    else read(spark, dir, table).agg(max(col(column))).head().getLong(0)
  }

  private def land(df: DataFrame, table: String, rows: Long, dst: String, cores: Int): Unit =
    df.repartition(chunks(table, rows, cores)).write.mode("overwrite").parquet(s"$dst/$table.parquet")

  /** The sf copy re-chunked into parquet parts, so scans run as several
    * tasks instead of one per single-row-group fixture file.
    */
  def rechunk(spark: SparkSession, src: String, dst: String, cores: Int,
              only: Seq[String]): Unit =
    only.foreach(t => land(read(spark, src, t), t, rows(spark, src, t), dst, cores))

  /** `copies` id-offset replicas of the TPC-H tables, foreign keys
    * offset together so every join stays within one copy. Region,
    * nation, documents, embeddings and events are reused unchanged.
    * Copy k adds k * (max key + 1) to each key.
    */
  def replicate(spark: SparkSession, src: String, dst: String, copies: Int,
                cores: Int): Unit = {
    def stride(table: String, key: String): Long = maxOf(spark, src, table, key) + 1
    val cust = stride("customer", "c_custkey")
    val supp = stride("supplier", "s_suppkey")
    val part = stride("part", "p_partkey")
    val ord = stride("orders", "o_orderkey")
    val offsets: Map[String, Seq[(String, Long)]] = Map(
      "customer" -> Seq("c_custkey" -> cust),
      "supplier" -> Seq("s_suppkey" -> supp),
      "part" -> Seq("p_partkey" -> part),
      "orders" -> Seq("o_orderkey" -> ord, "o_custkey" -> cust),
      "lineitem" -> Seq("l_orderkey" -> ord, "l_partkey" -> part, "l_suppkey" -> supp))
    new java.io.File(dst).mkdirs()
    for (t <- tables) offsets.get(t) match {
      case Some(keys) =>
        // one scan: each row fans out to its copies
        val fanned = read(spark, src, t)
          .withColumn("__copy", explode(sequence(lit(0L), lit(copies - 1L))))
        val copied = keys.foldLeft(fanned) { case (acc, (c, s)) =>
          acc.withColumn(c, col(c) + col("__copy") * lit(s))
        }.drop("__copy")
        land(copied, t, rows(spark, src, t) * copies, dst, cores)
      case None =>
        val file = new java.io.File(s"$src/$t.parquet")
        // reused unchanged: a single-file table is copied, with no job
        if (file.isFile) java.nio.file.Files.copy(file.toPath, new java.io.File(s"$dst/$t.parquet").toPath)
        else land(read(spark, src, t), t, rows(spark, src, t), dst, cores)
    }
  }

  /** Seeded bucket 0-99 of an event: 0-1 deleted, 2-3 updated, 4
    * re-sent as a new event.
    */
  private def bucket(seed: Long) = pmod(xxhash64(col("event_id"), lit(seed)), lit(100L))

  /** The next events snapshot: a seeded ~2% of events deleted, ~2%
    * with a changed value, and ~1% re-sent a day later as new events.
    */
  def nextEvents(spark: SparkSession, src: String, dst: String, seed: Long, cores: Int): Unit = {
    val ev = read(spark, src, "events")
    val b = bucket(seed)
    val kept = ev.filter(b >= 2)
      .withColumn("value", when(b < 4, col("value") + 1.5).otherwise(col("value")))
    val inserted = ev.filter(b === 4)
      .withColumn("event_id", col("event_id") + lit(maxOf(spark, src, "events", "event_id") + 1))
      .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY"))
    land(kept.unionByName(inserted), "events_new", rows(spark, src, "events"), dst, cores)
  }

  /** How many events the seeded delta deletes, updates and inserts. */
  def deltaCounts(spark: SparkSession, src: String, seed: Long): String = {
    val r = read(spark, src, "events").select(bucket(seed).as("b"))
      .agg(count(when(col("b") < 2, 1)), count(when(col("b").between(2, 3), 1)),
        count(when(col("b") === 4, 1))).head()
    s"deletes=${r.getLong(0)} updates=${r.getLong(1)} inserts=${r.getLong(2)}"
  }
}
