package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers over the parquet star schema (reference extractors:
  * extractors/database_extractor.py + csv_extractor.py collapse to
  * Spark's parquet/csv/jdbc sources; schema-on-read, filters and
  * column pruning pushed to the scan by Catalyst).
  *
  * Every parquet read in graft goes through [[parquet]]. A bare
  * `spark.read.parquet` infers the schema with a one-task Spark job
  * that reads one footer (`ParquetFileFormat.mergeSchemasInParallel`,
  * even with mergeSchema off), so each table a query touches costs a
  * job before the query runs. [[parquet]] resolves the schema on the
  * driver instead, from the same file and with the same converter
  * Spark's inference would use:
  *  - the leaf files are the ones `InMemoryFileIndex` lists for the
  *    path (same hidden-file filter; globs expanded by `globStatus`);
  *  - of those, `_common_metadata`, else `_metadata`, else the first
  *    data file in path order is the one whose footer is read;
  *  - `ParquetFileFormat.readSchemaFromFooter` with a converter built
  *    from the session conf, so nanosAsLong, NTZ inference and
  *    binary-as-string follow the session;
  *  - the schema is passed as `spark.read.schema(st)`; partition
  *    columns are still discovered from the directory names.
  * It hands off to plain `spark.read.parquet` (Spark infers, and
  * raises its own errors) when there is no readable file (missing path,
  * empty directory, unreadable footer), when schema merging is on,
  * and when a partition column shadows a file column.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** A parquet path (file, directory or glob) as a DataFrame, with the
    * schema Spark's own inference would give, and no Spark job. */
  def parquet(spark: SparkSession, path: String): DataFrame = parquet(spark, Seq(path))

  /** Several parquet paths read as one DataFrame (the multi-path
    * `spark.read.parquet`), schema resolved the same way over all of
    * their leaf files. */
  def parquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    footerSchema(spark, paths) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None     => spark.read.parquet(paths: _*)
    }

  /** Rows under a parquet path, summed from the row groups in the
    * footers of the files a scan would read (driver-side, no job).
    * Equals `parquet(spark, path).count()`, which it hands off to when
    * the path holds no data file. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val files = fileIndex(spark, Seq(path)).toSeq
      .flatMap(_.listFiles(Nil, Nil)).flatMap(_.files).map(_.fileStatus)
    if (files.isEmpty) parquet(spark, path).count()
    else {
      val conf = spark.sessionState.newHadoopConf()
      files.map { f =>
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
      }.sum
    }
  }

  /** The leaf files `DataSource` would index for `paths`, or None when
    * they name nothing (Spark raises its own not-found error then). */
  private def fileIndex(spark: SparkSession, paths: Seq[String]): Option[InMemoryFileIndex] = {
    val roots = paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val q = fs.makeQualified(p)
      if (path.exists("{}[]*?\\".contains(_)))
        Option(fs.globStatus(q)).toSeq.flatten.map(_.getPath)
      else if (fs.exists(q)) Seq(q)
      else Nil
    }
    if (roots.isEmpty) None
    else Some(new InMemoryFileIndex(spark, roots, Map.empty[String, String], None))
  }

  /** The schema `ParquetUtils.inferSchema` would give with mergeSchema
    * off, read on the driver; None where Spark's inference must decide. */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else fileIndex(spark, paths).flatMap { index =>
      val leaves = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !summaries(f.getPath.getName)))
        .flatMap(readFooterSchema(spark, _))
        .filter { st =>
          val partCols = index.partitionSchema.fieldNames.map(_.toLowerCase).toSet
          !st.fieldNames.exists(n => partCols(n.toLowerCase))
        }
    }

  /** None for a footer that cannot be read or converted (a truncated
    * file, a type the session conf rejects): Spark's own read then
    * raises its error, or skips the file under ignoreCorruptFiles. */
  private def readFooterSchema(spark: SparkSession, f: FileStatus): Option[StructType] =
    try {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    } catch {
      case NonFatal(_) => None
    }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** The generator's `ts` physical type has drifted across rounds, so
    * normalize by the OBSERVED schema to session-zone TimestampType:
    *  - TIMESTAMP(NANOS) parquet (Spark's vectorized reader rejects
    *    it): read nanos as long (legacy conf) and floor-divide to
    *    microseconds with integer `div` (a double division would lose
    *    precision at 1e18; sub-µs truncation is the documented
    *    cross-engine contract);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): lands as
    *    TIMESTAMP_NTZ under Spark 4's NTZ inference — cast to
    *    TimestampType; sessions run UTC (Verify/Bench/specs), so the
    *    instant is identical to what DuckDB reads natively.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventTs(apply(s, d, "events"))
  }

  /** The `ts` normalization of [[events]], for any frame read from the
    * events parquet with nanosAsLong set (batch or stream). */
  private[graft] def eventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** CSV ingest with explicit schema (the reference's CSV extractor:
    * extractors/csv_extractor.py — header, delimiter, encoding knobs;
    * explicit schema instead of inference so a malformed file fails
    * loudly and the scan stays single-pass).
    */
  def readCsv(s: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              delimiter: String = ",", header: Boolean = true): DataFrame =
    s.read.schema(schema)
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("mode", "FAILFAST")
      .csv(path)

  def writeCsv(df: DataFrame, path: String, delimiter: String = ",",
               header: Boolean = true): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(path)

  /** JSONL (newline-delimited JSON) — the interchange format corpora
    * actually ship in. Explicit schema + FAILFAST, like [[readCsv]]:
    * a malformed line kills the job loudly instead of silently nulling
    * a 100 TB ingest, and no schema-inference pre-pass scans the data
    * twice. Each output file is one JSONL shard, splittable and
    * parallel on both ends.
    */
  def readJsonl(s: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).option("mode", "FAILFAST").json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC — the other columnar warehouse format Spark ships natively
    * (predicate pushdown, column pruning, and vectorized reads work
    * exactly as for parquet; the scan's PushedFilters is asserted in
    * spec). Schema travels in the file, so no explicit StructType.
    * (Avro is NOT offered: the spark-avro connector jar is not part of
    * this Spark distribution, and the zero-egress environment cannot
    * resolve it.)
    */
  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JDBC extraction (the reference's primary source:
    * extractors/database_extractor.py:71 `extract_table` pulls each
    * table through one cursor with optional WHERE/column lists, and the
    * batch processor pages it manually). Spark-first shape: when a
    * numeric `partitionColumn` is given, the bounds are probed with one
    * MIN/MAX query and the table is read as `numPartitions` parallel
    * range slices — the distributed analogue of the reference's
    * chunking, except chunks stream concurrently into executors instead
    * of through one driver cursor. Filters/projections composed on the
    * returned DataFrame push down into the database as WHERE/SELECT
    * (asserted in JdbcSpec), so "filters" and "columns" of the
    * reference API need no dedicated parameters.
    */
  def readJdbc(s: SparkSession, url: String, table: String,
               partitionColumn: Option[String] = None,
               numPartitions: Int = 8,
               props: Map[String, String] = Map.empty): DataFrame = {
    def base = {
      val b = s.read.format("jdbc").option("url", url)
      props.foldLeft(b) { case (acc, (k, v)) => acc.option(k, v) }
    }
    partitionColumn match {
      case Some(pc) =>
        val bounds = base
          .option("dbtable", s"(SELECT MIN($pc) AS mn, MAX($pc) AS mx FROM $table) B")
          .load().head()
        if (bounds.isNullAt(0)) base.option("dbtable", table).load() // empty table
        else base.option("dbtable", table)
          .option("partitionColumn", pc)
          .option("lowerBound", bounds.get(0).toString)
          .option("upperBound", bounds.get(1).toString)
          .option("numPartitions", numPartitions.toString)
          .load()
      case None => base.option("dbtable", table).load()
    }
  }

  /** All configured tables from one source DB, keyed by name (ref
    * database_extractor.py:23 `extract_orocommerce` / :47 `extract_orocrm`
    * loop over the configured table list).
    */
  def readJdbcTables(s: SparkSession, url: String, tables: Seq[String],
                     props: Map[String, String] = Map.empty): Map[String, DataFrame] =
    tables.map(t => t -> readJdbc(s, url, t, props = props)).toMap
}
