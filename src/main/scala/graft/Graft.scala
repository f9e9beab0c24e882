package graft

import org.apache.spark.sql.SparkSession
import graft.sources.Tables

/** User-facing facade: one call wires a session for SQL-first use —
  * every star-schema table as a temp view, the custom `cosine_sim`
  * function, and the as-of planner strategy. After this,
  * `spark.sql("SELECT ... FROM lineitem ...")` works against the
  * parquet layout directly.
  */
object Graft {
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def registerViews(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case n => Tables(spark, dir, n).createOrReplaceTempView(n)
    }
    graft.functions.VectorExpressions.register(spark)
    graft.plans.AsOf.register(spark)
  }

  /** Register every table Etl.buildAll landed (dims, facts, run report)
    * as a temp view, so the built warehouse is immediately SQL-served:
    * `spark.sql("SELECT ... FROM fact_sales JOIN dim_customer ...")`.
    */
  def registerWarehouse(spark: SparkSession, warehouseDir: String): Seq[String] = {
    val tables = graft.sources.Fs.childDirs(spark, warehouseDir)
    tables.foreach { t =>
      graft.sources.Tables.parquet(spark, s"$warehouseDir/$t").createOrReplaceTempView(t)
    }
    tables
  }

  /** Cluster-posture defaults for a real deployment: AQE re-planning
    * with skew-join splitting and partition coalescing, bounded scan
    * partition size. Session-level knobs only — shuffle.partitions is
    * left to the submitter (sized to cluster cores × 2-3 at 100 TB).
    */
  val clusterDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "268435456")

  def applyClusterDefaults(spark: SparkSession): Unit =
    clusterDefaults.foreach { case (k, v) => spark.conf.set(k, v) }
}
