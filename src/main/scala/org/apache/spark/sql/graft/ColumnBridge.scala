package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import scala.util.control.NonFatal

/** Spark 4 made Column wrap a ColumnNode and gated the
  * Expression↔Column converters behind private[sql]
  * (org.apache.spark.sql.classic.ExpressionUtils). This bridge —
  * placed under the sql package per the standard extension pattern —
  * re-exports just the two conversions custom Catalyst expressions
  * need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Dataset.ofRows and DataFrame.logicalPlan are private[sql]; custom
    * logical operators need both to round-trip through the public API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** The rows `df` computes, as Spark's internal rows: one planning
    * of the query (an adaptive plan runs its shuffle map stages here),
    * after which the caller drives plain RDD operations over it.
    * Rows may be reused buffers, so read fields out before holding on
    * to anything.
    */
  def rows(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  /** The materialized rows behind a localCheckpointed Dataset — the
    * RDD its LogicalRDD scans, read without planning a query. The rows
    * are stable copies (the checkpoint stored them), so their string
    * fields can be kept as they are.
    */
  def checkpointRows(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    logicalPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case p => throw new IllegalArgumentException(
        s"checkpointRows: expected a checkpointed frame, got ${p.nodeName}")
    }

  /** A DataFrame that scans `rows` directly: its plan is a LogicalRDD
    * over exactly this RDD, so [[unpersistCheckpoint]] on the frame (or
    * on any projection over it) releases `rows`' blocks. It carries no
    * size statistics, so joins over it plan as joins over an unknown
    * (large) input.
    */
  def fromRows(spark: org.apache.spark.sql.SparkSession,
               rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
               schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Release the storage blocks behind a localCheckpointed Dataset.
    * `Dataset.unpersist` only consults the CacheManager (df.cache
    * entries); `localCheckpoint` persists the underlying RDD directly,
    * which otherwise lives until a driver GC lets the ContextCleaner
    * reap it. Walks the plan for the LogicalRDD the checkpoint left
    * behind (the checkpointed frame itself, or projections over it)
    * and unpersists that RDD.
    *
    * WARNING — the blocks are UNRECOVERABLE: localCheckpoint truncates
    * lineage, so any OTHER live Dataset still referencing the same
    * checkpoint becomes permanently unrecomputable once the blocks are
    * dropped. Only call this when the checkpointed frame has no other
    * referents (the Dedup.clusters round loop is the model: each
    * round's labels are released only after the next round's are
    * materialized and nothing else holds the old ones).
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    logicalPlan(df).collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Census of storage blocks registered on the local BlockManager
    * (BlockManagerMaster is private[spark]; this bridge package sits
    * under org.apache.spark, the standard extension pattern). The
    * bench's settle barrier polls this after its full GC until the
    * ContextCleaner's asynchronous removal storm stops moving the
    * number — a deterministic "the cleaner has drained" signal where
    * a fixed sleep was a guess.
    */
  def numStorageBlocks: Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus
      .map(_.blocks.size.toLong).sum

  /** Census of blocks materialized on local DISK — the storage census'
    * blind spot: shuffle data/index files never register as storage
    * blocks, so a settle barrier polling [[numStorageBlocks]] alone
    * declares "drained" while the ContextCleaner is still mid-way
    * through deleting the previous queries' shuffle files, and that
    * deletion I/O (plus the write-side block-manager lock traffic it
    * contends on) lands inside the NEXT timed rep. Counting the
    * DiskBlockManager's files folds shuffle lifecycle into the same
    * drain signal. The walk is ~64 subdirs of the local block-manager
    * dir — milliseconds, driver-side, safe to poll.
    */
  def numDiskBlocks: Long =
    try org.apache.spark.SparkEnv.get.blockManager
      .diskBlockManager.getAllBlocks().length.toLong
    catch { case NonFatal(_) => 0L }
}
