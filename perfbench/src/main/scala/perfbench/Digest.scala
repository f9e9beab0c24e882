package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent digest of a frame's contents.
  *
  * Each row hashes to a 64-bit xxhash over all of its columns, and the
  * digest is the sum of the row hashes modulo 2^64, so row order and
  * partitioning do not matter while duplicates still count. Floating
  * values are hashed as their decimal rendering to 9 significant digits:
  * a double summed over shuffled partial aggregates may differ in its
  * last bits from run to run, which is not a wrong answer.
  */
object Digest {

  final case class Result(rows: Long, digest: String)

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
    case _ if !hasFloat(dt) => c
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
  }

  def of(df: DataFrame): Result = {
    // positional names: joins may leave duplicate column names behind
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => normalize(col(f.name), f.dataType))
    val row = named.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val total = if (row.isNullAt(1)) java.math.BigDecimal.ZERO else row.getDecimal(1)
    val wrapped = total.toBigInteger.and(java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE))
    Result(row.getLong(0), f"${wrapped.longValue}%016x")
  }
}
