package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-exact numeric helpers.
  *
  * Summing doubles is order-dependent, and Spark's partial/final
  * aggregation order differs from a single-node oracle's — so any
  * double-sum differs in the last bits and breaks hash comparison.
  * The fixture money/quantity columns are 2-decimal values; summing
  * them as DECIMAL(18,2) is exact in both Spark and DuckDB, and the
  * final cast back to double is then bit-identical on both sides.
  * (The reference has no doubles-vs-oracle problem because its tests
  * compare against goldens computed by the same binary,
  * /root/reference/test/runtests.jl.)
  */
object Exact {
  val Dec2: DecimalType = DecimalType(18, 2)

  /** Cast a 2-decimal double column to exact decimal. */
  def d(c: Column): Column = c.cast(Dec2)

  /** Exact sum of a 2-decimal column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec2)).cast("double")
}
