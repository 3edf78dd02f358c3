package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session

/** Dev tool: synthesize a k× scale-up of a fixture directory for
  * scaling audits (`runMain graft.tools.ScaleUp <srcDir> <dstDir> <k>`).
  * TPC-H-style: dimension tables region/nation stay fixed; every other
  * table is replicated k times with its own keys and its foreign keys
  * into scaled tables shifted by copy · 10⁸, so join selectivity,
  * fan-out, and value distributions match the source exactly while row
  * counts grow k×. Timing-only data — the correctness oracles never
  * run against it. */
object ScaleUp {

  /** table → key columns to shift per copy (PKs + FKs into scaled
    * tables; FKs into the fixed dims stay put). */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def run(spark: SparkSession, src: String, dst: String, k: Int,
          tables: Set[String] = shiftCols.keySet): Unit = {
    val Off = 100000000L
    val unknown = tables -- shiftCols.keySet
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(",")}")
    shiftCols.view.filterKeys(tables).foreach { case (table, keys) =>
      val base = spark.read.parquet(s"$src/$table.parquet")
      // Guard the shift arithmetic: a source key >= Off would make
      // copy i's keys collide with copy i+1's, and a shifted value
      // past the source column's integer range would wrap under the
      // (non-ANSI) cast — both silently distort audit join fan-out.
      // Keys that no longer fit an INT are widened to LONG instead.
      val maxKeys: Map[String, Long] =
        if (keys.isEmpty) Map.empty
        else base.select(keys.map(c => max(col(c).cast("long")).as(c)): _*)
          .head() match {
            case r => keys.zipWithIndex.map { case (c, i) =>
              c -> (if (r.isNullAt(i)) 0L else r.getLong(i)) }.toMap
          }
      keys.foreach { c =>
        require(maxKeys(c) < Off,
          s"$table.$c max ${maxKeys(c)} >= shift offset $Off: copies would collide")
      }
      val scaled: DataFrame =
        if (keys.isEmpty) base
        else (0 until k).map { i =>
          keys.foldLeft(base) { (df, c) =>
            val shiftedMax = maxKeys(c) + (k - 1).toLong * Off
            val tgt = base.schema(c).dataType match {
              case org.apache.spark.sql.types.IntegerType
                if shiftedMax > Int.MaxValue =>
                org.apache.spark.sql.types.LongType
              case t => t
            }
            df.withColumn(c, (col(c) + lit(i * Off)).cast(tgt))
          }
        }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table: ${base.count()} -> ${scaled.count()} rows")
    }
  }

  def main(args: Array[String]): Unit = {
    // optional 4th arg: comma-separated table subset (e.g. just
    // "documents" for the text family, where replicating lineitem
    // 100× would be pure write cost)
    val (Array(src, dst, kStr), tables) = args match {
      case Array(s, d, k) => (Array(s, d, k), shiftCols.keySet)
      case Array(s, d, k, ts) =>
        (Array(s, d, k), ts.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    }
    val spark = Session()
    run(spark, src, dst, kStr.toInt, tables)
    spark.stop()
  }
}
