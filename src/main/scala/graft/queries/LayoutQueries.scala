package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ZOrderKey

/** Z-order layout queries: Morton-key clustering statistics over
  * lineitem's (part, supplier) plane. Fixed-width key ranges (z >> 16)
  * stand in for files so the bucketing is deterministic and the native
  * interleave expression oracle-checks bit-for-bit against DuckDB
  * integer arithmetic; [[graft.operators.Layout]]'s range-partitioned
  * write path is covered by LayoutSpec (its sampled boundaries are not
  * cross-engine reproducible).
  */
object LayoutQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Per-z-range footer stats: row count + min/max of BOTH dimensions.
    // Tight ranges on both axes are what parquet min/max skipping prunes
    // with — one sort at write time buys two-dimensional pruning.
    QuerySpec("q_zorder", (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(
          ZOrderKey.zorder(col("l_partkey"), col("l_suppkey")).as("z"),
          col("l_partkey"), col("l_suppkey"))
        .groupBy(shiftright(col("z"), 16).as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("x_min"), max("l_partkey").as("x_max"),
          min("l_suppkey").as("y_min"), max("l_suppkey").as("y_max")),
      Some {
        val z = ZOrderKey.zorderSql("l_partkey", "l_suppkey")
        s"""SELECT ($z >> 16) AS z_bucket,
           | CAST(COUNT(*) AS BIGINT) AS n_rows,
           | MIN(l_partkey) AS x_min, MAX(l_partkey) AS x_max,
           | MIN(l_suppkey) AS y_min, MAX(l_suppkey) AS y_max
           |FROM lineitem GROUP BY 1""".stripMargin
      }),

    // Deterministic training shards: content-hash global shuffle cut
    // into 64-row shards — per-shard size + id-range stats (the
    // hash order decorrelates ids, so every shard should span nearly
    // the whole id domain).
    QuerySpec("q_shards", (s, dir) =>
      graft.operators.Layout.trainShards(
        Tables.load(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), shardSize = 64L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("pos")).as("pos_min"), max(col("pos")).as("pos_max"),
          min(col("doc_id")).as("id_min"), max(col("doc_id")).as("id_max")),
      // md5 order is a total order over the fixture ids, so the window
      // mirror reproduces the exscan numbering exactly.
      Some(
        """WITH rid AS (
          | SELECT doc_id,
          |  ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1
          |   AS r
          | FROM documents)
          |SELECT r // 64 AS shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
          | CAST(MIN(r % 64) AS BIGINT) AS pos_min,
          | CAST(MAX(r % 64) AS BIGINT) AS pos_max,
          | MIN(doc_id) AS id_min, MAX(doc_id) AS id_max
          |FROM rid GROUP BY 1""".stripMargin))
  )
}
