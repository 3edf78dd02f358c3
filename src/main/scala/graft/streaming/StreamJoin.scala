package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the live counterpart of
  * [[graft.operators.Series.rangeJoin]]: all (left, right) pairs of the
  * same key with |left.ts − right.ts| ≤ delta.
  *
  * Batch mode is `Series.rangeJoin` itself (bucket-replication
  * equi-join, no per-key cross product). The streaming mode is Spark's
  * watermarked stream-stream join: both sides carry an event-time
  * watermark and the join condition is equality + a bounded time range,
  * which is exactly the contract Structured Streaming needs to know
  * when a buffered row can never match again — state on each side is
  * evicted once the other side's watermark passes its timestamp ±
  * delta. Unbounded input, bounded state: the property that matters on
  * an always-on 100 TB/day ingest.
  *
  * Output shape matches `rangeJoin`: all left columns + `prefix<col>`
  * for each right payload column.
  */
object StreamJoin {

  /** Watermarked stream-stream interval join. `tsMicros` is an
    * epoch-microseconds long column present in both sides; `payload`
    * names right-side columns to carry (must not collide with left
    * names). */
  def intervalStreaming(left: DataFrame, right: DataFrame, key: String,
                        tsMicros: String, deltaUs: Long,
                        payload: Seq[String], watermark: String,
                        prefix: String = "r_"): DataFrame = {
    require(deltaUs > 0, "delta must be positive")
    val leftCols = left.columns
    val l = left
      .withColumn("__lt", timestamp_micros(col(tsMicros)))
      .withWatermark("__lt", watermark)
    val r = right.select(col(key).as("__rk") +:
        col(tsMicros).as("__rt_us") +:
        payload.distinct.map(c => col(c).as(s"__p_$c")): _*)
      .withColumn("__rt", timestamp_micros(col("__rt_us")))
      .withWatermark("__rt", watermark)
    l.join(r,
        l(key) === r("__rk") &&
          r("__rt") >= l("__lt") - expr(s"INTERVAL $deltaUs MICROSECOND") &&
          r("__rt") <= l("__lt") + expr(s"INTERVAL $deltaUs MICROSECOND"))
      .select(leftCols.toIndexedSeq.map(col) ++
        payload.distinct.map(c => col(s"__p_$c").as(s"$prefix$c")): _*)
  }

  /** Stream-static enrichment: join a stream against a (small) static
    * dimension with an explicit broadcast — stateless per micro-batch
    * (no watermark, no join state; the dimension is re-resolvable per
    * batch, so a dim refresh is picked up on the next trigger). The
    * 100 TB/s-stream shape: the dimension ships to executors once per
    * batch, the stream never shuffles. */
  def enrichStatic(stream: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key)
}
