package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming first-seen dedup — the custom-state operator of the
  * Structured Streaming surface (SURVEY §2.10:
  * `flatMapGroupsWithState`), and the online form of
  * [[graft.operators.Dedup.exactKeepers]]: emit a key the first time it
  * is seen, suppress every later occurrence.
  *
  * Scale design: state per distinct key is one (count, first_ts) pair;
  * the streaming variant bounds total state with an EVENT-TIME timeout
  * (`horizonUs`) — once the watermark passes a key's last admission
  * horizon, its state is dropped and the key may be re-admitted. That
  * is the standard bounded-memory contract for online dedup over an
  * unbounded stream (exact within the horizon, like a TTL'd seen-set).
  * The same function runs over a batch DataFrame (one state scope per
  * job), where it reduces to groupBy(key).min(ts) — which is exactly
  * the DuckDB oracle for q_first_seen.
  */
object StreamDedup {

  /** First occurrence of each key: (k, first_ts, n_dups_in_batch). */
  case class FirstSeen(k: Long, first_ts: Long)
  case class Seen(nSeen: Long, tsFirst: Long)

  /** Batch/stream-agnostic core over (k, ts-micros, event-time) rows —
    * the third field is the watermark-tagged timestamp column, which
    * must survive into the stateful operator for event-time timeouts. */
  private def core(ds: Dataset[(Long, Long, java.sql.Timestamp)],
                   horizonUs: Long): Dataset[FirstSeen] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val timeout =
      if (horizonUs > 0) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Seen, FirstSeen](
        OutputMode.Append(), timeout) {
        (k: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[Seen]) =>
          if (state.hasTimedOut) {
            // watermark passed the admission horizon — forget the key
            state.remove()
            Iterator.empty
          } else {
            var minTs = Long.MaxValue
            var n = 0L
            rows.foreach { r =>
              if (r._2 < minTs) minTs = r._2; n += 1
            }
            val out =
              if (state.exists) {
                state.update(Seen(state.get.nSeen + n, state.get.tsFirst))
                Iterator.empty
              } else {
                state.update(Seen(n, minTs))
                Iterator.single(FirstSeen(k, minTs))
              }
            if (horizonUs > 0) {
              // Horizon anchors at the STORED first_ts (the documented
              // contract), not this batch's min — and is clamped above
              // the current watermark: a straggler more than horizon
              // behind would otherwise compute a timeout in the past,
              // which Spark rejects with IllegalArgumentException.
              val base = state.get.tsFirst / 1000L + horizonUs / 1000L
              state.setTimeoutTimestamp(
                math.max(base, state.getCurrentWatermarkMs() + 1L))
            }
            out
          }
      }
  }

  /** Batch form: first event per key — semantically
    * `groupBy(k).agg(min(ts))`, executed through the stateful-operator
    * code path. */
  def firstSeen(events: DataFrame, key: Column,
                tsMicros: Column): Dataset[FirstSeen] = {
    val spark = events.sparkSession
    import spark.implicits._
    core(events.select(key.cast("long").as("k"),
      tsMicros.cast("long").as("ts"),
      timestamp_micros(tsMicros.cast("long")).as("__ts"))
      .as[(Long, Long, java.sql.Timestamp)], horizonUs = 0L)
  }

  /** Streaming form with bounded state: keys are forgotten (and
    * re-admittable) once the watermark passes first_ts + horizon. */
  def firstSeenStreaming(events: DataFrame, key: Column, tsMicros: Column,
                         watermark: String,
                         horizonUs: Long): Dataset[FirstSeen] = {
    val spark = events.sparkSession
    import spark.implicits._
    core(events
      .withColumn("__ts", timestamp_micros(tsMicros.cast("long")))
      .withWatermark("__ts", watermark)
      .select(key.cast("long").as("k"),
        unix_micros(col("__ts")).as("ts"), col("__ts"))
      .as[(Long, Long, java.sql.Timestamp)], horizonUs)
  }
}
