package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-window distribution-drift monitoring — the online form of
  * [[graft.operators.Profile.psiDrift]]: each event-time tumbling
  * window's value histogram is compared (PSI) against a fixed
  * REFERENCE distribution (bin proportions from a historical
  * [[graft.operators.Profile.psiDrift]]/histogram run, carried as a
  * literal), so a corpus shift shows up window by window as it
  * happens, not at the next full-batch profile.
  *
  * Batch form [[psiPerWindow]] is fully relational — (window, bin)
  * partial-aggregated counts, the bin grid completed per window from a
  * `sequence` literal, ε-clamped proportions, decimal-staged term sum,
  * 6 dp — and is DuckDB-oracle-matched. Streaming form
  * [[psiPerWindowStreaming]] holds `bins` longs per open window in
  * `flatMapGroupsWithState` (state is bounded by the watermark via
  * event-time timeout) and emits the running (window, n, psi) each
  * trigger with the same arithmetic.
  */
object StreamDrift {

  case class WinPsi(w: java.sql.Timestamp, n: Long, psi: Double)
  // not `private`: the state encoder's generated code needs public
  // accessors (same constraint as StreamCms.Counters)
  case class BinCounts(counts: Array[Long])

  /** The shared codegen'd bin: floor((v − lo)/width) clamped to
    * [0, bins) — identical to Profile.histogram's. */
  private def binOf(value: Column, lo: Double, hi: Double,
                    bins: Int): Column = {
    val w = (hi - lo) / bins
    least(greatest(floor((value - lit(lo)) / lit(w)).cast("long"),
      lit(0L)), lit(bins - 1L))
  }

  /** JVM mirror of the relational per-window PSI (term-by-term:
    * ε-clamp, (p−r)·ln(p/r), DECIMAL(38,18)-staged sum, 6 dp) for the
    * streaming state path. */
  private[streaming] def psiOf(counts: Array[Long],
                               ref: Seq[Double]): Double = {
    val tot = counts.sum.toDouble
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < counts.length) {
      val p = if (counts(i) == 0L) 1e-6 else counts(i).toDouble / tot
      val r = ref(i)
      val term = (p - r) * math.log(p / r)
      // valueOf (shortest decimal repr), NOT new BigDecimal (exact
      // binary expansion): Spark's double → DECIMAL(38,18) cast goes
      // through BigDecimal.valueOf, and the two can differ in the 18th
      // digit — enough to flake the stream≡batch bit-parity at a 6 dp
      // rounding boundary.
      acc = acc.add(java.math.BigDecimal.valueOf(term)
        .setScale(18, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    java.math.BigDecimal.valueOf(acc.doubleValue())
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0
  }

  /** Batch form: one PSI row per tumbling window —
    * (w "yyyy-MM-dd HH:mm:ss", n, psi). `ref` must have `bins`
    * strictly positive proportions. */
  def psiPerWindow(df: DataFrame, ts: Column, value: Column,
                   lo: Double, hi: Double, bins: Int,
                   ref: Seq[Double], windowDur: String): DataFrame = {
    require(ref.size == bins && ref.forall(_ > 0),
      s"ref needs $bins positive proportions")
    val binned = df
      .select(window(ts, windowDur)("start").as("w"),
        binOf(value, lo, hi, bins).as("bin"))
      .groupBy("w", "bin").agg(count(lit(1)).as("n"))
    val grid = binned.groupBy("w")
      .agg(sum(col("n")).as("tot"),
        map_from_entries(collect_list(struct(col("bin"), col("n"))))
          .as("m"))
      .select(col("w"), col("tot"), col("m"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .withColumn("n", coalesce(element_at(col("m"), col("bin")), lit(0L)))
      .drop("m")
    val refLit = typedlit(ref)
    val p = when(col("n") === 0, lit(1e-6))
      .otherwise(col("n").cast("double") / col("tot").cast("double"))
    val pr = element_at(refLit, (col("bin") + 1).cast("int"))
    grid
      .withColumn("__t", ((p - pr) * log(p / pr)).cast("decimal(38,18)"))
      .groupBy("w")
      .agg(max(col("tot")).as("n"),
        (round(sum(col("__t")).cast("double"), 6) + lit(0.0)).as("psi"))
      .select(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("n"), col("psi"))
  }

  private def durationMs(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"expected '<n> <unit>', got '$s'")
    val n = parts(0).toLong
    val unit = parts(1).stripSuffix("s")
    val ms = unit match {
      case "second" => 1000L
      case "minute" => 60000L
      case "hour" => 3600000L
      case "day" => 86400000L
      case other => throw new IllegalArgumentException(
        s"unsupported window unit '$other'")
    }
    n * ms
  }

  /** Streaming form: running (window, n, psi) per trigger, Update
    * mode. State per open window is `bins` longs, dropped once the
    * watermark passes the window end (event-time timeout, clamped
    * above the current watermark like [[StreamDedup]]). */
  def psiPerWindowStreaming(df: DataFrame, tsCol: String,
                            value: Column, lo: Double, hi: Double,
                            bins: Int, ref: Seq[Double],
                            windowDur: String,
                            watermark: String = "1 hour"): Dataset[WinPsi] = {
    require(ref.size == bins && ref.forall(_ > 0),
      s"ref needs $bins positive proportions")
    val spark = df.sparkSession
    import spark.implicits._
    val winMs = durationMs(windowDur)
    // the watermark-tagged ts column must SURVIVE the projection into
    // the stateful operator for event-time timeouts to resolve
    val binned = df
      .withWatermark(tsCol, watermark)
      .select(window(col(tsCol), windowDur)("start").as("w"),
        binOf(value, lo, hi, bins).as("bin"), col(tsCol).as("__et"))
      .as[(java.sql.Timestamp, Long, java.sql.Timestamp)]
    binned.groupByKey(_._1)
      .flatMapGroupsWithState[BinCounts, WinPsi](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (w: java.sql.Timestamp,
         rows: Iterator[(java.sql.Timestamp, Long, java.sql.Timestamp)],
         state: GroupState[BinCounts]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val counts =
              if (state.exists) state.get.counts.clone()
              else new Array[Long](bins)
            rows.foreach { r => counts(r._2.toInt) += 1L }
            state.update(BinCounts(counts))
            // forget the window once the watermark passes its end
            state.setTimeoutTimestamp(
              math.max(w.getTime + winMs,
                state.getCurrentWatermarkMs() + 1L))
            Iterator.single(WinPsi(w, counts.sum, psiOf(counts, ref)))
          }
      }
  }
}
