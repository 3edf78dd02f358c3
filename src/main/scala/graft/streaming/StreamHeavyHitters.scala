package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming heavy hitters — Misra–Gries (space-saving) summaries per
  * group in `mapGroupsWithState`: at most `capacity` counters per
  * group, each arrival either increments its counter, claims a free
  * slot, or decrements every counter (the MG step). State is O(capacity)
  * FOREVER — the frequency analog of [[StreamSketch]]'s HLL.
  *
  * Guarantee (the classic MG bound, pinned by spec): for every item,
  * `true_count − n/ (capacity+1) ≤ estimate ≤ true_count`, and any item
  * with true count > n/(capacity+1) is PRESENT in the summary. So with
  * capacity sized to the group's distinct-item count the summary is
  * exact; under pressure it degrades to the one-sided bound, never
  * silently.
  *
  * Determinism: within a micro-batch, rows apply in (ts, item) order,
  * and the evicted/"decrement" step is a pure function of that order —
  * the same stream replayed through the same triggers yields the same
  * summary. (Unlike HLL/CMS the MG summary is order-DEPENDENT between
  * different batchings; the spec pins the bound, not cross-batching
  * equality.)
  */
object StreamHeavyHitters {

  case class Hit(g: String, item: String, est: Long)
  private[streaming] case class Summary(items: Map[String, Long])

  /** One group-batch of MG updates, δ-offset formulation. The naive MG
    * overflow step ("decrement EVERY counter by 1, drop zeros, don't
    * insert the newcomer") is O(capacity) PER over-capacity arrival —
    * on a corpus-sized batch funneled through few groups that is
    * arrivals×capacity map rebuilds (measured: the x100 stream audit's
    * 2M-arrival groups spent 6–57 s here). Keeping a global offset δ
    * instead makes the identical update O(1) amortized: a counter's
    * EFFECTIVE count is `stored − δ`, so "decrement all" is `δ += 1`,
    * an entry is dead (≡ removed by naive MG) once `stored ≤ δ`, and
    * dead entries are physically purged only when the table doubles —
    * amortized constant, with the live state bit-identical to the
    * decrement-all formulation at every arrival.
    *
    * CONTRACT: `rows` is sorted IN PLACE (the caller's array is
    * mutated) — both callers pass a fresh `it.toArray`. */
  private[graft] def mgApply(init: Map[String, Long],
                                 rows: Array[(String, String, Long)],
                                 capacity: Int): Map[String, Long] = {
    // Deterministic application order (ts, item) — an allocation-free
    // comparator; `sortBy(r => (r._3, r._2))` allocates a key tuple
    // per COMPARISON (~n·log n·2 tuples), which was most of the GC
    // pressure on corpus-sized batches.
    java.util.Arrays.sort(rows,
      new java.util.Comparator[(String, String, Long)] {
        def compare(a: (String, String, Long),
                    b: (String, String, Long)): Int = {
          val c = java.lang.Long.compare(a._3, b._3)
          if (c != 0) c else a._2.compareTo(b._2)
        }
      })
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    var delta = 0L
    init.foreach { case (k, c) => m.update(k, c) } // stored = effective at δ=0
    var live = m.size
    // hist(stored) = number of entries at that stored value: lets the
    // overflow step learn how many entries just died in O(1).
    val hist = scala.collection.mutable.HashMap.empty[Long, Int]
    m.valuesIterator.foreach(s =>
      hist.update(s, hist.getOrElse(s, 0) + 1))
    def histDec(s: Long): Unit = {
      val h = hist.getOrElse(s, 0) - 1
      if (h <= 0) hist.remove(s) else hist.update(s, h)
    }
    var i = 0
    while (i < rows.length) {
      val item = rows(i)._2
      val stored = m.getOrElse(item, Long.MinValue)
      if (stored > delta) {                      // resident: increment
        m.update(item, stored + 1L)
        histDec(stored)
        hist.update(stored + 1L, hist.getOrElse(stored + 1L, 0) + 1)
      } else if (live < capacity) {              // free slot: insert at 1
        if (stored != Long.MinValue) histDec(stored) // revive a dead slot
        m.update(item, delta + 1L)
        hist.update(delta + 1L, hist.getOrElse(delta + 1L, 0) + 1)
        live += 1
      } else {                                   // full: decrement all
        delta += 1L
        live -= hist.getOrElse(delta, 0)         // entries at stored == δ die
      }
      // Physical purge of dead entries once the table doubles — keeps
      // memory O(capacity) without per-arrival scans.
      if (m.size >= 2 * capacity && m.size > live) {
        m.filterInPlace { (_, s) =>
          val alive = s > delta
          if (!alive) histDec(s)
          alive
        }
      }
      i += 1
    }
    m.iterator.collect {
      case (k, s) if s > delta => k -> (s - delta)
    }.toMap
  }

  private def core(ds: Dataset[(String, String, Long)],
                   capacity: Int, k: Int): Dataset[Hit] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Summary, Hit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[(String, String, Long)],
         state: GroupState[Summary]) =>
          val m = mgApply(
            state.getOption.map(_.items).getOrElse(Map.empty),
            rows.toArray, capacity)
          state.update(Summary(m))
          m.toSeq.sortBy { case (item, c) => (-c, item) }.take(k)
            .map { case (item, c) => Hit(g, item, c) }.iterator
      }
  }

  /** Batch form: top-k MG summary per group (exact when `capacity`
    * covers the group's distinct items). */
  def topK(df: DataFrame, group: Column, item: Column, order: Column,
           capacity: Int, k: Int): Dataset[Hit] = {
    val spark = df.sparkSession
    import spark.implicits._
    core(df.select(group.cast("string"), item.cast("string"),
      order.cast("long")).as[(String, String, Long)], capacity, k)
  }
}
