package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.Bridge

/** The one staging policy for intermediate state, plus the shared
  * partition-width helpers of iterative builders.
  *
  * [[stage]] is a local checkpoint: the frame's rows go to executor
  * blocks and its plan becomes one flat `LogicalRDD` leaf. Later
  * actions plan in O(1) instead of re-analysing every earlier round (a
  * persisted round still nests them all; the table-path kNN index
  * measured 2–6 s of planning per probe that way), and the physical
  * partitioning survives, so keyed joins against the staged frame skip
  * their exchange. A staged frame has no CacheManager key: no later
  * `persist` can plan-match onto it, and `spark.catalog.clearCache()`
  * cannot drop it. The blocks assume no executor is lost.
  *
  * Eager or lazy is the call site's choice, not a setting:
  *  - eager (the default) for loop rounds and operator results: a round
  *    must be materialised before its predecessor is freed;
  *  - lazy for a training set that the next action reads in full: its
  *    first job fills the blocks, so no separate job runs (a persist
  *    would add AQE's table-cache stage in front of a spread set).
  *
  * [[free]] drops the blocks of the locally checkpointed leaves of a
  * frame's own plan, so no RDD id is ever tracked beside the frame.
  * Unfreed blocks go with the ContextCleaner once the frame is
  * unreachable. */
private[graft] object Frames {

  /** Local checkpoint of `df`, materialised now when `eager`, else by
    * the first job that reads it. */
  def stage(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** Drop the blocks behind every [[stage]]d leaf of each frame's plan.
    * Pass staged frames or projections of them: any other frame's plan
    * also reaches the stages it was built from. Async on purpose: RDD blocks are keyed by a unique rdd id, so a
    * late drop cannot hit anything else, and bypassing `RDD.unpersist`
    * skips the "cannot be recomputed" WARN it logs per checkpoint. */
  def free(staged: DataFrame*): Unit = staged.foreach { df =>
    df.queryExecution.logical.collectLeaves().foreach {
      case r: LogicalRDD => Bridge.dropLocalCheckpoint(r.rdd)
      case _ =>
    }
  }

  /** Round-robin spread of a frame across the session's cores — ONLY
    * when the source actually has fewer partitions than
    * `defaultParallelism`. The unconditional `repartition(par)` this
    * replaces was motivated by small local fixtures arriving as one
    * parquet split (which pins the whole downstream scan stage to one
    * task), but at production scale the scan already has ample splits
    * and the repartition degenerates into a gratuitous full shuffle of
    * the operator's heaviest column (document text, embedding vectors)
    * — guide §2.4's "repartition someone added for parallelism".
    * Checking the physical partition count keeps the local fixture
    * behavior bit-for-bit (every caller feeds an order-free aggregate
    * or keyed exchange downstream) while letting a many-split corpus
    * skip the exchange entirely. The count is read off `df`'s own
    * physical plan, with no job and no SQL execution of its own: a plan
    * without an exchange builds its RDD (one physical planning); an
    * adaptive plan reports its planned output partitioning, since its
    * coalesced count exists only after its shuffles run. */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan.outputPartitioning.numPartitions
      case p => p.execute().getNumPartitions
    }
    if (parts >= par) df else df.repartition(par)
  }

  /** Scale-adaptive width for an iterative loop's explicit keyed
    * repartition (guide §2.2/§2.4). An explicit `repartition(N, key)`
    * is invisible to AQE — user-specified partition counts are never
    * coalesced — so a constant N = conf width pins every loop stage
    * (and every per-iteration join that must co-partition with the
    * persisted frame) to the configured width regardless of data
    * size. At sf0.1 that is 32 near-empty tasks per stage per round —
    * pure dispatch overhead; the same iterative queries measured
    * FASTER at 8 cores than 32. Width here = ceil(optimizer-estimated
    * bytes / AQE's parallelism-first floor,
    * `coalescePartitions.minPartitionSize`), clamped to
    * [1, conf width]: the same sizing rule AQE's default
    * parallelism-first coalescing applies, applied to the one exchange
    * AQE cannot touch. (The 64 MB advisory target was measured first
    * and REJECTED: it sized q_pagerank's edge frame to ONE partition
    * and serialized ~1 s/iteration of genuinely parallel join+aggregate
    * compute — 2.99 → 5.2 s at sf0.1. The optimizer's estimate is
    * compressed-columnar bytes, so a shuffle-IO-sized target
    * under-provisions CPU-bound loop stages.) The
    * estimate is file-size-based for scans, propagates through
    * projections/joins, and survives `localCheckpoint` (LogicalRDD
    * carries originStats); an unknown estimate saturates huge and
    * falls back to the cap, `spark.sql.shuffle.partitions` (every
    * [[graft.Session]] sets it to the core count). At corpus scale
    * bytes/advisory far exceeds any sane conf width, so the cap
    * governs. Costs one analysis+optimization pass of `df` (no job). */
  def loopWidth(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val cap = math.max(1, conf.numShufflePartitions)
    val target = math.max(1L, conf.getConf(org.apache.spark.sql.internal
      .SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + target - 1) / target).min(BigInt(cap)).max(BigInt(1)).toInt
  }
}
