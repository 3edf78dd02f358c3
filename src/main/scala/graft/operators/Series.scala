package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Ordered-series operators: distributed prefix sum and 1-D stencil.
  *
  * The reference implements these as MPI patterns over 1-D block
  * distributed arrays:
  *  - cumsum: local sum → `MPI_Exscan` → local rescan
  *    (/root/reference/src/distributed-pass.jl:1213-1215,
  *    src/cgen-hpat-pattern-match.jl:433-459)
  *  - stencil: halo exchange of one boundary element each way via
  *    `MPI_Isend/Irecv`, with out-of-bounds borders copying the input
  *    (/root/reference/src/capture-api.jl:111-144,
  *    src/distributed-pass.jl:882-1001; border rule at 917-919,933-937)
  *
  * The Spark-native equivalent keeps the same two-level structure instead
  * of a single global `Window.orderBy` (which would collapse to ONE
  * partition and cannot scale):
  *  1. `repartitionByRange(order)` + `sortWithinPartitions` — the analog
  *     of HPAT's contiguous 1-D block distribution.
  *  2. per-partition window functions (narrow, codegen'd).
  *  3. a tiny driver-side exchange of per-partition boundary state
  *     (partition sums / edge rows — O(numPartitions) rows, the moral
  *     equivalent of the Exscan / halo collectives), broadcast-joined
  *     back on partition id.
  *
  * The input is pinned with `persist()` so both passes see identical
  * partition contents (Spark re-executes the shuffle per action; HPAT's
  * arrays are naturally resident). Order keys must be unique for
  * deterministic output, as in the reference's ordered arrays.
  */
object Series {

  private val PID = "__graft_pid"

  // Every result is [[Frames.stage]]d before its persisted input is
  // blocking-dropped: the offsets/halos are only valid against the
  // exact partition contents they were computed from, and staging
  // truncates the lineage, so a re-sampled range partitioning can
  // never misalign them.

  /** Running (inclusive) prefix sum of `value` in the global order of
    * `order`, added as column `out`. Exact if `value` is a decimal.
    */
  def cumsum(df: DataFrame, order: Column, value: Column, out: String,
             numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // Width is scale-adaptive ([[Frames.loopWidth]]): an explicit
    // range-repartition count is invisible to AQE, and the conf-width
    // constant pinned the two window passes + the O(width) driver
    // exscan to 32 near-empty tasks at sf0.1. The exact decimal sums
    // make the output identical under ANY partitioning.
    val n = if (numPartitions > 0) numPartitions
            else Frames.loopWidth(df)
    val parted = df
      .repartitionByRange(n, order)
      .sortWithinPartitions(order)
      .withColumn(PID, spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Pass 1 — per-partition totals; exclusive scan on the driver
    // (numPartitions rows: the MPI_Exscan).
    val partSums = parted.groupBy(col(PID)).agg(sum(value).as("s"))
      .collect().map(r => r.getInt(0) -> r.get(1)).sortBy(_._1)
    var running: java.math.BigDecimal = java.math.BigDecimal.ZERO
    val offsets = partSums.map { case (pid, s) =>
      val off = running
      if (s != null) running = running.add(new java.math.BigDecimal(s.toString))
      (pid, off)
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq.map {
        case (pid, off) => org.apache.spark.sql.Row(pid, off)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(PID,
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__graft_off",
          org.apache.spark.sql.types.DecimalType(38, 18), nullable = false))))

    // Pass 2 — local rescan + offset. The result is materialized from
    // the same pinned partitions the offsets were computed on, then the
    // staging cache is dropped (recomputing `parted` later could
    // re-sample different range boundaries and misalign the offsets).
    val w = Window.partitionBy(col(PID)).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    try Frames.stage(
      parted
        .join(broadcast(offDf), PID)
        .withColumn(out, sum(value).over(w) + col("__graft_off"))
        .drop(PID, "__graft_off"))
    finally parted.unpersist(true)
  }

  /** Contiguous global row ids 0..n−1 in `order`-ascending order — the
    * "number the corpus examples" primitive (stable shard/example ids
    * for a training run). Same two-level topology as [[cumsum]]: range
    * partition + local sort, per-partition COUNTS exscanned on the
    * driver (O(partitions) longs — never data), then a local
    * row_number + offset. No global single-task sort at any point.
    * `order` must be a total order (unique key) for the ids to be
    * deterministic. */
  def globalRowNumbers(df: DataFrame, order: Column, out: String,
                       numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // Scale-adaptive width — see [[cumsum]]; ids are deterministic for
    // a unique `order` key under any partitioning (range partition +
    // local row_number + exscanned offsets compose to the global rank).
    val n = if (numPartitions > 0) numPartitions
            else Frames.loopWidth(df)
    val parted = df
      .repartitionByRange(n, order)
      .withColumn(PID, spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = parted.groupBy(col(PID)).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var running = 0L
    val offsets = counts.map { case (pid, c) =>
      val off = running; running += c; (pid, off)
    }
    val offDf = spark.createDataFrame(offsets.toSeq).toDF(PID, "__graft_off")
    val w = Window.partitionBy(col(PID)).orderBy(order)
    try Frames.stage(
      parted
        .join(broadcast(offDf), PID)
        .withColumn(out,
          row_number().over(w).cast("long") - 1L + col("__graft_off"))
        .drop(PID, "__graft_off"))
    finally parted.unpersist(true)
  }

  /** 3-point stencil `f(x[-1], x[0], x[+1])` — radius-1 special case of
    * [[stencil]] (stencil_test1.jl:33 golden). */
  def stencil3(df: DataFrame, order: Column, value: Column, out: String,
               numPartitions: Int = 0)
              (f: (Column, Column, Column) => Column): DataFrame =
    stencil(df, order, value, out, radius = 1, numPartitions)(
      xs => f(xs(0), xs(1), xs(2)))

  /** Radius-r 1-D stencil: `f` receives the 2r+1 neighbor columns
    * `x[-r] .. x[0] .. x[+r]` of `value` in the global order of `order`
    * (the reference's arbitrary-offset `runStencil` lambda surface,
    * /root/reference/src/capture-api.jl:111-144). Rows within `radius`
    * of either global border copy the input, matching the reference's
    * `:oob_skip` rule (test/stencil_test1.jl:33, stencil_test2.jl
    * goldens).
    *
    * Distribution: same halo-exchange shape as the 3-point form, with a
    * radius-r halo — each partition ships its first/last r rows
    * (O(partitions·r) driver rows, the MPI_Isend/Irecv boundary
    * exchange of /root/reference/src/distributed-pass.jl:882-1001);
    * interior neighbors are per-partition codegen'd lag/lead windows,
    * boundary neighbors come from the broadcast halo arrays. A halo
    * spanning more than one upstream partition (partition smaller than
    * the radius) is stitched on the driver, so correctness does not
    * depend on partition sizes.
    */
  def stencil(df: DataFrame, order: Column, value: Column, out: String,
              radius: Int, numPartitions: Int = 0)
             (f: Seq[Column] => Column): DataFrame = {
    require(radius >= 1, "radius must be >= 1")
    val spark = df.sparkSession
    // Scale-adaptive width — see [[cumsum]]; the halo stitching makes
    // the stencil partitioning-independent by construction (borders
    // copy input, interior neighbors are the same values wherever the
    // partition boundary falls).
    val n = if (numPartitions > 0) numPartitions
            else Frames.loopWidth(df)
    val parted = df
      .repartitionByRange(n, order)
      .sortWithinPartitions(order)
      .withColumn(PID, spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    val vType = df.select(value).schema.head.dataType
    val wAsc = Window.partitionBy(col(PID)).orderBy(order)
    val wAll = Window.partitionBy(col(PID))
    val idx = row_number().over(wAsc)       // 1-based within partition
    val cnt = count(lit(1)).over(wAll)

    // Halo exchange: every partition's first and last `radius` rows to
    // the driver (2r rows per partition; rows 2r-collectives in HPAT).
    val edgeRows = parted
      .select(col(PID), order.as("__o"), value.as("__v"),
        idx.as("__ra"), cnt.as("__cnt"))
      .filter(col("__ra") <= radius || col("__ra") > col("__cnt") - radius)
      .collect()
    val byPid = edgeRows.groupBy(_.getInt(0)).map { case (pid, rows) =>
      val sorted = rows.sortBy(_.getInt(3))          // by __ra
      val cntP = rows.head.getLong(4)
      val head = sorted.filter(_.getInt(3) <= radius).map(_.get(2))
      val tail = sorted.filter(_.getInt(3) > cntP - radius).map(_.get(2))
      pid -> (head.toSeq, tail.toSeq)
    }
    val pids = byPid.keys.toSeq.sorted
    // prev halo of p = last r values of all earlier partitions (oldest
    // first, null-padded at the FRONT so element r is the row
    // immediately before the partition); next halo symmetric.
    val halo = pids.map { pid =>
      val prev = pids.filter(_ < pid).sorted.reverse
        .foldLeft(Seq.empty[Any]) { (acc, q) =>
          if (acc.size >= radius) acc else byPid(q)._2.takeRight(radius - acc.size) ++ acc
        }
      val next = pids.filter(_ > pid).sorted
        .foldLeft(Seq.empty[Any]) { (acc, q) =>
          if (acc.size >= radius) acc else acc ++ byPid(q)._1.take(radius - acc.size)
        }
      org.apache.spark.sql.Row(pid,
        Seq.fill(radius - prev.size)(null) ++ prev,
        next ++ Seq.fill(radius - next.size)(null))
    }
    val haloDf = spark.createDataFrame(
      spark.sparkContext.parallelize(halo, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(PID,
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__prev",
          org.apache.spark.sql.types.ArrayType(vType, containsNull = true)),
        org.apache.spark.sql.types.StructField("__next",
          org.apache.spark.sql.types.ArrayType(vType, containsNull = true)))))

    val nullV = lit(null).cast(vType)
    // x[-i]: interior rows read the per-partition lag; the first i rows
    // read halo slot r+idx-i (CASE branches are non-strict, so the
    // element_at never sees an out-of-range index).
    def lagCol(i: Int): Column =
      when(idx > i, lag(value, i).over(wAsc))
        .otherwise(when(lit(radius) + idx - lit(i) >= 1,
          element_at(col("__prev"), (lit(radius) + idx - lit(i)).cast("int")))
          .otherwise(nullV))
    def leadCol(i: Int): Column =
      when(idx + lit(i) <= cnt, lead(value, i).over(wAsc))
        .otherwise(when(idx + lit(i) - cnt <= radius,
          element_at(col("__next"), (idx + lit(i) - cnt).cast("int")))
          .otherwise(nullV))
    val neighbors: Seq[Column] =
      (radius to 1 by -1).map(lagCol) ++ Seq(value) ++ (1 to radius).map(leadCol)
    val anyOob = ((radius to 1 by -1).map(lagCol) ++ (1 to radius).map(leadCol))
      .map(_.isNull).reduce(_ || _)
    try Frames.stage(
      parted
        .join(broadcast(haloDf), PID)
        .withColumn(out, when(anyOob, value).otherwise(f(neighbors)))
        .drop(PID, "__prev", "__next"))
    finally parted.unpersist(true)
  }

  /** As-of join: for every left row, the single most recent right row of
    * the same `key` with right.`time` ≤ left.`time` (ties on time broken
    * by the payload struct's lexicographic order — put a unique id first
    * after `time` for determinism). A backward as-of join, the operator
    * Spark lacks natively (DuckDB: `ASOF JOIN`; the reference has no
    * analog — beyond-reference time-series surface).
    *
    * Built by composition, not a custom physical operator: union both
    * sides, one hash shuffle on `key`, one ordered window pass carrying
    * `last(right-payload, ignoreNulls)` — per-key linear merge, the same
    * plan shape a dedicated sort-merge as-of would produce. No range
    * cross-join blowup (never materializes candidate pairs), so it
    * survives 100 TB: cost = shuffle(left+right) + sort, like any SMJ.
    *
    * Matched right columns come back as `prefix<col>` (null where no
    * right row precedes — filter on `prefix<time>` IS NOT NULL for the
    * inner variant). `left` and `right` must both contain `key` and
    * `time` under the same names.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               payload: Seq[String], prefix: String = "asof_"): DataFrame = {
    val fields = (time +: payload).distinct
    val r = right.select(col(key), col(time),
      struct(fields.map(col): _*).as("__s"))
      .withColumn("__side", lit(0))
    val l = left.withColumn("__side", lit(1))
    val u = l.unionByName(r, allowMissingColumns = true)
    // Right rows sort before left rows at equal time → inclusive ≤.
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col("__side"), col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__s"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.toIndexedSeq.map(col) ++
        fields.map(f => col(s"__m.$f").as(s"$prefix$f")): _*)
  }

  /** As-of join with a maximum lookback `tolerance` (pandas
    * `merge_asof(tolerance=...)`): the latest right row at or before
    * the left time counts only if it is within `tolerance` time
    * units; staler matches drop the row (inner semantics). A
    * filter-after-match is equivalent to filtering candidates in the
    * join, because any older candidate is farther away still. */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: String,
                        time: String, payload: Seq[String],
                        tolerance: Long,
                        prefix: String = "asof_"): DataFrame = {
    require(tolerance > 0, "tolerance must be positive")
    asofJoin(left, right, key, time, payload, prefix)
      .filter(col(s"$prefix$time").isNotNull &&
        col(time) - col(s"$prefix$time") <= tolerance)
  }

  /** Range (interval) join: all (left, right) pairs of the same `key`
    * with |left.time − right.time| ≤ `delta`. Spark has no native range
    * join; the naive formulation (equi-join on key + range filter)
    * degenerates into a per-key cross product. Here the right side is
    * replicated to its time bucket ±1 (bucket width = delta) and the
    * join is a plain equi-join on (key, bucket) + exact range filter:
    * every qualifying pair is found exactly once, candidate blowup is
    * bounded by 3× the per-bucket density, and the plan is an ordinary
    * shuffled hash join — the shape that survives 100 TB.
    *
    * Right columns come back as `prefix<col>`.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String, time: String,
                delta: Long, payload: Seq[String],
                prefix: String = "r_"): DataFrame = {
    require(delta > 0, "delta must be positive")
    // Integer DIV, not floor(double /): at epoch-microsecond magnitudes
    // a double quotient can round across a bucket boundary. Times must
    // be non-negative (DIV truncates toward zero).
    val l = left.withColumn("__b", expr(s"`$time` DIV $delta"))
    val r = right.select(col(key).as("__rk"), col(time).as("__rt"),
        struct(payload.distinct.map(col): _*).as("__p"))
      .withColumn("__b", explode(array(
        expr(s"__rt DIV $delta") - 1,
        expr(s"__rt DIV $delta"),
        expr(s"__rt DIV $delta") + 1)))
    l.join(r, l(key) === r("__rk") && l("__b") === r("__b") &&
        abs(col(time) - col("__rt")) <= delta)
      .select(left.columns.toIndexedSeq.map(col) ++
        payload.distinct.map(p => col(s"__p.$p").as(s"$prefix$p")): _*)
  }

  /** Resample a keyed time series onto a fixed `step`-wide bucket grid
    * with forward-fill (LOCF — last observation carried forward, the
    * pandas `resample(...).last().ffill()` / time-series gap-fill
    * shape). Per key, buckets run from the key's first to its last
    * observation; a bucket's value is the latest observation inside it,
    * and empty buckets inherit the previous bucket's value. The first
    * bucket of every key contains an observation by construction, so
    * the output has no nulls.
    *
    * Scale shape: everything is keyed — per-bucket "last" is a
    * (key, bucket)-partitioned window, the grid is one groupBy(key)
    * min/max then a `sequence` explode (grid size = key's time span /
    * step, independent of observation count), and the fill is a single
    * (key)-partitioned ordered window. No global sort, no driver
    * round-trip; every stage shuffles on the key it aggregates, so the
    * plan survives arbitrary key counts. Dense grids (tiny `step` over
    * long spans) grow the OUTPUT, not the state: the fill window
    * streams each key's grid in order with O(1) carried state.
    *
    * Within a bucket, ties on `time` break by descending `value` so the
    * result is deterministic under shuffle-order changes. Times must be
    * non-negative (`DIV` truncates toward zero).
    */
  def resampleLocf(df: DataFrame, key: String, time: String, value: String,
                   step: Long, out: String = "bucket_start"): DataFrame = {
    require(step > 0, "step must be positive")
    val b = expr(s"`$time` DIV $step")
    val obsW = Window.partitionBy(col(key), col("__b"))
      .orderBy(col(time).desc, col(value).desc)
    val obs = df.select(col(key), col(time), col(value))
      .withColumn("__b", b)
      .withColumn("__rn", row_number().over(obsW))
      .filter(col("__rn") === 1)
      .select(col(key), col("__b"), col(value))
    val grid = df.select(col(key), b.as("__b"))
      .groupBy(col(key))
      .agg(min("__b").as("__b0"), max("__b").as("__b1"))
      .select(col(key), explode(sequence(col("__b0"), col("__b1"))).as("__b"))
    val fillW = Window.partitionBy(col(key)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq(key, "__b"), "left")
      .withColumn(value, last(col(value), ignoreNulls = true).over(fillW))
      .select(col(key), (col("__b") * step).as(out), col(value))
  }

  /** Resample a keyed time series onto exact grid instants (multiples
    * of `step`) by LINEAR INTERPOLATION between the surrounding
    * observations — the continuous-signal complement of
    * [[resampleLocf]]'s step-function fill. Grid points are limited to
    * each key's observed span (no extrapolation), so every output value
    * is defined: a grid instant that coincides with an observation
    * copies it exactly; one strictly between observations evaluates
    * `v0 + (v1 − v0) · (g − t0)/(t1 − t0)` — a fixed IEEE op sequence
    * on exactly-representable integer time deltas, so results are
    * bit-reproducible cross-engine. Duplicate observations at the same
    * (key, time) collapse to their max value first (deterministic under
    * shuffle order).
    *
    * Scale shape: one (key,time) hash aggregate, one groupBy(key)
    * span + `sequence` explode for the grid, then interpolation as TWO
    * passes of the same keyed ordered window (forward carrying the
    * previous observation, backward carrying the next) over the
    * obs+grid union — no self-join, no candidate pairs, state O(1) per
    * key position. Times must be non-negative.
    */
  def resampleInterp(df: DataFrame, key: String, time: String, value: String,
                     step: Long, out: String = "grid_ts"): DataFrame = {
    require(step > 0, "step must be positive")
    val obs = df.groupBy(col(key), col(time))
      .agg(max(col(value)).as("__v"))
      .select(col(key), col(time).as("__t"), col("__v"),
        lit(0).as("__side"))
    val grid = df.select(col(key), col(time))
      .groupBy(col(key))
      .agg(min(col(time)).as("__tmin"), max(col(time)).as("__tmax"))
      .select(col(key),
        expr(s"(__tmin + ${step - 1}) DIV $step").as("__b0"),
        expr(s"__tmax DIV $step").as("__b1"))
      .filter(col("__b0") <= col("__b1"))
      .select(col(key), explode(sequence(col("__b0"), col("__b1"))).as("__b"))
      .select(col(key), (col("__b") * step).as("__t"),
        lit(null).cast("double").as("__v"), lit(1).as("__side"))
    // Obs sort before grid at equal time in the forward pass (so an
    // exact-match grid point sees t0 == g), after it in the backward
    // pass (t1 > g strictly; irrelevant because the t0 == g branch
    // wins there).
    val fw = Window.partitionBy(col(key))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bw = Window.partitionBy(col(key))
      .orderBy(col("__t").desc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsStruct = when(col("__side") === 0,
      struct(col("__t"), col("__v")))
    obs.unionByName(grid)
      .withColumn("__p", last(obsStruct, ignoreNulls = true).over(fw))
      .withColumn("__n", last(obsStruct, ignoreNulls = true).over(bw))
      .filter(col("__side") === 1)
      .select(col(key), col("__t").as(out),
        when(col("__p.__t") === col("__t"), col("__p.__v"))
          .otherwise(col("__p.__v") +
            (col("__n.__v") - col("__p.__v")) *
            ((col("__t") - col("__p.__t")).cast("double") /
             (col("__n.__t") - col("__p.__t")).cast("double")))
          .as(value))
  }

  /** Per-key rolling aggregate over a trailing time range: for every
    * observation, the count and exact sum of values with time in
    * [t − lookback, t] for the same key (a time-based moving window —
    * RANGE frame, so it widens and narrows with event density rather
    * than a fixed row count, and ties on `time` are frame peers).
    *
    * Scale shape: one keyed window — shuffle on `key`, then a single
    * per-key ordered scan with the frame maintained incrementally;
    * no self-join, no candidate pairs, partition buffers spill to disk.
    * The sum runs in DECIMAL(18,2) and is cast back to double, so it is
    * order-independent and cross-engine exact.
    */
  def rollingRange(df: DataFrame, key: String, time: String, value: String,
                   lookback: Long, nOut: String = "n_window",
                   sumOut: String = "sum_window"): DataFrame = {
    require(lookback > 0, "lookback must be positive")
    val w = Window.partitionBy(col(key)).orderBy(col(time))
      .rangeBetween(-lookback, 0)
    df.select(col(key), col(time),
      count(lit(1)).over(w).as(nOut),
      sum(col(value).cast("decimal(18,2)")).over(w)
        .cast("double").as(sumOut))
  }
}
