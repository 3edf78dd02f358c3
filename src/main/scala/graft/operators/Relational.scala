package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast => sparkBroadcast, _}

/** HPAT-parity relational surface, re-expressed as a thin wrapper over
  * `DataFrame` so every operator stays a declarative Catalyst plan
  * (predicate pushdown, column pruning, join selection, partial
  * aggregation and AQE all apply unchanged).
  *
  * Reference semantics covered (citations into `/root/reference/`):
  *  - filter `t[cond]`            — capture-api.jl:208-272 (single compaction
  *    pass, no communication) → `DataFrame.filter`, which Spark executes as a
  *    narrow codegen'd stage, same communication profile.
  *  - join `join(t1,t2,:a==:b,:k)`— capture-api.jl:286-378: inner equi-join,
  *    single key, duplicate keys yield the full cross-product of matches
  *    (test/join_test1.jl:35-36), output schema = [kout; rest(t1); rest(t2)]
  *    with the key emitted once. HPAT's physical plan is hash-partition +
  *    alltoallv + timsort + merge (cgen-hpat-pattern-match-table.jl:139-472)
  *    — exactly Spark's SortMergeJoin; Catalyst additionally picks
  *    BroadcastHashJoin when one side is small (HPAT has no broadcast join).
  *  - aggregate `aggregate(t,:k,:o=f(e))` — capture-api.jl:387-479 with
  *    f ∈ {sum, length, maximum, length∘unique}; physical plan is
  *    partial/final hash aggregation (cgen-hpat-pattern-match-table.jl:535-659)
  *    — Spark's HashAggregateExec partial→final, identical topology.
  *  - vcat `[t1; t2]`             — capture-api.jl:146-184, schemas must match.
  *  - sort/limit                  — declared surface only in the reference
  *    (examples/queries_devel/query_syntax.txt, q25.jl:25); first-class here.
  */
final case class Table(df: DataFrame) {

  /** `t2 = t1[cond]` — reference capture-api.jl:208-272. */
  def filter(cond: Column): Table = Table(df.filter(cond))

  /** `t3 = join(t1, t2, :k1==:k2, :kout)` — inner equi-join with the key
    * coalesced into a single output column named `outKey`.
    * Reference: capture-api.jl:286-378 (schema at 322-333).
    */
  def join(other: Table, leftKey: String, rightKey: String, outKey: String): Table =
    join(other, Seq(leftKey), Seq(rightKey), Seq(outKey))

  /** Composite-key inner equi-join — the reference stops at one key
    * column (capture-api.jl:293 asserts a single `:k1==:k2`); real
    * schemas hit composite keys immediately and Spark gives them for
    * free, so the DSL takes N keys and coalesces each pair into one
    * output column. Same dup-key cross-product and schema-ordering
    * semantics as the single-key form. */
  def join(other: Table, leftKeys: Seq[String], rightKeys: Seq[String],
           outKeys: Seq[String]): Table =
    Table(joinImpl(other, leftKeys, rightKeys, outKeys, broadcastRight = false))

  private def joinImpl(other: Table, leftKeys: Seq[String],
                       rightKeys: Seq[String], outKeys: Seq[String],
                       broadcastRight: Boolean): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size &&
      leftKeys.size == outKeys.size,
      "join needs equally many left, right and output key names")
    val l = df.alias("l")
    val r0 = other.df.alias("r")
    val r = if (broadcastRight) sparkBroadcast(r0) else r0
    val cond = leftKeys.zip(rightKeys)
      .map { case (lk, rk) => col(s"l.$lk") === col(s"r.$rk") }
      .reduce(_ && _)
    val joined = rightKeys.foldLeft(l.join(r, cond, "inner")) {
      (d0, rk) => d0.drop(col(s"r.$rk")) }
    leftKeys.zip(outKeys).foldLeft(joined) { case (d0, (lk, ok)) =>
      if (lk == ok) d0 else d0.withColumnRenamed(lk, ok) }
  }

  /** Left/right/full outer equi-join with each key pair coalesced into
    * one output column (ANSI `USING` semantics: the key survives from
    * whichever side matched). The reference's join is inner-only
    * (capture-api.jl:286-378); outer variants are free in Spark — same
    * shuffled hash/merge join, null-extended rows — and unavoidable in
    * real schemas. Output schema: coalesced keys first, then left
    * payload, then right payload (null-extended where unmatched). */
  def joinOuter(other: Table, leftKeys: Seq[String], rightKeys: Seq[String],
                outKeys: Seq[String], how: String = "left"): Table = {
    require(Set("left", "right", "full")(how),
      s"joinOuter supports left/right/full, got $how")
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size &&
      leftKeys.size == outKeys.size,
      "join needs equally many left, right and output key names")
    val l = df.alias("l")
    val r = other.df.alias("r")
    val cond = leftKeys.zip(rightKeys)
      .map { case (lk, rk) => col(s"l.$lk") === col(s"r.$rk") }
      .reduce(_ && _)
    val keyCols = leftKeys.zip(rightKeys).zip(outKeys).map {
      case ((lk, rk), ok) => coalesce(col(s"l.$lk"), col(s"r.$rk")).as(ok)
    }
    val lRest = df.columns.filterNot(leftKeys.contains)
      .map(c => col(s"l.$c"))
    val rRest = other.df.columns.filterNot(rightKeys.contains)
      .map(c => col(s"r.$c"))
    Table(l.join(r, cond, how).select(keyCols ++ lRest ++ rRest: _*))
  }

  def joinOuter(other: Table, key: String, how: String): Table =
    joinOuter(other, Seq(key), Seq(key), Seq(key), how)

  /** Broadcast variant for small dimension tables: same semantics as
    * `join`, but hints Catalyst to replicate `other` to every executor —
    * the shuffle-free plan HPAT cannot express (its benchmark scripts
    * force Spark's broadcast join OFF to compare like-for-like,
    * examples/queries_devel/q26/run-query.sh:63).
    */
  def joinBroadcast(other: Table, leftKey: String, rightKey: String, outKey: String): Table =
    joinBroadcast(other, Seq(leftKey), Seq(rightKey), Seq(outKey))

  /** Composite-key broadcast join — see [[join(other:graft\.operators\.Table,leftKeys:Seq[String],rightKeys:Seq[String],outKeys:Seq[String])* join]]. */
  def joinBroadcast(other: Table, leftKeys: Seq[String],
                    rightKeys: Seq[String], outKeys: Seq[String]): Table =
    Table(joinImpl(other, leftKeys, rightKeys, outKeys, broadcastRight = true))

  /** `t2 = aggregate(t1, :kout = :key, :out1 = f1(e1), ...)` —
    * reference capture-api.jl:387-493 (key rename at 481-493).
    * Aggs are (outputName, aggregate Column) pairs built with [[Agg]].
    */
  def aggregate(key: String, outKey: String, aggs: (String, Column)*): Table =
    aggregate(Seq(key), Seq(outKey), aggs: _*)

  def aggregate(key: String, aggs: (String, Column)*): Table =
    aggregate(key, key, aggs: _*)

  /** Composite-key aggregate — the reference takes exactly one group
    * key (capture-api.jl:387-399); N keys are free in Spark (one hash
    * aggregate, keys renamed in place). */
  def aggregate(keys: Seq[String], outKeys: Seq[String],
                aggs: (String, Column)*): Table = {
    require(keys.nonEmpty && keys.size == outKeys.size,
      "aggregate needs equally many keys and output key names")
    val exprs = aggs.map { case (name, c) => c.as(name) }
    val groupCols = keys.zip(outKeys).map { case (k, o) => col(k).as(o) }
    Table(df.groupBy(groupCols: _*).agg(exprs.head, exprs.tail: _*))
  }

  /** Hierarchical subtotal aggregate (ROLLUP) — the grouping-sets class
    * the reference lists as unsupported (SURVEY §2.5); free in Spark
    * (one shuffle, grouping sets expanded map-side). Subtotal rows carry
    * null keys, ANSI-style. */
  def rollup(keys: Seq[String], aggs: (String, Column)*): Table = {
    val exprs = aggs.map { case (name, c) => c.as(name) }
    Table(df.rollup(keys.map(col): _*).agg(exprs.head, exprs.tail: _*))
  }

  /** Salted equi-join for known-skewed keys: probe rows scatter across
    * `factor` salts (deterministic hash of the whole row), the build
    * side replicates each row to all salts, and the join key becomes
    * (key, salt) — one hot key spreads over `factor` tasks instead of
    * serializing on one. Same result set as [[join]]; AQE's runtime
    * skew split covers the dynamic cases, this is the static knob.
    */
  def joinSalted(other: Table, leftKey: String, rightKey: String,
                 outKey: String, factor: Int = 8): Table = {
    val lCols = df.columns
    val l = df.withColumn("__salt",
      pmod(hash(lCols.toIndexedSeq.map(col): _*), lit(factor))).alias("l")
    val r = other.df.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1)))).alias("r")
    val joined = l.join(r,
        col(s"l.$leftKey") === col(s"r.$rightKey") &&
          col("l.__salt") === col("r.__salt"), "inner")
      .drop(col(s"r.$rightKey")).drop("__salt")
    val out =
      if (leftKey == outKey) joined
      else joined.withColumnRenamed(leftKey, outKey)
    Table(out)
  }

  /** `[t1; t2]` union-all; schemas must match exactly
    * (reference capture-api.jl:146-184 asserts this).
    */
  def vcat(other: Table): Table = {
    require(df.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      other.df.schema.fields.map(f => (f.name, f.dataType))),
      s"vcat schema mismatch: ${df.schema.simpleString} vs ${other.df.schema.simpleString}")
    Table(df.unionByName(other.df))
  }

  /** Melt (ANSI UNPIVOT): wide measure columns to (variable, value)
    * rows — the inverse of pivot, and the shape feature pipelines want
    * before a per-metric aggregate. Narrow (row-local explode in the
    * scan stage, no shuffle); values are cast to the common unpivot
    * type by Spark's own least-common-type rule. */
  def melt(ids: Seq[String], values: Seq[String],
           variableName: String = "variable",
           valueName: String = "value"): Table =
    Table(df.unpivot(ids.map(col).toArray, values.map(col).toArray,
      variableName, valueName))

  /** Set intersection (distinct semantics, SQL INTERSECT) — absent in
    * the reference (SURVEY §2.6), free in Spark. Schemas must match
    * like [[vcat]]. */
  def intersect(other: Table): Table = {
    requireSameSchema(other, "intersect")
    Table(df.intersect(other.df))
  }

  /** Set difference (distinct semantics, SQL EXCEPT). */
  def except(other: Table): Table = {
    requireSameSchema(other, "except")
    Table(df.except(other.df))
  }

  private def requireSameSchema(other: Table, op: String): Unit =
    require(df.schema.fields.map(f => (f.name, f.dataType)).sameElements(
      other.df.schema.fields.map(f => (f.name, f.dataType))),
      s"$op schema mismatch: ${df.schema.simpleString} vs ${other.df.schema.simpleString}")

  /** Declared-surface sort (reference examples/queries_devel/q25.jl:25). */
  def sort(cols: Column*): Table = Table(df.orderBy(cols: _*))

  /** Declared-surface limit / top-k (reference q02.jl:48-49). */
  def limit(n: Int): Table = Table(df.limit(n))

  def select(cols: Column*): Table = Table(df.select(cols: _*))

  /** Derived column — declared but unimplemented in the reference
    * (capture-api.jl:55-56 TODO); trivial on Spark. */
  def withColumn(name: String, c: Column): Table = Table(df.withColumn(name, c))

  /** Column rename `t[:new = :old]` — declared surface only
    * (examples/queries_devel/query_syntax.txt:19-24). */
  def rename(from: String, to: String): Table =
    Table(df.withColumnRenamed(from, to))

  /** Checkpoint passthrough (reference's hpat_checkpoint pass,
    * src/HPAT.jl:246-260, rebuilt on lineage + reliable checkpoint). */
  def checkpoint(eager: Boolean = true): Table = Table(df.checkpoint(eager))

  /** Checkpoint only when the iterative job has run longer than the
    * optimal checkpoint interval for the cluster's fault rate —
    * Young's formula, exactly the reference's policy
    * (src/checkpoint.jl:179,200: interval = sqrt(2 · checkpoint_cost ·
    * system_mttf)). `elapsed`/`checkpointCost`/`systemMttf` in the
    * same time unit; systemMttf = single-node MTTF / node count. */
  def checkpointIfDue(elapsed: Double, checkpointCost: Double,
                      systemMttf: Double): Table =
    if (elapsed > Table.youngInterval(checkpointCost, systemMttf))
      checkpoint()
    else this

  /** `IN`-list predicate — declared surface
    * (examples/queries_devel/q01.jl:20). */
  def filterIn(c: String, values: Seq[Any]): Table =
    Table(df.filter(col(c).isin(values: _*)))
}

object Table {
  /** Young's optimal checkpoint interval: sqrt(2 · checkpoint_cost ·
    * system_mttf) — the reference's checkpointing policy
    * (src/checkpoint.jl:179). */
  def youngInterval(checkpointCost: Double, systemMttf: Double): Double = {
    require(checkpointCost > 0 && systemMttf > 0,
      "checkpoint cost and MTTF must be positive")
    math.sqrt(2.0 * checkpointCost * systemMttf)
  }
}

/** Order statistics that scale when group keys are low-cardinality. */
object Stats {
  import org.apache.spark.sql.expressions.Window

  /** Exact per-group median by histogram rank selection: collapse to
    * the per-group VALUE HISTOGRAM with a partial-aggregated hash
    * groupBy (shuffle carries |distinct values| rows — a row-level
    * window would sort each whole group in ONE partition), then pick
    * the sorted-multiset values at ranks (n+1)/2 and (n+2)/2 from the
    * tiny cumulative histogram. The value is double-counted when both
    * ranks land on it (odd n), so median = picked-sum / 2. Pass a
    * decimal `value` for engine-exact arithmetic; output
    * (grp, median: double).
    *
    * CONTRACT: the value column must be DISCRETE (bounded distinct
    * values per group — l_quantity-like). On a continuous column the
    * "histogram" is the whole group and the cumulative window becomes a
    * per-group single-partition sort; use [[quantileByGroup]] (range
    * refinement, continuous-safe) for those. */
  def medianByGroup(df: DataFrame, grp: String, value: Column): DataFrame = {
    val hit = (k: Column) => when(
      col("__cum") - col("__cnt") < k && k <= col("__cum"), 1).otherwise(0)
    histogram(df, grp, value)
      .withColumn("picks",
        hit(expr("(__n + 1) DIV 2")) + hit(expr("(__n + 2) DIV 2")))
      .filter(col("picks") > 0)
      .groupBy(col(grp))
      .agg((sum(col("__v") * col("picks")).cast("double") / 2).as("median"))
  }

  /** Exact type-1 per-group quantile (no interpolation — the
    * sorted-multiset value at rank ceil(p·n), computed as integer rank
    * (p·1000·n + 999) DIV 1000 so both engines derive the identical
    * rank). `permille` ∈ (0,1000] (900 = P90). Output (grp, quantile).
    *
    * Continuous-safe by TWO-PASS RANGE REFINEMENT — never sorts a whole
    * group anywhere:
    *  1. one aggregate scan gets each group's (min, max, n, target rank);
    *  2. rows land in `buckets` fixed-width range buckets; a per-(group,
    *     bucket) count aggregate (shuffle ≤ |groups|·buckets rows) plus a
    *     cumulative window over ≤ `buckets` rows/group locates the single
    *     bucket holding the target rank;
    *  3. exact rank selection runs only among that bucket's values —
    *     ~n/buckets of them (4096 buckets turn a 10⁹-row group into a
    *     ~10⁵-value selection; nest another level before believing a
    *     bigger group needs it).
    * Bucket boundaries are computed in double — FP wobble is harmless
    * because the assignment expression is identical in both passes and
    * exactness comes from the final rank selection, not the boundaries.
    * Every window in the plan runs over aggregated histograms, never raw
    * rows (asserted in PlanQualitySpec). */
  def quantileByGroup(df: DataFrame, grp: String, value: Column,
                      permille: Int, buckets: Int = 4096): DataFrame =
    quantilesByGroup(df, grp, value, Seq(permille), buckets)
      .select(col(grp), col("quantile"))

  /** Several exact per-group quantiles in ONE set of passes — the
    * fact-table work (stats aggregate, bucket-count aggregate, winning-
    * bucket selection) is identical for every requested rank, so
    * asking for [p05, p95] (winsorize) or a whole ladder costs the
    * same scans as one quantile; only the tiny per-(group, bucket)
    * histogram is crossed with the rank list. Output
    * (grp, permille, quantile) — same type-1 rank convention as
    * [[quantileByGroup]]. */
  def quantilesByGroup(df: DataFrame, grp: String, value: Column,
                       permilles: Seq[Int],
                       buckets: Int = 4096): DataFrame = {
    require(permilles.nonEmpty &&
      permilles.forall(p => p > 0 && p <= 1000),
      "permilles in (0, 1000]")
    require(permilles.distinct.size == permilles.size,
      "duplicate permilles")
    val base = df.select(col(grp), value.as("__v"))
    val stats = base.groupBy(col(grp)).agg(
      min(col("__v")).as("__lo"), max(col("__v")).as("__hi"),
      count(lit(1)).as("__n"))
    // one (group, permille, target-rank) row per requested rank —
    // |groups|·|permilles| rows, the only place the rank list appears
    val ranks = stats
      .withColumn("permille",
        explode(array(permilles.map(lit(_)): _*)))
      .select(col(grp), col("permille"),
        expr("(permille * __n + 999) DIV 1000").as("__k"))
    val bidx = when(col("__hi") <= col("__lo"), lit(0)).otherwise(
      least(greatest(
        floor((col("__v") - col("__lo")).cast("double") /
          ((col("__hi") - col("__lo")).cast("double") / buckets)),
        lit(0L)), lit((buckets - 1).toLong))).cast("int")
    val bucketed = base.join(sparkBroadcast(stats), grp)
      .withColumn("__b", bidx)
    val bw = Window.partitionBy(col(grp)).orderBy(col("__b"))
    val winners = bucketed.groupBy(col(grp), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__before", sum(col("__c")).over(bw) - col("__c"))
      .join(ranks, grp) // histogram × rank list: both tiny
      .filter(col("__before") < col("__k") &&
        col("__k") <= col("__before") + col("__c"))
      .select(col(grp), col("permille"), col("__b").as("__wb"),
        (col("__k") - col("__before")).as("__lk"))
    val vw = Window.partitionBy(col(grp), col("permille"))
      .orderBy(col("__v"))
    bucketed.join(sparkBroadcast(winners), grp)
      .filter(col("__b") === col("__wb"))
      .groupBy(col(grp), col("permille"), col("__v"))
      .agg(count(lit(1)).as("__c"), first(col("__lk")).as("__lk"))
      .withColumn("__cum", sum(col("__c")).over(vw))
      .filter(col("__cum") - col("__c") < col("__lk") &&
        col("__lk") <= col("__cum"))
      .select(col(grp), col("permille"),
        col("__v").cast("double").as("quantile"))
  }

  /** (grp, value, cnt, cum, n) — the per-group cumulative value
    * histogram both rank statistics select from. */
  private def histogram(df: DataFrame, grp: String, value: Column): DataFrame = {
    val cw = Window.partitionBy(col(grp)).orderBy(col("__v"))
    val nw = Window.partitionBy(col(grp))
    df.select(col(grp), value.as("__v"))
      .groupBy(col(grp), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__cum", sum(col("__cnt")).over(cw))
      .withColumn("__n", sum(col("__cnt")).over(nw))
  }
}

/** Aggregate-function surface of the reference's `aggregate(...)`:
  * sum / length(count) / maximum / length(unique(...)), over arbitrary
  * element-wise expressions (capture-api.jl:387-479).
  */
object Agg {
  /** `sum(expr)`; HPAT sums booleans as ints (`sum(:c==3)`,
    * test/q26_test.jl:69-84) — pass boolean Columns through [[countIf]]
    * or cast explicitly. */
  def sum(e: Column): Column = org.apache.spark.sql.functions.sum(e)

  /** HPAT `sum(bool_expr)` — conditional count. */
  def countIf(cond: Column): Column =
    org.apache.spark.sql.functions.sum(cond.cast("long"))

  /** `length(t)` — group row count. */
  def length(): Column = count(lit(1))

  /** `maximum(expr)`. */
  def maximum(e: Column): Column = max(e)

  /** `minimum(expr)` — trivially symmetric to maximum (SURVEY §2.5). */
  def minimum(e: Column): Column = min(e)

  /** `length(unique(expr))` — EXACT distinct count
    * (reference cgen-hpat-pattern-match-table.jl:665-684 uses an exact
    * unordered_set; `approx_count_distinct` would not be parity). */
  def lengthUnique(e: Column): Column = countDistinct(e)

  /** `collect(expr)` — list aggregation (devel surface,
    * reference examples/queries_devel/q01.jl:23, q02.jl:40). Emitted
    * sorted + distinct so the result is a deterministic set literal
    * (collect_list order is partition-dependent and engines would never
    * hash-agree on it). */
  def collectSorted(e: Column): Column = sort_array(collect_set(e))
}
