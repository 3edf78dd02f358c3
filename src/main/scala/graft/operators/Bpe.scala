package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Text

/** Byte-pair-encoding vocabulary learning over a corpus — the step
  * that turns a cleaned corpus into a tokenizer. Beyond-reference
  * surface (the reference has no string processing).
  *
  * Scale shape — the standard trick that makes corpus-scale BPE
  * tractable: ONE pass aggregates the corpus to its word vocabulary
  * with counts (vocab ≪ corpus; Zipf makes this thousands of rows per
  * language, not billions), and every merge iteration then works on
  * the weighted vocab only — cost O(|vocab| · word-length) per step,
  * INDEPENDENT of corpus size. Per iteration: one aggregate shuffle
  * of (pair, weight) rows and a single-row driver argmax (the merge
  * decision is inherently sequential — each step conditions on the
  * last; HPAT's iterative kernels make the same per-step driver
  * round-trip for convergence scalars).
  *
  * The in-word merge is a greedy left-to-right fold (`aggregate` HOF):
  * non-overlapping occurrences merge in one pass, matching standard
  * BPE ("aaa" + (a,a) → ["aa","a"]). Ties on pair frequency break
  * lexicographically, so learning is fully deterministic.
  */
object Bpe {

  /** Greedy non-overlapping merge of adjacent (a, b) into a+b — the
    * native codegen'd kernel ([[graft.functions.MergeAdjacentPair]]):
    * one linear pass per word instead of the HOF fold's O(len²)
    * accumulator copies. */
  private[graft] def mergePair(sym: Column, a: String, b: String): Column =
    graft.functions.MergeAdjacentPair.merge(sym, a, b)

  /** The `aggregate`-HOF formulation of the same merge — kept as the
    * independent differential reference for the native kernel
    * (BpeSpec proves them identical on random data). */
  private[graft] def mergePairHof(sym: Column, a: String,
                                  b: String): Column =
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
        element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Re-materialization cadence for [[learnMerges]]: merges since the
    * last materialized vocab ride as a LAZY chain of native merge
    * kernels on top of it (each is one linear in-stage pass per word —
    * no shuffle, no action), so a step costs ONE Spark job (the pair
    * argmax) instead of two (argmax + vocab persist). The chain is
    * collapsed into a fresh staged vocab every `RematEvery`
    * merges, bounding both the per-step kernel depth (≤ RematEvery
    * re-applied merges over the vocab — in-stage work, ≪ one job's
    * fixed cost) and the codegen'd expression size. */
  private val RematEvery = 8

  /** Learn `k` merges from the corpus' text column. Returns the merge
    * table (step, left, right, weight) — the tokenizer's merge list
    * in learned order. */
  def learnMerges(docs: DataFrame, text: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = docs.sparkSession
    // one corpus pass: word vocabulary with counts, words as char syms
    val vocab0 = docs
      .select(explode(Text.tokens(col(text))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(split(col("w"), "").as("sym"), col("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vocab0.count()

    var base = vocab0                      // last materialized vocab
    // vocab0 is cached; every later base is staged
    def releaseBase(): Unit =
      if (base eq vocab0) vocab0.unpersist(true) else Frames.free(base)
    var pending = Vector.empty[(String, String)] // merges applied lazily
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to k) {
      val top = base
        .select(col("n"),
          explode(Text.shinglesOfTokens(
            applyMerges(col("sym"), pending), 2)).as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("w"))
        .orderBy(col("w").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        val weight = top(0).getLong(1)
        merges += ((step, a, b, weight))
        pending = pending :+ ((a, b))
        if (pending.size >= RematEvery && step < k) {
          val next = Frames.stage(
            base.select(applyMerges(col("sym"), pending).as("sym"),
              col("n")))
          // The first rematerialization supersedes vocab0 as the base:
          // drop its blocks NOW instead of at loop end, so peak
          // storage holds one vocab, not the char-level one alongside
          // every later staged base (ADVICE r7).
          releaseBase()
          base = next
          pending = Vector.empty
        }
      }
    }
    releaseBase()
    val out = merges.result()
    spark.createDataFrame(out).toDF("step", "left", "right", "weight")
  }

  /** Apply a FIXED merge list (the learned tokenizer artifact) to a
    * symbol-array column, in learned order — the encode half of the
    * tokenizer. Each merge is one native codegen'd
    * [[graft.functions.MergeAdjacentPair]] pass, so a k-merge
    * tokenizer is k chained linear kernels fused into the scan stage:
    * encoding 100 TB is one pass, no shuffle, no state. */
  def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (c, (a, b)) => mergePair(c, a, b) }

  /** Doc-level encode: whitespace words → characters → merge chain,
    * flattened back to one token array per document. */
  def encodeColumn(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(Text.tokens(text),
      w => applyMerges(split(w, ""), merges)))
}
