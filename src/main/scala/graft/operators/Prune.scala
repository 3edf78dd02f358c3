package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit Bloom-filter join pruning — the scan-stage lever for
  * selective fact⋈dim joins that SHUFFLE the fact side: when the dim
  * side keeps few keys, most fact rows cross the exchange only to be
  * dropped by the join. A Bloom filter of the dim keys, baked into the
  * fact scan as a literal, drops (1−ε) of the non-matching rows BEFORE
  * the exchange, so the shuffle carries ~matches instead of ~|fact|.
  * False positives only ever ADD rows to the shuffle — the exact join
  * behind the filter keeps the result identical, so this composes with
  * any downstream operator unchanged.
  *
  * Break-even: a Bloom filter can only cut an exchange. When the dim
  * broadcasts, the hash join already drops non-matching fact rows in
  * the scan stage and no fact exchange exists, so the filter is pure
  * cost: a build job, three probes per fact row against the literal,
  * and, because constraint inference copies the filter across the join
  * equality, a probe of the dim scan too. Use `bloomPrefilter` only in
  * front of a join that shuffles the fact side (neither side within
  * `spark.sql.autoBroadcastJoinThreshold`, or a merge / shuffle_hash
  * hint); below that, plan the plain join.
  *
  * Engineering shape: both sides are pure codegen'd built-ins — the
  * build is one distinct-key aggregate folding (word, bit-mask) pairs
  * with `bit_or`, collected to a driver long array (m/64 longs — KiB
  * to MB, the point of a Bloom filter); the probe is k double-hashed
  * bit tests against that ARRAY LITERAL (`xxhash64` twice, k
  * derived probes), riding in the fact scan stage with predicate
  * pushdown intact. No custom expression, no UDF, nothing
  * non-deterministic.
  *
  * Where the filter is used, two costs remain: the probe that
  * constraint inference copies onto the dim scan (it drops nothing
  * there), and the literal itself, which every plan description prints
  * in full (16,384 words, ~170 KB of text per filter at the default
  * 2^20 bits) and the SQL status store keeps on the driver heap with
  * each execution's description.
  */
object Prune {

  /** A built filter: `numBits` is a power of two, `words` the packed
    * bit array, `numHashes` the probe count. */
  final case class BloomFilter(numBits: Int, numHashes: Int,
                               words: Array[Long])

  /** 2^i masks as an array literal — `shiftleft`'s Column form isn't
    * in the Scala functions API, and a 64-entry lookup codegens to the
    * same thing. */
  private val pow2 = lit(Array.tabulate(64)(i => 1L << i))

  private def probes(key: Column, numBits: Int,
                     numHashes: Int): Seq[Column] = {
    // Kirsch–Mitzenmacher double hashing: bit_i = h1 + i·h2 (mod m).
    // Both hashes reduce mod m BEFORE combining — raw xxhash64 values
    // sit near ±2^63 and the sum would overflow under ANSI mode.
    val m = lit(numBits.toLong)
    val h1 = pmod(xxhash64(key, lit(1)), m)
    val h2 = pmod(xxhash64(key, lit(2)), m)
    (0 until numHashes).map(i => pmod(h1 + lit(i.toLong) * h2, m))
  }

  /** Build a Bloom filter of `dim`'s (distinct) `key` values:
    * one aggregate over (word, mask) pairs, O(m/64) longs to the
    * driver. */
  def buildBloom(dim: DataFrame, key: Column, numBits: Int = 1 << 20,
                 numHashes: Int = 3): BloomFilter = {
    require(numBits > 0 && (numBits & (numBits - 1)) == 0,
      s"numBits must be a power of two, got $numBits")
    val bitCols = probes(key, numBits, numHashes)
    val words = dim
      .select(explode(array(bitCols: _*)).as("bit"))
      .select((col("bit") / 64L).cast("int").as("w"),
        element_at(pow2, (col("bit") % 64L).cast("int") + 1).as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("mask"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    BloomFilter(numBits, numHashes,
      Array.tabulate(numBits / 64)(w => words.getOrElse(w, 0L)))
  }

  /** Membership probe as a codegen'd Column over the baked-in filter:
    * true iff every probe bit is set (false positives possible, false
    * negatives impossible). */
  def mightContain(bloom: BloomFilter, key: Column): Column = {
    val wordsLit = lit(bloom.words)
    probes(key, bloom.numBits, bloom.numHashes).map { bit =>
      (element_at(wordsLit, (bit / 64L).cast("int") + 1)
        .bitwiseAND(element_at(pow2, (bit % 64L).cast("int") + 1)) =!= 0L)
    }.reduce(_ && _)
  }

  /** Prefilter `fact` on membership of `factKey` in a Bloom of
    * `dim`'s `dimKey` set. The result still requires the exact join —
    * this only cuts what reaches the exchange. */
  def bloomPrefilter(fact: DataFrame, factKey: Column,
                     dim: DataFrame, dimKey: Column,
                     numBits: Int = 1 << 20, numHashes: Int = 3): DataFrame =
    fact.filter(mightContain(buildBloom(dim, dimKey, numBits, numHashes),
      factKey))
}
