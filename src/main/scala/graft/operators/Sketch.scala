package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Engine-portable approximate count-distinct: a deterministic
  * HyperLogLog built from md5 — the "novel sketch as composed
  * relational ops" path. Spark's own `approx_count_distinct` is the
  * production choice, but its HLL++ register layout is opaque to any
  * other engine, so its output can never be oracle-checked; this
  * sketch computes the SAME estimate in any engine with md5 and
  * integer arithmetic (DuckDB mirror in the registry), which is what
  * makes a cross-engine differential of an *approximate* operator
  * possible at all.
  *
  * Scale shape: one aggregate tree, both levels partial-aggregable —
  * per-partition partial = max-of-rho per (group, bucket), merged by
  * max; the final per-group reduce sees ≤ 64 rows per group. The
  * shuffle carries (group, bucket, max_rho), never keys — constant
  * per-group state, the whole point of HLL at 100 TB.
  *
  * Determinism: every quantity until the final estimate is an exact
  * integer (bucket, rho, and the harmonic sum Σ 2^(64−M_j) scaled by
  * 2^64 so each term is an exact power-of-two integer summed in
  * DECIMAL(38,0) — never a float sum); the estimate itself is a fixed
  * IEEE op sequence on those integers, rounded to 3 dp.
  */
object Sketch {

  val B = 6
  val Buckets = 64 // 2^B
  /** Standard HLL bias constant alpha_64 (Flajolet et al. 2007). */
  val Alpha = 0.709

  private val Scale = new java.math.BigDecimal("18446744073709551616") // 2^64
  private val HexDigits = "0123456789abcdef"

  private def h(key: Column): Column = md5(key.cast("string"))

  /** Register index: low 6 of the first 8 hash bits. */
  def bucket(key: Column): Column =
    (conv(substring(h(key), 1, 2), 16, 10).cast("int") % Buckets).as("bucket")

  /** Rank: leading zeros + 1 within a 60-bit window after the bucket
    * byte (bin() emits no leading zeros in Spark or DuckDB, so rank =
    * 61 − bit-length; an all-zero window, whose bin() is "0", gives the
    * max rank 61). */
  def rho(key: Column): Column = {
    val v = conv(substring(h(key), 3, 15), 16, 10).cast("long")
    when(v === 0, 61).otherwise(lit(61) - length(bin(v))).cast("int")
  }

  /** Per-group approximate distinct count of `key` as column `out`
    * (plus the bucket-level plumbing this estimate derives from). */
  def approxCountDistinct(df: DataFrame, key: Column, out: String,
                          groupCols: Seq[Column]): DataFrame = {
    // A null key would register a null bucket: COUNT(*) would see it
    // but the null term would vanish from SUM, corrupting the
    // empty-bucket correction — drop nulls (COUNT DISTINCT semantics).
    val regs = df.filter(key.isNotNull)
      .groupBy(groupCols :+ bucket(key): _*)
      .agg(max(rho(key)).as("m"))
    val scaledTerm = pow(lit(2.0), lit(64) - col("m")).cast(DecimalType(38, 0))
    regs
      .groupBy(groupCols: _*)
      .agg(sum(scaledTerm).as("__present"),
        count(lit(1)).as("__nb"))
      .withColumn("__s",
        col("__present") +
          (lit(Buckets) - col("__nb")) * lit(Scale).cast(DecimalType(38, 0)))
      .withColumn("__raw",
        (lit(Alpha) * lit(Buckets.toDouble) * lit(Buckets.toDouble)) *
          lit(Scale).cast("double") / col("__s").cast("double"))
      .withColumn("__v", (lit(Buckets) - col("__nb")).cast("double"))
      // Flajolet small-range correction: below 2.5m with empty
      // registers, linear counting m·ln(m/V) replaces the raw
      // harmonic estimate (which is badly biased high there).
      .withColumn(out,
        round(when(col("__raw") <= lit(2.5 * Buckets) && col("__v") > 0.0,
          lit(Buckets.toDouble) *
            log(lit(Buckets.toDouble) / col("__v")))
          .otherwise(col("__raw")), 3))
      .drop("__present", "__nb", "__s", "__raw", "__v")
  }

  /** DuckDB mirror of [[bucket]]: first two hex digits mod 64. */
  def bucketSql(keyExpr: String): String = {
    val hx = s"md5(CAST($keyExpr AS VARCHAR))"
    s"(((strpos('$HexDigits', substring($hx, 1, 1)) - 1) * 16 + " +
      s"(strpos('$HexDigits', substring($hx, 2, 1)) - 1)) % $Buckets)"
  }

  /** DuckDB mirror of [[rho]]: 15-hex-digit window as a polynomial in
    * powers of 16 (DuckDB has no conv()), then 61 − bit-length. */
  def rhoSql(keyExpr: String): String = {
    val hx = s"md5(CAST($keyExpr AS VARCHAR))"
    val poly = (0 until 15).map { i =>
      val w = java.math.BigInteger.valueOf(16).pow(14 - i)
      s"(strpos('$HexDigits', substring($hx, ${3 + i}, 1)) - 1) * $w"
    }.mkString(" + ")
    s"(61 - length(ltrim(bin(CAST($poly AS BIGINT)), '0')))"
  }

  // ------------------------------------------------------ count-min sketch

  /** Count-min sketch (Cormode & Muthukrishnan 2005) with the same
    * engine-portability discipline as the HLL above: md5-derived
    * buckets and pure integer counters, so the *approximate* estimates
    * themselves hash-match a DuckDB mirror.
    *
    * Scale shape: the sketch is depth·width counter rows REGARDLESS of
    * corpus size — built by one partial-aggregable groupBy (map-side
    * combine collapses each task to ≤ depth·width cells before the
    * shuffle). Point estimates broadcast the sketch; the probe side
    * never shuffles. Estimates only ever overestimate (hash collisions
    * add), with error ≤ e·N/width at probability 1 − e^−depth.
    */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Row-r bucket: first 16 md5 bits of "r:key", mod width. */
  def cmsBucket(key: Column, r: Int, width: Int = CmsWidth): Column =
    conv(substring(md5(concat(lit(s"$r:"), key.cast("string"))), 1, 4), 16, 10)
      .cast("int") % width

  private def cmsAddressed(df: DataFrame, item: Column, depth: Int,
                           width: Int): DataFrame =
    df.filter(item.isNotNull)
      .select(item.as("__item"))
      .select(col("__item"), posexplode(array((0 until depth).map(r =>
        cmsBucket(col("__item"), r, width)): _*)).as(Seq("r", "b")))

  /** Build the (r, b, cnt) counter table from an item column. */
  def cmsSketch(df: DataFrame, item: Column, depth: Int = CmsDepth,
                width: Int = CmsWidth): DataFrame =
    cmsAddressed(df, item, depth, width)
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Estimated count per distinct probe item: min over the depth rows
    * of the addressed counters (0 if an addressed cell is empty). */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
                  item: Column, depth: Int = CmsDepth,
                  width: Int = CmsWidth): DataFrame =
    cmsAddressed(probes, item, depth, width)
      .join(broadcast(sketch), Seq("r", "b"), "left")
      .groupBy(col("__item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** DuckDB mirror of [[cmsBucket]]; `rExpr` is an integer column. */
  def cmsBucketSql(keyExpr: String, rExpr: String,
                   width: Int = CmsWidth): String = {
    val hx =
      s"md5(CAST($rExpr AS VARCHAR) || ':' || CAST($keyExpr AS VARCHAR))"
    val poly = (0 until 4).map { i =>
      val w = math.pow(16, 3 - i).toLong
      s"(strpos('$HexDigits', substring($hx, ${1 + i}, 1)) - 1) * $w"
    }.mkString(" + ")
    s"(($poly) % $width)"
  }

  /** DuckDB mirror of the full per-group estimate; `groupExpr` must be
    * a single column name. */
  def estimateSql(table: String, keyExpr: String, groupExpr: String,
                  out: String): String =
    s"""WITH regs AS (
       | SELECT $groupExpr, ${bucketSql(keyExpr)} AS bucket,
       |  MAX(${rhoSql(keyExpr)}) AS m
       | FROM $table WHERE $keyExpr IS NOT NULL GROUP BY 1, 2),
       |sums AS (
       | SELECT $groupExpr,
       |  SUM(CAST(POWER(2, 64 - m) AS DECIMAL(38,0)))
       |    + ($Buckets - COUNT(*)) * CAST('$Scale' AS DECIMAL(38,0)) AS s,
       |  CAST($Buckets - COUNT(*) AS DOUBLE) AS v
       | FROM regs GROUP BY 1),
       |est AS (
       | SELECT $groupExpr,
       |  CAST(0.709 AS DOUBLE) * CAST(64 AS DOUBLE) * CAST(64 AS DOUBLE)
       |   * CAST('$Scale' AS DECIMAL(38,0))::DOUBLE / CAST(s AS DOUBLE)
       |   AS raw, v
       | FROM sums)
       |SELECT $groupExpr,
       | ROUND(CASE WHEN raw <= CAST(${2.5 * Buckets} AS DOUBLE) AND v > 0
       |   THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v)
       |   ELSE raw END, 3) AS $out
       |FROM est""".stripMargin
}
