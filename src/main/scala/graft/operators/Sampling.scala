package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling and dataset splitting.
  *
  * Training-data pipelines need samples and holdout splits that are
  * (a) reproducible across runs and engines, (b) stable under
  * repartitioning, and (c) derivable per-row with no global state —
  * `DataFrame.sample`'s partition-seeded RNG gives none of these (the
  * sample changes with the partition layout). Hashing a stable key and
  * thresholding the hash gives all three: membership is a pure function
  * of the row key.
  *
  * The hash is the first 4 hex chars of md5 (16 bits), compared as a
  * string — lowercase hex compares identically in every engine, so the
  * DuckDB oracle reproduces the exact sample. Rates are expressed in
  * 1/65536 units. Codegen'd expressions end to end; at 100 TB the
  * sample predicate rides inside the scan stage.
  */
object Sampling {

  private def prefix(key: Column): Column =
    substring(md5(key.cast("string")), 1, 4)

  private def hex4(n: Int): String = f"$n%04x"

  /** Membership predicate `hash(key) < num/65536`. num==65536 must be
    * special-cased: hex4(65536)="10000" (5 chars) and a lexicographic
    * compare of 4-char prefixes against it would keep only prefixes
    * starting with '0'. */
  private def below(key: Column, num: Int): Column =
    if (num >= 65536) lit(true) else prefix(key) < lit(hex4(num))

  /** Keep rows whose key hashes below `num`/65536 (deterministic,
    * engine-portable Bernoulli-style sample); num=65536 keeps all rows. */
  def hashSample(df: DataFrame, key: Column, num: Int): DataFrame = {
    require(num >= 0 && num <= 65536, "rate numerator out of range")
    df.filter(below(key, num))
  }

  /** Assign each row a deterministic split label by hash range:
    * `cuts` are cumulative 1/65536 thresholds, e.g.
    * Seq(("test", 6554), ("val", 13108)) → ~10% test, ~10% val,
    * remainder `defaultLabel`. */
  def splitColumn(key: Column, cuts: Seq[(String, Int)],
                  defaultLabel: String = "train"): Column = {
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must ascend")
    require(cuts.forall(c => c._2 >= 0 && c._2 <= 65536), "cut out of range")
    cuts.foldRight(lit(defaultLabel): Column) { case ((label, cut), rest) =>
      when(below(key, cut), lit(label)).otherwise(rest)
    }
  }

  /** Leakage-safe split: assign the split label from the hash of the
    * GROUP's representative (min id within `group`), not the row's own
    * id, so every member of a duplicate/near-duplicate group lands in
    * the same split. Row-hash splitting silently leaks: two copies of
    * the same document hash independently, and ~2·p·(1−p) of each dup
    * group straddles train/holdout — the held-out "unseen" documents
    * were trained on verbatim. Keying the gate on one representative
    * per group makes straddling structurally impossible (the law
    * [[graft.SamplingSpec]] asserts: zero groups with >1 distinct
    * split).
    *
    * Scale shape: the representative comes from `groupBy(group)
    * .agg(min(id))` joined back on the group key — a TRUE partial
    * aggregate (map-side combine shrinks every partition to its
    * per-group minima before the exchange), then one group-keyed
    * join. The earlier window formulation (`min(id) over partition by
    * group`) computed the same values but Spark's unbounded-frame
    * window does NO map-side partial aggregation: every member of a
    * group materializes in one task's sort buffer, so a single
    * pathological dup group — millions of identical boilerplate docs
    * sharing a fingerprint, exactly the population this operator
    * exists for — funneled through one task. The aggregate form's
    * per-task state is one (group, min) pair per distinct group.
    * Null-safe join key: a null group is one group, as the window
    * form treated it. The gate itself is the same codegen'd
    * md5-prefix compare as [[splitColumn]]; nothing is driver-side. */
  def groupSafeSplit(df: DataFrame, id: Column, group: Column,
                     cuts: Seq[(String, Int)],
                     defaultLabel: String = "train",
                     splitCol: String = "split"): DataFrame = {
    val reps = df.groupBy(group.as("__gss_g"))
      .agg(min(id).as("__gss_rep"))
    df.join(reps, group <=> col("__gss_g"))
      .withColumn(splitCol, splitColumn(col("__gss_rep"), cuts, defaultLabel))
      .drop("__gss_g", "__gss_rep")
  }

  /** Per-stratum deterministic sampling — the corpus-mixing primitive:
    * each stratum (source, language, quality band …) keeps rows at its
    * own `rates` numerator (1/65536 units); strata absent from `rates`
    * keep at `defaultNum` (0 = drop). Still a pure per-row codegen'd
    * predicate in the scan stage — the rate table is a literal
    * when-chain, not a join — so mixing 100 TB costs one scan. */
  def stratifiedSample(df: DataFrame, key: Column, strata: Column,
                       rates: Seq[(String, Int)],
                       defaultNum: Int = 0): DataFrame = {
    require(rates.forall(r => r._2 >= 0 && r._2 <= 65536),
      "rate numerator out of range")
    val pred = rates.foldRight(below(key, defaultNum)) {
      case ((s, num), rest) =>
        when(strata === lit(s), below(key, num)).otherwise(rest)
    }
    df.filter(pred)
  }

  /** Exactly-k-per-stratum deterministic sample — the quota-sampling
    * complement to [[stratifiedSample]]'s rate sampling: each group
    * keeps the k rows with the SMALLEST md5 priority of the key (a
    * content-hash "reservoir": reproducible across runs, engines and
    * partitionings, and a uniform draw to the extent md5 is uniform).
    *
    * Runs on the native bounded-heap top-k aggregate, not a window
    * sort: map-side partial heaps bound state at k entries per group
    * per task and the shuffle at partitions·k rows per group — a
    * per-group window sort would instead sort the whole corpus at
    * 100 TB. The priority is the first 12 hex chars of md5 (48 bits —
    * exact in a double), negated because the heap keeps highest-score
    * first; ties break toward the lower id in both engines.
    * Returns (grp, pick). */
  def reservoirPerGroup(df: DataFrame, group: Column, id: Column,
                        k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val pri = conv(substring(md5(id.cast("string")), 1, 12), 16, 10)
      .cast("long").cast("double")
    df.groupBy(group.as("grp"))
      .agg(graft.functions.TopKFunctions.topK(id, -pri, k).as("__picks"))
      .select(col("grp"), explode(col("__picks.id")).as("pick"))
  }

  /** SQL fragment mirroring [[prefix]] for DuckDB oracles. */
  def prefixSql(keyExpr: String): String =
    s"substring(md5(CAST($keyExpr AS VARCHAR)), 1, 4)"

  /** Sequential Poisson sampling (Ohlsson 1998; Rosén's order-sampling
    * family): a deterministic weighted sample WITHOUT replacement of
    * the `k` rows whose priority `u/w` is smallest, where `u` is a
    * content-hash uniform and `w` a positive integer weight — inclusion
    * probability ≈ proportional to `w` (πps), reproducible across
    * runs, engines, and partition layouts. The natural consumer of
    * importance weights like [[dsirWeights]] or a quality score.
    *
    * Integer-exact priority: `u24` = first 6 md5 hex chars of the id
    * (24 bits), `pri = (u24 · 2^20) div w` — long floor-division,
    * bit-identical in every engine. The textbook A-ES key `-ln(u)/w`
    * needs libm, and a 1-ulp `ln` divergence across engines could flip
    * membership at the selection boundary; floor-division cannot.
    * Priority ties (coarsened by the div) break toward the smaller id.
    *
    * Selection runs on the native bounded-heap top-k aggregate (score
    * = −pri, so "best" = smallest priority): map-side partial heaps
    * bound state at k entries per task and the shuffle at
    * O(k · partitions) — no global sort at 100 TB. The k winners then
    * join back (broadcast, one scan-stage hash join) to recover their
    * weight column. Returns (id, w, pri), `w` the long-cast weight.
    *
    * Rows with `w ≤ 0` or null are excluded (a zero weight cannot be
    * drawn; a negative one is a caller bug surfaced by the count). */
  def weightedOrderSample(df: DataFrame, id: Column, weight: Column,
                          k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val keyed = df
      .select(id.cast("long").as("id"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("__u24",
        conv(substring(md5(col("id").cast("string")), 1, 6), 16, 10)
          .cast("long"))
      .withColumn("__pri", expr("(__u24 * 1048576L) div w"))
    val winners = keyed
      .groupBy()
      .agg(graft.functions.TopKFunctions.topK(
        col("id"), -col("__pri").cast("double"), k).as("__picks"))
      .select(explode(col("__picks")).as("p"))
      .select(col("p.id").as("id"),
        (-col("p.score")).cast("long").as("pri"))
    keyed.select(col("id"), col("w"))
      .join(broadcast(winners), "id")
      .select(col("id"), col("w"), col("pri"))
  }

  /** DuckDB SQL fragment mirroring [[weightedOrderSample]]'s 24-bit
    * hash uniform: 6 hex digits of md5 decoded by strpos arithmetic
    * (≡ Spark's `conv(hex, 16, 10)`). */
  def u24Sql(keyExpr: String): String = {
    val h = s"md5(CAST($keyExpr AS VARCHAR))"
    (1 to 6).map { i =>
      val mult = math.pow(16, 6 - i).toLong
      s"(strpos('0123456789abcdef', substring($h, $i, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
  }

  /** Token-budget corpus mixing — the two-pass planner behind "give me
    * at most `budget` tokens from every source": pass 1 aggregates the
    * per-stratum token total `T_s`; each stratum's keep-rate is then
    * `num_s = min(65536, (65536·budget) div T_s)` in 1/65536 units
    * (integer floor — never overshoots the budget in expectation), and
    * pass 2 keeps rows whose 16-bit key hash falls below `num_s`.
    * Strata already within budget keep everything (rate 65536).
    *
    * Scale: the rate table is one row per stratum, broadcast back, so
    * the planner costs one aggregate scan + one filtered scan — the
    * membership predicate is a codegen'd integer compare in the scan
    * stage. Deterministic and engine-exact end to end: totals, rates,
    * and membership are all integer arithmetic on content hashes.
    * Returns the kept rows plus `__rate_num` (the stratum's keep-rate
    * numerator, for audit). */
  def tokenBudgetMix(df: DataFrame, key: Column, strata: Column,
                     nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val tagged = df.withColumn("__s", strata)
      .withColumn("__nt", nTokens.cast("long"))
    val rates = tagged.groupBy(col("__s"))
      .agg(sum(col("__nt")).as("__tot"))
      .withColumn("__rate_num",
        least(lit(65536L), expr(s"(65536L * ${budget}L) div __tot")))
      .select(col("__s"), col("__rate_num"))
    val u16 = conv(prefix(key), 16, 10).cast("long")
    tagged.join(broadcast(rates), "__s")
      .filter(u16 < col("__rate_num"))
      .drop("__s", "__nt")
  }

  /** DuckDB SQL fragment mirroring [[tokenBudgetMix]]'s 16-bit key
    * hash (4 md5 hex digits via strpos arithmetic). */
  def u16Sql(keyExpr: String): String = {
    val h = s"md5(CAST($keyExpr AS VARCHAR))"
    (1 to 4).map { i =>
      val mult = math.pow(16, 4 - i).toLong
      s"(strpos('0123456789abcdef', substring($h, $i, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
  }

  /** x^(quarters/4) as a sqrt/multiply chain: x^¼ = √√x, x^½ = √x,
    * x^¾ = √x·√√x. IEEE-754 requires √ and · to be correctly rounded,
    * so — unlike `pow`, whose libm implementations differ across
    * engines by ulps — this chain is bit-identical everywhere, which
    * keeps the floor'd rate numerator below deterministic. */
  private def quarterPow(x: Column, quarters: Int): Column = quarters match {
    case 1 => sqrt(sqrt(x))
    case 2 => sqrt(x)
    case 3 => sqrt(x) * sqrt(sqrt(x))
    case 4 => x
    case _ => throw new IllegalArgumentException(
      s"alpha quarters must be 1..4, got $quarters")
  }

  /** SQL mirror of [[quarterPow]]. */
  private def quarterPowSql(x: String, quarters: Int): String = quarters match {
    case 1 => s"sqrt(sqrt($x))"
    case 2 => s"sqrt($x)"
    case 3 => s"sqrt($x) * sqrt(sqrt($x))"
    case 4 => x
    case _ => throw new IllegalArgumentException(
      s"alpha quarters must be 1..4, got $quarters")
  }

  /** Temperature-based mixture resampling — the multilingual
    * "up-sample low-resource strata" step (the α-smoothed sampling of
    * XLM-R / mT5, Conneau et al. arXiv:1911.02116 §3.1): stratum `s`
    * with token total `T_s` receives a share of the `budget`
    * proportional to `T_s^α`, α < 1 flattening the distribution toward
    * uniform. Its keep-rate is therefore
    *
    *   rate_s = min(1, budget · T_s^(α−1) / Σ_j T_j^α)
    *
    * applied as a deterministic 16-bit hash threshold, exactly like
    * [[tokenBudgetMix]]'s (α = 1 makes the allocation proportional,
    * i.e. one uniform corpus-wide rate `budget/ΣT`; [[tokenBudgetMix]]
    * is the different per-stratum-cap policy).
    *
    * α is given in QUARTERS (1 → 0.25, 2 → 0.5, 3 → 0.75, 4 → 1) so
    * `T^α` is a √/· chain — correctly rounded by IEEE-754 in every
    * engine, where a libm `pow` could differ by an ulp and flip the
    * floor'd rate numerator. All remaining arithmetic is one identical
    * double op sequence per stratum; the numerator floors into
    * 1/65536 units. Same two-pass scale shape as [[tokenBudgetMix]]:
    * one aggregate scan, a broadcast rate table, one filtered scan.
    * Returns kept rows plus `__rate_num`. */
  def temperatureMix(df: DataFrame, key: Column, strata: Column,
                     nTokens: Column, budget: Long,
                     alphaQuarters: Int = 2): DataFrame = {
    require(budget > 0, "budget must be positive")
    val tagged = df.withColumn("__s", strata)
      .withColumn("__nt", nTokens.cast("long"))
    val tots = tagged.groupBy(col("__s"))
      .agg(sum(col("__nt")).as("__tot"))
    // Σ T^α staged through DECIMAL(38,18): addition order across
    // strata is engine/partition-dependent, and double addition is not
    // associative — the decimal sum is order-free (DSIR discipline).
    val denom = tots
      .agg(sum(quarterPow(col("__tot").cast("double"), alphaQuarters)
        .cast("decimal(38,18)")).cast("double").as("__denom"))
    val rates = tots.crossJoin(broadcast(denom))
      .withColumn("__rate_num",
        least(lit(65536L),
          floor(lit(65536.0) * lit(budget.toDouble)
            * quarterPow(col("__tot").cast("double"), alphaQuarters)
            / col("__tot").cast("double") / col("__denom")).cast("long")))
      .select(col("__s"), col("__rate_num"))
    val u16 = conv(prefix(key), 16, 10).cast("long")
    tagged.join(broadcast(rates), "__s")
      .filter(u16 < col("__rate_num"))
      .drop("__s", "__nt")
  }

  /** DuckDB mirror of [[temperatureMix]]'s rate numerator, given SQL
    * expressions for the stratum total and the decimal-staged Σ T^α
    * denominator (already cast back to DOUBLE). The op sequence
    * matches the Spark side exactly: 65536·B·T^α, /T, /denom, floor. */
  def temperatureRateSql(totExpr: String, denomExpr: String, budget: Long,
                         alphaQuarters: Int): String = {
    val ta = quarterPowSql(s"CAST($totExpr AS DOUBLE)", alphaQuarters)
    s"""LEAST(65536, CAST(FLOOR(65536.0 * CAST($budget AS DOUBLE)
       | * $ta / CAST($totExpr AS DOUBLE) / $denomExpr) AS BIGINT))"""
      .stripMargin.replace("\n", "")
  }

  /** DuckDB mirror of the Σ T^α denominator over a totals relation. */
  def temperatureDenomSql(totExpr: String, alphaQuarters: Int): String = {
    val ta = quarterPowSql(s"CAST($totExpr AS DOUBLE)", alphaQuarters)
    s"CAST(SUM(CAST($ta AS DECIMAL(38,18))) AS DOUBLE)"
  }

  /** DSIR importance weights (Xie et al., "Data Selection via
    * Importance Resampling", arXiv:2302.03169): score every corpus
    * document by how much more likely its hashed-bigram bag is under
    * the TARGET distribution (a small high-quality sample) than under
    * the RAW corpus distribution. Selecting top-weight / resampling by
    * weight shifts the corpus mixture toward the target domain.
    *
    * Features are token bigrams hashed into 256 buckets (first 2 hex
    * chars of md5 — engine-portable like every hash in this file);
    * both distributions are add-one-smoothed bucket histograms, so
    *
    *   logw(doc) = Σ_g [ln(t(b(g))+1) − ln(r(b(g))+1)]
    *             + n_grams · [ln(rTot+256) − ln(tTot+256)]
    *
    * Per-term lns are summed as DECIMAL(27,18) (order-free) and the
    * result rounded to 6 dp — the same portability discipline as
    * [[Lm.bigramSurprisal]]. Returns (id, n_grams, logw); docs with
    * fewer than 2 tokens have no bigrams and are absent.
    *
    * Scale: gram strings never leave the scan stage (bucket ints are
    * computed row-locally); the model is a 256-row broadcast; the
    * target corpus is small by construction (a curated sample), so its
    * histogram pass is negligible; the corpus pays exactly TWO gram
    * scans — one 256-row histogram aggregate (collected, totals and
    * log-ratios computed on the driver, rebaked as literals) and one
    * partial-aggregated scoring pass. A production pipeline scoring
    * repeatedly against one raw model would persist the histogram. */
  def dsirWeights(corpus: DataFrame, target: DataFrame, id: String,
                  text: String): DataFrame = {
    import graft.functions.Text
    val B = 256
    def bucket(g: Column): Column =
      conv(substring(md5(g), 1, 2), 16, 10).cast("int")
    def grams(df: DataFrame, keep: Seq[Column]): DataFrame = df
      .select(keep :+ Text.tokens(col(text)).as("__t"): _*)
      .select(keep :+ explode(Text.shinglesOfTokens(col("__t"), 2))
        .as("__g"): _*)
      .select(keep :+ bucket(col("__g")).as("b"): _*)
    val tg = grams(target, Seq.empty)
    val cg = grams(corpus, Seq(col(id)))
    // The model is 256 buckets — collect both histograms and bake the
    // per-bucket log-ratio back as a 256-double literal (the same
    // dictionary-sized driver-state exception as labelFit / the IVF
    // centroid matrices). This pins the corpus gram scan count at TWO
    // (histogram + scoring): the previous formulation derived the
    // histogram, the corpus total, AND the scoring join from separate
    // references to the gram lineage, and consumer-specific column
    // pruning defeated exchange reuse — the r6 sampling scale probe
    // measured FOUR tokenize+md5 corpus passes in the plan. Driver
    // doubles use the same Math.log as Spark's `log`, so scores are
    // bit-identical.
    val crByB = new Array[Long](B)
    cg.groupBy("b").agg(count(lit(1)).as("cr")).collect()
      .foreach(r => crByB(r.getInt(0)) = r.getLong(1))
    val ctByB = new Array[Long](B)
    tg.groupBy("b").agg(count(lit(1)).as("ct")).collect()
      .foreach(r => ctByB(r.getInt(0)) = r.getLong(1))
    val lr = Array.tabulate(B)(b =>
      math.log(ctByB(b).toDouble + 1.0) - math.log(crByB(b).toDouble + 1.0))
    val c0 = math.log(crByB.sum.toDouble + B.toDouble) -
      math.log(ctByB.sum.toDouble + B.toDouble)
    val lrLit = array(lr.toIndexedSeq.map(lit(_)): _*)
    // Per-doc sum over gram instances — unchanged decimal discipline
    // (order-free exact sum of the per-term doubles), one scan.
    cg.select(col(id), element_at(lrLit, col("b") + 1).as("lr"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("lr").cast("decimal(27,18)")).as("__s"))
      .select(col(id), col("n_grams"),
        round(col("__s").cast("double")
          + col("n_grams").cast("double") * lit(c0), 6).as("logw"))
  }
}
