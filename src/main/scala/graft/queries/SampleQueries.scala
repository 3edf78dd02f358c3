package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Sampling

/** Deterministic sampling / split queries — exact oracle matches because
  * membership is a pure md5-prefix function of the key, identical in
  * both engines. */
object SampleQueries {

  private val pfx = Sampling.prefixSql("doc_id")
  private val toks = graft.functions.Text.tokensSql("text")

  val specs: Seq[QuerySpec] = Seq(

    // ~10% reproducible sample of documents by doc_id.
    QuerySpec("q_sample", (s, dir) =>
      Sampling.hashSample(Tables.load(s, dir, "documents"),
        col("doc_id"), num = 6554)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Some(
        s"""SELECT doc_id, lang, n_chars FROM documents
           |WHERE $pfx < '${"%04x".format(6554)}'""".stripMargin)),

    // Leakage-safe split: the gate hashes each exact-dup group's
    // representative (min doc_id over the md5 text fingerprint), so a
    // duplicated document can never straddle train/holdout. Output:
    // per-split doc counts, char sizes, and distinct dup-groups.
    QuerySpec("q_split_safe", (s, dir) =>
      Sampling.groupSafeSplit(Tables.load(s, dir, "documents"),
        col("doc_id"), graft.functions.Text.fingerprint(col("text")),
        Seq(("test", 6554), ("val", 13108)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          countDistinct(graft.functions.Text.fingerprint(col("text")))
            .as("groups")),
      Some {
        val rpfx = Sampling.prefixSql("r.rep")
        s"""WITH f AS (SELECT doc_id, n_chars,
           |    md5(array_to_string($toks, ' ')) AS fp
           |  FROM documents),
           |r AS (SELECT fp, MIN(doc_id) AS rep FROM f GROUP BY 1)
           |SELECT CASE WHEN $rpfx < '${"%04x".format(6554)}' THEN 'test'
           |  WHEN $rpfx < '${"%04x".format(13108)}' THEN 'val'
           |  ELSE 'train' END AS split,
           | CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(f.n_chars) AS BIGINT) AS chars,
           | CAST(COUNT(DISTINCT f.fp) AS BIGINT) AS groups
           |FROM f JOIN r ON f.fp = r.fp GROUP BY 1""".stripMargin
      }),

    // Deterministic train/val/test split: per-split doc counts + sizes.
    QuerySpec("q_split", (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq(("test", 6554), ("val", 13108))))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars")),
      Some(
        s"""SELECT CASE WHEN $pfx < '${"%04x".format(6554)}' THEN 'test'
           |  WHEN $pfx < '${"%04x".format(13108)}' THEN 'val'
           |  ELSE 'train' END AS split,
           | CAST(COUNT(*) AS BIGINT) AS n,
           | CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY 1""".stripMargin)),

    // Corpus mixing: per-language sampling rates (down-weight the
    // dominant language, keep the rest whole), then the per-language
    // doc/char budget actually achieved. The mix predicate is a
    // codegen'd when-chain in the scan stage — one pass over the
    // corpus, no join, no shuffle beyond the final small aggregate.
    QuerySpec("q_mix", (s, dir) =>
      Sampling.stratifiedSample(Tables.load(s, dir, "documents"),
        col("doc_id"), col("lang"),
        rates = Seq("en" -> 16384, "de" -> 49152), defaultNum = 65536)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars")),
      Some(
        s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           | CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM documents
           |WHERE CASE WHEN lang = 'en' THEN $pfx < '${"%04x".format(16384)}'
           |  WHEN lang = 'de' THEN $pfx < '${"%04x".format(49152)}'
           |  ELSE TRUE END
           |GROUP BY lang""".stripMargin)),

    // Quota sampling: exactly 5 docs per language, drawn by content-hash
    // priority on the native bounded-heap aggregate (no window sort).
    QuerySpec("q_reservoir", (s, dir) =>
      Sampling.reservoirPerGroup(Tables.load(s, dir, "documents"),
        col("lang"), col("doc_id"), k = 5)
        .select(col("grp").as("lang"), col("pick").as("doc_id")),
      // 12 hex chars compare lexicographically == numerically (fixed
      // width), mirroring the Spark side's negated 48-bit priority.
      Some(
        """SELECT lang, doc_id FROM (
          | SELECT lang, doc_id,
          |  row_number() OVER (PARTITION BY lang
          |   ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 12),
          |            doc_id) AS rn
          | FROM documents)
          |WHERE rn <= 5""".stripMargin)),

    // DSIR importance weights: target = the src1/src2 slice (standing
    // in for a curated high-quality sample), raw = the whole corpus;
    // per-doc hashed-bigram log importance ratio.
    QuerySpec("q_dsir", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Sampling.dsirWeights(d,
        d.filter(col("source").isin("src1", "src2")), "doc_id", "text")
    }, Some {
      // DSIR mirror: same bigram split as shinglesOfTokens(·,2), bucket
      // = first 2 md5 hex chars as an int (strpos arithmetic ≡ Spark's
      // conv(hex,16,10)), add-one smoothed log-ratio per bucket summed
      // as DECIMAL, n·const term in the same double op order, 6dp cut.
      s"""WITH tt AS (SELECT doc_id, source, $toks AS ts FROM documents),
         |bi AS (
         | SELECT doc_id, source,
         |  unnest(list_transform(range(1, len(ts)),
         |   i -> ts[i] || ' ' || ts[i+1])) AS g
         | FROM tt),
         |bk AS (
         | SELECT doc_id, source,
         |  (strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16
         |  + (strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1) AS b
         | FROM bi),
         |t AS (SELECT b, COUNT(*) AS ct FROM bk
         |      WHERE source IN ('src1', 'src2') GROUP BY 1),
         |r AS (SELECT b, COUNT(*) AS cr FROM bk GROUP BY 1),
         |tot AS (SELECT
         |  (SELECT COUNT(*) FROM bk WHERE source IN ('src1', 'src2')) AS t_tot,
         |  (SELECT COUNT(*) FROM bk) AS r_tot),
         |lr AS (
         | SELECT g.b,
         |  ln(CAST(COALESCE(t.ct, 0) AS DOUBLE) + 1.0)
         |   - ln(CAST(COALESCE(r.cr, 0) AS DOUBLE) + 1.0) AS lr
         | FROM range(0, 256) g(b)
         | LEFT JOIN t ON t.b = g.b LEFT JOIN r ON r.b = g.b)
         |SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         | ROUND(CAST(SUM(CAST(lr.lr AS DECIMAL(27,18))) AS DOUBLE)
         |  + COUNT(*) * (ln(CAST(ANY_VALUE(r_tot) AS DOUBLE) + 256.0)
         |   - ln(CAST(ANY_VALUE(t_tot) AS DOUBLE) + 256.0)), 6) + 0.0 AS logw
         |FROM bk JOIN lr ON bk.b = lr.b, tot
         |GROUP BY bk.doc_id""".stripMargin
    }),

    // Sequential Poisson weighted sample: 60 docs drawn ∝ n_chars
    // (size-proportional πps) on integer-exact hash priorities — the
    // bounded-heap top-k, no global sort.
    QuerySpec("q_weighted_sample", (s, dir) =>
      Sampling.weightedOrderSample(Tables.load(s, dir, "documents"),
        col("doc_id"), col("n_chars"), k = 60)
        .select(col("id").as("doc_id"), col("w"), col("pri")),
      // Integer-exact order-sampling priorities: (u24·2^20) floor-div
      // weight, smallest k win, ties toward the smaller id — both
      // engines compute the identical BIGINT.
      Some(
        s"""WITH pr AS (
           | SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
           |  CAST((${Sampling.u24Sql("doc_id")} * 1048576)
           |       // CAST(n_chars AS BIGINT) AS BIGINT) AS pri
           | FROM documents WHERE n_chars > 0)
           |SELECT doc_id, w, pri FROM pr ORDER BY pri, doc_id LIMIT 60""".stripMargin)),

    // Token-budget mixing: cap every source at 4000 whitespace tokens;
    // report the per-source keep-rate and what the deterministic
    // hash-threshold sample actually kept.
    QuerySpec("q_token_budget", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("nt",
          size(graft.functions.Text.tokens(col("text"))).cast("long"))
      Sampling.tokenBudgetMix(d, col("doc_id"), col("source"), col("nt"),
        budget = 4000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens_kept"),
          max(col("__rate_num")).as("rate_num"))
    }, Some(
      // Two-pass budget mirror: per-source token totals → integer
      // floor keep-rate in 1/65536 units → 16-bit hash membership.
      s"""WITH tc AS (
         | SELECT doc_id, source,
         |  CAST(len($toks) AS BIGINT) AS nt
         | FROM documents),
         |rt AS (
         | SELECT source, LEAST(65536, (65536 * 4000) // SUM(nt)) AS num
         | FROM tc GROUP BY source),
         |kept AS (
         | SELECT tc.source, tc.nt, rt.num
         | FROM tc JOIN rt USING (source)
         | WHERE ${Sampling.u16Sql("doc_id")} < rt.num)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(nt) AS BIGINT) AS tokens_kept,
         | CAST(MAX(num) AS BIGINT) AS rate_num
         |FROM kept GROUP BY source""".stripMargin)),

    // Temperature (α=0.5) mixture over languages: low-resource langs
    // get a budget share ∝ √tokens — the multilingual up-sampling
    // rates, derived and applied deterministically.
    QuerySpec("q_temperature_mix", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("nt",
          size(graft.functions.Text.tokens(col("text"))).cast("long"))
      Sampling.temperatureMix(d, col("doc_id"), col("lang"), col("nt"),
        budget = 8000L, alphaQuarters = 2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens_kept"),
          max(col("__rate_num")).as("rate_num"))
    }, Some(
      // √/· chains and one fixed double op sequence per stratum keep the
      // floor'd α=0.5 rate numerator bit-identical to the Spark side.
      s"""WITH tc AS (
         | SELECT doc_id, lang,
         |  CAST(len($toks) AS BIGINT) AS nt
         | FROM documents),
         |tot AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS t
         |        FROM tc GROUP BY lang),
         |dn AS (SELECT ${Sampling.temperatureDenomSql("t", 2)} AS denom
         |       FROM tot),
         |rt AS (
         | SELECT lang,
         |  ${Sampling.temperatureRateSql("t", "denom", 8000L, 2)} AS num
         | FROM tot, dn),
         |kept AS (
         | SELECT tc.lang, tc.nt, rt.num
         | FROM tc JOIN rt USING (lang)
         | WHERE ${Sampling.u16Sql("doc_id")} < rt.num)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(nt) AS BIGINT) AS tokens_kept,
         | CAST(MAX(num) AS BIGINT) AS rate_num
         |FROM kept GROUP BY lang""".stripMargin))
  )
}
