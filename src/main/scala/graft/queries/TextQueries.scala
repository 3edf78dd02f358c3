package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** Text-analysis queries over the `documents` fixture table, each with a
  * bit-exact DuckDB oracle (same expression tree, same evaluation order —
  * the driver compares full-precision float reprs).
  */
object TextQueries {

  /** The fixed tokenizer artifact for q_bpe_encode: the first 8 merges
    * learnMerges produces on the sf0.01 corpus (weight desc, pair asc
    * tie-break). Includes a multi-char merge (m+er) so the chain's
    * ordering is actually exercised. */
  private[queries] val bpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** Greedy non-overlapping merges as a plain `replace` chain: symbols
    * are joined and flanked by DOUBLE spaces, so ' a  b ' can only
    * match whole symbols, consecutive occurrences keep a delimiter
    * between matches, and left-to-right first-occurrence replace ==
    * the kernel's greedy scan. */
  /** Full replay of [[graft.operators.Bpe.learnMerges]]: the iterative
    * greedy argmax UNROLLED as k CTE layers. Layer i extracts adjacent
    * symbol pairs from the double-space word encoding (`list_zip` of
    * the symbol list with its own tail — overlapping pairs counted,
    * exactly like the Scala 2-shingles), sums word frequencies per
    * pair, picks the winner with the kernel's tie-break
    * (weight DESC, "a b" string ASC), and applies it with the SAME
    * double-space `replace` the proven q_bpe_encode oracle uses (=
    * greedy leftmost non-overlapping, the MergeAdjacentPair law).
    * Every CTE is MATERIALIZED: the v-chain is referenced twice per
    * layer and DuckDB's inlining heuristic would re-expand it
    * exponentially. */
  private def bpeLearnSql(k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         | SELECT z[1] AS a, z[2] AS b,
         |  CAST(SUM(n) AS BIGINT) AS w
         | FROM (SELECT regexp_split_to_array(trim(s), '\\s+') AS l, n
         |       FROM v${i - 1}) t,
         |  UNNEST(list_zip(t.l, list_slice(t.l, 2, len(t.l)))) AS u(z)
         | WHERE z[2] IS NOT NULL
         | GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         | SELECT a, b, w FROM p$i
         | ORDER BY w DESC, a || ' ' || b ASC LIMIT 1),
         |v$i AS MATERIALIZED (
         | SELECT replace(s,
         |   ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
         |   ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS s,
         |  n FROM v${i - 1})""".stripMargin
    }.mkString(",\n")
    val sel = (1 to k).map(i =>
      s"""SELECT CAST($i AS INT) AS step, a AS "left", b AS "right",
         | w AS weight FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH w0 AS (SELECT unnest($toks) AS w FROM documents),
       |v0 AS MATERIALIZED (
       | SELECT '  ' || array_to_string(regexp_split_to_array(w, ''), '  ')
       |   || '  ' AS s,
       |  CAST(COUNT(*) AS BIGINT) AS n
       | FROM w0 WHERE len(w) > 0 GROUP BY 1),
       |$steps
       |$sel""".stripMargin
  }

  private def bpeEncodeSql: String = {
    val chain = bpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"s${i + 1} AS (SELECT replace(s, ' $a  $b ', ' $a$b ') AS s FROM s$i)"
    }.mkString(",\n")
    s"""WITH w AS (
       | SELECT unnest($toks) AS w FROM documents),
       |s0 AS (
       | SELECT '  ' || array_to_string(regexp_split_to_array(w, ''), '  ')
       |  || '  ' AS s
       | FROM w WHERE len(w) > 0),
       |$chain
       |SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
       |FROM (SELECT unnest(regexp_split_to_array(trim(s), '\\s+')) AS t
       |      FROM s${bpeMerges.size})
       |GROUP BY 1""".stripMargin
  }

  // DuckDB mirrors. Token split = regexp_split_to_array on trimmed lower
  // text; every double is produced by the same op sequence as the Spark
  // expression so the full-precision repr compare holds.
  private val toks = Text.tokensSql("text")

  private def hits(words: Seq[String]): String =
    s"""len(list_filter($toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"""

  private val stopHits = hits(Text.stopwordsEn)

  val specs: Seq[QuerySpec] = Seq(

    // Token counting + length stats per document.
    QuerySpec("q_text_stats", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_m"),
          Text.avgTokenLen(col("text")).as("avg_tok_len")),
      Some(
        s"""SELECT doc_id,
           | len($toks) AS n_tokens,
           | length(text) AS n_chars_m,
           | CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
           |   / len($toks) AS avg_tok_len
           |FROM documents""".stripMargin)),

    // Quality scoring: stopword fluency + digit/punct noise, then a
    // corpus-level keep/drop decision (the 100 TB filter step).
    QuerySpec("q_text_quality", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.stopwordRatio(col("text")).as("stop_ratio"),
          Text.digitRatio(col("text")).as("digit_ratio"),
          Text.punctRatio(col("text")).as("punct_ratio"),
          Text.qualityScore(col("text")).as("quality"))
        .filter(col("quality") > 0.3),
      Some(
        s"""SELECT * FROM (SELECT doc_id,
           | CAST($stopHits AS DOUBLE) / len($toks) AS stop_ratio,
           | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
           |   / length(text) AS digit_ratio,
           | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
           |   / length(text) AS punct_ratio,
           | 0.4 * (CAST($stopHits AS DOUBLE) / len($toks))
           |  + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text))
           |  + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text))
           |  AS quality
           |FROM documents) WHERE quality > 0.3""".stripMargin)),

    // Language ID (stopword-hit argmax) + agreement with the labeled lang.
    QuerySpec("q_lang_id", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          Text.langId(col("text")).as("pred_lang"))
        .withColumn("agree", (col("lang") === col("pred_lang")).cast("int")),
      Some {
        val scores = Text.langStopwords.map { case (l, ws) => l -> hits(ws) }
        val best = s"greatest(${scores.map(_._2).mkString(", ")})"
        val cases = scores.map { case (l, h) => s"WHEN $h = $best THEN '$l'" }
        s"""SELECT doc_id, lang, pred_lang,
           | CAST(lang = pred_lang AS INT) AS agree
           |FROM (SELECT doc_id, lang,
           | CASE WHEN $best <= 0 THEN 'und'
           |  ${cases.mkString("\n  ")}
           |  ELSE 'und' END AS pred_lang
           |FROM documents)""".stripMargin
      }),

    // BPE-ish vs whitespace token counts — the corpus token-budget query.
    QuerySpec("q_text_bpe", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).as("n_words"),
          Text.bpeTokenCount(col("text")).as("n_bpe"))
        .withColumn("bpe_per_word",
          col("n_bpe").cast("double") / col("n_words")),
      Some(
        s"""SELECT doc_id,
           | len($toks) AS n_words,
           | len(regexp_extract_all(lower(text),
           |   '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+')) AS n_bpe,
           | CAST(len(regexp_extract_all(lower(text),
           |   '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+')) AS DOUBLE)
           |   / len($toks) AS bpe_per_word
           |FROM documents""".stripMargin)),

    // Corpus vocabulary stats: term frequency + document frequency,
    // top-50 terms. The scan-side explode shuffles (term, doc_id) only;
    // tf is a map-side-combinable count and df an exact distinct —
    // integer-only output so the oracle comparison is trivially exact.
    QuerySpec("q_vocab", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("term").asc)
        .limit(50),
      Some(
        s"""SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
           | CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           |FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
           |GROUP BY term ORDER BY tf DESC, term ASC LIMIT 50""".stripMargin)),

    // Compression-ratio quality signal (deflate ratio — low = junk
    // repetition). Deterministic but not SQL-expressible (no zlib in
    // SQL) → rows-only + TextSpec.
    QuerySpec("q_compress", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.CompressionFunctions
            .deflateRatio(col("text")).as("deflate_ratio"))
        .withColumn("keep", (col("deflate_ratio") > 0.2).cast("int"))),

    // Document fingerprinting (md5 of normalized text) + dup-group size.
    QuerySpec("q_fingerprint", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      d.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dup_cnt"))
    }, Some(
      s"""SELECT md5(array_to_string($toks, ' ')) AS fp,
         | MIN(doc_id) AS keeper, COUNT(*) AS dup_cnt
         |FROM documents GROUP BY 1""".stripMargin)),

    // Within-document repetition signals (the Gopher/MassiveText
    // repetition filters, token flavor): duplicate-token fraction is a
    // pure scan-stage array expression; the top-bigram share explodes
    // bigrams and aggregates (doc, bigram) — shuffle keyed by doc+gram,
    // cost linear in corpus tokens, never quadratic in document length.
    // Docs below 2 tokens have no bigram row (inner join semantics).
    QuerySpec("q_repetition", (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("ts"))
      val perDoc = toks.select(col("doc_id"),
        Text.dupTokenFraction(col("ts")).as("dup_token_frac"))
      val topBigram = toks
        .select(col("doc_id"),
          explode(Text.shinglesOfTokens(col("ts"), 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")).cast("double") / sum(col("c")))
          .as("top_bigram_frac"))
      perDoc.join(topBigram, "doc_id")
        .withColumn("keep",
          (col("dup_token_frac") < 0.9 && col("top_bigram_frac") < 0.18)
            .cast("int"))
    }, Some(
      s"""WITH tt AS (SELECT doc_id, $toks AS ts FROM documents),
         |big AS (
         | SELECT doc_id, bg, COUNT(*) AS c FROM (
         |  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS bg FROM (
         |   SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM tt) u) b
         | GROUP BY doc_id, bg),
         |tb AS (
         | SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
         | FROM big GROUP BY doc_id)
         |SELECT t.doc_id,
         | 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)
         |   AS dup_token_frac,
         | tb.top_bigram_frac,
         | CAST((1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) < 0.9
         |   AND tb.top_bigram_frac < 0.18 AS INT) AS keep
         |FROM tt t JOIN tb ON t.doc_id = tb.doc_id""".stripMargin)),

    // Model-based quality gate: train a logistic classifier on
    // hashed-token-bucket features against the weak label lang=='en',
    // score every doc, emit keep flags. Train+score is deterministic
    // (exact-decimal gradients, fixed margin order) so the oracle
    // replays the whole descent as unrolled CTEs and hash-matches.
    QuerySpec("q_quality_model", (s, dir) =>
      graft.operators.Lm.qualityClassifier(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        label = col("lang") === "en",
        buckets = 16, iters = 3, lr = 1.0),
      Some {
        val margin = MLQueries.logregMargin(17)
        s"""WITH pts AS (
           | SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y,
           |  list_prepend(CAST(1.0 AS DOUBLE), list_transform(range(0, 16),
           |   b -> CAST(len(list_filter(bk, v -> v = b)) AS DOUBLE)
           |     / CAST(len(bk) AS DOUBLE))) AS x
           | FROM (SELECT doc_id, lang,
           |   list_transform($toks, t ->
           |     strpos('0123456789abcdef', substring(md5(t), 1, 1)) - 1) AS bk
           |  FROM documents)),
           |${MLQueries.logregSteps(iters = 3, dim = 17, lr = 1.0)}
           |SELECT doc_id,
           | ROUND(1.0/(1.0 + exp(-($margin))), 6) + 0.0 AS score,
           | CAST(1.0/(1.0 + exp(-($margin))) >= 0.5 AS INT) AS keep
           |FROM pts, w3""".stripMargin
      }),

    // Unicode + whitespace normalization (the canonical step-0 of a
    // C4-style cleanup): NFC via the native codegen'd graft_nfc,
    // control-char strip, exotic-whitespace collapse, trim. All
    // scan-stage, no shuffle; the oracle applies the identical
    // RE2-compatible chain through DuckDB's nfc_normalize.
    QuerySpec("q_normalize", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.NormalizeFunctions.cleanup(col("text"))
            .as("norm_text"),
          length(graft.functions.NormalizeFunctions.cleanup(col("text")))
            .as("n_chars_clean"),
          (graft.functions.NormalizeFunctions.cleanup(col("text"))
            =!= col("text")).cast("int").as("changed")),
      Some {
        val clean = graft.functions.NormalizeFunctions.cleanupSqlDuck("text")
        s"""SELECT doc_id, $clean AS norm_text,
           | length($clean) AS n_chars_clean,
           | CAST($clean <> text AS INT) AS changed
           |FROM documents""".stripMargin
      }),

    // PII redaction: scrub emails/IPs/phone runs with deterministic
    // placeholders + per-pattern hit counts — a pure regexp_replace
    // chain in the scan stage (RE2-compatible patterns so the oracle
    // runs them verbatim).
    QuerySpec("q_redact", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          Text.redact(col("text")).as("clean_text"),
          Text.piiCount(col("text"), Text.piiPatterns(0)._1)
            .as("n_emails"),
          Text.piiCount(col("text"), Text.piiPatterns(1)._1).as("n_ips")),
      Some {
        val redacted = Text.piiPatterns.foldLeft("text") {
          case (inner, (re, tag)) =>
            s"regexp_replace($inner, '$re', '$tag', 'g')"
        }
        val email = Text.piiPatterns(0)._1
        val ip = Text.piiPatterns(1)._1
        s"""SELECT doc_id, $redacted AS clean_text,
           | CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
           | CAST(len(regexp_extract_all(text, '$ip')) AS INT) AS n_ips
           |FROM documents""".stripMargin
      }),

    // BPE vocabulary learning: 8 merges over the corpus. Iterative
    // (each merge conditions on the previous), but k is a fixed
    // artifact size, so the oracle UNROLLS the loop as 8 CTE layers
    // (bpeLearnSql) — argmax + greedy merge replayed bit-for-bit; the
    // vocab-grouped shape makes each iteration corpus-size-independent.
    QuerySpec("q_bpe_learn", (s, dir) =>
      graft.operators.Bpe.learnMerges(
        Tables.load(s, dir, "documents"), "text", k = 8),
      // The learn loop, fully replayed (8 unrolled argmax+apply layers).
      Some(bpeLearnSql(8))),

    // BPE ENCODE with a fixed learned tokenizer (the merge list is a
    // static artifact, exactly how a production tokenizer ships):
    // per-word char split → 8 chained native merge kernels, all in
    // the scan stage — then post-encoding token frequencies. The
    // oracle replays the identical greedy non-overlapping merges as a
    // plain `replace` chain over a double-space symbol encoding.
    QuerySpec("q_bpe_encode", (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .select(explode(graft.operators.Bpe.applyMerges(
          split(col("w"), ""), bpeMerges)).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n")),
      Some(bpeEncodeSql)),

    // Trigram language-model counts: c3 per trigram, conditional
    // probability against the summed continuations of its 2-token
    // context (Σ_w3 c3 — all integers until one exact double
    // division). Shuffle keyed by n-gram strings; top-100 is a
    // deterministic (count, ctx, w3) cut via TakeOrderedAndProject.
    // The ctx/w3 regex split runs on the DISTINCT-trigram table AFTER
    // the count (tri = ctx+" "+w3 is bijective, so grouping by tri IS
    // grouping by (ctx, w3)): the r6 text scale probe measured the
    // per-INSTANCE split at 2 regex calls × corpus trigrams — vocab
    // is what's bounded, instances aren't.
    QuerySpec("q_ngram_lm", (s, dir) => {
      val tri = Tables.load(s, dir, "documents")
        .select(Text.tokens(col("text")).as("ts"))
        .select(explode(Text.shinglesOfTokens(col("ts"), 3)).as("tri"))
        .groupBy("tri").agg(count(lit(1)).as("c3"))
        .select(
          regexp_replace(col("tri"), " [^ ]+$", "").as("ctx"),
          regexp_extract(col("tri"), "[^ ]+$", 0).as("w3"),
          col("c3"))
      val ctxTotals = tri.groupBy("ctx").agg(sum("c3").as("c_ctx"))
      tri.join(ctxTotals, "ctx")
        .select(col("ctx"), col("w3"), col("c3"),
          (col("c3").cast("double") / col("c_ctx")).as("p"))
        .orderBy(col("c3").desc, col("ctx").asc, col("w3").asc)
        .limit(100)
    }, Some(
      s"""WITH tt AS (SELECT $toks AS ts FROM documents),
         |grams AS (
         | SELECT unnest(list_transform(range(1, len(ts) - 1),
         |   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
         | FROM tt WHERE len(ts) >= 3),
         |tri AS (
         | SELECT regexp_replace(g, ' [^ ]+$$', '') AS ctx,
         |  regexp_extract(g, '[^ ]+$$') AS w3
         | FROM grams),
         |c3t AS (SELECT ctx, w3, CAST(COUNT(*) AS BIGINT) AS c3
         |        FROM tri GROUP BY 1, 2),
         |ct AS (SELECT ctx, CAST(SUM(c3) AS BIGINT) AS c_ctx
         |       FROM c3t GROUP BY 1)
         |SELECT c3t.ctx, c3t.w3, c3t.c3,
         | CAST(c3t.c3 AS DOUBLE) / ct.c_ctx AS p
         |FROM c3t JOIN ct USING (ctx)
         |ORDER BY c3 DESC, ctx ASC, w3 ASC LIMIT 100""".stripMargin)),

    // CCNet-style perplexity filter: per-doc mean bigram surprisal
    // under the corpus's own unsmoothed bigram MLE (decimal-staged
    // term sum, 6dp cut — engine-portable despite the ln).
    QuerySpec("q_perplexity", (s, dir) =>
      graft.operators.Lm.bigramSurprisal(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      // Same bigram split as Spark's shinglesOfTokens(·, 2); surprisal
      // terms decimal-staged before the order-free sum; ROUND + 0.0
      // canonicalizes DuckDB's signed zero.
      Some(
        s"""WITH tt AS (SELECT doc_id, $toks AS ts FROM documents),
           |bi AS (
           | SELECT doc_id,
           |  unnest(list_transform(range(1, len(ts)),
           |   i -> ts[i] || ' ' || ts[i+1])) AS bg
           | FROM tt),
           |cnt AS (SELECT bg, COUNT(*) AS cb FROM bi GROUP BY 1),
           |m AS (
           | SELECT bg, cb,
           |  SUM(cb) OVER (
           |   PARTITION BY regexp_replace(bg, ' [^ ]+$$', '')) AS cc
           | FROM cnt)
           |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           | ROUND(CAST(SUM(CAST(ln(CAST(cc AS DOUBLE))
           |    - ln(CAST(cb AS DOUBLE)) AS DECIMAL(27,18))) AS DOUBLE)
           |   / COUNT(*), 6) + 0.0 AS surprisal
           |FROM bi b JOIN m USING (bg)
           |GROUP BY 1""".stripMargin)),

    // Token-distribution Shannon entropy per doc — the diversity/
    // repetition signal (H = ln n − (Σ c·ln c)/n, one division,
    // decimal-staged term sum, 6dp).
    QuerySpec("q_entropy", (s, dir) =>
      graft.operators.Lm.tokenEntropy(
        Tables.load(s, dir, "documents"), "doc_id", "text"),
      // Mirrors Lm.tokenEntropy: same tokenization, c·ln c terms staged
      // through DECIMAL(38,18) (order-free), one division, 6dp + signed
      // zero canonicalization.
      Some(
        s"""WITH tk AS (
           | SELECT doc_id, unnest($toks) AS t FROM documents),
           |c AS (
           | SELECT doc_id, t, COUNT(*) AS c FROM tk
           | WHERE t <> '' GROUP BY 1, 2),
           |s AS (
           | SELECT doc_id, SUM(c) AS n,
           |  SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
           |    AS DECIMAL(38,18))) AS st
           | FROM c GROUP BY 1)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           | round(ln(CAST(n AS DOUBLE))
           |  - CAST(st AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS entropy
           |FROM s""".stripMargin)),

    // The composed training-data pipeline — the end-to-end shape the
    // individual operators exist for: language-ID gate (predicted ==
    // labeled), quality gate, exact near-dup removal (content-
    // fingerprint keepers), then the per-language corpus budget. One
    // declarative plan: the gates are codegen'd column expressions in
    // the scan stage, dedup is one hash groupBy, and only (doc_id)
    // survivors join back — Catalyst pipelines the whole thing with two
    // shuffles (fingerprint groupBy + final aggregate).
    QuerySpec("q_pipeline", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val filtered = docs
        .withColumn("pred_lang", Text.langId(col("text")))
        .withColumn("quality", Text.qualityScore(col("text")))
        .filter(col("quality") > 0.3)
      val keepers = graft.operators.Dedup
        .exactKeepers(filtered, "doc_id", "text").select("doc_id")
      filtered.join(keepers, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum((col("pred_lang") === col("lang")).cast("long"))
            .as("n_lang_agree"))
    }, Some {
      // Composed pipeline: lang-ID gate == q_lang_id's CASE, quality
      // gate == q_text_quality's formula, keepers == q_dedup_exact's
      // MIN(doc_id) per fingerprint, then the per-language budget.
      val scores = Text.langStopwords.map { case (l, ws) => l -> hits(ws) }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (l, h) => s"WHEN $h = $best THEN '$l'" }
      val digit =
        """CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text)"""
      val punct =
        """CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text)"""
      val quality =
        s"""0.4 * (CAST($stopHits AS DOUBLE) / len($toks))
           | + 0.3 * (1.0 - $digit) + 0.3 * (1.0 - $punct)""".stripMargin
      s"""WITH lid AS (
         | SELECT doc_id, lang, text,
         |  CASE WHEN $best <= 0 THEN 'und'
         |   ${cases.mkString("\n   ")}
         |   ELSE 'und' END AS pred_lang
         | FROM documents),
         |fl AS (
         | SELECT doc_id, lang, text, pred_lang FROM lid
         | WHERE ($quality) > 0.3),
         |keep AS (
         | SELECT MIN(doc_id) AS doc_id FROM fl
         | GROUP BY md5(array_to_string($toks, ' ')))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(len($toks)) AS BIGINT) AS n_tokens,
         | CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         | CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_lang_agree
         |FROM fl JOIN keep USING (doc_id) GROUP BY lang""".stripMargin
    })
  )
}
