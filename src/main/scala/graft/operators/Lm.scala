package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus language-model scoring — the CCNet-style perplexity filter:
  * score each document by how surprising its token stream is under a
  * count LM trained on the corpus itself (junk/boilerplate scores at
  * the extremes; the middle is "normal" text worth keeping).
  *
  * The model is an unsmoothed bigram MLE — `p(w₂|w₁) = c(w₁w₂)/c(w₁·)`
  * — which needs no smoothing here because scoring and training use
  * the same corpus, so every scored bigram has count ≥ 1. Per-document
  * score = mean surprisal `(1/n)·Σ (ln c(ctx) − ln c(bigram))`, i.e.
  * cross-entropy in nats; perplexity = exp(score) if wanted (left to
  * the caller — exp adds nothing to ranking).
  *
  * Scale: bigram counts are two hash aggregates over (64-bit-hashable)
  * gram strings; scoring joins each doc's bigrams to the count table —
  * the same shuffle shape as [[Dedup.dupSpanStats]]. Surprisal terms
  * are summed as DECIMAL(27,18) (order-free exact sum of per-term
  * doubles) and the mean is rounded to 6 dp, so the score is
  * engine-portable despite the ln.
  */
object Lm {

  /** Per-document mean bigram surprisal:
    * `(id, n_bigrams, surprisal)`. Documents with fewer than 2 tokens
    * have no bigrams and are absent. */
  def bigramSurprisal(docs: DataFrame, id: String, text: String): DataFrame = {
    val bi = docs.select(col(id), col(text))
      .transform(Frames.spread)
      .select(col(id), Text.tokens(col(text)).as("__toks"))
      .select(col(id), explode(Text.shinglesOfTokens(col("__toks"), 2))
        .as("bi"))
    val c2 = bi.groupBy(col("bi")).agg(count(lit(1)).as("c2"))
    // The model table is one row per DISTINCT bigram (vocab-bounded);
    // the corpus-sized scoring join below carries only (id, 64-bit
    // fingerprint) — never gram strings.
    val model = c2
      .withColumn("ctx", regexp_replace(col("bi"), " [^ ]+$", ""))
      .withColumn("c1", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("ctx"))))
      .select(xxhash64(col("bi")).as("h"), col("c2"), col("c1"))
    bi.select(col(id), xxhash64(col("bi")).as("h"))
      .join(model, "h")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((log(col("c1").cast("double")) - log(col("c2").cast("double")))
          .cast("decimal(27,18)")).as("__s"))
      .select(col(id), col("n_bigrams"),
        round(col("__s").cast("double") / col("n_bigrams"), 6)
          .as("surprisal"))
  }

  /** Per-document Shannon entropy (nats) of the token distribution —
    * the diversity/repetition quality signal (templated or looping
    * text scores low; Gopher-style filters gate on it). Computed as
    * `H = ln n − (Σ c·ln c)/n` so there is exactly ONE division: the
    * per-token terms `c·ln c` are integers-through-libm doubles summed
    * order-free as DECIMAL(38,18), making the 6 dp score
    * engine-portable. Shape: one (id, token) partial-aggregated count,
    * one per-doc aggregate — linear in corpus tokens, nothing
    * pairwise. Empty/whitespace-only docs are absent. */
  def tokenEntropy(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(col(id), explode(Text.tokens(col(text))).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col(id), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__term",
        (col("__c").cast("double") * log(col("__c").cast("double")))
          .cast("decimal(38,18)"))
      .groupBy(col(id))
      .agg(sum(col("__c")).as("n_tokens"), sum(col("__term")).as("__s"))
      .select(col(id), col("n_tokens"),
        (round(log(col("n_tokens").cast("double"))
          - col("__s").cast("double") / col("n_tokens").cast("double"), 6)
          + lit(0.0)).as("entropy"))

  /** Model-based quality gate (the fasttext-shaped classifier filter):
    * train a logistic model on hashed-token-bucket features against a
    * caller-supplied weak label (a heuristic rule, a curated sample, a
    * language tag), then score EVERY document and emit a keep flag.
    * This is the standard second-stage filter after rule heuristics:
    * the rules label a slice, the model generalizes the judgment.
    *
    * Features: x[0] = 1 (bias); x[1+b] = fraction of the doc's tokens
    * whose md5 first hex digit is `b` (`buckets` ≤ 16) — the hashing
    * trick with an engine-portable hash, so the DuckDB oracle builds
    * bit-identical features. Featurization is pure scan-stage HOF
    * work (no shuffle); training is [[ML.logisticRegression]]'s
    * exact-decimal allreduce-per-iteration loop (one per-partition
    * fold job per iteration, O(dim) to the driver); scoring bakes the
    * learned weights back as one array literal — one more scan, the
    * margin the same `graft_dot` kernel in fixed index order, so the
    * whole train+score run is deterministic and engine-exact to 6 dp.
    *
    * Returns (id, score, keep) for every input document. */
  def qualityClassifier(docs: DataFrame, id: String, text: String,
                        label: org.apache.spark.sql.Column,
                        buckets: Int = 16, iters: Int = 3,
                        lr: Double = 1.0): DataFrame = {
    require(buckets >= 2 && buckets <= 16,
      "buckets must be in [2,16] (one md5 hex digit)")
    val dim = buckets + 1
    val feats = docs
      .select(col(id), label.cast("double").as("y"),
        Text.tokens(col(text)).as("__t"))
      .select(col(id), col("y"),
        transform(col("__t"),
          t => conv(substring(md5(t), 1, 1), 16, 10).cast("int"))
          .as("__bk"))
      .select(col(id), col("y"),
        concat(
          array(lit(1.0)),
          transform(sequence(lit(0), lit(buckets - 1)),
            b => size(filter(col("__bk"), v => v === b)).cast("double")
              / size(col("__bk")).cast("double"))).as("x"))
    val w = ML.logisticRegression(feats, "x", "y", dim, iters, lr)
      .head().getSeq[Double](0)
    val margin = graft.functions.VectorFunctions.dot(col("x"), typedLit(w.toArray))
    val score = lit(1.0) / (lit(1.0) + exp(-margin))
    feats.select(col(id), round(score, 6).as("score"),
      (score >= 0.5).cast("int").as("keep"))
  }
}
