package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Encode

/** Feature-preparation queries: label encoding, the hashing trick, and
  * per-dimension standardization — the raw-column → model-matrix step
  * of a training pipeline, each stage oracle-matched. */
object EncodeQueries {

  /** md5 6-hex-char prefix as an integer — the DuckDB mirror of
    * `conv(substring(md5(t), 1, 6), 16, 10)` via strpos arithmetic
    * (the q_dsir idiom, widened to 24 bits). */
  private def md5Prefix6(t: String): String =
    (0 until 6).map { i =>
      val mult = math.pow(16, 5 - i).toLong
      val term = s"(strpos('0123456789abcdef', substring(md5($t), ${i + 1}, 1)) - 1)"
      if (mult == 1L) term else s"$term * $mult"
    }.mkString("(", " + ", ")")

  val specs: Seq[QuerySpec] = Seq(

    // Frequency-ordered label encoding of documents.source:
    // fit = one hash aggregate to the dictionary (codes assigned over
    // the dictionary, never the corpus), transform = broadcast join in
    // the scan stage.
    QuerySpec("q_label_encode", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val dict = Encode.labelFit(d, col("source"))
      Encode.labelTransform(d, "source", dict)
        .select(col("doc_id"), col("source"), col("source_code"))
    }, Some(
      """WITH cnt AS (
        | SELECT source AS value, COUNT(*) AS n FROM documents
        | WHERE source IS NOT NULL GROUP BY 1),
        |dict AS (
        | SELECT value,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, value ASC) - 1 AS INT)
        |   AS code
        | FROM cnt)
        |SELECT d.doc_id, d.source,
        | COALESCE(dict.code, -1) AS source_code
        |FROM documents d LEFT JOIN dict ON d.source = dict.value""".stripMargin)),

    // Hashing-trick bag-of-tokens features (64 buckets): stateless
    // md5 bucket per token, one (doc, bucket) aggregate — the
    // dictionary-free featurizer.
    QuerySpec("q_feature_hash", (s, dir) =>
      Encode.hashFeatures(Tables.load(s, dir, "documents"),
        col("doc_id"), col("text"), nBuckets = 64)
        .select(col("id").as("doc_id"), col("bucket"), col("n")),
      Some(
        s"""WITH toks AS (
           | SELECT doc_id,
           |  unnest(${graft.functions.Text.tokensSql("text")}) AS t
           | FROM documents)
           |SELECT doc_id,
           | CAST(${md5Prefix6("t")} % 64 AS INT) AS bucket,
           | COUNT(*) AS n
           |FROM toks WHERE t <> ''
           |GROUP BY doc_id, bucket""".stripMargin)),

    // Per-dimension standardization of the embedding corpus: exact
    // decimal sufficient stats (one pass), literal-baked projection.
    // 6dp cut + signed-zero canonicalization, the decimal-sum oracle
    // convention. The scaled array is serialized to a CSV string of
    // DECIMAL(18,6)-formatted elements: the driver's comparator sorts
    // result columns with pandas, which cannot hash ARRAY cells (r4
    // verdict item 1); decimal formatting pads trailing zeros
    // identically on both engines.
    QuerySpec("q_scale", (s, dir) =>
      Encode.standardScale(Tables.load(s, dir, "embeddings"),
        "embedding", "scaled")
        .select(col("vec_id"),
          concat_ws(",", transform(col("scaled"),
            v => (round(v, 6) + lit(0.0))
              .cast("decimal(18,6)").cast("string"))).as("scaled")),
      // Mirrors standardScale's op order exactly: per-dim mean and E[x²]
      // from DECIMAL(27,18) sums cast to double then divided by n, std =
      // sqrt(E[x²] − mean²) (correctly-rounded IEEE sqrt on both
      // engines), element = (x − mean)/std, zero-variance dims → 0.
      Some(
        """WITH pts AS (
          | SELECT vec_id,
          |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
          | FROM embeddings),
          |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
          |st AS (
          | SELECT dim,
          |  CAST(SUM(CAST(list_extract(x, dim) AS DECIMAL(27,18)))
          |    AS DOUBLE) / (SELECT n FROM n) AS mean,
          |  CAST(SUM(CAST(list_extract(x, dim) * list_extract(x, dim)
          |    AS DECIMAL(27,18))) AS DOUBLE) / (SELECT n FROM n) AS ex2
          | FROM pts, range(1, 65) r(dim) GROUP BY dim),
          |sd AS (SELECT dim, mean,
          |  sqrt(GREATEST(ex2 - mean * mean, 0)) AS std FROM st)
          |SELECT vec_id,
          | array_to_string(list(val ORDER BY dim), ',') AS scaled FROM (
          | SELECT p.vec_id, s.dim,
          |  CAST(CAST(CASE WHEN s.std = 0 THEN 0.0
          |   ELSE round((list_extract(p.x, s.dim) - s.mean) / s.std, 6) + 0.0
          |   END AS DECIMAL(18,6)) AS VARCHAR) AS val
          | FROM pts p CROSS JOIN sd s) t
          |GROUP BY vec_id""".stripMargin))
  )
}
