package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Search

/** Full-text relevance queries (TF-IDF / BM25) over `documents`, with
  * bit-faithful DuckDB mirrors (scores rounded to 6dp — the one ln()
  * call is the only op whose last ulp may differ between libms; all
  * other arithmetic is correctly-rounded IEEE, identical by spec).
  */
object SearchQueries {

  private val terms = Seq("spark", "join", "vector")
  private val termList = terms.map(t => s"'$t'").mkString(", ")

  private val toks = graft.functions.Text.tokensSql("text")

  /** Shared posting/df/stat CTEs: postings restricted to the query
    * terms, document frequencies over those postings, and the exact
    * corpus stats (integer token sum ÷ count). */
  private val base =
    s"""tt AS (SELECT doc_id, $toks AS ts FROM documents),
       |post AS (
       | SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
       |  SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM tt) e
       | WHERE term IN ($termList)
       | GROUP BY doc_id, dl, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
       |stats AS (
       | SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(len(ts)) AS DOUBLE) / COUNT(*) AS avgdl FROM tt)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Smoothed TF-IDF weight per (doc, query-term).
    QuerySpec("q_tfidf", (s, dir) =>
      Search.tfIdf(Tables.load(s, dir, "documents"), "doc_id", "text", terms)
        .select(col("doc_id"), col("term"),
          round(col("tfidf"), 6).as("tfidf")),
      Some(
        s"""WITH $base
           |SELECT p.doc_id, p.term,
           | ROUND(CAST(p.tf AS DOUBLE)
           |   * (ln((1.0 + s.n_docs) / (1.0 + d.df)) + 1.0), 6) AS tfidf
           |FROM post p JOIN dfreq d ON p.term = d.term, stats s""".stripMargin)),

    // BM25 score of every matching document for a fixed 3-term query.
    QuerySpec("q_bm25", (s, dir) =>
      Search.bm25(Tables.load(s, dir, "documents"), "doc_id", "text", terms)
        .select(col("doc_id"), round(col("score"), 6).as("score")),
      Some(
        s"""WITH $base,
           |sc AS (
           | SELECT p.doc_id,
           |  ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           |   * (p.tf * 2.2)
           |   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS sterm
           | FROM post p JOIN dfreq d ON p.term = d.term, stats s)
           |SELECT doc_id,
           | ROUND(CAST(SUM(CAST(sterm AS DECIMAL(27,18))) AS DOUBLE), 6)
           |   AS score
           |FROM sc GROUP BY doc_id""".stripMargin)),

    // Top-k retrieval: ranked on the rounded score, doc_id tie-break.
    QuerySpec("q_bm25_topk", (s, dir) =>
      Search.bm25TopK(Tables.load(s, dir, "documents"), "doc_id", "text",
        terms, k = 20),
      Some(
        s"""WITH $base,
           |sc AS (
           | SELECT p.doc_id,
           |  ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           |   * (p.tf * 2.2)
           |   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS sterm
           | FROM post p JOIN dfreq d ON p.term = d.term, stats s)
           |SELECT doc_id, score FROM (
           | SELECT doc_id,
           |  ROUND(CAST(SUM(CAST(sterm AS DECIMAL(27,18))) AS DOUBLE), 6)
           |    AS score
           | FROM sc GROUP BY doc_id)
           |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin))
  )
}
