package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Q26 shape: the reference's flagship end-to-end test
    * (/root/reference/test/q26_test.jl:63-88).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q26_shape")(spark, "/root/testdata/sf0.001")

  /** Every query with its oracle; adding a query is adding one spec. */
  val registry: Seq[QuerySpec] =
    RelationalQueries.specs ++ SeriesQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ SimilarityQueries.specs ++ MLQueries.specs ++
      StreamTextQueries.specs ++ SourceQueries.specs ++
      SampleQueries.specs ++ BasketQueries.specs ++ LinalgQueries.specs ++
      SearchQueries.specs ++ CorpusQueries.specs ++ SketchQueries.specs ++
      LayoutQueries.specs ++ GraphQueries.specs ++ ProfileQueries.specs ++
      EncodeQueries.specs

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.body).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; queries without an oracle are absent. */
  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
