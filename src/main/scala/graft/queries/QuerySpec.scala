package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its Spark body over a scale-factor directory and,
  * when the operator is SQL-expressible, the DuckDB SQL that must return
  * the same rows on the same parquet tables. `None` marks a query
  * checked by golden specs instead (rows-only in the differential). */
final case class QuerySpec(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)
