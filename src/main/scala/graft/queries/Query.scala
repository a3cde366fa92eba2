package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, its Spark body `(spark, sfDir) =>
  * DataFrame`, and the DuckDB SQL that must return the same rows over
  * the same parquet tables (column names and aliases identical on both
  * sides). Each family file lists its records in `all`; the file is the
  * family.
  *
  * The oracle is by-name and renders each time it is read: oracle text
  * that embeds [[OracleAux.sqlDir]] paths follows the `sqlSfDir` set
  * before the read, not the one current when the record was built.
  */
final class Query(val name: String, val body: Query.Body, sql: => String) {
  def oracle: String = sql
}

object Query {
  type Body = (SparkSession, String) => DataFrame

  def apply(name: String, body: Body, oracle: => String): Query =
    new Query(name, body, oracle)
}
