package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to
  * `(spark, sfDir) => DataFrame`; `oracleSql` carries each query's DuckDB
  * twin. Column names/aliases are identical on both sides (the driver
  * sorts columns by name before hashing). Both maps derive from one
  * record list, so every query has exactly one oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("fraud_window_sum")(spark, "/root/testdata/sf0.001")

  /** Every registry record, family by family. A new family file only has
    * to be added here; SparkEntrySpec guards the names' uniqueness.
    */
  val records: Seq[Query] = ReferenceQueries.all ++ BreadthQueries.all ++
    GraphQueries.all ++ TextQueries.all ++ TokenQueries.all ++
    SamplingQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
    MultimodalQueries.all ++ TpchQueries.all

  /** Records by name. Its iteration order is the registry order that
    * `queries`, `oracleSql`, Verify's run and its JSON files follow.
    */
  lazy val byName: Map[String, Query] = records.map(q => q.name -> q).toMap

  /** One entry per implemented operator from SURVEY.md §2: each
    * record's output frame, without its artifacts. Cached: per-query
    * callers look names up one at a time.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.frame _ }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Rendered on first read, so a main that
    * dumps it (Verify) sets `OracleAux.sqlSfDir` before reading.
    */
  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, q) => n -> q.oracle }
}
