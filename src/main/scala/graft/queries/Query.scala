package graft.queries

import scala.language.implicitConversions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the names of its artifacts, its Spark
  * body `(spark, sfDir) => Query.Out`, and the DuckDB SQL that must
  * return the same rows over the same parquet tables (column names and
  * aliases identical on both sides). Each family file lists its records
  * in `all`; the file is the family.
  *
  * A body writes only storage that is part of its own semantics. Any
  * other frame its oracle replays from is an artifact: declared here,
  * returned by the body next to the output, and written by
  * [[graft.Verify]] alone, to [[OracleAux.dir]].
  *
  * The oracle is by-name and renders each time it is read: oracle text
  * that embeds [[OracleAux.sqlDir]] paths follows the `sqlSfDir` set
  * before the read, not the one current when the record was built.
  */
final class Query(val name: String, val artifacts: Seq[String],
    val body: Query.Body, sql: => String) {
  def oracle: String = sql
  def frame(spark: SparkSession, sfDir: String): DataFrame =
    body(spark, sfDir).frame
}

object Query {
  type Body = (SparkSession, String) => Out

  /** The output frame and its named artifacts. A frame the output also
    * reads is pinned first, so its artifact holds the rows the output
    * used. A plain frame converts to an `Out` without artifacts.
    */
  final case class Out(frame: DataFrame,
      artifacts: Seq[(String, DataFrame)] = Nil)
  object Out { implicit def ofFrame(frame: DataFrame): Out = Out(frame) }

  def apply(name: String, body: Body, oracle: => String): Query =
    new Query(name, Nil, body, oracle)
  def apply(name: String, artifacts: Seq[String], body: Body,
      oracle: => String): Query = new Query(name, artifacts, body, oracle)
}
