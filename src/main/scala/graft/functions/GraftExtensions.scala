package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one extension path: registers the graft custom expressions as
  * SQL functions, so `spark.sql("SELECT graft_simhash64(tokens) ...")`
  * works alongside the DataFrame wrappers in [[VectorExprs]], plus the
  * top-k-per-key planner strategy. [[graft.Session]] calls it on every
  * session it builds.
  */
object GraftExtensions {

  private val definitions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_float_dot" -> (es => VectorExprs.FloatVecDot(es(0), es(1))),
    "graft_simhash64" -> (es => VectorExprs.SimHash64(es(0))))

  /** Register on a live session; idempotent (functions are replaced,
    * the strategy is added once).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    definitions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    graft.plans.TopKPerKey.ensureRegistered(spark)
  }
}
