package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites, built by [[Session]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session("spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Whether `df`'s analyzed plan evaluates an expression of type `E` —
    * how a test reads which route an adaptive operator planted.
    */
  def plants[E <: Expression: ClassTag](df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.expressions.exists(
      _.exists(classTag[E].runtimeClass.isInstance)))
}
