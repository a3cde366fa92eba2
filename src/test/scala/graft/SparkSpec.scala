package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites, built by [[Session]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session("spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
