package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite, local threads, UTC, small shuffle. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession.builder(4)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"
}
