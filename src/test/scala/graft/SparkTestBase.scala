package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestBase {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Session.local(Some(sfDir), cpus = 4)
}
