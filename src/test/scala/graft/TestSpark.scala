package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs (one JVM per `sbt test`). */
object TestSpark {
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = Sessions.graft(4)
}
