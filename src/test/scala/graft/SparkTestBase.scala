package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object SparkTestBase {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = LocalSession(4, "spark.app.name" -> "graft-tests")
}
