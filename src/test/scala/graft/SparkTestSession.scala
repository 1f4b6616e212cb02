package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites share the JVM
  * under `Test / fork := true`). */
object SparkTestSession {
  lazy val spark: SparkSession = SessionTuning.session("graft-test", "local[8]", 8)

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
