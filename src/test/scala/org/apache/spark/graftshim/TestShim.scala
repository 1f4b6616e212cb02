package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test-only bridge into `private[spark]` internals: the reliable-
  * checkpoint spec must RESTORE the shared session's "no checkpoint
  * dir" default after exercising the durable path — SparkContext
  * exposes a setter but no public unset, and leaving the dir set would
  * silently flip every later CC-loop spec onto the reliable tier. */
object TestShim {
  def clearCheckpointDir(sc: SparkContext): Unit =
    sc.checkpointDir = None

  /** A copy of the calling thread's local properties (job tags,
    * description, …), which SparkContext reads one key at a time only. */
  def localProperties(sc: SparkContext): Map[String, String] = {
    val p = sc.getLocalProperties
    p.stringPropertyNames.toArray(Array.empty[String]).map(k => k -> p.getProperty(k)).toMap
  }
}
