package graft

/** Dev smoke runner mirroring the driver's t1 gate: `entry()` on sf0.001
  * must return rows. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.session("graft-smoke", "local[8]", 8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(20, truncate = false)
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
