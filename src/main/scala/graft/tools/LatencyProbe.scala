package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe (not part of the driver contract): the fixed per-job /
  * per-shuffle-stage round-trip cost of the bench session shape —
  * trivial jobs, one-shuffle jobs and a representative query, timed
  * warm under AQE on/off, so a stage-count reduction can be priced.
  *
  *   sbt "runMain graft.tools.LatencyProbe"
  */
object LatencyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionTuning.benchSession("graft-latency-probe")
    import spark.implicits._
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def bench(name: String, n: Int)(f: => Unit): Unit = {
      f // warm
      val ws = (1 to n).map(_ => time(f))
      println(f"[latency] $name%-40s min=${ws.min}%.3f med=${ws.sorted.apply(n / 2)}%.3f walls=${ws.map(w => f"$w%.3f").mkString(",")}")
    }
    bench("df_range_noop", 8)(noop(spark.range(32).toDF))
    bench("shuffle_1map_1red", 8)(noop(spark.range(1000).coalesce(1).groupBy(($"id" % 50).as("k")).count()))
    bench("df_one_shuffle_32p", 8)(noop(spark.range(1000).groupBy(($"id" % 50).as("k")).count()))
    bench("df_one_shuffle_32map_200p", 8)(noop(
      spark.range(1000).repartition(200, $"id").groupBy(($"id" % 50).as("k")).count()))
    bench("localcheckpoint_32p", 8)(spark.range(1000).repartition(32).toDF.localCheckpoint(true).unpersist())
    bench("localcheckpoint_noshuffle_32p", 8)(spark.range(1000).toDF.localCheckpoint(true).unpersist())
    bench("persist_count_32p", 8) {
      val df = spark.range(1000).repartition(32).toDF.persist()
      df.count(); df.unpersist()
    }
    bench("localcheckpoint_4p", 8)(spark.range(1000).repartition(4).toDF.localCheckpoint(true).unpersist())
    bench("noop_shuffle32_same", 8)(noop(spark.range(1000).repartition(32).toDF))
    bench("q1", 8)(noop(graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir)))
    spark.stop()
  }
}
