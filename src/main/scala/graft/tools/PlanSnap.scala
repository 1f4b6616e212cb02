package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: write `df.explain("formatted")` for a list of queries to
  * files — the before/after plan evidence for an optimization round.
  *
  *   sbt "runMain graft.tools.PlanSnap <outDir> <suffix> <q1> <q2> ..."
  *
  * writes <outDir>/<q>_<suffix>.txt per query. Uses the bench session
  * shape (local[32], shuffle=32, AQE on) at sf0.1 so plans match what
  * Bench executes.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <queries...>")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.SessionTuning.session("graft-plan-snap", "local[32]", 32)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[plansnap] wrote ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
