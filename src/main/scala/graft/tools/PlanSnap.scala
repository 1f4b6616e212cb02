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
  * Bench executes. Expression ids (`#123`), RDD ids (`RDD[45]`),
  * exchange ids (`plan_id=67`) and lambda variable suffixes (`x_8`) are
  * masked, since they count up with everything the JVM planned before,
  * and so are the source lines of an RDD's call site (`Curation.scala:89`),
  * which move with any edit above them: a `diff` of two snapshots is
  * empty exactly when the plans match.
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
          mask(plan).getBytes(StandardCharsets.UTF_8))
        println(s"[plansnap] wrote ${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  private[tools] def mask(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("plan_id=\\d+", "plan_id=N").replaceAll("\\.scala:\\d+", ".scala:N")
      .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_N#")
}
