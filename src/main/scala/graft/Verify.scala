package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...]; with names given, only those
    // queries are dumped (dev loop) — the driver always passes two args.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionTuning.session("graft-verify", s"local[$cpus]", cpus.toInt)
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = run(spark, sfDir, outDir, queries, SparkEntry.oracleSql)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }

  /** Dump each query's result to `$outDir/<name>` parquet, the oracle SQL
    * to `oracle_sql.json`, and — crucially — every thrown query to
    * `failed_queries.json` (name → exception). A throwing query must be
    * LOUD in the artifact, not a silently missing key: in round 9 a
    * loader break made 14 green queries vanish from the correctness
    * report without a single red row, because the only trace was a
    * stderr line the driver never reads. Returns the failure map so
    * specs can exercise this path directly (VerifySpec). */
  private[graft] def run(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // NonFatal only: an OutOfMemoryError / LinkageError means the JVM
      // itself is suspect, and recording it as one query's failure while
      // later queries run in a corrupted JVM would produce a plausible-
      // looking artifact from a broken process. Fatal errors propagate
      // and crash the run — the driver sees a nonzero exit, not a
      // half-complete correctness dump.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) =
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeJson(path: String, m: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(path),
        m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    writeJson(s"$outDir/oracle_sql.json", oracleSql)
    writeJson(s"$outDir/failed_queries.json", failed)
    failed.toMap
  }
}
