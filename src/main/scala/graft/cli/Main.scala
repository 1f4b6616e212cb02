package graft.cli

import graft.operators.WordCount

/** CLI reproducing the reference's contract: `run <files...>` prints the
  * omp-format result to stdout (`omp.cpp:219-223`); `--out FILE` writes the
  * hybrid format (adds `Unique words found: N`, `hybrid.cpp:444-453`).
  * The header names the first input path even when aggregating many files
  * (reference behavior, `omp.cpp:220`). */
object Main {
  def main(args: Array[String]): Unit = {
    val (outFile, paths) = args.toSeq match {
      case Seq("--out", f, rest @ _*) => (Some(f), rest)
      case other => (None, other)
    }
    require(paths.nonEmpty, "usage: graft.cli.Main [--out FILE] <files...>")
    val spark = graft.SessionTuning.session("graft-wordcount",
      sys.env.getOrElse("SPARK_MASTER", "local[32]"), 32)
    val t0 = System.nanoTime()
    val bytes = WordCount.formattedBytes(spark, paths, paths.head,
      includeUnique = outFile.isDefined)
    outFile match {
      case Some(f) => java.nio.file.Files.write(java.nio.file.Paths.get(f), bytes)
      case None => System.out.write(bytes); System.out.flush()
    }
    System.err.println(f"graft time: ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    spark.stop()
  }
}
