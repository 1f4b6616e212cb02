package graft.tools


/** Dev tuner for the gate metric (not part of the driver contract):
  * sweeps the knob that governs the corpus word-count's task shape —
  * the scan-split target bytes — and prints the median-of-3 wall for
  * each value, same measurement as Bench's corpus run (full
  * formattedBytes, file sink). The corpus is 15 MB / ~57k vocabulary, so
  * the optimum is dominated by fixed per-task overhead, not data volume;
  * this sweep is how the committed default in WordCount.formattedBytes
  * was (re)chosen.
  *
  *   sbt "runMain graft.tools.WcTune"
  */
object WcTune {
  def main(args: Array[String]): Unit = {
    val corpusDir = new java.io.File("/root/reference/raw_text_input")
    val names = corpusDir.list()
    if (names == null) sys.error(s"corpus directory $corpusDir is missing or unreadable")
    val paths = names.sorted.map(f => s"${corpusDir.getPath}/$f").toSeq
    val spark = graft.SessionTuning.benchSession("graft-wctune")

    def run(): Unit = {
      val bytes = graft.operators.WordCount.formattedBytesInner(
        spark, paths, paths.head, includeUnique = true)
      val out = java.io.File.createTempFile("graft_wctune", ".txt")
      try java.nio.file.Files.write(out.toPath, bytes)
      finally out.delete()
    }
    def median3(): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }

    spark.conf.set("spark.sql.files.openCostInBytes", (64L * 1024).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (256L * 1024).toString)
    run(); run() // warm
    for (splitKb <- Seq(128, 256, 512, 1024, 2048)) {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (splitKb * 1024L).toString)
      val t = median3()
      println(f"[wctune] splitKb=$splitKb%5d -> $t%.3f s")
    }
    spark.stop()
  }
}
