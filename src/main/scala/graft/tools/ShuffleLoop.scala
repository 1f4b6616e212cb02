package graft.tools


/** Dev probe: tight loop of tiny 32x32 shuffles so a profiler/jstack can
  * catch where the ~0.25 s per-shuffle constant goes. */
object ShuffleLoop {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.benchSession("graft-shuffle-loop")
    val n = args.headOption.map(_.toInt).getOrElse(300)
    val t0 = System.nanoTime()
    (1 to n).foreach { _ =>
      spark.range(1000).repartition(32).toDF
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[shuffleloop] $n iters, ${(System.nanoTime() - t0) / 1e9 / n}%.4f s/iter")
    spark.stop()
  }
}
