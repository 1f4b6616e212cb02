package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev profiler (not part of the driver contract): runs ONE query from
  * [[SparkEntry.queries]] twice at sf0.1 under the bench session config
  * and prints a per-stage metrics line for every non-trivial stage —
  * the tool that localizes a bench regression to its stage (cold vs
  * warm, CPU vs shuffle vs GC) where Bench's per-query aggregate only
  * says *that* a query is slow.
  *
  *   sbt "runMain graft.Scratch dedup_ngram_jaccard"            # profile
  *   sbt "runMain graft.Scratch dedup_ngram_jaccard --explain"  # + plan
  *   sbt "runMain graft.Scratch dedup_ngram_jaccard --final"    # + post-AQE plan
  *
  * A/B confs go through SPARK_GRAFT_CONF_EXTRA, as for Bench.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.benchSession("graft-scratch")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null && (m.executorRunTime > 200 || sys.env.contains("SCRATCH_ALL_STAGES"))) {
          val sub = si.submissionTime.getOrElse(0L)
          val done = si.completionTime.getOrElse(0L)
          println(f"[stage ${si.stageId}%3d] t=${sub % 100000}%6d..${done % 100000}%6d " +
            f"tasks=${si.numTasks}%3d " +
            f"run=${m.executorRunTime}%6d ms cpu=${m.executorCpuTime / 1000000L}%6d ms " +
            f"gc=${m.jvmGCTime}%5d in=${m.inputMetrics.bytesRead}%9d " +
            f"sr=${m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead}%9d " +
            f"recs=${m.shuffleReadMetrics.recordsRead}%9d " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten}%9d")
        }
      }
    })
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.headOption.getOrElse("dedup_ngram_jaccard")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("--explain")) df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[scratch] $name run1 ${(System.nanoTime() - t0) / 1e9}%.3f s")
    if (args.contains("--final")) {
      // the POST-AQE executed plan — what ScanAudit counts scans in.
      // Must run collect() on THIS QueryExecution: a noop write spawns
      // its own, leaving df's adaptive plan un-finalized.
      val df2 = SparkEntry.queries(name)(spark, sfDir)
      df2.collect()
      val p = df2.queryExecution.executedPlan.toString
      val cut = p.indexOf("Initial Plan")
      println("=== final plan ===")
      println(if (cut >= 0) p.substring(0, cut) else p)
    }
    Thread.sleep(1000)
    println("=== run2 (warm — what Bench measures) ===")
    val t1 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    println(f"[scratch] $name run2 ${(System.nanoTime() - t1) / 1e9}%.3f s")
    Thread.sleep(1000)
    spark.stop()
  }
}
