package graft.tools


import graft.operators.TextAnalysis
import graft.sources.Tables

/** Dev probe: the batched BPE fit at PRODUCTION merge counts — the
  * measurement the 32k-vocab job-count argument extrapolates from
  * (r16 VERDICT: the claim rested on an 8-merge run). Prints ONE JSON
  * line: merges actually kept, Spark jobs submitted, wall, wall/merge.
  *
  *   runMain graft.tools.BpeScaleProbe <sfDir|corpus.txt> <iters> <batch> \
  *     [maxMerges] [curveEvery]
  *
  * `maxMerges` (default unbounded) stops the fit the first pass the
  * kept-merge total reaches it — the "run to 32k" form; `curveEvery`
  * (default 40) prints a keep-rate curve row every N passes
  * (pass, merges, wall so far), the plateau evidence SCALING.md cites.
  *
  * A `.txt` source is read line-per-doc — needed because the synthetic
  * documents tables have a ~31-word vocabulary (max ~138 possible
  * merges, measured exhaustion at 113): production merge counts need a
  * real-vocabulary corpus, and the committed wordcount golden corpus
  * (Project Gutenberg, ~114k distinct words) is exactly that. */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, itersS, batchS) = args.take(3)
    val (iters, batch) = (itersS.toInt, batchS.toInt)
    val maxMerges = args.lift(3).map(_.toInt).getOrElse(Int.MaxValue)
    val curveEvery = args.lift(4).map(_.toInt).getOrElse(40)
    val byteMode = args.lift(5).contains("bytes")
    val spark = graft.SessionTuning.benchSession("graft-bpe-scale-probe")
    val counter = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    })
    val docs =
      if (sfDir.endsWith(".txt")) {
        import spark.implicits._
        spark.read.textFile(sfDir).rdd.zipWithIndex()
          .map { case (t, i) => (i, t) }.toDF("doc_id", "text")
      } else Tables.documents(spark, sfDir)
    val t0 = System.nanoTime()
    val fit = if (byteMode) TextAnalysis.textBpeFitBatchedBytesOn _
              else TextAnalysis.textBpeFitBatchedOn _
    val merges = fit(docs, iters, batch, maxMerges,
      (pass, keptNow, total) =>
        if (pass % curveEvery == 0 || total >= maxMerges)
          println(f"""{"curve_pass":$pass,"kept_this_pass":$keptNow,""" +
            f""""merges":$total,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
    ).collect()
    org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)
    val wall = (System.nanoTime() - t0) / 1e9
    val n = merges.length
    println(f"""{"sf_dir":"$sfDir","iters":$iters,"batch":$batch,""" +
      f""""merges":$n,"jobs":${counter.get},"wall_sec":$wall%.2f,""" +
      f""""ms_per_merge":${if (n > 0) wall * 1000 / n else -1.0}%.1f}""")
    spark.stop()
  }
}
