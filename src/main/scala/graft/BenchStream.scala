package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Honest ingest-tier benchmark: the flagship streaming samples pipeline
  * (`stream_pipeline_samples_ttl`'s transform) run file-source →
  * checkpointed parquet file sink over the whole corpus split into
  * micro-batches — the production deployment shape. The memory-sink
  * harness the correctness queries use measures the rig (driver-side
  * table append), so the README's ingest-tier claims need this number
  * instead: wall time, docs/sec, emitted rows, folded samples, and the
  * state store's own size metrics from the query progress.
  *
  * Protocol mirrors Bench: one staging pass (split the corpus into
  * [[Batches]] files so `maxFilesPerTrigger=1` drives a real multi-batch
  * run with state carried across micro-batches), one warm run (codegen +
  * classloading), one measured run. Output: ONE JSON line on stdout,
  * mirrored to `bench_stream.json`.
  */
object BenchStream {
  private val Batches = 8

  private case class Run(wallSec: Double, batches: Int, emitted: Long,
    samples: Long, stateRows: Long, stateMem: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session("graft-bench-stream", s"local[$cpus]", cpus.toInt)

    val work = Files.createTempDirectory("graft_stream_bench").toString
    val src = s"$work/src"
    val staged = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = staged.count()
    staged.repartition(Batches).write.mode("overwrite").parquet(src)

    runOnce(spark, src, s"$work/warm") // warm-up: not reported
    val r = runOnce(spark, src, s"$work/run")

    // the RESTART shape: the prior snapshot's chunk-hash index
    // bootstraps the state (initialState), ONLY the delta streams —
    // the per-ingest steady state a re-deployed pipeline runs; its
    // docs/s is over the delta (the work actually done per crawl)
    val deltaSrc = s"$work/delta"
    val (priorDocs, deltaDocs) = graft.operators.Dedup.snapshotSplit(staged, "doc_id")
    val nDelta = deltaDocs.count()
    deltaDocs.repartition(Batches).write.mode("overwrite").parquet(deltaSrc)
    runWarmstart(spark, deltaSrc, priorDocs, s"$work/ws_warm") // warm-up
    val w = runWarmstart(spark, deltaSrc, priorDocs, s"$work/ws_run")

    val json = "{" + Seq(
      "\"metric\":\"stream_pipeline_samples_ttl_file\"",
      "\"unit\":\"sec\"",
      s""""sf":"$sfDir"""",
      s""""docs":$nDocs""",
      s""""batches":${r.batches}""",
      s""""wall_sec":${"%.4f".format(r.wallSec)}""",
      s""""docs_per_sec":${"%.1f".format(nDocs / r.wallSec)}""",
      s""""emitted_rows":${r.emitted}""",
      s""""samples":${r.samples}""",
      s""""state_rows":${r.stateRows}""",
      s""""state_mem_bytes":${r.stateMem}""",
      s""""warmstart":{"docs":$nDelta,"batches":${w.batches},""" +
        s""""wall_sec":${"%.4f".format(w.wallSec)},""" +
        s""""docs_per_sec":${"%.1f".format(nDelta / w.wallSec)},""" +
        s""""emitted_rows":${w.emitted},"samples":${w.samples},""" +
        s""""state_rows":${w.stateRows},"state_mem_bytes":${w.stateMem}}""")
      .mkString(",") + "}"
    println(json)
    Files.write(Paths.get("bench_stream.json"), (json + "\n").getBytes)
    spark.stop()
  }

  /** One warm-start run: prior chunk index bootstrapped as initial
    * state, delta-only file source → checkpointed parquet sink. */
  private def runWarmstart(spark: SparkSession, deltaSrc: String,
      prior: org.apache.spark.sql.DataFrame, out: String): Run = {
    import spark.implicits._
    import graft.streaming.Streaming.withInWindowTs
    val schema = spark.read.parquet(deltaSrc).schema
    val docs = withInWindowTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(deltaSrc))
    val emissions = graft.streaming.Streaming
      .pipelineSamplesWarmstartTTLTransform(docs, withInWindowTs(prior), "1 hour")
    val t0 = System.nanoTime()
    val q = emissions.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress
    val state = progs.reverse.iterator
      .flatMap(_.stateOperators.headOption)
      .find(_.numRowsTotal > 0)
    val sinkDf = spark.read.parquet(s"$out/sink")
    Run(wall,
      progs.count(_.numInputRows > 0),
      sinkDf.count(),
      sinkDf.select($"h").distinct().count(),
      state.map(_.numRowsTotal).getOrElse(-1L),
      state.map(_.memoryUsedBytes).getOrElse(-1L))
  }

  /** One full file-source → file-sink run; wall time covers the stream
    * only (staging excluded), sink/fold reads happen after the clock
    * stops. */
  private def runOnce(spark: SparkSession, src: String, out: String): Run = {
    import spark.implicits._
    val schema = spark.read.parquet(src).schema
    // same synthetic in-window timestamps as the correctness harness
    // (streamPipelineSamplesTTL): every ts inside the TTL window, so the
    // run measures the keep path, not eviction churn
    val docs = graft.streaming.Streaming.withInWindowTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src))
    val emissions =
      graft.streaming.Streaming.pipelineSamplesTTLTransform(docs, "1 hour")
    val t0 = System.nanoTime()
    val q = emissions.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/sink")
      .option("checkpointLocation", s"$out/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress
    val state = progs.reverse.iterator
      .flatMap(_.stateOperators.headOption)
      .find(_.numRowsTotal > 0)
    val sinkDf = spark.read.parquet(s"$out/sink")
    // folded samples = one keep row per chunk hash (foldSamples semantics;
    // the count needs only the distinct-h cardinality)
    Run(wall,
      progs.count(_.numInputRows > 0),
      sinkDf.count(),
      sinkDf.select($"h").distinct().count(),
      state.map(_.numRowsTotal).getOrElse(-1L),
      state.map(_.memoryUsedBytes).getOrElse(-1L))
  }
}
