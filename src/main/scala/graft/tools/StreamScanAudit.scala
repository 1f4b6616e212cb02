package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev audit (not part of the driver contract) — the STREAMING sibling
  * of [[ScanAudit]]: catches a stream-static side or an initial-state
  * bootstrap that re-scans its source EVERY micro-batch instead of
  * once. Batch ScanAudit counts scan nodes in one final plan; a
  * streaming query re-plans per batch, so the equivalent defect (a
  * static subplan re-executed per trigger against a 100 TB corpus) is
  * invisible to plan inspection and only shows up as per-batch IO.
  *
  * Method: run each stateful streaming transform twice over the SAME
  * 3-file split of the documents table — once as ONE micro-batch (no
  * trigger cap) and once as THREE (`maxFilesPerTrigger=1`) — and
  * compare total file-source bytes read (stage `inputMetrics`, listener
  * bus drained around each run). The streamed files are read once in
  * both runs, schema-inference/footer noise is identical in both, so
  * `delta = bytes(3-batch) − bytes(1-batch)` isolates exactly the
  * per-batch re-execution cost of static subplans: a well-behaved
  * query's delta is ~0; a static-side-per-batch query pays ~2 extra
  * static scans. Flag when delta exceeds half the split corpus size.
  *
  * Two real findings on its first run (round 11), both fixed the same
  * day: `stream_decontam` re-read and re-shingled the eval corpus every
  * batch, and `stream_mix_sample` re-ran the corpus-sized snapshot
  * aggregation every batch to rebuild its L-row probability table —
  * Spark re-executes stream-static subplans per trigger BY CONTRACT,
  * so the fix is checkpointing the bounded artifact (gram set / prob
  * table) once; per-batch cost is then cached-block reads of the
  * artifact, not source scans. Both now audit delta=0.
  *
  *   sbt "runMain graft.tools.StreamScanAudit"
  */
object StreamScanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.session("graft-stream-scan-audit", "local[8]", 8)
    import spark.implicits._
    import graft.streaming.Streaming

    // FILE bytes via Hadoop FileSystem statistics, not stage
    // inputMetrics: cached/checkpointed block re-reads (the CORRECT
    // per-batch shape for a bounded static artifact) also increment
    // inputMetrics.bytesRead, which would flag the fix as the defect;
    // BlockManager reads bypass the `file`-scheme FS, so FS statistics
    // isolate genuine source re-scans. local[*] keeps every task in
    // this JVM, so the JVM-global counter sees all of them.
    def fsBytes(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val batches = new AtomicLong
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.incrementAndGet()
    })
    def drain(): Unit =
      org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)

    // 3-file split of the documents table, every file carrying the
    // synthetic in-window ts the TTL forms expect
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val split = java.nio.file.Files.createTempDirectory("graft_ssa_").toString
    val src = Streaming.withInWindowTs(graft.sources.Tables.documents(spark, sfDir))
    (0 until 3).foreach { k =>
      val part = src.filter(pmod($"doc_id", lit(3)) === k).coalesce(1)
      val tmp = s"$split/stage$k"
      part.write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$split/b$k.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    val corpusBytes = new java.io.File(split).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val schema = spark.read.parquet(split).schema
    def stream(batched: Boolean): DataFrame = {
      val r = spark.readStream.schema(schema)
      (if (batched) r.option("maxFilesPerTrigger", "1") else r).parquet(split)
    }

    import graft.operators.{Curation, Dedup}
    val freshPred = Dedup.isFresh($"doc_id")
    def prior = spark.read.parquet(split).filter(!freshPred)
    def evalSlice = spark.read.parquet(split)
      .filter(Curation.isEval($"doc_id"))
    def snapshot = spark.read.parquet(split)

    val audits: Seq[(String, Boolean => DataFrame)] = Seq(
      "stream_dedup_exact" -> (b => Streaming.runDedupStream(stream(b))),
      "stream_dedup_ttl" -> (b => Streaming.runDedupStreamTTL(stream(b), "1 hour")),
      "stream_dedup_minhash" -> (b => Streaming.runNearDupStream(stream(b))),
      "stream_dedup_minhash_ttl" ->
        (b => Streaming.runNearDupStreamTTL(stream(b), 3600L * 1000)),
      "stream_dedup_minhash_warmstart_ttl" ->
        (b => Streaming.runNearDupStreamWarmstartTTL(
          stream(b).filter(freshPred), prior, 3600L * 1000)),
      "stream_dedup_chunks_ngram" ->
        (b => Streaming.runDedupChunksStreamTTL(stream(b), 3600L * 1000)),
      "stream_dedup_lines" -> (b => Streaming.runDedupLinesStream(stream(b))),
      "stream_pipeline_samples" -> (b => Streaming.runPipelineSamplesStream(stream(b))),
      "stream_pipeline_samples_ttl" ->
        (b => Streaming.runPipelineSamplesStreamTTL(stream(b), "1 hour")),
      "stream_pipeline_samples_warmstart" ->
        (b => Streaming.runPipelineSamplesStreamWarmstartTTL(
          stream(b).filter(freshPred), prior, "1 hour")),
      "stream_decontam" ->
        (b => Streaming.runDecontamStream(stream(b), evalSlice)),
      "stream_mix_sample" -> (b => Streaming.runMixSampleStream(stream(b), snapshot)),
      // encoded vocab fits once off static reads before the stream
      // starts (checkpointed); per-batch bytes must be delta-only
      "stream_bpe_encode" ->
        (b => Streaming.runBpeEncodeStream(stream(b), snapshot)),
      "stream_lm_score" ->
        (b => Streaming.runLmScoreStream(stream(b).filter(freshPred), prior)),
      "stream_quality_model" ->
        (b => Streaming.runQualityModelStream(stream(b).filter(freshPred), prior)),
      // both DSIR models fit once off static reads (target = prior
      // slice, background = static fresh slice) before the stream
      // starts; per-batch bytes must be delta-only
      // prior gram index materializes once; the stream-static left join
      // must read checkpoint blocks, not re-scan the prior per batch
      "stream_novelty" ->
        (b => Streaming.runNoveltyStream(stream(b).filter(freshPred), prior)),
      // prior gram index loads as initialState BEFORE the stream starts;
      // per-batch bytes must be delta-only
      "stream_substring_incremental" ->
        (b => Streaming.runSubstringIncrementalStream(
          stream(b).filter(freshPred), prior)),
      // two streaming passes (sketch state + truth harness), each
      // reading every file once — per-batch bytes must stay delta-only
      "stream_heavy_hitters_cms" ->
        (b => Streaming.runHeavyHittersCmsStream(stream(b), stream(b))),
      "stream_dsir_weights" ->
        (b => Streaming.runDsirStream(stream(b).filter(freshPred),
          prior.filter($"lang" === "en"), spark.read.parquet(split).filter(freshPred))),
      // stateless: the eval set collects before the stream starts, so
      // per-batch bytes must be DELTA-ONLY with no static re-read at all
      "stream_decontam_strip" ->
        (b => Streaming.runDecontamStripStream(stream(b), evalSlice)),
      // stateless per-row blocklist — no static side at all
      "stream_badwords" -> (b => Streaming.runBadwordsStream(stream(b))),
      // static eval VECTORS checkpoint once; per-batch bytes must be
      // delta-only (the runDecontamStream rule one modality over).
      // documents stand in for embeddings via a synthetic vector — the
      // audit measures IO shape, not scores.
      "stream_decontam_semantic" ->
        (b => Streaming.runDecontamSemanticStream(
          stream(b).select($"doc_id".as("vec_id"),
            array(($"doc_id" % 7).cast("float"), lit(1f)).as("embedding")),
          spark.read.parquet(split).limit(40)
            .select($"doc_id".as("vec_id"),
              array(($"doc_id" % 5).cast("float"), lit(1f)).as("embedding")))),
    )

    def measure(f: => DataFrame): (Long, Long) = {
      drain(); batches.set(0)
      val before = fsBytes()
      f.collect()
      drain()
      (fsBytes() - before, batches.get)
    }

    for ((name, run) <- audits if name.contains(args.headOption.getOrElse(""))) {
      val (one, b1) = measure(run(false))
      val (three, b3) = measure(run(true))
      val delta = three - one
      // a static subplan re-executed per batch pays ~2 extra static
      // scans across 3 batches; a quarter of the corpus is far above
      // footer / state-store noise while catching a re-scanned slice
      // (the original corpus/2 bar let stream_mix_sample's 2 extra
      // ~50%-pruned snapshot scans slip under by 91 bytes)
      val mark = if (b3 < 2) "SKIP" else if (delta > corpusBytes / 4) "MULTI" else "ok"
      println(f"[$mark%-5s] $name%-36s batches=$b1%d/$b3%d " +
        f"bytes=$one%d/$three%d delta=$delta%d corpus=$corpusBytes%d")
    }
    spark.stop()
  }
}
