package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Dataset-curation operators for training pipelines: chunking documents
  * into overlapping windows, deterministic train/validation splitting,
  * and token-budget packing. All pure column/window plans — chunking is
  * per-row fan-out (no shuffle), split is a stateless hash, packing is
  * one ordered window per (global) sequence.
  */
object Curation {

  /** Submit independent materialization jobs concurrently (a standard
    * Spark driver pattern): the scheduler interleaves their stages
    * across the executor slots, so a pair-search job that can't fill
    * the cluster overlaps with a model fit instead of serializing
    * behind it. Laziness everywhere else is untouched — this only
    * overlaps EAGER work that would otherwise run back-to-back. */
  private[graft] def concurrently[A, B](fa: => A, fb: => B): (A, B) = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // dedicated pool, NOT the global ExecutionContext: blocking the
    // global pool from inside Await starves every other library using
    // it (the ADVICE-flagged hazard), and nested concurrently() calls
    // would deadlock a bounded shared pool
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val sc = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext)
    val tag = s"graft-concurrently-${System.nanoTime()}"
    // the FIRST side to fail is the root cause; the sibling then dies of
    // our own induced cancellation, and naive f1.zip(f2) surfaces
    // whichever future the zip is chained on — which can be the
    // cancellation SparkException, swallowing the real error (ADVICE r14)
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    // job TAGS, not setJobGroup: tags are a thread-local SET that child
    // threads inherit and ADD to, so a nested concurrently() on a side's
    // pool thread keeps the parent side's tag on its jobs — the parent's
    // sibling-cancellation (cancelJobsWithTag) therefore reaches nested
    // in-flight jobs too. setJobGroup is a single slot the nested call
    // would overwrite, leaving exactly the zombie jobs the cancellation
    // exists to prevent (ADVICE r14).
    def side[T](name: String, f: => T): Future[T] = Future {
      // if the sibling already failed, don't start at all: the sweep in
      // the failure callback is point-in-time, and a side that had not
      // yet submitted any job when it fired would otherwise run to full
      // completion under the wait-both await (ADVICE r15)
      if (firstFailure.get != null)
        throw new java.util.concurrent.CancellationException(
          s"concurrently: sibling failed before side '$name' started")
      sc.foreach { c =>
        c.addJobTag(s"$tag-$name")
        // cancelJobsWithTag alone cancels at job granularity; without
        // this, a cancelled side's in-flight TASKS hold executors until
        // they finish naturally — and the wait-both await blocks on
        // that. Thread-local, so it scopes to this side's jobs only
        // (ADVICE r15; restores the setJobGroup(interruptOnCancel=true)
        // semantics the r14 tag rewrite dropped).
        c.setInterruptOnCancel(interruptOnCancel = true)
      }
      try f
      catch { case t: Throwable => firstFailure.compareAndSet(null, t); throw t }
      finally sc.foreach(_.removeJobTag(s"$tag-$name"))
    }
    try {
      import scala.util.{Success, Try}
      val f1 = side("a", fa)
      val f2 = side("b", fb)
      f1.failed.foreach(_ => sc.foreach(_.cancelJobsWithTag(s"$tag-b")))
      f2.failed.foreach(_ => sc.foreach(_.cancelJobsWithTag(s"$tag-a")))
      // lift to Try so the await NEVER propagates a side's exception
      // directly — both sides always finish (the loser by cancellation),
      // then the recorded first failure is rethrown as the root cause
      val zipped =
        f1.transform(t => Success(t): Try[Try[A]])
          .zip(f2.transform(t => Success(t): Try[Try[B]]))
      // await in short slices, re-sweeping both tags whenever a failure
      // is on record: cancelJobsWithTag is point-in-time, so a job the
      // loser submitted AFTER the callback's sweep would otherwise run
      // to completion and the await would sit on it (ADVICE r15)
      import scala.concurrent.duration._
      var out: Option[(Try[A], Try[B])] = None
      while (out.isEmpty) {
        try out = Some(Await.result(zipped, 2.seconds))
        catch {
          case _: java.util.concurrent.TimeoutException =>
            if (firstFailure.get != null) sc.foreach { c =>
              c.cancelJobsWithTag(s"$tag-a"); c.cancelJobsWithTag(s"$tag-b")
            }
        }
      }
      val (r1, r2) = out.get
      (r1, r2) match {
        case (Success(a), Success(b)) => (a, b)
        case _ =>
          throw Option(firstFailure.get)
            .orElse(r1.failed.toOption).orElse(r2.failed.toOption).get
      }
    } finally pool.shutdown()
  }

  final val ChunkTokens = 50
  final val ChunkStride = 40 // 10-token overlap
  final val PackBudget = 2000

  /** Overlapping fixed-size token chunks per document: starts at
    * 0, stride, 2·stride, … while < n_tokens; each chunk takes up to
    * ChunkTokens tokens. */
  def textChunks(spark: SparkSession, sfDir: String): DataFrame =
    chunksOf(Tables.documents(spark, sfDir))

  /** The chunk expansion on any (doc_id, text) frame (spec entry
    * point: plantable chunk-aligned inputs). */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    chunksUnordered(docs).orderBy($"doc_id", $"chunk_idx")
  }

  /** The expansion without the final ordering — the ONE definition of
    * the stride arithmetic, shared by the batch paths (via
    * [[chunksOf]]) and the streaming samples pipeline (streams cannot
    * sort; see Streaming.runPipelineSamplesStream) so the two cannot
    * drift. */
  private[graft] def chunksUnordered(docs: DataFrame): DataFrame =
    chunksCarrying(docs)

  /** [[chunksUnordered]] carrying extra per-document columns through
    * the fan-out unchanged (every chunk inherits its document's value)
    * — the TTL streaming path needs the event time on each chunk for
    * watermark eviction. Same single stride definition. */
  private[graft] def chunksCarrying(docs: DataFrame, extra: String*): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val carried = extra.map(col)
    docs
      .select(($"doc_id" +: split($"text", " ").as("t") +: carried): _*)
      .select(($"doc_id" +: $"t" +:
        posexplode(sequence(lit(0), size($"t") - 1, lit(ChunkStride)))
          .as(Seq("chunk_idx", "start")) +: carried): _*)
      .select((
        $"doc_id" +: $"chunk_idx" +:
        concat_ws(" ", slice($"t", $"start" + 1, lit(ChunkTokens))).as("chunk_text") +:
        least(size($"t") - $"start", lit(ChunkTokens)).cast("long").as("n_tokens") +:
        carried): _*)
  }

  /** Deterministic hash-based 90/10 train/validation assignment (Knuth
    * multiplicative hash on the key — stateless, reproducible, no RNG). */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        when(pmod($"doc_id" * 2654435761L, lit(10L)) < 9, lit("train"))
          .otherwise(lit("val")).as("split"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"split", $"lang")
  }

  /** Token-budget packing: documents in doc_id order are assigned to the
    * bin their exclusive running token total falls in — the streaming/
    * deterministic approximation of first-fit packing into context
    * windows. Output: per-bin document counts and token totals.
    *
    * Scale shape: a global running sum is NOT a global window (that would
    * funnel every row through one partition). Instead: range-partitioned
    * sort on doc_id, then the two-pass per-partition prefix-sum trick also
    * used by WordCount.ranked — job 1 collects one Long per partition
    * (#partitions rows to the driver), job 2 adds the partition offset to
    * a local running sum. Every partition stays parallel. */
  def packBins(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    packPrepared(
      Tables.documents(spark, sfDir)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
        .orderBy($"doc_id"), // range partition: partitions are globally ordered
      "n_docs")
  }

  /** [[packBins]] with the budget in SUBWORD tokens — the unit trainers
    * actually pack context windows by (a 2000-whitespace-token budget
    * overstuffs a window by the subword inflation factor). Same
    * two-pass prefix-sum machinery; only the measure column changes to
    * [[graft.functions.BpeTokenCount]]'s greedy longest-match count
    * over the committed merges fixture. */
  def packBinsBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    packPrepared(
      Tables.documents(spark, sfDir)
        .select($"doc_id",
          graft.functions.BpeTokenCount($"text").as("n_tokens"))
        .orderBy($"doc_id"),
      "n_docs")
  }

  /** [[packBins]] at SAMPLE granularity: chunks in (doc_id, chunk_idx)
    * order packed into [[PackBudget]]-token context windows — the form
    * a trainer actually packs (documents are only packed whole when
    * they fit; chunks are the unit that does). Same two-pass
    * prefix-sum machinery, same scale shape. */
  def packChunks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    packPrepared(
      textChunks(spark, sfDir)
        .select($"doc_id", $"chunk_idx", $"n_tokens")
        .orderBy($"doc_id", $"chunk_idx"),
      "n_chunks")
  }

  /** [[packChunks]] with the budget in SUBWORD tokens — chunk
    * granularity × the BPE measure, completing the 2×2 the two axes
    * span (doc/chunk × whitespace/subword). Same machinery throughout;
    * n_tokens is recomputed from the chunk TEXT by the greedy
    * longest-match expression (a chunk's subword count is not derivable
    * from its whitespace count). */
  def packChunksBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    packPrepared(
      textChunks(spark, sfDir)
        .select($"doc_id", $"chunk_idx",
          graft.functions.BpeTokenCount($"chunk_text").as("n_tokens"))
        .orderBy($"doc_id", $"chunk_idx"),
      "n_chunks")
  }

  /** The shared two-pass packer over a PRE-SORTED frame with a long
    * `n_tokens` column (partitions globally ordered by the caller's
    * range sort): job 1 collects one Long per partition, job 2 adds
    * the partition offset to a local running sum — every partition
    * stays parallel, no global window. */
  private def packPrepared(sorted: DataFrame, countName: String): DataFrame = {
    val spark = sorted.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idx = sorted.schema.fieldIndex("n_tokens")
    val toks = sorted.rdd
    val perPart = toks.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(s += _.getLong(idx)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = perPart.scanLeft(0L)(_ + _) // exclusive prefix per partition
    val binned = toks.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.map { r =>
        val n = r.getLong(idx); val pre = run; run += n
        Row(pre / PackBudget, n)
      }
    }
    spark.createDataFrame(binned, StructType(Seq(
        StructField("bin", LongType, nullable = false),
        StructField("n_tokens", LongType, nullable = false))))
      .groupBy($"bin")
      .agg(count(lit(1)).as(countName), sum($"n_tokens").as("bin_tokens"))
      .orderBy($"bin")
  }

  /** Shard token budget for the training-shard writer: sized to yield
    * several shards at every driver SF (samples total ≈ 25k tokens at
    * sf0.01 → ~5 shards) while staying a realistic "size-bounded file"
    * stand-in. A production run sets this to the trainer's shard size
    * (e.g. ~100 MB of tokens). */
  final val ShardBudget = 5000L

  /** TRAINING-SHARD ASSIGNMENT (r15 VERDICT #6): every sample of the
    * materializing pipeline gets its deterministic shard id — the
    * exclusive token prefix sum in (doc_id, chunk_idx) order, integer-
    * divided by [[ShardBudget]] — so a trainer reads deterministic,
    * size-bounded shard files. Same scale-safe two-pass prefix-sum
    * machinery as [[packPrepared]] (per-partition sums collected, then
    * a per-partition running offset — no global window funnel), here
    * emitting the per-SAMPLE assignment the partitioned write consumes
    * instead of the per-bin aggregate. A shard's token total can
    * exceed the budget by at most one sample (bin = pre // budget, the
    * packer's convention). */
  def shardAssign(spark: SparkSession, sfDir: String): DataFrame =
    shardAssignOn(pipelineCurateSamples(spark, sfDir))

  private[graft] def shardAssignOn(samples: DataFrame,
      budget: Long = ShardBudget): DataFrame = {
    val spark = samples.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    // materialize once: the sizes pass and the emit pass are two jobs
    // over the same RDD, and the upstream pipeline is both expensive
    // and full of its own checkpoints — the dsirSelectFrom determinism
    // discipline, settled by materializing here
    val sorted = Materialize.frame(
      samples.select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")
        .orderBy($"doc_id", $"chunk_idx"))
    val nIdx = sorted.schema.fieldIndex("n_tokens")
    val rdd = sorted.rdd
    val perPart = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(s += _.getLong(nIdx)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = perPart.scanLeft(0L)(_ + _)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var run = offsets(i)
      it.map { r =>
        val n = r.getLong(nIdx); val pre = run; run += n
        Row.fromSeq(r.toSeq :+ (pre / budget))
      }
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(
        sorted.schema.fields :+ StructField("shard", LongType, nullable = false)))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** The WRITER half: materialize the samples as one parquet directory
    * per shard (`dir/shard=N/`) via a partitioned write — the
    * deterministic, size-budgeted shard files a trainer consumes.
    * Returns the shard count. Scale shape: the assignment is the
    * two-pass prefix sum above; the write is a standard partitioned
    * parquet sink (each task writes only its rows' shard directories —
    * no extra shuffle beyond the assignment's sort). Round-trip
    * (read-back ≡ samples ∪ assignment) is pinned in CurationSpec. */
  def writeShards(samples: DataFrame, dir: String,
      budget: Long = ShardBudget): Long = {
    val assigned = shardAssignOn(samples, budget)
    assigned.write.mode("overwrite").partitionBy("shard").parquet(dir)
    assigned.select("shard").distinct().count()
  }

  /** The window formulation of packBins — the readable spec of the
    * semantics, kept (test-only) as the differential oracle for the
    * scale-safe two-pass implementation above. Its global
    * `Window.orderBy` is exactly the single-partition funnel packBins
    * avoids; never wire it to a driver query. */
  private[graft] def packBinsWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("pre_sum", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("bin", expr(s"pre_sum div $PackBudget"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bin_tokens"))
      .orderBy($"bin")
  }

  /** Deterministic global training order: every doc gets a contiguous
    * 0-based position under a pseudo-random-but-reproducible permutation
    * (LCG key, doc_id tiebreak) — the "shuffle the corpus once per
    * epoch" primitive. Scalable form: range-partitioned sort +
    * zipWithIndex per-partition offsets (one lightweight extra job), not
    * a global row_number window that would funnel every row through one
    * partition. doc_id·1103515245 stays far below 2⁶³ for any plausible
    * id, so ANSI overflow cannot trigger. */
  def shuffleOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val keyed = Tables.documents(spark, sfDir).select($"doc_id",
      pmod($"doc_id" * lit(1103515245L) + lit(12345L), lit(2147483648L)).as("k"))
    val sorted = keyed.orderBy($"k", $"doc_id")
    val schema = StructType(sorted.schema.fields :+
      StructField("pos", LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ i) }
    spark.createDataFrame(rdd, schema).orderBy($"pos")
  }

  /** Quality gate for [[pipelineCurate]]: keeps scores ≥ the corpus
    * median (max observed is ~0.72, so a "high" cut would be vacuous). */
  final val QualityCut = 0.55

  /** The composed END-TO-END curation pipeline — the library's whole
    * point as ONE dataflow: near-dup removal (n-gram-Jaccard pairs →
    * drop the doc_b side, `dedup_kept`'s logic) → quality gate
    * (score ≥ [[QualityCut]], the same rounded column `text_quality`
    * emits) → overlapping token chunking (same stride arithmetic as
    * `cur_text_chunks`) → per-language corpus summary. Every stage is
    * an independently oracle-checked operator; the COMPOSITION is
    * hash-checked against the CTE composition of the same stages' SQL.
    *
    * Scale shape: the drop list is pair-output-sized (bytes), so the
    * anti-join broadcasts; quality + chunk counting are per-row map
    * work on the surviving docs; the only new exchange is the final
    * per-language aggregate. Everything upstream reuses the pair
    * search's bucketed plan unchanged. */
  def pipelineCurate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val drop = Dedup.dedupNgramJaccard(spark, sfDir)
      .select($"doc_b".as("doc_id")).distinct()
    langSummary(docs.join(drop, Seq("doc_id"), "left_anti"))
  }

  /** The per-language summary tail of [[pipelineCurate]] and
    * [[pipelineCurateFull]]: quality gate → per-document token and
    * chunk counts → per-language doc/chunk/token totals, plus the total
    * of each `audit` column (carried per document). */
  private def langSummary(kept: DataFrame, audit: String*): DataFrame = {
    val carried = audit.map(col)
    kept.filter(TextAnalysis.qualityScore(col("text")) >= QualityCut)
      .select((col("lang") +: carried :+
        size(split(col("text"), " ")).cast("long").as("n_tokens")): _*)
      .select((col("lang") +: carried :+ col("n_tokens") :+
        // chunk count = |starts 0, stride, … < n| = ceil(n / stride)
        ceil(col("n_tokens").cast("double") / ChunkStride).cast("long").as("n_chunks")): _*)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), (sum(col("n_chunks")).as("n_chunks") +:
        sum(col("n_tokens")).as("n_tokens") +: audit.map(a => sum(col(a)).as(a))): _*)
      .orderBy(col("lang"))
  }

  /** [[pipelineCurate]] with PII redaction composed in FIRST — the
    * ordering every real training pipeline uses (redact before anything
    * downstream sees the text): redact → near-dup pair search over the
    * REDACTED text → drop doc_b side → quality gate on redacted text →
    * chunk arithmetic → per-language summary carrying a PII audit count.
    * The redacted text feeding the pair search and the quality gate is
    * what makes redaction load-bearing in the oracle hash (multi-token
    * phone numbers collapse to one `<PHONE>` token, shifting token
    * counts, shingles and quality ratios); `n_pii` additionally audits
    * the match counts straight through to the output.
    *
    * Scale shape: [[pipelineCurate]]'s plus the per-row redaction
    * regexes, which run after one upfront doc_id exchange
    * ([[spreadRedacted]]) that the pair search and the keep side share;
    * the drop list still broadcast-anti-joins. */
  def pipelineCurateFull(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateFullOn(Tables.documents(spark, sfDir))

  /** The transform of [[pipelineCurateFull]] on any (doc_id, lang,
    * text) frame (spec entry point: plantable PII inputs). */
  private[graft] def pipelineCurateFullOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val red = spreadRedacted(docs, $"lang", TextAnalysis.piiCount($"text").as("n_pii"))
    val drop = Dedup.dedupNgramJaccardOnSpread(red.select($"doc_id", $"text"))
      .select($"doc_b".as("doc_id")).distinct()
    langSummary(red.join(drop, Seq("doc_id"), "left_anti"), "n_pii")
  }

  /** Spread-first redact (r21): drop null-doc_id rows, spread the
    * corpus over `defaultParallelism` doc_id partitions, THEN run the
    * redaction regex stack, keeping `doc_id`, the `extra` columns and the
    * redacted `text`. Hung straight off the scan, the regexes run inside
    * the scan stage — ONE task on a small corpus (single-row-group
    * file; measured 0.6 s serialized per consumer at sf0.1) — and the
    * pair search then pays its own text exchange anyway. Spread first,
    * and the regexes run `defaultParallelism`-way while the `OnSpread`
    * searches and every other consumer share the one exchange
    * (ReusedExchange). Null doc_ids go first because such a row cannot
    * be deduplicated, joined or shard-assigned (see [[redactedKept]]). */
  private def spreadRedacted(docs: DataFrame, extra: Column*): DataFrame =
    docs.filter(col("doc_id").isNotNull)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select((col("doc_id") +: extra :+
        TextAnalysis.redactedCol(col("text")).as("text")): _*)

  /** The MATERIALIZING form of the full pipeline — instead of a
    * per-language summary it emits the actual training SAMPLES a
    * downstream trainer would read: redact → document near-dup drop →
    * quality gate → chunk expansion → chunk-level exact dedup
    * (keep-first by lexicographic (doc_id, chunk_idx)). Every row of
    * the output is a redacted, deduplicated, quality-gated chunk; the
    * full chunk text is part of the oracle hash, so the whole
    * dataflow — including redaction reaching the samples — is checked
    * byte-for-byte.
    *
    * Scale shape: the upstream stages are [[pipelineCurateFull]]'s;
    * chunking is per-row fan-out; chunk dedup adds one shuffle on
    * (doc_id, chunk_idx) against the hash-grouped representative
    * table — the `dedup_chunks` cost, nothing more. */
  def pipelineCurateSamples(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesOn(docs: DataFrame): DataFrame = {
    val drop = Dedup.dedupNgramJaccardOnSpread(spreadRedacted(docs))
      .select(col("doc_b").as("doc_id")).distinct()
    samplesOfKept(redactedKept(docs, drop))
  }

  /** [[pipelineCurateSamples]] with the heuristic quality gate replaced
    * by the LEARNED scorer — the production sequencing where a quality
    * model fitted on an earlier snapshot gates today's curation
    * (DCLM/fastText-style): the ≤4096-row hashed-feature model is
    * fitted closed-form on the PRIOR slice of the redacted corpus, and
    * a kept document passes when its mean quantized positive-class
    * probability clears the 1/2 prior — tested as 2·sum_q ≥ n_feats·Q,
    * exact integer arithmetic, no double compare. Scale shape adds one
    * broadcast model probe + a doc-sized semi-join over the
    * near-dup-kept frame; everything else is [[pipelineCurateSamples]]
    * verbatim. */
  def pipelineCurateSamplesQm(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesQmOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesQmOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // The hash repartition up front (explodedHashes pattern — NO
    // round-robin: its determinism sort re-walks full text rows)
    // decouples the redact regex + gram fan-outs from the input split
    // count, and red stays LAZY: every consumer keeps column pruning
    // and pmod-filter pushdown into the scan (a checkpointed red loses
    // both — measured +9 s CPU and 1.3 s GC from full-row block reads
    // at sf0.1; re-running scan+exchange+redact per consumer is a few
    // hundred parallel CPU-ms each, the cheaper side of the trade).
    val red = docs.repartition(width, $"doc_id")
      .select($"doc_id", TextAnalysis.redactedCol($"text").as("text"))
    // ONLY the pair-search result materializes — the expensive subtree,
    // and it is doc-id-list-sized, so the checkpoint is bytes. r12's
    // 7.1 s wall at 30 s CPU was this subtree running TWICE (kept is
    // consumed by the scoring expansion and the chunk fan-out, each
    // pulling the whole jaccard DAG); checkpointing `kept` instead
    // (round-13 first cut) pays full-corpus block IO and pins an
    // AQE-coalesced 1-partition layout that serializes the scoring
    // fan-out. The broadcast anti-join below recomputes per consumer
    // for the price of a scan+redact.
    // fit slice straight off the scan: the pmod filter pushes below the
    // redact projection, and the repartition AFTER it spreads the
    // 1/5-sized slice (and its redact + gram fan-out) across cores —
    // the textQualityModel seam, minus that query's round-robin.
    val fitIn = docs.filter(Dedup.isPrior($"doc_id"))
      .repartition(width, $"doc_id")
      .select($"doc_id", TextAnalysis.redactedCol($"text").as("text"))
    // pair search ∥ model fit: independent artifacts, overlapped
    val (drop, model) = concurrently(
      Materialize.frame(Dedup.dedupNgramJaccardOnDocs(red)
        .select($"doc_b".as("doc_id")).distinct()),
      Materialize.frame(TextAnalysis.qmModelOn(fitIn)))
    // no broadcast hint: the drop list scales with the corpus (the
    // ADVICE-flagged OOM shape at production size); AQE broadcasts it
    // at runtime while it is actually small
    val kept = red.join(drop, Seq("doc_id"), "left_anti")
    val pass = TextAnalysis.qmPerDocAgg(kept, model)
      .filter($"sum_q" * 2 >= $"n_feats" * lit(TextAnalysis.QmQuantum))
      .select($"doc_id")
    samplesOfGood(kept.join(pass, Seq("doc_id"), "left_semi"))
  }

  /** [[pipelineCurateSamples]] with the quality gate replaced by DSIR
    * SELECTION — the data-selection sequencing (Xie et al. 2023 as the
    * gate of a curation run): near-dup detection and both bag-of-ngrams
    * models run on RAW text (target = the prior snapshot's English
    * slice, the curated-domain stand-in; background = the FULL fresh
    * slice — the paper's raw distribution, fit BEFORE dedup), kept
    * fresh docs whose importance weights rank in the top third are
    * selected, and PII REDACTION is applied to the survivors only
    * before chunking — the C4/RefinedWeb production order, where the
    * per-byte redaction cost scales with what ships, not with the
    * crawl (the redact-FIRST sequencing stays available as the qm
    * pipeline, which gates on redacted text by construction).
    *
    * r14 restage rationale: with the background model defined on the
    * raw fresh slice, the ENTIRE weight computation is independent of
    * the pair search — the two overlap completely (r13's redact-first
    * form serialized 5.0 s of wall against 1.9 s of parallelizable
    * CPU); the drop list then filters the finished weights frame
    * (per-doc rows, so filtering weights after ≡ scoring kept docs —
    * the background totals deliberately include the about-to-drop
    * duplicates, as the paper's raw model does). Scale shape: two
    * ≤4096-row broadcast models, the rank step's sort over a
    * doc-count-row weights frame, redaction over the selected third. */
  def pipelineCurateSamplesDsir(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesDsirOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesDsirOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // RAW slices (redaction happens after selection — see scaladoc):
    // hash-repartition up front so the shingle/gram fan-outs
    // parallelize off any input split count; all frames stay LAZY
    // (pruning + pushdown preserved), only the two artifacts below
    // materialize.
    val raw = docs.repartition(width, $"doc_id").select($"doc_id", $"text")
    val target = docs.filter(Dedup.isPrior($"doc_id") && $"lang" === "en")
      .repartition(width, $"doc_id")
      .select($"text")
    val fresh = raw.filter(Dedup.isFresh($"doc_id"))
    // pair search ∥ the COMPLETE importance-weight computation: the
    // background model is the raw fresh slice (pre-dedup — the paper's
    // raw distribution), so the weights frame needs no drop input and
    // the two artifact chains overlap end-to-end. The weight side runs
    // BOTH model expansions (target grams + fresh grams) as ONE
    // generator job over the side-tagged union — at sf0.1 the wall is
    // stage-barrier-bound (~50 ms of hash CPU under 30+ serial
    // barriers), so halving the expansion job count is worth more than
    // any per-row optimization.
    // A-side input is docs DIRECT, not `raw`: the pair search's own
    // expansion repartitions by doc_id internally, so the upfront
    // shuffle was a second full-text exchange on the critical chain
    // (the qm/caps pipelines keep theirs — they must spread the redact
    // regex BEFORE the search; dsir searches raw text). No .distinct()
    // on the drop list either: left-anti is duplicate-tolerant and the
    // dedup shuffle was one more serial stage for a bytes-sized frame.
    val (drop, wAll) = concurrently(
      Materialize.frame(Dedup.dedupNgramJaccardOnDocs(
          docs.select($"doc_id", $"text"))
        .select($"doc_b".as("doc_id"))),
      {
        val tagged = target
          .select(lit(null).cast("long").as("doc_id"), $"text",
            lit(true).as("tgt"))
          .unionByName(fresh.select($"doc_id", $"text", lit(false).as("tgt")))
        val ex = Materialize.frame(TextAnalysis.qmFeatures(tagged)
          .groupBy($"tgt", $"doc_id", $"b").agg(count(lit(1)).as("k")))
        // ct / rdf are cheap derivations over the checkpointed grams
        val ct = ex.filter($"tgt").groupBy($"b").agg(sum($"k").as("c"))
        val rdfAll = ex.filter(!$"tgt").select($"doc_id", $"b", $"k")
        Materialize.frame(dsirWeightsFromRdf(ct, rdfAll))
      })
    // post-drop: weights of dropped docs filter out (per-doc rows, so
    // filtering weights after ≡ scoring kept docs); no broadcast hint —
    // the drop list scales with the corpus, AQE broadcasts while small.
    val wKept = wAll.join(drop, Seq("doc_id"), "left_anti")
    // materialize = false: wKept is a bytes-sized broadcast-anti-join
    // over two checkpoints — rescanning it three times is cheaper than
    // one more checkpoint-write barrier on the serial tail
    val selected = dsirSelectFrom(wKept, materialize = false).select($"doc_id")
    // redact ONLY the selected third, then the shared chunk tail. The
    // survivor set is selection-sized, but hung directly off the scan
    // the redact runs INSIDE the one-task scan stage (single-row-group
    // corpus file — r21 profile); one selection-sized doc_id exchange
    // spreads the regex stack across cores before it runs.
    val good = docs.join(selected, Seq("doc_id"), "left_semi")
      .repartition(width, $"doc_id")
      .select($"doc_id", TextAnalysis.redactedCol($"text").as("text"))
    samplesOfGood(good)
  }

  /** The SOURCE-AWARE samples pipeline — [[pipelineCurateSamples]]
    * with a per-source document cap ([[capBySource]], RefinedWeb-style
    * domain capping) gating the near-dup-kept corpus before the chunk
    * tail: redact → pair-drop → cap each source at [[SourceCapN]]
    * survivors → chunk + keep-first. The production sequencing for a
    * crawl where a handful of domains dominate: dedup first (so a
    * domain cannot spend its cap on duplicates), then cap, then pack.
    *
    * Scale shape: the pair search materializes once (doc-id-list
    * sized); the cap adds one #sources×64 histogram agg + its tiny
    * window + two histogram-sized joins (AQE broadcasts them when
    * small); the chunk tail is [[samplesOfGood]] verbatim. */
  def pipelineCurateSamplesCaps(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesCapsOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesCapsOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // same staging as the qm/dsir pipelines: red LAZY, only the
    // doc-id-list-sized pair result checkpointed
    val red = docs.repartition(width, $"doc_id")
      .select($"doc_id", $"source",
        TextAnalysis.redactedCol($"text").as("text"))
    val drop = Materialize.frame(
      Dedup.dedupNgramJaccardOnDocs(red.select($"doc_id", $"text"))
        .select($"doc_b".as("doc_id")).distinct())
    val kept = red.join(drop, Seq("doc_id"), "left_anti")
    val roster = capBySource(kept, lit(1L), SourceCapN).select($"doc_id")
    samplesOfGood(kept.select($"doc_id", $"text")
      .join(roster, Seq("doc_id"), "left_semi"))
  }

  /** The C4-ORDER composed pipeline — line-level cleaning FIRST
    * (Raffel et al. 2020 §2.2's sequencing), the document-level
    * samples pipeline after: the C4 line predicates ([[lineKeep]])
    * drop boilerplate lines, the corpus-wide line dedup keeps each
    * surviving distinct line at its lexicographic-min (doc_id,
    * line_idx) occurrence, every document is rebuilt from its kept
    * lines in ORIGINAL order (space-joined — the rebuilt corpus is
    * re-tokenized downstream), and the rebuilt corpus flows through
    * redact → near-dup pair drop → quality gate → chunk fan-out +
    * keep-first, [[pipelineCurateSamples]] verbatim from redaction on.
    * Line decisions ride ORIGINAL line indexes (the filter cannot
    * shift the dedup keep order), and a document whose every line
    * drops vanishes — it would contribute zero chunks either way.
    *
    * Scale shape: the line stage adds `dedup_lines`' exchanges ahead
    * of the unchanged samples plan — the keep decision shuffles
    * (md5, doc_id, line_idx), never line text; groups are one line's
    * duplicate set; the rebuild is one doc-bounded agg. No drop-list
    * distinct: the left-anti probe is duplicate-tolerant, and the
    * whole dataflow is one lazy single-consumer DAG (no checkpoint —
    * each frame has exactly one consumer). */
  def pipelineCurateSamplesLines(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesLinesOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesLinesOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lr = lineRows(docs, reflowLinesArr($"text")).filter(lineKeep($"line"))
    val winners = lr
      .select(md5($"line").as("h"), struct($"doc_id", $"line_idx").as("k"))
      .groupBy($"h").agg(min($"k").as("k"))
      .select($"k.doc_id".as("doc_id"), $"k.line_idx".as("line_idx"))
    val reb = lr.join(winners, Seq("doc_id", "line_idx"), "left_semi")
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"line_idx", $"line"))),
        s => s.getField("line")), " ").as("text"))
    val red = reb.select($"doc_id", TextAnalysis.redactedCol($"text").as("text"))
    val drop = Dedup.dedupNgramJaccardOnDocs(red)
      .select($"doc_b".as("doc_id"))
    samplesOfKept(red.join(drop, Seq("doc_id"), "left_anti"))
  }

  /** The COMPLETE C4 cleaning recipe as one dataflow (Raffel et al.
    * 2020 §2.2, every stage in paper order): the [[BadWords]] PAGE
    * drop first (a blocklisted page never reaches line processing),
    * then the line filters, corpus-wide line dedup and rebuild, then
    * the samples stages (redact → near-dup pair-drop → quality gate →
    * chunk keep-first) — [[pipelineCurateSamplesLines]] with the
    * blocklist gate ahead of it. The page drop is a pure per-row
    * filter FUSED into the same scan projection the line stage reads:
    * zero new exchanges, zero new scans (the lines pipeline's
    * one-documents-scan plan is preserved; PlanSpec's rebuild-exchange
    * reuse pin applies unchanged). */
  def pipelineCurateSamplesC4(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesC4On(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesC4On(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    pipelineCurateSamplesLinesOn(docs.filter(
      size(filter(split($"text", " "), w => w.isInCollection(BadWords))) === 0))
  }

  /** [[pipelineCurateSamples]] with the pair-based doc_b drop replaced
    * by the PRINCIPLED cluster-representative keep of
    * `dedup_kept_clusters`: connected components over the UNION pair
    * graph (Jaccard ∪ containment, one shared shingle expansion), keep
    * exactly the component minimum. Pair-drop can over-drop inside a
    * cluster — a kept document's transitive duplicates survive only
    * via their own pairs — and its Jaccard-only edges miss excerpts
    * entirely; the component keep retains exactly ONE document per
    * dedup group, excerpts included (CurationSpec pins a planted
    * excerpt chain).
    *
    * Scale shape: the pair searches reuse one exploded exchange; the
    * CC loop runs over PAIR-NODE-sized frames (nodes = ids appearing
    * in some edge — singletons are never dropped, so they need no
    * labels), O(log diameter) rounds of equi-join + min-agg on
    * byte-sized tables; the drop list (non-representatives) is
    * pair-node-sized and broadcast-anti-joins, exactly like the
    * pair-based drop. Downstream is [[samplesOfKept]] unchanged. */
  def pipelineCurateSamplesCc(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesCcOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesCcOn(docs: DataFrame): DataFrame = {
    val drop = clusterLabels(spreadRedacted(docs))
      .filter(col("cluster") =!= col("doc_id")).select(col("doc_id"))
    samplesOfKept(redactedKept(docs, drop))
  }

  /** (doc_id, cluster) labels, cluster = component minimum, over the
    * union pair graph of a [[spreadRedacted]] frame. Only ids on some
    * edge are labelled: singletons are never dropped, so they need no
    * label. The pair search materializes ONCE: the node list and the
    * edge frame inside [[Dedup.dedupClustersOn]] both consume it, and
    * without the checkpoint each would re-run the shingle expansion
    * and both prefix-filtered searches (the query's dominant cost). The
    * checkpoint is pair-count-sized (bytes). */
  private def clusterLabels(red: DataFrame): DataFrame = {
    val pairs = Materialize.frame(Dedup.unionPairsOnSpread(red))
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    Dedup.dedupClustersOn(nodes, pairs)
  }

  /** [[pipelineCurateSamplesCc]] with a QUALITY-AWARE representative:
    * keep each component's argmax (quality, −doc_id) member instead of
    * the minimum doc_id. Keep-min silently prefers whichever duplicate
    * crawled first — uncorrelated with anything a trainer wants —
    * while keep-best retains the member the quality score (the same
    * one the pipeline already gates on) ranks highest; the −doc_id
    * tie-break keeps the choice deterministic and oracle-checkable.
    * [[TextAnalysis.qualityScore]] rounds to 4 decimals, so ties
    * between near-identical duplicates resolve on doc_id rather than
    * on a cross-engine ulp race.
    *
    * Scale shape: identical to the cc pipeline except the keep step —
    * quality (AND the redaction feeding it) is computed ONLY for
    * cluster members: the pair-node-sized labels frame joins the raw
    * text and the regex stack runs on the match set, not the corpus;
    * the per-cluster argmax is one agg on a pair-node-sized frame. */
  def pipelineCurateSamplesCcq(spark: SparkSession, sfDir: String): DataFrame =
    pipelineCurateSamplesCcqOn(Tables.documents(spark, sfDir))

  private[graft] def pipelineCurateSamplesCcqOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = clusterLabels(spreadRedacted(docs))
    // quality for cluster members only: join against the RAW text (the
    // parquet scan, no regex) and redact+score AFTER the join, so the
    // three redaction regexes run on the pair-node-sized match set —
    // joining `red` here instead would re-redact the whole corpus just
    // to score a handful of cluster members
    val scored = labels.join(docs.select($"doc_id", $"text"), Seq("doc_id"))
      .select($"doc_id", $"cluster",
        TextAnalysis.qualityScore(TextAnalysis.redactedCol($"text")).as("q"))
    // argmax (q, −doc_id) via lexicographic struct max — one agg on a
    // pair-node-sized frame; −doc_id makes the max unique, so the
    // comparison never falls through to an undefined third field
    val reps = scored.groupBy($"cluster")
      .agg(max(struct($"q", (-$"doc_id").as("nid"))).as("k"))
      .select((-$"k.nid").as("doc_id"))
    val drop = labels.select($"doc_id").join(reps, Seq("doc_id"), "left_anti")
    samplesOfKept(redactedKept(docs, drop))
  }

  /** INCREMENTAL materializing pipeline — the daily-crawl form of
    * [[pipelineCurateSamples]]: only the fresh snapshot delta flows
    * through the pipeline, probing three bounded PRIOR-snapshot
    * artifacts instead of re-curating the corpus:
    *
    *   1. the prior DOC-HASH index (16 B/doc) — fresh docs are
    *      keep-first deduped within the delta, then anti-joined against
    *      it (`dedup_incremental` semantics over redacted text);
    *   2. the prior MINHASH BAND index — survivors' band signatures
    *      probe it for cross-snapshot near-dup candidates
    *      (`dedup_minhash_incremental` semantics), UNIONED with the
    *      delta-internal LSH self-join (a crawl carries its own
    *      near-dups); both verified with the exact-Jaccard merge-walk,
    *      doc_b (always the fresh side; the higher id for internal
    *      pairs) dropped;
    *   3. the prior CHUNK-HASH index (16 B/sample) — after the quality
    *      gate and chunk fan-out, keep-first within the delta and then
    *      suppress any chunk whose exact content appeared ANYWHERE in
    *      the prior snapshot (conservative superset of
    *      previously-emitted samples: cheap, and over-suppressing an
    *      exact duplicate chunk is always safe for a trainer).
    *
    * Output: exactly the NEW samples this crawl adds to the training
    * set. At 100 TB all three prior artifacts are write-once bucketed
    * relations maintained across snapshots (hash/band/chunk-hash
    * keyed), every probe an equi-join that is exchange-free on the
    * index side (BucketingSpec demonstrates the band-index form); the
    * delta-sized working set is materialized once
    * ([[Materialize.frame]]) because four stages consume it — in
    * production it IS the staged crawl batch. The near-dup search runs
    * on exact-novel survivors only: a fresh doc dropped as an exact
    * duplicate cannot orphan a near-dup edge, because its surviving
    * twin (prior copy or keep-first witness) carries the identical
    * shingle set into the search. */
  def pipelineCurateSamplesIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = Dedup.snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    pipelineCurateSamplesIncrementalOn(prior, fresh)
  }

  /** The transform of [[pipelineCurateSamplesIncremental]] over any
    * (prior, fresh) pair of (doc_id, text) frames (spec entry point:
    * plantable snapshots). */
  private[graft] def pipelineCurateSamplesIncrementalOn(
      prior: DataFrame, fresh: DataFrame): DataFrame = {
    val spark = prior.sparkSession
    import spark.implicits._
    // prior artifacts are built from REDACTED text — exactly what the
    // pipeline would have persisted when the prior snapshot was
    // ingested; building them inline keeps the driver-contract query
    // self-contained, and the FromArtifacts seam below (pinned by
    // CurationSpec's written-artifact round-trip) is the production
    // entry where they are read back from storage instead. Three
    // consumers (doc-hash, minhash, chunk-hash) share redP's exchange.
    val redP = spreadRedacted(prior)
    pipelineCurateSamplesIncrementalFromArtifacts(
      redP.select(md5($"text").as("h")).distinct(),
      Dedup.minhashHashed(redP),
      chunksUnordered(redP).select(md5($"chunk_text").as("ch")).distinct(),
      fresh)
  }

  /** The incremental pipeline against EXPLICIT prior-snapshot
    * artifacts — (h) doc-hash index, (doc_id, hv) shingle-set/band
    * source, (ch) chunk-hash index — the seam that makes the
    * stored-artifact deployment testable end-to-end: CurationSpec
    * writes all three to parquet, reads them back, and pins the output
    * equal to the inline form. */
  private[graft] def pipelineCurateSamplesIncrementalFromArtifacts(
      priorHashes: DataFrame, priorSets: DataFrame, priorChunks: DataFrame,
      fresh: DataFrame): DataFrame = {
    val spark = fresh.sparkSession
    import spark.implicits._
    // spread-first on the delta too: the keep-first window exchanges on
    // the content hash, so scan-hung redaction ran in the scan stage
    val redF = spreadRedacted(fresh)
    // stage 1: exact-incremental — keep-first per content hash WITHIN
    // the delta (row_number, the keep-first form samplesOfKept uses),
    // then the prior hash-index anti-join
    val wh = Window.partitionBy($"h").orderBy($"doc_id")
    val novel = Materialize.frame(
      redF.select($"doc_id", $"text", md5($"text").as("h"))
        .withColumn("rn", row_number().over(wh)).filter($"rn" === 1)
        .join(priorHashes, Seq("h"), "left_anti")
        .select($"doc_id", $"text"))
    // stage 2: near-dup — prior band-index probe ∪ delta-internal LSH
    val hp = priorSets
    val hn = Dedup.minhashHashed(novel)
    // both verify sides read the same aliased frame so the two
    // broadcast subtrees stay canonically identical (the
    // dedupMinHashLsh reuse note); doc_b only ever matches novel ids
    val pool = hp.unionByName(hn)
    val bp = Dedup.minhashBanded(hp)
    val bn = Dedup.minhashBanded(hn)
    val cross = bp.as("a").join(bn.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
    val internal = bn.as("a").join(bn.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
    val drop = cross.union(internal).distinct().as("cd")
      .join(pool.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(pool.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_b".as("doc_id"),
        graft.functions.SetJaccardSorted($"sa.hv", $"sb.hv").as("jacc"))
      .filter($"jacc" >= Dedup.JaccardThreshold)
      .select($"doc_id").distinct()
    val kept = novel.join(drop, Seq("doc_id"), "left_anti")
    // stage 3: quality gate (delta survivors only)
    val good = kept.filter(TextAnalysis.qualityScore($"text") >= QualityCut)
    // stages 4–5: chunk fan-out, keep-first within the delta, prior
    // chunk-index suppression
    keepFirstChunks(good)
      .join(priorChunks, md5($"chunk_text") === $"ch", "left_anti")
      .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** The keep-branch redact staged ABOVE a doc_id exchange (r21): the
    * drop-list anti-join runs on the RAW frame (its key is doc_id only,
    * so the optimizer would push it below any repartition+projection
    * anyway — PushDownLeftSemiAntiJoin, the dedup_semantic note), THEN
    * the survivors spread across cores, THEN the redact regex stack
    * runs. The previous shape (`red.join(drop)` with red =
    * exchange→redact) let the join pushdown re-derive the branch from
    * the scan with the redact BELOW the exchange — one task on a small
    * corpus (measured 0.5 s serialized per pipeline tail at sf0.1).
    * Null discipline (ADVICE r21): the keep branch drops null-doc_id
    * rows explicitly. A LEFT ANTI join alone would KEEP them (a null
    * key matches nothing), but such a row is un-keyable everywhere
    * downstream — it can't be deduplicated, shard-assigned or joined —
    * so the pipelines treat doc_id as required and discard null-id rows
    * up front (CurationSpec pins this; the oracle corpus has none, so
    * both engines see the same row set either way). For non-null rows
    * the branch is value-identical to the pre-r21 shape: redaction is
    * per-row and the join key ignores text. */
  private def redactedKept(docs: DataFrame, dropIds: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // Opaque = the §4.4 optimizer barrier: without it the downstream
    // quality FILTER substitutes the redact chain per reference and
    // pushes the whole thing into the one-task scan stage (see
    // graft.functions.Opaque). Values are unchanged.
    docs.filter($"doc_id".isNotNull)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .repartition(width, $"doc_id")
      .select($"doc_id",
        graft.functions.Opaque(TextAnalysis.redactedCol($"text")).as("text"))
  }

  /** The shared tail of both materializing pipelines: quality gate →
    * chunk fan-out → chunk-level exact dedup (keep-first) → ordered
    * samples. */
  private def samplesOfKept(kept: DataFrame): DataFrame = {
    val spark = kept.sparkSession
    import spark.implicits._
    samplesOfGood(kept.filter(TextAnalysis.qualityScore($"text") >= QualityCut))
  }

  /** The chunk-expansion + keep-first tail over an already
    * quality-gated frame — the seam the learned-gate pipeline variant
    * injects its gate through. */
  private[graft] def samplesOfGood(good: DataFrame): DataFrame =
    keepFirstChunks(good)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Chunk fan-out of `good`, then the first chunk of each content hash
    * by (doc_id, chunk_idx), unordered. */
  private def keepFirstChunks(good: DataFrame): DataFrame = {
    // Keep-first in ONE pass: row_number over the content-hash partition
    // (the oracle's own formulation). Rounds 5–10 used a min(struct)
    // representative agg + semi-join — TWO consumers of the chunk
    // fan-out sharing an explicit exchange — and round 11 measured that
    // the shared exchange is NOT reused in the cc/ccq variants: the
    // optimizer pulls the user repartition above the semi join on the
    // probe branch, the two subtrees de-canonicalize, and the chunk
    // Generate + anti-join + corpus redaction silently run twice
    // (~5.5 s duplicated executor cpu at sf0.1 per pipeline). The
    // window consumes chunks ONCE — reuse is structural, not an
    // exchange-canonicalization bet — and costs one hash exchange on
    // the content hash + a per-group sort. WindowExec buffers one
    // partition-KEY group at a time, and groups here are duplicate
    // sets (tiny), so the round-4 window hazard (buffering a whole
    // 260k-row exploded frame) does not apply.
    // chunksUnordered, not chunksOf: the window exchange would discard
    // a trailing sort anyway (the streaming twin already takes this path)
    val w = Window.partitionBy(md5(col("chunk_text"))).orderBy(col("doc_id"), col("chunk_idx"))
    chunksUnordered(good)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Reflow width for the benched corpus's LINE view: the synthetic
    * documents are single-line (zero "\n" in the testdata), so the
    * keyed line queries give each document a deterministic line
    * structure — lines of [[LineTokens]] tokens — before the line ops
    * run. The operator cores themselves consume real newline-split
    * lines ([[linesOfText]]); CurationSpec drives them with planted
    * multi-line documents. */
  final val LineTokens = 10

  /** The reflow: token array → array of [[LineTokens]]-token line
    * strings (last line takes the remainder). */
  private[graft] def reflowLinesArr(text: Column): Column = {
    val t = split(text, " ")
    transform(
      sequence(lit(0), floor((size(t) - 1) / lit(LineTokens)).cast("int")),
      i => array_join(slice(t, i * LineTokens + 1, lit(LineTokens)), " "))
  }

  /** Real line structure: text split on newline (the C4 unit). */
  private[graft] def linesOfText(text: Column): Column = split(text, "\n")

  /** (doc_id, line_idx, line) expansion of a lines-array column. */
  private[graft] def lineRows(docs: DataFrame, lines: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", posexplode(lines).as(Seq("line_idx", "line")))
  }

  /** C4-STYLE LINE-LEVEL DEDUP (Raffel et al. 2020 §2.2: the single
    * most-cited public cleaning step): across the WHOLE corpus, every
    * distinct line survives exactly once — at its lexicographic-min
    * (doc_id, line_idx) occurrence — and each document is rebuilt from
    * its surviving lines in order (a document whose every line lost
    * becomes empty but stays in the corpus, the strip-family
    * convention). Shared boilerplate (headers, cookie banners,
    * licenses) collapses to one occurrence corpus-wide.
    *
    * Scale shape: the keep decision shuffles (md5, doc_id, line_idx) —
    * 48 bytes/line, never line text; winners semi-join back on
    * (doc_id, line_idx) and the rebuild is one doc-bounded group-agg.
    * No windows over corpus-wide partitions: the md5 groupBy's keys are
    * as wide as one line's duplicate set. */
  def dedupLines(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    import spark.implicits._
    dedupLinesOn(lineRows(docs, reflowLinesArr($"text")))
  }

  /** The core over ANY (doc_id, line_idx, line) frame — the spec entry
    * point feeds it real newline-split documents via [[linesOfText]]. */
  private[graft] def dedupLinesOn(lines: DataFrame): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val winners = lines
      .select(md5($"line").as("h"),
        struct($"doc_id", $"line_idx").as("k"))
      .groupBy($"h").agg(min($"k").as("k"))
      .select($"k.doc_id".as("doc_id"), $"k.line_idx".as("line_idx"))
    val kept = lines.join(winners, Seq("doc_id", "line_idx"), "left_semi")
    val nAll = lines.groupBy($"doc_id").agg(count(lit(1)).as("n_lines"))
    val reb = kept.groupBy($"doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct($"line_idx", $"line"))),
        s => s.getField("line")), "\n").as("kept_text"))
    nAll.join(reb, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"kept_text", lit("")).as("kept_text"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        ($"n_lines" - coalesce($"n_kept", lit(0L))).as("n_dropped"))
      .orderBy($"doc_id")
  }

  /** C4-STYLE line filters as integer/substring predicates: a line
    * survives when it has ≥ 3 words, does not contain "lorem ipsum",
    * holds no curly brace, and none of its words is "javascript".
    * Deviations from Raffel et al. 2020 §2.2 (deliberate, so engine and
    * oracle stay integer-exact on the synthetic corpus — this is the
    * repo's normative spec, not a claim of paper fidelity):
    * the terminal-punctuation rule is omitted from the keyed query
    * because the synthetic corpus carries no punctuation at all
    * ([[lineKeepPunct]] adds it and CurationSpec pins it on planted
    * text); the word threshold is 3 where C4 drops lines with < 5 words
    * (synthetic lines are short); and the lorem-ipsum / curly-brace
    * rules apply PER LINE where C4 drops the whole PAGE containing
    * them (per-line keeps the op compositional with [[dedupLines]]'s
    * line-granularity rebuild). Pure per-row lambda
    * work over the lines array — ZERO shuffle: filter/rebuild happen
    * inside one projection, no explode, no re-aggregation. */
  def lineFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    import spark.implicits._
    lineFilterOn(docs, reflowLinesArr($"text"))
  }

  /** The C4 keep predicate over one line. */
  private[graft] def lineKeep(l: Column): Column =
    size(split(l, " ")) >= 3 &&
      !l.contains("lorem ipsum") && !l.contains("{") &&
      !array_contains(split(l, " "), "javascript")

  /** [[lineKeep]] plus the terminal-punctuation rule (real-text form). */
  private[graft] def lineKeepPunct(l: Column): Column =
    lineKeep(l) && l.rlike("[.!?\"']$")

  private[graft] def lineFilterOn(docs: DataFrame, lines: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    lineFilterUnordered(docs, lines).orderBy($"doc_id")
  }

  /** The sort-free projection core of [[lineFilterOn]] — the seam the
    * STATELESS streaming twin consumes (streams cannot sort; verdicts
    * are per-row and final on arrival). */
  private[graft] def lineFilterUnordered(docs: DataFrame,
      lines: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id", lines.as("lines"))
      .select($"doc_id", filter($"lines", lineKeep _).as("kl"),
        size($"lines").as("n"))
      .select($"doc_id",
        array_join($"kl", "\n").as("kept_text"),
        size($"kl").cast("long").as("n_kept"),
        ($"n" - size($"kl")).cast("long").as("n_dropped"))
  }

  /** Chunk-level exact dedup: [[dedupExact]] semantics at SAMPLE
    * granularity over the [[textChunks]] output — training pipelines
    * dedup again after chunking because distinct documents share
    * boilerplate spans that only become duplicates once sliced. Keep
    * key is the lexicographic min (doc_id, chunk_idx); one shuffle on
    * the chunk hash, same as document-level exact dedup. */
  def dedupChunks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    textChunks(spark, sfDir)
      .groupBy(md5($"chunk_text").as("h"))
      .agg(min(struct($"doc_id", $"chunk_idx")).as("k"),
        count(lit(1)).as("n_dups"))
      .select($"h", $"k.doc_id".as("keep_doc"),
        $"k.chunk_idx".as("keep_chunk"), $"n_dups")
      .orderBy($"h")
  }

  /** Composite chunk key base: (doc_id, chunk_idx) packed into one
    * BIGINT so the document-level pair search runs unchanged over
    * chunks. 2^20 chunk slots per document = docs up to ~42M tokens at
    * the current stride; doc_id stays well under 2^43. The same
    * arithmetic is spliced into the oracle. */
  final val ChunkKeyBase = 1L << 20

  /** Chunk-level NEAR-dup: the document pair search ([[Dedup
    * .dedupNgramJaccardOn]]'s fused engine) at sample granularity —
    * after chunking, distinct documents sharing boilerplate spans
    * become true near-duplicate SAMPLES that document-level dedup
    * cannot see. Chunks are keyed by the packed (doc_id, chunk_idx)
    * and fed to the identical DF-capped PPJoin pipeline; output
    * unpacks the keys. Same plan shape as `dedup_ngram_jaccard` plus
    * the chunk fan-out Generate — no new exchange class. */
  def dedupChunksNgram(spark: SparkSession, sfDir: String): DataFrame =
    dedupChunksNgramOn(Tables.documents(spark, sfDir))

  /** The guarded (doc_id, chunk_idx) → BIGINT packing: the documented
    * 2^20 chunk-slot bound enforced LOUDLY on BOTH key halves — a doc
    * past ~42M tokens would overflow chunk_idx's slot, and a doc_id ≥
    * 2^43 would wrap doc_id * ChunkKeyBase itself (non-ANSI multiply is
    * silent) — either way pairs would be attributed to the wrong
    * document, the exact failure this guard exists to prevent. Shared
    * by the batch chunk pair search and its streaming twin. */
  private[graft] def packedChunkKey(site: String): org.apache.spark.sql.Column =
    when(
        col("chunk_idx") >= 0 && col("chunk_idx") < lit(ChunkKeyBase) &&
          // negative doc_id would pack silently and then unpack
          // DIFFERENTLY across engines (Spark `div`/`%` truncate toward
          // zero, DuckDB `//`/`%` floor) — the same silent
          // misattribution the upper bounds guard against
          col("doc_id") >= 0 && col("doc_id") < lit(Long.MaxValue / ChunkKeyBase),
        col("doc_id") * ChunkKeyBase + col("chunk_idx"))
      .otherwise(raise_error(concat(
        lit(s"$site: (doc_id, chunk_idx) exceeds the $ChunkKeyBase packed-key bounds: ("),
        col("doc_id").cast("string"), lit(", "),
        col("chunk_idx").cast("string"), lit(")"))).cast("long"))

  /** Unpack [[packedChunkKey]]'s BIGINTs on a (doc_a, doc_b, jaccard)
    * pair frame back into per-side (doc, chunk_idx) — shared output
    * shape of both chunk pair searches. */
  private[graft] def unpackChunkPairs(pairs: DataFrame,
      score: String = "jaccard"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(
        expr(s"doc_a div $ChunkKeyBase").as("doc_a"),
        expr(s"doc_a % $ChunkKeyBase").cast("int").as("idx_a"),
        expr(s"doc_b div $ChunkKeyBase").as("doc_b"),
        expr(s"doc_b % $ChunkKeyBase").cast("int").as("idx_b"),
        col(score))
      .orderBy($"doc_a", $"idx_a", $"doc_b", $"idx_b")
  }

  private[graft] def dedupChunksNgramOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val asDocs = chunksOf(docs)
      .select(packedChunkKey("dedupChunksNgram").as("doc_id"), $"chunk_text".as("text"))
    unpackChunkPairs(Dedup.dedupNgramJaccardOnDocs(asDocs))
  }

  /** Chunk-level CONTAINMENT: excerpt detection at SAMPLE granularity —
    * a short boilerplate span ≥90% covered by some other chunk is a
    * near-duplicate sample that chunk-level Jaccard structurally
    * misses when the chunks' lengths differ (an 18-shingle excerpt of
    * a 48-shingle chunk has J ≈ 0.38 but containment 1.0). Same
    * packed-key trick as [[dedupChunksNgram]]: chunks keyed by
    * (doc_id, chunk_idx) BIGINTs feed the document containment search
    * unchanged — DF-capped inverted index, own-size probe prefix
    * against the FULL index side, zero-alloc merge-walk verify. */
  def dedupChunksContainment(spark: SparkSession, sfDir: String): DataFrame =
    dedupChunksContainmentOn(Tables.documents(spark, sfDir))

  private[graft] def dedupChunksContainmentOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val asDocs = chunksOf(docs)
      .select(packedChunkKey("dedupChunksContainment").as("doc_id"),
        $"chunk_text".as("text"))
    unpackChunkPairs(Dedup.dedupContainmentOnDocs(asDocs), "containment")
  }

  /** Decontamination window: 13 consecutive whitespace tokens — the
    * published training-set overlap window (GPT-3 appendix C / PaLM
    * d-13 n-gram decontamination). */
  final val DecontamGram = 13

  /** The deterministic "benchmark" slice standing in for an external
    * eval table: doc_id ≡ 7 (mod 10). The operator itself takes ANY
    * eval frame — the slice just makes the query self-contained and
    * oracle-checkable on the driver's tables. */
  final val EvalSliceMod = 10
  final val EvalSliceRem = 7

  /** The one definition of that slice, as engine Column predicates
    * (`pmod(id, 10) === 7` / `=!= 7`) and oracle DuckDB fragments
    * (`id % 10 = 7` / `<> 7`). A null id falls in neither. Like
    * [[Dedup.isPrior]], the spellings agree only for ids ≥ 0
    * (`pmod(-3, 10) = 7` is eval, DuckDB's `-3 % 10 = -3` is train);
    * every split table in the testdata has min id 0. */
  private[graft] def isEval(id: Column): Column = pmod(id, lit(EvalSliceMod)) === EvalSliceRem
  private[graft] def isTrain(id: Column): Column = pmod(id, lit(EvalSliceMod)) =!= EvalSliceRem
  private[graft] def evalSql(id: String): String = s"$id % $EvalSliceMod = $EvalSliceRem"
  private[graft] def trainSql(id: String): String = s"$id % $EvalSliceMod <> $EvalSliceRem"

  /** `(train, eval)` slices of `df` by its `idCol`. */
  private[graft] def evalSplit(df: DataFrame, idCol: String): (DataFrame, DataFrame) =
    (df.filter(isTrain(col(idCol))), df.filter(isEval(col(idCol))))

  /** Benchmark DECONTAMINATION: flag every training document sharing at
    * least one [[DecontamGram]]-token window with the eval set — the
    * overlap filter every published LLM training pipeline runs before
    * training so benchmark answers don't leak into the corpus. Output:
    * (doc_id, n_grams, n_hit) per CONTAMINATED training doc — total
    * distinct 13-grams and how many of them appear anywhere in the
    * eval set.
    *
    * Scale shape (the reason this is cheap at 100 TB): the eval side is
    * benchmark-sized — a few thousand documents against a trillion-doc
    * corpus — so its distinct gram-hash set is BROADCAST and the
    * training side never shuffles its expansion: per-row fused 13-gram
    * hashing (one pass over the text bytes, no gram strings), explode,
    * broadcast-hash probe, and a doc_id agg that reuses the expansion
    * repartitioning. ONE corpus-sized exchange total (the pre-expansion
    * spread), same as every other gram pipeline here. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, eval) = evalSplit(Tables.documents(spark, sfDir), "doc_id")
    decontaminateOn(train, eval)
  }

  /** The decontamination transform over any (train, eval) pair of
    * (doc_id, text) frames — spec entry point (plantable overlap). */
  private[graft] def decontaminateOn(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    def grams(docs: DataFrame): DataFrame = docs
      // spread the per-row expansion before it runs (same rationale as
      // Dedup.shingles: a small file scans as one split)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id",
        graft.functions.NGramXxh64($"text", DecontamGram).as("g"))
      .filter(size($"g") > 0)
    val evalGrams = grams(eval).select(explode($"g").as("h")).distinct()
    grams(train)
      .select($"doc_id", size($"g").cast("long").as("n_grams"),
        explode($"g").as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy($"doc_id")
      .agg(max($"n_grams").as("n_grams"), count(lit(1)).as("n_hit"))
      .orderBy($"doc_id")
  }

  /** N-GRAM NOVELTY vs the prior snapshot — the dataset-freshness
    * metric of crawl analysis (what fraction of a fresh document's
    * [[DecontamGram]]-token windows has the corpus never seen): every
    * fresh doc scored by its distinct-gram miss rate against the prior
    * snapshot's distinct gram set. Unlike decontamination (whose eval
    * side is benchmark-sized by contract and broadcasts), the
    * reference here is the PRIOR CORPUS — the join is a plain shuffle
    * on the gram hash against the stored 8 B/gram index,
    * hash-bucketed in production so the index side re-reads
    * exchange-free; no broadcast of anything corpus-sized. Novelty is
    * one raw IEEE division of exact integers (the repetition-signals
    * discipline). */
  def textNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = Dedup.snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    noveltyOn(prior, fresh)
  }

  /** Distinct-gram expansion for the novelty family — the ONE gram
    * definition both the batch operator and the streaming twin use. */
  private[graft] def noveltyGrams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id",
        graft.functions.NGramXxh64($"text", DecontamGram).as("g"))
      .filter(size($"g") > 0)
  }

  /** Per-doc miss counts of `fresh` against a (h, hit) prior gram
    * index — shared by batch and stream (streaming-legal: one
    * aggregation, no sort; the division + ordering are the callers'
    * tails). */
  private[graft] def noveltyPerDocAgg(fresh: DataFrame, priorIdx: DataFrame): DataFrame = {
    val spark = fresh.sparkSession
    import spark.implicits._
    noveltyGrams(fresh)
      .select($"doc_id", size($"g").cast("long").as("n_grams"),
        explode($"g").as("h"))
      .join(priorIdx, Seq("h"), "left")
      .groupBy($"doc_id")
      .agg(max($"n_grams").as("n_grams"),
        sum(when($"hit".isNull, 1L).otherwise(0L)).as("n_novel"))
  }

  /** The ratio + ordering tail over a folded per-doc miss frame. */
  private[graft] def noveltyTail(perDoc: DataFrame): DataFrame = {
    val spark = perDoc.sparkSession
    import spark.implicits._
    perDoc.select($"doc_id", $"n_grams", $"n_novel",
        ($"n_novel".cast("double") / $"n_grams".cast("double")).as("novelty"))
      .orderBy($"doc_id")
  }

  /** The novelty transform over any (prior, fresh) pair of (doc_id,
    * text) frames (spec entry point: plantable overlap). */
  private[graft] def noveltyOn(prior: DataFrame, fresh: DataFrame): DataFrame = {
    val spark = prior.sparkSession
    import spark.implicits._
    val priorIdx = noveltyGrams(prior)
      .select(explode($"g").as("h"), lit(1).as("hit")).distinct()
    noveltyTail(noveltyPerDocAgg(fresh, priorIdx))
  }

  /** [[textNovelty]] in its STEADY-STATE form (r18 VERDICT #6 — the
    * one prior-snapshot artifact still recomputed inline each run):
    * the prior corpus's DISTINCT gram-hash set — the same 8 B/gram
    * write-once shape as `dedup_substring_stored`'s index, and in
    * production hash-bucketed by `h`, the probe join key — is read
    * from the parquet artifact a previous run wrote
    * ([[graft.sources.IndexStore]]); only the FRESH slice is
    * gram-expanded at probe time. First run per corpus writes; every
    * later run is read + probe with no prior-side tokenization at
    * all — the wall a daily crawl-freshness report actually pays.
    * Output contract and oracle are IDENTICAL to the inline query. */
  def textNoveltyStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    import spark.implicits._
    val (prior, fresh) = Dedup.snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    val priorIdx = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "novelty_grams", "documents",
        Seq(DecontamGram) ++ Dedup.SnapshotKey),
      noveltyGrams(prior).select(explode($"g").as("h")).distinct())
      .select($"h", lit(1).as("hit"))
    noveltyTail(noveltyPerDocAgg(fresh, priorIdx))
  }

  /** Decontamination STRIP — [[decontaminate]] upgraded from flagging
    * to SURGERY: instead of dropping a training document that shares a
    * [[DecontamGram]]-token window with the eval set, remove exactly
    * the overlapping SPANS (the run-merged maximal eval-shared windows,
    * interval-union semantics) and keep the rest of the document — how
    * production pipelines actually decontaminate (dropping whole docs
    * over one leaked question costs real data). Output one row per
    * training doc: (doc_id, kept_text, n_kept, n_dropped).
    *
    * Scale shape: eval gram set broadcast (benchmark-sized) probed by
    * the training side's POSITIONAL gram expansion (map work over one
    * doc_id spread), run merge + strip both doc-bounded — the
    * decontaminate plan plus the exact-substring strip tail, no new
    * exchange class. */
  def decontamStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, eval) = evalSplit(Tables.documents(spark, sfDir), "doc_id")
    decontamStripOn(train, eval)
  }

  /** The transform over any (train, eval) pair of (doc_id, text)
    * frames (spec entry point: plantable overlap surgery). */
  private[graft] def decontamStripOn(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val W = DecontamGram
    def posG(df: DataFrame) = df
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", posexplode(
        graft.functions.NGramXxh64Pos($"text", W)).as(Seq("pos", "h")))
    val evalGrams = posG(eval).select($"h").distinct()
    val shared = posG(train)
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
      .select($"doc_id", $"pos")
    Dedup.stripSpans(train, Dedup.mergeSpanRuns(shared, W))
  }

  /** Probability quantum for cross-engine-visible probabilities
    * (floor-quantized to 2⁻²⁰ grid — the IVF parity trick). */
  final val MixQuantum = 1L << 20

  /** Low-53-bit mask: `md5_low64(doc_id) & HashMask53` is an exact
    * double in [0, 2⁵³) on both engines (bit-pattern op, so the
    * signed-vs-UBIGINT representation difference is invisible). */
  final val HashMask53 = (1L << 53) - 1

  /** Temperature-smoothed LANGUAGE MIXTURE sampling — the multilingual
    * rebalancing step of a training-data pipeline (exponent-smoothed
    * language sampling, XLM-R §3.1 / mBERT's exponentiated weights):
    * languages get token budgets ∝ T_ℓ^α so high-resource languages are
    * downsampled and low-resource ones kept whole, then each document
    * is kept by a DETERMINISTIC hash gate with its language's keep
    * probability. α = 0.5 (sqrt) deliberately: IEEE-754 requires sqrt
    * correctly rounded, so the weights are bit-identical on any engine
    * — a pow() exponent would be libm-dependent and break the oracle.
    *
    * Every cross-engine float risk is squeezed out the same way the
    * IVF parity was: weights floor-quantized to integers (so their SUM
    * is exact integer arithmetic, immune to reassociation), the keep
    * probability a fixed left-to-right IEEE op tree on integer-valued
    * doubles, the hash fraction an exact 53-bit dyadic, and the only
    * probability in the OUTPUT floor-quantized to the 2⁻²⁰ grid.
    *
    * Budget = half the corpus tokens. Output per language: docs kept,
    * tokens kept, quantized keep probability.
    *
    * Scale shape: ONE corpus-sized exchange (the pre-stats spread) that
    * both consumers — the per-language token totals and the keep gate —
    * replay as a ReusedExchange; the L-row probability table broadcasts
    * back. The explicit isnotnull(lang) is exchange-reuse plumbing:
    * the gate JOIN would infer it on its branch only and
    * de-canonicalize the shared subtree (the round-3/5 hazard). */
  def mixSample(spark: SparkSession, sfDir: String): DataFrame =
    mixSampleOn(Tables.documents(spark, sfDir))

  /** The per-document gate ingredients (n_tokens + 53-bit hash
    * fraction bits) shared by the batch sampler and the streaming
    * twin's per-row projection — keyed by any grouping column (`lang`
    * for the language mixture, `source` for the domain mixture). */
  private[graft] def mixGateColsBy(docs: DataFrame, key: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id", col(key),
      size(split($"text", " ")).cast("long").as("n_tokens"),
      graft.functions.Md5Lower64($"doc_id".cast("string"))
        .bitwiseAND(lit(HashMask53)).as("hbits"))
  }

  private[graft] def mixGateCols(docs: DataFrame): DataFrame =
    mixGateColsBy(docs, "lang")

  /** The K-row (key, t, keep_p) probability table fitted on `docs` —
    * the "model" of the mixture sampler; the batch query applies it to
    * the same frame, the streaming twin broadcasts it over an ingest
    * stream (probabilities are fitted once on a reference snapshot —
    * the production setup for a stationary sampling policy). */
  private[graft] def mixProbsBy(d: DataFrame, key: String): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val ls = d.groupBy(col(key)).agg(sum($"n_tokens").as("t"))
      .select(col(key), $"t",
        floor(sqrt($"t".cast("double")) * MixQuantum).cast("long").as("wq"))
    val tot = ls.agg(sum($"t").as("tt"), sum($"wq").as("sw"))
    // keep_p: a FIXED left-to-right op tree, mirrored verbatim in SQL —
    // ((B * wq) / sw) / t on integer-valued doubles, capped at 1
    ls.crossJoin(broadcast(tot))
      .select(col(key), $"t",
        least(lit(1.0),
          expr("tt div 2").cast("double") * $"wq".cast("double") /
            $"sw".cast("double") / $"t".cast("double")).as("keep_p"))
  }

  private[graft] def mixProbsOn(d: DataFrame): DataFrame = mixProbsBy(d, "lang")

  /** The deterministic keep gate + per-key summary over gated rows,
    * shared verbatim by batch and stream (the stream folds the
    * monotone per-batch emissions of the same aggregation). */
  private[graft] def mixGateAggBy(d: DataFrame, p: DataFrame,
      key: String): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.join(broadcast(p), Seq(key))
      .filter($"hbits".cast("double") / lit(9007199254740992.0) < $"keep_p")
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens_kept"),
        floor(max($"keep_p") * MixQuantum).cast("long").as("q_keep"))
  }

  private[graft] def mixGateAgg(d: DataFrame, p: DataFrame): DataFrame =
    mixGateAggBy(d, p, "lang")

  private[graft] def mixSampleOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = mixGateCols(docs
      .filter($"lang".isNotNull) // exchange-reuse plumbing, see scaladoc
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id"))
    mixGateAgg(d, mixProbsOn(d)).orderBy($"lang")
  }

  /** SOURCE-aware mixture sampling — [[mixSample]]'s √-temperature
    * policy keyed by `source` instead of `lang`: the domain REBALANCE
    * next to `cur_source_caps`' hard truncation. The cap drops a heavy
    * domain's overflow outright (budget in docs/tokens); the mixture
    * DOWN-SAMPLES heavy domains smoothly toward √-scaled target shares
    * while keeping light domains whole (keep_p caps at 1) — the
    * RefinedWeb/DoReMi-style sampling step, deterministic via the same
    * 53-bit doc-hash gate (reproducible, oracle-exact, no RNG state).
    * Scale shape identical to the language mixture: one #sources-row
    * broadcast probability table, one gate projection, one summary
    * agg. */
  def mixSampleSource(spark: SparkSession, sfDir: String): DataFrame =
    mixSampleSourceOn(Tables.documents(spark, sfDir))

  private[graft] def mixSampleSourceOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = mixGateColsBy(docs
      .filter($"source".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id"), "source")
    mixGateAggBy(d, mixProbsBy(d, "source"), "source").orderBy($"source")
  }

  /** Epoch cap for the data-constrained repetition schedule: repeating
    * data beyond ~4 epochs returns rapidly diminishing value
    * (Muennighoff et al. 2023 "Scaling Data-Constrained Language
    * Models", fig. 1 — up to 4 epochs is nearly as good as fresh
    * data), so the planner never schedules more. */
  final val MixMaxEpochs = 4L

  /** DATA-CONSTRAINED EPOCH PLANNING — the repetition schedule of a
    * token-budgeted training run: each language's √-temperature target
    * share (the [[mixSample]] weights against a FULL-corpus token
    * budget) is met by REPEATING that language's data for
    * ⌈target/available⌉ epochs, capped at [[MixMaxEpochs]]; whatever
    * the cap leaves unmet is reported as the deficit (the
    * data-constrained shortfall the run must accept or fill from
    * another source). High-resource languages run < 1 epoch's worth
    * (downsampled, deficit 0); low-resource ones repeat. Output per
    * language: available and target tokens, scheduled epochs, tokens
    * actually used, deficit.
    *
    * Float discipline as [[mixSample]]: √-weights floor-quantized to
    * the 2⁻²⁰ grid (sums = exact integer arithmetic), the target one
    * fixed left-to-right IEEE tree on integer-valued doubles floored
    * back to BIGINT, everything after pure integer min/ceil-div.
    *
    * Scale shape: one corpus scan → L-row aggregate; the totals are an
    * L-row broadcast. The schedule itself is the bytes-sized planning
    * artifact a trainer consumes — nothing per-document leaves the
    * aggregation. */
  def mixEpochs(spark: SparkSession, sfDir: String): DataFrame =
    mixEpochsOn(Tables.documents(spark, sfDir))

  private[graft] def mixEpochsOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.filter($"lang".isNotNull)
      .select($"lang", size(split($"text", " ")).cast("long").as("n_tokens"))
    val ls = d.groupBy($"lang").agg(sum($"n_tokens").as("t"))
      .select($"lang", $"t",
        floor(sqrt($"t".cast("double")) * MixQuantum).cast("long").as("wq"))
    val tot = ls.agg(sum($"t").as("tt"), sum($"wq").as("sw"))
    ls.crossJoin(broadcast(tot))
      .select($"lang", $"t".as("avail_tokens"),
        // full-corpus budget (tt, not tt/2): the repetition schedule is
        // interesting exactly when targets EXCEED low-resource
        // availability — a half budget never repeats anything
        floor($"tt".cast("double") * $"wq".cast("double") / $"sw".cast("double"))
          .cast("long").as("target_tokens"))
      .select($"lang", $"avail_tokens", $"target_tokens",
        least(lit(MixMaxEpochs),
          expr("(target_tokens + avail_tokens - 1) div avail_tokens")).as("epochs"))
      .select($"lang", $"avail_tokens", $"target_tokens", $"epochs",
        least($"target_tokens", $"epochs" * $"avail_tokens").as("used_tokens"))
      .withColumn("deficit", $"target_tokens" - $"used_tokens")
      .orderBy($"lang")
  }

  /** The C4 BADWORD page filter — the blocklist stage of the C4
    * pipeline (Raffel et al. 2020 §2.2: any page containing a word
    * from a published blocklist is dropped WHOLE — page scoping, unlike
    * the per-line rules in [[lineKeep]]). The list here is a 3-word
    * stand-in over the synthetic vocabulary (the published list is an
    * external fixture; the operator takes any list) — one in-corpus
    * token so the filter provably fires, two absent ones pinning the
    * no-hit path. Output: every CONTAMINATED doc with its bad-token
    * count — the drop list a pipeline anti-joins against.
    *
    * Scale shape: the blocklist is a broadcast-sized literal inside a
    * codegen'd higher-order filter — pure per-row map work, ZERO
    * shuffle (the ordering is the oracle tail). A production-sized
    * blocklist (~2k words) swaps the IN-literal for an Aho-Corasick
    * scan expression; token-exact IN semantics keep this oracle-exact. */
  final val BadWords = Seq("dup", "obscenity", "profanity")

  def badwordsFilter(spark: SparkSession, sfDir: String): DataFrame =
    badwordsFilterOn(Tables.documents(spark, sfDir))

  private[graft] def badwordsFilterOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    badwordsUnordered(docs).orderBy($"doc_id")
  }

  /** The per-row count + gate without the oracle-tail ordering — the
    * ONE definition shared by the batch query and the streaming twin
    * (streams cannot sort; the stream's fold adds the order). */
  private[graft] def badwordsUnordered(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id",
        size(filter(split($"text", " "), w => w.isInCollection(BadWords)))
          .cast("long").as("n_bad"))
      .filter($"n_bad" > 0)
  }

  /** The PRODUCTION-SIZED blocklist (r15 VERDICT #5): 2,000 distinct
    * committed entries (`resources/graft/badwords_big.txt`) including
    * 419 multi-word phrases — the size/shape stand-in for the
    * published ~2k-entry C4 list (whose actual content has no place in
    * a test fixture). Contains the three [[BadWords]] tokens plus two
    * corpus-occurring bigrams ("table hash", "customer join") so the
    * multi-word path fires on real data; the synthetic fillers are
    * what sizes the automaton realistically. */
  lazy val BadWordsBig: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/badwords_big.txt")
    require(in != null, "badwords_big.txt missing from resources")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** [[badwordsFilter]] at production list size: ONE Aho-Corasick pass
    * per page ([[graft.functions.PhraseCount]] — O(tokens + matches),
    * list-size-independent) instead of the 3-entry IN-literal, with
    * token-sequence PHRASE semantics the IN form cannot express.
    * n_bad counts every (position, phrase) match — for single-token
    * lists exactly the IN count (CurationSpec differential). Same
    * map-only zero-shuffle shape; the automaton is a plan constant
    * like a broadcast model. */
  def badwordsBigFilter(spark: SparkSession, sfDir: String): DataFrame =
    badwordsBigFilterOn(Tables.documents(spark, sfDir), BadWordsBig)

  private[graft] def badwordsBigFilterOn(docs: DataFrame,
      list: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    badwordsBigUnordered(docs, list).orderBy($"doc_id")
  }

  /** The automaton count + gate without the oracle-tail ordering — the
    * ONE definition shared by the batch query and the streaming twin
    * (the [[badwordsUnordered]] discipline at production list size). */
  private[graft] def badwordsBigUnordered(docs: DataFrame,
      list: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id",
        graft.functions.PhraseCount(split($"text", " "),
          list.map(_.split(" ").toSeq)).as("n_bad"))
      .filter($"n_bad" > 0)
  }

  /** DuckDB mirror of [[badwordsBigFilter]]: per-length positional
    * gram expansion (lengths taken from the list itself) string-equi-
    * joined against the inlined entries — counting (position, phrase)
    * matches exactly like the automaton. Gram strings of different
    * token counts can never collide (space counts differ), so one
    * equality join covers all lengths. */
  private def badwordsBigSql: String = {
    // SQL-escape each entry (ANSI '' doubling): the committed fixture is
    // quote-free, but a list entry with an apostrophe must not silently
    // break the generated VALUES clause
    val vals = BadWordsBig.map(w => s"('${w.replace("'", "''")}')").mkString(", ")
    val lens = BadWordsBig.map(_.count(_ == ' ') + 1).distinct.sorted
    val gramSelects = lens.map { l =>
      s"""  SELECT doc_id, array_to_string(t[i : i + ${l - 1}], ' ') AS g
         |  FROM (SELECT doc_id, unnest(range(1, len(t) + ${2 - l})) AS i, t
         |        FROM toks)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bw(g) AS (VALUES $vals),
       |grams AS (
       |$gramSelects
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bad
       |FROM grams JOIN bw USING (g)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * 13-gram [[decontaminate]]: surface-form n-gram overlap misses
    * PARAPHRASED eval leakage, so production pipelines additionally
    * rank training items by embedding cosine against the eval set
    * (contamination audits of the "rephrased benchmark" problem). Same
    * deterministic eval slice as the gram decontam (vec_id ≡
    * [[EvalSliceRem]] mod [[EvalSliceMod]]); output the top-20 most
    * eval-similar training vectors (this corpus' max cosine is ~0.5,
    * so a fixed "contaminated" threshold would be vacuous — the top-k
    * formulation is the non-degenerate one, as with
    * [[Dedup.dedupEmbedCosine]]).
    *
    * Scale shape: the eval side is benchmark-sized by contract →
    * BROADCAST; the training side is one map-only scan (per-row cosine
    * against the broadcast block, no shuffle) into a TakeOrdered
    * top-k — the [[decontaminate]] plan with dot products in place of
    * gram probes. */
  def decontamSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, eval) = evalSplit(Tables.embeddings(spark, sfDir), "vec_id")
    decontamSemanticOn(train, eval)
  }

  private[graft] def decontamSemanticOn(train: DataFrame, eval: DataFrame): DataFrame =
    decontamSemanticTail(decontamSemanticPairs(train, eval))

  /** The broadcast train × eval cosine expansion WITHOUT the top-k
    * tail — the ONE definition shared by the batch query and the
    * streaming twin (identical Column expressions ⇒ bit-identical IEEE
    * cosines on both paths; streams cannot sort, so the stream's fold
    * runs the tail). */
  /** Eval-side row bound for the BRUTE pair expansion: the eval frame
    * is broadcast and crossed against every train row, so its size is
    * a CONTRACT, not a suggestion — this is the one seam where a
    * careless caller could hand the cross product a corpus
    * (r15 VERDICT minor; the dsirSelectFrom guard's standard).
    *
    * COST NOTE: enforcing it runs one EAGER `limit(n+1).count()` Spark
    * action at DataFrame-construction time on every
    * [[decontamSemanticPairs]] call (and once at streaming setup via
    * the stream twin) — an eval pipeline with expensive upstream
    * stages is partially executed twice (guard probe + real run), and
    * construction is no longer lazy. Deliberate: a contract violation
    * must fail BEFORE the cross product is planned, not after it
    * detonates; callers with a costly eval pipeline should
    * materialize/cache eval first. */
  final val DecontamMaxEvalRows = 100000L

  private[graft] def decontamSemanticPairs(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    import graft.functions.VectorOps
    // bounded probe: reads at most DecontamMaxEvalRows + 1 rows even
    // off an accidentally-corpus-sized frame (limit pushes into the
    // scan), so the guard itself cannot become the expensive thing
    val n = eval.limit(DecontamMaxEvalRows.toInt + 1).count()
    require(n <= DecontamMaxEvalRows,
      s"decontamSemantic: eval side exceeds $DecontamMaxEvalRows rows — the " +
        "brute expansion broadcasts eval against every training vector by " +
        "contract (benchmark-sized eval). Route bigger eval sets through " +
        "decontamSemanticAnn (IVF probe routing) or pre-slice the frame.")
    val t = train.select($"vec_id".as("train_id"),
      VectorOps.toDouble($"embedding").as("tv"))
    val ev = eval.select($"vec_id".as("eval_id"),
      VectorOps.toDouble($"embedding").as("ev"))
    t.crossJoin(broadcast(ev))
      .select($"train_id", $"eval_id", VectorOps.cosine($"tv", $"ev").as("cos"))
  }

  /** The most-contaminated-first top-20 over a (train_id, eval_id,
    * cos) pair frame — the batch query's tail and the stream's fold. */
  private[graft] def decontamSemanticTail(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .orderBy($"cos".desc, $"train_id".asc, $"eval_id".asc)
      .limit(20)
      .select($"train_id", $"eval_id", round($"cos", 4).as("cosine"))
  }

  /** ANN-ROUTED semantic decontamination — [[decontamSemantic]]'s own
    * scale story (r15 VERDICT #3): instead of every (train × eval)
    * cosine, route through [[Similarity]]'s seeded IVF quantizer —
    * every vector is assigned its cell (map work), each EVAL vector
    * probes its nprobe best cells, and the train side scores ONLY
    * probe-cell residents. At nprobe = [[Similarity.NProbe]] (10/16)
    * the scored pair space is ~nprobe/ncells of the brute fan-out; at
    * nprobe = ncells the candidate set is exactly all pairs and the
    * output equals [[decontamSemantic]] bit-for-bit (the simAnnIvf
    * full-probe ≡ brute pattern — CurationSpec pins it, plus the
    * recall-vs-nprobe curve at reduced probe).
    *
    * Scale shape: the eval×nprobe probe list is benchmark-sized by the
    * same contract as the brute form → BROADCAST into the train scan's
    * cell equi-join; no train-side shuffle, TakeOrdered tail. The
    * routing expression is [[Similarity.probeCellsExpr]] VERBATIM, so
    * the composition claim ("decontam changes the scoring, never the
    * routing") is structural. */
  def decontamSemanticAnn(spark: SparkSession, sfDir: String): DataFrame =
    decontamSemanticAnnOn(spark, sfDir, Similarity.NProbe)

  private[graft] def decontamSemanticAnnOn(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorOps
    val e = Similarity.embeddings(spark, sfDir)
    val cents = Similarity.seedCentroids(e)
    val scoreArr = Similarity.cosineScores(cents)
    val train = Similarity.assignedCells(e.filter(isTrain($"vec_id")), scoreArr)
      .select($"vec_id".as("train_id"), $"v".as("tv"), $"cell")
    val evalProbes = e.filter(isEval($"vec_id"))
      .select($"vec_id".as("eval_id"), $"v".as("ev"),
        explode(Similarity.probeCellsExpr(scoreArr, nprobe)).as("cell"))
    // cells are disjoint per train vector and probe cells are distinct
    // per eval vector ⇒ each (train, eval) pair at most once — no
    // distinct needed (the simAnnIvf argument)
    decontamSemanticTail(
      broadcast(evalProbes).join(train, Seq("cell"))
        .select($"train_id", $"eval_id", VectorOps.cosine($"tv", $"ev").as("cos")))
  }

  /** Per-source document cap for `cur_source_caps` (RefinedWeb-style
    * domain capping: no single source may contribute more than N
    * documents). sf-independent by design — at sf0.1 it keeps 10 of
    * each source's ~250 docs, the over-represented-crawl shape. */
  final val SourceCapN = 10L

  /** Per-source TOKEN budget for `cur_source_caps_tokens` — the same
    * cap measured in training tokens instead of documents. Sized to
    * BIND at every driver SF (≈1.3k tokens/source at sf0.01, ≈13k at
    * sf0.1), so the boundary-bucket rank path is always exercised. */
  final val SourceCapTokens = 800L

  /** Range-bucket count for the cap histogram: top-6-bits of the
    * 53-bit hash → 64 order-preserving buckets. */
  final val CapBuckets = 64
  private final val CapBucketShift = 53 - 6 // hbits >> 47 ∈ [0, 64)

  /** SOURCE/DOMAIN-level curation (the RefinedWeb/C4 cap): keep, per
    * `source`, the documents whose EXCLUSIVE cumulative weight in
    * md5-hash order stays under `budget` — i.e. the first documents of
    * a deterministic, content-independent per-source ordering, up to N
    * docs (weight 1) or T tokens (weight n_tokens). Equivalent to
    * `row_number() OVER (PARTITION BY source ORDER BY hbits, doc_id)
    * ≤ N` / the running-token-sum variant — but computed WITHOUT a
    * per-source sort of the corpus:
    *
    *  1. histogram: per (source, range-bucket = top 6 hash bits) weight
    *     sums — #sources × 64 rows, broadcast-sized at ANY corpus size;
    *  2. a window over the HISTOGRAM (tiny) finds each source's
    *     exclusive prefix weight per bucket;
    *  3. buckets whose prefix + own weight fit the budget are kept
    *     WHOLE by a broadcast semi-join (no sort, no shuffle beyond the
    *     histogram agg); buckets past the budget are dropped whole;
    *  4. only the ONE boundary bucket per source — ~1/64th of that
    *     source's docs — pays a rank window, and that window partitions
    *     by (source, bucket), so a source holding half the corpus still
    *     never concentrates on one task (the skew story a plain
    *     `Window.partitionBy(source)` rank lacks).
    *
    * Weights are ≥ 1, so "prefix + bucket weight ≤ budget ⇒ every doc's
    * exclusive running weight < budget" holds exactly and the bucket
    * decomposition reproduces the rank formulation bit-for-bit (bucket
    * = leading hash bits ⇒ bucket order IS hash-prefix order; equal
    * hashes land in the same bucket where (hbits, doc_id) breaks the
    * tie). */
  private[graft] def capBySource(docs: DataFrame, weight: Column,
      budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs
      .filter($"doc_id".isNotNull && $"source".isNotNull)
      .select($"doc_id", $"source", weight.cast("long").as("w"),
        graft.functions.Md5Lower64($"doc_id".cast("string"))
          .bitwiseAND(lit(HashMask53)).as("hbits"))
      .withColumn("bkt", shiftright($"hbits", CapBucketShift))
    val hist = d.groupBy($"source", $"bkt").agg(sum($"w").as("bw"))
    val before = coalesce(
      sum($"bw").over(Window.partitionBy($"source").orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val cum = hist.withColumn("before", before)
    val keepWhole = cum.filter($"before" + $"bw" <= budget)
      .select($"source", $"bkt")
    val boundary = cum
      .filter($"before" < budget && $"before" + $"bw" > budget)
      .select($"source", $"bkt", $"before")
    // no broadcast hint on the histogram sides: with FEW sources they
    // are trivially small and AQE broadcasts them at runtime; with
    // DOMAIN-granularity sources (RefinedWeb caps per registered
    // domain — millions of keys) the histogram is #sources × 64 rows
    // and a forced broadcast would be the ADVICE-flagged OOM shape.
    val wholeKept = d
      .join(keepWhole, Seq("source", "bkt"), "left_semi")
    val run = coalesce(
      sum($"w").over(Window.partitionBy($"source", $"bkt")
        .orderBy($"hbits", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val edgeKept = d.join(boundary, Seq("source", "bkt"))
      .withColumn("run", run)
      .filter($"before" + $"run" < budget)
      .select($"doc_id", $"source", $"w", $"hbits", $"bkt")
    wholeKept.unionByName(edgeKept).select($"doc_id", $"source")
  }

  /** Cap roster, document budget: ≤ [[SourceCapN]] docs per source. */
  def sourceCaps(spark: SparkSession, sfDir: String): DataFrame =
    sourceCapsOn(Tables.documents(spark, sfDir))

  private[graft] def sourceCapsOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    capBySource(docs, lit(1L), SourceCapN).orderBy($"doc_id")
  }

  /** Cap roster, token budget: per source, documents are taken in hash
    * order while the tokens already taken stay under
    * [[SourceCapTokens]] (greedy fill — the last doc may overflow). */
  def sourceCapsTokens(spark: SparkSession, sfDir: String): DataFrame =
    sourceCapsTokensOn(Tables.documents(spark, sfDir))

  private[graft] def sourceCapsTokensOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    capBySource(docs, size(split($"text", " ")), SourceCapTokens)
      .orderBy($"doc_id")
  }

  /** DSIR selection ratio: keep the best-weighted third of the raw
    * slice (the tertile convention `text_lm_buckets` established). */
  final val DsirKeepDen = 3L

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each RAW-slice
    * document by how much more likely its hashed n-gram features are
    * under a TARGET-domain bag-of-ngrams model than under the raw
    * background model, then keep the top fraction. Target here = the
    * prior snapshot's English slice (the curated-domain stand-in);
    * raw = the full fresh snapshot, all languages.
    *
    * Feature space = the learned quality scorer's: md5-low64 & 4095
    * over unigrams + space-joined bigrams ([[TextAnalysis.qmFeatures]]
    * — ONE definition shared across the model family). Both models are
    * Laplace-smoothed over the [[TextAnalysis.QmBuckets]] buckets and
    * quantized to the repo's 2⁻²⁰ grid with the single rounded IEEE
    * division the LM score established (`floor((c+1)/(N+B) · Q)`,
    * mirrored operand-for-operand in the oracle). The paper's weight is
    * Σ log(p_target/p_raw); logs are libm (engine-divergent), so — the
    * documented `text_lm_score` deviation — the weight is the
    * quantized-probability DIFFERENCE sum Σ k_b·(qp_b − qq_b), monotone
    * per-feature in the true ratio and exactly integer thereafter.
    *
    * Scale shape: both models are ≤4096-row broadcast artifacts (one
    * shuffle each onto bucket keys, map-side partials doing the heavy
    * lifting); the raw side expands ONCE into per-(doc, bucket) counts
    * (materialized — it feeds the background model AND the scoring
    * join), so scoring is map work + one per-doc agg. Totals collect
    * off the bounded model tables, never the corpus. */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // gram fan-out is compute-bound map work — decouple parallelism
    // from the input split count (the textQualityModel note)
    val docs = Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism)
    dsirWeightsOn(
      docs.filter(Dedup.isPrior($"doc_id") && $"lang" === "en"),
      docs.filter(Dedup.isFresh($"doc_id")))
      .orderBy($"doc_id") // the public query's documented order (the
      // weights core itself no longer sorts — see dsirWeightsFromRdf)
  }

  /** The DSIR transform over any (target, raw) pair of (doc_id, text)
    * frames (spec entry point: hand-checkable vocabularies). */
  private[graft] def dsirWeightsOn(target: DataFrame, raw: DataFrame): DataFrame = {
    val spark = target.sparkSession
    import spark.implicits._
    // the ≤4096-row target-side bucket-count artifact, materialized
    val ct = Materialize.frame(TextAnalysis.qmFeatures(target.select($"text"))
      .groupBy($"b").agg(count(lit(1)).as("c")))
    // per-(doc, bucket) raw counts: the ONE raw expansion, feeding both
    // the background model and the scoring join (algebraically equal to
    // per-occurrence scoring: Σ_occ (qp−qq) = Σ_b k_b·(qp_b−qq_b))
    dsirWeightsFromRdf(ct, Materialize.frame(
      TextAnalysis.qmFeatures(raw.select($"doc_id", $"text"))
        .groupBy($"doc_id", $"b").agg(count(lit(1)).as("k"))))
  }

  /** The weight computation over an ALREADY-EXPANDED (doc_id, b, k)
    * gram frame — the seam the dsir pipeline uses to overlap the
    * expansion with the pair search. */
  private[graft] def dsirWeightsFromRdf(ct: DataFrame, rdf: DataFrame): DataFrame = {
    val spark = ct.sparkSession
    import spark.implicits._
    // rdf must be CHEAP TO RESCAN (checkpointed, or a filter over a
    // checkpoint) — it is consumed by the background agg below and the
    // scoring join; dsirWeightsOn materializes the raw expansion before
    // delegating, the dsir pipeline passes a checkpointed-frame filter.
    //
    // BOTH ≤QmBuckets-row model tables come back in ONE side-tagged
    // driver collect. The r14a form spent four scheduling barriers on
    // the weights critical path — cq checkpoint, totals cross-join
    // collect, and a broadcast-build job per model — for two tables
    // whose combined size is bounded at 2·4096 rows. Quantizing on the
    // driver (dsirQL, the operand-for-operand twin of dsirQ) and
    // shipping the models as local relations makes the broadcast
    // builds free; driver state stays bytes-bounded.
    val both = ct.select(lit(true).as("t"), $"b", $"c")
      .unionByName(rdf.groupBy($"b").agg(sum($"k").as("c"))
        .select(lit(false).as("t"), $"b", $"c"))
      .collect()
    val (ctRows, cqRows) = both.partition(_.getBoolean(0))
    val nt = ctRows.iterator.map(_.getLong(2)).sum
    val nq = cqRows.iterator.map(_.getLong(2)).sum
    val qp = ctRows.map(r => (r.getLong(1), dsirQL(r.getLong(2) + 1L, nt))).toSeq
      .toDF("b", "qp")
    val qq = cqRows.map(r => (r.getLong(1), dsirQL(r.getLong(2) + 1L, nq))).toSeq
      .toDF("b", "qq")
    // unseen-in-target buckets smooth to the c=0 floor (a driver literal
    // off the bounded total); every scored bucket exists in qq by
    // construction HERE (cq is built from rdf itself), so that join is
    // inner — the streaming seam's left-join floor is dead weight only
    // in this self-scoring shape
    val qp0 = dsirQ0(nt)
    // NO trailing sort: every consumer either re-sorts (the standalone
    // weights query, dsirSelectFrom's weight rank) or is order-free
    // (the pipeline's anti-join) — a sort here was a dead exchange on
    // the pipeline's critical path
    rdf.join(broadcast(qp), Seq("b"), "left")
      .join(broadcast(qq), Seq("b"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_feats"),
        sum($"k" * (coalesce($"qp", lit(qp0)) - $"qq")).as("weight"))
  }

  /** The ONE quantizer of the DSIR model family: the single rounded
    * IEEE division onto the 2⁻²⁰ grid, shared by the batch path, the
    * streaming model seam and (operand-for-operand) the oracle. */
  private def dsirQ(c: Column, n: Long): Column =
    floor(c.cast("double") / lit((n + TextAnalysis.QmBuckets.toLong).toDouble) *
      lit(TextAnalysis.QmQuantum.toDouble)).cast("long")

  /** Driver-side twin of [[dsirQ]] — the SAME IEEE ops in the same
    * order (divide, multiply, floor), so a model quantized on the
    * driver is bit-identical to one quantized in the scan. */
  private[graft] def dsirQL(c: Long, n: Long): Long =
    math.floor(c.toDouble / (n + TextAnalysis.QmBuckets.toLong).toDouble *
      TextAnalysis.QmQuantum.toDouble).toLong

  /** The c=0 smoothing floor of a model with total `n` — the quantized
    * probability every unseen bucket collapses to. */
  private[graft] def dsirQ0(n: Long): Long =
    math.floor(1.0 / (n + TextAnalysis.QmBuckets).toDouble *
      TextAnalysis.QmQuantum.toDouble).toLong

  /** The two ≤4096-row DSIR model artifacts + BOTH unseen-bucket
    * floors, fitted on static (target, raw) frames — the seam the
    * streaming twin broadcasts the stored models through. The raw
    * floor matters exactly when the scored stream is NOT the fitted
    * raw snapshot (the production drift case): a bucket the background
    * model never saw must smooth to its c=0 probability, not drop. */
  private[graft] def dsirModelOn(target: DataFrame, raw: DataFrame)
      : (DataFrame, DataFrame, Long, Long) = {
    val spark = target.sparkSession
    import spark.implicits._
    val ct = Materialize.frame(TextAnalysis.qmFeatures(target.select($"text"))
      .groupBy($"b").agg(count(lit(1)).as("c")))
    val cq = Materialize.frame(TextAnalysis.qmFeatures(raw.select($"text"))
      .groupBy($"b").agg(count(lit(1)).as("c")))
    val nt = ct.agg(coalesce(sum($"c"), lit(0L))).collect()(0).getLong(0)
    val nq = cq.agg(coalesce(sum($"c"), lit(0L))).collect()(0).getLong(0)
    (Materialize.frame(ct.select($"b", dsirQ($"c" + 1L, nt).as("qp"))),
      Materialize.frame(cq.select($"b", dsirQ($"c" + 1L, nq).as("qq"))),
      dsirQ0(nt), dsirQ0(nq))
  }

  /** Per-doc DSIR scoring against explicit broadcast models — the
    * PER-OCCURRENCE formulation (one aggregation, streaming-legal;
    * algebraically equal to the batch path's per-(doc, bucket) form:
    * Σ_occ (qp−qq) = Σ_b k_b·(qp_b−qq_b)). Streaming-safe: no sort.
    * Both model joins are LEFT with the smoothing floor — a stream
    * that drifts past the fitted raw snapshot still scores every
    * occurrence (when the scored frame IS the fitted raw corpus, the
    * qq floor is provably dead: every bucket exists in cq). */
  private[graft] def dsirPerDocAgg(score: DataFrame, qp: DataFrame,
      qq: DataFrame, qp0: Long, qq0: Long): DataFrame = {
    val spark = score.sparkSession
    import spark.implicits._
    TextAnalysis.qmFeatures(score.select($"doc_id", $"text"))
      .join(broadcast(qp), Seq("b"), "left")
      .join(broadcast(qq), Seq("b"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce($"qp", lit(qp0)) - coalesce($"qq", lit(qq0))).as("weight"))
  }

  /** The resampling step: keep the top ⌈N/[[DsirKeepDen]]⌉ raw docs by
    * (weight DESC, doc_id) — the deterministic-rank variant of the
    * paper's Gumbel resampling (reproducible, oracle-expressible; the
    * stochastic form is one `+ gumbel(seed)` column away). Ranking
    * rides the range-sort + per-partition zipWithIndex pattern
    * (`textLmBuckets`) — no global window funnel. */
  def dsirSelect(spark: SparkSession, sfDir: String): DataFrame =
    dsirSelectFrom(dsirWeights(spark, sfDir))

  /** The rank-and-keep step over any DSIR weights frame — the seam the
    * DSIR-gated pipeline reuses.
    *
    * Job anatomy (this is a serial-barrier tail, so each job is wall):
    * range-partitioner sample, then ONE per-partition-sizes pass that
    * feeds BOTH the keep quota (total n — the r14a separate count()
    * job) and the offsets (zipWithIndex's internal pass), then the
    * emit job, which reuses the sort's shuffle map outputs (same RDD
    * lineage). No trailing doc_id sort: the driver's oracle compare is
    * order-normalized and both in-repo consumers re-shuffle anyway
    * (the pipeline semi-joins, the spec sorts its own copy).
    *
    * `materialize` = false when wIn is already cheap to rescan (the
    * pipeline's broadcast-anti-join over two checkpoints) — the three
    * passes re-run a bytes-sized probe instead of paying a checkpoint
    * write barrier.
    *
    * DETERMINISM PRECONDITION (materialize = false): the sizes pass and
    * the emit pass are two independent jobs over `sorted.rdd`, and the
    * offset arithmetic silently selects the WRONG rows if the two jobs
    * see different partition contents. This holds for every in-repo
    * caller because wIn derives purely from checkpointed frames through
    * deterministic operators (and the shared sort shuffle is reused),
    * but an input built on sampling, `first`/`any_value` aggregates, or
    * a non-deterministic UDF would violate it — pass materialize = true
    * for any such frame. PARTIALLY guarded below: the plan scan rejects
    * self-reporting non-deterministic expressions, Sample nodes, and
    * round-robin Repartition, but order-dependent aggregates pass it
    * silently — this scaladoc is the contract for those. */
  private[graft] def dsirSelectFrom(wIn: DataFrame,
      materialize: Boolean = true): DataFrame = {
    val spark = wIn.sparkSession
    import spark.implicits._
    val w = if (materialize) Materialize.frame(wIn) else {
      // cheap plan scan at the unsafe seam — PARTIALLY guarded: one pass
      // catches (a) self-reporting non-deterministic expressions
      // (rand()/non-deterministic UDFs; Expression.deterministic is
      // recursive over children), (b) Sample nodes (df.sample re-draws
      // under task retry), (c) round-robin Repartition (no partitioning
      // expression + shuffle ⇒ row placement varies under retry).
      // Order-dependent aggregates like first/any_value self-report
      // deterministic and CANNOT be caught here — that case stays on the
      // scaladoc contract (ADVICE r15).
      import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sample}
      val nondet = wIn.queryExecution.analyzed.collectFirst {
        case p: Sample => s"${p.nodeName} (sample re-draws under task retry)"
        case p: Repartition if p.shuffle =>
          s"${p.nodeName} (round-robin placement varies under task retry)"
        case p if p.expressions.exists(!_.deterministic) =>
          s"non-deterministic expression under ${p.nodeName}"
      }
      require(nondet.isEmpty,
        s"dsirSelectFrom(materialize = false) requires a deterministic input " +
          s"plan (two independent jobs must see identical partition contents); " +
          s"found ${nondet.getOrElse("")} — pass materialize = true for this " +
          s"input. NOTE this guard is partial: order-dependent aggregates " +
          s"(first/any_value) pass it silently; the scaladoc contract governs.")
      wIn
    }
    val sorted = w.orderBy($"weight".desc, $"doc_id".asc)
    val rdd = sorted.rdd
    val sizes = rdd.mapPartitionsWithIndex((i, it) => Iterator((i, it.size)))
      .collect().sortBy(_._1).map(_._2.toLong)
    val n = sizes.sum
    val keep = (n + DsirKeepDen - 1) / DsirKeepDen
    val offsets = sizes.scanLeft(0L)(_ + _)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val quota = keep - offsets(i)
      if (quota <= 0L) Iterator.empty
      else it.take(math.min(quota, Int.MaxValue.toLong).toInt)
    }
    spark.createDataFrame(out, sorted.schema)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_text_chunks" -> textChunks,
    "cur_split_assign" -> splitAssign,
    "cur_pack_bins" -> packBins,
    "cur_pack_bins_bpe" -> packBinsBpe,
    "cur_shuffle_order" -> shuffleOrder,
    "cur_pipeline" -> pipelineCurate,
    "cur_pipeline_full" -> pipelineCurateFull,
    "dedup_chunks" -> dedupChunks,
    "dedup_chunks_ngram" -> dedupChunksNgram,
    "dedup_chunks_containment" -> dedupChunksContainment,
    "cur_pipeline_samples" -> pipelineCurateSamples,
    "cur_pipeline_samples_qm" -> pipelineCurateSamplesQm,
    "cur_pipeline_samples_cc" -> pipelineCurateSamplesCc,
    "cur_pipeline_samples_ccq" -> pipelineCurateSamplesCcq,
    "cur_pipeline_samples_incremental" -> pipelineCurateSamplesIncremental,
    "cur_pack_chunks" -> packChunks,
    "cur_pack_chunks_bpe" -> packChunksBpe,
    "cur_decontam" -> decontaminate,
    "cur_decontam_strip" -> decontamStrip,
    "cur_mix_sample" -> mixSample,
    "cur_mix_sample_source" -> mixSampleSource,
    "cur_mix_epochs" -> mixEpochs,
    "cur_badwords" -> badwordsFilter,
    "cur_decontam_semantic" -> decontamSemantic,
    "cur_decontam_semantic_ann" -> decontamSemanticAnn,
    "cur_badwords_big" -> badwordsBigFilter,
    "cur_shard_assign" -> shardAssign,
    "cur_pipeline_samples_c4" -> pipelineCurateSamplesC4,
    "dedup_lines" -> dedupLines,
    "cur_line_filter" -> lineFilter,
    "cur_source_caps" -> sourceCaps,
    "cur_source_caps_tokens" -> sourceCapsTokens,
    "cur_pipeline_samples_caps" -> pipelineCurateSamplesCaps,
    "cur_pipeline_samples_lines" -> pipelineCurateSamplesLines,
    "cur_dsir_weights" -> dsirWeights,
    "cur_dsir_select" -> dsirSelect,
    "cur_pipeline_samples_dsir" -> pipelineCurateSamplesDsir,
    "cur_novelty" -> textNovelty,
    "cur_novelty_stored" -> textNoveltyStored,
  )

  /** `cur_novelty` / `cur_novelty_stored` oracle — shared by both so
    * the stored twin cannot drift from the inline contract. */
  private[graft] val noveltyOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |),
       |grams AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(t) - ${DecontamGram - 2}),
       |    i -> array_to_string(t[i : i + ${DecontamGram - 1}], ' '))) AS g
       |  FROM toks WHERE len(t) >= $DecontamGram
       |),
       |pr AS (SELECT DISTINCT unnest(g) AS h FROM grams
       |       WHERE ${Dedup.priorSql("doc_id")}),
       |fr AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS h
       |       FROM grams WHERE ${Dedup.freshSql("doc_id")}),
       |j AS (
       |  SELECT fr.doc_id, max(fr.n_grams) AS n_grams,
       |    CAST(sum(CASE WHEN pr.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM fr LEFT JOIN pr ON fr.h = pr.h
       |  GROUP BY fr.doc_id
       |)
       |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_novel,
       |  n_novel::DOUBLE / n_grams::DOUBLE AS novelty
       |FROM j ORDER BY doc_id""".stripMargin

  /** The chunk expansion as a reusable SQL body (no ORDER BY) over any
    * (doc_id, text) source relation, shared by the `cur_text_chunks`,
    * `dedup_chunks`, `dedup_chunks_ngram` and `cur_pipeline_samples`
    * oracles so the stride arithmetic cannot drift. */
  private[graft] def chunksSqlFrom(src: String): String =
    s"""SELECT doc_id, chunk_idx,
       |  array_to_string(t[s + 1 : s + $ChunkTokens], ' ') AS chunk_text,
       |  least(len(t) - s, $ChunkTokens) AS n_tokens
       |FROM (
       |  SELECT doc_id, t, unnest(range(0, len(t), $ChunkStride)) AS s,
       |    generate_subscripts(range(0, len(t), $ChunkStride), 1) - 1 AS chunk_idx
       |  FROM (SELECT doc_id, string_split(text, ' ') t FROM $src) d
       |) c""".stripMargin

  private val chunksSql = chunksSqlFrom("documents")

  /** `red(doc_id, extra…, text)`: `src` with its text redacted. */
  private[graft] def redSql(src: String, extra: String*): String =
    s"""red AS (
       |  SELECT doc_id, ${(extra :+ s"${TextAnalysis.redactedSqlExpr} AS text").mkString(", ")}
       |  FROM $src
       |)""".stripMargin

  /** `good`: the rows of `src` whose quality clears [[QualityCut]]. */
  private[graft] def goodSql(src: String): String =
    s"""good AS (
       |  SELECT * FROM $src
       |  WHERE ${TextAnalysis.qualitySqlExpr} >= $QualityCut
       |)""".stripMargin

  /** `redp` / `redf`: the prior and the fresh snapshot slices of `red`. */
  private[graft] val snapshotSplitSql: String =
    s"""redp AS (SELECT doc_id, text FROM red
       |         WHERE ${Dedup.priorSql("doc_id")}),
       |redf AS (SELECT doc_id, text FROM red
       |         WHERE ${Dedup.freshSql("doc_id")})""".stripMargin

  /** `chunks` + `sel`: the chunk fan-out of `good(doc_id, text)`, each
    * chunk ranked among the chunks of the same content hash by
    * (doc_id, chunk_idx). */
  private val keepFirstCtes: String =
    s"""chunks AS (${chunksSqlFrom("good")}),
       |sel AS (
       |  SELECT doc_id, chunk_idx, chunk_text, n_tokens,
       |    row_number() OVER (PARTITION BY md5(chunk_text)
       |      ORDER BY doc_id, chunk_idx) AS rn
       |  FROM chunks
       |)""".stripMargin

  /** The keep-first tail over `good(doc_id, text)`, ending the statement:
    * the first chunk of each content hash, in sample order. The oracle
    * of [[samplesOfGood]]. */
  private[graft] val keepFirstSql: String =
    s"""$keepFirstCtes
       |SELECT doc_id, chunk_idx, chunk_text, n_tokens
       |FROM sel WHERE rn = 1
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** [[keepFirstSql]] minus every chunk whose content is also a chunk of
    * `prior`: the tail of the incremental pipelines, where the prior
    * snapshot owns its chunks. */
  private[graft] def keepFirstNotInSql(prior: String): String =
    s"""$keepFirstCtes,
       |pchunks AS (${chunksSqlFrom(prior)})
       |SELECT doc_id, chunk_idx, chunk_text, n_tokens
       |FROM sel s WHERE rn = 1
       |  AND NOT EXISTS (SELECT 1 FROM pchunks p
       |                  WHERE md5(p.chunk_text) = md5(s.chunk_text))
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** The samples oracle over the redact → pair-drop → quality chain of
    * `src` (the `cur_pipeline_samples` and lines pipelines). */
  private def redDropSamplesSql(src: String): String =
    s"""${redSql(src)},
       |${Dedup.pairDropSql("red")},
       |${goodSql("kept")},
       |$keepFirstSql""".stripMargin

  /** The `cur_pipeline_samples` oracle. */
  private val samplesSql: String = s"WITH ${redDropSamplesSql("documents")}"

  /** Shard ids over a samples statement: the exclusive token prefix sum
    * in (doc_id, chunk_idx) order, integer-divided by [[ShardBudget]] —
    * the window formulation is the readable spec of [[shardAssignOn]]'s
    * two passes. */
  private[graft] def shardAssignSql(samplesSql: String): String =
    s"""WITH samples AS (
       |$samplesSql
       |)
       |SELECT doc_id, chunk_idx, chunk_text, n_tokens,
       |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    // $ShardBudget AS BIGINT) AS shard
       |FROM samples ORDER BY doc_id, chunk_idx""".stripMargin

  /** The per-language summary over `good(lang, text, audit…)`, ending the
    * statement — the oracle of [[langSummary]]. */
  private def langSummarySql(audit: String*): String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(ceil(n_tokens::DOUBLE / $ChunkStride)) AS BIGINT) AS n_chunks,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens${audit.map(a => s",\n  CAST(sum($a) AS BIGINT) AS $a").mkString}
       |FROM (SELECT *, len(string_split(text, ' ')) AS n_tokens FROM good)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Oracle for the STREAMING chunk near-dup (see
    * Streaming.streamDedupChunksNgram): the UNCAPPED exact-Jaccard pair
    * search over the packed-key chunk CTE. Uncapped — unlike
    * `dedup_chunks_ngram`'s PPJoin mirror — because the MinHash path
    * verifies exact Jaccard on full shingle sets, so a single-batch
    * replay is a genuine recall check at sample granularity. */
  private[graft] val chunkExactJaccardSql: String =
    s"""WITH ck AS (
       |  SELECT doc_id * $ChunkKeyBase + chunk_idx AS doc_id,
       |    chunk_text AS text
       |  FROM ($chunksSql)
       |),
       |pairs AS (${Dedup.exactJaccardSqlFrom("ck")})
       |SELECT doc_a // $ChunkKeyBase AS doc_a,
       |  CAST(doc_a % $ChunkKeyBase AS INT) AS idx_a,
       |  doc_b // $ChunkKeyBase AS doc_b,
       |  CAST(doc_b % $ChunkKeyBase AS INT) AS idx_b,
       |  jaccard
       |FROM pairs ORDER BY doc_a, idx_a, doc_b, idx_b""".stripMargin

  /** The DSIR weight derivation as named CTEs, terminating in
    * `dsir_w(doc_id, n_feats, weight)` — ONE definition spliced into
    * both the weights and the select oracles so the model arithmetic
    * cannot drift. Mirrors [[dsirWeightsOn]] operand-for-operand:
    * integer gram counts, the single rounded IEEE division onto the
    * 2⁻²⁰ grid, integer difference-sum. */
  private def dsirWeightCtes: String = dsirWeightCtesFrom(
    s"documents WHERE ${Dedup.priorSql("doc_id")} AND lang = 'en'",
    s"documents WHERE ${Dedup.freshSql("doc_id")}")

  /** The parameterized form: `targetSrc` any relation with a `text`
    * column, `rawSrc` any relation with `(doc_id, text)` — the seam
    * the DSIR-gated pipeline oracle points at the kept fresh slice. */
  private[operators] def dsirWeightCtesFrom(targetSrc: String, rawSrc: String): String = {
    val m = TextAnalysis.QmBuckets - 1
    val b = TextAnalysis.QmBuckets
    val qQ = TextAnalysis.QmQuantum
    s"""dsir_tt AS (
       |  SELECT string_split(text, ' ') AS t FROM $targetSrc
       |),
       |dsir_tf AS (
       |  SELECT md5_number_lower(w) & $m AS b
       |  FROM (SELECT unnest(t) AS w FROM dsir_tt)
       |  UNION ALL
       |  SELECT md5_number_lower(bg) & $m AS b
       |  FROM (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
       |        FROM dsir_tt WHERE len(t) >= 2)
       |),
       |dsir_ct AS (SELECT b, count(*) AS c FROM dsir_tf GROUP BY b),
       |dsir_rt AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $rawSrc
       |),
       |dsir_rf AS (
       |  SELECT doc_id, md5_number_lower(w) & $m AS b
       |  FROM (SELECT doc_id, unnest(t) AS w FROM dsir_rt)
       |  UNION ALL
       |  SELECT doc_id, md5_number_lower(bg) & $m AS b
       |  FROM (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
       |        FROM dsir_rt WHERE len(t) >= 2)
       |),
       |dsir_rdf AS (SELECT doc_id, b, count(*) AS k FROM dsir_rf GROUP BY doc_id, b),
       |dsir_cq AS (SELECT b, sum(k) AS c FROM dsir_rdf GROUP BY b),
       |dsir_nt AS (SELECT coalesce(sum(c), 0) AS n FROM dsir_ct),
       |dsir_nq AS (SELECT coalesce(sum(c), 0) AS n FROM dsir_cq),
       |dsir_qp AS (
       |  SELECT b, CAST(floor((c + 1)::DOUBLE / (n + $b)::DOUBLE * $qQ) AS BIGINT) AS qp
       |  FROM dsir_ct, dsir_nt
       |),
       |dsir_qq AS (
       |  SELECT b, CAST(floor((c + 1)::DOUBLE / (n + $b)::DOUBLE * $qQ) AS BIGINT) AS qq
       |  FROM dsir_cq, dsir_nq
       |),
       |dsir_qp0 AS (
       |  SELECT CAST(floor(1::DOUBLE / (n + $b)::DOUBLE * $qQ) AS BIGINT) AS qp0
       |  FROM dsir_nt
       |),
       |dsir_w AS (
       |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_feats,
       |    CAST(sum(k * (coalesce(qp, (SELECT qp0 FROM dsir_qp0)) - qq)) AS BIGINT) AS weight
       |  FROM dsir_rdf LEFT JOIN dsir_qp USING (b) JOIN dsir_qq USING (b)
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  /** The reflowed line expansion as a SQL body producing
    * (doc_id, line_idx, line) — the oracle mirror of
    * [[reflowLinesArr]] + [[lineRows]]. */
  private[graft] def reflowLinesSqlFrom(src: String): String =
    s"""SELECT doc_id, line_idx,
       |  array_to_string(
       |    t[line_idx * $LineTokens + 1 : line_idx * $LineTokens + $LineTokens],
       |    ' ') AS line
       |FROM (
       |  SELECT doc_id,
       |    unnest(range(0, (len(t) + ${LineTokens - 1}) // $LineTokens)) AS line_idx,
       |    t
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src))""".stripMargin

  private[graft] val reflowLinesSql: String = reflowLinesSqlFrom("documents")

  /** The lines-pipeline oracle chain (line filters → line dedup →
    * rebuild → redact → pair-drop → quality → chunk keep-first) with
    * an optional CTE prefix ahead of the lines source — ONE definition
    * shared by the lines pipeline and the full-C4 variant. */
  private def linesSamplesSql(prefixCtes: String, linesSrc: String): String =
    s"""WITH ${prefixCtes}lines AS (${reflowLinesSqlFrom(linesSrc)}),
       |lf AS (
       |  SELECT doc_id, line_idx, line FROM lines
       |  WHERE len(string_split(line, ' ')) >= 3
       |    AND NOT contains(line, 'lorem ipsum')
       |    AND NOT contains(line, '{')
       |    AND NOT list_contains(string_split(line, ' '), 'javascript')
       |),
       |rk AS (
       |  SELECT doc_id, line_idx, line,
       |    row_number() OVER (PARTITION BY md5(line)
       |      ORDER BY doc_id, line_idx) AS rn
       |  FROM lf),
       |reb AS (
       |  SELECT doc_id, string_agg(line, ' ' ORDER BY line_idx) AS text
       |  FROM rk WHERE rn = 1 GROUP BY doc_id),
       |${redDropSamplesSql("reb")}""".stripMargin

  /** Cosine over two DOUBLE[]-valued SQL expressions — the
    * Similarity.cosListSql shape (sequential dot / (√·√)), local copy
    * for the embedding-space decontam mirrors. */
  private def cosVSql(a: String, b: String): String =
    s"""(list_dot_product($a, $b) /
       |      (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))""".stripMargin

  val oracles: Map[String, String] = Map(
    // keep-first per distinct line content (md5 partition, the
    // dedup_exact convention), documents rebuilt from survivors
    "dedup_lines" ->
      s"""WITH lines AS ($reflowLinesSql),
         |rk AS (
         |  SELECT doc_id, line_idx, line,
         |    row_number() OVER (PARTITION BY md5(line)
         |      ORDER BY doc_id, line_idx) AS rn
         |  FROM lines),
         |reb AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(line, chr(10) ORDER BY line_idx) AS kept_text
         |  FROM rk WHERE rn = 1 GROUP BY doc_id),
         |alln AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
         |SELECT a.doc_id, coalesce(r.kept_text, '') AS kept_text,
         |  coalesce(r.n_kept, 0) AS n_kept,
         |  a.n_lines - coalesce(r.n_kept, 0) AS n_dropped
         |FROM alln a LEFT JOIN reb r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // the C4 line predicates verbatim (lineKeep's four rules)
    "cur_line_filter" ->
      s"""WITH lr AS (
         |  SELECT doc_id,
         |    [array_to_string(t[i * $LineTokens + 1 : i * $LineTokens + $LineTokens], ' ')
         |     for i in range(0, (len(t) + ${LineTokens - 1}) // $LineTokens)] AS lines
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |f AS (
         |  SELECT doc_id,
         |    list_filter(lines, l ->
         |      len(string_split(l, ' ')) >= 3
         |      AND NOT contains(l, 'lorem ipsum')
         |      AND NOT contains(l, '{')
         |      AND NOT list_contains(string_split(l, ' '), 'javascript')) AS kl,
         |    len(lines) AS n
         |  FROM lr)
         |SELECT doc_id, array_to_string(kl, chr(10)) AS kept_text,
         |  CAST(len(kl) AS BIGINT) AS n_kept,
         |  CAST(n - len(kl) AS BIGINT) AS n_dropped
         |FROM f ORDER BY doc_id""".stripMargin,
    // the rank formulation — the engine's bucket decomposition must
    // reproduce it bit-for-bit (capBySource scaladoc)
    "cur_source_caps" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    md5_number_lower(CAST(doc_id AS VARCHAR)) & $HashMask53 AS hbits
         |  FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL),
         |rk AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY hbits, doc_id) AS rn
         |  FROM d)
         |SELECT doc_id, source FROM rk WHERE rn <= $SourceCapN
         |ORDER BY doc_id""".stripMargin,
    // greedy token fill: kept while the EXCLUSIVE running token sum in
    // hash order stays under the budget (last doc may overflow)
    "cur_source_caps_tokens" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |    md5_number_lower(CAST(doc_id AS VARCHAR)) & $HashMask53 AS hbits
         |  FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL),
         |c AS (
         |  SELECT doc_id, source,
         |    coalesce(sum(w) OVER (PARTITION BY source ORDER BY hbits, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw
         |  FROM d)
         |SELECT doc_id, source FROM c WHERE cw < $SourceCapTokens
         |ORDER BY doc_id""".stripMargin,
    // the source-capped pipeline: redact + pair-drop CTEs as the other
    // samples oracles, the rank-cap gate, the shared chunk tail
    "cur_pipeline_samples_caps" ->
      s"""WITH ${redSql("documents", "source")},
         |${Dedup.pairDropSql("red")},
         |ck AS (
         |  SELECT doc_id, source,
         |    md5_number_lower(CAST(doc_id AS VARCHAR)) & $HashMask53 AS hbits
         |  FROM kept WHERE source IS NOT NULL AND doc_id IS NOT NULL
         |),
         |rk AS (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY hbits, doc_id) AS rn
         |  FROM ck
         |),
         |good AS (
         |  SELECT k.doc_id, k.text FROM kept k JOIN rk USING (doc_id)
         |  WHERE rn <= $SourceCapN
         |),
         |$keepFirstSql""".stripMargin,
    "cur_dsir_weights" ->
      s"""WITH $dsirWeightCtes
         |SELECT doc_id, n_feats, weight FROM dsir_w ORDER BY doc_id""".stripMargin,
    "cur_dsir_select" ->
      s"""WITH $dsirWeightCtes,
         |dsir_rk AS (
         |  SELECT doc_id, n_feats, weight,
         |    row_number() OVER (ORDER BY weight DESC, doc_id) AS rk
         |  FROM dsir_w
         |),
         |dsir_n AS (SELECT (count(*) + $DsirKeepDen - 1) // $DsirKeepDen AS keep FROM dsir_w)
         |SELECT doc_id, n_feats, weight FROM dsir_rk, dsir_n
         |WHERE rk <= keep ORDER BY doc_id""".stripMargin,
    "cur_text_chunks" ->
      s"""$chunksSql
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    // the DSIR-gated pipeline: dsir CTEs (ONE definition) pointed at
    // the redacted prior-en target and the near-dup-kept fresh slice,
    // rank keep = the cur_dsir_select formulation, samples tail shared
    "cur_pipeline_samples_dsir" ->
      s"""WITH pairs AS (${Dedup.cappedJaccardSqlFrom("documents")}),
         |${dsirWeightCtesFrom(
             s"(SELECT text FROM documents WHERE ${Dedup.priorSql("doc_id")} AND lang = 'en')",
             s"(SELECT doc_id, text FROM documents WHERE ${Dedup.freshSql("doc_id")})")},
         |wk AS (
         |  SELECT doc_id, weight FROM dsir_w
         |  WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |),
         |dsir_rk AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY weight DESC, doc_id) AS rk
         |  FROM wk
         |),
         |dsir_n AS (SELECT (count(*) + $DsirKeepDen - 1) // $DsirKeepDen AS keep FROM wk),
         |good AS (
         |  SELECT d.doc_id, ${TextAnalysis.redactedSqlExpr} AS text
         |  FROM documents d JOIN dsir_rk USING (doc_id), dsir_n
         |  WHERE rk <= keep
         |),
         |$keepFirstSql""".stripMargin,
    // the engine's op tree mirrored VERBATIM: integer-quantized sqrt
    // weights (sums exact), one left-to-right IEEE division chain,
    // 53-bit dyadic hash fractions, output probability on the 2^-20
    // grid — see mixSample's scaladoc for why each piece is
    // reassociation- and libm-proof
    "cur_mix_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
         |    md5_number_lower(CAST(doc_id AS VARCHAR)) & $HashMask53 AS hbits
         |  FROM documents WHERE lang IS NOT NULL
         |),
         |ls AS (SELECT lang, sum(n_tokens) AS t FROM d GROUP BY lang),
         |w AS (SELECT lang, t,
         |  CAST(floor(sqrt(CAST(t AS DOUBLE)) * $MixQuantum) AS BIGINT) AS wq
         |  FROM ls),
         |tot AS (SELECT sum(t) AS tt, sum(wq) AS sw FROM w),
         |p AS (SELECT lang, t,
         |  least(CAST(1.0 AS DOUBLE),
         |    CAST(tt // 2 AS DOUBLE) * CAST(wq AS DOUBLE)
         |      / CAST(sw AS DOUBLE) / CAST(t AS DOUBLE)) AS keep_p
         |  FROM w CROSS JOIN tot),
         |kept AS (
         |  SELECT d.lang, d.n_tokens, p.keep_p
         |  FROM d JOIN p USING (lang)
         |  WHERE CAST(d.hbits AS DOUBLE) / 9007199254740992.0 < p.keep_p)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
         |  CAST(floor(max(keep_p) * $MixQuantum) AS BIGINT) AS q_keep
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    // the source-keyed twin: identical CTE chain over `source`
    "cur_mix_sample_source" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         |    md5_number_lower(CAST(doc_id AS VARCHAR)) & $HashMask53 AS hbits
         |  FROM documents WHERE source IS NOT NULL
         |),
         |ls AS (SELECT source, sum(n_tokens) AS t FROM d GROUP BY source),
         |w AS (SELECT source, t,
         |  CAST(floor(sqrt(CAST(t AS DOUBLE)) * $MixQuantum) AS BIGINT) AS wq
         |  FROM ls),
         |tot AS (SELECT sum(t) AS tt, sum(wq) AS sw FROM w),
         |p AS (SELECT source, t,
         |  least(CAST(1.0 AS DOUBLE),
         |    CAST(tt // 2 AS DOUBLE) * CAST(wq AS DOUBLE)
         |      / CAST(sw AS DOUBLE) / CAST(t AS DOUBLE)) AS keep_p
         |  FROM w CROSS JOIN tot),
         |kept AS (
         |  SELECT d.source, d.n_tokens, p.keep_p
         |  FROM d JOIN p USING (source)
         |  WHERE CAST(d.hbits AS DOUBLE) / 9007199254740992.0 < p.keep_p)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
         |  CAST(floor(max(keep_p) * $MixQuantum) AS BIGINT) AS q_keep
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    // identical CTE chain to cur_mix_sample through the quantized
    // weights, then the full-budget target + pure integer epoch plan
    "cur_mix_epochs" ->
      s"""WITH d AS (
         |  SELECT lang, len(string_split(text, ' ')) AS n_tokens
         |  FROM documents WHERE lang IS NOT NULL
         |),
         |ls AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t FROM d GROUP BY lang),
         |w AS (SELECT lang, t,
         |  CAST(floor(sqrt(CAST(t AS DOUBLE)) * $MixQuantum) AS BIGINT) AS wq
         |  FROM ls),
         |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt, CAST(sum(wq) AS BIGINT) AS sw FROM w),
         |tgt AS (SELECT lang, t AS avail_tokens,
         |  CAST(floor(CAST(tt AS DOUBLE) * CAST(wq AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT)
         |    AS target_tokens
         |  FROM w CROSS JOIN tot),
         |ep AS (SELECT lang, avail_tokens, target_tokens,
         |  least(CAST($MixMaxEpochs AS BIGINT),
         |    (target_tokens + avail_tokens - 1) // avail_tokens) AS epochs
         |  FROM tgt)
         |SELECT lang, avail_tokens, target_tokens, epochs,
         |  least(target_tokens, epochs * avail_tokens) AS used_tokens,
         |  target_tokens - least(target_tokens, epochs * avail_tokens) AS deficit
         |FROM ep ORDER BY lang""".stripMargin,
    // token-exact IN over the split tokens, page-scoped (C4 badwords)
    "cur_badwords" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> w IN (${BadWords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_bad
         |  FROM documents)
         |SELECT doc_id, n_bad FROM b WHERE n_bad > 0 ORDER BY doc_id""".stripMargin,
    // production list size + phrase semantics: positional gram join
    // against the inlined 2k-entry fixture (see badwordsBigSql)
    "cur_badwords_big" -> badwordsBigSql,
    // the dedup_embed_cosine float formulation (dot / (||a||·||b||),
    // round-4 output, unrounded ORDER BY) over the train × eval slices
    "cur_decontam_semantic" ->
      s"""SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
         |  round(list_dot_product(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
         |    (sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 4) AS cosine
         |FROM embeddings t, embeddings e
         |WHERE ${trainSql("t.vec_id")}
         |  AND ${evalSql("e.vec_id")}
         |ORDER BY list_dot_product(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
         |    (sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) DESC,
         |  t.vec_id, e.vec_id
         |LIMIT 20""".stripMargin,
    // the ANN-routed mirror: the seeded-IVF assignment/probe CTEs
    // (rk/assign/probes — the ivfSeededSql shape with eval vectors as
    // the query set) gate WHICH pairs are scored; scoring and the
    // top-20 tail are the brute query's verbatim. Routing tie-breaks
    // (rn = 1 first-max assignment, rn <= nprobe with cid ASC) mirror
    // array_position/probeCellsExpr exactly, and the cosine is the
    // same IEEE sequence on both engines — the simAnnIvf parity
    // argument end to end.
    "cur_decontam_semantic_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  WHERE vec_id >= ${Similarity.NumQueries}
         |    AND vec_id < ${Similarity.NumQueries + Similarity.NumCentroids}
         |),
         |rk AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosVSql("e.v", "c.cv")} DESC, c.cid ASC) AS rn
         |  FROM e, c
         |),
         |cand AS (
         |  SELECT a.vec_id AS train_id, p.vec_id AS eval_id
         |  FROM (SELECT vec_id, cid AS cell FROM rk
         |        WHERE rn = 1 AND ${trainSql("vec_id")}) a
         |  JOIN (SELECT vec_id, cid AS cell FROM rk
         |        WHERE rn <= ${Similarity.NProbe}
         |          AND ${evalSql("vec_id")}) p
         |    USING (cell)
         |)
         |SELECT train_id, eval_id, round(cos, 4) AS cosine FROM (
         |  SELECT cd.train_id, cd.eval_id, ${cosVSql("t.v", "ev.v")} AS cos
         |  FROM cand cd
         |  JOIN e t ON t.vec_id = cd.train_id
         |  JOIN e ev ON ev.vec_id = cd.eval_id)
         |ORDER BY cos DESC, train_id, eval_id
         |LIMIT 20""".stripMargin,
    // string-gram mirror of the fused 13-gram hash expansion: gram
    // COUNTS are hash-family-independent (distinct grams ↦ distinct
    // xxh64 up to ~n²/2⁶⁴ — the Jaccard families' argument)
    // flag → surgery: the eval-shared maximal spans (positional gram
    // text vs the engine's positional gram hashes — the decontam
    // argument) interval-union-stripped from each training doc
    "cur_decontam_strip" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |),
         |eg AS (
         |  SELECT DISTINCT array_to_string(t[i : i + ${DecontamGram - 1}], ' ') AS g
         |  FROM (SELECT unnest(range(1, len(t) - ${DecontamGram - 2})) AS i, t
         |        FROM toks
         |        WHERE ${evalSql("doc_id")}
         |          AND len(t) >= $DecontamGram)
         |),
         |tg AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    array_to_string(t[i : i + ${DecontamGram - 1}], ' ') AS g
         |  FROM (SELECT doc_id, unnest(range(1, len(t) - ${DecontamGram - 2})) AS i, t
         |        FROM toks
         |        WHERE ${trainSql("doc_id")}
         |          AND len(t) >= $DecontamGram)
         |),
         |shared AS (SELECT doc_id, pos FROM tg JOIN eg USING (g)),
         |runs AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
         |  FROM shared
         |),
         |spans AS (
         |  SELECT doc_id, min(pos) AS start_token,
         |    count(*) + ${DecontamGram - 1} AS len_tokens
         |  FROM runs GROUP BY doc_id, rid
         |),
         |drop_idx AS (
         |  SELECT DISTINCT doc_id, idx FROM (
         |    SELECT doc_id,
         |      unnest(range(start_token, start_token + len_tokens)) AS idx
         |    FROM spans)
         |),
         |tk AS (
         |  SELECT doc_id,
         |    generate_subscripts(string_split(text, ' '), 1) - 1 AS idx,
         |    unnest(string_split(text, ' ')) AS w
         |  FROM documents WHERE ${trainSql("doc_id")}
         |),
         |keptt AS (
         |  SELECT tk.doc_id, tk.idx, tk.w FROM tk
         |  WHERE NOT EXISTS (SELECT 1 FROM drop_idx d
         |                    WHERE d.doc_id = tk.doc_id AND d.idx = tk.idx)
         |),
         |kept AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(w, ' ' ORDER BY idx) AS kept_text
         |  FROM keptt GROUP BY doc_id
         |),
         |alln AS (SELECT doc_id, len(string_split(text, ' ')) AS n_total
         |         FROM documents WHERE ${trainSql("doc_id")})
         |SELECT a.doc_id, coalesce(k.kept_text, '') AS kept_text,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  a.n_total - coalesce(k.n_kept, 0) AS n_dropped
         |FROM alln a LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // novelty mirrored with the decontam gram definition (distinct
    // string grams stand in for the engine's distinct xxh64 set — the
    // same no-collision contract cur_decontam already relies on)
    "cur_novelty" -> noveltyOracleSql,
    // the stored twin's contract IS the inline query's (only the
    // prior-side plumbing differs), so the oracle is shared verbatim
    "cur_novelty_stored" -> noveltyOracleSql,
    "cur_decontam" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |),
         |grams AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(t) - ${DecontamGram - 2}),
         |    i -> array_to_string(t[i : i + ${DecontamGram - 1}], ' '))) AS g
         |  FROM toks WHERE len(t) >= $DecontamGram
         |),
         |ev AS (SELECT DISTINCT unnest(g) AS h FROM grams
         |       WHERE ${evalSql("doc_id")}),
         |tr AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS h
         |       FROM grams WHERE ${trainSql("doc_id")})
         |SELECT tr.doc_id, max(tr.n_grams) AS n_grams, count(*) AS n_hit
         |FROM tr JOIN ev USING (h)
         |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin,
    // dedup_exact semantics over the chunk expansion: lexicographic min
    // (doc_id, chunk_idx) keep key via row_number, group size via a
    // window over the same hash partition
    "dedup_chunks" ->
      s"""WITH chunks AS ($chunksSql)
         |SELECT h, keep_doc, keep_chunk, n_dups FROM (
         |  SELECT md5(chunk_text) AS h, doc_id AS keep_doc,
         |    chunk_idx AS keep_chunk,
         |    count(*) OVER (PARTITION BY md5(chunk_text)) AS n_dups,
         |    row_number() OVER (PARTITION BY md5(chunk_text)
         |      ORDER BY doc_id, chunk_idx) AS rn
         |  FROM chunks) s
         |WHERE rn = 1 ORDER BY h""".stripMargin,
    // the document pair-search SQL over packed-key chunks (the same
    // cappedJaccardSqlFrom splice the full pipeline uses), keys
    // unpacked on output with the engine's ChunkKeyBase
    "dedup_chunks_ngram" ->
      s"""WITH ck AS (
         |  SELECT doc_id * $ChunkKeyBase + chunk_idx AS doc_id,
         |    chunk_text AS text
         |  FROM ($chunksSql)
         |),
         |pairs AS (${Dedup.cappedJaccardSqlFrom("ck")})
         |SELECT doc_a // $ChunkKeyBase AS doc_a,
         |  CAST(doc_a % $ChunkKeyBase AS INT) AS idx_a,
         |  doc_b // $ChunkKeyBase AS doc_b,
         |  CAST(doc_b % $ChunkKeyBase AS INT) AS idx_b,
         |  jaccard
         |FROM pairs ORDER BY doc_a, idx_a, doc_b, idx_b""".stripMargin,
    // the containment pair-search SQL over the same packed-key chunk
    // CTE — excerpt detection at sample granularity
    "dedup_chunks_containment" ->
      s"""WITH ck AS (
         |  SELECT doc_id * $ChunkKeyBase + chunk_idx AS doc_id,
         |    chunk_text AS text
         |  FROM ($chunksSql)
         |),
         |pairs AS (${Dedup.containmentSqlFrom("ck")})
         |SELECT doc_a // $ChunkKeyBase AS doc_a,
         |  CAST(doc_a % $ChunkKeyBase AS INT) AS idx_a,
         |  doc_b // $ChunkKeyBase AS doc_b,
         |  CAST(doc_b % $ChunkKeyBase AS INT) AS idx_b,
         |  containment
         |FROM pairs ORDER BY doc_a, idx_a, doc_b, idx_b""".stripMargin,
    // the learned-gate variant: qm CTEs (ONE definition, spliced from
    // TextAnalysis) fit on the prior slice of red, score kept, and the
    // gate is the exact-integer 2*sum_q >= n_feats*Q prior test
    "cur_pipeline_samples_qm" ->
      s"""WITH ${redSql("documents")},
         |${Dedup.pairDropSql("red")},
         |${TextAnalysis.qmScoreCtes(
             s"(SELECT text FROM red WHERE ${Dedup.priorSql("doc_id")})",
             "kept")},
         |good AS (
         |  SELECT kept.doc_id, kept.text FROM kept
         |  JOIN qm_scores USING (doc_id)
         |  WHERE 2 * sum_q >= n_feats * ${TextAnalysis.QmQuantum}
         |),
         |$keepFirstSql""".stripMargin,
    // the materializing pipeline: every stage's SQL spliced from the
    // same constants, chunk-level keep-first via row_number over the
    // chunk-hash partition — the output hash covers every emitted
    // sample's full text
    "cur_pipeline_samples" -> samplesSql,
    // shard assignment over the samples pipeline's own output
    "cur_shard_assign" -> shardAssignSql(samplesSql),
    // the C4-order composition: line filter + line dedup on ORIGINAL
    // indexes, space-joined rebuild, then the samples CTEs verbatim
    // over the rebuilt corpus
    "cur_pipeline_samples_lines" -> linesSamplesSql("", "documents"),
    // the full-recipe variant: one badwords page-drop CTE ahead of the
    // IDENTICAL lines + samples chain (single-source splice)
    "cur_pipeline_samples_c4" -> linesSamplesSql(
      s"""c4src AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE len(list_filter(string_split(text, ' '),
         |    w -> w IN (${BadWords.map(w => s"'$w'").mkString(", ")}))) = 0
         |),
         |""".stripMargin, "c4src"),
    // the incremental pipeline: every stage's SQL spliced from the same
    // single-source pieces — redaction, the uncapped exact-Jaccard pair
    // relation (the MinHash family's recall oracle, here restricted to
    // (prior ∪ novel) × novel with the cross/internal direction rules),
    // quality, chunk arithmetic — over the snapshot split; prior-side
    // suppression via NOT EXISTS on the doc-hash and chunk-hash indexes
    "cur_pipeline_samples_incremental" ->
      s"""WITH ${redSql("documents")},
         |$snapshotSplitSql,
         |keyed AS (
         |  SELECT doc_id, text, md5(text) AS h,
         |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM redf
         |),
         |novel AS (
         |  SELECT doc_id, text FROM keyed k
         |  WHERE rn = 1
         |    AND NOT EXISTS (SELECT 1 FROM redp p WHERE md5(p.text) = k.h)
         |),
         |pool AS (SELECT doc_id, text FROM redp
         |         UNION ALL SELECT doc_id, text FROM novel),
         |toks AS (SELECT doc_id, string_split(text, ' ') t FROM pool),
         |shg AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
         |  FROM toks WHERE len(t) >= 3
         |),
         |sizes AS (SELECT doc_id, count(*) n FROM shg GROUP BY doc_id),
         |common AS (
         |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
         |  FROM shg a JOIN shg b ON a.s = b.s
         |  WHERE ${Dedup.freshSql("b.doc_id")}
         |    AND (${Dedup.priorSql("a.doc_id")}
         |         OR a.doc_id < b.doc_id)
         |  GROUP BY a.doc_id, b.doc_id
         |),
         |dropped AS (
         |  SELECT DISTINCT bi AS doc_id FROM common
         |  JOIN sizes na ON ai = na.doc_id
         |  JOIN sizes nb ON bi = nb.doc_id
         |  WHERE c::DOUBLE / (na.n + nb.n - c) >= ${Dedup.JaccardThreshold}
         |),
         |kept AS (
         |  SELECT doc_id, text FROM novel n
         |  WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = n.doc_id)
         |),
         |${goodSql("kept")},
         |${keepFirstNotInSql("redp")}""".stripMargin,
    // the cluster-keep materializing pipeline: the SAME recursive-CTE
    // transitive closure as the dedup_clusters_all oracle, spliced over
    // the redacted CTE (both edge SQLs from their single-source
    // definitions), keep = component minimum, then the identical
    // quality → chunk → keep-first tail
    "cur_pipeline_samples_cc" ->
      s"""WITH RECURSIVE
         |${redSql("documents")},
         |${Dedup.unionPairCtesFrom("red")},
         |${Dedup.closureCtes("red")},
         |kept AS (
         |  SELECT r.doc_id, r.text FROM red r JOIN lab ON r.doc_id = lab.doc_id
         |  WHERE lab.cluster = lab.doc_id
         |),
         |${goodSql("kept")},
         |$keepFirstSql""".stripMargin,
    // the quality-aware cluster keep: the same closure CTE, then the
    // representative is the per-cluster argmax (quality, −doc_id) —
    // row_number over (q DESC, doc_id ASC) mirrors the engine's
    // lexicographic struct max exactly (q is round(…, 4) on both
    // sides, so near-identical duplicates tie and resolve on doc_id).
    // Singletons are their own cluster's sole member ⇒ their own rep,
    // so `kept = reps` covers the engine's never-labeled singletons.
    "cur_pipeline_samples_ccq" ->
      s"""WITH RECURSIVE
         |${redSql("documents")},
         |${Dedup.unionPairCtesFrom("red")},
         |${Dedup.closureCtes("red")},
         |scored AS (
         |  SELECT doc_id, cluster, ${TextAnalysis.qualitySqlExpr} AS q
         |  FROM (SELECT lab.doc_id AS doc_id, lab.cluster AS cluster,
         |          r.text AS text
         |        FROM lab JOIN red r ON lab.doc_id = r.doc_id) s
         |),
         |reps AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY cluster
         |      ORDER BY q DESC, doc_id ASC) AS rn
         |    FROM scored) t
         |  WHERE rn = 1
         |),
         |kept AS (
         |  SELECT doc_id, text FROM red
         |  WHERE doc_id IN (SELECT doc_id FROM reps)
         |),
         |${goodSql("kept")},
         |$keepFirstSql""".stripMargin,
    // the full composition with redaction FIRST: the pair CTE runs over
    // the redacted text (cappedJaccardSqlFrom("red")), the quality gate
    // reads the redacted column, and n_pii audits the original-text
    // match counts — every expression spliced from the same constants
    // the engine uses
    "cur_pipeline_full" ->
      s"""WITH ${redSql("documents", "lang", s"${TextAnalysis.piiCountSqlExpr} AS n_pii")},
         |${Dedup.pairDropSql("red")},
         |${goodSql("kept")}
         |${langSummarySql("n_pii")}""".stripMargin,
    "cur_shuffle_order" ->
      """SELECT doc_id, (doc_id * 1103515245 + 12345) % 2147483648 AS k,
        |  row_number() OVER (ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id) - 1 AS pos
        |FROM documents ORDER BY pos""".stripMargin,
    "cur_split_assign" ->
      """SELECT CASE WHEN (doc_id * 2654435761) % 10 < 9 THEN 'train' ELSE 'val' END AS split,
        |  lang, count(*) AS n_docs
        |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    // the COMPOSITION of three independently-checked stages: near-dup
    // pair SQL (Dedup.cappedJaccardSql), the quality expression
    // (TextAnalysis.qualitySqlExpr), and the chunk-count arithmetic —
    // spliced from the same constants the engine uses, so no drift
    "cur_pipeline" ->
      s"""WITH ${Dedup.pairDropSql("documents")},
         |${goodSql("kept")}
         |${langSummarySql()}""".stripMargin,
    // the packBins window formulation over the chunk CTE, in the same
    // (doc_id, chunk_idx) order the engine's range sort uses
    // chunk granularity x subword measure: the greedy-walk CTE keyed
    // (doc_id, chunk_idx) re-counts each chunk's text, then the same
    // prefix-sum binning
    "cur_pack_chunks_bpe" ->
      s"""WITH RECURSIVE vocab(piece) AS (VALUES ${TextAnalysis.bpeVocabValues}),
         |ck AS ($chunksSql),
         |words AS (
         |  SELECT doc_id, chunk_idx,
         |    generate_subscripts(string_split(chunk_text, ' '), 1) AS wid,
         |    unnest(string_split(chunk_text, ' ')) AS w
         |  FROM ck
         |),
         |step AS (
         |  SELECT doc_id, chunk_idx, wid, w, 0 AS pos, 0 AS cnt FROM words
         |  UNION ALL
         |  SELECT doc_id, chunk_idx, wid, w,
         |    pos + coalesce((SELECT max(len(piece)) FROM vocab
         |                    WHERE piece = substr(w, pos + 1, len(piece))), 1),
         |    cnt + 1
         |  FROM step WHERE pos < len(w)
         |),
         |toks AS (
         |  SELECT doc_id, chunk_idx, sum(cnt) AS n_tokens
         |  FROM step WHERE pos >= len(w) GROUP BY doc_id, chunk_idx
         |), pre AS (
         |  SELECT n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
         |  FROM toks
         |)
         |SELECT CAST(pre_sum // $PackBudget AS BIGINT) AS bin, count(*) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM pre GROUP BY 1 ORDER BY bin""".stripMargin,
    "cur_pack_chunks" ->
      s"""WITH chunks AS ($chunksSql),
         |pre AS (
         |  SELECT n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
         |  FROM chunks
         |)
         |SELECT CAST(pre_sum // $PackBudget AS BIGINT) AS bin, count(*) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM pre GROUP BY 1 ORDER BY bin""".stripMargin,
    // the whitespace packer's prefix-sum body over the BPE-counted
    // measure: the recursive greedy walk (text_tokencount_bpe's oracle,
    // vocab spliced from the same fixture) feeds the same binning SQL
    "cur_pack_bins_bpe" ->
      s"""WITH RECURSIVE vocab(piece) AS (VALUES ${TextAnalysis.bpeVocabValues}),
         |words AS (
         |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS wid,
         |         unnest(string_split(text, ' ')) AS w
         |  FROM documents
         |),
         |step AS (
         |  SELECT doc_id, wid, w, 0 AS pos, 0 AS cnt FROM words
         |  UNION ALL
         |  SELECT doc_id, wid, w,
         |    pos + coalesce((SELECT max(len(piece)) FROM vocab
         |                    WHERE piece = substr(w, pos + 1, len(piece))), 1),
         |    cnt + 1
         |  FROM step WHERE pos < len(w)
         |),
         |toks AS (
         |  SELECT doc_id, sum(cnt) AS n_tokens
         |  FROM step WHERE pos >= len(w) GROUP BY doc_id
         |), pre AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
         |  FROM toks
         |)
         |SELECT CAST(pre_sum // $PackBudget AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM pre GROUP BY 1 ORDER BY bin""".stripMargin,
    "cur_pack_bins" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
         |), pre AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
         |  FROM toks
         |)
         |SELECT CAST(pre_sum // $PackBudget AS BIGINT) AS bin, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |FROM pre GROUP BY 1 ORDER BY bin""".stripMargin,
  )
}
