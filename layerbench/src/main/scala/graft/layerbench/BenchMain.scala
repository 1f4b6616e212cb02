package graft.layerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SessionTuning, SparkEntry}
import graft.operators.{Curation, Dedup, TextAnalysis, WordCount}
import graft.sources.Tables
import graft.streaming.Streaming

/** JVM side of the benchmark. `run.py` generates the inputs and the
  * expected results, then launches this main once per mode:
  *
  *   oracle-sql --out F       the engine's DuckDB oracle SQL for the
  *                            curation and streaming samples queries
  *   setup --cores N ...      JVM start to a ready session, then exit
  *   run --workload W ...     one closed-loop run: set-up, the cold op,
  *                            warm-up, measured ops; with `--trace 1`
  *                            the prefix ladder and listener totals
  *                            instead of the measured ops
  *
  * Every op is checked against the expected result written by run.py,
  * outside the op's timer. Raw measurements go to `--out` as one JSON
  * object; run.py turns them into the reported metrics. */
object BenchMain {

  // ---------------------------------------------------------------- session

  final case class Setup(spark: SparkSession, bootS: Double, startS: Double, installS: Double) {
    def setupS: Double = bootS + startS + installS
    def json: String = obj("jvm_boot_s" -> num(bootS), "start_s" -> num(startS),
      "install_s" -> num(installS), "setup_s" -> num(setupS),
      "master" -> str(spark.sparkContext.master))
  }

  /** JVM start (the launcher's wall-clock stamp, taken just before it
    * spawned this process) to a session with graft installed. The confs
    * are graft.Bench's, at `local[cores]`. */
  def setup(cores: Int, launchMs: Long, mainMs: Long): Setup = {
    val t0 = System.nanoTime()
    val spark = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("layerbench"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val t1 = System.nanoTime()
    Graft.install(spark)
    val t2 = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    Setup(spark, (mainMs - launchMs) / 1000.0, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  // ---------------------------------------------------------------- sinks

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of a samples frame: row count and the sum
    * (mod 2^64) of the first 8 bytes of MD5("doc_id␟chunk_idx␟n_tokens␟
    * chunk_text") per row. run.py computes the same over the DuckDB
    * oracle's rows. Executes the frame's full plan, like a noop sink. */
  def digestSink(df: DataFrame): (Long, Long) = {
    val idx = Seq("doc_id", "chunk_idx", "n_tokens", "chunk_text").map(df.schema.fieldIndex)
    val parts = df.mapPartitions { (it: Iterator[Row]) =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var sum = 0L
      it.foreach { r =>
        val line = idx.map(i => String.valueOf(r.get(i))).mkString("\u001f")
        sum += ByteBuffer.wrap(md.digest(line.getBytes(UTF_8))).getLong
        n += 1
      }
      Iterator((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---------------------------------------------------------------- memory

  /** The largest amount of JVM memory (every pool, heap and non-heap) in
    * use right after a collection, while `on`. With the fixed heap the
    * process RSS follows the heap flag; this follows what the program
    * keeps live. */
  final class GcWatch extends NotificationListener {
    @volatile var on = false
    @volatile var peakBytes = 0L
    @volatile var collections = 0L
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        collections += 1
        if (used > peakBytes) peakBytes = used
      }
  }

  def watchGc(): GcWatch = {
    val w = new GcWatch
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(w, null, null)
      case _ =>
    }
    w
  }

  // ---------------------------------------------------------------- tracing

  /** Per-phase listener totals (one instance per traced op or rung). */
  final class Agg {
    var jobs, stages, tasks = 0L
    var stageWallMs, runMs, cpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
    val jobStart = mutable.Map.empty[Int, Long]
  }

  /** SparkListener attributing stage and task totals to the current
    * phase. Attached only while a traced rung runs. */
  final class Tracer extends SparkListener {
    @volatile var cur: Agg = new Agg
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      cur.jobs += 1; cur.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      cur.jobStart.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      cur.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime) cur.stageWallMs += c - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = cur
      a.tasks += 1
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val gettingResult = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
        a.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** One traced execution: its wall and the listener totals. */
  final case class Traced(wallS: Double, agg: Agg, t0Ms: Long, t1Ms: Long) {
    /** Op wall not covered by any Spark job (planning, driver work). */
    def driverGapS: Double = {
      val spans = agg.jobSpans.map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      spans.foreach { case (s, e) =>
        if (s >= end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      math.max(0.0, wallS - covered / 1000.0)
    }
  }

  /** What one op's own queries ran under: the analyzed plan of every
    * query it executed, and the session confs each SQL execution started
    * with (those that differ from the shared conf). The ladder runs its
    * prefixes under the confs the op set, and checks that each prefix's
    * plan is a subtree of one of the op's plans. */
  final class OpCapture extends SparkListener with QueryExecutionListener {
    val plans = ArrayBuffer.empty[LogicalPlan]
    val confs = mutable.Map.empty[String, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(confs ++= s.modifiedConfigs)
      case _ =>
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized(plans += qe.analyzed)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  final case class Span(name: String, opId: Int, parent: String, t0Ns: Long, t1Ns: Long)

  // ---------------------------------------------------------------- workloads

  /** A workload: its op (timed; returns a checker run after the timer
    * stops) and the lower rungs of its prefix ladder. The top rung is
    * the op itself. */
  abstract class Workload(spark: SparkSession) {
    def op(): () => Boolean
    /** Lower rungs, lowest first: name, the prefix frame (built by
      * calling the same public functions the op calls), and the sink it
      * runs to. */
    def prefixes: Seq[(String, () => DataFrame, DataFrame => Unit)]
    /** (layer metric, upper rung, lower rung or "") */
    def layers: Seq[(String, String, String)]
    /** Untimed counts and, for curation, the streaming drains; `record`
      * counts a checked op. */
    def extra(rungAggs: Map[String, Seq[Agg]], record: Boolean => Unit): Seq[(String, Double)]

    /** The confs the op set on the session for its own queries, read
      * from the op's SQL executions (see OpCapture). */
    var opConf: Map[String, String] = Map.empty
    def underOpConf[T](body: => T): T = {
      val conf = spark.conf
      val old = opConf.keys.map(k => k -> conf.getOption(k))
      opConf.foreach { case (k, v) => conf.set(k, v) }
      try body finally old.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (Q3 - Q1) / median, quartiles by linear interpolation. */
  def relIqr(xs: Seq[Double]): Double = {
    val s = xs.sorted
    def q(p: Double): Double = {
      val h = p * (s.length - 1)
      val i = h.toInt
      if (i + 1 < s.length) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
    }
    if (s.length < 2) 0.0 else (q(0.75) - q(0.25)) / median(s)
  }

  /** The paper's query through the CLI entry point, written to a file. */
  final class WordCountWorkload(spark: SparkSession, input: String, work: String,
      expect: Map[String, String]) extends Workload(spark) {
    private val paths = new File(input).listFiles.map(_.getPath).filter(_.endsWith(".txt")).sorted.toSeq
    private val label = expect("label")
    private val sink = Paths.get(work, "wordcount.out")
    private var collected = 0L
    private var outBytes = 0L

    def op(): () => Boolean = {
      val bytes = WordCount.formattedBytes(spark, paths, label, includeUnique = true)
      Files.write(sink, bytes)
      () => {
        outBytes = bytes.length
        bytes.length.toString == expect("bytes") && sha256Hex(bytes) == expect("sha256")
      }
    }

    private def lines = WordCount.linesFromFiles(spark, paths)
    private def words = WordCount.tokenize(lines, "value")
    private def counts = WordCount.counts(words)

    val prefixes: Seq[(String, () => DataFrame, DataFrame => Unit)] = Seq(
      ("scan", () => lines, noop),
      ("tokenize", () => words, noop),
      ("count", () => counts, noop),
      ("collect", () => counts.select(col("word").cast("binary"), col("cnt")),
        df => collected = df.collect().length.toLong))

    val layers = Seq(
      ("sources.scan_s", "scan", ""),
      ("functions.tokenize_s", "tokenize", "scan"),
      ("operators.aggregate_s", "count", "tokenize"),
      ("cli.collect_s", "collect", "count"),
      ("cli.format_s", "op", "collect"))

    def extra(rungAggs: Map[String, Seq[Agg]],
        record: Boolean => Unit): Seq[(String, Double)] = Seq(
      "sources.scan_tasks" -> median(rungAggs("scan").map(_.tasks.toDouble)),
      "functions.tokens" -> underOpConf(words.count()).toDouble,
      "operators.output_rows" -> collected.toDouble,
      "cli.collect_rows" -> collected.toDouble,
      "cli.output_mb" -> outBytes / 1e6)
  }

  /** The batch samples pipeline over a generated documents table. Its
    * traced run also drains the streaming samples pipeline over the same
    * documents, staged as micro-batch files. */
  final class CurationWorkload(spark: SparkSession, input: String, work: String,
      expect: Map[String, String]) extends Workload(spark) {
    private var outRows = 0L

    def op(): () => Boolean = {
      val (n, d) = digestSink(Curation.pipelineCurateSamples(spark, input))
      () => { outRows = n; n.toString == expect("rows") && d.toString == expect("digest") }
    }

    private def docs = Tables.documents(spark, input)
    /** The pipeline's spread-first redact stage and its drop list. The
      * ladder checks that both are subtrees of the op's plan. */
    private def redacted = {
      val width = spark.sparkContext.defaultParallelism
      docs.filter(col("doc_id").isNotNull)
        .repartition(width, col("doc_id"))
        .select(col("doc_id"), TextAnalysis.redactedCol(col("text")).as("text"))
    }
    private def dropList =
      Dedup.dedupNgramJaccardOnSpread(redacted).select(col("doc_b").as("doc_id")).distinct()

    val prefixes: Seq[(String, () => DataFrame, DataFrame => Unit)] = Seq(
      ("scan", () => docs, noop),
      ("redact", () => redacted, noop),
      ("pairs", () => dropList, noop))

    val layers = Seq(
      ("sources.scan_s", "scan", ""),
      ("functions.redact_s", "redact", "scan"),
      ("operators.pair_search_s", "pairs", "redact"),
      ("operators.samples_s", "op", "pairs"))

    def extra(rungAggs: Map[String, Seq[Agg]],
        record: Boolean => Unit): Seq[(String, Double)] = {
      // a cold drain, then the warm one the streaming metrics describe
      val drains = (1 to 2).map { i =>
        val d = streamDrain(spark, s"$input/stream_src", new File(work, s"drain-$i"),
          expect("stream_rows"), expect("stream_digest"))
        record(d._3)
        d
      }
      val (drainS, prog, _) = drains.last
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
      val data = prog.filter(_.numInputRows > 0)
      val state = prog.lastOption.flatMap(_.stateOperators.headOption)
      Seq(
        "sources.scan_tasks" -> median(rungAggs("scan").map(_.tasks.toDouble)),
        "operators.dup_pairs" -> Dedup.dedupNgramJaccardOnSpread(redacted).count().toDouble,
        "operators.output_rows" -> outRows.toDouble,
        "streaming.drain_s" -> drainS,
        "streaming.batches" -> data.length.toDouble,
        "streaming.batch_p50_s" -> median(data.map(dur(_, "triggerExecution")).toSeq),
        "streaming.first_batch_s" -> data.headOption.map(dur(_, "triggerExecution")).getOrElse(0.0),
        "streaming.add_batch_s" -> prog.map(dur(_, "addBatch")).sum,
        "streaming.planning_s" -> prog.map(dur(_, "queryPlanning")).sum,
        "streaming.wal_commit_s" -> prog.map(dur(_, "walCommit")).sum,
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mem_mb" -> state.map(_.memoryUsedBytes / 1e6).getOrElse(0.0))
    }
  }

  /** One drain of the streaming samples pipeline: every micro-batch file
    * is staged before the query starts; file source (one file per
    * trigger) → parquet sink; start → processAllAvailable → stop. The
    * sink holds one emission per (chunk hash, batch), so the result is
    * keep-first over them, checked (untimed) against the stream oracle.
    * Returns (drain wall s, progress, ok). */
  def streamDrain(spark: SparkSession, src: String, dir: File,
      rows: String, digest: String): (Double, Array[StreamingQueryProgress], Boolean) = {
    val docs = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1L).parquet(src)
    val out = new File(dir, "out").getPath
    val (sec, q) = timed {
      val q = Streaming.pipelineSamplesTTLTransform(docs, "1 hour")
        .writeStream.format("parquet")
        .option("checkpointLocation", new File(dir, "ck").getPath)
        .option("path", out)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    val folded = spark.read.parquet(out)
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("n_tokens"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.chunk_idx").as("chunk_idx"),
        col("k.chunk_text").as("chunk_text"), col("k.n_tokens").as("n_tokens"))
    val (n, d) = digestSink(folded)
    deleteTree(dir)
    System.err.println(f"layerbench: stream drain $sec%.3f s, ${q.recentProgress.length} progress")
    (sec, q.recentProgress, n.toString == rows && d.toString == digest)
  }

  // ---------------------------------------------------------------- run

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
  }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def run(a: Map[String, String], mainMs: Long): String = {
    val gc = watchGc()
    val s = setup(a("cores").toInt, a("launch-ms").toLong, mainMs)
    val spark = s.spark
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val warmup = a("warmup").toInt
    val minOps = a("min-ops").toInt
    val input = a("input")
    val work = a("work")
    new File(work).mkdirs()
    val expect = scala.io.Source.fromFile(a("expect"), "UTF-8").getLines()
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

    val w: Workload = a("workload") match {
      case "wc_zipf" => new WordCountWorkload(spark, input, work, expect)
      case "curate_samples" => new CurationWorkload(spark, input, work, expect)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0
    var failed = 0
    def record(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    // generated classes compiled per op (codegen cache misses)
    val compiles = ArrayBuffer.empty[Double]
    def checkedOp(): Double = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (sec, check) = timed(w.op())
      compiles += (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble
      val ok = check()
      record(ok)
      System.err.println(f"layerbench: op $attempted%d $sec%.3f s ok=$ok")
      sec
    }

    val coldS = checkedOp()
    val warm = (1 to warmup).map(_ => checkedOp())
    compiles.clear()

    // untraced runs: the measured ops, for the whole window
    val ops = ArrayBuffer.empty[Double]
    if (!traceOn) {
      gc.on = true
      val t0 = System.nanoTime()
      while (ops.length < minOps || (System.nanoTime() - t0) / 1e9 < seconds)
        ops += checkedOp()
      // one full collection after the last op, so the memory metric has
      // at least one sample however rarely the ops collect
      System.gc()
      gc.on = false
    }

    val traceJson = if (!traceOn) "null" else {
      val sc = spark.sparkContext
      // one op with its queries captured: the confs it sets, and the
      // plans its prefixes must be subtrees of
      val cap = new OpCapture
      sc.addSparkListener(cap)
      spark.listenerManager.register(cap)
      val before = spark.conf.getAll
      try checkedOp() finally {
        ListenerShim.drain(sc, 30000L)
        spark.listenerManager.unregister(cap)
        sc.removeSparkListener(cap)
      }
      w.opConf = cap.confs.toMap.filter { case (k, v) => !before.get(k).contains(v) }
      val prefixMatch = w.prefixes.map { case (name, frame, _) =>
        val sub = w.underOpConf(frame().queryExecution.analyzed)
        name -> cap.plans.exists(_.find(_.sameResult(sub)).isDefined)
      }

      val tracer = new Tracer
      val spans = ArrayBuffer.empty[Span]
      val rungs: Seq[(String, () => Double)] = w.prefixes.map { case (name, frame, sink) =>
        name -> (() => timed(w.underOpConf(sink(frame())))._1)
      } :+ ("op" -> (() => checkedOp()))
      val rungTimes = mutable.Map.empty[String, ArrayBuffer[Double]]
      val rungAggs = mutable.Map.empty[String, ArrayBuffer[Agg]]
      val traced = ArrayBuffer.empty[Traced]
      // one untimed round first: a rung's first run compiles its own
      // generated code and was up to 2x slower than its later runs
      rungs.foreach(_._2())
      val tl = System.nanoTime()
      var rep = 0
      def traceRung(name: String, body: () => Double): Unit = {
        sc.addSparkListener(tracer)
        ListenerShim.drain(sc, 30000L)
        val agg = new Agg
        tracer.cur = agg
        val wall0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val sec = body()
        val n1 = System.nanoTime()
        val wall1 = System.currentTimeMillis()
        ListenerShim.drain(sc, 30000L)
        sc.removeSparkListener(tracer)
        spans += Span(name, rep, if (name == "op") "run" else "ladder", n0, n1)
        System.err.println(f"layerbench: rung $name%s rep $rep%d $sec%.3f s")
        rungTimes.getOrElseUpdate(name, ArrayBuffer.empty) += sec
        rungAggs.getOrElseUpdate(name, ArrayBuffer.empty) += agg
        if (name == "op") traced += Traced(sec, agg, wall0, wall1)
      }
      def untracedOp(): Unit = {
        val r0 = System.nanoTime()
        ops += checkedOp()
        spans += Span("untraced_op", rep, "run", r0, System.nanoTime())
      }
      // Each round: every rung with the listener attached, lowest first,
      // and one untraced op (no listener; the reference) next to the
      // traced one. The two swap places every round, so each follows
      // the top prefix equally often. Rounds repeat for the window
      // and at least 5 times, so host drift hits every rung and the
      // reference alike.
      while (rep < 5 || (System.nanoTime() - tl) / 1e9 < seconds) {
        rep += 1
        rungs.init.foreach { case (name, body) => traceRung(name, body) }
        if (rep % 2 == 1) { untracedOp(); traceRung(rungs.last._1, rungs.last._2) }
        else { traceRung(rungs.last._1, rungs.last._2); untracedOp() }
      }
      val med = rungTimes.map { case (k, v) => k -> median(v.toSeq) }.toMap
      val cores = sc.defaultParallelism.toDouble
      def mt(f: Traced => Double): Double = median(traced.toSeq.map(f))
      // a layer is the median over rounds of (upper rung - lower rung)
      // within the same round; these medians do not telescope, so their
      // sum need not equal the op
      val layerVals = w.layers.map { case (name, hi, lo) =>
        val his = rungTimes(hi)
        name -> median(his.indices.map(i => his(i) - (if (lo.isEmpty) 0.0 else rungTimes(lo)(i))))
      }
      val untracedP50 = median(ops.toSeq)
      val overhead = med("op") / untracedP50
      val unattributed = med("op") - layerVals.map(_._2).sum
      // the checks: every prefix is a subtree of the op's plan, the
      // traced op reproduces the untraced one, and the layers add up to
      // the traced op, both within the untraced ops' own spread (at
      // least 10%)
      val tol = math.max(0.10, relIqr(ops.toSeq))
      val checks = prefixMatch.map { case (n, ok) => s"prefix $n in op plan" -> ok } ++ Seq(
        f"overhead ratio $overhead%.3f within 1 ± $tol%.3f" -> (math.abs(overhead - 1) <= tol),
        f"unattributed ${unattributed}%.3f s within ± ${tol * med("op")}%.3f s" ->
          (math.abs(unattributed) <= tol * med("op")))
      checks.foreach { case (what, ok) =>
        System.err.println(s"layerbench: trace check ${if (ok) "ok" else "FAILED"}: $what")
      }
      val metrics = layerVals ++ Seq(
        "operators.jobs" -> mt(_.agg.jobs.toDouble),
        "operators.stages" -> mt(_.agg.stages.toDouble),
        "operators.tasks" -> mt(_.agg.tasks.toDouble),
        "spark.executor_run_s" -> mt(_.agg.runMs / 1000.0),
        "spark.executor_cpu_s" -> mt(_.agg.cpuNs / 1e9),
        "spark.gc_s" -> mt(_.agg.gcMs / 1000.0),
        "spark.scheduler_delay_s" -> mt(_.agg.schedDelayMs / 1000.0),
        "spark.stage_overhead_s" -> mt(t => t.agg.stageWallMs / 1000.0 - t.agg.runMs / 1000.0 / cores),
        "spark.stage_overhead_share" -> mt(t => (t.agg.stageWallMs / 1000.0 - t.agg.runMs / 1000.0 / cores) / t.wallS),
        "spark.driver_gap_s" -> mt(_.driverGapS),
        "spark.shuffle_write_mb" -> mt(_.agg.shuffleWrite / 1e6),
        "spark.shuffle_read_mb" -> mt(_.agg.shuffleRead / 1e6),
        "spark.fetch_wait_s" -> mt(_.agg.fetchWaitMs / 1000.0),
        "spark.spill_mb" -> mt(_.agg.spill / 1e6),
        "trace.op_traced_p50_s" -> med("op"),
        "trace.op_untraced_p50_s" -> untracedP50,
        "trace.overhead_ratio" -> overhead,
        "trace.unattributed_s" -> unattributed,
        "trace.ok" -> (if (checks.forall(_._2)) 1.0 else 0.0),
        "trace.ladder_reps" -> rep.toDouble
      ) ++ w.extra(rungAggs.map { case (k, v) => k -> v.toSeq }.toMap, record)
      val spanFile = new File(a("spans"))
      Files.write(spanFile.toPath, spans.map(sp => obj("name" -> str(sp.name),
        "op_id" -> sp.opId.toString, "parent" -> str(sp.parent),
        "start_ns" -> sp.t0Ns.toString, "end_ns" -> sp.t1Ns.toString)).mkString("", "\n", "\n")
        .getBytes(UTF_8))
      obj("metrics" -> obj(metrics.map { case (k, v) => k -> num(v) }: _*),
        "rungs" -> obj(med.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*),
        "checks" -> obj(checks.map { case (k, v) => k -> v.toString }: _*),
        "op_conf" -> obj(w.opConf.toSeq.sorted.map { case (k, v) => k -> str(v) }: _*),
        "spans" -> str(spanFile.getPath))
    }
    val out = obj(
      "setup" -> s.json,
      "cold_s" -> num(coldS),
      "warmup_s" -> arr(warm.map(num)),
      "ops_s" -> arr(ops.toSeq.map(num)),
      "codegen_compiles_p50" -> num(median(compiles.toSeq)),
      "peak_live_mb" -> num(gc.peakBytes / 1048576.0),
      "gc_samples" -> gc.collections.toString,
      "peak_rss_mb" -> num(peakRssMb()),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "trace" -> traceJson)
    spark.stop()
    out
  }

  // ---------------------------------------------------------------- json

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val mode = args.head
    val a = args.tail.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val result = mode match {
      case "oracle-sql" =>
        obj(Seq("cur_pipeline_samples", "stream_pipeline_samples")
          .map(k => k -> str(SparkEntry.oracleSql(k))): _*)
      case "setup" =>
        val s = setup(a("cores").toInt, a("launch-ms").toLong, mainMs)
        val j = s.json
        s.spark.stop()
        j
      case "run" => run(a, mainMs)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.write(Paths.get(a("out")), result.getBytes(UTF_8))
  }
}
