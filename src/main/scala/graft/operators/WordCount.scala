package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.{NormalizeWord, WordCombiner, WordCounts}
import graft.sources.Tables

/** The reference's one true query — tokenize / normalize / count / rank —
  * as a composable Spark pipeline (SURVEY.md §2.1 operators O1–O15).
  *
  * Layout of the physical plan Catalyst produces for `counts`, the
  * DataFrame path the `wc_*` queries compose and tests use as the
  * differential reference: FileScan text → WholeStageCodegen(Generate
  * (tokenize_normalize)) → HashAggregate(partial) → Exchange(hash word)
  * → HashAggregate(final).
  *
  * The CLI path, [[formattedBytes]], skips that layout: one stage of
  * scan tasks, each with an in-mapper combiner (the reference's
  * hand-built one, `omp.cpp:92-141`), whose partials the driver merges.
  */
object WordCount {

  /** O1: text source. `spark.read.text` keeps raw bytes in UTF8String (no
    * java.lang.String decode), so byte-exact O3 semantics survive ingest. */
  def linesFromFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*)

  /** O2–O4 over any string column: tokenize on whitespace runs (the
    * istream>> set " \t\n\x0B\f\r"), byte-normalize, drop empties — fused
    * into a single custom Generator (graft.functions.TokenizeNormalize,
    * one byte pass, no regex, zero-copy slices). Returns column `word`.
    * The unfused composition (explode∘split → NormalizeWord → filter)
    * is kept as `tokenizeUnfused` for differential testing. */
  def tokenize(df: DataFrame, textCol: String): DataFrame =
    df.select(graft.functions.TokenizeNormalize(col(textCol)))

  /** Reference composition of built-ins; identical to `tokenize` on valid
    * UTF-8 (asserted in WordCountGoldenSpec and WordCombinerSpec). On
    * invalid UTF-8 inside a token it differs: Spark's regex `split`
    * decodes the line, so each invalid sequence comes out as U+FFFD
    * (EF BF BD). Edge bytes are unaffected, as both forms strip them. */
  def tokenizeUnfused(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), "\\s+")).as("raw"))
      .select(NormalizeWord(col("raw")).as("word"))
      .filter(length(col("word")) > 0)

  /** O5–O10: distributed count per distinct word. */
  def counts(words: DataFrame): DataFrame =
    words.groupBy("word").agg(count(lit(1)).as("cnt"))

  /** O14+O15: ascending byte-order sort with a contiguous 0-based rank.
    * Implemented as range-partitioned sort + `zipWithIndex` (per-partition
    * offsets, one lightweight extra job) instead of a global-window
    * `row_number`, which would funnel every row through one partition —
    * the scalable form of the reference's driver-side sort+index. */
  def ranked(countsDf: DataFrame): DataFrame = {
    val spark = countsDf.sparkSession
    val sorted = countsDf.orderBy("word")
    val schema = StructType(StructField("idx", LongType, nullable = false) +: sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(i +: row.toSeq) }
    spark.createDataFrame(rdd, schema)
  }

  /** O12+O13 in one pass over the grouped result: total = sum of counts
    * (≡ `words.count()` by definition), unique = number of groups. */
  def totals(countsDf: DataFrame): DataFrame =
    countsDf.agg(
      sum(col("cnt")).as("total_words"),
      count(lit(1)).as("unique_words"))

  /** Reference CLI contract (`omp.cpp:219-223`, `hybrid.cpp:444-453`):
    * header + `[i] word: count` lines, ascending byte order.
    *
    * One Spark job with no shuffle, the reference's own MapReduce shape:
    *  - read+map: every scan task folds its lines, as raw bytes (so
    *    invalid-UTF-8 words round-trip exactly), into a
    *    [[graft.functions.WordCombiner]] and returns it packed;
    *  - reduce: the driver merges the partials into one combiner;
    *  - sort+print: the driver sorts that vocabulary by unsigned bytes
    *    and writes the lines into one byte buffer.
    * Driver bound: it receives Σ per-partition vocabulary, at most scan
    * tasks × vocabulary words; the output itself already needs the
    * whole vocabulary on the driver (SURVEY.md §7.5's parity cost). The
    * op is a typed Dataset action, not an RDD one, so it raises
    * SQL-execution events (plan and confs capturable) like every other
    * query. */
  def formattedBytes(spark: SparkSession, paths: Seq[String],
      headerLabel: String, includeUnique: Boolean): Array[Byte] = {
    // Small-corpus scan-split tuning, scoped to this run (conf restored
    // in the finally), re-chosen by a measured sweep (graft.tools.WcTune,
    // 2026-08-14; r12): the default openCostInBytes (4 MB) inflates each
    // small file to 4 MB for bin-packing, so a 29-file / 15 MB corpus
    // packs into ~2 splits and tokenizes on 2 of 32 cores; the r11
    // 256 KB floor over-corrected to ~60 splits whose per-task overhead
    // dominated a 15 MB input. The sweep's optimum is ~1 MB splits
    // (≈15 tasks — FEWER than cores, because a task costs more than
    // tokenizing 1 MB); clamp keeps genuinely large inputs at the
    // default 128 MB packing.
    val totalBytes = paths.map(p => new java.io.File(p).length()).sum
    val cores = spark.sparkContext.defaultParallelism.toLong
    val target = math.min(
      math.max(totalBytes / math.max(cores * 2L, 1L), 1024L * 1024),
      128L * 1024 * 1024)
    val conf = spark.conf
    val oldMax = conf.getOption("spark.sql.files.maxPartitionBytes")
    val oldCost = conf.getOption("spark.sql.files.openCostInBytes")
    conf.set("spark.sql.files.maxPartitionBytes", target.toString)
    conf.set("spark.sql.files.openCostInBytes", (64L * 1024).toString)
    try formattedBytesInner(spark, paths, headerLabel, includeUnique)
    finally {
      oldMax.fold(conf.unset("spark.sql.files.maxPartitionBytes"))(
        conf.set("spark.sql.files.maxPartitionBytes", _))
      oldCost.fold(conf.unset("spark.sql.files.openCostInBytes"))(
        conf.set("spark.sql.files.openCostInBytes", _))
    }
  }

  /** The pipeline under whatever split conf is already set — the seam
    * graft.tools.WcTune sweeps without the wrapper's own split tuning
    * fighting the experiment. */
  private[graft] def formattedBytesInner(spark: SparkSession, paths: Seq[String],
      headerLabel: String, includeUnique: Boolean): Array[Byte] = {
    val partials = linesFromFiles(spark, paths)
      .select(col("value").cast("binary")).as(Encoders.BINARY)
      .mapPartitions { (lines: Iterator[Array[Byte]]) =>
        val c = new WordCombiner
        lines.foreach(c.addLine)
        Iterator.single(c.packed)
      }(Encoders.product[WordCounts])
      .collect()
    val all = new WordCombiner
    partials.foreach(all.merge)
    val header = (s"Filename: $headerLabel, total words: ${all.total}\n" +
      (if (includeUnique) s"Unique words found: ${all.size}\n" else ""))
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    formatLines(header, all.sorted)
  }

  /** `header` then `[i] word: count\n` per word, in `wc`'s order, into
    * one exactly sized buffer. */
  private def formatLines(header: Array[Byte], wc: WordCounts): Array[Byte] = {
    val n = wc.lens.length
    var size = header.length.toLong + wc.words.length
    var i = 0
    while (i < n) {
      size += 6 + digits(i) + digits(wc.counts(i)) // "[", "] ", ": ", "\n"
      i += 1
    }
    val out = new Array[Byte](Math.toIntExact(size))
    System.arraycopy(header, 0, out, 0, header.length)
    var pos = header.length
    var off = 0
    i = 0
    while (i < n) {
      out(pos) = '['
      pos = writeDigits(out, pos + 1, i)
      out(pos) = ']'
      out(pos + 1) = ' '
      pos += 2
      System.arraycopy(wc.words, off, out, pos, wc.lens(i))
      pos += wc.lens(i)
      off += wc.lens(i)
      out(pos) = ':'
      out(pos + 1) = ' '
      pos = writeDigits(out, pos + 2, wc.counts(i))
      out(pos) = '\n'
      pos += 1
      i += 1
    }
    out
  }

  /** Decimal digits of `v` ≥ 0. */
  private def digits(v: Long): Int = {
    var d = 1
    var x = v
    while (x >= 10) { x /= 10; d += 1 }
    d
  }

  /** Writes `v` ≥ 0 in decimal at `pos`; returns the position after it. */
  private def writeDigits(out: Array[Byte], pos: Int, v: Long): Int = {
    val end = pos + digits(v)
    var x = v
    var p = end
    while (p > pos) {
      p -= 1
      out(p) = ('0' + (x % 10)).toByte
      x /= 10
    }
    end
  }

  // ---- driver-contract queries over the documents table ----------------

  private def docWords(spark: SparkSession, sfDir: String): DataFrame =
    tokenize(Tables.documents(spark, sfDir), "text")

  def wcWordCounts(spark: SparkSession, sfDir: String): DataFrame =
    counts(docWords(spark, sfDir)).orderBy("word")

  def wcTotals(spark: SparkSession, sfDir: String): DataFrame =
    totals(counts(docWords(spark, sfDir)))

  def wcRanked(spark: SparkSession, sfDir: String): DataFrame =
    ranked(counts(docWords(spark, sfDir)))

  def wcTopK(spark: SparkSession, sfDir: String): DataFrame =
    counts(docWords(spark, sfDir))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20)

  /** Count-min sketch geometry: [[CmsRows]] independent hash rows ×
    * [[CmsWidth]] buckets — 4 KB of longs at ANY corpus size. */
  final val CmsRows = 4
  final val CmsWidth = 1024

  /** Row-i bucket of a token: Md5Lower64("i:token") mod width.
    * Signed-pmod ≡ DuckDB's UBIGINT mod because 2⁶⁴ ≡ 0 (mod width). */
  private[graft] def cmsBucket(i: Int, word: org.apache.spark.sql.Column) =
    pmod(graft.functions.Md5Lower64(concat_ws(":", lit(i.toString), word)),
      lit(CmsWidth.toLong)).cast("int")

  /** The sketch itself: ONE (row, bucket) aggregation over the token
    * stream — mergeable by cell-wise addition (spec-pinned), the
    * bounded frequency artifact of Cormode & Muthukrishnan 2005. */
  private[graft] def cmsSketch(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words
      .select(posexplode(array((0 until CmsRows).map(i =>
        cmsBucket(i, $"word")): _*)).as(Seq("r", "b")))
      .groupBy($"r", $"b").agg(count(lit(1)).as("c"))
  }

  /** Heavy hitters via a COUNT-MIN SKETCH next to the exact truth: the
    * 4×1024-cell sketch is the bounded mergeable artifact that answers
    * "which keys are hot enough to salt" (the trigger for
    * [[wcWordCountsSalted]]'s two-level form) WITHOUT a per-key
    * shuffle — at 100 TB each partition folds its token stream into
    * 4 KB of longs and the merge is cell-wise addition. The query
    * emits the TRUE top-20 tokens (the verification harness;
    * production consults only estimates) alongside their CMS
    * estimates: est = min over rows of the token's bucket count, ≥ the
    * true count by construction — the one-sided CMS bound, pinned for
    * EVERY token by the spec; the oracle rebuilds the identical sketch
    * from md5_number_lower. */
  def wcHeavyHittersCms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val words = docWords(spark, sfDir)
    val top = counts(words)
      .orderBy($"cnt".desc, $"word".asc)
      .limit(20)
    heavyHittersTail(top, cmsSketch(words))
  }

  /** The estimate-lookup tail over a true-top frame (word, cnt) and a
    * sketch cell frame (r, b, c) — shared verbatim by the batch query
    * and the streaming twin (whose cells fold out of streaming state)
    * so the min-over-rows estimate cannot drift. */
  private[graft] def heavyHittersTail(top: DataFrame, cms: DataFrame): DataFrame = {
    val spark = top.sparkSession
    import spark.implicits._
    top
      .select($"word", $"cnt",
        posexplode(array((0 until CmsRows).map(i =>
          cmsBucket(i, $"word")): _*)).as(Seq("r", "b")))
      .join(cms, Seq("r", "b"))
      .groupBy($"word", $"cnt")
      .agg(min($"c").as("est"))
      .orderBy($"cnt".desc, $"word".asc)
  }

  /** Per-document token counts — the reference's per-file accounting
    * generalized to a document table (exercises split without explode
    * fan-out: size(split(...))). */
  def wcPerDoc(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  /** Skew-resistant two-stage count: explicit per-partition pre-aggregate
    * (salt = physical partition id) before the keyed shuffle — the
    * salting pattern for hot keys, made deterministic. Result must equal
    * the plain count (same oracle); at 100 TB this caps the per-key
    * shuffle fan-in at #partitions regardless of key skew. */
  def wcWordCountsSalted(spark: SparkSession, sfDir: String): DataFrame =
    docWords(spark, sfDir)
      .groupBy(col("word"), spark_partition_id().as("salt"))
      .agg(count(lit(1)).as("c"))
      .groupBy("word").agg(sum(col("c")).as("cnt"))
      .orderBy("word")

  /** O13's approximate variant: HyperLogLog++ distinct estimate next to
    * the exact count (raw form, used by the WordCountGoldenSpec
    * differential; the driver-facing entry is
    * [[wcApproxDistinctChecked]]). */
  def wcApproxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    docWords(spark, sfDir).agg(
      countDistinct(col("word")).as("exact_distinct"),
      approx_count_distinct(col("word"), 0.02).as("approx_distinct"))

  /** Driver-verifiable form of [[wcApproxDistinct]]: DuckDB cannot
    * recompute an HLL++ sketch (no deterministic SQL twin exists), but it
    * CAN recompute the exact distinct count and the literal `true` — so
    * the emitted row carries the exact count plus the ≤5% relative-error
    * verdict on the sketch estimate, and the driver's hash compare
    * machine-checks the error contract every round instead of recording
    * `err: no_oracle`. The raw estimate stays out of the hashed row by
    * construction (it has no oracle-computable value), but the contract
    * it must satisfy is in. */
  def wcApproxDistinctChecked(spark: SparkSession, sfDir: String): DataFrame =
    wcApproxDistinct(spark, sfDir).select(
      col("exact_distinct"),
      (abs(col("approx_distinct") - col("exact_distinct")) <=
        col("exact_distinct") * lit(0.05)).as("approx_within_5pct"))

  /** Typed-Dataset aggregation via the custom WordStatsAggregator UDAF:
    * per first-letter group, one-pass (n_words, total_cnt, max_cnt,
    * max_word_len) over the counted vocabulary. */
  def wcWordStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.WordStatsAggregator
    counts(docWords(spark, sfDir))
      .as[(String, Long)]
      .groupByKey { case (w, _) => w.substring(0, 1) }
      .agg(WordStatsAggregator.toColumn.name("s"))
      .select($"key".as("letter"), $"s.n_words", $"s.total_cnt",
        $"s.max_cnt", $"s.max_word_len")
      .orderBy($"letter")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wc_word_stats" -> wcWordStats,
    "wc_word_counts_salted" -> wcWordCountsSalted,
    "wc_approx_distinct" -> wcApproxDistinctChecked,
    "wc_word_counts" -> wcWordCounts,
    "wc_totals" -> wcTotals,
    "wc_ranked" -> wcRanked,
    "wc_topk" -> wcTopK,
    "wc_per_doc" -> wcPerDoc,
    "wc_heavy_hitters_cms" -> wcHeavyHittersCms,
  )

  /** DuckDB oracles. The documents corpus is ASCII lowercase + single
    * spaces (verified), so `normalize_word` is the identity there and the
    * oracle can tokenize with a plain regexp split; byte-exact normalize
    * semantics are covered by the unit probe table + reference-corpus
    * golden test instead (not SQL-expressible). */
  val oracles: Map[String, String] = Map(
    "wc_word_stats" ->
      """WITH c AS (
        |  SELECT word, count(*) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word
        |)
        |SELECT substring(word, 1, 1) AS letter,
        |  count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS total_cnt,
        |  max(cnt) AS max_cnt, max(length(word)) AS max_word_len
        |FROM c GROUP BY substring(word, 1, 1) ORDER BY letter""".stripMargin,
    "wc_word_counts_salted" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY word""".stripMargin,
    "wc_word_counts" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY word""".stripMargin,
    "wc_totals" ->
      """SELECT count(*) AS total_words, count(DISTINCT word) AS unique_words
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''""".stripMargin,
    // the sketch estimate itself has no DuckDB twin; the oracle pins the
    // exact count and asserts the error-bound verdict must come back true
    "wc_approx_distinct" ->
      """SELECT count(DISTINCT word) AS exact_distinct, true AS approx_within_5pct
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''""".stripMargin,
    "wc_ranked" ->
      """SELECT row_number() OVER (ORDER BY word) - 1 AS idx, word, cnt FROM (
        |  SELECT word, count(*) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word
        |) c ORDER BY word""".stripMargin,
    "wc_topk" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin,
    // the sketch rebuilt identically: md5_number_lower ≡ Md5Lower64 and
    // UBIGINT % width ≡ signed pmod (2^64 ≡ 0 mod width); est = min
    // over the 4 rows' bucket counts
    "wc_heavy_hitters_cms" ->
      s"""WITH w AS (
         |  SELECT word FROM (
         |    SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents) t
         |  WHERE word <> ''
         |),
         |rws AS (SELECT unnest(range(0, $CmsRows)) AS r),
         |cms AS (
         |  SELECT r,
         |    CAST(md5_number_lower(r::VARCHAR || ':' || word) % $CmsWidth AS INT) AS b,
         |    count(*) AS c
         |  FROM w CROSS JOIN rws
         |  GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT word, count(*) AS cnt FROM w
         |  GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20
         |)
         |SELECT t.word, t.cnt, min(cms.c) AS est
         |FROM top t CROSS JOIN rws rr
         |JOIN cms ON cms.r = rr.r
         |  AND cms.b = CAST(md5_number_lower(rr.r::VARCHAR || ':' || t.word)
         |              % $CmsWidth AS INT)
         |GROUP BY t.word, t.cnt
         |ORDER BY t.cnt DESC, t.word ASC""".stripMargin,
    "wc_per_doc" ->
      """SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
