package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import graft.functions.{NormalizeWord, WordCombiner, WordCounts, WordNorm}
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
  * The CLI path, [[formattedBytes]], skips that layout and the line
  * reader: one stage of tasks over whitespace-aligned byte ranges, each
  * with an in-mapper combiner (the reference's hand-built one,
  * `omp.cpp:92-141`), whose partials the driver merges.
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
    * One `SparkContext` job, tagged [[JobTag]], with one stage and no
    * shuffle, the reference's own MapReduce shape (no job for empty input):
    *  - read+map: the driver cuts the files, laid end to end, into
    *    min(cores, ⌈total / 1 MB⌉) tasks of equal bytes ([[plan]]). Each
    *    task reads its byte ranges raw through Hadoop `FileSystem`, as
    *    `ifstream` reads them (no decompression, no decoding, so
    *    invalid-UTF-8 words round-trip exactly), into a
    *    [[graft.functions.WordCombiner]] ([[countRanges]]) and returns it
    *    packed;
    *  - reduce: the driver merges the partials into one combiner;
    *  - sort+print: the driver sorts that vocabulary by unsigned bytes
    *    and writes the lines into one byte buffer.
    * A path that is missing, a directory or unreadable fails the call,
    * before any task runs, with a message that names it. Paths are
    * Hadoop paths (a bare path or any URI the session's file systems
    * serve), read with the session's Hadoop configuration.
    * Driver bound: it receives Σ per-task vocabulary, at most cores ×
    * vocabulary words; the output itself already needs the whole
    * vocabulary on the driver (SURVEY.md §7.5's parity cost). No
    * relational operator, so no Catalyst plan and no SQL execution. */
  def formattedBytes(spark: SparkSession, paths: Seq[String],
      headerLabel: String, includeUnique: Boolean): Array[Byte] =
    formattedBytesInner(spark, paths, headerLabel, includeUnique, TaskBytes)

  /** Input bytes a task gets at least, unless there are fewer than that
    * per core: below about 1 MB a task's fixed cost outweighs its
    * tokenizing. */
  private final val TaskBytes = 1L << 20

  /** A task's read buffer; it grows only to hold a longer token. */
  private final val BufBytes = 1 << 20

  /** The tag listeners key [[formattedBytes]]'s job by. */
  private[graft] final val JobTag = "graft-word-count"

  /** [[formattedBytes]] with tasks of at least `taskBytes` (the split tests' seam). */
  private[graft] def formattedBytesInner(spark: SparkSession, paths: Seq[String],
      headerLabel: String, includeUnique: Boolean, taskBytes: Long): Array[Byte] = {
    val hadoopConf = Shim.hadoopConf(spark)
    val files = inputFiles(hadoopConf, paths)
    val sc = spark.sparkContext
    val ranges = plan(files, math.min(sc.defaultParallelism.toLong,
      (files.map(_._2).sum - 1).max(0L) / taskBytes + 1).toInt)
    val partials = if (ranges.isEmpty) Seq.empty else {
      // broadcast, as file sources ship it: each task would read a closure copy (~20 ms)
      val conf = sc.broadcast(new SerializableConfiguration(hadoopConf))
      // restored as they were: removeJobTag re-joins the caller's tags, maybe reordered
      val props = Seq("spark.job.tags", "spark.job.description").map(k => k -> sc.getLocalProperty(k))
      sc.addJobTag(JobTag)
      sc.setJobDescription(s"word count: $headerLabel")
      try sc.parallelize(ranges, ranges.length) // one task per range list
        .map(countRanges(_, conf.value.value, BufBytes)).collect().toSeq
      finally { conf.destroy(); props.foreach { case (k, v) => sc.setLocalProperty(k, v) } }
    }
    formatted(partials, headerLabel, includeUnique)
  }

  /** Bytes `start until end` of the file at `path`. */
  final case class FileRange(path: String, start: Long, end: Long)

  /** Each path with its length, or an error naming the first path that
    * is missing, a directory or cannot be opened. */
  private def inputFiles(conf: Configuration, paths: Seq[String]): Seq[(String, Long)] =
    paths.map { p =>
      val path = new Path(p)
      try {
        val fs = path.getFileSystem(conf)
        val st = fs.getFileStatus(path)
        require(!st.isDirectory, s"word-count input $p is a directory")
        fs.open(path).close()
        p -> st.getLen
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(s"word-count input $p does not exist")
        case e: java.io.IOException =>
          throw new IllegalArgumentException(s"word-count input $p cannot be read: ${e.getMessage}")
      }
    }

  /** Cuts `files` (path, length), laid end to end, into `tasks` runs of
    * equal bytes (±1); a range never crosses a file, and a large file
    * is split across tasks. Empty files and empty runs give no range. */
  private[graft] def plan(files: Seq[(String, Long)], tasks: Int): Seq[Seq[FileRange]] = {
    val nonEmpty = files.filter(_._2 > 0)
    val starts = nonEmpty.scanLeft(0L)(_ + _._2)
    def bound(t: Int) = (BigInt(starts.last) * t / tasks).toLong
    (0 until tasks).map { t =>
      val (lo, hi) = (bound(t), bound(t + 1))
      nonEmpty.indices.filter(i => starts(i) < hi && starts(i + 1) > lo).map { i =>
        FileRange(nonEmpty(i)._1, math.max(lo, starts(i)) - starts(i),
          math.min(hi, starts(i + 1)) - starts(i))
      }
    }.filter(_.nonEmpty)
  }

  /** Counts the words `ranges` own into one combiner, streaming each
    * range through a `bufBytes` buffer. A range owns every token that
    * starts inside it, the reference's own rule (whitespace ends a token,
    * and so does the end of a file), so any cut of a file into ranges
    * counts it exactly once:
    *  - at `start > 0`, if byte `start - 1` is not a space, the token
    *    there began in an earlier range: skip to the first space;
    *  - if byte `end - 1` is not a space, its token goes on past `end`:
    *    read on up to the next space or the end of the file.
    * A token cut off at a buffer refill is carried over to the next fill. */
  private[graft] def countRanges(ranges: Seq[FileRange], conf: Configuration,
      bufBytes: Int): WordCounts = {
    val c = new WordCombiner
    var buf = new Array[Byte](bufBytes)
    for (r <- ranges) {
      val path = new Path(r.path)
      val in = path.getFileSystem(conf).open(path)
      try {
        val from =
          if (r.start > 0 && !spaceAt(in, r.start - 1)) nextSpace(in, r.start, buf) else r.start
        if (from < r.end) {
          val until = if (spaceAt(in, r.end - 1)) r.end else nextSpace(in, r.end, buf)
          in.seek(from)
          var pos = from
          var fill = 0 // buf(0 until fill): the start of a token cut off by the last fill
          while (pos < until) {
            if (fill == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * buf.length)
            val n = math.min(buf.length - fill, until - pos).toInt
            in.readFully(buf, fill, n)
            pos += n
            var cut = fill + n
            if (pos < until) while (cut > 0 && !WordNorm.isSpace(buf(cut - 1))) cut -= 1
            c.addBytes(buf, 0, cut)
            fill = fill + n - cut
            System.arraycopy(buf, cut, buf, 0, fill)
          }
        }
      } finally in.close()
    }
    c.packed
  }

  private def spaceAt(in: FSDataInputStream, pos: Long): Boolean = {
    in.seek(pos)
    WordNorm.isSpace(in.read().toByte)
  }

  /** The offset of the first space at or after `pos`, or the file's
    * length if none follows. Reads in small steps: the token in the way
    * is usually short. */
  private def nextSpace(in: FSDataInputStream, pos: Long, buf: Array[Byte]): Long = {
    in.seek(pos)
    var p = pos
    var n = in.read(buf, 0, math.min(buf.length, 256))
    while (n > 0) {
      var i = 0
      while (i < n) {
        if (WordNorm.isSpace(buf(i))) return p + i
        i += 1
      }
      p += n
      n = in.read(buf, 0, math.min(buf.length, 256))
    }
    p
  }

  /** The CLI output of the packed partials of one input. */
  private[graft] def formatted(partials: Seq[WordCounts], headerLabel: String,
      includeUnique: Boolean): Array[Byte] = {
    val all = new WordCombiner
    partials.foreach(all.merge)
    val header = (s"Filename: $headerLabel, total words: ${all.total}\n" +
      (if (includeUnique) s"Unique words found: ${all.size}\n" else ""))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
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
