package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.graftshim.{ListenerShim, TestShim}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{WordCombiner, WordCounts}
import graft.operators.WordCount

/** Differential checks of the CLI path's in-mapper combiner
  * ([[WordCombiner]]) against the DataFrame word count it replaces on
  * that path: `counts(tokenize(…))` (the fused generator) and
  * `counts(tokenizeUnfused(…))` (built-ins), over generated byte lines
  * with every whitespace byte, strippable edges, ASCII upper case,
  * invalid UTF-8, empty lines, tokens longer than 64 KB and enough
  * distinct words to grow the combiner's table and arena many times;
  * and of the CLI path's byte-range tasks (`WordCount.plan` /
  * `countRanges`), whose output must not depend on where the input is
  * cut. */
class WordCombinerSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val spaces = Seq(0x20, 0x09, 0x0a, 0x0b, 0x0c, 0x0d).map(_.toByte)
  private val punct = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".getBytes(UTF_8).toSeq

  /** Bytes `WordNorm.isStrip` trims: ASCII punctuation and every byte
    * ≥ 0x80. */
  private val stripByte: Gen[Byte] =
    Gen.frequency(3 -> Gen.oneOf(punct), 1 -> Gen.choose(-128, -1).map(_.toByte))

  private val pool = Seq("the", "The", "THE", "don't", "re-use", "1.e.1", "a", "A",
    "café", "ça", "Straße", "karamazov</title>").map(_.getBytes(UTF_8))

  /** A token core: a pooled word, a short mixed-case word over a small
    * alphabet (many repeats that differ only in case), or arbitrary
    * non-whitespace bytes (mostly invalid UTF-8). */
  private val core: Gen[Array[Byte]] = Gen.frequency(
    4 -> Gen.oneOf(pool),
    4 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf("aAbBcC".getBytes(UTF_8).toSeq)))
      .map(_.toArray),
    2 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(-128, 127).map(_.toByte)
      .map(b => if (spaces.contains(b)) 'x'.toByte else b))).map(_.toArray))

  private val token: Gen[Array[Byte]] = for {
    pre <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, stripByte))
    c <- Gen.frequency(9 -> core, 1 -> Gen.const(Array.emptyByteArray))
    post <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, stripByte))
  } yield pre.toArray ++ c ++ post

  private val separator: Gen[Array[Byte]] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(spaces))).map(_.toArray)

  /** A line, possibly empty, possibly without whitespace after its last
    * token or before its first. */
  private val line: Gen[Array[Byte]] = for {
    toks <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, token))
    seps <- Gen.listOfN(toks.size + 1, separator)
    lead <- Gen.oneOf(true, false)
    trail <- Gen.oneOf(true, false)
  } yield {
    val body = toks.zip(seps.tail).flatMap { case (t, s) => t ++ s }.toArray
    val inner = if (toks.isEmpty) body else body.dropRight(seps.last.length)
    (if (lead) seps.head else Array.emptyByteArray) ++ inner ++
      (if (trail && toks.nonEmpty) seps.last else Array.emptyByteArray)
  }

  private val lines: Gen[Seq[Array[Byte]]] = Gen.choose(0, 200).flatMap(Gen.listOfN(_, line))

  /** Lines no random draw is likely to produce: > 64 KB tokens (in two
    * cases, one of them the last token of its line) and 20,000 distinct
    * words, which grow the slot table from 512 to 65,536 entries and the
    * arena from 4 KB to past 128 KB. */
  private val fixedLines: Seq[Array[Byte]] = {
    val long = Array.tabulate[Byte](70000)(i => ('a' + i % 26).toByte)
    val longUpper = long.map(b => (b - 32).toByte)
    val many = (0 until 20000).grouped(50).map(_.map(i => s"W$i,").mkString("\t")
      .getBytes(UTF_8)).toSeq
    Seq(Array[Byte]('"') ++ long ++ " x ".getBytes(UTF_8), "x ".getBytes(UTF_8) ++ longUpper,
      Array.emptyByteArray) ++ many ++ many.take(3)
  }

  private def combine(ls: Iterable[Array[Byte]]): WordCombiner = {
    val c = new WordCombiner
    ls.foreach(c.addLine)
    c
  }

  /** A packed result as a map, checked free of duplicate words. */
  private def asMap(p: WordCounts): Map[Seq[Byte], Long] = {
    val offs = p.lens.scanLeft(0)(_ + _)
    val m = p.lens.indices.map(i => p.words.slice(offs(i), offs(i + 1)).toSeq -> p.counts(i)).toMap
    assert(m.size === p.lens.length, "a word occurs twice in a packed result")
    m
  }

  private def collectCounts(df: DataFrame): Map[Seq[Byte], Long] =
    df.select(col("word").cast("binary"), col("cnt")).collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> r.getLong(1)).toMap

  private def linesDf(ls: Seq[Array[Byte]]): DataFrame =
    spark.createDataset(ls)(Encoders.BINARY).select(col("value").cast("string").as("value"))

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("combiner ≡ counts(tokenize) ≡ counts(tokenizeUnfused) on generated byte lines") {
    // Spark's regex split decodes its input as UTF-8, so tokenizeUnfused
    // sees each invalid sequence as U+FFFD: it agrees with the byte-exact
    // paths on the lines' UTF-8 round trip, not on their raw bytes.
    def roundTrip(l: Array[Byte]) = new String(l, UTF_8).getBytes(UTF_8)
    def agree(ls: Seq[Array[Byte]]): Boolean = {
      val c = combine(ls)
      val got = asMap(c.packed)
      val df = linesDf(ls)
      val fused = collectCounts(WordCount.counts(WordCount.tokenize(df, "value")))
      val unfused = collectCounts(WordCount.counts(WordCount.tokenizeUnfused(df, "value")))
      got == fused && c.total == got.values.sum &&
        asMap(combine(ls.map(roundTrip)).packed) == unfused
    }
    assert(agree(fixedLines))
    check(Prop.forAll(lines)(agree), 12)
  }

  test("merging K packed partials of random splits ≡ one combiner over all lines") {
    val gen = for {
      ls <- lines
      k <- Gen.choose(1, 8)
      parts <- Gen.listOfN(ls.size, Gen.choose(0, k - 1))
    } yield (ls, parts)
    def merged(ls: Seq[Array[Byte]], parts: Seq[Int]): Boolean = {
      val whole = combine(ls)
      val all = new WordCombiner
      ls.zip(parts).groupBy(_._2).values.foreach(g => all.merge(combine(g.map(_._1)).packed))
      val expected = asMap(whole.packed)
      asMap(all.packed) == expected && all.total == whole.total &&
        asMap(all.sorted) == expected
    }
    assert(merged(fixedLines, fixedLines.indices.map(_ % 5)))
    check(Prop.forAll(gen) { case (ls, parts) => merged(ls, parts) }, 200)
  }

  /** Writes `files` into a new temp dir, runs `f` on their paths and
    * deletes them. */
  private def withFiles[T](files: Seq[Array[Byte]])(f: Seq[String] => T): T = {
    val dir = Files.createTempDirectory("graft-wc-ranges")
    try f(files.zipWithIndex.map { case (b, i) =>
      Files.write(dir.resolve(f"part$i%02d.txt"), b).toString
    })
    finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  /** The CLI output built by the test from the DataFrame count of the
    * files' lines: header, then `[i] word: count` in unsigned byte order. */
  private def dataFrameOutput(paths: Seq[String], label: String): Array[Byte] = {
    val rows = WordCount.counts(WordCount.tokenize(WordCount.linesFromFiles(spark, paths),
      "value")).select(col("word").cast("binary"), col("cnt")).collect()
      .map(r => (r.getAs[Array[Byte]](0), r.getLong(1)))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
    val exp = new java.io.ByteArrayOutputStream
    exp.write(s"Filename: $label, total words: ${rows.map(_._2).sum}\n".getBytes(UTF_8))
    exp.write(s"Unique words found: ${rows.length}\n".getBytes(UTF_8))
    rows.zipWithIndex.foreach { case ((w, c), i) =>
      exp.write(s"[$i] ".getBytes(UTF_8)); exp.write(w); exp.write(s": $c\n".getBytes(UTF_8))
    }
    exp.toByteArray
  }

  /** The CLI output of `paths` cut into tasks of `split` bytes and read
    * through `buf`-byte buffers, each task run in this thread. */
  private def rangesOutput(paths: Seq[String], split: Long, buf: Int): Array[Byte] = {
    val files = paths.map(p => p -> Files.size(java.nio.file.Paths.get(p)))
    val total = files.map(_._2).sum
    val tasks = ((total - 1).max(0L) / split + 1).toInt
    val conf = new org.apache.hadoop.conf.Configuration
    WordCount.formatted(WordCount.plan(files, tasks).map(WordCount.countRanges(_, conf, buf)),
      "in/part00.txt", includeUnique = true)
  }

  /** Files of generated lines joined by LF, CR or CRLF, each possibly
    * empty and possibly without a line end after its last line. */
  private val file: Gen[Array[Byte]] = for {
    ls <- Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.choose(1, 20).flatMap(Gen.listOfN(_, line)))
    ends <- Gen.listOfN(ls.size, Gen.oneOf("\n", "\r", "\r\n").map(_.getBytes(UTF_8)))
    last <- Gen.oneOf(true, false)
  } yield {
    val body = ls.zip(ends).flatMap { case (l, e) => l ++ e }.toArray
    if (last || ls.isEmpty) body else body.dropRight(ends.last.length)
  }

  test("byte-range tasks at 1–16-byte splits ≡ one split ≡ the DataFrame count, formatted") {
    // every split offset of a run of all six whitespace bytes, CR/LF
    // pairs and tokens that end at a file's last byte
    val fixed = Seq("ab\t\n\u000b\u000c\r x\r\ny\r\n\r\nZz. \"q\" \u000b-w-", "",
      "\r\nlast", " lead  trail \n", "a\rb\nc").map(_.getBytes(UTF_8))
    withFiles(fixed) { paths =>
      val exp = dataFrameOutput(paths, "in/part00.txt")
      for (split <- 1 to 16; buf <- Seq(1, 3, 64)) withClue(s"split $split, buffer $buf: ") {
        WordCountGoldenSpec.assertSameLines(rangesOutput(paths, split, buf), exp)
      }
    }
    // a 70,000-byte token across many splits and buffer refills, next to
    // short tokens on both sides of it
    val long = Array.tabulate[Byte](70000)(i => ('a' + i % 26).toByte)
    withFiles(Seq("x y ".getBytes(UTF_8) ++ long ++ " z\n".getBytes(UTF_8) ++ long,
        long ++ "\r\n".getBytes(UTF_8))) { paths =>
      val exp = dataFrameOutput(paths, "in/part00.txt")
      for (split <- Seq(4999L, 16384L, 1L << 20); buf <- Seq(4096, 1 << 20))
        withClue(s"split $split, buffer $buf: ") {
          WordCountGoldenSpec.assertSameLines(rangesOutput(paths, split, buf), exp)
        }
    }
    val gen = for {
      fs <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, file))
      split <- Gen.choose(1, 16)
      buf <- Gen.oneOf(1, 2, 5, 16, 1 << 10)
    } yield (fs, split, buf)
    check(Prop.forAll(gen) { case (fs, split, buf) =>
      withFiles(fs) { paths =>
        val got = rangesOutput(paths, split, buf)
        java.util.Arrays.equals(got, rangesOutput(paths, Long.MaxValue, 1 << 20)) &&
          java.util.Arrays.equals(got, dataFrameOutput(paths, "in/part00.txt"))
      }
    }, 40)
  }

  test("the CLI pipeline over many scan tasks ≡ the DataFrame count, formatted") {
    val ls = fixedLines ++
      Seq(11L, 12L).flatMap(s => lines.pureApply(Gen.Parameters.default, Seed(s)))
    val files = ls.grouped(math.max(ls.size / 3, 1)).map(_.flatMap(_ :+ '\n'.toByte).toArray).toSeq
    withFiles(files) { paths =>
      val tasks = spark.sparkContext.defaultParallelism
      val lengths = paths.map(p => p -> Files.size(java.nio.file.Paths.get(p)))
      assert(tasks >= 2 && lengths.map(_._2).sum >= 16384L * tasks)
      assert(WordCount.plan(lengths, tasks).size === tasks)
      val before = spark.conf.getAll
      val got = WordCount.formattedBytesInner(spark, paths, "in/part00.txt",
        includeUnique = true, taskBytes = 16384)
      assert(spark.conf.getAll === before, "the word count changed the session's confs")
      WordCountGoldenSpec.assertSameLines(got, dataFrameOutput(paths, "in/part00.txt"))
    }
  }

  test("a missing or directory input fails with a message that names it") {
    withFiles(Seq("a b\n".getBytes(UTF_8))) { paths =>
      val dir = java.nio.file.Paths.get(paths.head).getParent.toString
      val missing = dir + "/no-such-file.txt"
      for ((bad, why) <- Seq(missing -> "does not exist", dir -> "is a directory")) {
        val e = intercept[IllegalArgumentException](
          WordCount.formattedBytes(spark, paths :+ bad, "in/part00.txt", includeUnique = false))
        assert(e.getMessage.contains(bad) && e.getMessage.contains(why), e.getMessage)
      }
    }
  }

  test("exact output: a non-ASCII label as its UTF-8 bytes; header only when every input is empty") {
    // the reference prints argv's bytes: é is C3 A9 under a UTF-8 locale
    val labelBytes = "raw_text_input/".getBytes(UTF_8) ++ Array(0xc3, 0xa9).map(_.toByte) ++
      ".txt".getBytes(UTF_8)
    val label = new String(labelBytes, UTF_8)
    def expected(body: String) =
      "Filename: ".getBytes(UTF_8) ++ labelBytes ++ body.getBytes(UTF_8)
    withFiles(Seq("a b\n".getBytes(UTF_8), "a\n".getBytes(UTF_8))) { paths =>
      val got = WordCount.formattedBytes(spark, paths, label, includeUnique = true)
      assert(got.toSeq === expected(", total words: 3\nUnique words found: 2\n[0] a: 2\n[1] b: 1\n").toSeq)
    }
    // every input empty: no range, so no job, and the header alone
    for (n <- Seq(1, 3)) withFiles(Seq.fill(n)(Array.emptyByteArray)) { paths =>
      val got = WordCount.formattedBytes(spark, paths, label, includeUnique = true)
      assert(got.toSeq === expected(", total words: 0\nUnique words found: 0\n").toSeq, s"$n empty files")
    }
  }

  test("one job of one stage, one task per planned range list, under the word count's tag; " +
      "none for empty input; the caller's local properties are unchanged, also after a failing call") {
    val sc = spark.sparkContext
    val caller = s"graft-caller-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    def tags(e: SparkListenerJobStart): Set[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tags(e).contains(caller)) jobs.add(e)
    }
    withFiles(Seq("a b\n".getBytes(UTF_8), "c d a\n".getBytes(UTF_8), Array.emptyByteArray)) { paths =>
      val lengths = paths.map(p => p -> Files.size(java.nio.file.Paths.get(p)))
      sc.addJobTag(caller)
      sc.setJobDescription("the caller's job")
      sc.addSparkListener(listener)
      try {
        val before = TestShim.localProperties(sc)
        WordCount.formattedBytesInner(spark, paths, "in/part00.txt", includeUnique = true,
          taskBytes = 4)
        assert(TestShim.localProperties(sc) === before)
        WordCount.formattedBytes(spark, Seq(paths.last), "in/part02.txt", includeUnique = true)
        assert(TestShim.localProperties(sc) === before)
        intercept[IllegalArgumentException](WordCount.formattedBytes(spark,
          paths :+ (paths.head + ".missing"), "in/part00.txt", includeUnique = true))
        assert(TestShim.localProperties(sc) === before)
        ListenerShim.drain(sc)
        assert(jobs.size === 1, "jobs started by the word count")
        val job = jobs.peek
        assert(tags(job) === Set(caller, WordCount.JobTag))
        assert(job.properties.getProperty("spark.job.description") === "word count: in/part00.txt")
        assert(job.stageInfos.size === 1)
        assert(WordCount.plan(lengths, 3).size === 3)
        assert(job.stageInfos.head.numTasks === 3)
      } finally {
        sc.removeSparkListener(listener)
        sc.removeJobTag(caller)
        sc.setJobDescription(null)
      }
    }
  }
}
