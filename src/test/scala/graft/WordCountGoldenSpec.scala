package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WordCount

/** Differential golden tests against freshly regenerated committed-source
  * reference output (FIXTURES.md §3 — the goldens in
  * src/test/resources/golden/ were produced by compiling the committed
  * `omp.cpp` and running it over the reference inputs; the committed
  * `*_out.txt` artifacts are stale and never used).
  *
  * The two micro goldens (Text5, Text5+Text6) read the fixtures vendored
  * at src/test/resources/raw_text_input/ (FIXTURES.md §1: `Text5.txt` is
  * byte-exact, `Text6.txt` a reconstruction of its token multiset). Only
  * the two full-corpus tests need the 29-file reference corpus in
  * `corpusDir`; without it they fail with a message naming that
  * directory. The reconstructed-corpus test checks `golden_corpus.txt`
  * without it, over a seeded corpus generated from the golden itself. */
class WordCountGoldenSpec extends AnyFunSuite {
  private val corpusDir = "/root/reference/raw_text_input"

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    assert(in != null, s"missing golden resource $name")
    try in.readAllBytes() finally in.close()
  }

  /** A vendored micro input, resolved from the test classpath. */
  private def fixture(name: String): String = {
    val url = getClass.getResource(s"/raw_text_input/$name")
    assert(url != null, s"missing fixture resource raw_text_input/$name")
    java.nio.file.Paths.get(url.toURI).toString
  }

  /** Shell-glob order = byte-order sort of ASCII names. */
  private def corpusPaths: Seq[String] = {
    val names = new java.io.File(corpusDir).list()
    if (names == null) fail(s"reference corpus directory $corpusDir is missing or unreadable")
    names.sorted.toSeq.map(f => s"$corpusDir/$f")
  }

  test("fused tokenizer ≡ unfused explode/split/normalize/filter composition") {
    val spark = SparkTestSession.spark
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fused = WordCount.counts(WordCount.tokenize(docs, "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val unfused = WordCount.counts(WordCount.tokenizeUnfused(docs, "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fused === unfused)
  }

  test("fused tokenizer ≡ unfused on the full reference corpus") {
    // the nastiest real input
    val spark = SparkTestSession.spark
    val lines = WordCount.linesFromFiles(spark, corpusPaths)
    val a = WordCount.counts(WordCount.tokenize(lines, "value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = WordCount.counts(WordCount.tokenizeUnfused(lines, "value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("approx distinct is within its 2% standard error contract (<=5% observed)") {
    val r = WordCount.wcApproxDistinct(SparkTestSession.spark, "/root/testdata/sf0.001")
      .collect()(0)
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("count-min sketch: one-sided bound for EVERY token; sketch is mergeable") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestSession.spark
    import spark.implicits._
    val sf = SparkTestSession.sf0001
    val words = graft.sources.Tables.documents(spark, sf)
      .select(explode(split($"text", "\\s+")).as("word"))
      .filter(length($"word") > 0)
    val cms = WordCount.cmsSketch(words)
    // one-sided bound: est(w) = min_i c(i, bucket_i(w)) >= true count
    // for ALL tokens, not just the emitted top-20 — the CMS guarantee
    val truth = words.groupBy($"word").agg(count(lit(1)).as("cnt"))
    val est = truth
      .select($"word", $"cnt",
        posexplode(array((0 until WordCount.CmsRows).map(i =>
          WordCount.cmsBucket(i, $"word")): _*)).as(Seq("r", "b")))
      .join(cms, Seq("r", "b"))
      .groupBy($"word", $"cnt").agg(min($"c").as("est"))
    val violations = est.filter($"est" < $"cnt").count()
    assert(violations === 0, "CMS estimate must never undercount")
    assert(est.count() === truth.count())
    // mergeability: cell-wise sum of the two halves' sketches ≡ the
    // full sketch — what makes the artifact buildable per-partition
    val h1 = WordCount.cmsSketch(words.filter(crc32($"word") % 2 === 0))
    val h2 = WordCount.cmsSketch(words.filter(crc32($"word") % 2 === 1))
    val merged = h1.unionByName(h2)
      .groupBy($"r", $"b").agg(sum($"c").as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val full = cms.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(merged === full, "sketch must merge by cell-wise addition")
  }

  test("Text5: engine output byte-identical to reference (omp format)") {
    val got = WordCount.formattedBytes(SparkTestSession.spark,
      Seq(fixture("Text5.txt")), "raw_text_input/Text5.txt",
      includeUnique = false)
    assert(got.toSeq === golden("golden_text5.txt").toSeq)
  }

  test("Text5+Text6: all-files aggregation, header names first path") {
    val got = WordCount.formattedBytes(SparkTestSession.spark,
      Seq(fixture("Text5.txt"), fixture("Text6.txt")),
      "raw_text_input/Text5.txt", includeUnique = false)
    assert(got.toSeq === golden("golden_text56.txt").toSeq)
  }

  test("full 29-file corpus: byte-identical, 2658450 total / 56642 unique") {
    val paths = corpusPaths
    assert(paths.size === 29)
    val label = "raw_text_input/" + new java.io.File(paths.head).getName
    val got = WordCount.formattedBytes(SparkTestSession.spark, paths, label,
      includeUnique = false)
    val exp = golden("golden_corpus.txt")
    val gotHead = new String(got.take(80), "UTF-8")
    assert(gotHead.startsWith("Filename: raw_text_input/1399.txt.utf-8.txt, total words: 2658450"), gotHead)
    assert(got.length === exp.length, s"byte length ${got.length} vs ${exp.length}")
    assert(got.toSeq === exp.toSeq)
  }

  /** A corpus rebuilt from `golden_corpus.txt` (FIXTURES.md §1, a
    * reconstruction, not the reference's bytes): every golden word
    * `count` times, shuffled, decorated with FIXTURES.md §2's cases and
    * spread over 29 files. The golden's words have no strippable edge
    * byte and no ASCII upper case, so any decoration the normalize
    * undoes must give the golden back, byte for byte. */
  private def reconstructCorpus(dir: Path, golden: Array[Byte],
      seed: Long): (String, Seq[String]) = {
    // ISO-8859-1 maps each byte to one char and back, whatever the bytes
    val rows = new String(golden, ISO_8859_1).split("\n")
    val label = rows.head.stripPrefix("Filename: ").takeWhile(_ != ',')
    val (words, counts) = rows.tail.map { r =>
      val colon = r.lastIndexOf(": ")
      (r.substring(r.indexOf("] ") + 2, colon).getBytes(ISO_8859_1), r.substring(colon + 2).toInt)
    }.unzip
    val ids = new Array[Int](counts.sum)
    var k = 0
    for ((c, w) <- counts.zipWithIndex; _ <- 0 until c) { ids(k) = w; k += 1 }
    val rnd = new scala.util.Random(seed)
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    def b(s: String) = s.getBytes(UTF_8)
    val edges = Seq(",", ".", ";", "!", "?", "\"", "'", "(", ")", "[", "]", "--", "_")
      .map(b) ++ Seq("“", "”", "¿", "é", "«").map(b)
    val spaces = Seq(" ", " ", " ", " ", "\t", "\n", "\u000b", "\f", "\r", "\r\n").map(b)
    def edge() = edges(rnd.nextInt(edges.size))
    def upper(c: Byte) = if (c >= 'a' && c <= 'z') (c - 32).toByte else c
    val files = 29
    val paths = (0 until files).map { f =>
      val path = dir.resolve(f"part$f%02d.txt")
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
      try {
        out.write(b("\uFEFF")) // a BOM before the first token, as in the Gutenberg files
        for (i <- (ids.length.toLong * f / files).toInt until (ids.length.toLong * (f + 1) / files).toInt) {
          val w = words(ids(i))
          val roll = rnd.nextInt(100)
          if (roll < 4) out.write(edge()) // 4%: a leading edge
          out.write( // 8%: capitalized or upper case
            if (roll >= 8) w
            else if (rnd.nextInt(10) < 7) w.updated(0, upper(w(0)))
            else w.map(upper))
          if (roll >= 2 && roll < 12) out.write(edge()) // 10%: a trailing edge
          if (rnd.nextInt(200) == 0) { // a punctuation-only token
            out.write(spaces(0)); out.write(edge())
          }
          out.write(spaces(if (rnd.nextInt(12) == 0) rnd.nextInt(spaces.size) else 0))
        }
      } finally out.close()
      path.toString
    }
    (label, paths)
  }

  test("reconstructed 29-file corpus: byte-identical to golden_corpus.txt, 2658450 / 56642") {
    val exp = golden("golden_corpus.txt")
    val dir = Files.createTempDirectory("graft-corpus")
    try {
      val (label, paths) = reconstructCorpus(dir, exp, seed = 20261019L)
      assert(paths.size === 29)
      val got = WordCount.formattedBytes(SparkTestSession.spark, paths, label,
        includeUnique = false)
      WordCountGoldenSpec.assertSameLines(got, exp)
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}

object WordCountGoldenSpec {
  /** Byte equality of two word-count outputs; a mismatch is reported as
    * the first line that differs, not as the whole output. */
  def assertSameLines(got: Array[Byte], exp: Array[Byte]): Unit =
    if (!java.util.Arrays.equals(got, exp)) {
      val g = new String(got, ISO_8859_1).split("\n", -1)
      val e = new String(exp, ISO_8859_1).split("\n", -1)
      val k = g.indices.find(i => i >= e.length || g(i) != e(i)).getOrElse(g.length)
      def at(ls: Array[String]) = if (k < ls.length) ls(k).take(200) else "<end>"
      org.scalatest.Assertions.fail(
        s"outputs differ first at line $k: got '${at(g)}', expected '${at(e)}' " +
          s"(${got.length} vs ${exp.length} bytes)")
    }
}
