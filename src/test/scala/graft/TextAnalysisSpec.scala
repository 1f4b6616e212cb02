package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("PII redaction scrubs planted emails, IPs and phone numbers with exact counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "write to a.user+tag@ex-ample.co or admin@host.org today"),
      (2L, "server 10.0.0.1 and 192.168.254.3 responded"),
      (3L, "call 555-123-4567 or 555.987.6543 x2"),
      (4L, "mixed: bob@a.io from 8.8.8.8 dialed 123 456 7890"),
      (5L, "clean text, just numbers 12345 and a dot. end"),
      (6L, "not addresses: 999.999.999.999 or 1.2.3.456 stay"),
      (7L, "edges 0.0.0.0 and 255.255.255.255 are addresses"),
      (8L, "padded 192.168.000.001 and 010.0.0.1 are addresses too")).toDF("doc_id", "text")
    val got = TextAnalysis.redactFrame(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got(0) === ((1L, 2, 0, 0, "write to <EMAIL> or <EMAIL> today")))
    assert(got(1) === ((2L, 0, 2, 0, "server <IP> and <IP> responded")))
    assert(got(2) === ((3L, 0, 0, 2, "call <PHONE> or <PHONE> x2")))
    assert(got(3) === ((4L, 1, 1, 1, "mixed: <EMAIL> from <IP> dialed <PHONE>")))
    assert(got(4) === ((5L, 0, 0, 0, "clean text, just numbers 12345 and a dot. end")))
    // octet bounding: out-of-range components are not addresses
    assert(got(5) === ((6L, 0, 0, 0, "not addresses: 999.999.999.999 or 1.2.3.456 stay")))
    assert(got(6) === ((7L, 0, 2, 0, "edges <IP> and <IP> are addresses")))
    // zero-padded octets (log output style) must still redact
    assert(got(7) === ((8L, 0, 2, 0, "padded <IP> and <IP> are addresses too")))
  }

  test("langid identifies real-language sentences") {
    import spark.implicits._
    val samples = Seq(
      ("the quick brown fox jumps over the lazy dog and it is fast", "en"),
      ("le chat est dans la maison et il mange le pain pour le matin", "fr"),
      ("el perro es grande y las casas son blancas por la noche", "es"),
      ("der Hund ist groß und die Katze ist klein zu Hause mit den Kindern", "de"),
      ("你好世界这是一个测试文档没有空格", "cjk_or_other"),
    ).toDF("text", "expected")
    val got = TextAnalysis.langIdFrame(samples, "text")
      .select("expected", "pred_lang").collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0),
      s"misclassified: expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("langid yields unknown on marker-free text") {
    import spark.implicits._
    val df = Seq("zzz qqq xxx www yyy").toDF("text")
    val got = TextAnalysis.langIdFrame(df, "text").select("pred_lang").collect()
    assert(got(0).getString(0) === "unknown")
  }

  test("quality score is in (0, 1.5] and ratios in [0, 1] on real data") {
    val rows = TextAnalysis.textQuality(spark, SparkTestSession.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q > 0 && q <= 1.5, s"quality $q out of range")
      Seq("punct_ratio", "digit_ratio", "stopword_ratio").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0 && v <= 1, s"$c = $v out of range")
      }
    }
  }

  test("MinMd5Grams equals the built-in composition, incl. short strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fused = TextAnalysis.textFingerprint(spark, SparkTestSession.sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val unfused = TextAnalysis.fingerprintUnfused(spark, SparkTestSession.sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fused === unfused)
    // edge lengths: shorter than, equal to, just above the 8-char window
    val edges = Seq("", "abc", "abcdefgh", "abcdefghi").toDF("text")
    val a = edges.select(graft.functions.MinMd5Grams($"text")).collect().map(_.getString(0))
    val b = edges.select(array_min(transform(
        sequence(lit(1), greatest(length($"text") - 7, lit(1))),
        i => md5($"text".substr(i, lit(8)))))).collect().map(_.getString(0))
    assert(a.toSeq === b.toSeq)
  }

  test("GramWindowMins equals the built-in composition, incl. edge lengths") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import graft.functions.WinnowImpl
    // built-in composition: per-gram Karp-Rabin polynomial over ascii(),
    // then array_min per full window — the same definition the DuckDB
    // oracle embeds. sequence(1, k) is guarded (k < 1 yields a DESCENDING
    // sequence in Spark, not an empty one).
    def polyHash(i: Column): Column = WinnowImpl.coef.zipWithIndex.map {
      case (c, j) => ascii(substring($"text", lit(0) + i + j, lit(1))).cast("long") * c
    }.reduce(_ + _) % WinnowImpl.Mod
    val nGrams = length($"text") - (WinnowImpl.GramLen - 1)
    val grams = when(nGrams >= 1,
      transform(sequence(lit(1), greatest(nGrams, lit(1))), polyHash(_)))
      .otherwise(array().cast("array<bigint>"))
    // the windows read `grams` as a materialized column: inlining the
    // gram expression into each window's slice rebuilds every gram per
    // window, O(L²·k) per document
    val nWins = size($"grams") - (WinnowImpl.Window - 1)
    val wins = when(nWins >= 1,
      transform(sequence(lit(1), greatest(nWins, lit(1))),
        (j: Column) => array_min(slice($"grams", j, lit(WinnowImpl.Window)))))
      .otherwise(array().cast("array<bigint>"))
    // edge lengths around GramLen and GramLen + Window - 1, plus real docs
    val edges = Seq("", "abc", "abcdefgh", "abcdefghijklmn", "abcdefghijklmno",
      "the quick brown fox jumps over the lazy dog").toDF("text")
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
      .select($"text")
    for (df <- Seq(edges, docs)) {
      val a = df.select(graft.functions.GramWindowMins($"text").as("w"))
        .collect().map(_.getSeq[Long](0))
      val b = df.select(grams.as("grams")).localCheckpoint()
        .select(wins.as("w")).collect().map(_.getSeq[Long](0))
      assert(a.toSeq === b.toSeq)
    }
  }

  test("winnowing selects a shared hash for every sufficiently long shared substring") {
    import spark.implicits._
    // two documents sharing a substring of length >= GramLen + Window - 1
    // must share a selected fingerprint hash — the winnowing guarantee.
    val shared = "winnowing guarantee shared run"
    val df = Seq(s"prefix one $shared suffix alpha",
                 s"completely different head $shared other tail").toDF("text")
    val sel = df.select(org.apache.spark.sql.functions.array_distinct(
        graft.functions.GramWindowMins($"text")).as("w"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert((sel(0) intersect sel(1)).nonEmpty)
  }

  test("repetition signals match hand-computed values on edge docs") {
    import spark.implicits._
    import java.nio.file.Files
    // stand-in documents table so textRepetition's own scan is exercised
    val dir = Files.createTempDirectory("graft_rep_").toString
    Seq(
      (0L, "a a a b", "en", "t"),   // dup_word 1-2/4; bigrams aa,aa,ab → top 2/3; trigrams aaa,aab → dup 0
      (1L, "x y z", "en", "t"),     // all unique: 0.0; bigrams xy,yz → top 1/2; one trigram → dup 0
      (2L, "solo", "en", "t"),      // no bigrams/trigrams → 0.0 fracs
      (3L, "p q p q p q", "en", "t") // bigrams: pq×3,qp×2 → top 3/5; trigrams pqp×2,qpq×2 → dup 1-2/4
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.textRepetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(0L) === ((4L, 1.0 - 2.0 / 4.0, 2.0 / 3.0, 0.0)))
    assert(got(1L) === ((3L, 0.0, 1.0 / 2.0, 0.0)))
    assert(got(2L) === ((1L, 0.0, 0.0, 0.0)))
    assert(got(3L) === ((6L, 1.0 - 2.0 / 6.0, 3.0 / 5.0, 1.0 - 2.0 / 4.0)))
  }

  test("tf-idf top-k matches hand-computed ranks, rarity beats frequency") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"), // apple tf2/df1=2.0 > banana 1/2=0.5
      (2L, "banana cherry"),      // tie at 0.5 -> term asc: banana, cherry
      (3L, "cherry cherry date")  // cherry 2/2=1.0 ties date 1/1=1.0 -> cherry first
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.textTfidfTopkOn(docs)
      .select("doc_id", "rk", "term", "tf", "df").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === Seq(
      (1L, 1, "apple", 2L, 1L), (1L, 2, "banana", 1L, 2L),
      (2L, 1, "banana", 1L, 2L), (2L, 2, "cherry", 1L, 2L),
      (3L, 1, "cherry", 2L, 2L), (3L, 2, "date", 1L, 1L)))
  }

  test("LM score matches hand-computed smoothed bigram probabilities") {
    import spark.implicits._
    // fit "a b a c": unigrams a:2 b:1 c:1 (V=3); bigrams (a,b) (b,a) (a,c)
    val fit = Seq((1L, "a b a c")).toDF("doc_id", "text")
    val score = Seq(
      (8L, "a b x"), // (a,b): (1+1)/(2+3)=0.4 → 419430; (b,x): (0+1)/(1+3)=0.25 → 262144
      (9L, "z z"),   // (z,z): (0+1)/(0+3)=1/3 → 349525
      (10L, "solo")) // < 2 tokens: no bigrams, no row
      .toDF("doc_id", "text")
    val got = TextAnalysis.textLmScoreOn(fit, score).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (8L, 2L, 419430L + 262144L, (419430L + 262144L) / 2.0),
      (9L, 1L, 349525L, 349525.0)),
      s"got ${got.toSeq}")
  }

  test("fingerprint is stable and order-sensitive") {
    import spark.implicits._
    val df = Seq("abcdefghij", "abcdefghij", "jihgfedcba").toDF("text")
      .withColumn("doc_id", org.apache.spark.sql.functions.monotonically_increasing_id())
    val fps = df.select(org.apache.spark.sql.functions.array_min(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(1),
          org.apache.spark.sql.functions.greatest(
            org.apache.spark.sql.functions.length($"text") - 7,
            org.apache.spark.sql.functions.lit(1))),
        i => org.apache.spark.sql.functions.md5($"text".substr(i,
          org.apache.spark.sql.functions.lit(8)))))).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("LM buckets: balanced tertiles ordered by score") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.textLmBuckets(spark, SparkTestSession.sf0001).collect()
      .map(r => (r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // bucket sizes differ by at most one (the rank formula's guarantee)
    val sizes = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet.subsetOf(Set(0L, 1L, 2L)))
    assert(sizes.values.max - sizes.values.min <= 1, s"sizes $sizes")
    // head (0) outranks middle outranks tail: min score of bucket k ≥
    // max score of bucket k+1
    for (k <- 0L to 1L if sizes.contains(k) && sizes.contains(k + 1)) {
      val lo = rows.filter(_._2 == k).map(_._1).min
      val hi = rows.filter(_._2 == k + 1).map(_._1).max
      assert(lo >= hi, s"bucket $k min $lo < bucket ${k + 1} max $hi")
    }
  }

  test("BPE greedy longest-match: hand-tokenized sentence set") {
    import graft.functions.BpeImpl
    import org.apache.spark.unsafe.types.UTF8String
    def c(s: String): Long = BpeImpl.count(UTF8String.fromString(s))
    // hand segmentations over the committed fixture vocab:
    assert(c("the") === 1L)              // [the]
    assert(c("theory") === 3L)           // the|or|y
    assert(c("testing") === 3L)          // te|st|ing
    assert(c("estimate") === 4L)         // est|i|ma|te ("im" not a merge)
    assert(c("quand") === 3L)            // q|u|and
    assert(c("it's") === 3L)             // it|'|s
    assert(c("x") === 1L)
    assert(c("") === 0L)
    assert(c("  ") === 0L)               // spaces are never counted
    assert(c("café") === 4L)        // c|a|f|<unk é: one code point>
    assert(c("the theory of testing") === 8L) // 1+3+1+3
    // per-word decomposition: the whole-string walk ≡ sum over words
    // (pieces cannot span a space)
    assert(c("estimate quand") === c("estimate") + c("quand"))
    // greedy prefers the LONGEST piece: "ing" (3) over "in"+"g"
    assert(c("ing") === 1L)
    // a surrogate-pair code point counts ONE (DuckDB len semantics)
    assert(c(new String(Character.toChars(0x1F600))) === 1L)
  }

  test("learned quality model ≡ plain-Scala reference on a hand-built 3-doc fit") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.functions.Md5Lower64Impl
    import org.apache.spark.unsafe.types.UTF8String
    val Q = TextAnalysis.QmQuantum
    val B = TextAnalysis.QmBuckets
    // hand-labeled fit slice (labels via the heuristic, computed by
    // hand): 10× "the" → quality 1·1·(0.5+1) = 1.5 ≥ 0.56 → POSITIVE;
    // "zzz" → 0.1·1·0.5 = 0.05 → negative; "aaa bbb" → 0.2·1·0.5 = 0.1
    // → negative
    val d1 = Seq.fill(10)("the").mkString(" ")
    val fit = Seq((1L, d1), (2L, "zzz"), (3L, "aaa bbb")).toDF("doc_id", "text")
    val score = Seq((10L, "the zzz ccc"), (11L, "qqq")).toDF("doc_id", "text")
    // plain-JVM reference: same features (unigrams + space-joined
    // bigrams, md5-low64 & mask), same integer-only smoothed count
    def bucket(s: String): Long = Md5Lower64Impl.md5Lower64(UTF8String.fromString(s)) & (B - 1)
    def feats(text: String): Seq[Long] = {
      val t = text.split(" ", -1).toSeq
      t.map(bucket) ++ t.zip(t.drop(1)).map { case (a, b) => bucket(a + " " + b) }
    }
    val counts = collection.mutable.Map[Long, (Long, Long)]().withDefaultValue((0L, 0L))
    for ((text, pos) <- Seq((d1, true), ("zzz", false), ("aaa bbb", false));
         b <- feats(text)) {
      val (p, n) = counts(b)
      counts(b) = if (pos) (p + 1, n) else (p, n + 1)
    }
    val qv = counts.map { case (b, (p, n)) => b -> (p + 1) * Q / (p + n + 2) }
    def expected(docId: Long, text: String): (Long, Long, Long) = {
      val fs = feats(text)
      (docId, fs.size.toLong, fs.map(b => qv.getOrElse(b, Q / 2)).sum)
    }
    val exp = Set(expected(10L, "the zzz ccc"), expected(11L, "qqq"))
    val got = TextAnalysis.textQualityModelOn(fit, score).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exp)
    // the fit genuinely bites: the positive-heavy "the" bucket scores
    // above the unseen prior, the negative-only "zzz" bucket below it
    assert(qv(bucket("the")) > Q / 2 && qv(bucket("zzz")) < Q / 2)
  }

  test("Gopher rules: every boundary lands on the exact integer edge") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // docs planted ON the rule edges: 49 vs 50 words (count rule),
    // mean word length exactly 3 and exactly >10 (3n <= chars <= 10n),
    // 80% alpha boundary (4/5 vs 3/5), 1 vs 2 distinct stopwords,
    // and the lorem-ipsum literal
    def words(n: Int, w: String) = Seq.fill(n)(w).mkString(" ")
    val docs = Seq(
      (1L, words(49, "and")),                         // 49 words -> count rule fails
      (2L, "the and " + words(48, "box")),            // 50 words, chars = 150 = 3n edge
      (3L, words(50, "abcdefghijk")),                 // mean len 11 > 10
      (4L, "the of " + words(48, "xxx1")),            // all rules pass (alpha in every word)
      (5L, "the " + words(49, "box")),                // only 1 distinct stopword
      (6L, "the of lorem ipsum " + words(46, "box")), // lorem ipsum literal
      (7L, "the of " + words(48, "123"))              // 2 alpha words of 50 -> 80% rule fails
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRulesOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got(1L).getBoolean(2), "49 words must fail r_wordcount")
    assert(got(2L).getBoolean(7), "50x'and': every rule passes incl. mean len = 3 edge")
    assert(!got(3L).getBoolean(3), "mean word length 11 must fail r_meanlen")
    assert(got(4L).getBoolean(5) && got(4L).getBoolean(7))
    assert(!got(5L).getBoolean(5), "one distinct stopword must fail r_stopwords")
    assert(!got(6L).getBoolean(6) && !got(6L).getBoolean(7), "lorem ipsum must fail")
    assert(!got(7L).getBoolean(4), "2 alpha of 50 words must fail the 80% rule")
  }

  test("BPE counts lower-bound at one token per non-empty word on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bad = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
      .select($"doc_id",
        size(filter(split($"text", " "), w => length(w) > 0)).cast("long").as("nw"),
        graft.functions.BpeTokenCount($"text").as("bpe"))
      .filter($"bpe" < $"nw")
    assert(bad.count() === 0L)
  }

  test("fused QmFeatureBuckets ≡ the unfused transform composition, per doc (incl. empty and 1-token)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "single"), (3L, ""), (4L, "a b"), (5L, "x  y") // double space → empty token
    ).toDF("doc_id", "text")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("k"))
      .orderBy($"doc_id", $"b").collect().map(_.toSeq).toSeq
    assert(agg(TextAnalysis.qmFeatures(docs)) ===
      agg(TextAnalysis.qmFeaturesUnfused(docs)))
  }

  test("BPE fit: hand-fit corpus (low x3, lower x2, newest), deterministic tie-break on equal counts") {
    import spark.implicits._
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.textBpeFitOn(docs, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    // step 1: (l,o) and (o,w) tie at 5 — lhs ASC picks (l,o);
    // step 2: (lo,w) 5; step 3: (low,</w>) 3
    assert(got === Seq(
      (1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "low", "</w>", 3L)))
  }

  test("BPE encode: hand-fit corpus — merge-order apply, counts ≡ sequence lengths") {
    import spark.implicits._
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    // merges after 3 fit steps (the hand-fit test above): (l,o), (lo,w),
    // (low,</w>) — so low → "low</w>", lower → "low e r </w>",
    // newest → fully un-merged characters + </w>
    val got = TextAnalysis.textBpeEncodeOn(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === Seq(
      (1L, 3L, "low</w> low</w> low</w>"),
      (2L, 8L, "low e r </w> low e r </w>"),
      (3L, 7L, "n e w e s t </w>")))
  }

  test("special tokens: reserved atom survives fit/encode/decode, fit never merges into it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sp = TextAnalysis.BpeDocToken
    // the special appears between real words AND adjacent to the very
    // pairs the fit will merge — the temptation case for a non-reserved
    // trainer ("o <" or "> l" cross-boundary merges)
    val docs = Seq(
      (1L, s"$sp low low low"), (2L, s"$sp lower lower"), (3L, s"$sp newest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.textBpeEncodeSpecialOn(docs, 3, Seq(sp)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // the special encodes as EXACTLY ONE token and the learned merges
    // are the same hand-fit three as the plain corpus (reservation
    // keeps the marker out of the pair statistics)
    assert(got === Seq(
      (1L, 4L, s"$sp</w> low</w> low</w> low</w>"),
      (2L, 9L, s"$sp</w> low e r </w> low e r </w>"),
      (3L, 8L, s"$sp</w> n e w e s t </w>")))
    // no learned merge touches the special's characters: its atom never
    // appears as a merge side even though '<','|','>' appear nowhere else
    val (_, merges) = (TextAnalysis.textBpeFitCappedOn(docs, 1000, Seq(sp)))
    assert(merges.collect().forall(r =>
      !r.getString(1).contains("<|") && !r.getString(2).contains("<|")))
    // decode round-trips the special verbatim through the standard
    // marker rewrites (one symbol, no internal spaces)
    val decoded = got.map(t =>
      t._3.replace(" ", "").replace("</w>", " ").trim)
    assert(decoded === Seq(
      s"$sp low low low", s"$sp lower lower", s"$sp newest"))
  }

  test("vocab-capped fit: alphabet + merges ≤ cap, cap at/below alphabet fits zero merges") {
    import spark.implicits._
    val docs = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    // base alphabet of this corpus: l o w e r n s t </w> = 9 symbols
    val (alpha9, m0) = TextAnalysis.textBpeFitCappedOn(docs, 9)
    assert(alpha9 === 9)
    assert(m0.count() === 0L) // cap == alphabet: no merge budget
    val (_, m2) = TextAnalysis.textBpeFitCappedOn(docs, 11)
    // two merges minted: the hand-fit first two, (l,o) then (lo,w)
    assert(m2.collect().map(r => (r.getString(1), r.getString(2))).toSeq
      === Seq(("l", "o"), ("lo", "w")))
    assert(alpha9 + m2.count() <= 11)
    // a generous cap degenerates to the uncapped fit
    val (_, mAll) = TextAnalysis.textBpeFitCappedOn(docs, 1000)
    val uncapped = TextAnalysis.textBpeFitOn(docs, 1000 - 9)
    assert(mAll.collect().map(_.toSeq).toSeq
      === uncapped.collect().map(_.toSeq).toSeq)
  }

  test("byte special tokens: marker atomic at ANY position, fit never merges into it, decode exact") {
    import spark.implicits._
    val sp = TextAnalysis.BpeDocToken
    val spHex = sp.getBytes("UTF-8").map("%02x".format(_)).mkString
    // the marker at the FRONT, MID-TEXT after a space (the case regex
    // alternation alone cannot keep atomic: ' <|' is a punct-run match
    // before the special alternative is ever tried), and BETWEEN punct
    val docs = Seq(
      (1L, s"$sp low low low"),
      (2L, s"lower $sp lower"),
      (3L, s"!$sp!")).toDF("doc_id", "text")
    val got = TextAnalysis.textBpeEncodeSpecialBytesOn(docs, 3, Seq(sp))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // the marker is EXACTLY ONE token (one unspaced hex symbol) in
    // every position, and the byte decode round-trips each document
    // VERBATIM — marker, spaces, punctuation included
    got.foreach { case (id, _, seq) =>
      val symbols = seq.split(" ").toSeq
      assert(symbols.count(_ == spHex) === 1,
        s"doc $id must carry the marker as one atomic symbol, got $seq")
      val decoded = new String(
        symbols.mkString("").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
        "UTF-8")
      val original = docs.filter($"doc_id" === id).head().getString(1)
      assert(decoded === original, s"byte decode must be exact for doc $id")
    }
    // no learned merge contains the marker's hex atom on either side
    val (_, merges) = TextAnalysis.textBpeFitCappedBytesOn(docs, 1000, Seq(sp))
    assert(merges.collect().forall(r =>
      !r.getString(1).contains(spHex) && !r.getString(2).contains(spHex)))
  }

  test("byte special tokens: flagship reservation costs nothing — merges track the plain fit") {
    import spark.implicits._
    val sp = TextAnalysis.BpeDocToken
    val plain = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val marked = plain.select($"doc_id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit(sp + " "), $"text").as("text"))
    // the reserved marker contributes no pairs, so the learned merge
    // table over the marked corpus equals the plain corpus's exactly —
    // but for the segment-leading space the marker introduces (' low'
    // vs 'low' pretokens), so compare at the hex level via the capped
    // fits over the SAME pretoken multiset: plain text pre-split
    val (alpha, merges) = TextAnalysis.textBpeFitCappedBytesOn(marked, 1000, Seq(sp))
    // alphabet = distinct byte symbols + exactly ONE atomic marker symbol
    val spHex = sp.getBytes("UTF-8").map("%02x".format(_)).mkString
    val (alphaPlain, mergesPlain) = TextAnalysis.textBpeFitCappedBytesOn(marked.select($"doc_id",
      org.apache.spark.sql.functions.expr(s"substring(text, ${sp.length + 1})").as("text")), 1000)
    assert(alpha === alphaPlain + 1,
      s"marker must add exactly one atomic symbol: $alpha vs $alphaPlain")
    // zero-cost PINNED: the generous-cap fit runs both corpora to pair
    // exhaustion, and since the reserved marker contributes no pairs the
    // LEARNED MERGE TABLES are identical — marked vs marker-stripped
    // (same remainder pretoken multiset, segment-leading space included)
    assert(merges.collect().map(_.toSeq).toSeq
      === mergesPlain.collect().map(_.toSeq).toSeq,
      "reservation must not perturb the learned merges")
    assert(merges.collect().forall(r =>
      !r.getString(1).contains(spHex) && !r.getString(2).contains(spHex)))
    // capped accounting: cap at alphabet → zero merges
    val (a2, m0) = TextAnalysis.textBpeFitCappedBytesOn(marked, 1, Seq(sp))
    assert(a2 === alpha && m0.count() === 0L)
  }

  test("BPE decode inverts the encode: roundtrip_ok on every real document") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
    val out = TextAnalysis.textBpeDecodeOn(docs, 4)
    assert(out.filter(!$"roundtrip_ok").count() === 0L)
    assert(out.count() > 0L)
  }

  test("BPE decode normalizes multi-space runs (the one lossy case), flag stays true") {
    import spark.implicits._
    val docs = Seq((1L, "low  low"), (2L, " lower ")).toDF("doc_id", "text")
    val got = TextAnalysis.textBpeDecodeOn(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(got === Seq((1L, "low low", true), (2L, "lower", true)))
  }

  test("BPE encode: token count equals the token_seq length on real data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
    val bad = TextAnalysis.textBpeEncodeOn(docs, 4)
      .filter(size(split($"token_seq", " ")) =!= $"bpe_tokens")
    assert(bad.count() === 0L)
  }

  test("batched BPE fit at batch = 1 ≡ the sequential fit (the no-conflict differential)") {
    // a pool of one is trivially independent, so the batched path
    // reduces structurally to the sequential fit — one differential
    // covering pair counting, ranking, tie-breaks and the rewrite
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
    val seqFit = TextAnalysis.textBpeFitOn(docs, 6).collect().map(_.toSeq).toSeq
    val batched = TextAnalysis.textBpeFitBatchedOn(docs, iters = 6, batch = 1)
      .collect().map(_.toSeq).toSeq
    assert(batched === seqFit)
  }

  test("batched BPE fit: greedy keep drops kept-conflicts, recovers dropped-conflicts") {
    import spark.implicits._
    // word freqs: xy×3, yz×2, pq×1 → pool at B=4 ranked (count DESC,
    // lhs, rhs): (x,y):3, (y,</w>):3, (y,z):2, (z,</w>):2.
    // r1 (x,y) kept; r2 shares y with KEPT r1 → dropped; r3 shares y →
    // dropped; r4 (z,</w>) conflicts only with DROPPED candidates, so
    // the greedy rule KEEPS it (the rank-prefix form this replaced
    // dropped it too — one dropped candidate poisoned every later one).
    val docs = Seq((1L, "xy xy xy yz yz pq")).toDF("doc_id", "text")
    val got = TextAnalysis.textBpeFitBatchedOn(docs, iters = 1, batch = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got === Seq((1, "x", "y", 3L), (2, "z", "</w>", 2L)))
  }

  test("greedy keep rejects output-token cascades, both orientations, kept-only conflicts") {
    // the r16 ADVICE cascade: ('x','y') creates token 'xy'; a
    // later-ranked ('xy','z') shares no SYMBOL with it, but within one
    // batch the chained rewrite would fire it on tokens the earlier
    // merge just created — the output-token clause must drop it.
    // ('p','q') is fully disjoint and must survive.
    val pool = Seq(("x", "y", 9L), ("xy", "z", 5L), ("p", "q", 3L))
    assert(TextAnalysis.bpeGreedyKeep(pool) ===
      Seq(("x", "y", 9L), ("p", "q", 3L)))
    // symmetric orientation: later candidate's rhs equals the output
    assert(TextAnalysis.bpeGreedyKeep(Seq(("x", "y", 9L), ("z", "xy", 5L))) ===
      Seq(("x", "y", 9L)))
    // REVERSE orientation: the later candidate's OUTPUT equals a kept
    // candidate's symbol — order-freedom needs this side too
    assert(TextAnalysis.bpeGreedyKeep(Seq(("ab", "c", 9L), ("a", "b", 5L))) ===
      Seq(("ab", "c", 9L)))
    // plain symbol-sharing clause still active
    assert(TextAnalysis.bpeGreedyKeep(Seq(("a", "b", 9L), ("b", "c", 5L))) ===
      Seq(("a", "b", 9L)))
    // greedy vs rank-prefix: conflict with a DROPPED candidate does not
    // poison a later one
    assert(TextAnalysis.bpeGreedyKeep(
      Seq(("x", "y", 9L), ("y", "z", 5L), ("p", "z", 3L))) ===
      Seq(("x", "y", 9L), ("p", "z", 3L)))
  }

  test("batched BPE fit issues fewer Spark jobs than the sequential fit at equal merge budget") {
    // the batching's whole point is 1/B the driver round-trips — count
    // actual job submissions for an 8-merge budget (sequential: a
    // pair-count agg + a materialization per merge; batched at B=4:
    // per ITERATION). Strict inequality keeps the assertion robust to
    // AQE's per-query job-count variance.
    val sc = spark.sparkContext
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
    def jobsOf(f: => Unit): Int = {
      sc.addSparkListener(l)
      counter.set(0)
      try { f; org.apache.spark.graftshim.ListenerShim.drain(sc) }
      finally sc.removeSparkListener(l)
      counter.get
    }
    val seqJobs = jobsOf(TextAnalysis.textBpeFitOn(docs, 8).collect())
    val batchedJobs = jobsOf(
      TextAnalysis.textBpeFitBatchedOn(docs, iters = 2, batch = 4).collect())
    info(s"BPE fit jobs: sequential(8 merges) = $seqJobs, batched(2×4) = $batchedJobs")
    assert(batchedJobs < seqJobs,
      s"batched fit ($batchedJobs jobs) must undercut sequential ($seqJobs)")
  }

  test("fitted merges feed the greedy counter: countWith over vocabFromMerges diverges from the committed fixture") {
    import graft.functions.BpeImpl
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"))
    val vocab = BpeImpl.vocabFromMerges(merges)
    assert(vocab.contains("low") && vocab.contains("lo"))
    // fitted: "low" is one full-word piece; "lower" = low+e+r
    assert(BpeImpl.countWith("low lower", vocab) === 4L)
    // committed fixture has no {lo, low} pieces: l+o+w / l+o+w+er
    assert(BpeImpl.count(
      org.apache.spark.unsafe.types.UTF8String.fromString("low lower")) === 7L)
  }

  test("byte BPE: pretokenizer covers every char; concatenation is the text") {
    import spark.implicits._
    // the exact-roundtrip precondition: every character of any text
    // lands in exactly one pretoken (letters/digits/punct branches plus
    // the whitespace fallback), so joining the pretokens rebuilds the
    // text verbatim — including tabs, newlines and multi-space runs the
    // word tokenizer normalizes away
    val nasty = Seq(
      "The cat's  hat, 42 times!  über-naïve\ttab",
      "  leading and trailing  ",
      "a\n\nb\r\nc", "100,000.5%", "'' ''s x''ll", "", "no-break space",
      "emoji 😀 and CJK 漢字 mix")
    val docs = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = docs.select($"text",
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.regexp_extract_all($"text",
            org.apache.spark.sql.functions.lit(TextAnalysis.BytePretokenPattern),
            org.apache.spark.sql.functions.lit(0)), "").as("joined"))
      .collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0)))
  }

  test("byte BPE roundtrip is EXACT over bytes: unicode, tabs, space runs") {
    import spark.implicits._
    // the word-mode decode round-trips only the space-normalized text;
    // byte mode must round-trip VERBATIM — that is the reason the mode
    // exists (r17 VERDICT #3). Adversarial inputs: multi-byte UTF-8
    // (2/3/4-byte sequences), contractions, digit/punct runs, tabs,
    // newlines, double spaces, leading/trailing whitespace.
    val nasty = Seq(
      "The cat's  hat, 42 times!  über-naïve\ttab",
      "  leading and trailing  ",
      "a\n\nb\r\nc", "100,000.5%", "don't we'll they're i've",
      "emoji 😀 and CJK 漢字 mix")
    val docs = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.textBpeDecodeBytesOn(docs, 8).collect()
    assert(got.length === nasty.length)
    got.foreach { r =>
      assert(r.getBoolean(2), s"roundtrip broke: ${r.getString(1)}")
    }
    // and on the real corpus, where fitted merges actually fire
    val real = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
    val rr = TextAnalysis.textBpeDecodeBytesOn(real, 8).collect()
    assert(rr.nonEmpty && rr.forall(_.getBoolean(2)))
  }

  test("byte batched fit at batch = 1 ≡ the sequential byte fit") {
    // the same no-conflict differential that pins the word-mode batched
    // trainer, one alphabet down: the shared loop + byte w0 must reduce
    // structurally to the sequential byte fit at batch = 1
    val docs = graft.sources.Tables.documents(spark, SparkTestSession.sf0001)
    val seqFit = TextAnalysis.textBpeFitBytesOn(docs, 6).collect().map(_.toSeq).toSeq
    val batched = TextAnalysis.textBpeFitBatchedBytesOn(docs, iters = 6, batch = 1)
      .collect().map(_.toSeq).toSeq
    assert(batched === seqFit)
    assert(seqFit.nonEmpty)
  }

  test("byte BPE encode: merged symbols stay hex-pair-aligned; counts add up") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lows"), (2L, "low club")).toDF("doc_id", "text")
    val got = TextAnalysis.textBpeEncodeBytesOn(docs, 4).collect()
    got.foreach { r =>
      val syms = r.getString(2).split(" ")
      // every symbol is whole bytes (even-length lowercase hex) — the
      // alignment that makes strip-spaces + unhex decode unambiguous
      syms.foreach(s => assert(s.length % 2 === 0 && s.matches("[0-9a-f]+"), s))
      assert(r.getLong(1) === syms.length.toLong)
    }
    // merges fired: doc 1 has fewer tokens than its byte count
    val d1 = got.find(_.getLong(0) == 1L).get
    assert(d1.getLong(1) < "low low low lower lows".getBytes("UTF-8").length)
  }
}
