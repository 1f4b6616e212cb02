package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

/** Pins the scale-safe two-pass packBins to the readable window
  * formulation, and keeps the single-partition funnel out of its plan. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  test("pipeline summary equals the independent stage-by-stage composition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // recompute the composition from the three ALREADY-CHECKED stage
    // queries (dedup_kept, text_quality, chunk arithmetic) and require
    // the one-dataflow pipeline to agree exactly
    val docs = graft.sources.Tables.documents(spark, sf).select($"doc_id", $"lang")
    val kept = graft.operators.Dedup.dedupKept(spark, sf).select($"doc_id")
    val quality = graft.operators.TextAnalysis.textQuality(spark, sf)
      .select($"doc_id", $"n_tokens", $"quality")
    val expected = docs.join(kept, "doc_id").join(quality, "doc_id")
      .filter($"quality" >= Curation.QualityCut)
      .select($"lang", $"n_tokens",
        ceil($"n_tokens".cast("double") / Curation.ChunkStride).cast("long").as("n_chunks"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chunks").as("n_chunks"),
        sum($"n_tokens").as("n_tokens"))
      .orderBy($"lang")
      .collect().map(_.toSeq).toSeq
    val got = Curation.pipelineCurate(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("full pipeline redacts planted PII before dedup, quality and chunking") {
    import spark.implicits._
    // lang "xp": a multi-token phone number — redaction collapses
    // "555 123 4567" (3 tokens) to "<PHONE>" (1), so the summary's
    // n_tokens proves the chunk stage saw REDACTED text (22 → 20).
    // lang "xq": an email (1 token → 1 token) — counted in n_pii but
    // token-neutral. Both are stopword-dense, punctuation-free ⇒
    // quality 1.0, and mutually dissimilar ⇒ no near-dup drop.
    val phoneDoc = "the cat and the dog of the farm go to " +
      "the barn in it is it fine call 555 123 4567 now" // 22 tokens
    val mailDoc = "a bird or a fish and a frog of a pond to " +
      "sit in it is it ok write bob@ex.org soon"
    val docs = Seq(
      (1L, "xp", phoneDoc),
      (2L, "xq", mailDoc)).toDF("doc_id", "lang", "text")
    val got = Curation.pipelineCurateFullOn(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      ("xp", 1L, 1L, 20L, 1L), // 22 tokens − phone(3) + <PHONE>(1) = 20
      ("xq", 1L, 1L, 21L, 1L)),
      s"got ${got.toSeq}")
  }

  test("full pipeline ≡ redact-first stage-by-stage composition on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // independently recompute: redact every doc (the ALREADY-CHECKED
    // text_redact_pii transform), then run the plain pipeline stages
    // over the redacted text, and require the one-dataflow form to agree
    val docs = graft.sources.Tables.documents(spark, sf)
    val red = graft.operators.TextAnalysis.redactFrame(docs)
      .select($"doc_id", ($"n_emails" + $"n_ipv4" + $"n_phones").cast("long").as("n_pii"),
        $"redacted".as("text"))
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    val drop = graft.operators.Dedup.dedupNgramJaccardOnDocs(
        red.select($"doc_id", $"text"))
      .select($"doc_b".as("doc_id")).distinct()
    val kept = red.join(drop, Seq("doc_id"), "left_anti")
    val expected = kept
      .filter(graft.operators.TextAnalysis.qualityScore($"text") >= Curation.QualityCut)
      .select($"lang", $"n_pii", size(split($"text", " ")).cast("long").as("n_tokens"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil($"n_tokens".cast("double") / Curation.ChunkStride).cast("long")).as("n_chunks"),
        sum($"n_tokens").as("n_tokens"),
        sum($"n_pii").as("n_pii"))
      .orderBy($"lang")
      .collect().map(_.toSeq).toSeq
    val got = Curation.pipelineCurateFull(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("chunk dedup partitions all chunks (sum of group sizes = chunk count)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val chunks = Curation.textChunks(spark, sf)
    val groups = Curation.dedupChunks(spark, sf)
    assert(groups.agg(sum($"n_dups")).head.getLong(0) === chunks.count())
    // keep keys are real chunks, and lexicographic minima of their group
    val keys = groups.select($"keep_doc".as("doc_id"), $"keep_chunk".as("chunk_idx"))
    assert(keys.join(chunks, Seq("doc_id", "chunk_idx")).count() === groups.count())
  }

  test("chunk near-dup pairs a shared boilerplate chunk across distinct documents") {
    import spark.implicits._
    // two DISTINCT documents (document-level dedup sees nothing) that
    // share their first 60 tokens: chunk 0 (tokens 0..49) is identical
    // in both → J = 1.0 at sample granularity; chunk 1 (tokens 40..89)
    // shares only 18 of 78 shingles (J ≈ 0.23) and must NOT pair
    def toks(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val common = toks(0 until 60, "c")
    val docs = Seq(
      (1L, common + " " + toks(0 until 40, "a")),
      (2L, common + " " + toks(0 until 40, "b"))).toDF("doc_id", "text")
    val got = Curation.dedupChunksNgramOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    assert(got.toSeq === Seq((1L, 0, 2L, 0, 1.0)), s"got ${got.toSeq}")
  }

  test("samples pipeline emits each chunk once, redacted, from kept docs only") {
    import spark.implicits._
    // stopword-dense so both docs clear the quality gate; doc-level
    // J ≈ 0.42 (shared 60-token prefix, distinct tails) so BOTH survive
    // the near-dup drop; chunk 0 is identical across them AFTER
    // redaction (the planted email normalizes to <EMAIL>), so exactly
    // one copy — doc 1's — may appear among the samples, redacted.
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    def stops(n: Int, from: Int) = (0 until n).map(i => stop((from + i) % 10))
    val common = (stops(30, 0) ++ Seq("write", "bob@ex.org", "now") ++ stops(27, 3))
      .mkString(" ") // 60 tokens incl. one email
    val docs = Seq(
      (1L, common + " " + (0 until 40).map(i => s"a$i").mkString(" ")),
      (2L, common + " " + (0 until 40).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    val got = Curation.pipelineCurateSamplesOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // chunk 0 of doc 1 kept, chunk 0 of doc 2 deduplicated away
    val chunk0s = got.filter(_._2 == 0)
    assert(chunk0s.map(c => (c._1, c._2)).toSeq === Seq((1L, 0)), s"got ${got.toSeq}")
    assert(chunk0s.head._3.contains("<EMAIL>") && !chunk0s.head._3.contains("bob@ex.org"),
      s"sample must carry redacted text: ${chunk0s.head._3}")
    // both docs' distinct tail chunks survive (chunks 1 and 2 differ)
    assert(got.exists(c => c._1 == 2L && c._2 > 0), s"got ${got.toSeq}")
  }

  test("samples pipeline null discipline: a null-doc_id row is dropped, not passed through") {
    import spark.implicits._
    // ADVICE r21: a bare LEFT ANTI would KEEP a null-keyed row (null
    // matches nothing), but such a row is un-keyable downstream (dedup,
    // shard assignment, joins). Every samples variant drops it, by an
    // explicit filter or a semi-join. Each text clears the quality gate,
    // no two are near-duplicates and no two share a 10-token line (each
    // starts its stopword cycle elsewhere), so a null row that slipped
    // through would surface as null-doc_id samples, and docs 1 and 8
    // both survive. Doc 1 is in the prior snapshot slice and doc 8 in
    // the fresh one: the incremental and DSIR pipelines emit the fresh
    // slice only.
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    def stops(n: Int, from: Int) = (0 until n).map(i => stop((from + i) % 10))
    def text(tag: String, from: Int = 0) =
      (stops(60, from) ++ (0 until 40).map(i => s"$tag$i")).mkString(" ")
    val docs = Seq((Some(1L), "en", "s1", text("a")), (Some(8L), "en", "s2", text("b", 3)),
        (None, "en", "s3", text("c", 6)))
      .toDF("doc_id", "lang", "source", "text")
    val prior = docs.filter($"doc_id" === 1L).select($"doc_id", $"text")
    val fresh = docs.filter($"doc_id".isNull || $"doc_id" =!= 1L).select($"doc_id", $"text")
    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "samples" -> (() => Curation.pipelineCurateSamplesOn(docs)),
      "qm" -> (() => Curation.pipelineCurateSamplesQmOn(docs)),
      "dsir" -> (() => Curation.pipelineCurateSamplesDsirOn(docs)),
      "caps" -> (() => Curation.pipelineCurateSamplesCapsOn(docs)),
      "lines" -> (() => Curation.pipelineCurateSamplesLinesOn(docs)),
      "c4" -> (() => Curation.pipelineCurateSamplesC4On(docs)),
      "cc" -> (() => Curation.pipelineCurateSamplesCcOn(docs)),
      "ccq" -> (() => Curation.pipelineCurateSamplesCcqOn(docs)),
      "incremental" -> (() => Curation.pipelineCurateSamplesIncrementalOn(prior, fresh)))
    val got = variants.map { case (name, run) =>
      val rows = run().collect()
      assert(rows.forall(!_.isNullAt(0)), s"$name: null-doc_id rows must be dropped: ${rows.toSeq}")
      name -> rows.map(_.getLong(0)).toSet
    }.toMap
    val both = Set(1L, 8L)
    assert(got === Map("samples" -> both, "qm" -> both, "dsir" -> Set(8L), "caps" -> both,
      "lines" -> both, "c4" -> both, "cc" -> both, "ccq" -> both, "incremental" -> Set(8L)))
    // a null row carrying doc 1's exact text is not a duplicate that
    // costs doc 1 its samples
    val twin = Seq((Some(1L), text("a")), (None, text("a"))).toDF("doc_id", "text")
    val ids = Curation.pipelineCurateSamplesOn(twin).collect()
    assert(ids.forall(!_.isNullAt(0)), s"null-doc_id rows must be dropped: ${ids.toSeq}")
    assert(ids.map(_.getLong(0)).distinct.toSeq === Seq(1L), s"got ${ids.toSeq}")
  }

  test("cluster keep retains one representative per excerpt chain; pair-drop keeps the excerpt") {
    import spark.implicits._
    // an excerpt CHAIN: 1 = source (300 tokens), 2 = contiguous excerpt
    // of 1 (tokens 50..119 — containment 1.0, J ≈ 0.23: containment
    // edge ONLY), 3 = near-identical re-crawl of 2 (one token dropped —
    // jaccard edge), 9 = unrelated singleton. {1,2,3} is ONE dedup
    // group reachable only through BOTH edge types; every doc is
    // stopword-interleaved so all four clear the quality gate.
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val srcToks = (0 until 300).map(i => if (i % 2 == 0) stop((i / 2) % 10) else s"w$i")
    val docs = Seq(
      (1L, srcToks.mkString(" ")),
      (2L, srcToks.slice(50, 120).mkString(" ")),
      (3L, srcToks.slice(50, 119).mkString(" ")),
      (9L, (0 until 60).map(i => if (i % 2 == 0) stop((i / 2) % 10) else s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cc = Curation.pipelineCurateSamplesCcOn(docs).collect()
      .map(_.getLong(0)).toSet
    assert(cc === Set(1L, 9L),
      s"component keep must retain exactly the chain representative (1) + the singleton, got $cc")
    // the pair-based drop misses the containment-only excerpt entirely:
    // doc 2 survives alongside its source — the silent keep-both
    // failure the cluster variant closes
    val pairBased = Curation.pipelineCurateSamplesOn(docs).collect()
      .map(_.getLong(0)).toSet
    assert(pairBased === Set(1L, 2L, 9L),
      s"expected the pair-drop to keep the excerpt (the documented over-keep), got $pairBased")
  }

  test("chunk containment finds a chunk-level excerpt that chunk jaccard misses") {
    import spark.implicits._
    // doc 1 = one full 50-token chunk (+ its 10-token stride tail);
    // doc 2 = the first 20 tokens of doc 1 (one short chunk). Chunk
    // (2,0)'s 18 shingles are all inside chunk (1,0)'s 48 →
    // containment 1.0, but J = 18/48 = 0.375 < 0.8: the sample-
    // granularity excerpt only the containment search sees. The
    // 10-token overlap tails (1,1)/(9,1) are themselves fully
    // contained in their documents' first chunks — true containment
    // pairs at J ≈ 0.17 that equally escape Jaccard.
    val toks = (0 until 50).map(i => s"t$i")
    val docs = Seq(
      (1L, toks.mkString(" ")),
      (2L, toks.take(20).mkString(" ")),
      (9L, (0 until 50).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cont = Curation.dedupChunksContainmentOn(docs).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getInt(3)), r.getDouble(4)))
    assert(cont.map(c => (c._1, c._2)).toSeq ===
      Seq(((1L, 0), (1L, 1)), ((1L, 0), (2L, 0)), ((9L, 0), (9L, 1))),
      s"expected the excerpt pair + the two stride-tail pairs, got ${cont.toSeq}")
    assert(cont.forall(_._3 === 1.0))
    val jacc = Curation.dedupChunksNgramOn(docs).collect()
    assert(jacc.isEmpty,
      s"chunk jaccard must structurally miss all three containment pairs, got ${jacc.toSeq}")
  }

  test("quality-aware cluster keep retains the best-quality member, not the first-crawled") {
    import spark.implicits._
    // chain: 5 = source (300 tokens), 2 = contiguous excerpt of 5
    // (containment edge only), 8 = re-crawl of 2 with ONE content token
    // swapped for a stopword — a jaccard edge (J ≈ 0.94) AND the
    // highest quality score in the component (stop ratio 36/70 →
    // q = 1.0143 vs 1.0 for both 2 and 5). Keep-min picks 2 (lowest
    // id = first crawled); keep-best must pick 8.
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val srcToks = (0 until 300).map(i => if (i % 2 == 0) stop((i / 2) % 10) else s"w$i")
    val ex = srcToks.slice(50, 120)
    val better = ex.updated(1, "the") // ex(1) = "w51", a content token
    val docs = Seq(
      (5L, srcToks.mkString(" ")),
      (2L, ex.mkString(" ")),
      (8L, better.mkString(" ")),
      (9L, (0 until 60).map(i => if (i % 2 == 0) stop((i / 2) % 10) else s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ccq = Curation.pipelineCurateSamplesCcqOn(docs).collect()
      .map(_.getLong(0)).toSet
    assert(ccq === Set(8L, 9L),
      s"quality keep must retain the best-quality member (8) + the singleton, got $ccq")
    // the min-id keep on the same component keeps 2 — the first-crawled
    // duplicate, which is exactly the bias the ccq variant removes
    val cc = Curation.pipelineCurateSamplesCcOn(docs).collect()
      .map(_.getLong(0)).toSet
    assert(cc === Set(2L, 9L),
      s"expected the min-id keep to retain the first-crawled member, got $cc")
  }

  test("incremental samples pipeline: five drop mechanisms, each on a planted doc") {
    import spark.implicits._
    // prior snapshot: X (carries an email — the prior artifacts must be
    // keyed on REDACTED text), Y, and Q (50 tokens = chunks [0..49] and
    // [40..49]). fresh delta exercises every stage:
    //   11: X with a DIFFERENT email — identical only after redaction →
    //       dropped by the prior DOC-HASH index (stage 1; proves the
    //       index is redacted-text-keyed);
    //   12: X with one content token swapped (J = 37/39 ≈ 0.95) →
    //       dropped by the prior BAND-INDEX probe (stage 2, cross);
    //   13: Z, novel → emitted;
    //   14: Z again → dropped by delta-internal keep-first (stage 1);
    //   15: Z with one token swapped → dropped as doc_b of the
    //       delta-INTERNAL near-dup pair (13, 15) (stage 2);
    //   16: 40 unique tokens, no stopwords → q = 0.5 < 0.55 (stage 3);
    //   17: Q ++ 30 new tokens — doc-level J vs Q = 48/78 ≈ 0.62 (no
    //       near-dup drop), but its chunk 0 ≡ Q's chunk 0 → suppressed
    //       by the prior CHUNK-HASH index; chunk 1 (tokens 40..79) is
    //       novel → emitted (stage 5).
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    def mix(n: Int, p: String) =
      (0 until n).map(i => if (i % 2 == 0) stop((i / 2) % 10) else s"$p$i")
    val x = mix(40, "x").updated(21, "bob@ex.org")
    val z = mix(40, "z")
    val q = mix(50, "q")
    val f17 = q ++ mix(30, "r")
    val prior = Seq(
      (1L, x.mkString(" ")),
      (2L, mix(40, "y").mkString(" ")),
      (3L, q.mkString(" "))).toDF("doc_id", "text")
    val fresh = Seq(
      (11L, x.updated(21, "eve@ex.net").mkString(" ")),
      (12L, x.updated(39, "xx").mkString(" ")),
      (13L, z.mkString(" ")),
      (14L, z.mkString(" ")),
      (15L, z.updated(39, "zz").mkString(" ")),
      (16L, (0 until 40).map(i => s"v$i").mkString(" ")),
      (17L, f17.mkString(" "))).toDF("doc_id", "text")
    val got = Curation.pipelineCurateSamplesIncrementalOn(prior, fresh).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (13L, 0, z.mkString(" "), 40L),
      (17L, 1, f17.slice(40, 80).mkString(" "), 40L)),
      s"got ${got.toSeq}")
  }

  test("incremental pipeline runs against WRITTEN prior artifacts unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the production deployment: the three prior-snapshot indexes are
    // parquet artifacts on storage, not inline subplans — write them,
    // read them back, and require the pipeline output identical to the
    // self-contained form on the real corpus slices
    val sfd = SparkTestSession.sf0001
    val docs = graft.sources.Tables.documents(spark, sfd)
    val prior = docs.filter(pmod($"doc_id", lit(graft.operators.Dedup.SnapshotMod))
      < graft.operators.Dedup.SnapshotNewMin)
    val fresh = docs.filter(pmod($"doc_id", lit(graft.operators.Dedup.SnapshotMod))
      >= graft.operators.Dedup.SnapshotNewMin)
    val redP = prior.select($"doc_id",
      graft.operators.TextAnalysis.redactedCol($"text").as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_art_").toString
    redP.select(md5($"text").as("h")).distinct()
      .write.mode("overwrite").parquet(s"$dir/hashes")
    graft.operators.Dedup.minhashHashed(redP)
      .write.mode("overwrite").parquet(s"$dir/sets")
    Curation.chunksOf(redP).select(md5($"chunk_text").as("ch")).distinct()
      .write.mode("overwrite").parquet(s"$dir/chunks")
    val fromArtifacts = Curation.pipelineCurateSamplesIncrementalFromArtifacts(
        spark.read.parquet(s"$dir/hashes"),
        spark.read.parquet(s"$dir/sets"),
        spark.read.parquet(s"$dir/chunks"),
        fresh)
      .collect().map(_.toSeq).toSeq
    val inline = Curation.pipelineCurateSamplesIncrementalOn(prior, fresh)
      .collect().map(_.toSeq).toSeq
    assert(fromArtifacts === inline)
    assert(fromArtifacts.nonEmpty)
  }

  test("packBins ≡ the global-window formulation (differential)") {
    val fast = Curation.packBins(spark, sf).collect().map(_.toSeq)
    val ref = Curation.packBinsWindowed(spark, sf).collect().map(_.toSeq)
    assert(fast.toSeq == ref.toSeq)
  }

  test("packBins plan has no Window and no single-partition exchange") {
    val p = Curation.packBins(spark, sf).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("SinglePartition"), p.take(800))
  }

  test("packBins bins respect the token budget invariants") {
    val rows = Curation.packBins(spark, sf).collect()
    val bins = rows.map(_.getLong(0))
    assert(bins.toSeq == bins.sorted.toSeq && bins.distinct.length == bins.length)
    // every bin's exclusive prefix starts inside the bin => bins contiguous
    assert(bins.zipWithIndex.forall { case (b, i) => b == bins(0) + i })
  }

  test("fused 13-gram hashes ≡ the string composition; width 3 ≡ the shingle family") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val g = Curation.DecontamGram
    val edges = Seq("", "a", ("a " * (g - 1)).trim, ("a " * g).trim,
      (1 to 30).map("t" + _).mkString(" "),
      "x  y " + (1 to 20).map("w" + _).mkString(" ")).toDF("text")
    val real = graft.sources.Tables.documents(spark, sf).select($"text")
    for (df <- Seq(edges, real)) {
      val toks = split($"text", " ")
      val shArr = transform(sequence(lit(0), size(toks) - g),
        i => concat_ws(" ", (0 until g).map(k => element_at(toks, i + k + 1)): _*))
      val strings = when(size(toks) >= g, array_distinct(shArr))
        .otherwise(array().cast("array<string>"))
      val a = df.select(graft.functions.NGramXxh64($"text", g))
        .collect().map(_.getSeq[Long](0))
      val b = df.select(array_sort(transform(strings, s => xxhash64(s))))
        .collect().map(_.getSeq[Long](0))
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x === y, s"13-gram row $i") }
      // width 3 must be bit-identical to the 3-gram family it generalizes
      val c = df.select(graft.functions.NGramXxh64($"text", 3))
        .collect().map(_.getSeq[Long](0))
      val d = df.select(graft.functions.ShingleXxh64($"text"))
        .collect().map(_.getSeq[Long](0))
      c.zip(d).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x === y, s"width-3 row $i") }
    }
  }

  test("mixture sampling: low-resource language kept whole, gate matches the driver-side recompute") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // high-resource 'aa': 80 docs × 50 tokens = 4000; low-resource 'bb':
    // 6 docs × 10 tokens = 60. Budget = 2030; sqrt smoothing gives bb
    // ≈222 budgeted tokens > 60 ⇒ keep_p capped at 1 — every bb doc
    // kept (the whole point of temperature sampling), aa hash-gated.
    val docs = ((1 to 80).map(i =>
        (i.toLong, "aa", (1 to 50).map(k => s"a${i}x$k").mkString(" "))) ++
      (81 to 86).map(i =>
        (i.toLong, "bb", (1 to 10).map(k => s"b${i}x$k").mkString(" "))))
      .toDF("doc_id", "lang", "text")
    val out = Curation.mixSampleOn(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // independent reimplementation of the published formula, same IEEE
    // op order as the operator (and the oracle SQL)
    val q = Curation.MixQuantum.toDouble
    val wqA = math.floor(math.sqrt(4000.0) * q).toLong
    val wqB = math.floor(math.sqrt(60.0) * q).toLong
    val b = (4000L + 60L) / 2
    def keepP(wq: Long, t: Long): Double =
      math.min(1.0, b.toDouble * wq.toDouble / (wqA + wqB).toDouble / t.toDouble)
    def kept(id: Long, p: Double): Boolean =
      (graft.functions.Md5Lower64Impl.md5Lower64(
        UTF8String.fromString(id.toString)) & Curation.HashMask53)
        .toDouble / 9007199254740992.0 < p
    val pA = keepP(wqA, 4000L)
    val keptA = (1 to 80).count(i => kept(i.toLong, pA))
    assert(out("bb") === ((6L, 60L, Curation.MixQuantum)),
      s"low-resource language must be kept whole at keep_p = 1, got ${out.get("bb")}")
    assert(out("aa") === ((keptA.toLong, keptA * 50L,
      math.floor(pA * q).toLong)),
      s"hash gate must match the driver-side recompute, got ${out.get("aa")}")
    assert(keptA > 0 && keptA < 80, s"gate should be partial on aa, got $keptA")
  }

  test("source mixture: over-represented source down-sampled, tail source kept whole") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // same policy as the language mixture, keyed by source: the heavy
    // crawl domain is hash-gated toward its sqrt-scaled share, the tail
    // domain's keep_p caps at 1 — the rebalance next to the hard cap
    val docs = ((1 to 80).map(i =>
        (i.toLong, "crawl-big", (1 to 50).map(k => s"a${i}x$k").mkString(" "))) ++
      (81 to 86).map(i =>
        (i.toLong, "forum-tail", (1 to 10).map(k => s"b${i}x$k").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = Curation.mixSampleSourceOn(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val q = Curation.MixQuantum.toDouble
    val wqA = math.floor(math.sqrt(4000.0) * q).toLong
    val wqB = math.floor(math.sqrt(60.0) * q).toLong
    val b = (4000L + 60L) / 2
    val pA = math.min(1.0,
      b.toDouble * wqA.toDouble / (wqA + wqB).toDouble / 4000.0)
    val keptA = (1 to 80).count(i =>
      (graft.functions.Md5Lower64Impl.md5Lower64(
        UTF8String.fromString(i.toString)) & Curation.HashMask53)
        .toDouble / 9007199254740992.0 < pA)
    assert(out("forum-tail") === ((6L, 60L, Curation.MixQuantum)),
      s"tail source must be kept whole at keep_p = 1, got ${out.get("forum-tail")}")
    assert(out("crawl-big") === ((keptA.toLong, keptA * 50L,
      math.floor(pA * q).toLong)),
      s"hash gate must match the driver-side recompute, got ${out.get("crawl-big")}")
    assert(keptA > 0 && keptA < 80, s"gate should be partial, got $keptA")
  }

  test("decontamination flags the planted 13-gram overlap with exact counts") {
    import spark.implicits._
    // eval doc: tokens e0..e29. Train doc 3 embeds e5..e19 (15 eval
    // tokens) between x-padding: 18 tokens → 6 distinct 13-windows, of
    // which exactly the 3 fully inside the embedded span (e5..e17,
    // e6..e18, e7..e19) also occur in the eval doc. Doc 4 is disjoint;
    // doc 8 reuses eval tokens but is SHORTER than the window (12
    // tokens) — sub-window overlap must never flag.
    val evalToks = (0 until 30).map(i => s"e$i")
    val train = Seq(
      (3L, "x1 x2 " + evalToks.slice(5, 20).mkString(" ") + " x3"),
      (4L, (0 until 40).map(i => s"y$i").mkString(" ")),
      (8L, evalToks.take(12).mkString(" ")))
      .toDF("doc_id", "text")
    val ev = Seq((7L, evalToks.mkString(" "))).toDF("doc_id", "text")
    val out = Curation.decontaminateOn(train, ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((3L, 6L, 3L)),
      s"expected only doc 3 flagged with (n_grams 6, n_hit 3), got ${out.toSeq}")
  }

  test("decontamination STRIP removes exactly the eval-shared span, keeps the rest") {
    import spark.implicits._
    // same planted geometry as the flagging test: doc 3's shared gram
    // offsets are 2,3,4 (the three 13-windows fully inside the
    // embedded eval run e5..e19), merging to ONE maximal span
    // (start 2, len 3+12 = 15) = exactly the embedded eval tokens —
    // surgery must remove those 15 and keep the x-padding; the
    // disjoint doc and the sub-window doc pass through whole
    val evalToks = (0 until 30).map(i => s"e$i")
    val d4text = (0 until 40).map(i => s"y$i").mkString(" ")
    val d8text = evalToks.take(12).mkString(" ")
    val train = Seq(
      (3L, "x1 x2 " + evalToks.slice(5, 20).mkString(" ") + " x3"),
      (4L, d4text),
      (8L, d8text))
      .toDF("doc_id", "text")
    val ev = Seq((7L, evalToks.mkString(" "))).toDF("doc_id", "text")
    val got = Curation.decontamStripOn(train, ev).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (3L, "x1 x2 x3", 3L, 15L),
      (4L, d4text, 40L, 0L),
      (8L, d8text, 12L, 0L)))
  }

  test("novelty: copied doc scores 0, novel doc scores 1, partial overlap exact") {
    import spark.implicits._
    val W = Curation.DecontamGram
    val priorRun = (0 until 20).map(i => s"p$i").mkString(" ")
    val prior = Seq((1L, priorRun)).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, priorRun),                                      // verbatim copy: 0.0
      (11L, (100 until 120).map(i => s"n$i").mkString(" ")), // fully novel: 1.0
      // first W tokens = the prior run's first window (1 seen gram),
      // then novel tail — exactly 1 of its grams is seen
      (12L, (0 until W).map(i => s"p$i").mkString(" ") + " " +
        (200 until 210).map(i => s"m$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.noveltyOn(prior, fresh).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L)._3 === 0.0)
    assert(got(11L)._3 === 1.0)
    val (n12, nov12, _) = got(12L)
    assert(nov12 === n12 - 1, s"exactly one seen gram expected: ${got(12L)}")
  }

  test("DSIR: target-domain text outweighs background text; counts exact") {
    import spark.implicits._
    // target vocabulary {alpha,beta}; raw doc 1 is pure target-domain
    // language, raw doc 2 pure background — the importance weight must
    // rank 1 above 2. n_feats = 2n−1 (n unigrams + n−1 bigrams).
    val target = Seq((0L, "alpha beta alpha beta"), (1L, "beta alpha beta"))
      .toDF("doc_id", "text")
    val raw = Seq((10L, "alpha beta alpha"), (11L, "zeta yota koppa"))
      .toDF("doc_id", "text")
    val got = Curation.dsirWeightsOn(target, raw).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(10L, 11L))
    assert(got(10L)._1 === 5L) // 3 unigrams + 2 bigrams
    assert(got(11L)._1 === 5L)
    assert(got(10L)._2 > got(11L)._2,
      s"target-domain doc must outweigh background doc: $got")
    // background doc's every feature is unseen in target → its weight
    // is Σ k·(qp0 − qq_b) with qp0 the smoothing floor — strictly
    // negative here (raw model probabilities far exceed the floor)
    assert(got(11L)._2 < 0L)
  }

  test("DSIR select keeps exactly ceil(N/3) best-weighted docs") {
    import spark.implicits._
    val w = Curation.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val n = w.length
    val keep = (n + Curation.DsirKeepDen - 1) / Curation.DsirKeepDen
    val expected = w.sortBy { case (id, wt) => (-wt, id) }.take(keep.toInt)
      .map(_._1).toSet
    val got = Curation.dsirSelect(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got.size === keep.toInt)
    assert(got === expected)
  }

  test("source caps: over-represented source capped to N, small source kept whole; bucket decomposition ≡ rank window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // planted over-representation: "big" contributes 100 docs, "small" 5
    val docs = ((0L until 100L).map(i => (i, "big", s"doc $i words " + ("w " * 20).trim)) ++
      (100L until 105L).map(i => (i, "small", s"doc $i words " + ("w " * 20).trim)))
      .toDF("doc_id", "source", "text")
    val got = Curation.capBySource(docs, lit(1L), Curation.SourceCapN)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.count(_._2 == "big") === Curation.SourceCapN)
    assert(got.count(_._2 == "small") === 5) // under the cap: kept whole
    // differential: the naive rank-window formulation over the same hash
    val hb = graft.functions.Md5Lower64($"doc_id".cast("string"))
      .bitwiseAND(lit(Curation.HashMask53))
    val expected = docs.select($"doc_id", $"source", hb.as("hbits"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"hbits", $"doc_id")))
      .filter($"rn" <= Curation.SourceCapN)
      .select($"doc_id", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)
  }

  test("source token caps: greedy hash-order fill ≡ running-sum window; budget binds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 60 docs × ~40 tokens in one source: exclusive running sum must
    // gate well inside the corpus (budget 800 ⇒ ~20 kept)
    val docs = (0L until 60L)
      .map(i => (i, "s0", (0 until 40).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = Curation.capBySource(docs, size(split($"text", " ")),
      Curation.SourceCapTokens)
      .collect().map(_.getLong(0)).toSet
    val hb = graft.functions.Md5Lower64($"doc_id".cast("string"))
      .bitwiseAND(lit(Curation.HashMask53))
    val expected = docs
      .select($"doc_id", $"source", hb.as("hbits"),
        size(split($"text", " ")).cast("long").as("w"))
      .withColumn("cw", coalesce(sum($"w").over(
        Window.partitionBy($"source").orderBy($"hbits", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"cw" < Curation.SourceCapTokens)
      .collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.size < 30 && got.size > 10) // binds, and not degenerately
  }

  test("line dedup: planted shared boilerplate lines collapse to their first occurrence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared header line\nunique first body\nshared footer line"),
      (2L, "shared header line\nunique second body\nshared footer line"),
      (3L, "only original content here")).toDF("doc_id", "text")
    val lines = Curation.lineRows(docs, Curation.linesOfText($"text"))
    val got = Curation.dedupLinesOn(lines).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got(0) === ((1L,
      "shared header line\nunique first body\nshared footer line", 3L, 0L)))
    // doc 2 keeps only its unique line — header and footer lost to doc 1
    assert(got(1) === ((2L, "unique second body", 1L, 2L)))
    assert(got(2) === ((3L, "only original content here", 1L, 0L)))
  }

  test("lines-composed pipeline: C4 line filter + corpus-wide line dedup precede the samples stages") {
    import spark.implicits._
    // one stopword-dense 10-token boilerplate line shared by both docs
    // (reflow-aligned: it is line 0 of each), one brace line in doc 2
    // (the C4 filter must drop it BEFORE dedup), distinct content after.
    // Expected: doc 1 keeps the boilerplate (lexicographic-min owner),
    // doc 2's rebuild loses it to dedup and the brace line to the
    // filter — its only chunk is exactly its own content.
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val bp = stop.mkString(" ")
    def content(p: String, s: String) =
      (0 until 30).map(i => if (i % 10 == 9) s else s"$p$i").mkString(" ")
    val c1 = content("a", "the")
    val c2 = content("b", "of")
    val brace = "code { x } y z w v u t"
    val docs = Seq(
      (1L, bp + " " + c1),
      (2L, bp + " " + brace + " " + c2)).toDF("doc_id", "text")
    val got = Curation.pipelineCurateSamplesLinesOn(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.map(g => (g._1, g._2)).toSeq === Seq((1L, 0), (2L, 0)), s"got ${got.toSeq}")
    assert(got(0)._3 === bp + " " + c1)
    assert(got(1)._3 === c2, s"doc 2 rebuilt to: ${got(1)._3}")
  }

  test("line filter: C4 predicates drop short/lorem/brace/javascript lines; punct variant needs terminal punctuation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L,
      "a good and long enough line\n" +
        "too short\n" +
        "this line has lorem ipsum inside it\n" +
        "object with { brace inside\n" +
        "enable javascript to view this page\n" +
        "another perfectly fine content line")).toDF("doc_id", "text")
    val got = Curation.lineFilterOn(docs, Curation.linesOfText($"text")).collect()(0)
    assert(got.getString(1) ===
      "a good and long enough line\nanother perfectly fine content line")
    assert(got.getLong(2) === 2L && got.getLong(3) === 4L)
    // the punct variant keeps only sentence-final lines
    val kp = docs.select(filter(Curation.linesOfText($"text"),
      l => Curation.lineKeepPunct(l)).as("k")).collect()(0).getSeq[String](0)
    assert(kp.isEmpty) // none of the planted lines ends in punctuation
    val kp2 = Seq((1L, "a proper sentence ends here.\nbut this one does not"))
      .toDF("doc_id", "text")
      .select(filter(Curation.linesOfText($"text"),
        l => Curation.lineKeepPunct(l)).as("k")).collect()(0).getSeq[String](0)
    assert(kp2 === Seq("a proper sentence ends here."))
  }

  test("strip repetition: planted repeated boilerplate loses every non-first occurrence; clean doc passes whole") {
    import spark.implicits._
    val boiler = "click here to subscribe today"
    val docs = Seq(
      (1L, s"$boiler some unique middle content words $boiler"),
      (2L, "all of these words appear exactly once")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.curStripRepetitionOn(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // 15 tokens; the second "click here to subscribe today" (5 tokens)
    // repeats trigrams "click here to".."to subscribe today" → its
    // whole 5-token span is the union of flagged trigram spans
    assert(got(0) === ((1L,
      s"$boiler some unique middle content words", 10L, 5L)))
    assert(got(1) === ((2L, "all of these words appear exactly once", 7L, 0L)))
  }

  test("mix epochs: low-resource lang repeats to the 4-epoch cap with a deficit; high-resource runs once whole") {
    import spark.implicits._
    // two langs with EXACT square token counts (sqrt exact ⇒ the whole
    // schedule is hand-checkable integers): wq ratio 10:1, full budget
    // tt = 10100 ⇒ targets floor(10100·10/11) = 9181 and
    // floor(10100·1/11) = 918. Lang a fits in one epoch (9181 ≤ 10000,
    // deficit 0); lang b needs ⌈918/100⌉ = 10 epochs → capped at 4,
    // uses 400, deficit 518 — the data-constrained shortfall.
    val docs = Seq(
      (1L, Seq.fill(10000)("w").mkString(" "), "a"),
      (2L, Seq.fill(100)("w").mkString(" "), "b")).toDF("doc_id", "text", "lang")
    val got = Curation.mixEpochsOn(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got === Seq(
      ("a", 10000L, 9181L, 1L, 9181L, 0L),
      ("b", 100L, 918L, 4L, 400L, 518L)))
  }

  test("badwords filter: page-scoped drop list counts exact tokens only — substrings don't match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "a dup in the middle and dup again"), // 2 exact hits
      (3L, "dups duplicate induped"), // substrings only — NOT matches
      (4L, "obscenity")).toDF("doc_id", "text")
    val got = Curation.badwordsFilterOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Seq((2L, 2L), (4L, 1L)))
  }

  test("semantic decontam: exact cosines against the eval side, most-contaminated first") {
    import spark.implicits._
    val train = Seq(
      (10L, Array(3f, 4f)), // cos vs [3,4] = 1.0, vs [0,1] = 0.8
      (11L, Array(1f, 0f)), // cos vs [3,4] = 0.6, vs [0,1] = 0.0
      (12L, Array(0f, 2f))  // cos vs [3,4] = 0.8, vs [0,1] = 1.0
    ).toDF("vec_id", "embedding")
    val eval = Seq((90L, Array(3f, 4f)), (91L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Curation.decontamSemanticOn(train, eval).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // ties at cos 1.0 and 0.8 break by (train_id, eval_id) ascending
    assert(got === Seq(
      (10L, 90L, 1.0), (12L, 91L, 1.0),
      (10L, 91L, 0.8), (12L, 90L, 0.8),
      (11L, 90L, 0.6), (11L, 91L, 0.0)))
  }

  test("C4 pipeline: a blocklisted page contributes zero samples; identical corpus otherwise") {
    import spark.implicits._
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    // stopword prefix keeps each page past the quality gate (ratio
    // term: 6 stopwords / ~60 tokens → score ≈ 0.6 ≥ QualityCut)
    val sw = "the and of in is it "
    val docs = Seq(
      (1L, sw + toks("a", 54)),                   // clean long doc → samples
      (2L, sw + "one dup word " + toks("b", 51)), // blocklisted page
      (3L, sw + toks("c", 54))).toDF("doc_id", "text")
    val c4 = Curation.pipelineCurateSamplesC4On(docs).collect()
    val lines = Curation.pipelineCurateSamplesLinesOn(docs).collect()
    assert(c4.nonEmpty)
    assert(!c4.exists(_.getLong(0) == 2L), "blocklisted page leaked samples")
    assert(lines.exists(_.getLong(0) == 2L), "control: page survives without the blocklist gate")
    // the gate touches ONLY the blocklisted page — other docs' samples equal
    assert(c4.map(_.toSeq).toSeq === lines.filter(_.getLong(0) != 2L).map(_.toSeq).toSeq)
  }

  test("concurrently: surfaces the ROOT-CAUSE failure, not the sibling's induced cancellation") {
    // side b fails fast; side a is a slow Spark job the failure callback
    // cancels. The old zip-based await surfaced side a's cancellation
    // SparkException (masking b's root cause — ADVICE r14); the
    // first-failure record must surface b's exception itself.
    final class Boom extends RuntimeException("root cause")
    val thrown = intercept[Throwable] {
      Curation.concurrently(
        { // a genuinely in-flight job so cancellation has something to hit
          spark.range(1L << 33).selectExpr("sum(id * id)").collect(); 1 },
        { Thread.sleep(50); throw new Boom })
    }
    assert(thrown.isInstanceOf[Boom], s"surfaced ${thrown.getClass} instead of root cause")
    // both-succeed path still returns the pair
    assert(Curation.concurrently(1 + 1, "x" * 2) === ((2, "xx")))
  }

  test("dsirSelectFrom(materialize = false) rejects a non-deterministic input plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val det = Seq((1L, 5L), (2L, 3L), (3L, 1L)).toDF("doc_id", "weight")
    // deterministic plan: accepted, keeps ceil(n/den) top-weight rows
    val kept = Curation.dsirSelectFrom(det, materialize = false).collect()
    assert(kept.nonEmpty && kept.length < 3)
    val nondet = det.withColumn("weight", ($"weight" + rand(7)).cast("long"))
    val e = intercept[IllegalArgumentException] {
      Curation.dsirSelectFrom(nondet, materialize = false).collect()
    }
    assert(e.getMessage.contains("deterministic"))
    // the SAME frame is accepted through the materialize = true path
    assert(Curation.dsirSelectFrom(nondet).collect().nonEmpty)
    // ADVICE r15: Sample and round-robin Repartition don't carry
    // self-reporting non-deterministic expressions but still violate the
    // two-jobs-see-identical-partitions precondition under task retry
    val sampled = det.sample(0.9, seed = 7)
    val e2 = intercept[IllegalArgumentException] {
      Curation.dsirSelectFrom(sampled, materialize = false).collect()
    }
    assert(e2.getMessage.contains("sample"))
    val rr = det.repartition(4)
    val e3 = intercept[IllegalArgumentException] {
      Curation.dsirSelectFrom(rr, materialize = false).collect()
    }
    assert(e3.getMessage.contains("round-robin"))
    // hash repartition (expression-keyed) stays accepted: placement is a
    // pure function of the row, retry-stable
    assert(Curation.dsirSelectFrom(det.repartition(4, $"doc_id"),
      materialize = false).collect().nonEmpty)
    // coalesce (no shuffle) stays accepted
    assert(Curation.dsirSelectFrom(det.coalesce(1),
      materialize = false).collect().nonEmpty)
  }

  test("ANN-routed semantic decontam: full probe ≡ brute; reduced-probe recall") {
    import graft.operators.Similarity
    // full probe makes the candidate set exactly all (train × eval)
    // pairs, so the routed query must reproduce the brute top-20
    // bit-for-bit — the simAnnIvf full-probe ≡ brute pattern
    val brute = Curation.decontamSemantic(spark, sf).collect().map(_.toSeq).toSeq
    val full = Curation.decontamSemanticAnnOn(spark, sf, Similarity.NumCentroids)
      .collect().map(_.toSeq).toSeq
    assert(full === brute)
    // reduced probe: pair-level recall of the shipped default vs brute
    def pairs(rows: Seq[Seq[Any]]): Set[(Long, Long)] =
      rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    val reduced = Curation.decontamSemanticAnnOn(spark, sf, Similarity.NProbe)
      .collect().map(_.toSeq).toSeq
    val recall = (pairs(brute) & pairs(reduced)).size.toDouble / brute.size
    info(s"decontam ANN recall@20 at nprobe=${Similarity.NProbe}: $recall")
    // isotropic-corpus expectation ≈ nprobe/ncells (no cluster
    // structure to exploit — the IVF-family caveat); floor well under
    // the 10/16 expectation to absorb seed drift
    assert(recall >= 0.4, s"decontam ANN recall@20 = $recall below floor")
  }

  test("training-shard writer: round-trip ≡ samples ∪ assignment, budget respected") {
    import spark.implicits._
    val samples = Curation.pipelineCurateSamplesOn(
      graft.sources.Tables.documents(spark, sf))
    val budget = 500L // small budget → several shards at sf0.001
    val assigned = Curation.shardAssignOn(samples, budget)
      .collect().map(_.toSeq).toSeq
    assert(assigned.nonEmpty)
    // shards are contiguous 0..K and sizes bounded by budget + one sample
    val byShard = assigned.groupBy(_.apply(4).asInstanceOf[Long])
    val shards = byShard.keys.toSeq.sorted
    assert(shards === (0L until shards.size.toLong))
    val maxSample = assigned.map(_.apply(3).asInstanceOf[Long]).max
    byShard.foreach { case (sid, rows) =>
      val tot = rows.map(_.apply(3).asInstanceOf[Long]).sum
      assert(tot <= budget + maxSample, s"shard $sid over budget: $tot")
    }
    assert(shards.size > 1, "budget must actually split the corpus")
    // the write round-trip: partitioned files read back ≡ the assignment
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      val n = Curation.writeShards(samples, dir, budget)
      assert(n === shards.size.toLong)
      val back = spark.read.parquet(dir)
        .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens", $"shard".cast("long"))
        .orderBy($"doc_id", $"chunk_idx")
        .collect().map(_.toSeq).toSeq
      assert(back === assigned)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("decontamSemanticPairs rejects a corpus-sized eval frame (broadcast contract)") {
    // the one seam where a careless caller could hand the brute cross
    // product a corpus — guarded like dsirSelectFrom's determinism seam
    val big = spark.range(Curation.DecontamMaxEvalRows + 1)
      .selectExpr("id AS vec_id", "array(cast(0.1 AS float)) AS embedding")
    val ok = spark.range(3)
      .selectExpr("id AS vec_id", "array(cast(0.1 AS float)) AS embedding")
    val e = intercept[IllegalArgumentException] {
      Curation.decontamSemanticPairs(ok, big)
    }
    assert(e.getMessage.contains("eval side exceeds"))
    assert(e.getMessage.contains("decontamSemanticAnn"))
    // benchmark-sized eval still accepted through the same seam
    assert(Curation.decontamSemanticPairs(ok, ok).collect().length === 9)
  }

  test("badwords big list: automaton ≡ IN-filter on single-token lists") {
    // the equality-with-IN differential (r15 VERDICT #5): PhraseCount
    // over the 3-entry BadWords list must reproduce the shipped
    // IN-literal count row-for-row on the real corpus
    val docs = graft.sources.Tables.documents(spark, sf)
    val viaIn = Curation.badwordsFilterOn(docs).collect().map(_.toSeq).toSeq
    val viaAc = Curation.badwordsBigFilterOn(docs,
      Curation.BadWords).collect().map(_.toSeq).toSeq
    assert(viaAc === viaIn)
    assert(viaIn.nonEmpty, "control: the planted token must fire")
  }

  test("badwords big list: multi-word phrases, overlaps, and the fixture") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x table hash y"), // one bigram match
      (2L, "table table hash hash"), // the phrase occurs once despite doubled tokens
      (3L, "a b c"), // two overlapping phrases from the list below
      (4L, "a a a"), // self-overlapping phrase "a a" matches twice
      (5L, "table x hash") // split phrase must NOT match
    ).toDF("doc_id", "text")
    val out = Curation.badwordsBigFilterOn(docs,
        Seq("table hash", "a b", "b c", "a a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
    // fixture sanity: 2k distinct entries, multi-word present, and the
    // corpus-occurring bigram actually fires on real documents
    assert(Curation.BadWordsBig.size === 2000)
    assert(Curation.BadWordsBig.distinct.size === 2000)
    assert(Curation.BadWordsBig.exists(_.count(_ == ' ') == 2), "no 3-word entries")
    val real = Curation.badwordsBigFilterOn(
      graft.sources.Tables.documents(spark, sf), Curation.BadWordsBig)
    val inOnly = Curation.badwordsFilterOn(
      graft.sources.Tables.documents(spark, sf))
    assert(real.count() > inOnly.count(),
      "the corpus bigrams in the big list must flag pages the 3-token list misses")
  }
}
