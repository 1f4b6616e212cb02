package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Cross-consistency of the dedup family at sf0.001: the three near-dup
  * detectors must agree on the planted duplicate pairs. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("split helpers: the Column and the oracle SQL form select the same ids") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.expr
    import graft.operators.Curation
    val all = (0L until 100L).toSet
    val ids = (all.toSeq.sorted.map(Option(_)) :+ None).toDF("id")
    def sel(c: Column): Set[Option[Long]] = ids.filter(c).as[Option[Long]].collect().toSet
    val cases: Seq[(String, Column, String, Long => Boolean)] = Seq(
      ("prior", Dedup.isPrior($"id"), Dedup.priorSql("id"), _ % 10 < 8),
      ("fresh", Dedup.isFresh($"id"), Dedup.freshSql("id"), _ % 10 >= 8),
      ("train", Curation.isTrain($"id"), Curation.trainSql("id"), _ % 10 != 7),
      ("eval", Curation.isEval($"id"), Curation.evalSql("id"), _ % 10 == 7))
    for ((label, column, sql, expected) <- cases) {
      assert(sel(column) === sel(expr(sql)), s"$label: Column vs `$sql`")
      assert(sel(column) === all.filter(expected).map(Option(_)), label)
    }
    // each split partitions the non-null ids; null falls in neither side
    for ((a, b) <- Seq((cases(0), cases(1)), (cases(2), cases(3)))) {
      val (x, y) = (sel(a._2), sel(b._2))
      assert(x.intersect(y).isEmpty && (x ++ y) === all.map(Option(_)), s"${a._1}/${b._1}")
    }
  }

  test("fused shingle hashes ≡ the string-shingle composition, both families") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = Seq("", "a", "a b", "a b c", "a b c d", "a  b c",
      " a b c ", "x y x y x y x y", "a b c a b c a b c").toDF("text")
    val real = graft.sources.Tables.documents(spark, sf).select($"text")
    for (df <- Seq(edges, real)) {
      val toks = split($"text", " ")
      val shArr = transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3)))
      val strings = when(size(toks) >= 3, array_distinct(shArr))
        .otherwise(array().cast("array<string>"))
      def check(fused: org.apache.spark.sql.Column,
          viaStrings: org.apache.spark.sql.Column, label: String): Unit = {
        val a = df.select(fused).collect().map(_.getSeq[Long](0))
        val b = df.select(viaStrings).collect().map(_.getSeq[Long](0))
        a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
          assert(x === y, s"$label row $i") }
      }
      check(graft.functions.ShingleXxh64($"text"),
        array_sort(transform(strings, s => xxhash64(s))), "xxh64")
      check(graft.functions.ShingleMd5Low64($"text"),
        array_sort(transform(strings, s => graft.functions.Md5Lower64(s))), "md5")
    }
  }

  test("SetJaccardSorted ≡ the array_intersect/array_union composition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(42)
    // small value domain forces real overlaps; unsanitized dup elements
    // exercise the merge-walk's set semantics; empties exercise 0/0=NaN
    val data = (0 until 300).map { i =>
      def arr() = Seq.fill(rng.nextInt(30))(rng.nextInt(20).toLong).sorted
      if (i == 0) (Seq(1L, 2L), Seq.empty[Long]) else (arr(), arr())
    }
    val df = data.toDF("a", "b")
      // the ANSI built-in composition throws DIVIDE_BY_ZERO on
      // empty∩empty (unreachable from candidate pairs, which share an
      // element by construction) — keep it out of the differential rows
      .filter(size($"a") + size($"b") > 0)
    val got = df.select(graft.functions.SetJaccardSorted($"a", $"b"))
      .collect().map(_.getDouble(0))
    val exp = df.select((size(array_intersect($"a", $"b")).cast("double") /
        size(array_union($"a", $"b"))))
      .collect().map(_.getDouble(0))
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: $g != $e")
    }
    // the expression itself is total: empty∩empty ⇒ NaN, filtered out by
    // any >= threshold cut downstream
    val nan = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(graft.functions.SetJaccardSorted($"a", $"b"))
      .head.getDouble(0)
    assert(nan.isNaN)
  }

  test("jaccardSortedArrays ≡ the ArrayData merge walk (twin hot paths pinned)") {
    // the streaming verifier's plain-array walk and the codegen
    // expression's ArrayData walk are deliberately separate hot paths
    // (no shared accessor abstraction in either's inner loop); this
    // differential keeps a future fix to one from leaving the other
    // behind
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rng = new scala.util.Random(44)
    (0 until 300).foreach { _ =>
      def arr() = Array.fill(rng.nextInt(30))(rng.nextInt(20).toLong).sorted
      val a = arr(); val b = arr()
      val viaArrayData = graft.functions.SetJaccardImpl
        .jaccardSorted(new GenericArrayData(a), new GenericArrayData(b))
      val viaArrays = graft.functions.SetJaccardImpl.jaccardSortedArrays(a, b)
      assert(viaArrays == viaArrayData ||
        (viaArrays.isNaN && viaArrayData.isNaN), s"${a.toSeq} vs ${b.toSeq}")
    }
  }

  test("SetOverlapSorted ≡ size(array_intersect) on random dup-laden arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(43)
    val data = (0 until 300).map { _ =>
      def arr() = Seq.fill(rng.nextInt(30))(rng.nextInt(20).toLong).sorted
      (arr(), arr())
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq.empty[Long], Seq.empty[Long]))
    val df = data.toDF("a", "b")
    val got = df.select(graft.functions.SetOverlapSorted($"a", $"b"))
      .collect().map(_.getInt(0))
    val exp = df.select(size(array_intersect($"a", $"b")))
      .collect().map(_.getInt(0))
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: $g != $e")
    }
  }

  test("cluster assignment: component minima on a hand-built graph") {
    import spark.implicits._
    // chain 1-2-3 (transitive), pair 5-6, singletons 4/7/8 — labels must
    // be each component's minimum, which needs >1 propagation round for
    // the chain end
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClustersOn(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("CC loop takes the reliable checkpoint tier when a checkpoint dir is set") {
    import spark.implicits._
    // same hand-built graph as above, but with a checkpoint dir
    // configured Materialize.frame must route every loop materialization
    // through reliable checkpoint() — identical labels, and the
    // checkpoint files actually land in the directory (proof the
    // durable path, not local blocks, carried the loop)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      val docs = (1L to 8L).toDF("doc_id")
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
      val got = Dedup.dedupClustersOn(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
        5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
      val rddDirs = dir.listFiles.flatMap(_.listFiles)
      assert(rddDirs.nonEmpty, s"no reliable checkpoint data under $dir")
    } finally {
      // restore the shared session's default — there is no public unset,
      // and leaving the dir set would flip every later spec's CC loop
      // onto the reliable tier
      org.apache.spark.graftshim.TestShim.clearCheckpointDir(spark.sparkContext)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("cluster assignment converges on a 64-node path graph (pointer jumping)") {
    import spark.implicits._
    // worst-case diameter for a fixed round cap: a pure path 0-1-2-…-63.
    // plain min-label propagation needs 63 rounds; the pointer-jumping
    // step makes it O(log diameter), so this must converge (and the loop
    // now fails loudly instead of silently emitting partial labels).
    // Cap forced to 0 so the DISTRIBUTED loop (not the r22 driver
    // union–find gate) is what this test exercises.
    spark.conf.set(Dedup.CcDriverMaxEdgesKey, "0")
    try {
      val docs = (0L to 63L).toDF("doc_id")
      val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val got = Dedup.dedupClustersOn(docs, pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(got.forall(_._2 == 0L), s"unconverged labels: ${got.filter(_._2 != 0L).toSeq}")
    } finally spark.conf.unset(Dedup.CcDriverMaxEdgesKey)
  }

  test("driver union–find gate ≡ distributed label loop (differential)") {
    import spark.implicits._
    // a graph with a chain, a triangle-with-tail, cross-order edges and
    // singletons — both paths must emit identical component minima.
    val docs = (0L to 30L).toDF("doc_id")
    val pairs = Seq(
      (7L, 3L), (3L, 12L), (12L, 9L),           // component min 3, cross-order
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 25L), // triangle + tail, min 20
      (30L, 1L),                                 // min 1
      (15L, 16L)).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.dedupClustersOn(docs, pairs).collect().toSeq
    spark.conf.set(Dedup.CcDriverMaxEdgesKey, "0")
    val viaLoop =
      try Dedup.dedupClustersOn(docs, pairs).collect().toSeq
      finally spark.conf.unset(Dedup.CcDriverMaxEdgesKey)
    assert(viaDriver === viaLoop,
      s"driver union-find diverged from the loop:\n$viaDriver\n$viaLoop")
    val got = viaDriver.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(9L) == 3L && got(7L) == 3L && got(25L) == 20L &&
      got(30L) == 1L && got(16L) == 15L && got(0L) == 0L && got(2L) == 2L)
  }

  test("ngram jaccard handles a single very long document (10k+ shingles)") {
    import spark.implicits._
    // pins the round-5 fix: the verify set is built by groupBy +
    // collect_list (each set buffered once), not a full-frame window that
    // copied the whole per-doc array onto EVERY row — on a 10k-shingle
    // doc that was ~10k × 80 KB of unsafe-row copies
    val toks = (0 until 10002).map(i => s"tok$i")
    val docs = Seq(
      (1L, toks.mkString(" ")),
      (2L, (toks.dropRight(1) :+ "changed").mkString(" ")),
      (3L, "an unrelated little document here"),
    ).toDF("doc_id", "text")
    val got = Dedup.dedupNgramJaccardOn(Dedup.shingles(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === Set((1L, 2L)))
  }

  test("minhash LSH finds exactly the exact-jaccard pairs (perfect recall here)") {
    val exact = pairSet(Dedup.dedupNgramJaccard(spark, sf))
    val lsh = pairSet(Dedup.dedupMinHashLsh(spark, sf))
    assert(exact.nonEmpty, "test data should contain planted near-dup pairs")
    assert(lsh === exact)
  }

  test("near-dup pairs have small simhash hamming distance; random pairs do not") {
    val sims = Dedup.dedupSimHash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearPairs = pairSet(Dedup.dedupNgramJaccard(spark, sf))
    val nearDists = nearPairs.toSeq.map { case (a, b) => hamming(sims(a), sims(b)) }
    assert(nearDists.forall(_ <= 8), s"near-dup hamming distances too large: $nearDists")
    // background distribution: consecutive unrelated docs
    val ids = sims.keys.toSeq.sorted
    val bg = ids.zip(ids.tail)
      .filterNot(p => nearPairs.contains(p))
      .take(100)
      .map { case (a, b) => hamming(sims(a), sims(b)) }
    assert(bg.count(_ > 8) > bg.size / 2,
      s"background hamming distances unexpectedly small: ${bg.take(20)}")
  }

  test("dedup_kept removes exactly the doc_b side of near-dup pairs") {
    val pairs = pairSet(Dedup.dedupNgramJaccard(spark, sf))
    val dropped = pairs.map(_._2)
    val keptIds = Dedup.dedupKept(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val allIds = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds === allIds -- dropped)
  }

  test("simhash banded search finds exactly the capped-jaccard pairs") {
    val exact = pairSet(Dedup.dedupNgramJaccard(spark, sf))
    val banded = pairSet(Dedup.dedupSimHashPairs(spark, sf))
    assert(exact.nonEmpty)
    assert(banded === exact)
  }

  test("wide simhash search (hamming<=23) finds the same pairs on this corpus") {
    // true near-dup pairs measure hamming <= 12 here, so widening the
    // cut must change nothing — and the wide dual-chunking band join
    // must still capture every pair the narrow one does
    val narrow = pairSet(Dedup.dedupSimHashPairs(spark, sf))
    val wide = pairSet(Dedup.dedupSimHashPairsWide(spark, sf))
    assert(narrow.nonEmpty)
    assert(wide === narrow)
  }

  test("radius-2 probe capture is deterministic for hamming <= 23 (pigeonhole)") {
    // JVM mirror of the band keys in dedupSimHashPairs(Wide): capture
    // iff some aligned 8-bit chunk differs in <= r bits (radius-r probe
    // ball meeting the exact index key)
    def chunkDiff(d: Long, c: Int): Int =
      Integer.bitCount(((d >>> (c * 8)) & 0xffL).toInt)
    def captured(d: Long, radius: Int): Boolean =
      (0 until 8).exists(c => chunkDiff(d, c) <= radius)
    def diffOf(bits: Seq[Int]): Long = bits.foldLeft(0L)((a, b) => a | (1L << b))

    var seed = 0x5deece66dL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % bound).toInt
    }
    def randomDiff(dist: Int): Long = {
      val positions = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (positions.size < dist) positions += nextInt(64)
      diffOf(positions.toSeq)
    }

    // the narrow guarantee: radius-1 captures every pattern <= 15
    for (dist <- 1 to 15; trial <- 0 until 200)
      assert(captured(randomDiff(dist), 1), s"radius-1 broken at d=$dist/$trial")

    // the wide guarantee: radius-2 captures every pattern <= 23 —
    // including the >= 2-per-chunk balanced patterns that defeat
    // radius-1, and the doubly-balanced d=20 pattern that defeated a
    // prototype dual-chunking radius-1 design (a real miss this spec
    // found: balanced in the aligned AND a bit-strided decomposition)
    for (dist <- 16 to 23; trial <- 0 until 200)
      assert(captured(randomDiff(dist), 2), s"radius-2 broken at d=$dist/$trial")
    val balanced16 = diffOf((0 until 8).flatMap(k => Seq(8 * k, 8 * k + 1)))
    assert(!captured(balanced16, 1) && captured(balanced16, 2))
    val doublyBalanced20 = 0x88c0610c07540a32L
    assert(java.lang.Long.bitCount(doublyBalanced20) === 20)
    assert(!captured(doublyBalanced20, 1) && captured(doublyBalanced20, 2))

    // tightness: 3-per-chunk (d=24) escapes radius 2, so 23 is the
    // exact deterministic bound the wide cut is set to
    val balanced24 = diffOf((0 until 8).flatMap(k => Seq(8 * k, 8 * k + 1, 8 * k + 2)))
    assert(!captured(balanced24, 2))
  }

  test("SimHashBallKeys ≡ the (chunk, value^flip) column composition (all geometries)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // differential for the r22 fused generator input: combined keys must
    // enumerate exactly the former posexplode(chunks) × explode(flips)
    // cross, as a set, for every (chunks, bits, radius) the searches use
    val fps = Seq(0L, -1L, 0x0123456789abcdefL, 0xdeadbeefcafebabeL,
      Long.MinValue, 42L).toDF("f")
    for ((chunks, bits, radius) <- Seq((8, 8, 0), (8, 8, 1), (8, 8, 2),
        (4, 16, 1), (4, 16, 2))) {
      val mask = (1L << bits) - 1
      val flips = (0 until (1 << bits)).filter(Integer.bitCount(_) <= radius)
      val got = fps.select($"f",
          graft.functions.SimHashBallKeys($"f", chunks, bits, radius).as("ks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      fps.collect().map(_.getLong(0)).foreach { f =>
        val expect = (for (c <- 0 until chunks; fl <- flips)
          yield (c.toLong << bits) | (((f >>> (c * bits)) & mask) ^ fl)).toSet
        assert(got(f) == expect, s"geometry ($chunks,$bits,$radius) f=$f")
        assert(got(f).size == chunks * flips.size ||
          got(f).size < chunks * flips.size) // set collapse only when keys collide
      }
    }
  }

  test("16-bit-band simhash search equals the 8-bit search row-for-row") {
    // same output contract, different band geometry (the 100 TB key-space
    // knob): both are deterministic-capture searches over the identical
    // Hamming<=15 + capped-Jaccard>=0.8 predicate, so they must agree
    val narrow = pairSet(Dedup.dedupSimHashPairs(spark, sf))
    val b16 = pairSet(Dedup.dedupSimHashPairsB16(spark, sf))
    assert(narrow.nonEmpty)
    assert(b16 === narrow)
  }

  /** The steady-state contract every stored twin must honor: first call
    * fits + writes the artifact(s), second call must touch no document
    * text on the prior side — and both must equal the inline incremental
    * query exactly. */
  private def storedRoundTrip(
      inlineQ: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      storedQ: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      artifacts: Seq[String], table: String = "documents"): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    val prev = spark.conf.getOption(graft.sources.IndexStore.DirKey)
    try {
      spark.conf.set(graft.sources.IndexStore.DirKey, dir)
      val inline = inlineQ(spark, sf).collect().map(_.toSeq).toSeq
      val buildRun = storedQ(spark, sf).collect().map(_.toSeq).toSeq
      // the artifact landed under <root>/<name>/<corpus-fp>[-<params-fp>]
      // (the params half is IndexStoreSpec's contract; here we pin that
      // the build run WROTE and the next run will read)
      artifacts.foreach { a =>
        val versions = new java.io.File(s"$dir/$a").listFiles()
        assert(versions != null && versions.exists(v =>
          new java.io.File(v, "_SUCCESS").exists()), a)
      }
      val readRun = storedQ(spark, sf).collect().map(_.toSeq).toSeq
      assert(inline.nonEmpty)
      assert(buildRun === inline)
      assert(readRun === inline)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.sources.IndexStore.DirKey, v)
      case None => spark.conf.unset(graft.sources.IndexStore.DirKey)
    }
  }

  test("stored minhash index round-trips: build run ≡ read-back run ≡ inline") {
    storedRoundTrip(Dedup.dedupMinHashIncremental, Dedup.dedupMinHashStored,
      Seq("minhash_sigs", "minhash_bands"))
  }

  test("stored exact-hash index round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(Dedup.dedupIncremental, Dedup.dedupIncrementalStored,
      Seq("exact_hash_idx"))
  }

  test("stored novelty gram index round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(graft.operators.Curation.textNovelty,
      graft.operators.Curation.textNoveltyStored, Seq("novelty_grams"))
  }

  test("stored substring gram index round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(Dedup.dedupSubstringIncremental, Dedup.dedupSubstringStored,
      Seq("substr_grams"))
  }

  test("stored simhash sig + chunk index round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(Dedup.dedupSimHashIncremental, Dedup.dedupSimHashStored,
      Seq("simhash_sigs", "simhash_chunks"))
  }

  test("b16 incremental ≡ 8-bit incremental, row-for-row (both geometries, one contract)") {
    // capture is deterministic at BOTH band geometries for the identical
    // Hamming ≤ 15 cut (pigeonhole at 8 bits, mask-split at 16), so the
    // two engines must emit exactly the same cross-snapshot pairs
    val narrow = Dedup.dedupSimHashIncremental(spark, sf).collect().map(_.toSeq).toSeq
    val b16 = Dedup.dedupSimHashIncrementalB16(spark, sf).collect().map(_.toSeq).toSeq
    assert(narrow.nonEmpty)
    assert(b16 === narrow)
  }

  test("stored b16 ball index round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(Dedup.dedupSimHashIncrementalB16, Dedup.dedupSimHashStoredB16,
      Seq("simhash_sigs", "simhash_chunks_b16"))
  }

  test("stored winnow fps + df counter round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(Dedup.dedupWinnowIncremental, Dedup.dedupWinnowStored,
      Seq("winnow_fps", "winnow_df"))
  }

  test("stored embed vec store + band index round-trips: build ≡ read-back ≡ inline") {
    storedRoundTrip(Dedup.dedupEmbedCosineIncremental, Dedup.dedupEmbedCosineStored,
      Seq("embed_vecs", "embed_bands"), table = "embeddings")
  }

  test("stored index append: day-2 delta appended, day-3 probe sees the grown prior") {
    // the full daily loop the *_stored twins read from: build day-1's
    // artifact, probe day-2 against it (must equal the inline
    // incremental over day-1), APPEND day-2's rows partition-locally,
    // then probe day-3 — which must equal the inline incremental over
    // the GROWN prior (day-1 ∪ day-2), i.e. the append is a real index
    // increment, not a rebuild
    import org.apache.spark.sql.functions._
    import graft.sources.IndexStore
    import graft.operators.Materialize
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val day1 = docs.filter(pmod($"doc_id", lit(3)) === 0)
    val day2 = docs.filter(pmod($"doc_id", lit(3)) === 1)
    val day3 = docs.filter(pmod($"doc_id", lit(3)) === 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_append_").toString
    val sigsPath = s"$dir/minhash_sigs"
    val bandsPath = s"$dir/minhash_bands"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // day 1: build + write
    val sigs1 = IndexStore.readOrBuild(spark, sigsPath, Dedup.minhashHashed(day1))
    val bands1 = IndexStore.readOrBuild(spark, bandsPath,
      Dedup.minhashBanded(sigs1), Seq("band"))
    // day 2: probe the artifact, then append the delta's rows
    val got2 = rows(Dedup.minhashIncrementalTail(sigs1, bands1,
      Dedup.minhashHashed(day2)))
    assert(got2 === rows(Dedup.dedupMinHashIncrementalOn(day1, day2)))
    val d2sigs = Materialize.frame(Dedup.minhashHashed(day2))
    IndexStore.append(spark, sigsPath, d2sigs)
    IndexStore.append(spark, bandsPath, Dedup.minhashBanded(d2sigs), Seq("band"))
    // day 3: the read-back artifact must now BE the grown prior
    val sigs12 = spark.read.parquet(sigsPath)
    val bands12 = spark.read.parquet(bandsPath)
    val got3 = rows(Dedup.minhashIncrementalTail(sigs12, bands12,
      Dedup.minhashHashed(day3)))
    val want3 = rows(Dedup.dedupMinHashIncrementalOn(day1.unionByName(day2), day3))
    assert(got3 === want3)
    assert(got2.nonEmpty || got3.nonEmpty)
  }

  test("b16 broadcast is size-gated: both plan shapes, identical output") {
    // The r16 defect: an unconditional broadcast() hint on the 68-rows/doc
    // index ball — honored by Spark at ANY size, i.e. a driver OOM at
    // corpus scale, not a graceful fallback. The gate now lives in our
    // code (B16BroadcastMaxDocsKey, parquet row count). Pin BOTH shapes:
    // default ceiling (500 docs << 20k) → BroadcastHashJoin on the
    // candidate join; ceiling 0 → shuffle on (c, v) (SortMergeJoin via
    // the shuffle_merge pin — stats would otherwise still pick a
    // broadcast build from the fan-out-blind probe-side estimate).
    val key = Dedup.B16BroadcastMaxDocsKey
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.queryExecution.executedPlan.toString
    }
    val broadcastPath = Dedup.dedupSimHashPairsB16(spark, sf)
    assert(planOf(broadcastPath).contains("BroadcastHashJoin"))
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0")
      val shufflePath = Dedup.dedupSimHashPairsB16(spark, sf)
      val p = planOf(shufflePath)
      assert(p.contains("SortMergeJoin"), p.take(1200))
      assert(pairSet(shufflePath) === pairSet(broadcastPath))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("b16 cell-occupancy cap bounds fan-in; capped output is a subset") {
    // The MaxShingleDF-style safety valve: pruning overfull (c, v) cells
    // can only remove capture opportunities, never invent pairs. Off by
    // default (oracle parity requires it off); here cap=1 exercises the
    // left-semi prune path end to end.
    val key = Dedup.B16CellCapKey
    val full = pairSet(Dedup.dedupSimHashPairsB16(spark, sf))
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1")
      val capped = pairSet(Dedup.dedupSimHashPairsB16(spark, sf))
      assert(capped.subsetOf(full))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("8-bit cell-occupancy cap: capped subset, ineffective cap exact") {
    // SimHash8CellCapKey (r17 VERDICT #1): the flood valve applied one
    // geometry down. Two pins: (a) a biting cap can only REMOVE pairs
    // (left-semi prune of index cells — no false pairs, ever); (b) an
    // enabled-but-ineffective cap (no cell above it) leaves the output
    // EXACTLY the default's — the prune path itself is semantics-free.
    val key = Dedup.SimHash8CellCapKey
    val full = pairSet(Dedup.dedupSimHashPairs(spark, sf))
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1")
      val capped = pairSet(Dedup.dedupSimHashPairs(spark, sf))
      assert(capped.subsetOf(full))
      spark.conf.set(key, "1000000")
      assert(pairSet(Dedup.dedupSimHashPairs(spark, sf)) === full)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("radius-3 probe capture over 16-bit chunks is deterministic for hamming <= 15") {
    // JVM mirror of dedupSimHashPairsB16's band keys: capture iff some
    // aligned 16-bit chunk differs in <= 3 bits (pigeonhole: 4 chunks
    // all >= 4 would sum to >= 16 > 15)
    def chunkDiff16(d: Long, c: Int): Int =
      Integer.bitCount(((d >>> (c * 16)) & 0xffffL).toInt)
    def captured16(d: Long): Boolean = (0 until 4).exists(c => chunkDiff16(d, c) <= 3)
    def diffOf(bits: Seq[Int]): Long = bits.foldLeft(0L)((a, b) => a | (1L << b))
    var seed = 0x5deece66dL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % bound).toInt
    }
    def randomDiff(dist: Int): Long = {
      val positions = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (positions.size < dist) positions += nextInt(64)
      diffOf(positions.toSeq)
    }
    for (dist <- 1 to 15; trial <- 0 until 200)
      assert(captured16(randomDiff(dist)), s"b16 radius-3 broken at d=$dist/$trial")
    // tightness: 4-per-chunk (d=16) escapes radius 3, so 15 is the exact
    // deterministic bound for this geometry
    val balanced16x4 = diffOf((0 until 4).flatMap(k => Seq(16 * k, 16 * k + 1, 16 * k + 2, 16 * k + 3)))
    assert(!captured16(balanced16x4))
    // the r16 TWO-SIDED engine geometry realizes the radius-3 capture:
    // every 16-bit diff of weight <= 3 splits as m1 ^ m2 with
    // |m1| <= 1 (index ball) and |m2| <= 2 (probe ball) — exhaustive
    val m1s = (0 until (1 << 16)).filter(Integer.bitCount(_) <= 1)
    for (d <- 0 until (1 << 16) if Integer.bitCount(d) <= 3)
      assert(m1s.exists(m1 => Integer.bitCount(m1 ^ d) <= 2),
        s"no (m1, m2) split for diff $d")
  }

  test("containment finds a planted excerpt that jaccard structurally misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // B: 300 distinct tokens; A: tokens 50..119 of B (contiguous excerpt
    // ⇒ A's 3-gram shingles ⊆ B's ⇒ containment 1.0, while
    // J = 68/298 ≈ 0.23 — far below the 0.8 jaccard gate); C unrelated
    def toks(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, toks(0 until 300, "w")),
      (2L, toks(50 until 120, "w")),
      (3L, toks(0 until 100, "z"))).toDF("doc_id", "text")
    val sh = docs.select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", array_distinct(transform(
        sequence(lit(0), size($"t") - 3),
        i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2),
          element_at($"t", i + 3)))).as("sh"))
    val got = Dedup.dedupContainmentOn(sh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
    // the same input yields NO jaccard pair — the asymmetric op is the
    // only one that can see the excerpt
    assert(Dedup.dedupNgramJaccardOn(sh).collect().isEmpty)
  }

  test("union-edge clustering puts a containment-only excerpt with its source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1=source, 2=excerpt of 1 (containment edge ONLY — J ≈ 0.23 is far
    // below the 0.8 jaccard gate), 3≈4 near-identical (jaccard edge),
    // 5 unrelated singleton. Clustering over just the jaccard graph
    // leaves the excerpt in its own cluster — the silent "keep both"
    // failure dedup_clusters_all exists to close.
    def toks(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, toks(0 until 300, "w")),
      (2L, toks(50 until 120, "w")),
      (3L, toks(0 until 100, "z")),
      (4L, toks(0 until 99, "z")),
      (5L, toks(0 until 50, "q"))).toDF("doc_id", "text")
    val sh = docs.select($"doc_id", split($"text", " ").as("t"))
      .select($"doc_id", array_distinct(transform(
        sequence(lit(0), size($"t") - 3),
        i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2),
          element_at($"t", i + 3)))).as("sh"))
    val jacc = Dedup.dedupNgramJaccardOn(sh).select($"doc_a", $"doc_b")
    val cont = Dedup.dedupContainmentOn(sh).select($"doc_a", $"doc_b")
    val labels = Dedup.dedupClustersOn(docs.select($"doc_id"), jacc.union(cont))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L),
      s"got $labels")
    // jaccard-only clustering strands the excerpt — the gap being closed
    val jacOnly = Dedup.dedupClustersOn(docs.select($"doc_id"), jacc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jacOnly(2L) === 2L)
  }

  test("containment ⊇ high-jaccard pairs on the real corpus (c/min ≥ J always)") {
    import spark.implicits._
    // c/min(na,nb) ≥ c/(na+nb−c) = J, so every pair at J ≥ 0.9 must
    // appear at containment ≥ 0.9 (J in [0.8, 0.9) is not guaranteed)
    val jacHigh = Dedup.dedupNgramJaccard(spark, sf)
      .filter($"jaccard" >= 0.9).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cont = pairSet(Dedup.dedupContainment(spark, sf))
    assert(jacHigh.nonEmpty)
    assert(jacHigh.subsetOf(cont), s"missing: ${jacHigh -- cont}")
  }

  test("max-DF cap keeps a planted hot shingle out of the pair join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 40 docs that all share one boilerplate shingle ("common header text")
    // but are otherwise disjoint; plus one genuine near-dup pair.
    val docs = ((0 until 40).map { i =>
      (i.toLong, s"common header text unique$i alpha$i beta$i gamma$i delta$i")
    } ++ Seq(
      // 12 tokens, last differs: 10 shingles, 9 common → j = 9/11 ≈ 0.818
      (100L, "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"),
      (101L, "zeta eta theta iota kappa lambda mu nu xi omicron pi sigma"),
    )).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs)
    // uncapped: the hot shingle alone contributes 40·39/2 = 780 candidate
    // pairs; capped at DF≤8 it contributes none, and the planted pair
    // (which shares only rare shingles) is still found at full jaccard.
    val capped = Dedup.dedupNgramJaccardOn(sh, maxDf = 8L)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet === Set((100L, 101L)))
    // and the capped inverted index itself is bounded: no shingle fans out
    // past the cap (this is the 100 TB shuffle-key guarantee)
    val fanout = sh.select($"doc_id", explode($"sh").as("s"))
      .groupBy($"s").count().filter(col("count") > 8).count()
    assert(fanout === 1, "exactly the planted hot shingle family exceeds the cap")
  }

  test("incremental embed-cosine pairs cross-snapshot only; prior twins never re-pair") {
    import spark.implicits._
    // base A (fixed sign pattern); prior = {A, D ≈ A} — an EXISTING
    // duplicate pair inside the prior corpus that must NOT re-emerge;
    // fresh = {B ∥ A (all bands match, cos = 1), C = −A (every sign
    // flipped: zero shared band cells)}.
    val a = (0 until 64).map(i => (((i % 7) - 3) / 10.0f) + (if (i % 7 == 3) 0.05f else 0f)).toArray
    val prior = Seq(
      (1L, a, 0),
      (2L, a.map(_ * 0.9f), 0)).toDF("vec_id", "embedding", "label")
    val fresh = Seq(
      (18L, a.map(_ * 1.1f), 0),
      (19L, a.map(-_), 0)).toDF("vec_id", "embedding", "label")
    val got = Dedup.dedupEmbedCosineIncrementalOn(prior, fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.map(p => (p._1, p._2)).toSet === Set((1L, 18L), (2L, 18L)),
      s"expected exactly the prior×fresh parallel pairs, got ${got.toSeq}")
    assert(got.forall(_._3 === 1.0), s"parallel vectors must score 1.0: ${got.toSeq}")
  }

  test("blocked embed-cosine captures planted near-dup embeddings and prunes background") {
    import spark.implicits._
    // 200 gaussian base vectors (4 labels) + 15 jittered near-copies
    // (noise σ=0.15 → cos ≈ 0.99, per-bit sign-flip ≈ 0.05 → a pair
    // misses all 8 bands w.p. ≈ 1e-4). Deterministic via fixed seed.
    val rnd = new scala.util.Random(42)
    val base = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), i % 4)
    }
    val planted = (0 until 15).map { i =>
      val (id, v, label) = base(i * 13)
      (id + 1000L, v.map(x => x + 0.15f * rnd.nextGaussian().toFloat), label)
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding", "label")
    val result = Dedup.dedupEmbedCosineBlockedOn(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val plantedPairs = (0 until 15).map(i => (base(i * 13)._1, base(i * 13)._1 + 1000L)).toSet
    val found = result.collect { case (a, b, _) if plantedPairs.contains((a, b)) => (a, b) }.toSet
    assert(found === plantedPairs,
      s"blocked search missed planted near-dups: ${plantedPairs -- found}")
    assert(result.filter(r => plantedPairs.contains((r._1, r._2))).forall(_._3 >= 0.9),
      "planted pairs should score cos >= 0.9")
    // the banding genuinely prunes: among the random base vectors, the
    // fraction of same-label pairs sharing >= 1 band cell must be small
    // (expected ~8/256 ≈ 3%) — this is the 100 TB pair-space bound.
    def cells(v: Array[Float]): Seq[Int] = (0 until Dedup.EmbedBands).map { b =>
      (0 until Dedup.EmbedBandBits).map { j =>
        (if (v(b * Dedup.EmbedBandBits + j) >= 0) 1 else 0) << (Dedup.EmbedBandBits - 1 - j)
      }.sum
    }
    val sameLabel = for {
      (ia, va, la) <- base; (ib, _, lb) <- base if la == lb && ia < ib
    } yield (va, base(ib.toInt)._2)
    val colliding = sameLabel.count { case (va, vb) =>
      cells(va).zip(cells(vb)).exists { case (x, y) => x == y }
    }
    assert(colliding.toDouble / sameLabel.size < 0.25,
      s"banding should prune background pairs: $colliding/${sameLabel.size} collide")
  }

  test("incremental dedup keeps only novel content, deduped within the delta") {
    import spark.implicits._
    val prior = Seq((1L, "already ingested A"), (2L, "already ingested B"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (8L, "already ingested A"),   // suppressed: hash in the prior index
      (9L, "novel C"), (19L, "novel C"), // internal dup: keep 9, n_new 2
      (18L, "novel D")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupIncrementalOn(prior, fresh)
      .select("keep_id", "n_new").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((9L, 2L), (18L, 1L)),
      s"expected novel C (kept 9, 2 copies) and D only, got ${got.toSeq}")
  }

  test("bloom-gated incremental dedup ≡ exact form, and the plan carries the sketch probe") {
    import spark.implicits._
    // 50 prior docs, 40 certainly-novel fresh docs (the bloom fast path),
    // 2 true cross-snapshot dups (maybe path -> confirmed dup), and one
    // internal fresh dup (keep-min within the delta).
    val prior = (0L until 50L).map(i => (i, s"prior doc $i")).toDF("doc_id", "text")
    val fresh = ((100L until 140L).map(i => (i, s"fresh doc $i")) ++ Seq(
      (200L, "prior doc 7"), (201L, "prior doc 23"),
      (202L, "fresh doc 100"))).toDF("doc_id", "text")
    val bloomed = Dedup.dedupIncrementalBloomOn(prior, fresh)
    val exact = Dedup.dedupIncrementalOn(prior, fresh)
    assert(bloomed.collect().toSeq === exact.collect().toSeq)
    assert(bloomed.select("keep_id").as[Long].collect().toSet
      === ((100L until 140L).toSet), "exactly the novel delta survives")
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the physical plan:\n$plan")
  }

  test("incremental minhash finds cross-snapshot near-dups only (no delta-internal pairs)") {
    import spark.implicits._
    // prior has a planted near-dup of fresh doc 100 (one word changed in
    // a long doc → J > 0.9); fresh docs 101/102 are near-dups of EACH
    // OTHER but of nothing prior — they must NOT appear (delta-internal
    // pairs are the full variant's job, not the incremental probe's)
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val prior = Seq(
      (1L, base),
      (2L, "completely unrelated content right here")).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, base.replace("tok59", "changed")),
      (101L, "another shared long passage " + base.replace("tok0", "x")),
      (102L, "another shared long passage " + base.replace("tok0", "x"))
    ).toDF("doc_id", "text")
    val got = Dedup.dedupMinHashIncrementalOn(prior, fresh)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 100L)), s"planted cross-snapshot pair missed: $got")
    assert(got.forall { case (a, b) => a < 100L && b >= 100L },
      s"non-cross-snapshot pair leaked: $got")
    assert(!got.exists { case (a, b) => a >= 100L },
      s"delta-internal pair leaked: $got")
  }

  test("incremental minhash ≡ full pair search restricted to cross-snapshot pairs") {
    // corpus-level differential: probing the prior index with the delta
    // must find exactly the cross-snapshot subset of what the full
    // self-pair search finds — no pair lost to the split, none invented
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairs(Dedup.dedupMinHashLsh(spark, sf))
    val inc = pairs(Dedup.dedupMinHashIncremental(spark, sf))
    val prior = (id: Long) => id % Dedup.SnapshotMod < Dedup.SnapshotNewMin
    // full emits (min, max); incremental emits (prior, fresh) — align
    val expected = full.collect {
      case (a, b, j) if prior(a) && !prior(b) => (a, b, j)
      case (a, b, j) if !prior(a) && prior(b) => (b, a, j)
    }
    assert(inc === expected,
      s"cross-snapshot differential broke:\n inc=$inc\n exp=$expected")
  }

  test("incremental minhash returns rows at sf0.001 and every pair crosses the snapshot split") {
    val rows = Dedup.dedupMinHashIncremental(spark, sf).collect()
    assert(rows.nonEmpty, "testdata should contain planted cross-snapshot near-dups")
    rows.foreach { r =>
      assert(r.getLong(0) % Dedup.SnapshotMod < Dedup.SnapshotNewMin, r.toString)
      assert(r.getLong(1) % Dedup.SnapshotMod >= Dedup.SnapshotNewMin, r.toString)
      assert(r.getDouble(2) >= 0.8, r.toString)
    }
  }

  test("incremental simhash finds cross-snapshot near-dups only (no delta-internal pairs)") {
    import spark.implicits._
    // same construction as the minhash twin: prior doc 1 has a planted
    // near-dup in the delta (one token changed in a 60-token doc →
    // J > 0.9, fingerprint Hamming small); fresh 101/102 are near-dups
    // of EACH OTHER but of nothing prior — delta-internal pairs are the
    // full search's job, not the incremental probe's
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val prior = Seq(
      (1L, base),
      (2L, "completely unrelated content right here")).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, base.replace("tok59", "changed")),
      (101L, "another shared long passage " + base.replace("tok0", "x")),
      (102L, "another shared long passage " + base.replace("tok0", "x"))
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSimHashIncrementalOn(prior, fresh)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 100L)), s"planted cross-snapshot pair missed: $got")
    assert(got.forall { case (a, b) => a < 100L && b >= 100L },
      s"non-cross-snapshot pair leaked: $got")
  }

  test("incremental simhash ≡ full simhash pair search restricted to cross-snapshot pairs") {
    // corpus-level differential against the full banded search. Feature
    // spaces: the full search fingerprints the DF-CAPPED shingle space,
    // the incremental one the UNCAPPED space (see the operator doc) —
    // comparable here because the cap drops ZERO shingles at the test
    // SFs (pinned by the cap-neutrality note in simHashCappedBase); if
    // corpus drift ever makes the cap bite at sf0.001 this test fails
    // loudly rather than silently comparing different spaces.
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairs(Dedup.dedupSimHashPairs(spark, sf))
    val inc = pairs(Dedup.dedupSimHashIncremental(spark, sf))
    val prior = (id: Long) => id % Dedup.SnapshotMod < Dedup.SnapshotNewMin
    // full emits (min, max); incremental emits (prior, fresh) — align
    val expected = full.collect {
      case (a, b, j) if prior(a) && !prior(b) => (a, b, j)
      case (a, b, j) if !prior(a) && prior(b) => (b, a, j)
    }
    assert(inc === expected,
      s"cross-snapshot differential broke:\n inc=$inc\n exp=$expected")
  }

  test("incremental simhash returns rows at sf0.001 and every pair crosses the snapshot split") {
    val rows = Dedup.dedupSimHashIncremental(spark, sf).collect()
    assert(rows.nonEmpty, "testdata should contain planted cross-snapshot near-dups")
    rows.foreach { r =>
      assert(r.getLong(0) % Dedup.SnapshotMod < Dedup.SnapshotNewMin, r.toString)
      assert(r.getLong(1) % Dedup.SnapshotMod >= Dedup.SnapshotNewMin, r.toString)
      assert(r.getDouble(2) >= 0.8, r.toString)
    }
  }

  test("incremental clusters merge two PRIOR components bridged by a delta doc") {
    import spark.implicits._
    // the correctness case star replacement must survive: prior
    // components {1,2} and {3,4} are disjoint in the prior graph; delta
    // doc 10 pairs with a member of EACH, so the maintained clustering
    // must merge everything into one component labeled 1 — via star
    // edges only, never re-walking prior×prior pairs
    val docs = Seq(1L, 2L, 3L, 4L, 10L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L), (2L, 10L), (4L, 10L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dedupClustersIncrementalOn(docs, pairs, _ >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L),
      s"bridged prior components must merge to min 1: $got")
  }

  test("incremental clusters ≡ from-scratch clusters on the full corpus") {
    // the output-invisibility claim behind the shared oracle, checked
    // corpus-wide: star(prior labels) ∪ delta-touching pairs reaches
    // the identical min-label fixpoint as the full pair graph
    val full = Dedup.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = Dedup.dedupClustersIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full)
  }

  test("bloom-gated incremental dedup survives an EMPTY prior (NULL sketch routes to exact path)") {
    import spark.implicits._
    // BloomFilterAggregate over zero rows returns NULL; an un-guarded
    // gate would drop every fresh group on BOTH branches. The coalesce
    // guard must route everything through the exact anti-join instead.
    val prior = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fresh = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val bloomed = Dedup.dedupIncrementalBloomOn(prior, fresh)
    val exact = Dedup.dedupIncrementalOn(prior, fresh)
    assert(bloomed.collect().toSeq === exact.collect().toSeq)
    assert(bloomed.count() === 2L, "all fresh groups must survive an empty prior")
  }

  test("exact dedup partitions all documents (sum of group sizes = row count)") {
    val total = graft.sources.Tables.documents(spark, sf).count()
    val groups = Dedup.dedupExact(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_dups")).collect()(0).getLong(0)
    assert(groups === total)
  }

  test("substring strip removes the interval UNION of overlapping spans") {
    import spark.implicits._
    val W = Dedup.ExactSubstrTokens
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val a = words("a", 29) // doc 1: 29 tokens, grams at offsets 0..4
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, a.take(W).mkString(" ")),        // = gram 0 of doc 1
      (3L, a.slice(2, 2 + W).mkString(" ")), // = gram 2 of doc 1
      (4L, words("z", 30).mkString(" "))     // untouched
    ).toDF("doc_id", "text")
    // doc 1's shared gram offsets are {0, 2} (offset 1 unshared): two
    // maximal spans (0,25) and (2,25) whose token intervals OVERLAP —
    // the strip must drop their UNION [0,27), keeping a28,a29
    val spans = Dedup.dedupExactSubstringOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 0L, 25L), (1L, 2L, 25L),
      (2L, 0L, 25L), (3L, 0L, 25L)))
    val got = Dedup.curStripSubstringsOn(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (1L, "a28 a29", 2L, 27L),
      (2L, "", 0L, 25L),
      (3L, "", 0L, 25L),
      (4L, words("z", 30).mkString(" "), 30L, 0L)))
  }

  test("incremental substring: fresh probes prior index, prior never self-flags") {
    import spark.implicits._
    val W = Dedup.ExactSubstrTokens
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val S = words("s", W) // span shared prior↔fresh
    val T = words("t", W) // span shared fresh↔fresh
    val prior = Seq(
      (1L, (words("p", 5) ++ S).mkString(" ")),
      // a prior-prior duplicate: must NOT appear (output is fresh-only)
      (2L, (S ++ words("q", 5)).mkString(" "))
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, (words("f", 3) ++ S ++ words("g", 3)).mkString(" ")), // hits prior
      (11L, (T ++ words("h", 8)).mkString(" ")),                  // fresh↔fresh
      (12L, (words("i", 8) ++ T).mkString(" ")),
      (13L, words("u", 40).mkString(" "))                          // novel
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSubstringIncrementalOn(prior, fresh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (10L, 3L, W.toLong), (11L, 0L, W.toLong), (12L, 8L, W.toLong)))
    // differential vs the full query: on (prior ∪ fresh), the full
    // span list restricted to fresh doc_ids must equal the incremental
    val full = Dedup.dedupExactSubstringOn(prior.unionByName(fresh)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 >= 10L).toSet
    assert(got === full)
  }

  test("positional gram hashes ≡ per-window xxhash64 of the joined-token slice") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // edge cases: empty, short-of-width, consecutive separators (empty
    // tokens), exact-width, repeats — plus the real corpus
    val edges = Seq("", "a", "a b c", "a  b c d", " a b c d ",
      "a b c d", "x y x y x y", "a b c d e f").toDF("text")
    val real = graft.sources.Tables.documents(spark, sf).select($"text")
    val W = 4
    for (df <- Seq(edges, real)) {
      val toks = split($"text", " ")
      val strings = when(size(toks) >= W,
        transform(sequence(lit(0), size(toks) - W),
          i => concat_ws(" ", (0 until W).map(k => element_at(toks, i + k + 1)): _*)))
        .otherwise(array().cast("array<string>"))
      val a = df.select(graft.functions.NGramXxh64Pos($"text", W))
        .collect().map(_.getSeq[Long](0))
      val b = df.select(transform(strings, s => xxhash64(s)))
        .collect().map(_.getSeq[Long](0))
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) => assert(x === y, s"row $i") }
    }
  }

  test("exact-substring: planted cross-doc spans, sub-window negatives stay silent") {
    import spark.implicits._
    val W = Dedup.ExactSubstrTokens // 25
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val S = words("s", 30) // the long planted span
    val T = words("t", W)  // an exactly-window-sized span
    val docs = Seq(
      // S mid-document at different offsets in two docs
      (1L, (words("a", 10) ++ S ++ words("b", 10)).mkString(" ")),
      (2L, (words("c", 5) ++ S ++ words("d", 5)).mkString(" ")),
      // sub-window negative: only W−1 = 24 tokens of S — no complete
      // window is shared, must NOT be flagged
      (3L, (words("e", 5) ++ S.take(W - 1) ++ words("f", 10)).mkString(" ")),
      // no overlap at all
      (4L, words("g", 60).mkString(" ")),
      // TWO separate maximal spans in one document: T (shared with doc
      // 6) and the first W tokens of S (shared with docs 1/2)
      (5L, (T ++ words("h", 5) ++ S.take(W)).mkString(" ")),
      (6L, (T ++ words("i", 30)).mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.dedupExactSubstringOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set(
      (1L, 10L, 30L), (2L, 5L, 30L), // the full maximal S span
      (5L, 0L, W.toLong), (5L, (W + 5).toLong, W.toLong), // two runs, not one
      (6L, 0L, W.toLong))
    assert(got === expected)
  }

  test("winnow pairs: edit-robust shared-run detection; disjoint docs stay silent") {
    import spark.implicits._
    // docs 1 and 2 share a ~200-char run with ONE inserted char mid-run
    // — winnowing's point: fingerprints from windows clear of the edit
    // still match, so the pair survives a small edit that would break
    // any aligned-chunk hash; doc 3 is character-disjoint
    val run = (0 until 40).map(i => s"w$i").mkString(" ")
    val (h1, h2) = run.splitAt(run.length / 2)
    val docs = Seq(
      (1L, "prefixa " + run + " tailaa"),
      (2L, "prefbbb " + h1 + "X" + h2 + " tailbb"),
      (3L, (100 until 140).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.winnowPairsOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)),
      s"expected exactly the edited pair, got ${got.mkString(",")}")
    assert(got.head._3 >= graft.operators.Dedup.WinnowMinShared)
  }

  test("winnow incremental: fresh pairs internally and vs prior; prior never self-pairs") {
    import spark.implicits._
    val run = (0 until 40).map(i => s"w$i").mkString(" ")
    val run2 = (200 until 240).map(i => s"v$i").mkString(" ")
    val prior = Seq(
      (1L, "pa " + run + " pb"),   // prior twin A
      (2L, "pc " + run + " pd"))   // prior twin B — the (1,2) pair must NOT report
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "fa " + run + " fb"),   // pairs with BOTH prior twins
      (11L, "fc " + run2 + " fd"),
      (12L, "fe " + run2 + " ff"))  // 11-12: fresh-internal pair
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.winnowIncrementalOn(prior, fresh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 10L), (11L, 12L)),
      s"expected cross pairs + fresh-internal pair only, got $got")
  }
}
