package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, and content fingerprinting — all as
  * codegen'd column expressions over the `documents` table (no UDFs).
  *
  * Scale: every query here is a pure per-row map (+ one final agg for the
  * grouped stats) — embarrassingly parallel, no shuffle except the
  * explicit groupBy, pushdown-friendly. */
object TextAnalysis {

  /** Marker function-word profiles (public-knowledge high-frequency
    * words). Scores are the fraction of tokens in each profile; argmax
    * with a confidence floor, CJK short-circuit on non-ASCII ratio. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "de", "y", "un", "una", "es", "que", "por", "para", "con"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von", "mit", "nicht"),
  )

  private def toks(c: Column): Column = split(lower(c), "\\s+")

  private def markerScore(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(markers))).cast("double") /
      greatest(size(tokens), lit(1)).cast("double")

  /** Predicted language + confidence per document. */
  def langIdFrame(df: DataFrame, textCol: String): DataFrame = {
    val tokens = toks(col(textCol))
    val nonAsciiRatio =
      (length(col(textCol)) - length(regexp_replace(col(textCol), "[^\\x00-\\x7F]", "")))
        .cast("double") / greatest(length(col(textCol)), lit(1)).cast("double")
    val scored = profiles.map { case (lang, ms) => (lang, markerScore(tokens, ms)) }
    // argmax via chained when; ties break toward the earlier profile
    val maxScore = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val lang = scored.foldRight(lit("unknown")) { case ((l, s), elseCol) =>
      when(s === maxScore && maxScore > 0.05, lit(l)).otherwise(elseCol)
    }
    df.withColumn("pred_lang",
        when(nonAsciiRatio > 0.3, lit("cjk_or_other")).otherwise(lang))
      // raw double, not round(·, 4): marker scores are small rationals
      // (count/n), where binary-exact ties like 5/32 split between Spark
      // HALF_UP and DuckDB banker's rounding — the unrounded quotient is
      // bit-identical on both sides
      .withColumn("lang_score", maxScore)
  }

  def textLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    langIdFrame(Tables.documents(spark, sfDir), "text")
      .select($"doc_id", $"pred_lang", $"lang_score")
      .orderBy($"doc_id")
  }

  /** Per-document quality metrics (lengths, ratios) and a composite
    * score — the standard cheap pre-filters for corpus curation. */
  /** The composite quality score as a reusable column (rounded to 4
    * decimals, same as the `text_quality` output): length ramp ×
    * (1 − punct ratio) × (0.5 + stopword ratio). Shared by
    * [[textQuality]] and the curation pipeline's quality gate so the
    * two cannot drift; [[qualitySqlExpr]] is its DuckDB twin. */
  private[graft] def qualityScore(t: Column): Column = {
    val tokens = split(t, " ")
    val nChars = length(t).cast("double")
    val nTokens = size(tokens).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
    val stop = size(filter(tokens, x => x.isInCollection(Seq(
      "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")))).cast("double")
    round(
      when(nTokens >= 10.0, lit(1.0)).otherwise(nTokens / 10.0) *
        (lit(1.0) - punct / greatest(nChars, lit(1.0))) *
        (lit(0.5) + stop / greatest(nTokens, lit(1.0))), 4)
  }

  /** DuckDB twin of [[qualityScore]] (an expression over a `text`
    * column), spliced into both the `text_quality` oracle and the
    * curation-pipeline oracle. */
  private[graft] val qualitySqlExpr: String =
    """round(
      |    (CASE WHEN len(string_split(text, ' ')) >= 10 THEN 1.0
      |          ELSE len(string_split(text, ' ')) / 10.0 END) *
      |    (1.0 - (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
      |      / greatest(length(text), 1)) *
      |    (0.5 + len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE
      |      / greatest(len(string_split(text, ' ')), 1)), 4)""".stripMargin

  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val t = $"text"
    val tokens = split(t, " ")
    val nChars = length(t).cast("double")
    val nTokens = size(tokens).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
    val digits = (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
    val stop = size(filter(tokens, x => x.isInCollection(Seq(
      "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")))).cast("double")
    d.select(
        $"doc_id",
        length(t).as("n_chars"),
        size(tokens).cast("long").as("n_tokens"),
        round(nChars / greatest(nTokens, lit(1.0)), 4).as("avg_token_len"),
        round(punct / greatest(nChars, lit(1.0)), 4).as("punct_ratio"),
        round(digits / greatest(nChars, lit(1.0)), 4).as("digit_ratio"),
        round(stop / greatest(nTokens, lit(1.0)), 4).as("stopword_ratio"),
        qualityScore(t).as("quality"))
      .orderBy($"doc_id")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (letter runs / digit runs / single other-symbols) — the usual cheap
    * proxy for LLM token budgets. */
  def textTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    d.select(
        $"doc_id",
        size(split($"text", "\\s+")).cast("long").as("ws_tokens"),
        regexp_count($"text", lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long")
          .as("bpeish_tokens"),
        ceil(length($"text").cast("double") / 4.0).cast("long").as("char4_estimate"))
      .orderBy($"doc_id")
  }

  /** Subword token counting — [[graft.functions.BpeTokenCount]]'s
    * greedy longest-match over the committed merges fixture, next to
    * the whitespace count it refines. Pure map work (one fused pass
    * per row, no shuffle beyond the output sort); at 100 TB the vocab
    * is a broadcast-sized model artifact and the plan is unchanged. */
  def textTokenCountBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        graft.functions.BpeTokenCount($"text").as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** Merge iterations for `text_bpe_fit` — fixed (the deterministic-fit
    * convention: a production fit runs ~50k steps; the arithmetic per
    * step is identical). */
  final val BpeFitMerges = 8

  /** DISTRIBUTED BPE MERGE-TABLE TRAINING (Sennrich et al. 2016) — the
    * fit half of the subword story whose apply half is
    * [[textTokenCountBpe]]: learn the [[BpeFitMerges]] highest-count
    * symbol merges from the corpus itself instead of consuming the
    * committed fixture.
    *
    * Algorithm, classic shape: word-frequency table (ONE corpus-sized
    * shuffle — all iterations run over the vocabulary-sized result,
    * never the corpus again); each word starts as its character
    * sequence plus a `</w>` end-of-word symbol; per iteration, count
    * adjacent symbol pairs weighted by word frequency (a distributed
    * agg over the vocab frame), take the argmax with the deterministic
    * tie-break (count DESC, lhs ASC, rhs ASC — a 1-row collect), and
    * rewrite every sequence with the pair fused.
    *
    * The rewrite is leftmost non-overlapping double-`replace` over the
    * space-joined sequence (both engines' `replace` shares these
    * semantics exactly, which is what makes the fit oracle-mirrorable);
    * it deviates from greedy left-to-right pairing ONLY on odd runs of
    * ≥5 self-merged symbols ("a a a a a" pairs as 1st+4th, then the
    * stranded middle on the second pass) — vanishingly rare in text and
    * DEFINED behavior here, applied identically in engine and oracle.
    *
    * Scale shape: iterations touch vocab-sized frames (millions of
    * rows at web scale — executor-sized, never corpus-sized), each
    * materialized so lineage stays flat across the K steps; the argmax
    * moves ONE row to the driver per step. */
  def textBpeFit(spark: SparkSession, sfDir: String): DataFrame =
    textBpeFitOn(Tables.documents(spark, sfDir), BpeFitMerges)

  private[graft] def textBpeFitOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = bpeWordSeqs(docs).select($"seq", $"cnt")
    val (_, merges) = bpeFitLoop(words, k)
    merges.toDF("step", "lhs", "rhs", "pair_count").orderBy($"step")
  }

  /** The (w, seq, cnt) word-frequency vocab frame every BPE form starts
    * from: each distinct word as its space-joined character sequence
    * plus the `</w>` end-of-word symbol, weighted by corpus frequency.
    * ONE corpus-sized shuffle — every fit iteration and the encode
    * rewrite run over this vocabulary-sized result, never the corpus
    * again. */
  private def bpeWordSeqs(docs: DataFrame): DataFrame =
    bpeWordSeqsWith(docs, Nil)

  /** [[bpeWordSeqs]] with SPECIAL-TOKEN RESERVATION (r18 VERDICT #5 —
    * production tokenizers reserve control tokens): a word in
    * `specials` enters the vocab frame as ONE atomic symbol
    * (`<tok></w>`, no internal spaces) instead of its character
    * decomposition, so the fit can never learn a merge inside it (a
    * single-symbol sequence yields zero adjacent pairs — reservation
    * falls out of the pair counter, no special-casing in the loop),
    * the encode emits it as exactly one token, and the standard
    * marker-based decode round-trips it verbatim. */
  private def bpeWordSeqsWith(docs: DataFrame,
      specials: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val charSeq = concat(array_join(split($"w", ""), " "), lit(" </w>"))
    val seq =
      if (specials.isEmpty) charSeq
      else when($"w".isin(specials: _*), concat($"w", lit("</w>")))
        .otherwise(charSeq)
    docs.filter($"text".isNotNull)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"w", seq.as("seq"), $"cnt")
  }

  /** The sequential fit loop shared by [[textBpeFitOn]] (which keeps
    * the merges) and [[textBpeEncodeOn]] (which keeps the REWRITTEN
    * vocab frame): up to k argmax + double-replace rewrite steps over a
    * (seq, cnt, carry…) frame — any column that is not `seq`/`cnt`
    * (the encode's raw `w`) rides along untouched, and since `seq` is
    * injective in `w` the extra column cannot perturb the pair counts.
    * Returns (final frame, merges in application order).
    *
    * r21 (guide §1.2 — per-iteration fixed cost was the whole bill):
    * the per-merge rewrite is now a LAZY vocab-sized projection chained
    * over the once-checkpointed base; only every
    * [[BpeRewriteCheckpointEvery]] merges does the chain re-materialize
    * (bounding the replace-expression depth codegen sees and the work
    * the next argmax re-runs). The old shape localCheckpointed after
    * EVERY merge — one extra job + one shuffle-backed cache write per
    * merge, a per-iteration constant that dominated the loop at any
    * scale since every iteration frame is vocab-sized. Re-running ≤ C
    * chained replaces inside the next argmax job is per-row map work
    * over the same vocab frame, strictly cheaper than the checkpoint.
    * Merge selection is unchanged (same aggregates, same deterministic
    * tie-break), so fit and encode outputs are byte-identical. */
  private def bpeFitLoop(words: DataFrame,
      k: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val carry = words.columns.filterNot(c => c == "seq" || c == "cnt")
      .map(col).toSeq
    var cur = Materialize.frame(words)
    var pendingRewrites = 0
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val s = split($"seq", " ")
      // adjacent pairs via bounds-safe zip of the two shifted slices
      // (a fully merged single-symbol sequence yields zero pairs)
      val pairArr = zip_with(
        slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
        (a, b) => struct(a.as("lhs"), b.as("rhs")))
      val top = cur.select($"cnt", explode(pairArr).as("p"))
        .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
        .agg(sum($"cnt").as("c"))
        .orderBy($"c".desc, $"lhs".asc, $"rhs".asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((step, l, r, c))
        val wrapped = concat(lit(" "), $"seq", lit(" "))
        def fuse(col: Column): Column =
          replace(col, lit(s" $l $r "), lit(s" $l$r "))
        cur = cur.select(
          carry ++ Seq(trim(fuse(fuse(wrapped))).as("seq"), $"cnt"): _*)
        pendingRewrites += 1
        // Re-materialize only when ANOTHER argmax will actually re-run
        // the chain (r22): the old `step <= k` guard also checkpointed
        // after the FINAL merge — one wasted localCheckpoint job + cache
        // write per query, paid by every fit/encode form. The returned
        // frame stays a lazy ≤C-deep rewrite chain over the last
        // checkpoint, which each consumer (the encode's one vocab join;
        // the fit discards it) evaluates at most once.
        if (pendingRewrites >= BpeRewriteCheckpointEvery && step < k) {
          cur = Materialize.frame(cur)
          pendingRewrites = 0
        }
        step += 1
      }
    }
    (cur, out.toSeq)
  }

  /** Merges between re-materializations of the fit loop's rewrite
    * chain: bounds the nested-replace expression depth (2 replaces per
    * merge) below codegen's method-size spill point while amortizing
    * the checkpoint's fixed per-job cost over C merges. */
  private final val BpeRewriteCheckpointEvery = 8

  /** MERGE-ORDER BPE ENCODE — the apply half of [[textBpeFitOn]]'s
    * fit (the committed-fixture greedy longest-match in
    * [[textTokenCountBpe]] is the OTHER apply discipline; this one
    * replays the learned merges in rank order, the reference BPE
    * semantics of Sennrich et al. 2016): fit [[BpeFitMerges]] merges
    * on the corpus, rewrite the VOCABULARY once per merge (the same
    * double-replace the fit itself applies — encode and fit share one
    * loop, so they cannot drift), then join each document's word
    * stream back against the encoded vocab. Emits per document the
    * subword token count and the full space-joined token sequence in
    * word order.
    *
    * Scale shape: all k rewrites run over the VOCAB-sized frame
    * (executor-sized at web scale), never the corpus; the corpus is
    * touched exactly twice — once to build the word-frequency table,
    * once for the final word→encoding hash join (key `w`, both sides
    * pre-aggregated/pre-encoded). A production tokenizer service is
    * exactly this artifact: the encoded vocab written once, every
    * ingest batch joining against it. The per-doc reassembly is the
    * stripSpans collect_list(struct)+array_sort idiom — doc-bounded
    * keys, never corpus-wide state. */
  def textBpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    textBpeEncodeOn(Tables.documents(spark, sfDir), BpeFitMerges)

  /** The (w, seq, n_sub) ENCODED VOCABULARY after k fitted merges — the
    * frozen tokenizer artifact [[textBpeEncodeOn]] joins the corpus
    * against, and the model the streaming encode fits once at setup. */
  private[graft] def bpeEncodedVocab(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (encoded, _) = bpeFitLoop(bpeWordSeqs(docs), k)
    encoded.select($"w", $"seq",
      size(split($"seq", " ")).cast("long").as("n_sub"))
  }

  private[graft] def textBpeEncodeOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.filter($"doc_id".isNotNull && $"text".isNotNull)
    bpeEncodeTail(d, bpeEncodedVocab(d, k))
  }

  /** The word-stream → vocab join + per-doc reassembly shared by the
    * plain and special-token encodes. */
  private def bpeEncodeTail(d: DataFrame, enc: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .filter(length($"w") > 0)
      .join(enc, "w")
      .groupBy($"doc_id")
      .agg(sum($"n_sub").as("bpe_tokens"),
        array_join(transform(array_sort(collect_list(struct($"pos", $"seq"))),
          s => s.getField("seq")), " ").as("token_seq"))
      .select($"doc_id", $"bpe_tokens", $"token_seq")
      .orderBy($"doc_id")
  }

  /** The reserved control tokens of the tokenizer-service surface —
    * `text_bpe_encode_special` prepends [[BpeDocToken]] to every
    * document (the document-boundary marker a training pipeline
    * actually inserts between packed documents) and reserves it
    * through fit, encode, and decode. */
  final val BpeDocToken = "<|doc|>"
  final val BpeSpecialTokens: Seq[String] = Seq(BpeDocToken)

  /** SPECIAL-TOKEN BPE encode — [[textBpeEncode]] with the reserved
    * control tokens of a production tokenizer service: every document
    * arrives with the [[BpeDocToken]] boundary marker prepended, the
    * fit sees the marker as ONE atomic vocab symbol (never merged
    * into or out of — see [[bpeWordSeqsWith]]), the encode emits it
    * as exactly one token (n_sub 1), and the standard `</w>`-marker
    * decode round-trips it verbatim (spec-pinned). Same two
    * corpus-sized touches and vocab-sized fit iterations as the plain
    * encode — reservation is a projection predicate, not a new
    * exchange. */
  def textBpeEncodeSpecial(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", concat(lit(BpeDocToken + " "), $"text").as("text"))
    textBpeEncodeSpecialOn(docs, BpeFitMerges, BpeSpecialTokens)
  }

  private[graft] def textBpeEncodeSpecialOn(docs: DataFrame, k: Int,
      specials: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.filter($"doc_id".isNotNull && $"text".isNotNull)
    val (encoded, _) = bpeFitLoop(bpeWordSeqsWith(d, specials), k)
    bpeEncodeTail(d, encoded.select($"w", $"seq",
      size(split($"seq", " ")).cast("long").as("n_sub")))
  }

  /** VOCAB-SIZE-CAPPED fit (r18 VERDICT #5's other half — production
    * trainers budget TOTAL vocabulary, alphabet included, not a merge
    * count): count the base alphabet (distinct symbols of the initial
    * vocab frame — characters, `</w>`, reserved specials), then run at
    * most `vocabCap − |alphabet|` merges; each merge mints exactly one
    * new symbol, so alphabet + merges ≤ cap by construction (the spec
    * pins the accounting, including the cap-below-alphabet → zero
    * merges edge). The alphabet count is one distinct-agg over the
    * vocab-sized frame — nothing corpus-sized. Returns
    * (alphabet size, merge table). */
  private[graft] def textBpeFitCappedOn(docs: DataFrame, vocabCap: Int,
      specials: Seq[String] = Nil): (Int, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = bpeWordSeqsWith(docs, specials).select($"seq", $"cnt")
    val alphabet = words.select(explode(split($"seq", " ")).as("s"))
      .distinct().count().toInt
    val allowed = math.max(0, vocabCap - alphabet)
    val (_, merges) = bpeFitLoop(words, allowed)
    (alphabet, merges.toDF("step", "lhs", "rhs", "pair_count").orderBy($"step"))
  }

  /** BPE DECODE — the lossless inverse of [[textBpeEncode]], closing
    * the tokenizer round trip (encode ∘ decode = the space-normalized
    * original, for every document, as a hash-checked RESULT rather
    * than a spec-only claim): intra-word subword boundaries are the
    * spaces of `token_seq`, word boundaries its `</w>` markers, so
    * decode is two string rewrites — drop all spaces, then turn each
    * end-of-word marker into one space. `roundtrip_ok` compares the
    * decode against the original text with empty tokens dropped (the
    * encoder's own normalization — multi-space runs collapse, which
    * is the only information BPE discards). Standard end-of-word
    * caveat: a corpus word containing the literal marker string would
    * alias it; real tokenizers escape it, this corpus cannot produce
    * it. Pure map work over the encode output — no new shuffle. */
  def textBpeDecode(spark: SparkSession, sfDir: String): DataFrame =
    textBpeDecodeOn(Tables.documents(spark, sfDir), BpeFitMerges)

  private[graft] def textBpeDecodeOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val normalized = docs.select($"doc_id",
      array_join(filter(split($"text", " "), w => length(w) > 0), " ").as("norm"))
    textBpeEncodeOn(docs, k)
      .select($"doc_id",
        trim(replace(replace($"token_seq", lit(" "), lit("")),
          lit("</w>"), lit(" "))).as("decoded_text"))
      .join(normalized, "doc_id")
      .select($"doc_id", $"decoded_text",
        ($"decoded_text" === $"norm").as("roundtrip_ok"))
      .orderBy($"doc_id")
  }

  /** Batch size / iterations for `text_bpe_fit_batched`: up to
    * [[BpeBatchSize]] merges applied per corpus-pass, [[BpeBatchIters]]
    * passes — ≤ 8 total merges, the sequential fit's budget reached in
    * 2 Spark jobs instead of 8. */
  final val BpeBatchSize = 4
  final val BpeBatchIters = 2

  /** BATCHED BPE fit (r15 VERDICT #4) — the standard fast-trainer move
    * that makes a production 32k-merge vocabulary feasible:
    * [[textBpeFitOn]] is one driver round-trip (one distributed agg +
    * 1-row collect + rewrite) PER MERGE, i.e. 32k Spark jobs at
    * production vocab. Here each iteration counts pairs ONCE, takes
    * the top-[[BpeBatchSize]] candidates in the same deterministic
    * order (count DESC, lhs ASC, rhs ASC), keeps the greedily
    * independent subset (rule below), and applies all kept merges in
    * one rewrite. Merges kept per pass is bounded by the SYMBOL
    * DIVERSITY of the top-B pool (each symbol can appear in at most
    * one kept merge), NOT by B — measured at production scale
    * (r17, BpeScaleProbe on the 114k-word golden corpus, B = 256):
    * 11,532 merges in 320 passes / 965 jobs / 31.6 ms/merge, keep-rate
    * RISING with vocab diversity (19/pass over the first 10 → 24/pass
    * by 80 → 36/pass averaged over 320) and wall/merge FALLING
    * (113 → 52 → 31.6 ms) — ~43× fewer driver round-trips than
    * sequential (0.084 vs ~3.6 jobs/merge), so a 32k vocab lands
    * around ~890 passes / ~2.7k jobs (a ~3× extension of the measured
    * 11.5k-merge run), not the sequential ~100k. (An earlier r16 note
    * claimed "32k merges at B=256 is 128 jobs" — that assumed full
    * batches kept; the measured keep-rate above replaces it.)
    * Per-iteration frame materialization does NOT compound: each pass
    * re-materializes the vocab-sized frame (localCheckpoint), so
    * lineage stays one pass deep at any merge count.
    *
    * Independence rule (defined identically in engine and oracle):
    * GREEDY in rank order — candidate i is kept iff, against every
    * EARLIER KEPT candidate j, (a) the symbol sets are disjoint and
    * (b) neither one's concatenated OUTPUT token lhs+rhs equals a
    * symbol of the other (without (b), ('x','y') then ('xy','z') would
    * both pass and the chained rewrite would let the later merge fire
    * on tokens the earlier one just created — r16 ADVICE; the clause
    * is SYMMETRIC so the guarantee cannot depend on application
    * order). Kept merges can neither consume each other's inputs nor
    * touch each other's outputs, so the batch rewrite equals applying
    * them one-by-one (order-free) and the kept counts are exactly
    * their pool counts. Greedy-vs-KEPT (not vs all earlier ranked) is
    * what makes the batch worth its name: measured on this corpus the
    * rank-prefix form kept ~3 of 32 candidates per pass (top char
    * pairs all share 'e'/'t'-grade symbols, and one dropped candidate
    * poisoned every later one it touched), where greedy keeps the
    * maximal rank-order-independent subset. Still SQL-expressible:
    * kept-status recurses on rank, and rank is bounded by the PLAN
    * CONSTANT B, so the oracle unrolls it as B rank-indexed CTEs
    * (k_1..k_B), each NOT-EXISTS-joined against the union of the
    * previous ones — bounded unrolling, not data-dependent recursion.
    *
    * vs the sequential fit: stale-count selection — the batch ranks by
    * the counts BEFORE any of its merges applied, where the sequential
    * fit re-counts after each. At batch = 1 the two are structurally
    * identical (TextAnalysisSpec pins that differential); at batch > 1
    * they may legitimately pick different later merges, exactly like
    * the reference fast trainers this mirrors.
    *
    * Scale shape: same as the sequential fit (iterations over the
    * vocab-sized frame, bounded B-row collects) with 1/B the job
    * count and 1/B the materialization barriers. */
  def textBpeFitBatched(spark: SparkSession, sfDir: String): DataFrame =
    textBpeFitBatchedOn(Tables.documents(spark, sfDir), BpeBatchIters, BpeBatchSize)

  /** The greedy rank-order independence filter over a ranked candidate
    * pool (see [[textBpeFitBatched]]'s rule): candidate i survives iff
    * against every earlier KEPT candidate its symbols are disjoint and
    * neither side's concatenated output token equals a symbol of the
    * other. Extracted so the output-token clause is directly
    * unit-testable — the ('x','y') → ('xy','z') cascade it closes
    * needs a pool shape the char-initialized corpus fits don't readily
    * produce. */
  private[graft] def bpeGreedyKeep(
      pool: Seq[(String, String, Long)]): Seq[(String, String, Long)] = {
    val kept = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    pool.foreach { case cand @ (l, r, _) =>
      val out = l + r
      val ok = kept.forall { case (kl, kr, _) =>
        kl != l && kl != r && kr != l && kr != r &&
          (kl + kr) != l && (kl + kr) != r && out != kl && out != kr
      }
      if (ok) kept += cand
    }
    kept.toSeq
  }

  private[graft] def textBpeFitBatchedOn(docs: DataFrame, iters: Int,
      batch: Int, stopAtMerges: Int = Int.MaxValue,
      progress: (Int, Int, Int) => Unit = (_, _, _) => ()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .filter($"text".isNotNull)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(concat(array_join(split($"w", ""), " "), lit(" </w>")).as("seq"),
        $"cnt")
    bpeFitBatchedLoop(words, iters, batch, stopAtMerges, progress)
  }

  /** The batched fit over BYTE symbols — [[textBpeFitBatchedOn]]'s
    * alphabet swapped for the [[BytePretokenPattern]] pretokens'
    * hex-pair sequences (the loop is shared, so the two modes cannot
    * drift): the trainer shape a production 32k-merge BYTE vocabulary
    * is actually fit with. Measurement tool surface (BpeScaleProbe
    * `bytes` mode), not a driver-contract key — the contract byte fit
    * is the sequential [[textBpeFitBytesOn]]. */
  private[graft] def textBpeFitBatchedBytesOn(docs: DataFrame, iters: Int,
      batch: Int, stopAtMerges: Int = Int.MaxValue,
      progress: (Int, Int, Int) => Unit = (_, _, _) => ()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = bytePretokens(docs).select(byteSeq($"w").as("seq"), $"cnt")
    bpeFitBatchedLoop(words, iters, batch, stopAtMerges, progress)
  }

  /** The alphabet-agnostic batched-fit loop body shared by the word
    * and byte trainers (pool agg → greedy keep → chained rewrite per
    * pass; see [[textBpeFitBatched]]'s rule). */
  private def bpeFitBatchedLoop(words: DataFrame, iters: Int, batch: Int,
      stopAtMerges: Int,
      progress: (Int, Int, Int) => Unit): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    var cur = Materialize.frame(words)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var step = 1
    var pass = 0
    while (pass < iters && out.size < stopAtMerges) {
      pass += 1
      val s = split($"seq", " ")
      val pairArr = zip_with(
        slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
        (a, b) => struct(a.as("lhs"), b.as("rhs")))
      val pool = cur.select($"cnt", explode(pairArr).as("p"))
        .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
        .agg(sum($"cnt").as("c"))
        .orderBy($"c".desc, $"lhs".asc, $"rhs".asc)
        .limit(batch).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val kept = bpeGreedyKeep(pool.toSeq)
      if (kept.nonEmpty) {
        var fused = concat(lit(" "), $"seq", lit(" "))
        kept.foreach { case (l, r, c) =>
          out += ((step, l, r, c))
          step += 1
          def fuse(col: Column): Column =
            replace(col, lit(s" $l $r "), lit(s" $l$r "))
          fused = fuse(fuse(fused))
        }
        val rewritten = cur.select(trim(fused).as("seq"), $"cnt")
        // materialize only when another pass will re-aggregate it — on
        // the final pass `cur` is never read again (the merges are the
        // output), so the checkpoint job would be pure waste (r22)
        cur = if (pass < iters && out.size < stopAtMerges)
          Materialize.frame(rewritten) else rewritten
      }
      progress(pass, kept.size, out.size)
    }
    out.toSeq.toDF("step", "lhs", "rhs", "pair_count").orderBy($"step")
  }

  // ──────────────────── byte-level / pretokenizer BPE ────────────────────

  /** GPT-2-family pretokenizer (r17 VERDICT #3), RE2-safe so the SAME
    * pattern string runs in Spark (java.util.regex) and the DuckDB
    * oracle (RE2): contractions, optionally-space-prefixed letter /
    * digit / punctuation runs, whitespace runs. Two deliberate
    * deviations from GPT-2's exact pattern, both forced by RE2's lack
    * of lookahead: the `\s+(?!\S)` trailing-whitespace branch is
    * dropped, so a run of 2+ whitespace chars is ONE token and the
    * following word carries no leading space (single spaces attach to
    * the next word exactly as in GPT-2), and `\s` is spelled as an
    * explicit class because Java's `\s` includes `\x0B` where RE2's
    * does not. Both engines are leftmost-first with ordered
    * alternation, so the pretoken streams agree byte-for-byte — the
    * hash gate pins it at every SF. Every character lands in exactly
    * one branch, so the concatenation of a text's pretokens IS the
    * text: byte-level decode is EXACT (no whitespace-normalization
    * loss, unlike the space-split word tokenizer). */
  final val BytePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\p{L}\\p{N} \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+"

  /** A pretoken as its UTF-8 byte sequence, one lowercase hex pair per
    * byte, space-joined — the byte-level base alphabet (≤256 symbols,
    * the GPT-2 byte fallback: NO unknown-token case can exist). Merged
    * symbols concatenate whole pairs, so every symbol is an
    * even-length hex string, concatenations stay pair-aligned, and
    * decode is replace(' ','') + unhex — no end-of-word marker needed
    * (pretokens carry their own spaces, and merges cannot cross
    * pretoken boundaries because the vocab frame is one row per
    * pretoken). */
  private[graft] def byteSeq(w: Column): Column =
    trim(regexp_replace(lower(hex(encode(w, "UTF-8"))), "(..)", "$1 "))

  /** The (w, cnt) pretoken-frequency frame — byte mode's analogue of
    * the space-split word table: ONE corpus-sized shuffle, everything
    * downstream is vocabulary-sized. */
  private def bytePretokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter($"text".isNotNull)
      .select(explode(regexp_extract_all($"text",
        lit(BytePretokenPattern), lit(0))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
  }

  /** BYTE-LEVEL BPE fit: [[textBpeFit]]'s merge learner over the
    * [[BytePretokenPattern]] pretoken stream with UTF-8-byte base
    * symbols — the production-tokenizer shape (GPT-2 family: regex
    * pretokenize, byte fallback, no unknown token). Reuses
    * [[bpeFitLoop]] verbatim (the fit is alphabet-agnostic); the merge
    * table's lhs/rhs are hex-pair strings. Scale shape identical to
    * the word fit: every rewrite runs over the vocabulary-sized frame,
    * the corpus is touched once. */
  def textBpeFitBytes(spark: SparkSession, sfDir: String): DataFrame =
    textBpeFitBytesOn(Tables.documents(spark, sfDir), BpeFitMerges)

  private[graft] def textBpeFitBytesOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = bytePretokens(docs).select(byteSeq($"w").as("seq"), $"cnt")
    val (_, merges) = bpeFitLoop(words, k)
    merges.toDF("step", "lhs", "rhs", "pair_count").orderBy($"step")
  }

  /** The byte-mode encoded vocabulary after k fitted merges — the
    * frozen artifact the byte encode joins the pretoken stream
    * against (same shape as [[bpeEncodedVocab]], keyed by pretoken). */
  private[graft] def bpeEncodedVocabBytes(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (encoded, _) = bpeFitLoop(
      bytePretokens(docs).select($"w", byteSeq($"w").as("seq"), $"cnt"), k)
    encoded.select($"w", $"seq",
      size(split($"seq", " ")).cast("long").as("n_sub"))
  }

  /** BYTE-LEVEL BPE token counting — [[textTokenCountBpe]]'s variant
    * key at production-tokenizer semantics (r17 VERDICT #3): fit
    * [[BpeFitMerges]] byte merges, rewrite the pretoken VOCABULARY
    * once per merge, join each document's pretoken stream back against
    * the encoded vocab. Emits per document the subword token count and
    * the in-order token sequence (hex-pair symbols). Corpus touched
    * exactly twice (pretoken frequency table, final stream→vocab hash
    * join); the per-doc reassembly is the doc-bounded
    * collect_list+array_sort idiom — same exchanges as the word-mode
    * encode, nothing new at 100 TB. */
  def textTokenCountBpeBytes(spark: SparkSession, sfDir: String): DataFrame =
    textBpeEncodeBytesOn(Tables.documents(spark, sfDir), BpeFitMerges)

  private[graft] def textBpeEncodeBytesOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.filter($"doc_id".isNotNull && $"text".isNotNull)
    val enc = bpeEncodedVocabBytes(d, k)
    d.select($"doc_id", posexplode(regexp_extract_all($"text",
        lit(BytePretokenPattern), lit(0))).as(Seq("pos", "w")))
      .join(enc, "w")
      .groupBy($"doc_id")
      .agg(sum($"n_sub").as("bpe_tokens"),
        array_join(transform(array_sort(collect_list(struct($"pos", $"seq"))),
          s => s.getField("seq")), " ").as("token_seq"))
      .select($"doc_id", $"bpe_tokens", $"token_seq")
      .orderBy($"doc_id")
  }

  /** BYTE-LEVEL BPE decode — the EXACT inverse of
    * [[textTokenCountBpeBytes]] (byte mode round-trips the original
    * text verbatim, whitespace included, where the word tokenizer
    * could only round-trip its space-normalized form — the reason a
    * production tokenizer is byte-level): strip the symbol-boundary
    * spaces, unhex, UTF-8 decode. `roundtrip_ok` compares against the
    * untouched original as a hash-checked RESULT. Pure map work over
    * the encode output — no new shuffle. */
  def textBpeDecodeBytes(spark: SparkSession, sfDir: String): DataFrame =
    textBpeDecodeBytesOn(Tables.documents(spark, sfDir), BpeFitMerges)

  private[graft] def textBpeDecodeBytesOn(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    textBpeEncodeBytesOn(docs, k)
      .select($"doc_id",
        decode(unhex(replace($"token_seq", lit(" "), lit(""))), "UTF-8")
          .as("decoded_text"))
      .join(docs.select($"doc_id", $"text"), "doc_id")
      .select($"doc_id", $"decoded_text",
        ($"decoded_text" === $"text").as("roundtrip_ok"))
      .orderBy($"doc_id")
  }

  /** The byte-mode pretoken STREAM with reserved specials recognized
    * BEFORE the regex pretokenizer — the tiktoken/GPT-2 sequencing
    * (special tokens segment the text first; the regex only ever sees
    * the text BETWEEN them). Regex alternation alone cannot express
    * this: a special preceded by a space or punctuation would be
    * swallowed into a ` ?punct+` run (" <|" matches before the
    * special alternative is tried at the `<`), so the text is SPLIT on
    * the specials and each segment pretokenized independently.
    * Returns (doc_id, pos, w) where pos is a single long ordering key:
    * segment i's pretokens at (2i) · 2³² + offset, the special after
    * segment i at (2i+1) · 2³² — total order by construction, no
    * window function, no per-doc state. The whole interleave is ONE
    * higher-order-function projection + ONE explode Generate over ONE
    * scan (a union of a content branch and a marker branch would scan
    * the corpus twice per touch — at 100 TB that doubles the encode's
    * scan bill for nothing). */
  private def byteSpecialPretokenStream(docs: DataFrame,
      specials: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(specials.nonEmpty,
      "byteSpecialPretokenStream needs >= 1 special; use bytePretokens")
    // LONGEST-FIRST alternation (tiktoken's rule): regex alternation is
    // leftmost-first in declaration order, so a special that prefixes a
    // longer one would otherwise shadow it and silently break the
    // longer token's atomicity
    val alt = specials.sortBy(-_.length)
      .map(java.util.regex.Pattern.quote).mkString("|")
    // limit −1 keeps trailing empty segments: segment i is then ALWAYS
    // followed by matched special i (except the last), which is what
    // makes the interleaved position key correct
    val segs = split($"text", alt, -1)
    val sps = regexp_extract_all($"text", lit(alt), lit(0))
    val interleaved = flatten(transform(segs, (st, i) => concat(
      transform(regexp_extract_all(st, lit(BytePretokenPattern), lit(0)),
        (w, j) => struct(
          ((i.cast("long") * 2) * lit(1L << 32) + j).as("pos"), w.as("w"))),
      // the marker AFTER segment i — slice yields [] on the last segment
      transform(slice(sps, i + 1, lit(1)), w => struct(
        ((i.cast("long") * 2 + 1) * lit(1L << 32)).as("pos"), w.as("w"))))))
    docs.select($"doc_id", explode(interleaved).as("p"))
      .select($"doc_id", $"p.pos".as("pos"), $"p.w".as("w"))
  }

  /** [[byteSeq]] with SPECIAL-TOKEN RESERVATION — byte mode's analogue
    * of [[bpeWordSeqsWith]]'s atomic-symbol trick: a reserved pretoken
    * enters the vocab frame as ONE symbol (its full UTF-8 hex string,
    * unspaced) instead of its per-byte decomposition, so its seq has
    * zero adjacent pairs and the fit can never learn a merge inside it
    * — reservation falls out of the generic pair counter here exactly
    * as in word mode. The atomic symbol is still an even-length hex
    * string, so the standard byte decode (strip spaces + unhex)
    * round-trips it verbatim with no special-casing. */
  private[graft] def byteSeqWith(w: Column, specials: Seq[String]): Column =
    if (specials.isEmpty) byteSeq(w)
    else when(w.isin(specials: _*), lower(hex(encode(w, "UTF-8"))))
      .otherwise(byteSeq(w))

  /** SPECIAL-TOKEN BYTE-LEVEL BPE encode (r19 VERDICT #4 — the word
    * reservation proved the mechanism; THIS is the production
    * artifact: GPT-2-family tokenizers reserve `<|endoftext|>`-style
    * controls at the byte/pretokenizer level): every document arrives
    * with [[BpeDocToken]] prepended, segmentation-first pretokenizing
    * ([[byteSpecialPretokenStream]]) keeps the marker atomic at ANY
    * position, the fit sees it as one symbol (never merged into or
    * out of), the encode emits it as exactly one token (n_sub 1), and
    * the standard unhex decode round-trips the marked document
    * byte-exactly (spec-pinned). Same scale shape as the plain byte
    * encode — two corpus-sized touches, vocab-sized fit iterations;
    * segmentation adds one projection, not an exchange. */
  def textBpeEncodeSpecialBytes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", concat(lit(BpeDocToken + " "), $"text").as("text"))
    textBpeEncodeSpecialBytesOn(docs, BpeFitMerges, BpeSpecialTokens)
  }

  private[graft] def textBpeEncodeSpecialBytesOn(docs: DataFrame, k: Int,
      specials: Seq[String]): DataFrame = {
    // no specials → exactly the plain byte encode (an empty alternation
    // would otherwise split per character)
    if (specials.isEmpty) return textBpeEncodeBytesOn(docs, k)
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.filter($"doc_id".isNotNull && $"text".isNotNull)
    val stream = byteSpecialPretokenStream(d, specials)
    val words = stream.groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"w", byteSeqWith($"w", specials).as("seq"), $"cnt")
    val (encoded, _) = bpeFitLoop(words, k)
    val enc = encoded.select($"w", $"seq",
      size(split($"seq", " ")).cast("long").as("n_sub"))
    stream.join(enc, "w")
      .groupBy($"doc_id")
      .agg(sum($"n_sub").as("bpe_tokens"),
        array_join(transform(array_sort(collect_list(struct($"pos", $"seq"))),
          s => s.getField("seq")), " ").as("token_seq"))
      .select($"doc_id", $"bpe_tokens", $"token_seq")
      .orderBy($"doc_id")
  }

  /** VOCAB-SIZE-CAPPED byte fit — [[textBpeFitCappedOn]]'s production
    * twin (r19 VERDICT #4's other half): total byte vocabulary =
    * base alphabet (distinct byte symbols present, ≤256, plus one
    * atomic symbol per reserved special) + merges ≤ `vocabCap`, the
    * budget a GPT-2-family trainer actually sets. Same accounting
    * through the same shared loop: one distinct-agg over the
    * vocab-sized frame, then at most `vocabCap − |alphabet|` merges. */
  private[graft] def textBpeFitCappedBytesOn(docs: DataFrame, vocabCap: Int,
      specials: Seq[String] = Nil): (Int, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs.filter($"text".isNotNull)
    val pre =
      if (specials.isEmpty) bytePretokens(d).select($"w", $"cnt")
      else byteSpecialPretokenStream(d, specials)
        .groupBy($"w").agg(count(lit(1)).as("cnt"))
    val words = pre.select(byteSeqWith($"w", specials).as("seq"), $"cnt")
    val alphabet = words.select(explode(split($"seq", " ")).as("s"))
      .distinct().count().toInt
    val allowed = math.max(0, vocabCap - alphabet)
    val (_, merges) = bpeFitLoop(words, allowed)
    (alphabet, merges.toDF("step", "lhs", "rhs", "pair_count").orderBy($"step"))
  }

  /** Content fingerprint: minimum md5 over all character 8-grams —
    * winnowing-style document fingerprinting with an exactly mirrorable
    * SQL form (the rolling-FNV fast path at scale is SimHash64; this
    * variant keeps oracle parity). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    d.select(
        $"doc_id",
        graft.functions.MinMd5Grams($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** The built-in-composition form of the fingerprint, kept for the
    * differential spec pinning MinMd5Grams to identical output. */
  private[graft] def fingerprintUnfused(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(
        $"doc_id",
        array_min(transform(
          sequence(lit(1), greatest(length($"text") - 7, lit(1))),
          i => md5($"text".substr(i, lit(8))))).as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** Winnowing fingerprint sketch (Schleimer et al. 2003): one row per
    * selected gram hash — the distinct per-window minima of Karp–Rabin
    * 8-gram hashes (see graft.functions.WinnowImpl). This is the benched
    * fingerprint path: no cryptographic digest, ~8 multiply-adds per
    * byte, codegen'd and shuffle-free; the exhaustive min-md5 form
    * (text_fingerprint) stays as the oracle-parity showcase but is no
    * longer the headline bench entry. */
  def textFingerprintWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // explicit-width spread BEFORE the Karp–Rabin expansion (r22): the
    // bench corpus is a single-row-group file, so without it the whole
    // per-byte rolling-hash pass runs in the scan's ONE task (measured
    // ~0.8 s serialized at sf0.1 against ~0.1 s spread); the dedup
    // winnow searches already spread their identical expansion. The
    // final range sort re-shuffles regardless, so this only moves the
    // map work off the single scan task.
    Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id",
        explode(array_sort(array_distinct(
          graft.functions.GramWindowMins($"text")))).as("gram_min"))
      .orderBy($"doc_id", $"gram_min")
  }

  /** Word k-grams of a token array as one array column; empty below k
    * tokens (guarded — sequence(1, k<1) would produce a DESCENDING
    * sequence, not an empty one). */
  private[graft] def ngramArr(tokens: Column, k: Int): Column = {
    val n = size(tokens)
    when(n >= k,
      transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(tokens, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Repetition signals per document (the Gopher-style curation
    * filters): duplicate-word fraction, most-frequent-bigram share, and
    * duplicate-trigram fraction. Ratios are RAW IEEE divisions of exact
    * integers — bit-identical in any engine — because rounding them
    * would reopen the HALF_UP-vs-banker's tie hazard on binary-exact
    * fractions like 1/32 (see the verify notes).
    *
    * Scale shape: the word fraction is map-side; bigram/trigram stats
    * are two-phase aggregations keyed (doc_id, gram) then doc_id —
    * partial-agg combines before both exchanges, no all-pairs
    * anywhere. */
  /** Gopher word-count bounds (Rae et al. 2021 Table A1). */
  final val GopherMinWords = 50L
  final val GopherMaxWords = 100000L

  /** The repo's 10-word stopword vocabulary (the same literal the
    * heuristic quality score and the stopword filter use inline).
    * DELIBERATE deviation from Rae et al.'s published 8-word list
    * ("the, be, to, of, and, that, have, with"): the synthetic corpus
    * never conjugates ("be"/"have" absent), so the published list
    * would make r_stopwords vacuously false corpus-wide; this list
    * keeps the rule live on the test tables while the rule SHAPE
    * (≥ 2 distinct stopwords present) matches the paper. Swap the
    * literal for the published one on a real English corpus. */
  final val StopwordList: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** GOPHER RULES document filter (Rae et al. 2021 Table A1, the
    * document-level subset that applies to a line-free corpus — the
    * third standard public quality filter next to the heuristic score
    * and the learned classifier): per-document rule booleans plus the
    * keep conjunction, emitted as DIAGNOSTICS (the DataComp convention:
    * per-rule columns make the filter auditable; production keeps
    * `keep`). Every rule is INTEGER arithmetic — mean word length
    * bounds become 3n ≤ chars ≤ 10n over the single-space token
    * contract (total token chars = len(text) − (n−1)), the 80%-alpha
    * rule 5·a ≥ 4·n — so both engines compare exact longs; no rule
    * touches a float.
    *
    * Scale shape: pure per-row map work over one pruned scan + the
    * final sort — no shuffle at all before the output ordering; the
    * filter composes in front of any pipeline without adding an
    * exchange. */
  def textGopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherRulesOn(Tables.documents(spark, sfDir))

  /** The rule evaluation on any (doc_id, text) frame (spec entry
    * point: boundary-plantable docs). */
  private[graft] def gopherRulesOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    gopherRulesUnordered(docs).orderBy($"doc_id")
  }

  /** The rule projection without the final sort — the ONE rule
    * definition, shared with the streaming at-ingest twin (streams
    * cannot sort; the fold adds the ordering). */
  private[graft] def gopherRulesUnordered(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = split($"text", " ")
    val n = size(t).cast("long")
    val chars = length($"text").cast("long") - (n - 1L)
    val alphaWords = size(filter(t, x => x.rlike("[a-zA-Z]"))).cast("long")
    val stopDistinct = size(array_intersect(array_distinct(t),
      typedLit(StopwordList))).cast("long")
    val rCount = n >= GopherMinWords && n <= GopherMaxWords
    val rMeanLen = chars >= n * 3L && chars <= n * 10L
    val rAlpha = alphaWords * 5L >= n * 4L
    val rStop = stopDistinct >= 2L
    val rLorem = !$"text".contains("lorem ipsum")
    docs.select($"doc_id", n.as("n_words"),
        rCount.as("r_wordcount"), rMeanLen.as("r_meanlen"),
        rAlpha.as("r_alpha"), rStop.as("r_stopwords"), rLorem.as("r_lorem"),
        (rCount && rMeanLen && rAlpha && rStop && rLorem).as("keep"))
  }

  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // ScanAudit: documents=3 is DELIBERATE — the three branches (word
    // stats, bigram counts, trigram counts) derive different fan-outs
    // from the text column, so sharing would mean materializing one
    // corpus-wide exchange of token arrays; three pruned column scans
    // are cheaper than one full-width shuffle at any scale.
    val d = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("t"))
    // split on " " always yields ≥1 element, so the division is total
    val base = d.select($"doc_id",
      size($"t").cast("long").as("n_tokens"),
      (lit(1.0) - size(array_distinct($"t")).cast("double") /
        size($"t").cast("double")).as("dup_word_frac"))
    def gramCounts(k: Int) = d
      // explode_outer + null filter: the non-outer form makes the
      // optimizer re-evaluate the gram transform inside an inferred
      // size()>0 guard (same pattern as the dedup shingle expansion)
      .select($"doc_id", explode_outer(ngramArr($"t", k)).as("g"))
      .filter($"g".isNotNull)
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
    val bgs = gramCounts(2).groupBy($"doc_id")
      .agg(sum($"c").as("nb"), max($"c").as("mx"))
    val tgs = gramCounts(3).groupBy($"doc_id")
      .agg(sum($"c").as("nt"), count(lit(1)).as("dt"))
    base.join(bgs, Seq("doc_id"), "left")
      .join(tgs, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"dup_word_frac",
        coalesce($"mx".cast("double") / $"nb".cast("double"), lit(0.0))
          .as("top_bigram_frac"),
        coalesce(lit(1.0) - $"dt".cast("double") / $"nt".cast("double"), lit(0.0))
          .as("dup_trigram_frac"))
      .orderBy($"doc_id")
  }

  /** Corpus-curation rollup: quality metrics aggregated per (lang,
    * source) block. */
  def textStatsByGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    d.select($"lang", $"source", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        round(avg($"n_tokens"), 4).as("avg_tokens"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
      .orderBy($"lang")
  }

  /** Corpus-level bigram frequencies, top 20 — n-gram statistics for
    * vocabulary analysis (explode fan-out + count + bounded top-k). */
  def textTopBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select(explode(transform(sequence(lit(0), size($"t") - 2),
        i => concat_ws(" ", element_at($"t", i + 1), element_at($"t", i + 2))))
        .as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bigram".asc)
      .limit(20)
  }

  /** Top terms per document for [[textTfidfTopk]]. */
  final val TfidfTopK = 5

  /** TF-IDF top-[[TfidfTopK]] terms per document, with RAW-frequency
    * idf (score = tf/df) instead of log idf — a deliberate,
    * documented variant: tf and df are integers ≤ 2⁵³, so the score is
    * ONE correctly-rounded IEEE division that both engines compute
    * bit-identically, where tf·ln(N/df) would hang the rank order on
    * libm's ln (not required correctly rounded, so a one-ulp
    * divergence could flip a rank). The output score is additionally
    * floor-quantized to the 2⁻²⁰ grid (the mixture/IVF trick) so the
    * hashed value is an integer key.
    *
    * Scale shape: tf is one (doc_id, term) shuffle-agg; df is a COUNT
    * WINDOW over the term partition of the tf relation — tf rows are
    * unique per (doc, term), so the partition size IS the document
    * frequency, which replaces the agg+self-join formulation (two
    * passes over tf, a fragile shared subtree) with one linear
    * dataflow and ONE text scan by construction; the per-doc top-k is
    * a doc_id window, never a global sort. Every exchange moves
    * (term, counts) pairs, nothing re-reads text. */
  def textTfidfTopk(spark: SparkSession, sfDir: String): DataFrame =
    textTfidfTopkOn(Tables.documents(spark, sfDir))

  private[graft] def textTfidfTopkOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val wDf = Window.partitionBy($"term")
    val wRank = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term".asc)
    tf.withColumn("df", count(lit(1)).over(wDf))
      .withColumn("score", $"tf".cast("double") / $"df".cast("double"))
      .withColumn("rk", row_number().over(wRank))
      .filter($"rk" <= TfidfTopK)
      .select($"doc_id", $"rk", $"term", $"tf", $"df",
        floor($"score" * lit(1L << 20)).cast("long").as("score_q"))
      .orderBy($"doc_id", $"rk")
  }

  /** Stopword-filtered token counts — the curation transform that feeds
    * most downstream text statistics. */
  def textStopwordFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0 && !$"word".isInCollection(stop))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"word")
  }

  /** PII patterns, chosen to behave IDENTICALLY under Java regex
    * (Spark) and RE2 (DuckDB): character classes, bounded repetition,
    * alternation and `\b` only — no lookaround, no backrefs (RE2 has
    * neither), no `$`-style replacement metacharacters in the
    * placeholders. Both engines use leftmost-first alternation here,
    * so the octet alternatives match identically. */
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** One 0–255 octet, longest alternatives first, zero-padded forms
    * included ([01]?\d?\d accepts 000/010/192-style octets — log
    * output pads octets, and a redactor must not leak those).
    * Bounding the octets keeps version-like strings
    * (999.999.999.999, 1.2.3.456) out of the redaction; the first
    * four components of a longer valid dotted run (1.2.3.4.5) still
    * scrub — excluding that would need lookaround, which RE2 lacks. */
  private final val Ipv4Octet = "(25[0-5]|2[0-4]\\d|[01]?\\d?\\d)"
  final val Ipv4Re = s"\\b$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\b"
  final val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before anything else sees the text: emails, IPv4s and
    * phone-shaped numbers replaced by typed placeholders, with
    * per-document match counts (counted on the ORIGINAL text,
    * per-pattern; redaction applies email → ip → phone on the running
    * result). Pure per-row regexp map work, shuffle-free; the full
    * redacted text is part of the oracle hash, so Java-vs-RE2
    * replacement semantics are verified byte-for-byte on every row. */
  def textRedactPii(spark: SparkSession, sfDir: String): DataFrame =
    redactFrame(Tables.documents(spark, sfDir))

  /** The redaction chain as a reusable column (email → ip → phone on
    * the running result), shared by [[redactFrame]] and the full
    * curation pipeline's redact-first stage so they cannot drift;
    * [[redactedSqlExpr]] is its DuckDB twin. */
  private[graft] def redactedCol(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Total PII match count on the ORIGINAL text (the pipeline's
    * per-language audit column). Per-pattern counts on the original,
    * like [[redactFrame]]'s documented contract — a span matching two
    * patterns (an email whose local part is phone-shaped) counts once
    * per pattern even though the sequential redaction chain replaces
    * it once, so the audit upper-bounds replacements. */
  private[operators] def piiCount(t: Column): Column =
    (regexp_count(t, lit(EmailRe)) + regexp_count(t, lit(Ipv4Re)) +
      regexp_count(t, lit(PhoneRe))).cast("long")

  /** DuckDB twin of [[redactedCol]] over a `text` column. */
  private[graft] val redactedSqlExpr: String =
    s"""regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$Ipv4Re', '<IP>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g')""".stripMargin

  /** DuckDB twin of [[piiCount]] over a `text` column. */
  private[operators] val piiCountSqlExpr: String =
    s"""(len(regexp_extract_all(text, '$EmailRe')) +
       |    len(regexp_extract_all(text, '$Ipv4Re')) +
       |    len(regexp_extract_all(text, '$PhoneRe')))::BIGINT""".stripMargin

  /** The 2⁻²⁰ probability-quantization grid for [[textLmScore]] (the
    * mixture/TF-IDF trick): scaling by 2²⁰ is exponent arithmetic —
    * EXACT in IEEE — so each bigram's quantized probability carries
    * exactly ONE rounded operation (the division). */
  final val LmQuantum: Long = 1L << 20

  /** LM quality scoring, CCNet-style (Wenzek et al. 2020 §4.3: rank
    * crawled documents by a language model trained on trusted text): a
    * Laplace-smoothed BIGRAM model is fitted on the PRIOR snapshot
    * slice — the incremental family's split, scoring the fresh crawl
    * against the corpus already ingested — and each fresh document is
    * scored by its mean smoothed bigram probability
    * q(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V), V = fit-slice vocabulary size.
    *
    * Deliberately probability-mean, not log-perplexity: counts and V
    * are integers < 2⁵³ (exact double conversion), each bigram's score
    * is ONE correctly-rounded IEEE division scaled by an exact power
    * of two and floored to a LONG, the per-doc sum is integer, and the
    * final mean is one more exact-integer division — bit-identical on
    * any engine, where ln() would hang the ranking on libm (the
    * TF-IDF raw-frequency-idf argument). Monotone per-bigram in the
    * true probability, so the RANKING a curation gate consumes is the
    * perplexity ranking up to the mean-vs-geometric-mean choice.
    *
    * Scale shape: the model is two count relations — bigrams and
    * unigrams of the trusted slice, one shuffle-agg each — plus a
    * 1-row vocabulary total (broadcast); scoring is the fresh bigram
    * fan-out hash-joined against them on (w1, w2) / (w1), then one
    * per-doc agg. At 100 TB the model tables are top-K-pruned
    * (unseen/rare n-grams all collapse to the same smoothed floor, so
    * pruning the tail only re-buckets scores the floor already
    * dominates) and broadcast; the fit is once-per-snapshot, exactly
    * like the quantizer fits. */
  /** CCNet's actual USE of the LM score (Wenzek et al. 2020 §4.3):
    * bucket the scored corpus into head/middle/tail TERTILES — head =
    * best-scored third, the slice kept outright; tail = the discard
    * candidate. Bucket = (rank−1)·3 div N over (score DESC, doc_id) —
    * exact integer arithmetic with deterministic ties, matching the
    * oracle's row_number formulation.
    *
    * Scale shape: ranking uses the range-partitioned sort +
    * per-partition zipWithIndex offsets (the WordCount.ranked /
    * packPrepared pattern) — every partition stays parallel, no global
    * window funnel; the scored frame materializes once (it is the
    * artifact CCNet stores) and N collects off it as one Long. */
  def textLmBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val scored = graft.operators.Materialize.frame(textLmScore(spark, sfDir))
    val n = scored.count()
    val sorted = scored.orderBy($"score".desc, $"doc_id".asc)
    val schema = StructType(sorted.schema.fields :+
      StructField("bucket", LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i * 3 / n)
    }
    spark.createDataFrame(rdd, schema).orderBy($"doc_id")
  }

  def textLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = Dedup.snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    textLmScoreOn(prior, fresh)
  }

  /** (doc_id, w1, w2) bigram-occurrence fan-out — the ONE bigram
    * definition, shared by the fit and both the batch and streaming
    * scoring paths. */
  private[graft] def lmBigrams(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      .select($"doc_id", explode(transform(sequence(lit(0), size($"t") - 2),
        i => struct(element_at($"t", i + 1).as("w1"),
          element_at($"t", i + 2).as("w2")))).as("bg"))
      .select($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
  }

  /** The fitted LM: bigram counts, unigram counts, and the 1-row
    * vocabulary total. */
  private[graft] def lmModelOn(fit: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val spark = fit.sparkSession
    import spark.implicits._
    val c2 = lmBigrams(fit).groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = fit.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    (c2, c1, c1.agg(count(lit(1)).as("v")))
  }

  /** The scoring frame's model joins (caller supplies the `v` column —
    * crossJoin(broadcast) batch-side, a collected literal stream-side). */
  private[graft] def lmScoredBigrams(score: DataFrame, c2: DataFrame,
      c1: DataFrame): DataFrame = {
    val spark = score.sparkSession
    import spark.implicits._
    lmBigrams(score)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1.withColumnRenamed("w", "w1"), Seq("w1"), "left")
  }

  /** Per-bigram quantized smoothed probability over a joined frame
    * carrying nullable c2/c1 and a `v` column — the single rounded
    * division (see [[textLmScore]]). */
  private[graft] def lmQf(joined: DataFrame): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined.select($"doc_id",
      floor((coalesce($"c2", lit(0L)) + lit(1L)).cast("double") /
        (coalesce($"c1", lit(0L)) + $"v").cast("double") *
        lit(LmQuantum.toDouble)).cast("long").as("qf"))
  }

  /** The transform of [[textLmScore]] over any (fit, score) pair of
    * (doc_id, text) frames (spec entry point: hand-computable fits). */
  private[graft] def textLmScoreOn(fit: DataFrame, score: DataFrame): DataFrame = {
    val spark = fit.sparkSession
    import spark.implicits._
    val (c2r, c1r, _) = lmModelOn(fit)
    // the model tables materialize once — they ARE the artifact a
    // production pipeline stores, and the streaming twin reads them
    // the identical way; the vocabulary size collects off the
    // checkpointed unigram table. Without this the vocab scalar and
    // the c1 join leg each re-ran the fit-slice aggregation from the
    // scan (ScanAudit measured documents=4; now the two model builds
    // are the only fit-slice passes).
    val c2 = graft.operators.Materialize.frame(c2r)
    val c1 = graft.operators.Materialize.frame(c1r)
    val v = c1.count()
    lmQf(lmScoredBigrams(score, c2, c1).withColumn("v", lit(v)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"qf").as("sum_q"))
      .select($"doc_id", $"n_bigrams", $"sum_q",
        ($"sum_q".cast("double") / $"n_bigrams".cast("double")).as("score"))
      .orderBy($"doc_id")
  }

  /** Hashed-feature space for the LEARNED quality classifier: power-of-
    * two bucket count so bucketing is a bitwise AND — identical on the
    * engine's signed long and the oracle's unsigned md5 value (bit
    * pattern, not modulo, so sign conventions cannot diverge). */
  final val QmBuckets = 4096
  /** Probability quantum (the 2⁻²⁰ grid every cross-engine probability
    * in this repo lives on). */
  final val QmQuantum: Long = 1L << 20
  /** Teacher threshold splitting the fit slice into quality classes:
    * the heuristic [[qualityScore]]'s corpus median (~0.561 at sf0.01),
    * so both classes are populated — the DCLM/fastText bootstrap where
    * a cheap signal labels the data a learned scorer then generalizes. */
  final val QmLabelThreshold = 0.56

  /** Hashed n-gram feature expansion: one row per unigram and per
    * bigram occurrence, bucketed to [[QmBuckets]] by md5-low64 & mask.
    * Bigram text is the two consecutive tokens joined by ' ' — the
    * contiguous byte slice, same convention as every gram family here.
    * All non-`text` columns pass through (the fit side rides its label
    * through the expansion instead of re-joining corpus-sized frames). */
  private[graft] def qmFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keep = docs.columns.filter(_ != "text").map(col).toSeq
    // ONE generator over the FUSED unigram+bigram bucket walk
    // (QmFeatureBuckets). The r1–r13 form composed transform() lambdas
    // over a token array — ArrayTransform has no codegen, so every gram
    // paid the per-element interpreter (~18 µs/gram vs the 0.5 µs
    // hash; the dsir target fit measured 3.2 warm CPU-s for 176k
    // grams). The fused expression is a static call inside whole-stage
    // codegen; TextAnalysisSpec pins fused ≡ unfused per doc.
    docs.select(keep :+ explode(graft.functions.QmFeatureBuckets(
      $"text", (QmBuckets - 1).toLong)).as("b"): _*)
  }

  /** The r1–r13 unfused feature expansion, kept as the differential
    * spec's reference implementation (fused ≡ this, per doc). */
  private[graft] def qmFeaturesUnfused(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keep = docs.columns.filter(_ != "text").map(col).toSeq
    val mask = lit((QmBuckets - 1).toLong)
    def bk(c: Column): Column = graft.functions.Md5Lower64(c).bitwiseAND(mask)
    val t = split($"text", " ")
    val feats = concat(
      transform(t, w => bk(w)),
      when(size(t) >= 2, transform(sequence(lit(0), size(t) - 2),
        i => bk(concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2)))))
        .otherwise(array().cast("array<long>")))
    docs.select(keep :+ explode(feats).as("b"): _*)
  }

  /** Closed-form fit: per bucket, the Laplace-smoothed positive-class
    * probability on the 2⁻²⁰ grid — (cpos+1)·Q div (cpos+cneg+2), ALL
    * INTEGER arithmetic (exact on both engines; no logs, no libm). The
    * model is ≤ [[QmBuckets]] rows at ANY corpus size — the broadcast
    * artifact a production pipeline stores. */
  private[graft] def qmModelOn(fit: DataFrame): DataFrame = {
    val spark = fit.sparkSession
    import spark.implicits._
    val labeled = fit.select($"doc_id", $"text",
      (qualityScore($"text") >= lit(QmLabelThreshold)).as("pos"))
    qmFeatures(labeled.select($"text", $"pos"))
      .groupBy($"b")
      .agg(sum(when($"pos", 1L).otherwise(0L)).as("cpos"),
        sum(when(!$"pos", 1L).otherwise(0L)).as("cneg"))
      .select($"b",
        expr(s"((cpos + 1) * $QmQuantum) div (cpos + cneg + 2)").as("qv"))
  }

  /** LEARNED quality scoring — the third standard quality signal next
    * to the heuristic `text_quality` and the bigram LM `text_lm_score`:
    * a linear scorer over hashed n-gram features (the fastText/DCLM
    * quality-classifier shape), fitted closed-form (Naive-Bayes-style
    * per-feature class probabilities — one distributed counting pass,
    * no iterations, which is what keeps the fit oracle-mirrorable) on
    * the heuristic-labeled PRIOR slice and applied to the FRESH slice.
    * Score = mean quantized positive-class probability of the doc's
    * features; unseen buckets score the 1/2 prior.
    *
    * Scale shape: fit = one shuffle of the fit expansion onto ≤4096
    * bucket keys (map-side partial agg does the heavy lifting); model
    * materializes once (the stored artifact) and BROADCASTS into the
    * scoring expansion, so the fresh side never shuffles its features —
    * map work + the per-doc agg. The streaming twin
    * (`stream_quality_model`) reads the same model frame at ingest. */
  def textQualityModel(spark: SparkSession, sfDir: String): DataFrame = {
    // Expansion parallelism decoupled from input-split count: the gram
    // fan-out (an md5 per unigram AND bigram — millions of hashes) is
    // compute-bound map work, and a single-file scan would serialize it
    // onto one core (measured: wall ≈ executor CPU at sf0.1). The
    // round-robin exchange moves raw doc bytes once — orders of
    // magnitude cheaper than the hashing it parallelizes; at production
    // split counts it only rebalances skew.
    val (prior, fresh) = Dedup.snapshotSplit(Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism), "doc_id")
    textQualityModelOn(prior, fresh)
  }

  /** The transform over any (fit, score) pair of (doc_id, text) frames
    * (spec entry point: hand-computable 3-doc fits). */
  private[graft] def textQualityModelOn(fit: DataFrame, score: DataFrame): DataFrame = {
    val spark = fit.sparkSession
    import spark.implicits._
    val model = graft.operators.Materialize.frame(qmModelOn(fit))
    qmScoreAgainst(score, model)
  }

  /** Per-doc scoring aggregate against an explicit model frame — the
    * seam the streaming twin injects the materialized artifact through
    * (streaming-safe: no sort; the batch tail below adds score+order). */
  private[graft] def qmPerDocAgg(score: DataFrame, model: DataFrame): DataFrame = {
    val spark = score.sparkSession
    import spark.implicits._
    qmFeatures(score.select($"doc_id", $"text"))
      .join(broadcast(model), Seq("b"), "left")
      .select($"doc_id", coalesce($"qv", lit(QmQuantum / 2)).as("qv"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"), sum($"qv").as("sum_q"))
  }

  private[graft] def qmScoreAgainst(score: DataFrame, model: DataFrame): DataFrame = {
    val spark = score.sparkSession
    import spark.implicits._
    qmPerDocAgg(score, model)
      .select($"doc_id", $"n_feats", $"sum_q",
        ($"sum_q".cast("double") / $"n_feats".cast("double")).as("score"))
      .orderBy($"doc_id")
  }

  /** The transform of [[textRedactPii]] on any (doc_id, text) frame
    * (spec entry point: plantable PII inputs). */
  private[graft] def redactFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = $"text"
    docs.select(
        $"doc_id",
        regexp_count(t, lit(EmailRe)).as("n_emails"),
        regexp_count(t, lit(Ipv4Re)).as("n_ipv4"),
        regexp_count(t, lit(PhoneRe)).as("n_phones"),
        redactedCol(t).as("redacted"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_redact_pii" -> textRedactPii,
    "text_top_bigrams" -> textTopBigrams,
    "text_stopword_filtered" -> textStopwordFiltered,
    "text_langid" -> textLangId,
    "text_quality" -> textQuality,
    "text_tokencount" -> textTokenCount,
    "text_tokencount_bpe" -> textTokenCountBpe,
    "text_bpe_fit" -> ((s, dir) => textBpeFit(s, dir)),
    "text_bpe_fit_batched" -> ((s, dir) => textBpeFitBatched(s, dir)),
    "text_bpe_encode" -> ((s, dir) => textBpeEncode(s, dir)),
    "text_bpe_encode_special" -> ((s, dir) => textBpeEncodeSpecial(s, dir)),
    "text_bpe_encode_special_bytes" ->
      ((s, dir) => textBpeEncodeSpecialBytes(s, dir)),
    "text_bpe_decode" -> ((s, dir) => textBpeDecode(s, dir)),
    "text_bpe_fit_bytes" -> ((s, dir) => textBpeFitBytes(s, dir)),
    "text_tokencount_bpe_bytes" -> ((s, dir) => textTokenCountBpeBytes(s, dir)),
    "text_bpe_decode_bytes" -> ((s, dir) => textBpeDecodeBytes(s, dir)),
    "text_fingerprint" -> textFingerprint,
    "text_fingerprint_winnow" -> textFingerprintWinnow,
    "text_stats_by_lang" -> textStatsByGroup,
    "text_repetition" -> textRepetition,
    "text_gopher_rules" -> textGopherRules,
    "text_tfidf_topk" -> textTfidfTopk,
    "text_lm_score" -> textLmScore,
    "text_lm_buckets" -> textLmBuckets,
    "text_quality_model" -> textQualityModel,
  )

  /** The learned quality scorer's full SQL derivation as named CTEs —
    * fit (heuristic labels → hashed features → integer-smoothed model)
    * over `fitSrc` (any relation with a `text` column) and per-doc
    * scores over `scoreSrc` (any relation with `doc_id, text`),
    * terminating in `qm_scores(doc_id, n_feats, sum_q)`. ONE
    * definition, spliced into both the standalone `text_quality_model`
    * oracle and the learned-gate pipeline oracle so the model
    * arithmetic cannot drift. */
  private[operators] def qmScoreCtes(fitSrc: String, scoreSrc: String): String =
    s"""qm_lab AS (
       |  SELECT text, ($qualitySqlExpr) >= ${QmLabelThreshold}::DOUBLE AS pos
       |  FROM $fitSrc
       |),
       |qm_labt AS (SELECT pos, string_split(text, ' ') AS t FROM qm_lab),
       |qm_ffeat AS (
       |  SELECT pos, md5_number_lower(w) & ${QmBuckets - 1} AS b
       |  FROM (SELECT pos, unnest(t) AS w FROM qm_labt)
       |  UNION ALL
       |  SELECT pos, md5_number_lower(bg) & ${QmBuckets - 1} AS b
       |  FROM (SELECT pos, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
       |        FROM qm_labt WHERE len(t) >= 2)
       |),
       |qm_model AS (
       |  SELECT b, count(*) FILTER (WHERE pos) AS cpos,
       |    count(*) FILTER (WHERE NOT pos) AS cneg
       |  FROM qm_ffeat GROUP BY b
       |),
       |qm_q AS (SELECT b, (cpos + 1) * $QmQuantum // (cpos + cneg + 2) AS qv FROM qm_model),
       |qm_st AS (SELECT doc_id, string_split(text, ' ') AS t FROM $scoreSrc),
       |qm_sfeat AS (
       |  SELECT doc_id, md5_number_lower(w) & ${QmBuckets - 1} AS b
       |  FROM (SELECT doc_id, unnest(t) AS w FROM qm_st)
       |  UNION ALL
       |  SELECT doc_id, md5_number_lower(bg) & ${QmBuckets - 1} AS b
       |  FROM (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
       |        FROM qm_st WHERE len(t) >= 2)
       |),
       |qm_j AS (SELECT doc_id, coalesce(qv, ${QmQuantum / 2}) AS qv
       |         FROM qm_sfeat LEFT JOIN qm_q USING (b)),
       |qm_scores AS (
       |  SELECT doc_id, count(*) AS n_feats, CAST(sum(qv) AS BIGINT) AS sum_q
       |  FROM qm_j GROUP BY doc_id
       |)""".stripMargin

  /** The BPE merges fixture as a SQL VALUES body, spliced into the
    * `text_tokencount_bpe` and `cur_pack_bins_bpe` oracles from the
    * same source (BpeImpl.Vocab) so they cannot drift. Every piece is
    * ASCII with no quote characters except `'`, which doubles. */
  private[operators] def bpeVocabValues: String =
    graft.functions.BpeImpl.Vocab
      .map(p => "('" + p.replace("'", "''") + "')").mkString(", ")

  /** The engine's Karp–Rabin term constants, embedded in the oracle SQL
    * from the same source (WinnowImpl.coef) so they cannot drift. */
  private val winnowGramTerms: String = graft.functions.WinnowImpl.coef.zipWithIndex
    .map { case (c, j) => s"ascii(text[i+$j:i+$j])::BIGINT*$c" }
    .mkString(" + ")

  /** The winnowed-fingerprint derivation as named CTEs terminating in
    * `wfp(doc_id, fp)` — fp the DISTINCT window-min list per document.
    * ONE definition spliced into the `text_fingerprint_winnow` oracle
    * and the MOSS pair-search oracle (`dedup_winnow_pairs`) so the
    * Karp–Rabin/winnow arithmetic cannot drift between them. */
  private[operators] def winnowFpsCtes: String =
    s"""wg AS (
       |  SELECT doc_id,
       |    [($winnowGramTerms) % ${graft.functions.WinnowImpl.Mod}
       |     for i in range(1, greatest(length(text) - ${graft.functions.WinnowImpl.GramLen - 1}, 0) + 1)] h
       |  FROM documents
       |),
       |wfp AS (
       |  SELECT doc_id, list_distinct(
       |    [list_min(h[i:i+${graft.functions.WinnowImpl.Window - 1}])
       |     for i in range(1, len(h) - ${graft.functions.WinnowImpl.Window} + 2)]) AS fp
       |  FROM wg
       |)""".stripMargin

  /** Marker-fraction SQL for one language profile, generated from the
    * same `profiles` constants the engine uses. */
  private def langScoreSql(markers: Seq[String]): String =
    s"len(list_filter(toks, x -> list_contains(${markers.mkString("['", "', '", "']")}, x)))::DOUBLE / greatest(len(toks), 1)::DOUBLE"

  /** The text_lm_score derivation WITHOUT the final ORDER BY — the
    * reusable body the bucket oracle wraps. */
  private val lmScoreSqlBody: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
         |fitb AS (
         |  SELECT unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS bg
         |  FROM toks
         |  WHERE ${Dedup.priorSql("doc_id")}
         |    AND len(t) >= 2
         |),
         |c2 AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c2
         |       FROM fitb GROUP BY bg.w1, bg.w2),
         |c1 AS (SELECT w, count(*) AS c1 FROM (
         |         SELECT unnest(t) AS w FROM toks
         |         WHERE ${Dedup.priorSql("doc_id")})
         |       GROUP BY w),
         |tot AS (SELECT count(*) AS v FROM c1),
         |fb AS (
         |  SELECT doc_id,
         |    unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS bg
         |  FROM toks
         |  WHERE ${Dedup.freshSql("doc_id")}
         |    AND len(t) >= 2
         |),
         |scored AS (
         |  SELECT fb.doc_id,
         |    CAST(floor((COALESCE(c2.c2, 0) + 1)::DOUBLE
         |      / (COALESCE(c1.c1, 0) + tot.v)::DOUBLE
         |      * $LmQuantum.0) AS BIGINT) AS qf
         |  FROM fb
         |  LEFT JOIN c2 ON c2.w1 = fb.bg.w1 AND c2.w2 = fb.bg.w2
         |  LEFT JOIN c1 ON c1.w = fb.bg.w1
         |  CROSS JOIN tot
         |)
         |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(qf) AS BIGINT) AS sum_q,
         |  CAST(sum(qf) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS score
         |FROM scored GROUP BY doc_id""".stripMargin

  /** The per-step CTE chain shared by every sequential-fit oracle
    * (word AND byte mode — the fit is alphabet-agnostic): per step i,
    * p_i (pair counts) → t_i (argmax, count DESC / lhs / rhs) → w_i
    * (the double-replace rewrite — identical leftmost non-overlapping
    * semantics in both engines). `carryW` threads the raw pretoken `w`
    * through every rewrite for the encode oracles (seq is injective in
    * w, so the extra column cannot perturb the pair counts). */
  private def bpeStepCtes(k: Int, carryW: Boolean): String = {
    val wSel = if (carryW) "w, " else ""
    (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT s[j] AS lhs, s[j + 1] AS rhs, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT s, cnt, unnest(range(1, len(s))) AS j
         |        FROM (SELECT string_split(seq, ' ') AS s, cnt FROM w${i - 1}))
         |  GROUP BY 1, 2),
         |t$i AS (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
         |w$i AS (
         |  SELECT ${wSel}trim(replace(replace(' ' || seq || ' ',
         |    ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' '),
         |    ' ' || lhs || ' ' || rhs || ' ', ' ' || lhs || rhs || ' ')) AS seq, cnt
         |  FROM w${i - 1}, t$i)""".stripMargin
    }.mkString(",\n")
  }

  private def bpeMergeSelect(k: Int): String = (1 to k)
    .map(i => s"SELECT $i AS step, lhs, rhs, c AS pair_count FROM t$i")
    .mkString("\nUNION ALL ") + "\nORDER BY step"

  /** `text_bpe_fit` unrolled: w0 = the word-frequency sequences, then
    * the shared [[bpeStepCtes]] chain (textBpeFitOn scaladoc defines
    * the behavior). */
  private[graft] def bpeFitSql(k: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT array_to_string(string_split(w, ''), ' ') || ' </w>' AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |        WHERE len(w) > 0 GROUP BY w))""".stripMargin
    s"WITH $w0,\n${bpeStepCtes(k, carryW = false)}\n${bpeMergeSelect(k)}"
  }

  /** [[BytePretokenPattern]] escaped for a single-quoted SQL literal
    * (DuckDB standard strings pass backslashes through to RE2
    * untouched — the pattern string is byte-identical on both
    * engines). */
  private def bytePatSql: String = BytePretokenPattern.replace("'", "''")

  /** Byte mode's w0: the pretoken-frequency table with hex-pair byte
    * sequences — `regexp_extract_all` + `hex(encode(...))` mirror the
    * engine's [[bytePretokens]]/[[byteSeq]] bit-for-bit. */
  private def byteW0(carryW: Boolean): String = {
    val wSel = if (carryW) "w, " else ""
    s"""w0 AS (
       |  SELECT ${wSel}trim(regexp_replace(lower(hex(encode(w))), '(..)', '\\1 ', 'g')) AS seq, cnt
       |  FROM (SELECT w, count(*) AS cnt
       |        FROM (SELECT unnest(regexp_extract_all(text, '$bytePatSql', 0)) AS w
       |              FROM documents)
       |        GROUP BY w))""".stripMargin
  }

  /** `text_bpe_fit_bytes`: the [[bpeStepCtes]] chain over [[byteW0]]. */
  private[graft] def bpeFitBytesSql(k: Int): String =
    s"WITH ${byteW0(carryW = false)},\n${bpeStepCtes(k, carryW = false)}\n${bpeMergeSelect(k)}"

  /** `text_tokencount_bpe_bytes` unrolled: byte w0 with the pretoken
    * carried through every rewrite, then each document's pretoken
    * stream joined back against the final encoded vocab w$k. */
  private[graft] def bpeEncodeBytesSql(k: Int): String =
    s"""WITH ${byteW0(carryW = true)},
       |${bpeStepCtes(k, carryW = true)},
       |tok AS (
       |  SELECT doc_id, j AS pos, t[j] AS w
       |  FROM (SELECT doc_id, regexp_extract_all(text, '$bytePatSql', 0) AS t,
       |               unnest(range(1, len(regexp_extract_all(text, '$bytePatSql', 0)) + 1)) AS j
       |        FROM documents))
       |SELECT doc_id,
       |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS bpe_tokens,
       |  string_agg(seq, ' ' ORDER BY pos) AS token_seq
       |FROM tok JOIN w$k USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `text_bpe_decode_bytes` mirror: the byte encode as a CTE, then
    * strip + unhex + UTF-8 decode and the EXACT round-trip comparison
    * against the untouched original text. */
  private[graft] def bpeDecodeBytesSql(k: Int): String =
    s"""WITH enc AS (${bpeEncodeBytesSql(k)})
       |SELECT doc_id,
       |  decode(from_hex(replace(token_seq, ' ', ''))) AS decoded_text,
       |  (decode(from_hex(replace(token_seq, ' ', ''))) = text) AS roundtrip_ok
       |FROM enc JOIN documents USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** `text_bpe_encode` unrolled: the [[bpeFitSql]] chain with the raw
    * word `w` carried through every rewrite CTE (seq is injective in w,
    * so the extra column cannot perturb the pair counts), then each
    * document's word stream joined back against the final encoded
    * vocab w$k — per-doc subword count + the in-order token sequence. */
  private[graft] def bpeEncodeSql(k: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT w, array_to_string(string_split(w, ''), ' ') || ' </w>' AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |        WHERE len(w) > 0 GROUP BY w))""".stripMargin
    s"""WITH ${Seq(w0, bpeStepCtes(k, carryW = true)).mkString(",\n")},
       |tok AS (
       |  SELECT doc_id, j AS pos, t[j] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t,
       |               unnest(range(1, len(string_split(text, ' ')) + 1)) AS j
       |        FROM documents)
       |  WHERE len(t[j]) > 0)
       |SELECT doc_id,
       |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS bpe_tokens,
       |  string_agg(seq, ' ' ORDER BY pos) AS token_seq
       |FROM tok JOIN w$k USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** [[bpeEncodeSql]] with the STREAMING encode's OOV fallback
    * mirrored (r18 ADVICE — the stream keys shared the batch oracle
    * VERBATIM, whose inner join DROPS out-of-vocabulary words; on the
    * driver feed the two agree because the vocab is fit on the feed
    * itself, but a future feed with OOV words would then diverge from
    * the oracle silently instead of flagging the intentional semantic
    * difference): the vocab join goes LEFT and an unmatched word
    * encodes as its base character decomposition + `</w>` — exactly
    * the streaming fallback, so oracle parity no longer depends on the
    * feed being vocab-covered. */
  private[graft] def bpeEncodeOovSql(k: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT w, array_to_string(string_split(w, ''), ' ') || ' </w>' AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |        WHERE len(w) > 0 GROUP BY w))""".stripMargin
    s"""WITH ${Seq(w0, bpeStepCtes(k, carryW = true)).mkString(",\n")},
       |tok AS (
       |  SELECT doc_id, j AS pos, t[j] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t,
       |               unnest(range(1, len(string_split(text, ' ')) + 1)) AS j
       |        FROM documents)
       |  WHERE len(t[j]) > 0),
       |enc AS (
       |  SELECT doc_id, pos, coalesce(seq,
       |    array_to_string(string_split(w, ''), ' ') || ' </w>') AS seq
       |  FROM tok LEFT JOIN w$k USING (w))
       |SELECT doc_id,
       |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS bpe_tokens,
       |  string_agg(seq, ' ' ORDER BY pos) AS token_seq
       |FROM enc
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** `text_bpe_encode_special` unrolled: [[bpeEncodeSql]] over the
    * boundary-marked documents with the special token entering w0 as
    * ONE atomic symbol — reservation falls out of the generic pair
    * CTEs exactly as it does engine-side (a single-symbol sequence
    * yields no adjacent pairs). */
  private[graft] def bpeEncodeSpecialSql(k: Int): String = {
    val sp = BpeDocToken
    val w0 =
      s"""sdocs AS (SELECT doc_id, '$sp ' || text AS text FROM documents),
         |w0 AS (
         |  SELECT w, CASE WHEN w = '$sp' THEN w || '</w>'
         |    ELSE array_to_string(string_split(w, ''), ' ') || ' </w>' END AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM sdocs)
         |        WHERE len(w) > 0 GROUP BY w))""".stripMargin
    s"""WITH ${Seq(w0, bpeStepCtes(k, carryW = true)).mkString(",\n")},
       |tok AS (
       |  SELECT doc_id, j AS pos, t[j] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t,
       |               unnest(range(1, len(string_split(text, ' ')) + 1)) AS j
       |        FROM sdocs)
       |  WHERE len(t[j]) > 0)
       |SELECT doc_id,
       |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS bpe_tokens,
       |  string_agg(seq, ' ' ORDER BY pos) AS token_seq
       |FROM tok JOIN w$k USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** [[bpeEncodeBytesSql]] with the streaming byte fallback mirrored
    * (see [[bpeEncodeOovSql]]): unmatched pretokens decompose into
    * their base hex-pair byte symbols — at byte level the fallback is
    * total (every symbol is in-alphabet), which is the mode's whole
    * point. */
  private[graft] def bpeEncodeBytesOovSql(k: Int): String =
    s"""WITH ${byteW0(carryW = true)},
       |${bpeStepCtes(k, carryW = true)},
       |tok AS (
       |  SELECT doc_id, j AS pos, t[j] AS w
       |  FROM (SELECT doc_id, regexp_extract_all(text, '$bytePatSql', 0) AS t,
       |               unnest(range(1, len(regexp_extract_all(text, '$bytePatSql', 0)) + 1)) AS j
       |        FROM documents)),
       |enc AS (
       |  SELECT doc_id, pos, coalesce(seq,
       |    trim(regexp_replace(lower(hex(encode(w))), '(..)', '\\1 ', 'g'))) AS seq
       |  FROM tok LEFT JOIN w$k USING (w))
       |SELECT doc_id,
       |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS bpe_tokens,
       |  string_agg(seq, ' ' ORDER BY pos) AS token_seq
       |FROM enc
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `text_bpe_encode_special_bytes` unrolled — the byte twin of
    * [[bpeEncodeSpecialSql]]: the marker is prepended, enters w0 as
    * ONE atomic symbol (its full unspaced hex string — zero adjacent
    * pairs, so reservation falls out of the generic step CTEs), and
    * heads every document's token stream at pos 0 while the regex
    * pretokens of the REMAINDER (`' ' || text` — the space after the
    * marker stays with the text, exactly the engine's segment) follow
    * at pos ≥ 1. The flagship query only ever places the marker at the
    * front, so the oracle segments by construction; the engine side
    * segments GENERALLY ([[byteSpecialPretokenStream]]) and its
    * any-position atomicity is spec-pinned. */
  private[graft] def bpeEncodeSpecialBytesSql(k: Int): String = {
    val sp = BpeDocToken
    // the null guard mirrors the engine's isNotNull filter: without it
    // the unconditional marker branches below would emit a (doc_id, 1,
    // marker-hex) row for a null-text document the engine drops
    val w0 =
      s"""sdocs AS (SELECT doc_id, ' ' || text AS rest FROM documents
         |          WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |w0 AS (
         |  SELECT w, CASE WHEN w = '$sp' THEN lower(hex(encode(w)))
         |    ELSE trim(regexp_replace(lower(hex(encode(w))), '(..)', '\\1 ', 'g')) END AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(regexp_extract_all(rest, '$bytePatSql', 0)) AS w
         |              FROM sdocs
         |              UNION ALL
         |              SELECT '$sp' AS w FROM sdocs)
         |        GROUP BY w))""".stripMargin
    s"""WITH $w0,
       |${bpeStepCtes(k, carryW = true)},
       |tok AS (
       |  SELECT doc_id, 0 AS pos, '$sp' AS w FROM sdocs
       |  UNION ALL
       |  SELECT doc_id, j AS pos, t[j] AS w
       |  FROM (SELECT doc_id, regexp_extract_all(rest, '$bytePatSql', 0) AS t,
       |               unnest(range(1, len(regexp_extract_all(rest, '$bytePatSql', 0)) + 1)) AS j
       |        FROM sdocs))
       |SELECT doc_id,
       |  CAST(sum(len(string_split(seq, ' '))) AS BIGINT) AS bpe_tokens,
       |  string_agg(seq, ' ' ORDER BY pos) AS token_seq
       |FROM tok JOIN w$k USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** `text_bpe_decode` mirror: the encode query as a CTE, the two
    * decode rewrites, and the round-trip comparison against the
    * empty-token-dropped original. */
  private[graft] def bpeDecodeSql(k: Int): String =
    s"""WITH enc AS (${bpeEncodeSql(k)}),
       |norm AS (
       |  SELECT doc_id, array_to_string(
       |    list_filter(string_split(text, ' '), w -> len(w) > 0), ' ') AS norm
       |  FROM documents)
       |SELECT doc_id,
       |  trim(replace(replace(token_seq, ' ', ''), '</w>', ' ')) AS decoded_text,
       |  (trim(replace(replace(token_seq, ' ', ''), '</w>', ' ')) = norm)
       |    AS roundtrip_ok
       |FROM enc JOIN norm USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** `text_bpe_fit_batched` unrolled: per iteration i, p_i (pair
    * counts) → c_i (the ranked top-B pool) → the GREEDY keep recursion
    * unrolled by rank as B CTEs kc_i_1..kc_i_B (rank r survives iff no
    * conflict — shared symbol or either side's output token equal to a
    * symbol of the other — against the UNION of the earlier kept CTEs;
    * bounded unrolling over the plan constant B, see
    * textBpeFitBatchedOn's rule) → k_i (the kept union) → a chain of B
    * conditional rewrites w_i_1..w_i_B, each applying rank r's
    * double-replace only when rank r was kept (LEFT JOIN ON TRUE
    * against the 0-or-1-row kept slice). Steps number kept merges in
    * (iteration, rank) order — the engine's application order. */
  private[graft] def bpeFitBatchedSql(iters: Int, batch: Int): String = {
    val w0 =
      s"""w0 AS (
         |  SELECT array_to_string(string_split(w, ''), ' ') || ' </w>' AS seq, cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |        WHERE len(w) > 0 GROUP BY w))""".stripMargin
    val steps = (1 to iters).map { i =>
      // the greedy keep recursion unrolled by rank: rank r survives iff
      // conflict-free against the UNION of earlier kept ranks (shared
      // symbol, or either side's concatenated output token equal to a
      // symbol of the other — bpeGreedyKeep verbatim)
      val keptChain = (1 to batch).map { r =>
        if (r == 1)
          s"kc${i}_1 AS (SELECT lhs, rhs, c, rn FROM c$i WHERE rn = 1)"
        else {
          val priorKept = (1 until r).map(q => s"SELECT * FROM kc${i}_$q")
            .mkString(" UNION ALL ")
          s"""kc${i}_$r AS (
             |  SELECT a.lhs, a.rhs, a.c, a.rn FROM c$i a
             |  WHERE a.rn = $r AND NOT EXISTS (
             |    SELECT 1 FROM ($priorKept) b
             |    WHERE b.lhs = a.lhs OR b.lhs = a.rhs
             |       OR b.rhs = a.lhs OR b.rhs = a.rhs
             |       OR (b.lhs || b.rhs) = a.lhs OR (b.lhs || b.rhs) = a.rhs
             |       OR (a.lhs || a.rhs) = b.lhs OR (a.lhs || a.rhs) = b.rhs))""".stripMargin
        }
      }.mkString(",\n")
      val chain = (1 to batch).map { r =>
        s"""w${i}_$r AS (
           |  SELECT CASE WHEN k.lhs IS NOT NULL THEN
           |      trim(replace(replace(' ' || w.seq || ' ',
           |        ' ' || k.lhs || ' ' || k.rhs || ' ', ' ' || k.lhs || k.rhs || ' '),
           |        ' ' || k.lhs || ' ' || k.rhs || ' ', ' ' || k.lhs || k.rhs || ' '))
           |    ELSE w.seq END AS seq, w.cnt AS cnt
           |  FROM w${i}_${r - 1} w
           |  LEFT JOIN (SELECT * FROM k$i WHERE rn = $r) k ON TRUE)""".stripMargin
      }.mkString(",\n")
      s"""p$i AS (
         |  SELECT s[j] AS lhs, s[j + 1] AS rhs, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT s, cnt, unnest(range(1, len(s))) AS j
         |        FROM (SELECT string_split(seq, ' ') AS s, cnt FROM w${i - 1}))
         |  GROUP BY 1, 2),
         |c$i AS (
         |  SELECT * FROM (
         |    SELECT lhs, rhs, c, row_number() OVER (ORDER BY c DESC, lhs, rhs) AS rn
         |    FROM p$i) WHERE rn <= $batch),
         |$keptChain,
         |k$i AS (${(1 to batch).map(r => s"SELECT * FROM kc${i}_$r")
           .mkString(" UNION ALL ")}),
         |w${i}_0 AS (SELECT seq, cnt FROM w${i - 1}),
         |$chain,
         |w$i AS (SELECT seq, cnt FROM w${i}_$batch)""".stripMargin
    }
    val union = (1 to iters)
      .map(i => s"SELECT $i AS it, rn, lhs, rhs, c FROM k$i")
      .mkString(" UNION ALL ")
    s"""WITH ${(w0 +: steps).mkString(",\n")}
       |SELECT CAST(row_number() OVER (ORDER BY it, rn) AS INT) AS step,
       |  lhs, rhs, c AS pair_count
       |FROM ($union)
       |ORDER BY step""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // raw-frequency idf: the score is ONE IEEE division of integer-
    // valued doubles (correctly rounded by the standard on both
    // engines), so rank order cannot diverge; output score on the
    // 2^-20 grid
    "text_tfidf_topk" ->
      s"""WITH tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> '' GROUP BY doc_id, t
        |),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC,
        |        tf.term ASC) AS rk
        |  FROM tf JOIN dfreq USING (term)
        |)
        |SELECT doc_id, rk, term, tf, df,
        |  CAST(floor(score * ${1L << 20}) AS BIGINT) AS score_q
        |FROM s WHERE rk <= $TfidfTopK ORDER BY doc_id, rk""".stripMargin,
    // the LM fit + scoring mirrored op-for-op: integer counts, ONE
    // correctly-rounded division per bigram, exact 2^20 scale, floor,
    // integer sum, one exact final mean division (see textLmScore's
    // determinism note)
    "text_lm_score" -> s"$lmScoreSqlBody\nORDER BY doc_id",
    // CCNet's actual use of the LM: head/middle/tail tertiles by score,
    // rank-assigned — (rn−1)·3 // N over (score DESC, doc_id), exact
    // integer arithmetic, deterministic ties
    "text_lm_buckets" ->
      s"""WITH base AS ($lmScoreSqlBody)
        |SELECT doc_id, n_bigrams, sum_q, score,
        |  ((row_number() OVER (ORDER BY score DESC, doc_id) - 1) * 3)
        |    // (count(*) OVER ()) AS bucket
        |FROM base ORDER BY doc_id""".stripMargin,

    // same patterns (spliced from the engine constants), RE2 semantics;
    // 'g' flag makes DuckDB's replace global like Spark's
    "text_redact_pii" ->
      s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS INT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '$EmailRe', '<EMAIL>', 'g'),
        |    '$Ipv4Re', '<IP>', 'g'),
        |    '$PhoneRe', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Full mirror of langIdFrame: same tokenization (regex whitespace
    // split keeps empty tokens on both engines), same marker lists
    // (generated from `profiles`), same argmax-with-floor and tie-break
    // order, same non-ASCII CJK short-circuit. Raw double score.
    "text_langid" -> {
      val sCols = profiles.map { case (l, ms) => s"${langScoreSql(ms)} AS s_$l" }
      val mx = s"greatest(${profiles.map(p => s"s_${p._1}").mkString(", ")})"
      val pick = profiles.map(p => s"WHEN s_${p._1} = mx THEN '${p._1}'")
        .mkString(" ")
      s"""WITH t AS (
        |  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS toks
        |  FROM documents
        |),
        |s AS (SELECT doc_id, text, ${sCols.mkString(",\n  ")} FROM t),
        |m AS (SELECT *, $mx AS mx,
        |  (length(text) - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')))::DOUBLE
        |    / greatest(length(text), 1)::DOUBLE AS na
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN na > 0.3 THEN 'cjk_or_other'
        |       WHEN mx > 0.05 THEN CASE $pick END
        |       ELSE 'unknown' END AS pred_lang,
        |  mx AS lang_score
        |FROM m ORDER BY doc_id""".stripMargin
    },
    "text_top_bigrams" ->
      """SELECT bigram, count(*) AS cnt FROM (
        |  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bigram
        |  FROM (SELECT string_split(text, ' ') t FROM documents) s
        |  WHERE len(t) >= 2
        |) b GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin,
    "text_stopword_filtered" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> '' AND word NOT IN ('the','a','an','and','or','of','to','in','is','it')
        |GROUP BY word ORDER BY word""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(length(text)::DOUBLE / greatest(len(string_split(text, ' ')), 1), 4) AS avg_token_len,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
        |    / greatest(length(text), 1), 4) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
        |    / greatest(length(text), 1), 4) AS digit_ratio,
        |  round(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE
        |    / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
        |  $qualitySqlExpr AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokencount" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpeish_tokens,
        |  CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT) AS char4_estimate
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the vocab VALUES are spliced from BpeImpl.Vocab (the committed
    // fixture) so engine and oracle can never disagree on the merges
    // table; the recursive CTE walks the same greedy positions — at
    // each pos take the LONGEST matching piece, else advance one code
    // point — and sums terminal counts per doc
    "text_tokencount_bpe" ->
      s"""WITH RECURSIVE vocab(piece) AS (VALUES ${bpeVocabValues}),
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
        |)
        |SELECT s.doc_id,
        |  CAST(any_value(t.ws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(s.cnt) AS BIGINT) AS bpe_tokens
        |FROM (SELECT doc_id, cnt FROM step WHERE pos >= len(w)) s
        |JOIN (SELECT doc_id, len(string_split(text, ' ')) AS ws FROM documents) t
        |  USING (doc_id)
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,
    // the fit unrolled: K CTE triples (pair counts → deterministic
    // argmax → double-replace rewrite), generated from the same
    // constants as the engine loop so the arithmetic cannot drift
    "text_bpe_fit" -> bpeFitSql(BpeFitMerges),
    "text_bpe_fit_batched" -> bpeFitBatchedSql(BpeBatchIters, BpeBatchSize),
    // the encode mirror replays the fit chain with w carried through,
    // then joins the document word stream against the encoded vocab —
    // fit and apply under ONE oracle
    "text_bpe_encode" -> bpeEncodeSql(BpeFitMerges),
    "text_bpe_encode_special" -> bpeEncodeSpecialSql(BpeFitMerges),
    // the byte twin: atomic marker through the byte w0 + shared steps
    "text_bpe_encode_special_bytes" -> bpeEncodeSpecialBytesSql(BpeFitMerges),
    // decode inverts the encode inside the same oracle — the
    // round-trip flag is hash-checked per document
    "text_bpe_decode" -> bpeDecodeSql(BpeFitMerges),
    // byte mode: the SAME fit/encode/decode chain over the GPT-2-family
    // pretokenizer with hex-pair byte symbols; the decode round-trip is
    // EXACT (whitespace included), hash-checked per document
    "text_bpe_fit_bytes" -> bpeFitBytesSql(BpeFitMerges),
    "text_tokencount_bpe_bytes" -> bpeEncodeBytesSql(BpeFitMerges),
    "text_bpe_decode_bytes" -> bpeDecodeBytesSql(BpeFitMerges),
    // the learned scorer's mirror: heuristic labels via the SAME spliced
    // quality expression, md5-low64 & mask bucketing (bit pattern — the
    // signed/unsigned representations agree), integer-only smoothed
    // class probability ((c+1)·Q // (n+2)), mean over the fresh doc's
    // features with the Q/2 unseen prior
    "text_quality_model" ->
      s"""WITH ${qmScoreCtes(
            s"(SELECT text FROM documents WHERE ${Dedup.priorSql("doc_id")})",
            s"(SELECT doc_id, text FROM documents WHERE ${Dedup.freshSql("doc_id")})")}
        |SELECT doc_id, n_feats, sum_q,
        |  CAST(sum_q AS DOUBLE) / CAST(n_feats AS DOUBLE) AS score
        |FROM qm_scores ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_min([md5(text[i:i+7]) for i in range(1, greatest(length(text) - 7, 1) + 1)]) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // ascii(char) == the byte the engine hashes, on the verified-ASCII
    // documents corpus (same contract as the word-count oracles).
    "text_fingerprint_winnow" ->
      s"""WITH $winnowFpsCtes
        |SELECT doc_id, unnest(list_sort(fp)) AS gram_min
        |FROM wfp ORDER BY doc_id, gram_min""".stripMargin,
    // ratios are raw IEEE divisions of exact integers on BOTH sides —
    // identical bit patterns by construction, no rounding anywhere
    "text_gopher_rules" ->
      s"""WITH g AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS t,
         |    len(string_split(text, ' '))::BIGINT AS n,
         |    (length(text) - (len(string_split(text, ' ')) - 1))::BIGINT AS chars
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, n AS n_words,
         |    n >= $GopherMinWords AND n <= $GopherMaxWords AS r_wordcount,
         |    chars >= n * 3 AND chars <= n * 10 AS r_meanlen,
         |    len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT * 5 >= n * 4 AS r_alpha,
         |    len(list_intersect(list_distinct(t),
         |      ${StopwordList.mkString("['", "', '", "']")}))::BIGINT >= 2 AS r_stopwords,
         |    NOT contains(text, 'lorem ipsum') AS r_lorem
         |  FROM g
         |)
         |SELECT doc_id, n_words, r_wordcount, r_meanlen, r_alpha, r_stopwords, r_lorem,
         |  r_wordcount AND r_meanlen AND r_alpha AND r_stopwords AND r_lorem AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens,
        |  1.0 - len(list_distinct(t))::DOUBLE / len(t)::DOUBLE AS dup_word_frac
        |  FROM toks),
        |bg AS (SELECT doc_id,
        |  unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g FROM toks),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        |bgs AS (SELECT doc_id, sum(c) AS nb, max(c) AS mx FROM bgc GROUP BY doc_id),
        |tg AS (SELECT doc_id,
        |  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |          for i in range(1, len(t) - 1)]) AS g FROM toks),
        |tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
        |tgs AS (SELECT doc_id, sum(c) AS nt, count(*) AS dt FROM tgc GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.dup_word_frac,
        |  coalesce(mx::DOUBLE / nb::DOUBLE, 0.0) AS top_bigram_frac,
        |  coalesce(1.0 - dt::DOUBLE / nt::DOUBLE, 0.0) AS dup_trigram_frac
        |FROM base b LEFT JOIN bgs USING (doc_id) LEFT JOIN tgs USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_stats_by_lang" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // text_langid: heuristic classifier, not SQL-expressible — rows-only
    // for the driver; accuracy asserted on real-language sentences in
    // TextAnalysisSpec.
  )
}
