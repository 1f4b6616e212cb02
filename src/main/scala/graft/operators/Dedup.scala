package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deduplication suite over the `documents` table — the operators a
  * large-scale training-data pipeline needs, each in its Spark-native
  * shuffle-friendly form:
  *
  *  - exact dedup: hash-groupBy (one shuffle on the content hash);
  *  - near-dup: MinHash+LSH banding (candidates from equi-join on band
  *    hashes — no O(n²) pair scan), verified with exact Jaccard;
  *  - exact n-gram Jaccard via an inverted shingle index (equi-join on
  *    shingle, pair-count aggregation — the scalable formulation);
  *  - SimHash fingerprints (custom codegen expression);
  *  - embedding-cosine similarity pairs (blocked self-join).
  *
  * At 100 TB: every join here is an equi-join on a hash/band/shingle key
  * that Spark shuffles by key; no operator enumerates all pairs, and the
  * inverted-index path caps shingle document frequency (MaxShingleDF) so
  * a boilerplate shingle cannot make the self-join quadratic on one key.
  * The oracle applies the identical cap, keeping parity exact.
  */
object Dedup {

  // pinned to the expression's constants so banding arithmetic here can
  // never drift from what MinHashBandHashes emits
  final val NumHashes: Int = graft.functions.MinHashImpl.NumHashes
  final val NumBands: Int = graft.functions.MinHashImpl.NumBands // 4 rows per band; P(miss | j>=0.8) < 3e-4, ~0 at the planted j>=0.95
  final val JaccardThreshold = 0.8

  /** Max document frequency a shingle may have and still enter the
    * inverted index. A shingle shared by d documents contributes d·(d−1)/2
    * candidate pairs through one shuffle key — a boilerplate shingle at
    * 100 TB makes the self-join quadratic on that key. Shingles this
    * common carry no near-dup signal (they can only dilute Jaccard toward
    * the corpus average), so both the engine and the oracle drop them
    * BEFORE pairing; Jaccard is computed over the capped shingle space on
    * both sides, keeping oracle parity exact. */
  final val MaxShingleDF = 128

  /** Distinct 3-token shingles per doc: (doc_id, shingles array<string>).
    *
    * The repartition spreads the expensive per-row expansion (split +
    * shingle transform + distinct, ~26x output growth) across the
    * cluster BEFORE it runs — a small documents file scans as one split,
    * and without the exchange every shingle-derived plan computes its
    * hottest expression nearly single-threaded. */
  private[graft] def shingles(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // explicit width: AQE leaves a user-sized repartition alone; the
      // bare-column form gets coalesced back to ~1 partition at this data
      // size, re-serializing the transform
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", split($"text", " ").as("toks"))
      .filter(size($"toks") >= 3) // guard: sequence(0, n-3) needs n >= 3
      .select($"doc_id", array_distinct(
        transform(sequence(lit(0), size($"toks") - 3),
          i => concat_ws(" ", element_at($"toks", i + 1),
            element_at($"toks", i + 2), element_at($"toks", i + 3)))).as("sh"))
  }

  private[graft] def shingles(spark: SparkSession, sfDir: String): DataFrame =
    shingles(Tables.documents(spark, sfDir))

  /** Exact dedup by content hash: one group per distinct text, keeping the
    * lowest doc_id as representative. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy($"h")
  }

  /** Exact-substring window: flag spans of at least this many
    * whitespace tokens shared VERBATIM between distinct documents.
    * ExactSubstr (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better" §4.1) uses 50 BPE tokens over a suffix
    * array; 25 whitespace tokens here because the synthetic documents
    * run 10–99 tokens (median 56) — the same fraction of a document.
    * The knob is the one scale lever: wider windows shrink both the
    * shared-gram set and the run-merge state. */
  final val ExactSubstrTokens = 25

  /** EXACT-SUBSTRING dedup — the ExactSubstr family: every maximal span
    * of ≥ [[ExactSubstrTokens]] tokens that appears verbatim in two or
    * more distinct documents, at ARBITRARY token offsets (what the
    * aligned-chunk exact dedup structurally cannot see). Output one row
    * per maximal span occurrence: (doc_id, start_token, len_tokens) —
    * the drop-list a curation pass subtracts from each document.
    *
    * Spark-first shape replacing the paper's suffix array: a shared
    * span of length L IS a run of L−W+1 consecutive shared W-gram
    * offsets, so (1) expand each doc to POSITIONAL W-gram hashes (fused
    * one-pass expression, no gram strings), (2) mark gram hashes held
    * by ≥2 distinct docs — min≠max over a window keyed on the hash, ONE
    * shuffle, no count-distinct rewrite, (3) merge consecutive shared
    * offsets per doc with the classic pos−row_number run id — one
    * shuffle on doc_id, state bounded by document length. Candidates
    * are gram-bucketed throughout (never all-pairs); at 100 TB the
    * gram frame is the corpus token count × 12 B — the same order as
    * the suffix array ExactSubstr builds, but shuffle-partitioned
    * instead of memory-mapped, and the hottest key is bounded by the
    * most-repeated single gram (a boilerplate gram costs its occurrence
    * count, not its square — no pairing happens on the gram). */
  def dedupExactSubstring(spark: SparkSession, sfDir: String): DataFrame =
    dedupExactSubstringOn(Tables.documents(spark, sfDir))

  /** The transform over any (doc_id, text) frame (spec entry point:
    * plantable mid-document overlaps and sub-window negatives). */
  private[graft] def dedupExactSubstringOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val W = ExactSubstrTokens
    val grams = docs
      // explicit inferable predicates (the explodedHashes
      // canonicalization rule): without them the strip composition's
      // joins infer isnotnull on ONE branch and split the shared
      // doc_id exchange into two scans
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      // spread the per-row expansion before it runs (the shingles
      // rationale: a small file scans as one split)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", posexplode(
        graft.functions.NGramXxh64Pos($"text", W)).as(Seq("pos", "h")))
    val byHash = Window.partitionBy($"h")
    val shared = grams
      // shared ⇔ ≥2 distinct doc_ids hold the gram ⇔ min ≠ max over the
      // hash partition — two frame-less window aggs on ONE exchange
      // (a groupBy(h)+re-join would shuffle the gram frame twice)
      .withColumn("mn", min($"doc_id").over(byHash))
      .withColumn("mx", max($"doc_id").over(byHash))
      .filter($"mn" =!= $"mx")
      .select($"doc_id", $"pos")
    mergeSpanRuns(shared, W)
  }

  /** The shared run merge: consecutive shared gram offsets → maximal
    * spans (doc_id, start_token, len_tokens). ONE definition for the
    * full, incremental and decontamination span derivations. */
  private[graft] def mergeSpanRuns(shared: DataFrame, w: Int): DataFrame = {
    val spark = shared.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val byDocPos = Window.partitionBy($"doc_id").orderBy($"pos")
    shared
      .withColumn("rid", $"pos" - row_number().over(byDocPos))
      .groupBy($"doc_id", $"rid")
      .agg(min($"pos").cast("long").as("start_token"),
        (count(lit(1)) + lit(w - 1)).as("len_tokens"))
      .select($"doc_id", $"start_token", $"len_tokens")
      .orderBy($"doc_id", $"start_token")
  }

  /** INCREMENTAL exact-substring dedup — the daily-crawl form of
    * [[dedupExactSubstring]]: flag spans only in the FRESH delta, where
    * a span is shared if its grams appear verbatim in the PRIOR corpus
    * (probing the prior's DISTINCT gram-hash index — positions are not
    * needed on the index side, so the artifact is 8 B/gram, write-once,
    * hash-bucketed in production) or in another fresh document (the
    * same min≠max window as the full query, delta-sized). Union of the
    * two shared sets feeds the identical run merge. Per-snapshot cost:
    * |delta tokens| × (index probe + window), independent of corpus
    * size; the prior never re-flags itself. */
  def dedupSubstringIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    dedupSubstringIncrementalOn(prior, fresh)
  }

  /** The transform over any (prior, fresh) pair of (doc_id, text)
    * frames (spec entry point). */
  private[graft] def dedupSubstringIncrementalOn(prior: DataFrame,
      fresh: DataFrame): DataFrame =
    substringIncrementalTail(
      substringGrams(prior).select(col("h")).distinct(), fresh)

  /** The ONE positional gram expansion of the incremental ExactSubstr
    * family — shared by the inline query and the stored twin. */
  private def substringGrams(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", posexplode(
        graft.functions.NGramXxh64Pos($"text", ExactSubstrTokens)).as(Seq("pos", "h")))
  }

  /** The probe + run-merge tail both incremental ExactSubstr forms
    * funnel through, over an ALREADY-MATERIAL prior index — the
    * DISTINCT gram-hash rows (8 B/gram, positions not needed on the
    * index side) — so the inline query (which computes it from the
    * prior slice) and the stored twin (which reads it back from the
    * parquet artifact) cannot drift: same within-fresh window, same
    * index probe, same span merge. */
  private def substringIncrementalTail(priorIdx: DataFrame,
      fresh: DataFrame): DataFrame = {
    val spark = priorIdx.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val W = ExactSubstrTokens
    val freshG = substringGrams(fresh)
    val byHash = Window.partitionBy($"h")
    val withinFresh = freshG
      .withColumn("mn", min($"doc_id").over(byHash))
      .withColumn("mx", max($"doc_id").over(byHash))
      .filter($"mn" =!= $"mx")
      .select($"doc_id", $"pos")
    val inPrior = freshG.join(priorIdx, Seq("h"), "left_semi")
      .select($"doc_id", $"pos")
    mergeSpanRuns(withinFresh.unionByName(inPrior).distinct(), W)
  }

  /** [[dedupSubstringIncremental]] in its STEADY-STATE form — the
    * ExactSubstr member of the stored-artifact family: the prior
    * corpus's DISTINCT gram-hash index (the 8 B/gram write-once
    * artifact; at cluster scale hash-bucketed by `h`, the probe join
    * key) read from the parquet artifact a previous run wrote
    * ([[graft.sources.IndexStore]]), only the DELTA gram-expanded at
    * probe time. First run per corpus writes; every later run is
    * read + probe, no prior-side tokenization at all. Output contract
    * and oracle are IDENTICAL to the inline incremental query. */
  def dedupSubstringStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    import spark.implicits._
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    val priorIdx = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "substr_grams", "documents",
        Seq(ExactSubstrTokens) ++ SnapshotKey),
      substringGrams(prior).select($"h").distinct())
    substringIncrementalTail(priorIdx, fresh)
  }

  /** The ExactSubstr DROP applied — the deduplicated corpus the span
    * list exists to produce: every token covered by ANY flagged span is
    * removed and the survivors rejoin in order. Span token-intervals
    * can OVERLAP (two maximal gram runs ≥2 apart still cover shared
    * tokens when the gap is < W), so the drop is the interval UNION,
    * implemented as an anti-join of the positional token expansion
    * against the exploded span positions — both frames doc-bounded,
    * shuffled on doc_id, no interval arithmetic in the plan. Emits
    * (doc_id, kept_text, n_kept, n_dropped) for every document
    * (span-free docs pass through whole). */
  def curStripSubstrings(spark: SparkSession, sfDir: String): DataFrame =
    curStripSubstringsOn(Tables.documents(spark, sfDir))

  private[graft] def curStripSubstringsOn(docs: DataFrame): DataFrame =
    stripSpans(docs, dedupExactSubstringOn(docs))

  /** Within-document repetition gram width for [[curStripRepetition]]:
    * trigram — the unit `text_repetition`'s dup_trigram_frac diagnoses,
    * so the repair strips exactly what the diagnostic flags. */
  final val RepStripK = 3

  /** WITHIN-document repetition removal — the repair for what
    * `text_repetition` diagnoses: every NON-FIRST occurrence of a
    * trigram its own document repeats becomes a drop span (start = the
    * occurrence's token offset, len = [[RepStripK]]), and the interval
    * UNION of those (overlapping) spans is stripped by the same
    * [[stripSpans]] machinery the ExactSubstr and decontamination
    * strips use. Repeated boilerplate collapses to its first
    * occurrence; a repeat-free document passes through whole.
    *
    * Scale shape: the gram key is (doc_id, gram-hash) — DOC-BOUNDED,
    * so the one aggregation partitions by keys never wider than a
    * single document; no cross-document traffic exists anywhere in the
    * plan (contrast [[curStripSubstringsOn]], whose gram partition is
    * corpus-wide by construction). Grams are the codegen'd
    * [[graft.functions.NGramXxh64Pos]] hashes — doc-bounded grouping
    * means only same-document collisions could perturb the result,
    * the standard ~n²/2⁶⁴ hashed-gram argument. */
  def curStripRepetition(spark: SparkSession, sfDir: String): DataFrame =
    curStripRepetitionOn(Tables.documents(spark, sfDir))

  private[graft] def curStripRepetitionOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      // codegen'd positional gram HASHES, not the string-gram lambda:
      // ngramArr is a higher-order transform, which Spark evaluates
      // interpreted (HOFs have no codegen), and its eval path was this
      // query's measured pathology twice over — an inline split(text)
      // argument re-split per element_at (O(tokens²), the 1.3–31 s
      // battery swing), and even pre-split the interpreted lambda paid
      // a multi-second JIT warm-in staircase at ×10. NGramXxh64Pos
      // hashes each k-token byte span in one codegen'd pass; span
      // equality is byte-span equality (tokens joined by their own
      // delimiters), identical to string-gram equality, and the
      // within-doc hash-collision odds carry the same ~n²/2⁶⁴ argument
      // as every hashed-gram search in this file (grouping is
      // doc-bounded, so only same-doc collisions could matter).
      .select($"doc_id", posexplode_outer(
        graft.functions.NGramXxh64Pos($"text", RepStripK)).as(Seq("pos", "g")))
      .filter($"g".isNotNull)
    // non-first occurrences per (doc, gram): a codegen'd HashAggregate
    // (min + count over the (doc_id, gram-hash) long keys) isolates the
    // REPEATED grams — a rows-with-a-duplicate-sized frame (2.9 k rows
    // on the ×10 corpus vs 9 M gram occurrences) — and the occurrence
    // stream probes it with a broadcast join to emit every position
    // past the min. Two earlier shapes both paid the corpus-gram-sized
    // heavyweight operator this one avoids: min(pos) OVER (PARTITION
    // BY doc_id, g) sorts the whole explosion (WindowExec), and
    // min+collect_list aggregates it through ObjectHashAggregate,
    // whose 128-key sort-based fallback re-sorts the same explosion
    // with per-group array buffers (measured at ×10: 18–178 s CPU on
    // identical input — the battery's noisiest stage). Both gram
    // passes are map-side continuations of the ONE doc_id exchange
    // (hash(doc_id) clusters every (doc_id, g) group), so the second
    // Generate costs a codegen'd hash pass, not a shuffle.
    val rep = grams
      .groupBy($"doc_id", $"g")
      .agg(min($"pos").as("mn"), count(lit(1)).as("c"))
      .filter($"c" > 1)
    val spans = grams.join(rep, Seq("doc_id", "g"))
      .filter($"pos" > $"mn")
      .select($"doc_id", $"pos".cast("long").as("start_token"),
        lit(RepStripK.toLong).as("len_tokens"))
    stripSpans(docs, spans)
  }

  /** The interval-union strip over ANY (doc_id, start_token,
    * len_tokens) span list — shared by the exact-substring strip, the
    * within-doc repetition strip and the decontamination strip. */
  private[graft] def stripSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dropIdx = spans
      .select($"doc_id",
        explode(sequence($"start_token", $"start_token" + $"len_tokens" - 1)).as("idx"))
      .distinct()
    // docs owning at least one span — the only ones whose text needs
    // surgery. Bytes-sized (ids only), so the gate joins below resolve
    // as broadcasts under AQE.
    val affIds = dropIdx.select($"doc_id").distinct()
    val base = docs
      // same explicit predicates + width as the span branch: the CLEAN
      // branch rides the span branch's exchange as a ReusedExchange.
      // The affected branch below deliberately does NOT — Catalyst
      // pushes its semi-join gate under the repartition, so that branch
      // re-scans the corpus but shuffles ONLY the span-owning slice
      // (ScanAudit whitelists the second scan: a pruned columnar scan
      // is the cheap side of that trade, a corpus-wide shuffle the
      // expensive one).
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", $"text",
        size(split($"text", " ")).cast("long").as("n_total"))
    // SPAN-FREE docs pass through WHOLE — kept_text is the original
    // text verbatim (the token round-trip array_join(split(s)) ≡ s,
    // including repeated-delimiter empties), so no token explode, no
    // rebuild agg, nothing but an anti-join gate. This is the 100 TB
    // lever of the tail: duplication volume, not corpus size, pays for
    // the positional rebuild (measured sf0.1: 287/5000 docs own a
    // repetition span — the r13-shape tail shuffled and re-aggregated
    // the token expansion of all 5000, and its per-doc
    // collect_list(struct)+array_sort was the strip family's dominant
    // allocation site).
    val clean = base.join(affIds, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"text".as("kept_text"),
        $"n_total".as("n_kept"), lit(0L).as("n_dropped"))
    // affected docs: positional token expansion (partition-preserving
    // off base's doc_id exchange), drop-index anti-join, in-order
    // rebuild — the original tail, now over the span-owning slice only
    val aff = base.join(affIds, Seq("doc_id"), "left_semi")
    val toks = aff
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("idx", "w")))
    val kept = toks.join(dropIdx, Seq("doc_id", "idx"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct($"idx", $"w"))),
          s => s.getField("w")), " ").as("kept_text"))
    val stripped = aff.select($"doc_id", $"n_total")
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"kept_text", lit("")).as("kept_text"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        ($"n_total" - coalesce($"n_kept", lit(0L))).as("n_dropped"))
    clean.unionByName(stripped).orderBy($"doc_id")
  }

  /** The deterministic snapshot split for [[dedupIncremental]]:
    * doc_id % [[SnapshotMod]] ≥ [[SnapshotNewMin]] is the "new crawl"
    * delta (20%), the rest the already-ingested corpus snapshot. The
    * operator itself takes ANY (prior, fresh) pair — the slice just
    * makes the query self-contained on the driver's tables. */
  final val SnapshotMod = 10
  final val SnapshotNewMin = 8

  /** The one definition of that split, in its two spellings: the engine's
    * Column predicates (`pmod(id, 10) < 8` / `>= 8`) and the oracle's
    * DuckDB fragments (`id % 10 < 8` / `>= 8`). A null id falls in
    * neither slice. The two spellings agree only for ids ≥ 0: below
    * zero `pmod(-3, 10) = 7` but `-3 % 10 = -3`, so e.g. id -1 is fresh
    * in the engine (`pmod = 9`) and prior in the oracle. Every split
    * table in the testdata (sf0.001 / 0.01 / 0.1, `documents.doc_id`
    * and `embeddings.vec_id`) has min id 0. The SQL forms read only the
    * two constants, so the oracle `val`s of other objects (TextAnalysis,
    * Similarity, Curation) can call them while `Dedup` itself is still
    * being initialized (`Dedup`'s own oracles call into TextAnalysis). */
  private[graft] def isPrior(id: Column): Column = pmod(id, lit(SnapshotMod)) < SnapshotNewMin
  private[graft] def isFresh(id: Column): Column = pmod(id, lit(SnapshotMod)) >= SnapshotNewMin
  private[graft] def priorSql(id: String): String = s"$id % $SnapshotMod < $SnapshotNewMin"
  private[graft] def freshSql(id: String): String = s"$id % $SnapshotMod >= $SnapshotNewMin"

  /** `(prior, fresh)` slices of `df` by its `idCol`. */
  private[graft] def snapshotSplit(df: DataFrame, idCol: String): (DataFrame, DataFrame) =
    (df.filter(isPrior(col(idCol))), df.filter(isFresh(col(idCol))))

  /** The split's constants, appended last to every stored artifact's
    * `IndexStore.artifactPath` params: a changed split is a new artifact. */
  private[graft] val SnapshotKey: Seq[Any] = Seq(SnapshotMod, SnapshotNewMin)

  /** INCREMENTAL exact dedup — the daily-crawl update path: a fresh
    * batch is deduplicated internally (keep-min per content hash) and
    * against the PRIOR corpus snapshot's content-hash index, emitting
    * only genuinely novel documents. This is the production shape for
    * corpus updates: the prior side never re-reads text — its index is
    * a hash-only relation (16 bytes/doc at any corpus size, bucketed
    * by h on disk in production so the anti-join is exchange-free on
    * the index side); the delta side shuffles once on h for its own
    * group-agg and the anti-join rides the same partitioning. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    dedupIncrementalOn(prior, fresh)
  }

  /** The transform of [[dedupIncremental]] over any (prior, fresh)
    * pair of (doc_id, text) frames (spec entry point). */
  private[graft] def dedupIncrementalOn(prior: DataFrame, fresh: DataFrame): DataFrame =
    dedupIncrementalTail(
      prior.select(md5(col("text")).as("h")).distinct(), fresh)

  /** The delta-agg + anti-join tail both incremental exact-dedup forms
    * funnel through, over an ALREADY-MATERIAL prior hash index — so the
    * inline query (which hashes the prior slice per run) and the stored
    * twin (which reads the 16 B/doc index back from the parquet
    * artifact) cannot drift. */
  private def dedupIncrementalTail(priorIdx: DataFrame,
      fresh: DataFrame): DataFrame = {
    val spark = priorIdx.sparkSession
    import spark.implicits._
    fresh.select(md5($"text").as("h"), $"doc_id")
      .groupBy($"h")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_new"))
      .join(priorIdx, Seq("h"), "left_anti")
      .orderBy($"h")
  }

  /** [[dedupIncremental]] in its STEADY-STATE form — the exact-hash
    * member of the stored-artifact family: the prior corpus's DISTINCT
    * md5 index (16 B/doc, the write-once artifact; at cluster scale
    * hash-bucketed by `h`, the anti-join key) read from the parquet
    * artifact a previous run wrote ([[graft.sources.IndexStore]]),
    * only the DELTA hashed at probe time. First run per corpus writes;
    * every later run is read + anti-join, no prior-side text scan at
    * all. Output contract and oracle are IDENTICAL to the inline
    * incremental query. */
  def dedupIncrementalStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    import spark.implicits._
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    val priorIdx = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "exact_hash_idx", "documents", SnapshotKey),
      prior.select(md5($"text").as("h")).distinct())
    dedupIncrementalTail(priorIdx, fresh)
  }

  /** Bloom sizing for [[dedupIncrementalBloom]]: 2²⁰ expected items over
    * 2²³ bits = 8 bits/item ≈ 2% false-positive rate. Sized for the
    * workload tier, not the test corpus — correctness never depends on
    * it (false positives just take the exact-confirm path). */
  final val BloomItems: Long = 1L << 20
  final val BloomBits: Long = 1L << 23

  /** [[dedupIncremental]] with a BLOOM-FILTER prefilter — the shape that
    * wins at 100 TB: the prior corpus's hash index is folded into one
    * ~1 MB Bloom sketch by a scalar subquery (the same ScalarSubquery +
    * BloomFilterMightContain machinery Spark's own runtime-filter
    * injection uses), and every fresh group whose hash the sketch
    * definitely hasn't seen is emitted WITHOUT touching the anti-join —
    * only the ~2% maybe-duplicate sliver (true dups + Bloom false
    * positives) shuffles against the full index for the exact confirm.
    * Result ≡ [[dedupIncremental]] by construction (the Bloom gate is
    * sound on "definitely not present"; the exact anti-join settles the
    * rest), so it shares that oracle. At cluster scale the index side of
    * the confirm join stays bucketed on disk; the delta side that
    * reaches it is two orders of magnitude smaller than the crawl. */
  def dedupIncrementalBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    dedupIncrementalBloomOn(prior, fresh)
  }

  /** The transform of [[dedupIncrementalBloom]] over any (prior, fresh)
    * pair of (doc_id, text) frames (spec entry point). */
  private[graft] def dedupIncrementalBloomOn(prior: DataFrame, fresh: DataFrame): DataFrame = {
    val spark = prior.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graftshim.Shim
    // The sketch subquery: no distinct — Bloom insertion is idempotent,
    // so the agg is one pass over the prior hashes with a 1-row merge
    // (cheaper than the distinct the exact index needs).
    val bloom = prior
      .select(xxhash64(md5($"text")).as("hl"))
      .agg(Shim.bloomFilterAgg($"hl", BloomItems, BloomBits).as("bf"))
    // BloomFilterAggregate over an EMPTY prior returns NULL, so
    // might_contain is NULL and both filter(gate) and filter(!gate)
    // would drop every row. coalesce(…, true) routes the empty-prior
    // case entirely through the exact anti-join (correct, merely
    // un-accelerated), preserving Result ≡ dedupIncremental for all
    // inputs, not just non-empty priors.
    val mightBeDup = coalesce(
      Shim.bloomMightContain(Shim.scalarSubquery(bloom), xxhash64($"h")),
      lit(true))
    val grouped = fresh.select(md5($"text").as("h"), $"doc_id")
      .groupBy($"h")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_new"))
    val index = prior.select(md5($"text").as("h")).distinct()
    // Certainly-novel groups skip the join entirely; the maybe sliver
    // takes the exact anti-join. The two branches share the grouped-agg
    // subtree (identical up to the filter), so its exchange is reused.
    grouped.filter(!mightBeDup)
      .union(grouped.filter(mightBeDup).join(index, Seq("h"), "left_anti"))
      .orderBy($"h")
  }

  /** Exact dedup on the bag-of-words canonical form (sorted token list) —
    * catches reordered-but-identical-content docs. */
  def dedupExactBow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy(md5(concat_ws(" ", sort_array(split($"text", " ")))).as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy($"h")
  }

  /** Pairwise 3-gram Jaccard ≥ 0.8 via a prefix-filtered inverted index
    * (Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search";
    * Xiao et al. 2008 PPJoin): explode → hash-to-int64 → DF-cap prune →
    * per-doc sets sorted rarest-first by global (df, hash) → candidates
    * from a self-equi-join restricted to each doc's PREFIX (first
    * |x| − ⌈t·|x|⌉ + 1 elements) → exact set-Jaccard verify. The prefix
    * principle guarantees any pair with J ≥ t shares a prefix element
    * under a common global order, so recall is exact — the optimization
    * is invisible to the oracle. At sf0.1 it cuts candidate pairs from
    * 1.13M (full inverted index) to 119k, and the pair-space bound at
    * 100 TB improves the same way: only rare-prefix collisions pair up.
    *
    * The index key is xxhash64(shingle), not the shingle STRING: distinct
    * shingles map to distinct hashes (collision odds ~n²/2⁶⁴ —
    * immaterial), hashed-set Jaccard equals string-set Jaccard, and the
    * exchanges move 8-byte longs instead of ~25-byte strings (round 2
    * shuffled 92.9 MB of strings from 0.6 MB of input at sf0.1). */
  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    dedupNgramJaccardOnDocs(Tables.documents(spark, sfDir))

  /** The same fused pair search over ANY (doc_id, text) frame — the
    * composition entry the full curation pipeline uses to search
    * REDACTED text (`Curation.pipelineCurateFull`). */
  private[graft] def dedupNgramJaccardOnDocs(docs: DataFrame): DataFrame = {
    // Fused expansion: ShingleXxh64 emits the sorted-distinct window
    // hashes straight from the text bytes — no token array, no shingle
    // strings, no array_distinct (differential-pinned ≡ the string
    // composition in DedupSpec). The spec path through string shingles
    // (dedupNgramJaccardOn) shares everything from the exploded frame on.
    // The explicit isnotnull(doc_id) is EXCHANGE-REUSE PLUMBING, not a
    // semantic filter (doc_id is never null): downstream, the candidate
    // and verify joins make the optimizer INFER isnotnull(doc_id) and
    // push it below the scan on their branches, while the DF-count
    // branch (groupBy(h) — doc_id appears only inside count) infers
    // nothing — leaving the two copies of this subtree canonically
    // different, so the scan AND both exchanges ran twice (measured:
    // stages 1/2 and 4/6 with identical shuffle writes). Making the
    // predicate explicit puts the same Filter on every branch and the
    // whole expansion collapses back to one ReusedExchange.
    dedupNgramJaccardOnHashes(explodedHashes(docs), MaxShingleDF)
  }

  /** String-shingle entry (spec path: plantable inputs + custom maxDf);
    * production uses the fused byte-level expansion above — the two are
    * provably the same set via the differential spec. */
  private[graft] def dedupNgramJaccardOn(sh: DataFrame,
      maxDf: Long = MaxShingleDF): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    // explode_outer + null filter instead of plain explode: the optimizer
    // infers a `size(sh) > 0 AND isnotnull(sh)` guard for a non-outer
    // Generate and pushes it below the projection, re-evaluating the
    // whole shingle transform per row; the outer variant generates no
    // guard and the null row is dropped on the exploded value instead.
    val exploded = sh.filter($"doc_id".isNotNull) // reuse plumbing, see dedupNgramJaccard
      .select($"doc_id", explode_outer($"sh").as("s"))
      .filter($"s".isNotNull)
      .select($"doc_id", xxhash64($"s").as("h"))
      .repartition(width, $"h")
    dedupNgramJaccardOnHashes(exploded, maxDf)
  }

  /** Everything downstream of the exploded (doc_id, h) frame: DF cap,
    * rarest-first prefix index, candidate join, merge-walk verify.
    * Expects `exploded` co-partitioned on h with explicit width (the
    * exchange is shared by every agg/join below; explicit width so AQE
    * can't coalesce it below the per-core parallelism the expansion
    * needs).
    *
    * Plan shape (round 5): document frequency is a streaming count-agg
    * over the h-exchange the frame already ends in, joined back to the
    * same exchange (both subtrees canonically identical ⇒ one shuffle,
    * replayed — see the count($"doc_id") note in the body for why column
    * pruning can't split them, round 3's pathology). The per-doc prefix
    * is row-level: rank each (doc, h) under the global rarest-first
    * (df, h) order with a window over ONE doc_id exchange and keep ranks
    * ≤ the prefix bound — no (df, h) struct array, no lambda-comparator
    * array_sort (interpreted, and round 3's single hottest stage), no
    * re-expansion. The verify set is a `sort_array(collect_list(h))`
    * groupBy on the same doc_id hash partitioning, buffering each set
    * exactly once (round 4's full-frame window buffered it per ROW —
    * O(Σ n_doc²) bytes on long documents). */
  private def dedupNgramJaccardOnHashes(exploded: DataFrame,
      maxDf: Long): DataFrame = {
    val spark = exploded.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // DF cap as a streaming count-agg joined back on the SAME h-exchange
    // the exploded frame ends in. Round 4 computed df as a `count over
    // (partition by h)` window, which buffers the whole exploded frame in
    // WindowExec sort runs — the allocation pattern that melted the
    // round-4 driver bench on the sibling simhash path. The agg streams;
    // `count($"doc_id")` (never null ⇒ ≡ count(*)) keeps doc_id
    // referenced on the agg branch so column pruning can't de-canonicalize
    // it against the probe side (round 3's double-expansion pathology) —
    // both consumers replay ONE shuffle (ReusedExchange, PlanSpec-pinned).
    // The count table is rare-shingle-sized ⇒ AQE broadcasts it locally;
    // at cluster scale both sides are already hash(h)-partitioned.
    val rareH = exploded.groupBy($"h").agg(count($"doc_id").as("df"))
      .filter($"df" <= maxDf)
    val rare = exploded.join(rareH, "h") // (h, doc_id, df)
    // Rank each (doc, h) under the global rarest-first (df, h) order — a
    // strict total order on distinct shingles, so every document orders
    // its elements consistently (all the prefix principle needs) — plus
    // the capped set size, in ONE window operator: same partition key +
    // order ⇒ one sort, one pass.
    val byDoc = Window.partitionBy($"doc_id").orderBy($"df", $"h")
    val byDocFull = byDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = rare
      .withColumn("r", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(byDocFull))
    // Prefix length |x| − ⌈t·|x|⌉ + 1 in exact arithmetic for t = 0.8:
    // n − ⌊(4n+4)/5⌋ + 1 (the double division is exact for any int n —
    // both operands and every representable quotient digit fit IEEE754).
    // No explicit repartition: the join below requires hash(h) anyway and
    // the per-row work left at this point is cheap, so AQE is free to
    // size the stage.
    val prefix = ranked
      .filter($"r" <= $"n" - floor(($"n" * 4 + 4) / lit(5)) + 1)
      .select($"doc_id", $"h")
    // The verify set is a plain groupBy(doc_id) + sort_array(collect_list)
    // — numerically sorted (natural long ordering, not the interpreted
    // lambda-comparator array_sort) for the zero-alloc merge-walk verify.
    // Round 4 built it as a full-frame collect_list WINDOW filtered to
    // r = 1, which attaches a copy of the whole per-doc hash array to
    // EVERY row of the doc's partition before the filter keeps one — a
    // 10k-shingle document materializes ~800 MB of unsafe-row array
    // copies. The agg buffers each set exactly once, bounded by document
    // length, on the same doc_id hash partitioning. (This branch stays
    // derived from `rare`: it references no window output, so a
    // window-derived form would be column-pruned straight back to this
    // plan — see unionPairsOnHashes, where the set SIZE genuinely rides
    // the window and the sharing is real.)
    val sets = rare.groupBy($"doc_id")
      .agg(sort_array(collect_list($"h")).as("hvs"))
    // Explicit-width repartition on the candidate key: the candidate set
    // is bytes-small, so AQE coalesces it to ~1 partition, while each row
    // fans into O(set size) merge-walk verify work below — that hazard is
    // data-size-independent, so the verify parallelism is pinned here.
    val width = spark.sparkContext.defaultParallelism
    val candidates = prefix.as("a").join(prefix.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
      .repartition(width, $"doc_a")
    // verify via ALIASED self-references of the one `sets` plan (not
    // per-side renamed projections): the two broadcast subtrees stay
    // canonically identical, so ReuseExchange ships ONE broadcast of the
    // doc → set relation instead of building it twice
    candidates.as("c")
      .join(sets.as("sa"), $"c.doc_a" === $"sa.doc_id")
      .join(sets.as("sb"), $"c.doc_b" === $"sb.doc_id")
      .select($"c.doc_a".as("doc_a"), $"c.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.hvs", $"sb.hvs").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** MinHash + LSH banded near-dup detection, exact-Jaccard verified.
    * Candidate generation is an equi-join on (band index, band hash) —
    * the shuffle key that makes this linear-ish at scale. Output equals
    * the exact-Jaccard pairs whenever LSH recall is 1 (certain at the
    * planted similarity levels; see NumBands).
    *
    * Per document the plan now materializes exactly: one long array of
    * shingle hashes (hv, reused by banding AND the exact verify) and 16
    * exploded (band, hash) longs from the fused MinHashBandHashes
    * expression. The round-2 form carried a 64-long signature array
    * through a 64-column projection plus 16 structs per doc — allocation
    * volume that turned into 131 s of GC under the driver's contended
    * environment. Nothing string-typed crosses a shuffle here: the verify
    * joins move long arrays, and hashed-set Jaccard equals string-set
    * Jaccard (distinct shingles ↦ distinct xxhash64 keys; see
    * dedupNgramJaccard on collision odds). */
  def dedupMinHashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // No cache: shingles() ends in an explicit exchange, and both the
    // banding branch and the exact-verify branch hang off the same
    // subtree, so the shuffle files are materialized once and replayed —
    // reuse without a session-lifetime memory footprint (a .cache() here
    // would outlive the query and tax everything that runs after it).
    // Fused expansion (ShingleXxh64): sorted-distinct window hashes in
    // one pass over the text bytes — the same set the string composition
    // produced (differential-pinned in DedupSpec). hv stays sorted IN
    // the one shared projection: the merge-walk verify needs sorted
    // arrays, MinHash minima are order-insensitive, and a separate
    // sorted-copy projection would split the two consumers onto
    // non-identical subplans — defeating exchange reuse and running the
    // scan + shuffle twice (measured: stages 7→8, input and
    // shuffle-write both 2×).
    val hashed = Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", graft.functions.ShingleXxh64($"text").as("hv"))
      .filter(size($"hv") > 0)
    val banded = hashed.select($"doc_id",
        posexplode(graft.functions.MinHashBandHashes($"hv")).as(Seq("band", "bh")))
    val candidates = banded.as("a").join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    // aliased self-references keep the two verify-side broadcast
    // subtrees canonically identical → ONE shipped broadcast of the
    // doc → hashes relation (see dedupNgramJaccardOnHashes)
    val verified = candidates.as("cd")
      .join(hashed.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(hashed.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.hv", $"sb.hv").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
    verified.select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Incremental MinHash-LSH near-dup: a fresh crawl delta probed
    * against the PRIOR corpus's band index — the production dedup shape
    * at 100 TB (every new snapshot is checked against the existing
    * corpus; the corpus is never re-paired against itself). Candidate
    * generation is the (band, band-hash) equi-join of the DELTA's
    * signatures against the prior side only, so the pair space is
    * |delta| × collisions and completely independent of prior × prior —
    * at scale the prior index is a write-once bucketed artifact (bucket
    * by (band, bh): appending a snapshot's signatures is a bucket-local
    * write, and this probe join is shuffle-free on the index side),
    * while the delta side is two orders of magnitude smaller than the
    * corpus. Verification is the same exact-Jaccard merge-walk over the
    * shared shingle arrays as [[dedupMinHashLsh]], so recall holds to
    * the same exact-pair oracle (restricted to cross-snapshot pairs). */
  def dedupMinHashIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    dedupMinHashIncrementalOn(prior, fresh)
  }

  /** The ONE (doc_id, hv sorted shingle-hash array) projection of the
    * MinHash family, shared with the incremental samples pipeline
    * (Curation) so the expansion cannot drift between consumers.
    *
    * The explicit isnotnull matters: a verify join infers
    * isnotnull(doc_id) on its branch but a banding branch without a
    * doc_id predicate does not — without carrying the constraint in the
    * SHARED subtree the branches de-canonicalize and the scan + shingle
    * expansion run twice per side (the same reuse hazard dedupMinHashLsh
    * documents; there the a.doc_id < b.doc_id self-join condition
    * supplies it for free). */
  private[graft] def minhashHashed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter($"doc_id".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", graft.functions.ShingleXxh64($"text").as("hv"))
      .filter(size($"hv") > 0)
  }

  /** The (doc_id, band, bh) banded signature fan-out over a
    * [[minhashHashed]] frame — 16 rows per doc, the LSH shuffle key. */
  private[graft] def minhashBanded(hashed: DataFrame): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    hashed.select($"doc_id",
      posexplode(graft.functions.MinHashBandHashes($"hv")).as(Seq("band", "bh")))
  }

  /** The transform of [[dedupMinHashIncremental]] over any (prior,
    * fresh) pair of (doc_id, text) frames (spec entry point). Output:
    * (doc_a = prior id, doc_b = fresh id, jaccard) per confirmed
    * cross-snapshot near-dup pair. */
  private[graft] def dedupMinHashIncrementalOn(
      prior: DataFrame, fresh: DataFrame): DataFrame = {
    val hp = minhashHashed(prior)
    minhashIncrementalTail(hp, minhashBanded(hp), minhashHashed(fresh))
  }

  /** The probe + verify tail every incremental MinHash form funnels
    * through, over an ALREADY-MATERIAL prior index — (doc_id, hv)
    * signatures and their (doc_id, band, bh) banding — so the inline
    * query (which computes both from the prior slice) and the stored
    * twin (which reads both back from the parquet artifact) cannot
    * drift: same candidates join, same exact-Jaccard merge-walk. */
  private[graft] def minhashIncrementalTail(priorSigs: DataFrame,
      priorBands: DataFrame, hf: DataFrame): DataFrame = {
    val spark = priorSigs.sparkSession
    import spark.implicits._
    // cross-snapshot candidates ONLY: prior bands on the left, delta
    // bands on the right — no a.doc_id < b.doc_id self-pairing games,
    // the slices are disjoint by construction
    val candidates = priorBands.as("a").join(minhashBanded(hf).as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    candidates.as("cd")
      .join(priorSigs.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(hf.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.hv", $"sb.hv").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[dedupMinHashIncremental]] in its STEADY-STATE form: the prior
    * corpus's signature + band index read from the parquet artifact a
    * previous run wrote ([[graft.sources.IndexStore]] — band index
    * partitioned by band, the partition-local-append layout), only the
    * DELTA hashed fresh at probe time. First run per corpus writes the
    * artifact; every later run — the wall a daily ingest actually
    * pays — is read + probe, no prior-side shingling at all. The bands
    * are derived FROM THE READ-BACK signatures (not re-derived from
    * text), so the artifact round-trip itself is under the oracle.
    * Output contract and oracle are IDENTICAL to the inline
    * incremental query. */
  def dedupMinHashStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    val sigs = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "minhash_sigs", "documents",
        Seq(NumHashes) ++ SnapshotKey),
      minhashHashed(prior))
    val bands = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "minhash_bands", "documents",
        Seq(NumHashes, NumBands) ++ SnapshotKey),
      minhashBanded(sigs), partitionCols = Seq("band"))
    minhashIncrementalTail(sigs, bands, minhashHashed(fresh))
  }

  /** INCREMENTAL embedding near-dup — the embedding-space member of
    * the incremental dedup family (exact, MinHash, SimHash and cluster
    * maintenance already have one): the fresh delta's sign-bit band
    * keys probe the PRIOR corpus's band-blocked index; candidates are
    * cross-snapshot ONLY (the prior never re-pairs with itself), each
    * verified with the exact cosine, same top-20 output contract as
    * [[dedupEmbedCosineBlocked]]. At scale the prior index is a
    * write-once (label, band, cell)-bucketed artifact — the MinHash
    * band-index argument in embedding space — and the probe join is
    * exchange-free on the index side. */
  def dedupEmbedCosineIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.embeddings(spark, sfDir), "vec_id")
    dedupEmbedCosineIncrementalOn(prior, fresh)
  }

  /** The transform of [[dedupEmbedCosineIncremental]] over any (prior,
    * fresh) pair of embeddings frames (spec entry point). */
  private[graft] def dedupEmbedCosineIncrementalOn(
      prior: DataFrame, fresh: DataFrame): DataFrame = {
    val p = embedSideOf(prior)
    embedIncrementalTail(embedBanded(p), p, fresh)
  }

  /** Each snapshot side ends in ONE explicit vec_id exchange that both
    * its banding and its verify-pool leg replay (the minhashHashed
    * discipline — without the shared materialized subtree the two
    * banded frames and the four pool-union legs each re-scanned the
    * table: ScanAudit measured embeddings=6). Shared by the inline
    * query and the stored twin. */
  private[graft] def embedSideOf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import graft.functions.VectorOps
    df.filter($"vec_id".isNotNull)
      .select($"vec_id", $"label", $"embedding",
        VectorOps.toDouble($"embedding").as("v"))
      .repartition(spark.sparkContext.defaultParallelism, $"vec_id")
  }

  /** The probe + verify tail both incremental embedding forms funnel
    * through, over an ALREADY-MATERIAL prior index — the (vec_id,
    * label, c, cell) band rows and the (vec_id, …, v) vector store —
    * so the inline query (which computes both from the prior slice)
    * and the stored twin (which reads both back from the parquet
    * artifact; doubles round-trip bit-exactly) cannot drift. */
  private def embedIncrementalTail(priorBands: DataFrame,
      priorVecs: DataFrame, fresh: DataFrame): DataFrame = {
    val spark = priorVecs.sparkSession
    import spark.implicits._
    import graft.functions.VectorOps
    val f = embedSideOf(fresh)
    val candidates = priorBands.as("a").join(embedBanded(f).as("b"),
        $"a.label" === $"b.label" && $"a.c" === $"b.c" && $"a.cell" === $"b.cell")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.label".as("label"))
      .distinct()
    // both verify sides read the same aliased pool frame (the
    // dedupMinHashLsh broadcast-reuse note); vec_a only matches prior
    // ids, vec_b only fresh
    val pool = priorVecs.select($"vec_id", $"v")
      .unionByName(f.select($"vec_id", $"v"))
    candidates.as("cd")
      .join(pool.as("sa"), $"cd.vec_a" === $"sa.vec_id")
      .join(pool.as("sb"), $"cd.vec_b" === $"sb.vec_id")
      .select($"cd.vec_a".as("vec_a"), $"cd.vec_b".as("vec_b"),
        $"cd.label".as("label"), VectorOps.cosine($"sa.v", $"sb.v").as("cos"))
      .orderBy($"cos".desc, $"vec_a".asc, $"vec_b".asc)
      .limit(20)
      .select($"vec_a", $"vec_b", $"label", round($"cos", 4).as("cosine"))
  }

  /** [[dedupEmbedCosineIncremental]] in its STEADY-STATE form — the
    * embedding member of the stored-artifact family: the prior
    * corpus's vector store AND its sign-bit band index (partitioned by
    * band `c` for partition-local appends) read from the parquet
    * artifact a previous run wrote ([[graft.sources.IndexStore]]),
    * only the DELTA banded at probe time. The band index is derived
    * FROM THE READ-BACK vector store, so the round-trip itself is
    * under the oracle; the verify cosines run on the read-back doubles,
    * which round-trip parquet bit-exactly. Output contract and oracle
    * are IDENTICAL to the inline incremental query. */
  def dedupEmbedCosineStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    val (prior, fresh) = snapshotSplit(Tables.embeddings(spark, sfDir), "vec_id")
    val vecs = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "embed_vecs", "embeddings", SnapshotKey),
      embedSideOf(prior))
    val bands = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "embed_bands", "embeddings",
        Seq(EmbedBands, EmbedBandBits) ++ SnapshotKey),
      embedBanded(vecs), partitionCols = Seq("c"))
    embedIncrementalTail(bands, vecs, fresh)
  }

  /** The dedup *result*: documents kept after dropping the higher doc_id
    * of every confirmed near-duplicate pair. */
  def dedupKept(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"lang", $"source")
    val drop = dedupNgramJaccard(spark, sfDir).select($"doc_b".as("doc_id")).distinct()
    docs.join(drop, Seq("doc_id"), "left_anti").orderBy($"doc_id")
  }

  /** Per-document 64-bit SimHash fingerprint over unigram tokens
    * (duplicates kept — token frequency weights the bit vote, per
    * Charikar's construction). Feature hashes are md5-low-64 so the
    * DuckDB oracle rebuilds the fingerprint bit-for-bit — this query is
    * hash-checked, not rows-only. Hamming-adjacent fingerprints =
    * near-dups; the banded search over shingle-space fingerprints is
    * dedup_simhash_pairs. */
  def dedupSimHash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", graft.functions.SimHash64FromHashes(
        transform(split($"text", " "), t => graft.functions.Md5Lower64(t))).as("simhash"))
      .orderBy($"doc_id")
  }

  /** Chunks per fingerprint for the Hamming-banded search: 8 disjoint
    * chunks of 8 bits. 8-bit chunks keep bucket fan-in at n/256 per
    * chunk value — the shuffle-key bound that makes this linear-ish. */
  final val SimHashChunks = 8
  final val SimHashChunkBits = 8

  /** The fingerprint-distance cut that DEFINES the search output: a pair
    * is reported iff Hamming(f_a, f_b) ≤ 15 AND capped-Jaccard ≥ 0.8.
    * 15 is exactly what the multi-probe banding below captures with a
    * deterministic guarantee — ⌊15/SimHashChunks⌋ = 1, so some chunk of
    * any qualifying pair differs in ≤ 1 bit and the radius-1 probe ball
    * hits it (pigeonhole). The cut is part of the query's semantics, not
    * a heuristic: the DuckDB oracle applies the identical predicate on
    * the identical md5-derived fingerprints, so the hash gate is exact —
    * no probabilistic recall left in the contract. True near-dup pairs
    * measure h ≤ 12 across all SFs, so the ≤ 15 window loses nothing on
    * this corpus; the recall-vs-exact-Jaccard property is pinned by a
    * unit spec instead of the driver gate. */
  final val MaxPairHamming = 15

  /** Optional per-(chunk, value) cell occupancy cap on the 8-bit band
    * index — [[B16CellCapKey]]'s machinery applied one tier down, OFF
    * by default (`Int.MaxValue`) because at the 8-bit geometry a
    * meaningful cap DROPS real pairs: measured (b16 scaladoc below),
    * the worst qualifying pair's best capturing cell has occupancy 289
    * at ×10, above the cell distribution's p90 — band-cell occupancy
    * is near-uniform, so there is no skew for a cap to cut. The knob
    * exists as the adversarial-flood safety valve (one cell of a
    * million byte-identical crawls = O(cell²) checks) with CAPPED-
    * SUBSET semantics, spec-pinned: every emitted pair is a pair of
    * the uncapped search (no false pairs, ever), and a pair survives
    * iff at least one of its capturing cells is under the cap. Oracle
    * parity holds only when off. The SCALE answer for this search is
    * NOT a cap — it is the b16 tier's larger key space (see the
    * tiering note on [[dedupSimHashPairsB16]]). */
  final val SimHash8CellCapKey = "spark.graft.dedup.simhash8.cellOccupancyCap"

  /** SimHash near-dup SEARCH: pigeonhole chunk banding over the 64-bit
    * fingerprint generates candidates, then candidates are verified with
    * exact 3-gram Jaccard over the DF-capped shingle space. The banding
    * is multi-probe: the probe side (smaller doc_id) emits the full
    * radius-1 Hamming ball of each 8-bit chunk (9 keys per chunk, 72 per
    * doc), the index side emits the 8 exact chunk values; any pair with
    * fingerprint Hamming ≤ MaxPairHamming then shares a join key by
    * pigeonhole — capture is guaranteed, not sampled. Feature hashes are
    * md5-low-64 (Md5Lower64 ≡ DuckDB md5_number_lower) so the oracle can
    * rebuild the exact fingerprints; no shingle string survives past the
    * map side of the first exchange (round 2 shuffled 42.8 MB of strings
    * here).
    *
    * TIERING (r17 VERDICT): this 8-bit form is the EXACTNESS BASELINE,
    * not the scale path — its 2048-cell key space is fixed, so cell
    * occupancy grows ∝ n and the candidate space Σ n_c² grows ∝ n²
    * (measured ×98 checks / ×6.7 wall at ×10; no occupancy cap can fix
    * it, see [[SimHash8CellCapKey]]). Past n ≈ 1.5×10⁵ docs run
    * [[dedupSimHashPairsB16]] — identical output contract, 4·65536
    * cells, occupancy ~1 at these corpus sizes — and grow band bits
    * with log₂(n) from there. */
  def dedupSimHashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (cappedSets, fp) = simHashCappedBase(spark, sfDir)
    // index side: the 8 exact chunk values; probe side: each chunk's
    // radius-1 Hamming ball (the value itself + its 8 one-bit flips).
    // The index stays 1 row per (doc, chunk), so AQE can broadcast it at
    // bench scale while the 9x probe expansion never crosses a shuffle;
    // at cluster scale both sides shuffle on the band key with n/256
    // fan-in. r22: both balls are ONE fused generator input each
    // ([[graft.functions.SimHashBallKeys]], combined (c << bits) | v
    // keys — the former per-row array of 8/72 struct expressions is a
    // bijection of these, so candidates are identical; radius 0 = the
    // exact chunk values).
    val index = fp.select($"doc_id", $"f",
      explode(graft.functions.SimHashBallKeys(
        $"f", SimHashChunks, SimHashChunkBits, 0)).as("k"))
    val probe = fp.select($"doc_id", $"f",
      explode(graft.functions.SimHashBallKeys(
        $"f", SimHashChunks, SimHashChunkBits, 1)).as("k"))
    // Optional fan-in bound (see SimHash8CellCapKey): drop index cells
    // whose occupancy exceeds the cap BEFORE any pairing — the b16
    // tier's left-semi discipline one geometry down. Default (MaxValue)
    // leaves the plan untouched; enabled, output is the spec-pinned
    // capped SUBSET (a pair survives iff some under-cap cell captures it).
    val cellCap = spark.conf.get(SimHash8CellCapKey, Int.MaxValue.toString).toInt
    val boundedIndex = if (cellCap == Int.MaxValue) index else {
      val keep = index.groupBy($"k")
        .agg(count(lit(1)).as("occ")).filter($"occ" <= cellCap)
        .select($"k")
      index.join(keep, Seq("k"), "left_semi")
    }
    // carry the full fingerprint through the band join: the exact-Hamming
    // cut (long XOR + popcount) runs INSIDE the join, so the distinct
    // dedupes only the surviving pairs, not every chunk collision. The
    // probe is the smaller-doc_id side; the ball is symmetric, so every
    // qualifying pair is seen in this orientation.
    val candidates = probe.as("a").join(boundedIndex.as("b"),
        $"a.k" === $"b.k" && $"a.doc_id" < $"b.doc_id" &&
          expr("bit_count(a.f ^ b.f)") <= MaxPairHamming)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
      // explicit-width repartition: the candidate set is bytes-small (AQE
      // would coalesce it to ~1 partition) but each row fans into
      // O(set size) merge-walk verify work — parallelism pinned here
      .repartition(spark.sparkContext.defaultParallelism, $"doc_a")
    // aliased self-references keep the two verify-side broadcast
    // subtrees canonically identical → ONE shipped broadcast of the
    // doc → set relation (see dedupNgramJaccardOnHashes)
    candidates.as("cd")
      .join(cappedSets.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(cappedSets.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.shc", $"sb.shc").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Asymmetric near-dup (containment) threshold: a pair is reported
    * when the SMALLER shingle set is ≥ 90% covered by the other.
    * Catches excerpts/quotes that symmetric Jaccard structurally
    * misses: a 100-shingle excerpt of a 2000-shingle document has
    * J ≈ 0.05 but containment 1.0 — exactly the "this training doc is
    * a slice of that one" case a curation pipeline needs. */
  final val ContainmentThreshold = 0.9

  /** Containment near-dup search over the same DF-capped inverted
    * shingle index as [[dedupNgramJaccard]]. The prefix bound differs:
    * each doc probes its |x| − ⌈t·|x|⌉ + 1 rarest shingles (prefix
    * principle against the overlap bound c ≥ t·|smaller|, which the
    * probe doc satisfies when IT is the smaller side), but the index
    * side must stay FULL — the required overlap relative to the larger
    * side can be arbitrarily small, so size-relative pruning there
    * would lose pairs. Every pair (A,B) with c ≥ t·min(|A|,|B|) is
    * found via the smaller side's probe against the full index.
    * Verify is exact set-intersection over the per-doc sorted hash
    * sets; fan-in stays bounded by the DF cap. */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    dedupContainmentOnDocs(Tables.documents(spark, sfDir))

  /** [[dedupContainment]] on any (doc_id, text) frame (the cluster-keep
    * pipelines run it over their redacted CTE). */
  private[graft] def dedupContainmentOnDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // same fused expansion + canonicalization plumbing as dedupNgramJaccard
    dedupContainmentOnHashes(explodedHashes(docs), MaxShingleDF)
  }

  /** The shared fused shingle expansion (see the exchange-reuse notes in
    * [[dedupNgramJaccardOnDocs]]) — ONE definition so every consumer
    * lands on the identical canonical subtree. */
  private def explodedHashes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    explodedHashesSpread(docs
      .filter($"doc_id".isNotNull)
      .repartition(width, $"doc_id"))
  }

  /** [[explodedHashes]] over a frame the CALLER has already
    * null-filtered and doc_id-repartitioned — the entry for pipelines
    * that hang an expensive projection (the redact regex stack) off the
    * same upfront exchange (r21): routing them through
    * [[explodedHashes]] would both serialize the projection below the
    * exchange (the scan of a small corpus is ONE task — measured 0.6 s
    * single-threaded redact per consumer at sf0.1) and then pay a
    * second corpus-text exchange. Same expansion expression, same
    * downstream subtree, so exchange-reuse canonicalization is
    * unchanged. */
  private[graft] def explodedHashesSpread(spread: DataFrame): DataFrame = {
    val spark = spread.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    spread
      .select($"doc_id", explode_outer(graft.functions.ShingleXxh64($"text")).as("h"))
      .filter($"h".isNotNull)
      .repartition(width, $"h")
  }

  /** The prefix-filtered Jaccard pair search over a pre-spread frame —
    * see [[explodedHashesSpread]]. */
  private[graft] def dedupNgramJaccardOnSpread(spread: DataFrame): DataFrame =
    dedupNgramJaccardOnHashes(explodedHashesSpread(spread), MaxShingleDF)

  /** The union pair graph over a pre-spread frame — see
    * [[explodedHashesSpread]]. */
  private[graft] def unionPairsOnSpread(spread: DataFrame): DataFrame =
    unionPairsOnHashes(explodedHashesSpread(spread), MaxShingleDF)

  /** The UNION pair graph — symmetric (Jaccard) ∪ asymmetric
    * (containment) edges — over ONE shared shingle expansion of any
    * (doc_id, text) frame. This is the edge source for every
    * cluster-based keep.
    *
    * Round 8: fused into ONE candidate pass + ONE verify pass (was two
    * full candidate-join + verify passes unioned, each re-walking the
    * same capped sorted-set relation). Candidate completeness holds
    * per edge type by tagging rows with BOTH prefix bounds instead of
    * materializing two prefix frames — see [[unionPairsOnHashes]]. */
  private[graft] def unionPairsOnDocs(docs: DataFrame): DataFrame =
    unionPairsOnHashes(explodedHashes(docs), MaxShingleDF)

  /** Single-pass union pair search over the exploded (doc_id, h) frame.
    *
    * Candidates: rank every rare (doc, h) once (same one-window pass as
    * the standalone searches) and tag it with both prefix memberships —
    * `pj` (Jaccard prefix, t = 0.8: r ≤ n − ⌈0.8n⌉ + 1) and `pc`
    * (containment prefix, t = 0.9: r ≤ n − ⌈0.9n⌉ + 1, always ⊆ pj).
    * One equi-join on h — probe = pj rows, index = ALL rare rows
    * carrying their pj flag — accepted when `a.pc OR b.pj`:
    *   - b.pj gives prefix⋈prefix, the symmetric Jaccard candidate set
    *     (any qualifying pair shares a shingle in both t=0.8 prefixes);
    *   - a.pc gives prefix⋈full-index, the containment candidate set
    *     (the smaller side's t=0.9 prefix must hit the other side's
    *     FULL capped set — size-relative pruning there would lose
    *     pairs; both orientations appear since pc ⊆ pj ⊆ probe).
    * Candidate generation is recall-only — the verify predicates are
    * exact — so the union of the two candidate sets feeding one exact
    * verify emits exactly (Jaccard pairs) ∪ (containment pairs).
    *
    * Verify: ONE merge walk per pair. overlap c and set sizes give both
    * scores exactly — the sets are duplicate-free, so |a ∪ b| =
    * na + nb − c as integers and c/(na+nb−c) is the identical double
    * SetJaccardSorted computes, while c/min(na,nb) is the containment
    * score verbatim. Halves the candidate joins, distincts, broadcast
    * builds and merge walks of the round-7 two-pass union. */
  private def unionPairsOnHashes(exploded: DataFrame, maxDf: Long): DataFrame = {
    val spark = exploded.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // identical DF-cap / one-window rank scaffolding as the standalone
    // searches (see dedupNgramJaccardOnHashes for the plan-shape notes)
    val rareH = exploded.groupBy($"h").agg(count($"doc_id").as("df"))
      .filter($"df" <= maxDf)
    val rare = exploded.join(rareH, "h") // (h, doc_id, df)
    val byDoc = Window.partitionBy($"doc_id").orderBy($"df", $"h")
    val byDocFull = byDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tagged = rare
      .withColumn("r", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(byDocFull))
      .select($"doc_id", $"h", $"n",
        // exact-integer prefix bounds (⌈t·n⌉ via floored division; the
        // double division is exact — see dedupNgramJaccardOnHashes)
        ($"r" <= $"n" - floor(($"n" * 4 + 4) / lit(5)) + 1).as("pj"),
        ($"r" <= $"n" - floor(($"n" * 9 + 9) / lit(10)) + 1).as("pc"))
    val width = spark.sparkContext.defaultParallelism
    val candidates = tagged.filter($"pj").as("a").join(tagged.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" =!= $"b.doc_id" &&
          ($"a.pc" || $"b.pj"))
      .select(least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"))
      .distinct()
      // same verify-parallelism pin as the standalone searches: the
      // candidate frame is bytes-small (AQE would coalesce it) but each
      // row fans into O(set size) merge-walk work
      .repartition(width, $"doc_a")
    // per-doc sorted hash set + size derived FROM the window output:
    // WindowExec preserves its child's hash(doc_id) partitioning, so
    // this agg runs as a no-exchange continuation — deriving it from
    // `rare` instead re-runs the rare join AND adds a second full
    // doc_id exchange (measured: two ~9 s stages at sf0.1). The set
    // size comes from max(n) — the WINDOW's count — not count(*):
    // referencing a window output is what keeps column pruning from
    // eliminating the window on this branch and silently re-deriving
    // the agg from `rare` (measured: with count(*) the optimizer did
    // exactly that and both stages came back). Aliased self-references
    // keep the two verify-side broadcast subtrees canonically
    // identical → ONE shipped broadcast
    val sets = tagged.groupBy($"doc_id")
      .agg(sort_array(collect_list($"h")).as("hvs"), max($"n").as("n"))
    candidates.as("cd")
      .join(sets.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(sets.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetOverlapSorted($"sa.hvs", $"sb.hvs")
          .cast("double").as("c"),
        $"sa.n".as("na"), $"sb.n".as("nb"))
      .filter($"c" / ($"na" + $"nb" - $"c") >= JaccardThreshold ||
        $"c" / least($"na", $"nb") >= ContainmentThreshold)
      .select($"doc_a", $"doc_b")
  }

  /** String-shingle entry (spec path — plantable excerpt inputs). */
  private[graft] def dedupContainmentOn(sh: DataFrame,
      maxDf: Long = MaxShingleDF): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    val exploded = sh.filter($"doc_id".isNotNull)
      .select($"doc_id", explode_outer($"sh").as("s"))
      .filter($"s".isNotNull)
      .select($"doc_id", xxhash64($"s").as("h"))
      .repartition(width, $"h")
    dedupContainmentOnHashes(exploded, maxDf)
  }

  private def dedupContainmentOnHashes(exploded: DataFrame,
      maxDf: Long): DataFrame = {
    val spark = exploded.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // same DF-cap/rank scaffolding as dedupNgramJaccardOnHashes (see
    // the plan-shape notes there); only the prefix bound and the verify
    // formula differ
    val rareH = exploded.groupBy($"h").agg(count($"doc_id").as("df"))
      .filter($"df" <= maxDf)
    val rare = exploded.join(rareH, "h") // (h, doc_id, df)
    val byDoc = Window.partitionBy($"doc_id").orderBy($"df", $"h")
    val byDocFull = byDoc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = rare
      .withColumn("r", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(byDocFull))
    // containment prefix for t = 0.9: |x| − ⌈9·|x|/10⌉ + 1, with
    // ⌈9n/10⌉ = ⌊(9n+9)/10⌋ in exact integer arithmetic
    val prefix = ranked
      .filter($"r" <= $"n" - floor(($"n" * 9 + 9) / lit(10)) + 1)
      .select($"doc_id", $"h")
    // per-doc sorted hash set + its size, derived from the window output
    // so the agg continues on the window's hash(doc_id) partitioning
    // with no second rare join / exchange; max(n) (the WINDOW's count)
    // keeps column pruning from eliminating the window on this branch
    // (see unionPairsOnHashes for the measured pathology)
    val sets = ranked.groupBy($"doc_id")
      .agg(sort_array(collect_list($"h")).as("hvs"), max($"n").as("n"))
    val candidates = prefix.as("a").join(rare.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" =!= $"b.doc_id")
      .select(least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"))
      .distinct()
      // same verify-parallelism pin as the other near-dup paths
      .repartition(spark.sparkContext.defaultParallelism, $"doc_a")
    candidates.as("cd")
      .join(sets.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(sets.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        // zero-alloc merge-walk overlap count (≡ size(array_intersect)):
        // the built-in builds an OpenHashSet + result array per candidate
        // pair, the same allocation line the jaccard/simhash verifies
        // already avoid via SetJaccardSorted
        (graft.functions.SetOverlapSorted($"sa.hvs", $"sb.hvs").cast("double") /
          least($"sa.n", $"sb.n")).as("cont"))
      .filter($"cont" >= ContainmentThreshold)
      .select($"doc_a", $"doc_b", round($"cont", 3).as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Shared prefix of both banded SimHash searches (≤15 and the wide
    * ≤23 variant): ONE shingle expansion feeds everything — exploded
    * rows hash to int64 and shuffle on the hash key (shared with the
    * DF-count agg), the capped per-doc hash sets come back from one
    * groupBy, and the FINGERPRINT bit-votes those same hashes
    * (SimHash64FromHashes). Fingerprinting the capped space makes
    * search and verify operate on the identical feature space the
    * oracle uses. The DF cap drops zero shingles at
    * sf0.001/0.01/0.1 (boilerplate keys only appear beyond these
    * corpora).
    *
    * The DF cap is a streaming count-agg joined back on the SAME
    * h-exchange (round 4 used a `count over (partition by h)` window
    * here, which buffered the whole exploded frame in WindowExec sort
    * runs — the allocation center that melted the round-4 driver bench
    * at 42 s of GC). `count($"doc_id")` — not count(*) — on a
    * never-null column is deliberate: it keeps doc_id referenced on
    * the agg branch, so column pruning can't slim that subtree below
    * the repartition and de-canonicalize it against the join's probe
    * side (round 3's double-expansion pathology); both branches replay
    * ONE shuffle (ReusedExchange). The count table is rare-shingle-
    * sized, so AQE broadcasts it at bench scale; at cluster scale both
    * sides are already hash(h)-partitioned — no new exchange.
    *
    * Returns (cappedSets = (doc_id, shc sorted hash array),
    * fp = (doc_id, f 64-bit fingerprint)). `shc` is sorted IN the
    * shared projection (not per verify-join side): the bit-vote
    * fingerprint is order-insensitive, the merge-walk verify needs
    * sorted input, and both consumers staying on the identical subplan
    * is what keeps the aggregation exchange reused. */
  private def simHashCappedBase(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // explicit isnotnull(doc_id): exchange-reuse plumbing, not a
    // semantic filter — the pair/verify joins infer it on their
    // branches while the DF-count branch doesn't, de-canonicalizing
    // the shared subtree (see dedupNgramJaccard for the measurement)
    val ex = docs
      .filter($"doc_id".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id",
        explode_outer(graft.functions.ShingleMd5Low64($"text")).as("h"))
      .filter($"h".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"h")
    val rareH = ex.groupBy($"h").agg(count($"doc_id").as("df"))
      .filter($"df" <= MaxShingleDF)
      .select($"h")
    val cappedSets = ex.join(rareH, "h")
      .groupBy($"doc_id").agg(sort_array(collect_list($"h")).as("shc"))
    val fp = cappedSets.select($"doc_id", graft.functions.SimHash64FromHashes($"shc").as("f"))
    (cappedSets, fp)
  }

  /** The wide variant's fingerprint-distance cut. 23 = (2+1)·
    * SimHashChunks − 1: by pigeonhole, any pair at Hamming ≤ 23 has
    * some aligned 8-bit chunk differing in ≤ ⌊23/8⌋ = 2 bits, so a
    * radius-2 probe ball on the same chunking the narrow search uses
    * captures it DETERMINISTICALLY — no recall assumption, same as the
    * narrow guarantee, one radius wider. (A second rotated chunking
    * with radius-1 balls does NOT give this guarantee: DedupSpec's
    * property test found random 20-bit patterns that are ≥2-per-chunk
    * balanced in two decompositions at once.) */
  final val MaxPairHammingWide = 23

  /** Radius-2 probe ball size per chunk: the value itself, 8 one-bit
    * flips, C(8,2)=28 two-bit flips. */
  final val WideProbeBallSize = 37

  /** SimHash near-dup search with the Hamming window widened to
    * [[MaxPairHammingWide]] via a radius-2 multi-probe ball over the
    * same aligned 8×8-bit chunking as [[dedupSimHashPairs]] (8 index
    * keys / 8×37 = 296 probe keys per doc — the probe expansion never
    * crosses a shuffle). Same verify (exact capped-Jaccard merge-walk)
    * and same output contract; the only semantic difference is the
    * wider fingerprint cut, mirrored exactly in the DuckDB oracle.
    * Exists so the deterministic-capture guarantee survives a corpus
    * whose planted near-dup pairs land farther apart in fingerprint
    * space than the current ≤12. */
  def dedupSimHashPairsWide(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (cappedSets, fp) = simHashCappedBase(spark, sfDir)
    // index side: the 8 exact chunk values (radius 0); probe side: each
    // chunk's radius-2 Hamming ball (37 masks per chunk,
    // [[WideProbeBallSize]]). r22: both balls are one fused generator
    // input each (SimHashBallKeys combined keys — see
    // dedupSimHashPairs); the join is a single-long hash join, n/256
    // fan-in per key as in the narrow search.
    val index = fp.select($"doc_id", $"f",
      explode(graft.functions.SimHashBallKeys(
        $"f", SimHashChunks, SimHashChunkBits, 0)).as("k"))
    val probe = fp.select($"doc_id", $"f",
      explode(graft.functions.SimHashBallKeys(
        $"f", SimHashChunks, SimHashChunkBits, 2)).as("k"))
    // exact-Hamming cut INSIDE the join (long XOR + popcount), so the
    // distinct dedupes only surviving pairs, not every chunk collision;
    // the probe ball is symmetric, so the a.doc_id < b.doc_id
    // orientation sees every qualifying pair
    val candidates = probe.as("a").join(index.as("b"),
        $"a.k" === $"b.k" && $"a.doc_id" < $"b.doc_id" &&
          expr("bit_count(a.f ^ b.f)") <= MaxPairHammingWide)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
      // explicit width: bytes-small candidate set, O(set size) verify
      // fan-out per row — same hazard note as dedupSimHashPairs
      .repartition(spark.sparkContext.defaultParallelism, $"doc_a")
    candidates.as("cd")
      .join(cappedSets.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(cappedSets.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.shc", $"sb.shc").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** 16-bit-band SimHash search parameters: 4 aligned chunks of 16 bits.
    * Pigeonhole at [[MaxPairHamming]] = 15: some chunk of any qualifying
    * pair differs in ≤ ⌊15/4⌋ = 3 bits, so the two-sided radius-1 ×
    * radius-2 ball pair (SimHashBallKeys radii 1 and 2) deterministically
    * captures it — the same guarantee shape as the 8-bit search, one
    * band-width step up. */
  final val SimHashB16Chunks = 4
  final val SimHashB16Bits = 16

  /** The TWO-SIDED probe-ball geometry (r16 — was a one-sided radius-3
    * ball of 697 masks on the probe side): index rows carry each
    * chunk's radius-1 ball (17 masks), probes carry radius-2 (137).
    * Any chunk pair differing in d ≤ 3 bits is captured: split diff =
    * m1 ^ m2 with |m1| ≤ 1, |m2| ≤ 2 (d ≤ 1 → m1 = diff, m2 = 0; d ≥ 2
    * → one bit on the index side, the rest on the probe side). Probe
    * fan-out drops 2788 → 548 rows/doc (the row population whose
    * allocation was the battery's 9.3 s GC flag, r15 VERDICT #8) for a
    * 17× larger — still trivially broadcastable — index side. r22: the
    * masks are enumerated inside [[graft.functions.SimHashBallKeys]]
    * (per radius) rather than as literal arrays in the plan. */

  /** Document-count ceiling below which the b16 radius-1 index ball is
    * broadcast (68 rows/doc, ~5 KB/doc of hashed-relation memory → ~100 MB
    * at the default). An EXPLICIT `broadcast()` hint is honored by Spark at
    * ANY estimated size — it never "comes off" — so the gate must live in
    * OUR code, keyed on a number Catalyst can't mis-estimate (the parquet
    * row count, one metadata-cheap job). Above the ceiling both sides
    * shuffle on (c, v) — pinned with a `shuffle_merge` hint because
    * Catalyst's size estimate does not survive the generator fan-out and
    * would otherwise build the hash table from the 548×-exploded PROBE
    * side. Override: `spark.graft.dedup.b16.broadcastMaxDocs`. */
  final val B16BroadcastMaxDocsKey = "spark.graft.dedup.b16.broadcastMaxDocs"
  final val B16BroadcastMaxDocsDefault = 20000L

  /** Optional per-(chunk, value) cell occupancy cap on the b16 index — the
    * [[MaxShingleDF]]-style fan-in bound, OFF by default (`Int.MaxValue`).
    * Off because, measured (scaladoc below), qualifying pairs can live in
    * cells ABOVE any useful cap at the 8-bit geometry, and at the 16-bit
    * geometry occupancy is ~1 so a cap is dead weight; it exists as the
    * production safety valve against an adversarial duplicate flood (one
    * cell holding a million byte-identical crawls would otherwise cost
    * O(cell²) candidate checks). Enabling it DROPS the pairs whose only
    * capturing cells are pruned — oracle parity holds only when off.
    * Override: `spark.graft.dedup.b16.cellOccupancyCap`. */
  final val B16CellCapKey = "spark.graft.dedup.b16.cellOccupancyCap"

  /** [[dedupSimHashPairs]] with the band width grown from 8 to 16 bits —
    * the 100 TB scale knob for this search, DEMONSTRATED rather than
    * argued. Measured (DuckDB fingerprint rebuild, sf0.1 → ×10 ScaleGen):
    * 8-bit cell occupancy is near-UNIFORM (mean 19.5 → 195, max 54 →
    * 398), so the candidate space Σ n_c² over the FIXED 2048-cell key
    * space grows quadratically (7.36M → 723M checks, ×98 for ×10 docs) —
    * and no per-cell occupancy cap can help: the worst qualifying pair's
    * best capturing cell has occupancy 289 at ×10, ABOVE the
    * distribution's p90, so any cap that cuts meaningful work also drops
    * real pairs (the MaxShingleDF discipline does not transfer — shingle
    * DF is skewed, band-cell occupancy is flat). The scale lever is the
    * KEY SPACE: 16-bit chunks give 4·65536 cells, occupancy stays ~1
    * at these corpus sizes (max 4 at sf0.1, 9 at ×10), and measured
    * candidate checks drop 6.3× / 6.5×. Cost shifts to probe fan-out —
    * r16: a TWO-SIDED ball (radius-1 index × radius-2 probe, 68 + 548
    * keys/doc) instead of the original one-sided radius-3 probe ball
    * (4 + 2788): same deterministic capture by the mask-split argument
    * on the two-sided ball, 5× fewer allocated probe rows (the r15 battery's
    * 9.3 s GC flag). Join-side policy is SIZE-GATED in our code (see
    * [[B16BroadcastMaxDocsKey]]): below the doc ceiling the radius-1
    * index ball is broadcast and probe rows are generated and consumed
    * map-side; above it both sides shuffle on (c, v) — an explicit
    * broadcast hint would be honored by Spark at any size, so the
    * fallback cannot be left to the planner. Rule of thumb the pair
    * encodes: band bits
    * must grow with log₂(n); at n where even 2^16-cell occupancy
    * saturates (billions of docs), the next step is 32-bit bands — or a
    * tighter Hamming window, which is a semantic change.
    *
    * Output contract and oracle are IDENTICAL to the 8-bit search
    * (capture is deterministic by pigeonhole on both paths, so both must
    * emit exactly the Hamming ≤ 15 ∧ capped-Jaccard ≥ 0.8 pairs);
    * DedupSpec pins the two engines equal row-for-row. */
  def dedupSimHashPairsB16(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (cappedSets, fp) = simHashCappedBase(spark, sfDir)
    // TWO-SIDED ball (see the mask constants): the index side emits the
    // radius-1 ball — 68 rows/doc, still trivially broadcastable — so
    // the probe side only needs radius 2 (548 rows/doc, down from the
    // one-sided radius-3 ball's 2788). The probe fan-out is the row
    // population the whole query allocates; shrinking it 5× is the GC
    // fix (r15: 9.3 s GC in the median battery run).
    //
    // r22: each side's ball is ONE fused generator input
    // ([[graft.functions.SimHashBallKeys]]) emitting combined
    // (chunk << bits) | value join keys — the former shape was two
    // chained Generates (chunk posexplode, then a 137-mask
    // literal-array explode + XOR projection), which copied every
    // intermediate AND final row (~2.7M UnsafeRows at sf0.1, the
    // query's GC center) and joined on two columns. The (c, v) → key
    // mapping is a bijection, so candidates are IDENTICAL (DedupSpec's
    // b16 ≡ 8-bit differential and both join-shape pins re-run green).
    val index = fp.select($"doc_id", $"f",
      explode(graft.functions.SimHashBallKeys(
        $"f", SimHashB16Chunks, SimHashB16Bits, 1)).as("k"))
    // Explicit-width repartition BEFORE the 548× fan-out: fp is a
    // 1-row-per-doc aggregate output that AQE coalesces to ~1 partition
    // at this byte size, and without the exchange the whole probe
    // generation and join runs single-threaded (measured: 15 s wall ≈
    // 17 s cpu at sf0.1) — same hazard class as the candidate
    // repartition below, on the input side
    val probe = fp
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", $"f",
        explode(graft.functions.SimHashBallKeys(
          $"f", SimHashB16Chunks, SimHashB16Bits, 2)).as("k"))
    // Optional fan-in bound (see B16CellCapKey): drop index cells whose
    // occupancy exceeds the cap before any pairing — the same left-semi
    // discipline MaxShingleDF applies to the inverted shingle index. The
    // default (MaxValue) leaves the plan untouched.
    val cellCap = spark.conf.get(B16CellCapKey, Int.MaxValue.toString).toInt
    val boundedIndex = if (cellCap == Int.MaxValue) index else {
      val keep = index.groupBy($"k")
        .agg(count(lit(1)).as("occ")).filter($"occ" <= cellCap)
        .select($"k")
      index.join(keep, Seq("k"), "left_semi")
    }
    // SIZE-GATED broadcast of the index (see B16BroadcastMaxDocsKey): an
    // explicit broadcast() hint is honored at ANY size, so the choice is
    // made here from the parquet row count, not left to a hint Spark
    // would never drop. Below the ceiling: broadcast — Catalyst's size
    // estimate for the probe side does not survive the generator
    // fan-out, so left to stats it builds the hash table from the PROBE
    // side, a single-threaded 548n-row broadcast build (measured at the
    // old 2788× geometry: 17 s wall ≈ 17 s cpu at sf0.1). Above it: both
    // sides shuffle on (c, v) via shuffle_merge — the same mis-estimate
    // would otherwise still pick a broadcast build — where the two-sided
    // geometry's smaller total fan-out is exactly what crosses the wire.
    // A two-sided match can capture one pair through several (m1, m2)
    // splits — the existing distinct() below already collapses them
    // (capture multiplicity ≤ 17 per equal chunk, pair count unchanged —
    // DedupSpec pins b16 ≡ 8-bit output on both plan shapes).
    val maxDocs = spark.conf
      .get(B16BroadcastMaxDocsKey, B16BroadcastMaxDocsDefault.toString).toLong
    val nDocs = Tables.documents(spark, sfDir).count()
    val rhs = if (nDocs <= maxDocs) broadcast(boundedIndex.as("b"))
              else boundedIndex.as("b").hint("shuffle_merge")
    val candidates = probe.as("a").join(rhs,
        $"a.k" === $"b.k" && $"a.doc_id" < $"b.doc_id" &&
          expr("bit_count(a.f ^ b.f)") <= MaxPairHamming)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
      // same explicit-width hazard note as dedupSimHashPairs: bytes-small
      // candidate set, O(set size) verify fan-out per row
      .repartition(spark.sparkContext.defaultParallelism, $"doc_a")
    candidates.as("cd")
      .join(cappedSets.as("sa"), $"cd.doc_a" === $"sa.doc_id")
      .join(cappedSets.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.shc", $"sb.shc").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Incremental SimHash near-dup: a fresh crawl delta probed against
    * the PRIOR corpus's fingerprint band index — the SimHash member of
    * the incremental family (exact hash-index / Bloom-gated / MinHash
    * band-index / this). The prior side contributes its 8 exact 8-bit
    * chunk values per fingerprint — 8 longs/doc, the write-once artifact
    * a production pipeline buckets by (chunk, value) exactly like the
    * MinHash (band, bh) index — while the DELTA side emits each chunk's
    * radius-1 Hamming ball (72 keys/doc, generated and consumed
    * map-side). Capture is deterministic by the same pigeonhole as
    * [[dedupSimHashPairs]]: any cross-snapshot pair at fingerprint
    * Hamming ≤ [[MaxPairHamming]] has some aligned chunk differing in
    * ≤ ⌊15/8⌋ = 1 bit, and the delta-side ball covers one-bit chunk
    * differences in either orientation. Prior never self-pairs — the
    * pair space is |delta| × band collisions, independent of
    * prior × prior, and the per-cell collision fan-in scales down with
    * the band-width knob ([[dedupSimHashPairsB16]]'s 16-bit geometry
    * drops in unchanged when prior occupancy saturates).
    *
    * Feature space is the UNCAPPED 3-gram shingle set, mirroring
    * [[dedupMinHashIncremental]]'s uncapped oracle discipline rather
    * than [[dedupSimHashPairs]]' DF-capped one — deliberately: the DF
    * cap exists to bound inverted-SHINGLE-index fan-in, an index this
    * query does not build (its index is the fingerprint band index,
    * whose fan-in is bounded by cell occupancy), and an incremental
    * pipeline has no cheap corpus-wide DF artifact to consult at probe
    * time. Verify is the exact-Jaccard merge-walk over the shared
    * sorted shingle-hash arrays; the DuckDB oracle rebuilds the
    * fingerprints from md5_number_lower features and applies the
    * identical Hamming ≤ 15 ∧ Jaccard ≥ 0.8 predicate restricted to
    * prior × fresh, so the hash gate is exact — no recall assumption. */
  def dedupSimHashIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    dedupSimHashIncrementalOn(prior, fresh)
  }

  /** The transform of [[dedupSimHashIncremental]] over any (prior,
    * fresh) pair of (doc_id, text) frames (spec entry point). Output:
    * (doc_a = prior id, doc_b = fresh id, jaccard) per confirmed
    * cross-snapshot near-dup pair. */
  private[graft] def dedupSimHashIncrementalOn(
      prior: DataFrame, fresh: DataFrame): DataFrame = {
    val hp = simhashHashed(prior)
    simhashIncrementalTail(hp, simhashChunkIndex(hp), simhashHashed(fresh))
  }

  /** The ONE (doc_id, sorted shingle-hash array) projection of the
    * incremental SimHash family — shared by the inline query and the
    * stored twin so the signature derivation cannot drift.
    *
    * The shared per-side subtree stops at (doc_id, shc): ShingleMd5Low64
    * emits the sorted-distinct hash set straight from the text bytes
    * (no explode, no shuffle before the band join), and the fingerprint
    * is voted from that same array ABOVE the shared exchange, on the
    * band branch only. Computing f in here instead costs 2×
    * the scans (measured: documents=4): the verify branch prunes to
    * (doc_id, shc) and the band branch to (doc_id, f), the specialized
    * projections de-canonicalize the subtree under the repartition, and
    * each side's scan + shingle hashing runs twice. Same discipline as
    * dedupMinHashIncrementalOn (band hashes derived above the shared
    * (doc_id, hv) exchange), including the explicit isnotnull: the
    * verify joins infer isnotnull(doc_id) on their branches, the band
    * join (keyed on c/v/f) does not, and the constraint must live in
    * the SHARED subtree for the branches to stay canonically equal.
    * The second trick-filter is this query's OWN instance of the
    * hazard: the band join also infers isnotnull(f) =
    * isnotnull(simhash(shc)), which pushes below the repartition on
    * the band branches only — without mirroring it here the two
    * exchanges per side differ by exactly that predicate and the scan
    * + shingle hashing run twice per side (measured: documents=4).
    * Semantically a no-op (the fingerprint of a non-null array is
    * never null); it exists purely to keep the exchange children
    * byte-identical. */
  private[graft] def simhashHashed(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter($"doc_id".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", graft.functions.ShingleMd5Low64($"text").as("shc"))
      .filter(size($"shc") > 0)
      .filter(graft.functions.SimHash64FromHashes($"shc").isNotNull)
  }

  /** (doc_id, f) fingerprints voted from a [[simhashHashed]] frame. */
  private def simhashFpOf(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"),
      graft.functions.SimHash64FromHashes(col("shc")).as("f"))

  /** The prior side's EXACT-chunk band index over a [[simhashHashed]]
    * frame — 8 longs/doc, the write-once artifact a production pipeline
    * buckets by (chunk, value) exactly like the MinHash (band, bh)
    * index. */
  private[graft] def simhashChunkIndex(hashed: DataFrame): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    // r22: one fused generator input (SimHashBallKeys, radius 0 = the
    // exact chunk values) decomposed into the (c, v) columns the
    // artifact is partitioned by — identical rows, identical schema
    simhashFpOf(hashed)
      .select($"doc_id", $"f",
        explode(graft.functions.SimHashBallKeys(
          $"f", SimHashChunks, SimHashChunkBits, 0)).as("k"))
      .select($"doc_id", $"f",
        shiftrightunsigned($"k", SimHashChunkBits).cast("int").as("c"),
        $"k".bitwiseAND(lit((1L << SimHashChunkBits) - 1)).as("v"))
  }

  /** The probe + verify tail both incremental SimHash forms funnel
    * through, over an ALREADY-MATERIAL prior index — (doc_id, shc)
    * signatures and their (doc_id, f, c, v) exact-chunk banding — so
    * the inline query (which computes both from the prior slice) and
    * the stored twin (which reads both back from the parquet artifact)
    * cannot drift: same radius-1 delta ball, same Hamming cut, same
    * exact-Jaccard merge-walk. */
  private[graft] def simhashIncrementalTail(priorSigs: DataFrame,
      priorIndex: DataFrame, hf: DataFrame): DataFrame = {
    val spark = priorSigs.sparkSession
    import spark.implicits._
    val index = priorIndex
    // r22: the radius-1 delta ball as one fused generator input
    // (SimHashBallKeys) decomposed into the artifact's (c, v) columns
    val probe = simhashFpOf(hf)
      .select($"doc_id", $"f",
        explode(graft.functions.SimHashBallKeys(
          $"f", SimHashChunks, SimHashChunkBits, 1)).as("k"))
      .select($"doc_id", $"f",
        shiftrightunsigned($"k", SimHashChunkBits).cast("int").as("c"),
        $"k".bitwiseAND(lit((1L << SimHashChunkBits) - 1)).as("v"))
    // cross-snapshot candidates ONLY — prior index left, delta probe
    // right; the slices are disjoint, so no a < b self-pairing games.
    // The exact-Hamming cut runs INSIDE the join (long XOR + popcount),
    // so the distinct dedupes only surviving pairs, not every chunk
    // collision.
    val candidates = probe.as("a").join(index.as("b"),
        $"a.c" === $"b.c" && $"a.v" === $"b.v" &&
          expr("bit_count(a.f ^ b.f)") <= MaxPairHamming)
      .select($"b.doc_id".as("doc_a"), $"a.doc_id".as("doc_b"))
      .distinct()
      // bytes-small candidate set, O(set size) merge-walk fan-out per
      // row — same verify-parallelism pin as every pair search
      .repartition(spark.sparkContext.defaultParallelism, $"doc_a")
    candidates.as("cd")
      .join(priorSigs.select($"doc_id", $"shc").as("sa"),
        $"cd.doc_a" === $"sa.doc_id")
      .join(hf.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.shc", $"sb.shc").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[dedupSimHashIncremental]] in its STEADY-STATE form — the SimHash
    * member of the stored-artifact family ([[dedupMinHashStored]] is
    * the MinHash one): the prior corpus's shingle signatures and their
    * exact-chunk band index read from the parquet artifact a previous
    * run wrote ([[graft.sources.IndexStore]] — the chunk index
    * partitioned by `c`, so a production append is partition-local),
    * only the DELTA shingled + fingerprinted at probe time. First run
    * per corpus writes the artifact; every later run — the wall a
    * daily ingest actually pays — is read + probe, no prior-side
    * shingling or fingerprint voting at all. The chunk index is
    * derived FROM THE READ-BACK signatures (not re-derived from text),
    * so the artifact round-trip itself is under the oracle. Output
    * contract and oracle are IDENTICAL to the inline incremental
    * query. */
  def dedupSimHashStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    val sigs = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "simhash_sigs", "documents", SnapshotKey),
      simhashHashed(prior))
    val index = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "simhash_chunks", "documents",
        Seq(SimHashChunks, SimHashChunkBits) ++ SnapshotKey),
      simhashChunkIndex(sigs), partitionCols = Seq("c"))
    simhashIncrementalTail(sigs, index, simhashHashed(fresh))
  }

  /** The prior side's 16-BIT-geometry band index over a
    * [[simhashHashed]] frame: each fingerprint's 4 aligned 16-bit
    * chunks, each emitting its radius-1 Hamming ball — 68 (c, v) rows
    * per doc (~0.6 KB/doc), the write-once artifact the b16 tier
    * buckets by (chunk, value). Storing the radius-1 ball on the INDEX
    * side is the same two-sided split as [[dedupSimHashPairsB16]]:
    * the delta then only needs radius 2, and any chunk pair at diff
    * d ≤ 3 splits as m1 ^ m2 with |m1| ≤ 1, |m2| ≤ 2. */
  private[graft] def simhashChunkIndexB16(hashed: DataFrame): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    // r22: one fused generator input (SimHashBallKeys) decomposed into
    // the (c, v) columns the artifact is partitioned by — identical
    // rows (bijection), identical stored schema
    simhashFpOf(hashed)
      .select($"doc_id", $"f",
        explode(graft.functions.SimHashBallKeys(
          $"f", SimHashB16Chunks, SimHashB16Bits, 1)).as("k"))
      .select($"doc_id", $"f",
        shiftrightunsigned($"k", SimHashB16Bits).cast("int").as("c"),
        $"k".bitwiseAND(lit((1L << SimHashB16Bits) - 1)).as("v"))
  }

  /** The b16 probe + verify tail (the 16-bit twin of
    * [[simhashIncrementalTail]], both incremental b16 forms funnel
    * through it): the delta emits each 16-bit chunk's radius-2 ball
    * (548 keys/doc, generated and consumed map-side) against the
    * prior's radius-1 ball index. Capture is deterministic by the
    * pigeonhole one tier up — 4 chunks, Hamming ≤ 15 ⇒ some chunk
    * diff ≤ 3 ⇒ an (|m1| ≤ 1, |m2| ≤ 2) split exists (DedupSpec's
    * exhaustive mask-split proof) — so the output contract and oracle
    * are IDENTICAL to the 8-bit incremental. */
  private[graft] def simhashIncrementalB16Tail(priorSigs: DataFrame,
      priorIndexB16: DataFrame, hf: DataFrame): DataFrame = {
    val spark = priorSigs.sparkSession
    import spark.implicits._
    // r22: the radius-2 delta ball is ONE fused generator input
    // (SimHashBallKeys — see dedupSimHashPairsB16) decomposed back into
    // the (c, v) columns the prior ARTIFACT is keyed/partitioned by, so
    // the stored index schema is untouched while the probe side stops
    // paying two chained Generates per row. Bijective: identical keys.
    val probe = simhashFpOf(hf)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", $"f",
        explode(graft.functions.SimHashBallKeys(
          $"f", SimHashB16Chunks, SimHashB16Bits, 2)).as("k"))
      .select($"doc_id", $"f",
        shiftrightunsigned($"k", SimHashB16Bits).cast("int").as("c"),
        $"k".bitwiseAND(lit((1L << SimHashB16Bits) - 1)).as("v"))
    // cross-snapshot candidates only; two-sided ball capture can see a
    // pair through several (m1, m2) splits — distinct collapses them
    val candidates = probe.as("a").join(priorIndexB16.as("b"),
        $"a.c" === $"b.c" && $"a.v" === $"b.v" &&
          expr("bit_count(a.f ^ b.f)") <= MaxPairHamming)
      .select($"b.doc_id".as("doc_a"), $"a.doc_id".as("doc_b"))
      .distinct()
      .repartition(spark.sparkContext.defaultParallelism, $"doc_a")
    candidates.as("cd")
      .join(priorSigs.select($"doc_id", $"shc").as("sa"),
        $"cd.doc_a" === $"sa.doc_id")
      .join(hf.as("sb"), $"cd.doc_b" === $"sb.doc_id")
      .select($"cd.doc_a".as("doc_a"), $"cd.doc_b".as("doc_b"),
        graft.functions.SetJaccardSorted($"sa.shc", $"sb.shc").as("jacc"))
      .filter($"jacc" >= JaccardThreshold)
      .select($"doc_a", $"doc_b", round($"jacc", 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[dedupSimHashIncremental]] at the 16-BIT band geometry — the
    * form the 8-bit incremental's scaladoc promises "drops in
    * unchanged when prior occupancy saturates", now a key WITH ITS
    * CROSSOVER MEASURED instead of a sentence: the prior index is the
    * 4·65536-cell radius-1 ball artifact (68 rows/doc vs 8, the price
    * of moving one probe radius to the index side), the delta probes
    * with the radius-2 ball. Measured paired sf0.1 → ×10 (SCALING
    * r18): the b16 form is slightly FASTER at sf0.1 (1.10 vs 1.38 s)
    * but ×6.5 at ×10 against the 8-bit's ×2.3 — in the INCREMENTAL
    * setting the 20% delta factor shrinks the 8-bit quadratic
    * occupancy term ~25× relative to the self-join pair search, so
    * the b16 ball's ~8× band-join row volume (68·prior + 548·delta vs
    * 8·prior + 72·delta) dominates far past the pair search's
    * n ≈ 1.5×10⁵ crossover — the incremental crossover sits around
    * n ≈ millions of prior docs at this delta fraction. The key
    * exists for exactly that regime (a year of daily crawls against a
    * 10⁷-doc prior); below it, run the 8-bit incremental. Same
    * deterministic ≤ 15 capture, same verify, output and oracle
    * IDENTICAL to the 8-bit incremental (DedupSpec pins the two
    * engines row-for-row). */
  def dedupSimHashIncrementalB16(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    dedupSimHashIncrementalB16On(prior, fresh)
  }

  /** The transform of [[dedupSimHashIncrementalB16]] over any (prior,
    * fresh) pair of (doc_id, text) frames (spec entry point). */
  private[graft] def dedupSimHashIncrementalB16On(
      prior: DataFrame, fresh: DataFrame): DataFrame = {
    val hp = simhashHashed(prior)
    simhashIncrementalB16Tail(hp, simhashChunkIndexB16(hp), simhashHashed(fresh))
  }

  /** [[dedupSimHashIncrementalB16]] in its STEADY-STATE form: the
    * prior signatures and the 16-bit radius-1 ball index read from the
    * parquet artifact (ball index partitioned by `c`, derived FROM the
    * read-back signatures so the round-trip is under the oracle),
    * delta-only shingling + voting — the artifact layout a b16-tier
    * daily ingest actually maintains. */
  def dedupSimHashStoredB16(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir), "doc_id")
    val sigs = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "simhash_sigs", "documents", SnapshotKey),
      simhashHashed(prior))
    val index = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "simhash_chunks_b16", "documents",
        Seq(SimHashB16Chunks, SimHashB16Bits) ++ SnapshotKey),
      simhashChunkIndexB16(sigs), partitionCols = Seq("c"))
    simhashIncrementalB16Tail(sigs, index, simhashHashed(fresh))
  }

  /** Embedding-space near-dup/similarity pairs: same-label blocked
    * self-join, cosine in double precision, top-20 most similar pairs.
    * (The data's max cosine is ~0.51, so a fixed high threshold would be
    * vacuous; top-k is the non-degenerate formulation here.) */
  def dedupEmbedCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorOps
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", VectorOps.toDouble($"embedding").as("v"))
    val pairs = e.as("a").join(e.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"a.label".as("label"),
        VectorOps.cosine($"a.v", $"b.v").as("cos"))
    pairs.orderBy($"cos".desc, $"vec_a".asc, $"vec_b".asc)
      .limit(20)
      .select($"vec_a", $"vec_b", $"label", round($"cos", 4).as("cosine"))
  }

  /** Quantizer-cell blocking for the embedding self-join: 8 bands of 8
    * coordinate-sign bits each (64 dims, disjoint). Two vectors are
    * candidates iff they share a label AND any band cell — the join key
    * is (label, band, cell), so the pair space is bounded by cell
    * occupancy (~n/256 per band under a sign-balanced distribution), not
    * label cardinality. In the operator's target regime (near-dup
    * embeddings, cos ≥ 0.9, sign-agreement ≥ 0.9/bit) a pair collides in
    * a band w.p. ≥ 0.43, in ≥1 of 8 w.p. ≥ 0.99; moderate-cosine pairs
    * (~0.5, the max this synthetic corpus contains) are deliberately NOT
    * guaranteed — that regime needs the brute-force path above. The
    * DuckDB oracle mirrors the banding bit-for-bit, so the hash check
    * pins the approximation's exact semantics at every SF. */
  final val EmbedBands = 8
  final val EmbedBandBits = 8

  /** Blocked variant of [[dedupEmbedCosine]]: same output shape (top-20
    * most-similar same-label pairs), candidates restricted to quantizer-
    * cell collisions instead of an all-pairs product within the label. */
  def dedupEmbedCosineBlocked(spark: SparkSession, sfDir: String): DataFrame =
    dedupEmbedCosineBlockedOn(Tables.embeddings(spark, sfDir))

  /** The sign-bit banding fan-out (vec_id, label, c, cell), shared by
    * the blocked self-join and the incremental probe. Ends in one
    * explicit exchange on the full join key, shared by both join sides
    * (same AQE-broadcast-collapse guard as the shingle joins above;
    * explicit width like every other guard here — the bare-column form
    * is AQE-coalescible, which re-serializes the banding). */
  private[graft] def embedBanded(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bandCols = (0 until EmbedBands).map { b =>
      val cell = (0 until EmbedBandBits).map { j =>
        (element_at($"embedding", b * EmbedBandBits + j + 1) >= lit(0f))
          .cast("int") * lit(1 << (EmbedBandBits - 1 - j))
      }.reduce(_ + _)
      struct(lit(b).as("c"), cell.as("cell"))
    }
    emb.select($"vec_id", $"label", explode(array(bandCols: _*)).as("k"))
      .select($"vec_id", $"label", $"k.c".as("c"), $"k.cell".as("cell"))
      .repartition(spark.sparkContext.defaultParallelism, $"label", $"c", $"cell")
  }

  private[graft] def dedupEmbedCosineBlockedOn(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.VectorOps
    val e = emb.select($"vec_id", $"label", $"embedding",
      VectorOps.toDouble($"embedding").as("v"))
    val banded = embedBanded(emb)
    val candidates = banded.as("a").join(banded.as("b"),
        $"a.label" === $"b.label" && $"a.c" === $"b.c" &&
          $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.label".as("label"))
      .distinct()
    val vecs = e.select($"vec_id", $"v")
    // aliased self-references → one reused broadcast (see
    // dedupNgramJaccardOnHashes)
    candidates.as("cd")
      .join(vecs.as("sa"), $"cd.vec_a" === $"sa.vec_id")
      .join(vecs.as("sb"), $"cd.vec_b" === $"sb.vec_id")
      .select($"cd.vec_a".as("vec_a"), $"cd.vec_b".as("vec_b"), $"cd.label".as("label"),
        VectorOps.cosine($"sa.v", $"sb.v").as("cos"))
      .orderBy($"cos".desc, $"vec_a".asc, $"vec_b".asc)
      .limit(20)
      .select($"vec_a", $"vec_b", $"label", round($"cos", 4).as("cosine"))
  }

  /** Near-dup CLUSTER assignment: connected components over the verified
    * n-gram-Jaccard pair graph, labeling every document with the minimum
    * doc_id of its component (singletons label themselves) — the step
    * that turns pairwise matches into dedup groups ("keep one per
    * cluster"). Min-label propagation: each round every node takes the
    * minimum of its own and its neighbors' labels — one equi-join + one
    * min-agg shuffle per round, converging in O(component diameter)
    * rounds (near-dup clusters are small and dense, so a handful; the
    * standard distributed CC loop, same shape as GraphX Pregel). The
    * driver checks only a per-round "any label changed" boolean; a
    * per-round checkpoint ([[Materialize.frame]] — local blocks by
    * default, the reliable store when a checkpoint dir is configured)
    * truncates the iterative lineage.
    *
    * Each round adds a pointer-jumping step — lbl(x) ← lbl(lbl(x)), one
    * extra equi-join on the label table — which roughly halves the
    * distance to the component minimum per round, so convergence is
    * O(log diameter) instead of O(diameter): a path-shaped component of
    * any realistic size converges well inside the round cap (a 64-node
    * path converges in ~8 rounds; DedupSpec pins it). If the cap is ever
    * hit anyway the loop FAILS LOUDLY rather than silently emitting
    * unconverged labels. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    dedupClustersOn(
      Tables.documents(spark, sfDir).select($"doc_id"),
      dedupNgramJaccard(spark, sfDir).select($"doc_a", $"doc_b"))
  }

  /** [[dedupClusters]] over the UNION of the symmetric (Jaccard) and
    * asymmetric (containment) pair graphs — the cluster assignment a
    * "keep one per group" step actually needs: an excerpt caught only
    * by containment must land in the same dedup group as its source
    * document, or the keep step silently retains both. Edge count is
    * the sum of two pair-output-sized frames (bytes), so the union
    * costs nothing at scale; the propagation loop is unchanged. */
  def dedupClustersAll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    dedupClustersOn(docs.select($"doc_id"), unionPairsOnDocs(docs))
  }

  /** The dedup RESULT at cluster granularity: keep each component's
    * representative (its minimum doc_id) over the UNION edge graph —
    * the principled "keep one per group" that pair-based `dedupKept`
    * approximates: dropping doc_b of every pair can over-drop inside a
    * cluster (a kept doc's transitive duplicates survive only via its
    * own pairs), while the component minimum keeps exactly one
    * document per group, excerpts included. */
  def dedupKeptClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val reps = dedupClustersAll(spark, sfDir)
      .filter($"cluster" === $"doc_id").select($"doc_id")
    Tables.documents(spark, sfDir).select($"doc_id", $"lang", $"source")
      .join(reps, Seq("doc_id"), "left_semi")
      .orderBy($"doc_id")
  }

  /** Edge-count ceiling below which the component labels are folded
    * DRIVER-SIDE (union–find over the collected pair list) instead of
    * by the distributed label-propagation loop (r22). The pair frame is
    * already materialized and counted (the loop-width clamp needs the
    * count), so the gate costs nothing; below it the collect is a
    * bounded model-frame-sized pull — ≤ cap × 16 B (16 MB at the 1M
    * default, far under any maxResultSize) — and the whole O(log d)
    * round loop (2+ jobs × ~6 serialized byte-sized stages, ~1.2 s of
    * pure per-stage fixed cost at bench scale) collapses into one tiny
    * collect + a broadcast re-attach. Above the cap the distributed
    * loop runs unchanged — the 100 TB shape, where the pair graph can
    * exceed driver memory. Outputs are IDENTICAL by construction:
    * union-by-min-root makes every tree root its component minimum
    * (attaching the larger root under the smaller preserves the
    * invariant regardless of edge order), exactly the min-label
    * fixpoint the loop converges to — DedupSpec pins the two paths
    * equal on a planted graph, and the shared recursive-SQL oracle
    * checks whichever path the corpus size selects.
    * Override: `spark.graft.dedup.cc.driverMaxEdges` (0 forces the
    * distributed loop). */
  final val CcDriverMaxEdgesKey = "spark.graft.dedup.cc.driverMaxEdges"
  final val CcDriverMaxEdgesDefault = 1000000L

  private[graft] def dedupClustersOn(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // materialize the pair search ONCE before mirroring: the union's two
    // branches each embed the full pair plan, and exchange reuse only
    // dedupes up to the last exchange — the verify-join tail would run
    // twice. The checkpointed frame is pair-count-sized (bytes), and the
    // checkpoint also keeps the per-round loop below from re-running the
    // pair pipeline every iteration.
    val p = Materialize.frame(pairs.select($"doc_a", $"doc_b"))
    // The symmetrized edge frame is scanned and joined EVERY round:
    // checkpoint it pre-partitioned on the join key so (a) each round's
    // join reads hash(src)-partitioned blocks with NO edge-side
    // exchange (both checkpoint forms preserve the physical
    // partitioning in LogicalRDD), and (b) the per-round scan is
    // `width` tasks, not the union's 2×width. Checkpointed AFTER `p` —
    // the union's two branches each embed the pair plan, and only the
    // p checkpoint keeps the verify tail from running twice (round-7
    // fix).
    val width = spark.sparkContext.defaultParallelism
    // LOOP width scales with the measured edge count, not the session
    // parallelism: the per-round frames are pair-graph-sized (bytes at
    // bench scale), and running every round's 3 shuffle stages at the
    // session width costs a fixed ~32-64 task schedules per stage ×
    // O(log d) rounds — measured round-11 as the second-largest slice
    // of the cc/ccq pipelines' wall. p is already checkpointed, so the
    // count reads cached blocks (one cheap job, driver gets ONE long —
    // not a collect). ~100k edges per partition keeps a partition's
    // join state comfortably in executor memory; at cluster scale
    // (billions of edges) the clamp returns the session width.
    val edgeCount = p.count()
    // driver union–find below the edge cap (see CcDriverMaxEdgesKey):
    // one bounded collect replaces the whole propagation loop
    val driverCap = spark.conf
      .get(CcDriverMaxEdgesKey, CcDriverMaxEdgesDefault.toString).toLong
    if (edgeCount <= driverCap) {
      val es = p.collect()
      val parent = new java.util.HashMap[Long, java.lang.Long](
        math.max(16, es.length * 2))
      def find(x: Long): Long = {
        var r = x
        while ({ val px = parent.get(r); px != null && px != r }) r = parent.get(r)
        var c = x // path compression — roots (component minima) unchanged
        while ({ val pc = parent.get(c); pc != null && pc != c }) {
          val nxt: Long = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      es.foreach { row =>
        val ra = find(row.getLong(0)); val rb = find(row.getLong(1))
        if (ra != rb) {
          // union by MIN root: the root of every tree is the minimum of
          // its members, so find(x) ends at the component minimum — the
          // exact fixpoint of the distributed min-label loop
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodeLbl = es.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .toSet.toSeq.map((n: Long) => (n, find(n)))
        .toDF("doc_id", "cl")
      // re-attach to the (possibly corpus-sized) node frame by broadcast
      // — singletons (no edges) keep their own id, as in the loop
      return docs.select($"doc_id")
        .join(broadcast(nodeLbl), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cl", $"doc_id").as("cluster"))
        .orderBy($"doc_id")
    }
    val loopWidth = math.max(1L, math.min(width.toLong,
       edgeCount / 100000L + 1L)).toInt
    // coalesce the checkpointed pair frame to the loop width too: its
    // blocks were written at the session width, and every loop-side
    // consumer (the union's two branches, nodes in the callers) would
    // otherwise schedule 2×width map tasks per round-0 job just to
    // read a few KB of pairs. Narrow reads, no shuffle.
    val pn = if (loopWidth < width) p.coalesce(loopWidth) else p
    val edges = Materialize.frame(
      pn.select($"doc_a".as("src"), $"doc_b".as("dst"))
        .union(pn.select($"doc_b".as("src"), $"doc_a".as("dst")))
        .repartition(loopWidth, $"src"))
    var labels = Materialize.frame(docs.select($"doc_id", $"doc_id".as("lbl"))
      .repartition(loopWidth, $"doc_id"))
    var changed = true
    var iter = 0
    val maxRounds = 32
    while (changed && iter < maxRounds) {
      val incoming = edges.join(labels, edges("src") === labels("doc_id"))
        .select(edges("dst").as("doc_id"), labels("lbl").as("in_lbl"))
        .groupBy($"doc_id").agg(min($"in_lbl").as("in_lbl"))
      // one propagation hop: lbl ← min(own, neighbors'); `prev` rides
      // along so the convergence check stays a same-row comparison
      val stepped = labels.join(incoming, Seq("doc_id"), "left")
        .select($"doc_id", $"lbl".as("prev"),
          least($"lbl", coalesce($"in_lbl", $"lbl")).as("lbl"))
      // pointer jumping: lbl(x) ← lbl(lbl(x)). Labels are doc_ids with
      // lbl(l) ≤ l (monotone min), every lbl value is itself a labeled
      // node, and lbl(l) stays in l's component — so the inner join is
      // total, monotone, and component-preserving, and it halves the
      // label-chain depth each round. TWO jumps per round (r21): the
      // second jump is one more equi-join INSIDE the same materialized
      // plan — zero extra jobs, while chain depth drops ~4× per round
      // instead of ~2×, so the loop converges in fewer rounds. Each
      // round costs ~0.4 s of driver fixed cost on byte-sized frames
      // (measured — job submission + planning dominates, the data work
      // is microseconds), so rounds are the unit to optimize. The
      // fixpoint and its detection (prev = pre-round label) are
      // unchanged — extra jumps only accelerate convergence.
      val target = stepped.select($"doc_id", $"lbl")
      val once = stepped.as("x").join(target.as("y"), $"x.lbl" === $"y.doc_id")
        .select($"x.doc_id".as("doc_id"), $"x.prev".as("prev"), $"y.lbl".as("lbl"))
      // LAZY localCheckpoint + changed-count in ONE job (r21): the
      // count's full scan materializes every partition of the
      // checkpointed round AND answers convergence; the old shape paid
      // an eager-checkpoint job AND a count job per round, and at
      // ~0.1 s of fixed driver cost per job on byte-sized frames the
      // loop's wall IS its job count. NOT `.persist()`: that registers
      // the plan in the CacheManager, where an identical next RUN of
      // the same query would silently reuse this run's cached rounds —
      // a localCheckpoint is RDD-scoped, so every run recomputes from
      // the parquet inputs (the bench-honesty contract). The reliable-
      // checkpoint tier (dir configured) keeps the eager Materialize
      // form — durability there is worth the extra job.
      val jumpedPlan =
        once.as("x").join(target.as("y"), $"x.lbl" === $"y.doc_id")
          .select($"x.doc_id".as("doc_id"), $"x.prev".as("prev"), $"y.lbl".as("lbl"))
      val jumped =
        if (spark.sparkContext.getCheckpointDir.isDefined)
          Materialize.frame(jumpedPlan)
        else jumpedPlan.localCheckpoint(eager = false)
      changed = jumped.filter($"lbl" < $"prev").count() > 0
      labels = jumped.select($"doc_id", $"lbl")
      iter += 1
    }
    if (changed) throw new IllegalStateException(
      s"dedupClusters: label propagation did not converge in $maxRounds rounds " +
        "— component diameter exceeds 2^32-ish reach, which no real near-dup " +
        "graph has; refusing to emit unconverged cluster labels")
    labels.select($"doc_id", $"lbl".as("cluster")).orderBy($"doc_id")
  }

  /** Incremental CLUSTER maintenance — the incremental family completed
    * at the component level: when a snapshot delta lands, the corpus's
    * dedup clusters are maintained by running connected components over
    * the prior corpus's LABEL ARTIFACT (each prior document collected
    * into a star around its component representative) plus only the
    * pairs that TOUCH the delta — never re-walking the prior × prior
    * pair graph. Star replacement is exact, not approximate: replacing
    * each prior component by a star around its minimum preserves both
    * connectivity and the component minimum (every merged component's
    * min is the min over its stars' centers and delta ids, which the
    * min-label fixpoint computes identically), so the output EQUALS the
    * from-scratch [[dedupClusters]] and SHARES its recursive-SQL oracle
    * — the Bloom-gate/IVF-append argument at the cluster tier.
    *
    * At 100 TB the economics are the point: the full cluster rebuild
    * pays the corpus-wide pair search every snapshot, while this pays
    * (a) the incremental pair search (delta-sized, see
    * [[dedupMinHashIncremental]]), (b) a scan of the label artifact
    * (2 longs/doc), and (c) an O(log d) CC loop over star + touch
    * edges — pair-count-sized frames. Locally the prior labels are
    * recomputed in-plan (the same accepted shape as every incremental
    * query's locally-recomputed prior artifact); production reads them
    * from the previous run's output. */
  def dedupClustersIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    dedupClustersIncrementalOn(
      Tables.documents(spark, sfDir).select($"doc_id"),
      dedupNgramJaccard(spark, sfDir).select($"doc_a", $"doc_b"),
      isFresh)
  }

  /** The transform of [[dedupClustersIncremental]] over any (doc_id)
    * node frame, (doc_a, doc_b) pair frame, and fresh-slice predicate
    * (spec entry point). */
  private[graft] def dedupClustersIncrementalOn(docs: DataFrame,
      pairs: DataFrame, isFresh: Column => Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE materialization of the pair search feeds both the prior-only
    // slice and the delta-touching slice — without it each
    // dedupClustersOn call's own Materialize would embed (and run) the
    // full verify tail twice
    val p = Materialize.frame(pairs.select($"doc_a", $"doc_b"))
    val priorPairs = p.filter(!isFresh($"doc_a") && !isFresh($"doc_b"))
    val touchPairs = p.filter(isFresh($"doc_a") || isFresh($"doc_b"))
    // the prior label artifact: components of the prior corpus under
    // its own pair graph (production: read from the previous run)
    val priorLabels = dedupClustersOn(docs.filter(!isFresh($"doc_id")), priorPairs)
    // star edges: representative → member, non-trivial rows only
    val stars = priorLabels.filter($"cluster" =!= $"doc_id")
      .select($"cluster".as("doc_a"), $"doc_id".as("doc_b"))
    dedupClustersOn(docs, stars.unionByName(touchPairs))
  }

  /** MOSS df cap: fingerprints shared by more than this many documents
    * are dropped before pairing (Schleimer et al. 2003 §5's "too common
    * to be interesting" rule — and the bound that keeps the inverted
    * index's per-key pair fan-out ≤ cap²/2 at any corpus size). */
  final val WinnowDfCap = 20L
  /** Minimum shared fingerprints for a reported pair. */
  final val WinnowMinShared = 10L

  /** MOSS-style near-dup pair search over WINNOWED FINGERPRINTS
    * (Schleimer et al. 2003: the winnowing paper's actual use of the
    * fingerprints `text_fingerprint_winnow` computes — an inverted
    * index on the window-min gram hashes, pairs scored by SHARED
    * FINGERPRINT COUNT): completes the near-dup family with its
    * character-level robust member (minhash = token sets, simhash =
    * hamming proximity, containment = asymmetric excerpts, winnow =
    * position-robust character overlap that survives small edits).
    * Output (doc_a, doc_b, n_shared, n_a, n_b) — all integers; the
    * consumer picks its overlap measure from the counts.
    *
    * Scale shape: the fingerprint expansion is ~2 hashes per winnow
    * window per doc, df-capped BEFORE pairing so each fingerprint key
    * fans out ≤ cap²/2 pairs (no all-pairs anywhere); the post-cap
    * index materializes once and feeds sizes + both join sides. The
    * index is the artifact MOSS stores. */
  def dedupWinnowPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    winnowPairsOn(Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism))
  }

  /** The pair search on any (doc_id, text) frame (spec entry point:
    * plantable shared character runs). */
  private[graft] def winnowPairsOn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the Karp–Rabin window-min expansion is the dominant cost and has
    // TWO consumers (df agg + keep join) — materialize it once
    val fps = Materialize.frame(docs.select($"doc_id",
      explode(array_distinct(graft.functions.GramWindowMins($"text"))).as("g")))
    val df = fps.groupBy($"g").agg(count(lit(1)).as("df"))
    val keep = Materialize.frame(
      fps.join(df.filter($"df" <= WinnowDfCap), "g").select($"doc_id", $"g"))
    val sizes = keep.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    keep.as("a").join(keep.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= WinnowMinShared)
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"n_shared", $"n_a", $"n_b")
      .orderBy($"doc_a", $"doc_b")
  }

  /** INCREMENTAL winnow pair search — the daily-crawl form of
    * [[dedupWinnowPairs]], completing the incremental family's
    * character-level member (exact, minhash, simhash, embedding,
    * substring, winnow): the prior snapshot's per-doc fingerprint
    * rows are the stored MOSS index; the fresh delta's fingerprints
    * pair INTERNALLY and AGAINST the prior index — the prior side
    * never self-pairs (those pairs were reported when the prior docs
    * were the delta). The df cap uses the COMBINED document frequency
    * (the stored per-gram df counter incremented by the delta — what a
    * production index maintains), so cap semantics match the
    * whole-corpus batch query. Same integer output contract. */
  def dedupWinnowIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism), "doc_id")
    winnowIncrementalOn(prior, fresh)
  }

  /** The transform over any (prior, fresh) pair of (doc_id, text)
    * frames (spec entry point). */
  private[graft] def winnowIncrementalOn(prior: DataFrame, fresh: DataFrame): DataFrame = {
    val fpsP = winnowFps(prior)
    winnowIncrementalTail(fpsP,
      fpsP.groupBy(col("g")).agg(count(lit(1)).as("df")), fresh)
  }

  /** The ONE (doc_id, winnowed gram hash) fingerprint expansion of the
    * incremental winnow family — each caller's expansion has two
    * consumers (df agg + keep join), so it materializes once (the
    * winnowPairsOn note). Shared by the inline query and the stored
    * twin so the Karp–Rabin window-min arithmetic cannot drift. */
  private[graft] def winnowFps(df: DataFrame): DataFrame =
    Materialize.frame(df.select(col("doc_id"),
      explode(array_distinct(graft.functions.GramWindowMins(col("text")))).as("g")))

  /** The probe + pair tail both incremental winnow forms funnel
    * through, over an ALREADY-MATERIAL prior index — the (doc_id, g)
    * fingerprint rows and the (g, df) per-gram document-frequency
    * counter a production MOSS index maintains — so the inline query
    * (which computes both from the prior slice) and the stored twin
    * (which reads both back from the parquet artifact) cannot drift.
    * The DF cap applies to the COMBINED frequency (stored counter +
    * delta counts, a full-outer sum — what an index increment does),
    * so cap semantics match the whole-corpus batch query exactly. */
  private def winnowIncrementalTail(fpsP: DataFrame, dfP: DataFrame,
      fresh: DataFrame): DataFrame = {
    val spark = fpsP.sparkSession
    import spark.implicits._
    val fpsF = winnowFps(fresh)
    val dfF = fpsF.groupBy($"g").agg(count(lit(1)).as("df_f"))
    // combined df = the maintained per-gram counter incremented by the
    // delta; the cap cut happens on the combined count, never on either
    // side alone
    val df = dfP.select($"g", $"df".as("df_p")).join(dfF, Seq("g"), "full_outer")
      .select($"g",
        (coalesce($"df_p", lit(0L)) + coalesce($"df_f", lit(0L))).as("df"))
      .filter($"df" <= WinnowDfCap)
      .select($"g")
    val keepP = Materialize.frame(fpsP.join(df, "g").select($"doc_id", $"g"))
    val keepF = Materialize.frame(fpsF.join(df, "g").select($"doc_id", $"g"))
    val sizes = keepP.unionByName(keepF).groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val cand = keepF.as("a").join(keepF.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("fa"), col("b.doc_id").as("fb"))
      .unionByName(keepF.as("f").join(keepP.as("p"), col("f.g") === col("p.g"))
        .select(col("f.doc_id").as("fa"), col("p.doc_id").as("fb")))
    cand
      .select(least($"fa", $"fb").as("doc_a"), greatest($"fa", $"fb").as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= WinnowMinShared)
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"n_shared", $"n_a", $"n_b")
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[dedupWinnowIncremental]] in its STEADY-STATE form — the MOSS
    * member of the stored-artifact family: the prior corpus's
    * (doc_id, g) fingerprint rows AND the (g, df) per-gram frequency
    * counter read from the parquet artifact a previous run wrote
    * ([[graft.sources.IndexStore]]; at cluster scale both are
    * hash-bucketed by `g`, the probe join key), only the DELTA
    * winnowed at probe time. The df counter is stored UNCAPPED — the
    * cap cut happens on the combined (stored + delta) count at probe
    * time, which is what an index increment does and why the artifact
    * stays append-only. First run per corpus writes; every later run
    * is read + probe, no prior-side Karp–Rabin work at all. The
    * counter artifact is derived FROM THE READ-BACK fingerprint rows,
    * so the round-trip itself is under the oracle. Output contract and
    * oracle are IDENTICAL to the inline incremental query. */
  def dedupWinnowStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    import spark.implicits._
    val (prior, fresh) = snapshotSplit(Tables.documents(spark, sfDir)
      .repartition(spark.sparkContext.defaultParallelism), "doc_id")
    val fpsP = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "winnow_fps", "documents",
        Seq(graft.functions.WinnowImpl.GramLen, graft.functions.WinnowImpl.Window,
          graft.functions.WinnowImpl.Base, graft.functions.WinnowImpl.Mod) ++ SnapshotKey),
      winnowFps(prior))
    val dfP = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "winnow_df", "documents",
        Seq(graft.functions.WinnowImpl.GramLen, graft.functions.WinnowImpl.Window,
          graft.functions.WinnowImpl.Base, graft.functions.WinnowImpl.Mod) ++ SnapshotKey),
      fpsP.groupBy($"g").agg(count(lit(1)).as("df")))
    winnowIncrementalTail(fpsP, dfP, fresh)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_exact_bow" -> dedupExactBow,
    "dedup_exact_substring" -> dedupExactSubstring,
    "dedup_substring_incremental" -> dedupSubstringIncremental,
    "dedup_substring_stored" -> dedupSubstringStored,
    "cur_strip_substrings" -> curStripSubstrings,
    "cur_strip_repetition" -> curStripRepetition,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_bloom" -> dedupIncrementalBloom,
    "dedup_incremental_stored" -> dedupIncrementalStored,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "dedup_minhash_lsh" -> dedupMinHashLsh,
    "dedup_minhash_incremental" -> dedupMinHashIncremental,
    "dedup_minhash_stored" -> dedupMinHashStored,
    "dedup_kept" -> dedupKept,
    "dedup_simhash" -> dedupSimHash,
    "dedup_simhash_pairs" -> dedupSimHashPairs,
    "dedup_winnow_pairs" -> dedupWinnowPairs,
    "dedup_winnow_incremental" -> dedupWinnowIncremental,
    "dedup_winnow_stored" -> dedupWinnowStored,
    "dedup_simhash_pairs_wide" -> dedupSimHashPairsWide,
    "dedup_simhash_pairs_b16" -> dedupSimHashPairsB16,
    "dedup_simhash_incremental" -> dedupSimHashIncremental,
    "dedup_simhash_incremental_b16" -> dedupSimHashIncrementalB16,
    "dedup_simhash_stored" -> dedupSimHashStored,
    "dedup_simhash_stored_b16" -> dedupSimHashStoredB16,
    "dedup_embed_cosine" -> dedupEmbedCosine,
    "dedup_embed_cosine_blocked" -> dedupEmbedCosineBlocked,
    "dedup_embed_cosine_incremental" -> dedupEmbedCosineIncremental,
    "dedup_embed_cosine_stored" -> dedupEmbedCosineStored,
    "dedup_clusters" -> dedupClusters,
    "dedup_clusters_incremental" -> dedupClustersIncremental,
    "dedup_clusters_all" -> dedupClustersAll,
    "dedup_kept_clusters" -> dedupKeptClusters,
  )

  private[graft] val exactJaccardSql = exactJaccardSqlFrom("documents")

  /** Shared oracle for BOTH incremental forms (plain and Bloom-gated) —
    * the sketch must be output-invisible. */
  private val incrementalSql: String =
    s"""WITH idx AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents
      |  WHERE ${priorSql("doc_id")}
      |),
      |nw AS (
      |  SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_new
      |  FROM documents WHERE ${freshSql("doc_id")}
      |  GROUP BY md5(text)
      |)
      |SELECT h, keep_id, n_new FROM nw
      |WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = nw.h)
      |ORDER BY h""".stripMargin

  /** The UNCAPPED exact-Jaccard pair oracle over any (doc_id, text)
    * source relation — the recall check every MinHash path is held to
    * (the streaming chunk near-dup splices it over the packed-key chunk
    * CTE; DuckDB accepts the nested WITH). */
  private[graft] def exactJaccardSqlFrom(src: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM $src),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
      |  FROM toks WHERE len(t) >= 3
      |),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ai AS doc_a, bi AS doc_b,
      |  round(c::DOUBLE / (na.n + nb.n - c), 3) AS jaccard
      |FROM common
      |JOIN sizes na ON ai = na.doc_id
      |JOIN sizes nb ON bi = nb.doc_id
      |WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** exactJaccardSql with the engine's MaxShingleDF prune mirrored —
    * Jaccard over the capped shingle space on both sides — over any
    * (doc_id, text) source relation (the full curation pipeline splices
    * it over its redacted CTE; DuckDB accepts the nested WITH). */
  private[operators] def cappedJaccardSqlFrom(src: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM $src),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
      |  FROM toks WHERE len(t) >= 3
      |),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDF),
      |pr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |sizes AS (SELECT doc_id, count(*) n FROM pr GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ai AS doc_a, bi AS doc_b,
      |  round(c::DOUBLE / (na.n + nb.n - c), 3) AS jaccard
      |FROM common
      |JOIN sizes na ON ai = na.doc_id
      |JOIN sizes nb ON bi = nb.doc_id
      |WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  private[operators] val cappedJaccardSql: String = cappedJaccardSqlFrom("documents")

  /** `pairs` + `kept`: the capped-Jaccard pair search over `src`, and
    * the rows of `src` that are no pair's doc_b (the pair-drop keep). */
  private[operators] def pairDropSql(src: String): String =
    s"""pairs AS (${cappedJaccardSqlFrom(src)}),
       |kept AS (
       |  SELECT * FROM $src
       |  WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |)""".stripMargin

  /** Containment oracle: same capped shingle space, overlap relative to
    * the SMALLER side — brute-forced over all co-shingled pairs. Also
    * spliced (as an edge source) into the union-cluster oracle and, via
    * [[containmentSqlFrom]], into the cluster-keep samples pipeline's
    * redacted CTE. */
  private[operators] def containmentSqlFrom(src: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM $src),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
      |  FROM toks WHERE len(t) >= 3
      |),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDF),
      |pr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
      |sizes AS (SELECT doc_id, count(*) n FROM pr GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ai AS doc_a, bi AS doc_b,
      |  round(c::DOUBLE / least(na.n, nb.n), 3) AS containment
      |FROM common
      |JOIN sizes na ON ai = na.doc_id
      |JOIN sizes nb ON bi = nb.doc_id
      |WHERE c::DOUBLE / least(na.n, nb.n) >= $ContainmentThreshold
      |ORDER BY doc_a, doc_b""".stripMargin

  private val containmentSql = containmentSqlFrom("documents")

  /** `j`, `cq` and their union `p(doc_a, doc_b)`: the Jaccard and the
    * containment edge sets over `src`, each spliced from its
    * single-source oracle so the edge definitions cannot drift. */
  private[operators] def unionPairCtesFrom(src: String): String =
    s"""j AS (SELECT doc_a, doc_b FROM (${cappedJaccardSqlFrom(src)})),
       |cq AS (SELECT doc_a, doc_b FROM (${containmentSqlFrom(src)})),
       |p AS (SELECT doc_a, doc_b FROM j UNION SELECT doc_a, doc_b FROM cq)""".stripMargin

  /** `lab(doc_id, cluster)`: the recursive transitive closure of the
    * edge CTE `p(doc_a, doc_b)` over the ids of `nodes`, cluster = the
    * minimum reachable id — the label-propagation fixpoint, algorithm-
    * independent. Splice under `WITH RECURSIVE`. */
  private[operators] def closureCtes(nodes: String): String =
    s"""e AS (SELECT doc_a AS a, doc_b AS b FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |reach(n, m) AS (
       |  SELECT doc_id, doc_id FROM $nodes
       |  UNION
       |  SELECT e.b, reach.m FROM e JOIN reach ON e.a = reach.n
       |),
       |lab AS (SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n)""".stripMargin

  /** The closure over the capped-Jaccard pair graph — the
    * `dedup_clusters` oracle, SHARED by `dedup_clusters_incremental`
    * (star replacement of the prior components is exact, so maintenance
    * is output-invisible — the sharing is the claim). */
  private val clustersSql =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($cappedJaccardSql)),
       |${closureCtes("documents")}
       |SELECT doc_id, cluster FROM lab ORDER BY doc_id""".stripMargin

  /** The closure over the UNION of the Jaccard and containment edge
    * sets — the `dedup_clusters_all` oracle. */
  private val clustersAllSql =
    s"""WITH RECURSIVE
       |${unionPairCtesFrom("documents")},
       |${closureCtes("documents")}
       |SELECT doc_id, cluster FROM lab ORDER BY doc_id""".stripMargin

  /** The engine's SimHash bit-vote, mirrored in SQL over a grouped
    * column `h` of UBIGINT feature hashes: fingerprint bit b is set iff
    * strictly more features have bit b set than clear (counts(b) > 0 in
    * SimHashImpl ⟺ 2·Σbit_b > n). Generated from the same 64-bit width
    * so engine and oracle cannot drift. */
  private val simhashVoteExpr: String = (0 until 64).map { b =>
    s"(CASE WHEN 2 * sum((h >> $b) & 1) > count(*) THEN ${java.lang.Long.toUnsignedString(1L << b)}::UBIGINT ELSE 0::UBIGINT END)"
  }.mkString("(", " +\n   ", ")")

  /** UBIGINT fingerprint → the signed BIGINT the engine outputs (two's
    * complement reinterpretation via HUGEINT arithmetic). */
  private def toSignedBigint(col: String): String =
    s"(CASE WHEN $col >= 9223372036854775808::UBIGINT THEN $col::HUGEINT - 18446744073709551616::HUGEINT ELSE $col::HUGEINT END)::BIGINT"

  /** Oracle for [[dedupSimHashPairs]] / [[dedupSimHashPairsWide]]: the
    * exact output predicate — capped-Jaccard ≥ threshold AND
    * fingerprint Hamming ≤ `maxHamming` — brute-forced over all
    * co-shingled pairs, on fingerprints rebuilt from md5_number_lower
    * features (≡ Md5Lower64). Deterministic: no recall assumption
    * anywhere in the gate — if the banded search misses a qualifying
    * pair the hash check fails. */
  private def simhashPairsSqlAt(maxHamming: Int) =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
      |  FROM toks WHERE len(t) >= 3
      |),
      |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDF),
      |pr AS (SELECT sh.doc_id, md5_number_lower(sh.s) h FROM sh JOIN rare USING (s)),
      |sizes AS (SELECT doc_id, count(*) n FROM pr GROUP BY doc_id),
      |fp AS (SELECT doc_id, $simhashVoteExpr f FROM pr GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
      |  FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ai AS doc_a, bi AS doc_b,
      |  round(c::DOUBLE / (na.n + nb.n - c), 3) AS jaccard
      |FROM common
      |JOIN sizes na ON ai = na.doc_id
      |JOIN sizes nb ON bi = nb.doc_id
      |JOIN fp fa ON ai = fa.doc_id
      |JOIN fp fb ON bi = fb.doc_id
      |WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.8
      |  AND bit_count(xor(fa.f, fb.f)) <= $maxHamming
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for [[dedupSimHashIncremental]]: the identical Hamming ≤ 15
    * ∧ Jaccard ≥ 0.8 predicate over fingerprints rebuilt from
    * md5_number_lower features, restricted to prior × fresh pairs —
    * over the UNCAPPED shingle space (see the operator doc for why the
    * DF cap deliberately does not apply here). Deterministic capture ⇒
    * the hash gate is exact: a qualifying cross-snapshot pair the band
    * probe misses fails the compare. */
  private val simhashIncrementalSql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
      |  FROM toks WHERE len(t) >= 3
      |),
      |pr AS (SELECT doc_id, md5_number_lower(s) h FROM sh),
      |sizes AS (SELECT doc_id, count(*) n FROM pr GROUP BY doc_id),
      |fp AS (SELECT doc_id, $simhashVoteExpr f FROM pr GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
      |  FROM pr a JOIN pr b ON a.h = b.h
      |  WHERE ${priorSql("a.doc_id")}
      |    AND ${freshSql("b.doc_id")}
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ai AS doc_a, bi AS doc_b,
      |  round(c::DOUBLE / (na.n + nb.n - c), 3) AS jaccard
      |FROM common
      |JOIN sizes na ON ai = na.doc_id
      |JOIN sizes nb ON bi = nb.doc_id
      |JOIN fp fa ON ai = fa.doc_id
      |JOIN fp fb ON bi = fb.doc_id
      |WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.8
      |  AND bit_count(xor(fa.f, fb.f)) <= $MaxPairHamming
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The engine's sign-bit band cells, mirrored bit-for-bit in SQL
    * (generated from the same constants so they cannot drift). */
  private val embedBandSelect: String = (0 until EmbedBands).map { b =>
    val bits = (0 until EmbedBandBits).map(j =>
      s"((embedding[${b * EmbedBandBits + j + 1}] >= 0)::INT * ${1 << (EmbedBandBits - 1 - j)})")
      .mkString(" + ")
    s"($bits) AS b$b"
  }.mkString(", ")

  private val embedBandMatch: String =
    (0 until EmbedBands).map(b => s"a.b$b = b.b$b").mkString(" OR ")

  /** The exact-substring span derivation as a reusable SQL body (no
    * ORDER BY wrapper conflicts), shared by the standalone span query
    * and the strip composition so the run-merge arithmetic cannot
    * drift. */
  private[graft] val substringSpansBody: String =
    s"""SELECT doc_id, min(pos) AS start_token,
       |  count(*) + ${ExactSubstrTokens - 1} AS len_tokens
       |FROM (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
       |  FROM (
       |    SELECT doc_id, pos FROM (
       |      SELECT doc_id, pos,
       |        min(doc_id) OVER (PARTITION BY g) AS mn,
       |        max(doc_id) OVER (PARTITION BY g) AS mx
       |      FROM (
       |        SELECT doc_id, i - 1 AS pos,
       |          array_to_string(t[i : i + ${ExactSubstrTokens - 1}], ' ') AS g
       |        FROM (
       |          SELECT doc_id, unnest(range(1, len(t) - ${ExactSubstrTokens} + 2)) AS i, t
       |          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |          WHERE len(t) >= $ExactSubstrTokens)
       |      ) g2
       |    ) s WHERE mn <> mx
       |  ) shared
       |) runs GROUP BY doc_id, rid""".stripMargin

  private[graft] val substringSpansSql: String =
    s"$substringSpansBody\nORDER BY doc_id, start_token"

  /** The interval-union strip tail as reusable CTEs over a `spans`
    * CTE — the SQL mirror of [[stripSpans]], shared by the
    * `cur_strip_substrings` and `cur_strip_repetition` oracles so the
    * drop/rejoin arithmetic cannot drift. */
  private[graft] val stripTailSql: String =
    s"""drop_idx AS (
       |  SELECT DISTINCT doc_id, idx FROM (
       |    SELECT doc_id,
       |      unnest(range(start_token, start_token + len_tokens)) AS idx
       |    FROM spans)
       |),
       |tk AS (
       |  SELECT doc_id,
       |    generate_subscripts(string_split(text, ' '), 1) - 1 AS idx,
       |    unnest(string_split(text, ' ')) AS w
       |  FROM documents
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
       |alln AS (SELECT doc_id, len(string_split(text, ' ')) AS n_total FROM documents)
       |SELECT a.doc_id, coalesce(k.kept_text, '') AS kept_text,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  a.n_total - coalesce(k.n_kept, 0) AS n_dropped
       |FROM alln a LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Uncapped exact cross-snapshot Jaccard — shared VERBATIM by the
    * inline incremental query and its stored-artifact twin: the parquet
    * round-trip must be semantically invisible. */
  private val minhashIncrementalOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
      |  FROM toks WHERE len(t) >= 3
      |),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
      |  FROM sh a JOIN sh b ON a.s = b.s
      |  WHERE ${priorSql("a.doc_id")}
      |    AND ${freshSql("b.doc_id")}
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ai AS doc_a, bi AS doc_b,
      |  round(c::DOUBLE / (na.n + nb.n - c), 3) AS jaccard
      |FROM common
      |JOIN sizes na ON ai = na.doc_id
      |JOIN sizes nb ON bi = nb.doc_id
      |WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Fresh-delta shared-span flagging vs the prior DISTINCT gram index —
    * shared VERBATIM by the inline incremental query and its
    * stored-artifact twin: the parquet round-trip must be semantically
    * invisible. */
  private val substringIncrementalOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |),
       |fg AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    array_to_string(t[i : i + $ExactSubstrTokens - 1], ' ') AS g
       |  FROM (SELECT doc_id, unnest(range(1, len(t) - $ExactSubstrTokens + 2)) AS i, t
       |        FROM toks
       |        WHERE ${freshSql("doc_id")}
       |          AND len(t) >= $ExactSubstrTokens)
       |),
       |pg AS (
       |  SELECT DISTINCT array_to_string(t[i : i + $ExactSubstrTokens - 1], ' ') AS g
       |  FROM (SELECT unnest(range(1, len(t) - $ExactSubstrTokens + 2)) AS i, t
       |        FROM toks
       |        WHERE ${priorSql("doc_id")}
       |          AND len(t) >= $ExactSubstrTokens)
       |),
       |wf AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      min(doc_id) OVER (PARTITION BY g) AS mn,
       |      max(doc_id) OVER (PARTITION BY g) AS mx
       |    FROM fg) s
       |  WHERE mn <> mx
       |),
       |ip AS (SELECT fg.doc_id, fg.pos FROM fg JOIN pg USING (g)),
       |shared AS (SELECT DISTINCT doc_id, pos FROM
       |  (SELECT * FROM wf UNION ALL SELECT * FROM ip)),
       |runs AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
       |  FROM shared
       |)
       |SELECT doc_id, min(pos) AS start_token,
       |  count(*) + ${ExactSubstrTokens - 1} AS len_tokens
       |FROM runs GROUP BY doc_id, rid
       |ORDER BY doc_id, start_token""".stripMargin

  /** Incremental winnow mirror (combined-df cap, fresh×fresh ∪
    * fresh×prior candidates) — shared VERBATIM by the inline query and
    * its stored-artifact twin. */
  private val winnowIncrementalOracleSql: String =
    s"""WITH ${TextAnalysis.winnowFpsCtes},
       |wf AS (SELECT doc_id, unnest(fp) AS g FROM wfp),
       |wdf AS (SELECT g, count(*) AS df FROM wf GROUP BY g),
       |wk AS (SELECT wf.doc_id, wf.g FROM wf JOIN wdf USING (g)
       |       WHERE df <= $WinnowDfCap),
       |wkf AS (SELECT * FROM wk WHERE ${freshSql("doc_id")}),
       |wkp AS (SELECT * FROM wk WHERE ${priorSql("doc_id")}),
       |wsz AS (SELECT doc_id, count(*) AS n FROM wk GROUP BY doc_id),
       |wcand AS (
       |  SELECT a.doc_id AS fa, b.doc_id AS fb
       |  FROM wkf a JOIN wkf b ON a.g = b.g AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT f.doc_id, p.doc_id FROM wkf f JOIN wkp p ON f.g = p.g
       |),
       |wpairs AS (
       |  SELECT least(fa, fb) AS doc_a, greatest(fa, fb) AS doc_b,
       |    count(*) AS n_shared
       |  FROM wcand GROUP BY 1, 2
       |  HAVING count(*) >= $WinnowMinShared
       |)
       |SELECT doc_a, doc_b, n_shared, sa.n AS n_a, sb.n AS n_b
       |FROM wpairs
       |JOIN wsz sa ON sa.doc_id = doc_a
       |JOIN wsz sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "dedup_exact_bow" ->
      """SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS h,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
        |ORDER BY h""".stripMargin,
    // gram TEXT on the oracle side vs xxh64 gram hashes on the engine
    // side — equal join/window semantics up to 64-bit collisions (the
    // decontamination argument); min≠max over the gram partition is the
    // ≥2-distinct-docs test, pos − row_number() the run merge
    "dedup_exact_substring" -> substringSpansSql,
    // the prior side collapses to DISTINCT gram text (the 8 B/gram
    // index); shared = within-fresh window ∪ prior probe, same merge
    "dedup_substring_incremental" -> substringIncrementalOracleSql,
    // the stored twin reads the prior gram index from the parquet
    // artifact instead of recomputing it — the round-trip must be
    // semantically invisible, so it shares the inline oracle VERBATIM
    "dedup_substring_stored" -> substringIncrementalOracleSql,
    // the span CTE verbatim + interval-union drop via NOT EXISTS on the
    // exploded span positions, survivors re-joined in token order
    "cur_strip_substrings" ->
      s"""WITH spans AS ($substringSpansBody),
         |$stripTailSql""".stripMargin,
    // within-doc repetition spans (non-first trigram occurrences, gram
    // TEXT — the engine's doc-bounded key argument) + the shared strip
    // tail verbatim
    "cur_strip_repetition" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    array_to_string(t[i : i + ${RepStripK - 1}], ' ') AS g
         |  FROM (SELECT doc_id, unnest(range(1, len(t) - ${RepStripK - 2})) AS i, t
         |        FROM toks WHERE len(t) >= $RepStripK)
         |),
         |spans AS (
         |  SELECT doc_id, pos AS start_token, $RepStripK AS len_tokens FROM (
         |    SELECT doc_id, pos, min(pos) OVER (PARTITION BY doc_id, g) AS mn
         |    FROM g) s
         |  WHERE pos > mn
         |),
         |$stripTailSql""".stripMargin,
    // NOT EXISTS, not NOT IN: same anti-join semantics as the engine
    // regardless of SQL null quirks (h is never null here, but the
    // form should not depend on it)
    "dedup_incremental" -> incrementalSql,
    // the Bloom prefilter is sound on its "definitely novel" verdict and
    // every maybe goes through the exact confirm, so the result is the
    // plain incremental one — sharing the oracle IS the correctness
    // claim (the sketch is invisible to the output)
    "dedup_incremental_bloom" -> incrementalSql,
    // the stored twin reads the prior md5 index from the parquet
    // artifact — round-trip semantically invisible, shared VERBATIM
    "dedup_incremental_stored" -> incrementalSql,
    "dedup_ngram_jaccard" -> cappedJaccardSql,
    "dedup_containment" -> containmentSql,
    "dedup_simhash_pairs" -> simhashPairsSqlAt(MaxPairHamming),
    // the fps derivation is TextAnalysis.winnowFpsCtes — the ONE
    // winnow-arithmetic definition, shared with text_fingerprint_winnow
    "dedup_winnow_pairs" ->
      s"""WITH ${TextAnalysis.winnowFpsCtes},
         |wf AS (SELECT doc_id, unnest(fp) AS g FROM wfp),
         |wdf AS (SELECT g, count(*) AS df FROM wf GROUP BY g),
         |wkeep AS (SELECT wf.doc_id, wf.g FROM wf JOIN wdf USING (g)
         |          WHERE df <= $WinnowDfCap),
         |wsz AS (SELECT doc_id, count(*) AS n FROM wkeep GROUP BY doc_id),
         |wpairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM wkeep a JOIN wkeep b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= $WinnowMinShared
         |)
         |SELECT doc_a, doc_b, n_shared, sa.n AS n_a, sb.n AS n_b
         |FROM wpairs
         |JOIN wsz sa ON sa.doc_id = doc_a
         |JOIN wsz sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // incremental mirror: identical fps/df/cap arithmetic (combined df
    // = full-corpus df since corpus = prior ∪ fresh), candidate space
    // restricted to fresh×fresh (a<b) ∪ fresh×prior — prior never
    // self-pairs
    "dedup_winnow_incremental" -> winnowIncrementalOracleSql,
    // the stored twin reads the prior fingerprint rows + df counter
    // from the parquet artifact — round-trip semantically invisible,
    // so it shares the inline oracle VERBATIM
    "dedup_winnow_stored" -> winnowIncrementalOracleSql,
    "dedup_simhash_pairs_wide" -> simhashPairsSqlAt(MaxPairHammingWide),
    // same window, same predicate, different band geometry — sharing the
    // ≤15 oracle IS the claim that the 16-bit banding loses nothing
    "dedup_simhash_pairs_b16" -> simhashPairsSqlAt(MaxPairHamming),
    "dedup_simhash_incremental" -> simhashIncrementalSql,
    // the b16 tier's capture is deterministic for the identical Hamming
    // cut, so both geometries share the 8-bit incremental's oracle
    "dedup_simhash_incremental_b16" -> simhashIncrementalSql,
    "dedup_simhash_stored_b16" -> simhashIncrementalSql,
    // the stored twin reads the prior signatures + chunk index from
    // the parquet artifact — round-trip semantically invisible, so it
    // shares the inline oracle VERBATIM
    "dedup_simhash_stored" -> simhashIncrementalSql,
    "dedup_simhash" ->
      s"""WITH tok AS (
        |  SELECT doc_id, md5_number_lower(t) h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents)
        |),
        |fp AS (SELECT doc_id, $simhashVoteExpr f FROM tok GROUP BY doc_id)
        |SELECT doc_id, ${toSignedBigint("f")} AS simhash
        |FROM fp ORDER BY doc_id""".stripMargin,
    // MinHash LSH output must equal the exact pairs at these similarity
    // levels (recall ≈ 1 − 3e-4 at j = 0.8, ≈ 1 at the planted j ≥ 0.95),
    // so it shares the UNCAPPED exact-Jaccard oracle — a genuine recall
    // check, independent of the inverted-index DF cap.
    "dedup_minhash_lsh" -> exactJaccardSql,
    // Same UNCAPPED exact oracle, restricted to cross-snapshot pairs
    // (prior slice on the left, delta on the right) — the band index
    // probe must recover every prior×fresh pair at the planted
    // similarity levels, same recall argument as the full variant.
    "dedup_minhash_incremental" -> minhashIncrementalOracleSql,
    // the stored twin reads the prior index from the parquet artifact
    // instead of recomputing it — the round-trip must be semantically
    // invisible, so it shares the inline query's oracle VERBATIM
    "dedup_minhash_stored" -> minhashIncrementalOracleSql,
    "dedup_kept" ->
      s"""WITH ${pairDropSql("documents")}
         |SELECT doc_id, lang, source FROM kept ORDER BY doc_id""".stripMargin,
    // connected components as a recursive transitive closure over the
    // same capped-Jaccard pair graph the engine clusters — min reachable
    // id per node ≡ the label-propagation fixpoint (both are exactly the
    // component minimum, algorithm-independent)
    "dedup_clusters" -> clustersSql,
    // star replacement of the prior components is exact (connectivity
    // and component minima preserved), so incremental maintenance is
    // output-invisible — sharing the from-scratch oracle IS the claim
    "dedup_clusters_incremental" -> clustersSql,
    // the same transitive closure over the UNION of the Jaccard and
    // containment edge sets (both CTEs spliced from the single-source
    // oracles above, so the edge definitions cannot drift)
    "dedup_clusters_all" -> clustersAllSql,
    // component representatives joined back for the document columns:
    // keep exactly the docs whose cluster label is their own id
    "dedup_kept_clusters" ->
      s"""SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN ($clustersAllSql) lab ON d.doc_id = lab.doc_id
         |WHERE lab.cluster = lab.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_embed_cosine" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) DESC,
        |  a.vec_id ASC, b.vec_id ASC
        |LIMIT 20""".stripMargin,
    "dedup_embed_cosine_blocked" ->
      s"""WITH v AS (SELECT vec_id, label, embedding, $embedBandSelect
        |  FROM embeddings),
        |cand AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |    AND ($embedBandMatch)
        |)
        |SELECT vec_a, vec_b, label, round(cos, 4) AS cosine
        |FROM cand ORDER BY cos DESC, vec_a ASC, vec_b ASC
        |LIMIT 20""".stripMargin,
    // the banding mirrored bit-for-bit, restricted to prior x fresh
    // pairs (the a < b self-pairing rule replaced by the snapshot
    // split) - the blocked search as an index probe
    "dedup_embed_cosine_incremental" -> embedIncrementalOracleSql,
    // the stored twin reads the prior vector store + band index from
    // the parquet artifact — round-trip semantically invisible (doubles
    // are bit-exact through parquet), shared VERBATIM
    "dedup_embed_cosine_stored" -> embedIncrementalOracleSql,
  )

  /** Cross-snapshot banded embedding near-dup — shared VERBATIM by the
    * inline incremental query and its stored-artifact twin. */
  private lazy val embedIncrementalOracleSql: String =
    s"""WITH v AS (SELECT vec_id, label, embedding, $embedBandSelect
      |  FROM embeddings),
      |cand AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
      |  FROM v a JOIN v b ON a.label = b.label
      |    AND ${priorSql("a.vec_id")}
      |    AND ${freshSql("b.vec_id")}
      |    AND ($embedBandMatch)
      |)
      |SELECT vec_a, vec_b, label, round(cos, 4) AS cosine
      |FROM cand ORDER BY cos DESC, vec_a ASC, vec_b ASC
      |LIMIT 20""".stripMargin
}
