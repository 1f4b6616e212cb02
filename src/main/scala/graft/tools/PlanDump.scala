package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool (not part of the driver contract): regenerates PLANS.md —
  * the FINAL (post-AQE, post-execution) physical plans of the
  * representative queries, each with a note on the plan feature that
  * is load-bearing at 100 TB. Run after any plan-shape change:
  *
  *   sbt "runMain graft.tools.PlanDump"
  */
object PlanDump {
  private val entries: Seq[(String, String)] = Seq(
    "q2_filter_project" ->
      "Predicate + projection pushed into the parquet scan: `PushedFilters` carries the filter, `ReadSchema` only the projected columns.",
    "q1_pricing_summary" ->
      "Partial aggregation (`partial_sum`/`partial_count`) BELOW the exchange — map-side combine; the shuffle moves one row per group per task.",
    "q4_star_join_nation" ->
      "Star join: fact⋈fact shuffles on the join key, every dimension is a `BroadcastHashJoin` — no dimension ever crosses an exchange.",
    "q5_top_orders" ->
      "Top-k plans as `TakeOrderedAndProject` — k rows per partition then a driver merge, never a global sort materialization.",
    "wc_word_counts" ->
      "The reference pipeline: fused tokenize+normalize Generate directly over the scan, two-phase hash aggregation, wide `WholeStageCodegen` spans.",
    "dedup_minhash_lsh" ->
      "ONE documents scan: banding and verify share the expansion subtree via `ReusedExchange`; verify sides share one broadcast of the doc→hashes relation.",
    "dedup_minhash_incremental" ->
      "The 100 TB incremental shape: the delta's band signatures probe the prior corpus's band index (pair space = delta × collisions, prior never self-pairs); each side scans+shingles ONCE (explicit isnotnull keeps banding and verify branches canonically identical for stage reuse), and at scale the prior index is a write-once (band, bh)-bucketed artifact the probe joins without shuffling.",
    "dedup_simhash_pairs" ->
      "ONE scan + `ReusedExchange` between the DF-cap count-agg and the pair branches (constraint-inference hazard guarded by explicit isnotnull); exact-Hamming cut inside the band join.",
    "dedup_simhash_incremental" ->
      "Incremental near-dup at the fingerprint tier: the delta's radius-1 probe balls (72 keys/doc, generated map-side) equi-join the prior fingerprints' 8 exact chunk values — pair space = delta × cell collisions, prior never self-pairs; each side scans+hashes ONCE (the band join's inferred isnotnull on the fingerprint key is mirrored into the shared subtree, else the exchanges de-canonicalize — measured documents=4 without it); at scale the prior index is a write-once (chunk, value)-bucketed artifact, the MinHash band-index argument one tier down.",
    "sim_ann_ivf_incremental" ->
      "Frozen-quantizer index maintenance: the delta slice is assigned per-row against the baked centroids (map work, no shuffle) and unioned with the prior assignment artifact into the IDENTICAL probe/cell-join/re-rank tail — assignment is deterministic per (vector, centroids), so the union equals the from-scratch build and the query shares sim_ann_ivf's oracle; at 100 TB the artifact is cell-laid-out (append = partition-local) and only the delta is ever re-assigned.",
    "dedup_ngram_jaccard" ->
      "PPJoin-style prefix index: streaming count-agg DF cap on the reused h-exchange, one window for rank+size on one doc_id exchange, groupBy verify sets on the same partitioning.",
    "dedup_containment" ->
      "Asymmetric containment: own-size prefix probe against the FULL DF-capped index (the larger side cannot prune), exact set-intersection verify; same single-scan reuse as the jaccard path.",
    "q17_asof_event_order" ->
      "As-of join as a union-marker window: ONE shuffle on (key, time), no per-row subquery, no range self-join blowup.",
    "q25_range_join" ->
      "Range join bucketized to an equi-join on the time bucket — a shuffle-key join plus a residual range filter, never a nested-loop.",
    "text_fingerprint_winnow" ->
      "Winnowing fingerprint: pure map + explode with a single (range) exchange for the final ordering — scan-bound at any scale.",
    "cur_pipeline" ->
      "The composed curation pipeline: the pair search's bucketed plan unchanged, drop list broadcast into a left-anti join, one new exchange (final per-language agg).",
    "cur_pipeline_full" ->
      "Redact-first full pipeline: the regexp redaction stays per-row map work fused into the scan projection on both consumers; the pair search runs over redacted text with its bucketed plan unchanged; still one new exchange total.",
    "dedup_chunks" ->
      "Chunk-level exact dedup: chunk fan-out is a per-row Generate over the scan; ONE shuffle on the chunk hash for the group-agg — dedup_exact's shape at sample granularity.",
    "cur_pipeline_samples" ->
      "The materializing pipeline: redact-first stages as in cur_pipeline_full, then chunk fan-out and a keep-first semi-join against the chunk-hash representative table — the dedup_chunks cost on top, nothing more.",
    "dedup_chunks_ngram" ->
      "Chunk-granularity pair search: packed (doc_id, chunk_idx) keys feed the document PPJoin pipeline UNCHANGED — same DF-cap reuse, same prefix window, ~10× the rows through an identical plan.",
    "sim_ann_ivf" ->
      "IVF: centroid argmax assignment is a per-row expression over baked literals (no shuffle); probe side broadcasts; re-rank only within probed cells' residents, the vector carried THROUGH the cell join — one full corpus scan, no candidate re-join (ScanAudit: embeddings=3 is 1 full + 2 vec_id-pruned query-side scans).",
    "sim_ann_ivf_kmeans" ->
      "Lloyd-fitted IVF: the search tail is sim_ann_ivf's (per-row argmax over baked literals, broadcast probes); each fit iteration adds one scan + ONE 65-column partial aggregate (16 cells × partitions shuffle rows, 16×65 longs collected). Scores compare as floor-quantized LONGs — integer keys both engines derive identically.",
    "cur_pack_chunks" ->
      "Sample-granularity packing: the chunk fan-out Generate feeds the range sort; the running total is the two-pass per-partition prefix sum (one Long per partition to the driver), NOT a global window — no single-partition funnel anywhere.",
    "cur_pipeline_samples_cc" ->
      "Cluster-keep samples pipeline: the union pair search — ONE fused candidate pass (both prefix bounds tagged on one ranked frame) + ONE merge-walk verify emitting jaccard AND containment edges — materializes ONCE (Materialize.frame: the ExistingRDD scan below; reliable checkpoint when a dir is configured); nodes + CC loop + drop list read the checkpointed pair-count-sized frame; downstream is cur_pipeline_samples' chunk tail unchanged, with the same single shared chunk exchange.",
    "cur_pipeline_samples_ccq" ->
      "Quality-aware cluster keep: identical plan to cur_pipeline_samples_cc up to the keep step, then quality AND its redaction are computed ONLY for cluster members (the pair-node-sized labels frame joins the RAW parquet text; the regex stack runs post-join on the match set) and the per-cluster argmax (quality, -doc_id) is one lexicographic struct-max agg on that byte-sized frame — the representative choice adds no corpus-sized regex work.",
    "dedup_chunks_containment" ->
      "Chunk-granularity containment: packed (doc_id, chunk_idx) keys feed the document containment pipeline UNCHANGED — own-size prefix probe against the FULL DF-capped index, window-derived verify sets, merge-walk verify; excerpt detection at sample granularity through an identical plan.",
    "cur_decontam" ->
      "Benchmark decontamination: documents=2 in ScanAudit is the DESIGN — the eval slice and the train slice are disjoint pushed-filter scans, each feeding its own fused 13-gram expansion (so gram work totals the corpus ONCE); the eval side's distinct gram-hash set is benchmark-sized and BROADCAST, the train side never shuffles its expansion (explode → broadcast-hash probe → doc_id agg on the expansion's own repartitioning). At 100 TB the eval set is a few thousand docs against the corpus — the broadcast is the whole point.",
    "cur_mix_sample" ->
      "Language mixture sampling: ONE corpus-sized exchange (the explicit doc_id repartition) replayed by BOTH consumers — the per-language token totals and the keep gate — as a ReusedExchange; the L-row probability table (languages, not documents) broadcasts back into the gate join, and the output agg rides the same partitioning. The hash gate is per-row map work; nothing document-sized shuffles twice.",
    "dedup_semantic" ->
      "SemDeDup: the Lloyd fit is the bounded once-per-corpus cost (sim_ann_ivf_kmeans' shape); assignment + centroid similarity are per-row map work against baked literals; ONE embeddings scan total — the left-outer witness join's both sides replay the same cell exchange (ReusedExchange; the keep is a count(witness)==0 agg, NOT an anti-join, because PushDownLeftSemiAntiJoin would relocate an anti-join below the repartition and un-share its scan) — and the pair space is Σ n_c² with the cell count sized to the corpus, which is the paper's entire scaling argument (the clusters ARE the index).",
    "dedup_incremental_bloom" ->
      "Bloom-gated incremental dedup: the prior index folds into ONE bounded sketch via a scalar subquery (planned once, ReuseSubquery-deduped across both branch filters); certainly-novel delta groups exit through a filter-only branch while only the maybe sliver (true dups + ~2% false positives) anti-joins the exact hash index — at 100 TB the index-side join input is two orders of magnitude under the crawl.",
    "dedup_kept_clusters" ->
      "Cluster-based keep: the fused union pair search replays ONE shingle-expansion exchange and verifies both edge types in one pass; the CC loop iterates on checkpointed pair-node-sized label tables with the symmetrized edge frame checkpointed pre-partitioned on the join key — each round joins with NO edge-side exchange (the loop below shows only the final semi-join of documents against the representative set; the iterations are O(log diameter) equi-join+min-agg rounds on byte-sized frames).",
    "cur_pipeline_samples_incremental" ->
      "The daily-crawl incremental pipeline: the delta's novel set materializes ONCE (Materialize.frame behind the keep-first window + prior hash-index anti-join), then its band signatures probe the prior side's band index (cross ∪ delta-internal candidates, one merge-walk verify over a shared aliased pool) and the surviving chunks anti-join the prior chunk-hash index — the two remaining corpus-sized scans are the PRIOR side's band/chunk index builds, which are write-once bucketed artifacts in production (ScanAudit: ok/2x).",
    "sim_ann_ivfpq" ->
      "IVF-PQ (IVFADC): assignment, residual, and the 8 code argmins are per-row map work against baked literals; each residual-fit iteration is ONE posexplode + (m, cell) integer-sum aggregate (8×16×9 longs collected); search broadcasts (query, probe-cell, coarse-term) rows and the per-query lookup tables into the codes scan — scoring is 8 table lookups + integer adds per candidate, the compressed-corpus scan PQ exists for.",
    "text_lm_score" ->
      "LM scoring: the bigram/unigram model tables sit behind Materialize (the stored-model artifact; their fit-slice scans ran once, eagerly), the vocabulary size is a collected literal, and the plan shows only the FRESH slice's bigram fan-out hash-joined against the two model relations + one per-doc aggregate — documents=1 in ScanAudit.",
    "dedup_embed_cosine_incremental" ->
      "Incremental embedding near-dup: each snapshot side ends in ONE explicit vec_id exchange replayed by its banding and its verify-pool leg; candidates come from the (label, band, cell) equi-join of delta bands against the prior index (no a<b self-pairing — the slices are disjoint), verified by exact cosine. The two passes per side are the stored band-index + vector-table artifacts in production (ScanAudit ok/4x note).",
    "sim_ann_ivfpq_incremental" ->
      "Incremental IVF-PQ: identical ADC search tail to sim_ann_ivfpq, but the residual-codebook fit reads only the PRIOR slice of the materialized residual frame (frozen at index creation) and the encode runs as prior ∪ delta slices — the per-row code map is deterministic under frozen models, so the union equals a whole-corpus encode (spec-pinned) while per-ingest work is delta-sized.",
    "sim_ann_ivfpq_rerank" ->
      "The refine stage: the ADC-scored candidate frame takes a per-query RerankPool window cut, and the pool BROADCASTS into the raw vector store for the exact-dot re-rank — two broadcast joins, no new exchange over the corpus; at 100 TB the refine read is a pool-sized point lookup against the vec_id-bucketed store while the compressed codes carry the scan.",
    "cur_dsir_weights" ->
      "DSIR weights: both model aggs collapse map-side onto <=4096 bucket keys before their exchanges (partial_count below the shuffle); the raw per-(doc, bucket) counts materialize ONCE (localCheckpoint scan feeds the background model AND the scoring join), and both model frames re-enter as BroadcastHashJoins — the scoring side's only shuffle is the final per-doc aggregation.",
    "dedup_winnow_pairs" ->
      "MOSS pair search: the fingerprint expansion materializes once post-df-cap (localCheckpoint feeds sizes + BOTH self-join sides), the pair join shuffles on the fingerprint key with per-key fan-out bounded by the df cap, and the size joins ride broadcast — no all-pairs stage anywhere.",
    "mm_dedup_ahash" ->
      "Perceptual dedup: decode+aHash is per-row map work behind the round-robin decode exchange; ONE shuffle on the 4-byte hash key (partial min/count below it) collapses the corpus to visual-signature groups — no pair enumeration, no second corpus pass.",
    "cur_novelty" ->
      "Freshness metric: prior distinct-gram index (one shuffle-dedup) joined by a plain hash exchange on the gram key against the fresh expansion — the corpus-sized reference is NEVER broadcast (decontamination's eval set is benchmark-sized; this one is not); one per-doc agg after the join.",
    "cur_novelty_stored" ->
      "Steady-state freshness (r19): the prior side is ONE parquet artifact scan (the 8 B/gram distinct index) — no prior-side tokenization, no gram Generate, no shuffle-dedup; the fresh slice's expansion is the only corpus-text work. At this dump SF the artifact is broadcast-sized and AQE elects a BroadcastHashJoin; at corpus scale it exceeds the threshold and the join falls back to the gram-key hash exchange (the index hash-bucketed by h in production, so the probe re-reads it exchange-free).",
    "cur_pipeline_samples_dsir" ->
      "DSIR-gated pipeline (r14 barrier-cut staging): the pair search reads the scan direct (its expansion repartitions internally — no upfront text exchange), the side-tagged gram frame localCheckpoints once and feeds one union-collect (BOTH <=4096-row models come back in a single job, quantized on the driver) plus the scoring join, where the models re-enter as LOCAL-RELATION broadcasts (no broadcast-build jobs); the rank is one sizes pass + an emit that replays the sort's map outputs; drop list checkpoints without distinct (left-anti is duplicate-tolerant).",
    "dedup_lines" ->
      "C4 line dedup: the keep decision shuffles (md5, doc_id, line_idx) — 48 B/line, line TEXT never moves for the decision; winners semi-join back on (doc_id, line_idx) and the rebuild is one doc-bounded sort_array agg — groups are one line's duplicate set, no corpus-wide window.",
    "cur_line_filter" ->
      "C4 line filters: every predicate is an array-lambda inside ONE projection over the scan — zero exchanges, zero aggregations; the plan is FileScan -> Project -> Sort and nothing else.",
    "cur_source_caps" ->
      "Per-source caps: ONE #sources x 64-bucket histogram agg (partial below its exchange), a histogram-sized window for the bucket cutoffs, and two histogram-sized broadcast joins back — the corpus is never globally sorted and never shuffles on anything wider than (source, bucket).",
    "cur_strip_repetition" ->
      "Within-doc repetition strip: positional-gram expansion + interval union are per-doc map work behind one doc_id exchange — no cross-doc term anywhere in the plan, the linear-at-any-scale shape.",
    "text_bpe_fit" ->
      "Distributed BPE merge fit: each iteration's pair-count agg collapses map-side onto the surviving-pair keyspace (vocabulary-sized), the argmax is a 1-row driver fetch, and the re-tokenize scan is the only corpus-sized pass per iteration.",
    "cur_pipeline_samples_lines" ->
      "C4-order composed pipeline: the line stage's keep-key shuffle + rebuild agg sit AHEAD of the unchanged samples stages; one lazy single-consumer DAG — no checkpoint, no drop-list distinct, and the chunk fan-out's content-hash window is still the only corpus-sized exchange in the tail.",
    "cur_mix_epochs" ->
      "Data-constrained epoch plan: one corpus scan collapses map-side into the L-row language agg; totals are an L-row broadcast crossJoin; everything after is literal arithmetic on L rows — the schedule is a bytes-sized artifact.",
    "cur_badwords" ->
      "C4 badwords page filter: the blocklist is a literal IN inside a codegen'd higher-order filter over the scan projection — zero exchanges except the oracle-tail sort; a production list swaps in an Aho-Corasick scan expression, same plan shape.",
    "cur_decontam_semantic" ->
      "Semantic decontam: eval slice BROADCAST (benchmark-sized by contract), train side one map-only scan computing per-row cosines into TakeOrderedAndProject — no shuffle of anything corpus-sized, the decontaminate plan with dot products for gram probes.",
    "cur_pipeline_samples_c4" ->
      "Full C4 recipe: the badwords page drop is a filter FUSED into the line stage's scan projection — the lines pipeline's one-documents-scan plan with one extra predicate, no new exchange, no new scan.",
    "sim_ann_ivfpq_32x8" ->
      "32-byte-code standalone IVF-PQ: the ADC scan is one broadcast(probes) join over the checkpointed (vec_id, cell, 32-code) artifact — codes come from ONE codegen'd pq_encode call per row (no per-codeword expression nodes), score = coarse term + 32 table lookups, top-k per query window; the raw store is never touched after the encode.",
    "cur_decontam_semantic_ann" ->
      "ANN-routed semantic decontam: the eval×nprobe probe list is BROADCAST into a cell equi-join against the train side's map-only assignment scan — the train side shuffles nothing and scores only probe-cell residents; the tail is the brute query's TakeOrderedAndProject.",
    "cur_badwords_big" ->
      "Production-sized badwords: the 2k-entry automaton is a plan-constant reference inside ONE codegen'd phrase_count projection over the scan — identical zero-exchange shape to the 3-word IN form at any list size.",
    "text_bpe_fit_batched" ->
      "Batched BPE fit (final emit plan shown; the per-iteration pair agg matches text_bpe_fit's): one corpus pass per BATCH of merges instead of per merge — the rewrite chains the kept merges' replaces in one projection.",
    "cur_shard_assign" ->
      "Training-shard assignment: the samples pipeline runs once into a checkpoint; the assignment is two lightweight jobs over it (per-partition sizes collect + offset map) — the final plan is a Scan ExistingRDD + sort, no second pipeline execution.",
    "dedup_simhash_stored" ->
      "The r17 steady-state shape: the prior side is TWO parquet artifact scans (signatures + the c-partitioned chunk index) — no document text, no shingling, no fingerprint voting on the prior side; only the delta runs the text pipeline.",
    "dedup_simhash_incremental_b16" ->
      "The 16-bit incremental (r18): the prior's radius-1 ball index (68 rows/doc) joined by the delta's radius-2 ball — the mask-split capture of the b16 pair search in the prior×delta orientation; measured crossover vs the 8-bit form is millions of prior docs (band-join row volume dominates below it — SCALING r18), which is what the stored ball artifact targets.",
    "dedup_winnow_stored" ->
      "Stored MOSS index: the (doc_id, g) fingerprint artifact and the UNCAPPED (g, df) counter read back; the df cap applies to the full-outer combined stored + delta count — the plan's only corpus-text work is the delta's Karp–Rabin expansion.",
    "text_bpe_encode" ->
      "Merge-order apply: k vocab-sized rewrite stages (localCheckpoint scans, NOT corpus re-reads), then ONE documents scan exploded to words and hash-joined against the encoded vocab; the per-doc reassembly shuffles token rows keyed by doc_id only.",
    "text_bpe_encode_special" ->
      "Reserved-token encode (r19): reservation is one CASE branch in the vocab-frame projection — ZERO new exchanges vs text_bpe_encode; the boundary marker rides the k vocab-sized rewrites as an atomic symbol (no pair it participates in exists) and the doc join emits it as exactly one token.",
    "text_bpe_encode_special_bytes" ->
      "Byte-mode reserved-token encode (r20): segmentation-first pretokenizing is ONE higher-order-function projection (split + per-segment regexp transform + marker interleave) + ONE explode Generate per corpus touch — same two-scan bill as the plain byte encode (a content/marker UNION would scan twice per touch); the atomic unspaced-hex symbol rides the k vocab-sized rewrites pair-free and the (2i/2i+1)·2^32 long position key totals the stream order with no window function.",
    "stream_bpe_encode_ttl" ->
      "TTL-bounded streaming encode (r19, post-run fold shown): the per-doc reassembly is flatMapGroupsWithState keyed by doc_id under an event-time timeout — state is the doc's piece list + one long (the monotone deadline), O(docs active in the TTL window), not O(docs seen); the frozen-vocab join is a stream-static broadcast AHEAD of the state operator, so OOV fallback work never enters state.",
    "text_tokencount_bpe_bytes" ->
      "Byte-level tokenizer (r18): the identical two-corpus-touch shape as the word encode — pretokenizer Generate over one documents scan builds the pretoken-frequency vocab, k rewrites run vocab-sized, one more scan joins the pretoken stream; the regex pretokenize and hex byte-render are per-row map work inside the Generate stage, nothing new crosses an exchange.",
    "stream_dedup_chunks_ngram" ->
      "Streaming chunk near-dup (post-run fold shown): the stateful operator is the SAME banded-minhash flatMapGroupsWithState as stream_dedup_minhash_ttl, fed packed (doc_id, chunk_idx) keys through the chunk fan-out Generate — chunks are ordinary documents to the band state machine; per-resident TTL eviction bounds state to O(chunk residents per band cell in the TTL window).",
    "stream_sessions" ->
      "Streaming sessionization (the dumped plan is the post-run snapshot fold over the memory sink): the stateful operator is flatMapGroupsWithState keyed on user_id with FIVE LONGS of state per user — O(active users), no buffered events; emissions are monotone snapshots, so the fold is a max-struct per user.",
  )

  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.session("graft-plan-dump", "local[8]", 8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val sb = new StringBuilder
    sb.append("# PLANS — final physical plans of the representative queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.tools.PlanDump\"` (post-AQE plans,\n")
    sb.append(s"captured after execution at `$sfDir`). Each section notes the plan\n")
    sb.append("feature that is load-bearing at 100 TB; `PlanSpec` asserts the\n")
    sb.append("critical ones so they cannot silently regress.\n")
    for ((name, note) <- entries) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("Initial Plan")
      val p = (if (cut >= 0) s.substring(0, cut) else s).trim
      sb.append(s"\n## $name\n\n$note\n\n```\n$p\n```\n")
    }
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"PLANS.md written (${entries.size} plans)")
    spark.stop()
  }
}
