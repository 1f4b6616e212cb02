package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev audit (not part of the driver contract): executes every batch
  * query in [[graft.SparkEntry.queries]] at sf0.001 and reports how
  * many times each parquet table is scanned in the FINAL (post-AQE)
  * plan. A table appearing more than once is either a legitimate
  * multi-use (self-join without a shared exchange-reusable subtree) or
  * the constraint-inference/column-pruning de-canonicalization bug that
  * silently doubles scan+shuffle work (round 3 and round 5 both shipped
  * one) — every >1 entry should have a known justification.
  *
  *   sbt "runMain graft.tools.ScanAudit"            # all batch queries
  *   sbt "runMain graft.tools.ScanAudit dedup_"     # name filter
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.session("graft-scan-audit", "local[8]", 8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val filter = args.headOption.getOrElse("")
    val skip = Set( // streaming queries drive their own sinks
      "stream_events_hourly", "stream_wc_counts", "stream_user_totals",
      "stream_active_users", "stream_wc_file_sink", "stream_click_purchase",
      "stream_dedup_exact", "stream_dedup_ttl")
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)
         if name.contains(filter) && !skip(name)) {
      val df = fn(spark, sfDir)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      val cut = finalPlan.indexOf("Initial Plan")
      val p = if (cut >= 0) finalPlan.substring(0, cut) else finalPlan
      // match the scan LOCATION bracket directly: the earlier anchored
      // form (`FileScan parquet[^\[]*\[file:`) could never cross the
      // column-list bracket that precedes Location, so it matched
      // nothing and the audit silently reported every query clean.
      // Location strings appear only inside scan nodes, and a reused
      // subtree prints once (ReusedExchange refs it by plan_id), so
      // occurrence count = actual scan count.
      val perTable = raw"\[file:[^\]]*?([a-z_0-9]+)\.parquet\]".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      val flagged = perTable.filter(_._2 > 1)
      // documented BY-DESIGN multi-scans, keyed on (query, table) →
      // expected count: the count models distinct logical datasets that
      // happen to share one bench file — not a broken ReusedExchange.
      // The flagged set must match the expectation EXACTLY, so an
      // unexpected 2× scan of a different table (or of the same table
      // for a new reason, pushing it to 3×) still prints MULTI.
      val byDesign: Map[String, Map[String, Int]] = Map(
        // prior corpus + fresh delta are two logical tables (the prior
        // side must never re-pair with itself — the incremental point);
        // locally both slices read the same documents file
        "dedup_minhash_incremental" -> Map("documents" -> 2),
        // same two-logical-tables argument, SimHash flavor
        "dedup_simhash_incremental" -> Map("documents" -> 2),
        // same argument: prior gram-hash index build + fresh positional
        // expansion — in production the prior side is the stored
        // 8 B/gram artifact
        "dedup_substring_incremental" -> Map("documents" -> 2),
        // same two-logical-tables argument: prior distinct-gram index
        // build + fresh gram expansion
        "cur_novelty" -> Map("documents" -> 2),
        // the composed daily-crawl pipeline: the 2 final-plan scans are
        // the PRIOR side's band-index and chunk-index builds — stored
        // write-once artifacts in production, materialized inline here
        // so the query is self-contained on the driver's tables (the
        // delta side's scans sit behind the novel-set checkpoint)
        "cur_pipeline_samples_incremental" -> Map("documents" -> 2),
        // two logical passes per snapshot side: the sign-band index
        // build and the verify-side vector fetch — in production the
        // prior pair is the stored (label, band, cell)-bucketed index +
        // the vector table, and column pruning keeps the two consumers
        // on different projections (carrying all columns through one
        // exchange would move the full vectors twice to save a scan)
        "dedup_embed_cosine_incremental" -> Map("embeddings" -> 4),
        // the round-trip comparison's norm branch is a SEPARATE pruned
        // scan on purpose: carrying the doc-sized normalized text
        // through the token-exploded encode shuffle (the alternative
        // single-scan shape) would widen every token row by the whole
        // document — two column-pruned scans are the cheap side at scale
        "text_bpe_decode" -> Map("documents" -> 2),
        // byte mode, same shape: the round-trip compare joins the
        // ORIGINAL text back against the token-exploded encode output —
        // a separate pruned scan beats carrying doc-sized text through
        // the token shuffle (r18)
        "text_bpe_decode_bytes" -> Map("documents" -> 2),
        // the stored twin's prior side is the parquet artifact, so only
        // the FRESH side touches embeddings — same two by-design logical
        // passes per side as the inline form above (band build + verify
        // vector fetch on different pruned projections), halved
        "dedup_embed_cosine_stored" -> Map("embeddings" -> 2),
        // the 2 scans are the probe-routing and lookup-table builds,
        // BOTH pruned to the 10 query vectors (PushedFilters vec_id<10
        // — never the corpus side, which reads once via the residual
        // checkpoint); merging them would entangle two different
        // broadcast frames to save a 10-row read
        "sim_ann_ivfpq" -> Map("embeddings" -> 2),
        // the 8-bit / 32-byte tiers ride the identical search tail —
        // same two pruned query-side builds (r16)
        "sim_ann_ivfpq_8b" -> Map("embeddings" -> 2),
        "sim_ann_ivfpq_32x8" -> Map("embeddings" -> 2),
        "sim_ann_ivfpq_incremental" -> Map("embeddings" -> 2),
        // train assignment scan + the eval probe build (pruned to the
        // eval slice) — two logical tables, the decontaminate split;
        // in production the train side is the stored cell-bucketed
        // corpus and the eval side the frozen benchmark artifact (r16)
        "cur_decontam_semantic_ann" -> Map("embeddings" -> 2),
        // + the refine stage's two legs: the pool's raw-vector fetch
        // (the point-lookup-shaped refine store read — the IndexRefine
        // design) and the query-vector fetch for exact scoring (10
        // rows, pruned)
        "sim_ann_ivfpq_rerank" -> Map("embeddings" -> 4),
        // sketch pass + exact-truth pass: the truth side exists only as
        // the verification harness (production consults the 4 KB sketch
        // alone — that single pass IS the operator)
        "wc_heavy_hitters_cms" -> Map("documents" -> 2),
        // the learned gate's per-doc SCORING expansion is a second
        // consumer of the post-dedup kept corpus next to the chunk
        // expansion (structurally different fan-outs, no shareable
        // exchange); in production `kept` is the stored post-dedup
        // artifact both passes read — the fit-slice pass sits behind
        // the model checkpoint and is not in the final plan
        "cur_pipeline_samples_qm" -> Map("documents" -> 2),
        // train + eval are two logical tables (the decontaminate split);
        // the train side's span derivation and the clean pass-through
        // branch share ONE scan+exchange, the second train scan is the
        // stripSpans surgery branch (see below — its semi-join gate
        // pushes under the repartition so only span-owning docs
        // shuffle), the third scan the broadcast eval gram-set build
        "cur_decontam_strip" -> Map("documents" -> 3),
        // the stripSpans clean/affected split (r15): the span branch +
        // clean pass-through share one scan+exchange; the surgery
        // branch re-scans so its exchange carries ONLY span-owning docs
        // — trading a second pruned columnar scan for not shuffling and
        // re-aggregating the whole corpus's token expansion (287/5000
        // docs own a repetition span at sf0.1)
        "cur_strip_repetition" -> Map("documents" -> 2),
        "cur_strip_substrings" -> Map("documents" -> 2),
        // fit-then-apply in one DAG: the broadcast keep-probability
        // table is an aggregate OVER the gated frame itself, so the
        // model-fit pass and the gate pass are two inherent corpus
        // reads (same argument as cur_pipeline_samples_qm; the
        // streaming twin shows the production split — the table fitted
        // once on a snapshot, the gate a pure per-row broadcast probe)
        "cur_mix_sample" -> Map("documents" -> 2),
        "cur_mix_sample_source" -> Map("documents" -> 2),
        // the documented lazy-red trade (qm pipeline scaladoc): the
        // redacted corpus is NOT checkpointed (full-row block IO +
        // pinned layout measured worse), so the pair-search branch and
        // the kept/probe branch each re-run scan+redact — 2 scans,
        // PlanSpec-pinned for the samples form
        "cur_pipeline" -> Map("documents" -> 2),
        "cur_pipeline_full" -> Map("documents" -> 2),
        "cur_pipeline_samples" -> Map("documents" -> 2),
        // ccq: the lazy-red pair (the CC pair search materializes, its
        // second scan is the quality side's raw-text fetch for cluster
        // members — see the ccq scaladoc)
        "cur_pipeline_samples_ccq" -> Map("documents" -> 2),
        // train + eval are two logical tables (the decontaminate split)
        "cur_decontam" -> Map("documents" -> 2),
        // same split in embedding space (the semantic decontam slices)
        "cur_decontam_semantic" -> Map("embeddings" -> 2),
        // the sort-free cap decomposition reads its narrow
        // (doc_id, source, weight) projection three times: histogram
        // agg, boundary-bucket rank, kept-side probe — each a pruned
        // bytes-per-row read in production, chosen over one corpus
        // sort (the capBySource scaladoc's trade)
        "cur_source_caps" -> Map("documents" -> 3),
        "cur_source_caps_tokens" -> Map("documents" -> 3),
        // caps pipeline = lazy-red pair-search scans + the cap's
        // histogram read over the kept side
        "cur_pipeline_samples_caps" -> Map("documents" -> 3),
        // genuine self-pair / fit-and-probe / set-algebra shapes of the
        // relational battery — each side is a distinct logical dataset
        // or a distinct projection a shared exchange could not serve
        // without widening every row:
        // exact cosine pair search: both join sides need the vector
        // column under different aliases (self-join, no prefix filter)
        "dedup_embed_cosine" -> Map("embeddings" -> 2),
        "dedup_embed_cosine_blocked" -> Map("embeddings" -> 2),
        // prior corpus + fresh delta (the incremental two-logical-tables
        // argument; production probes the stored hash index)
        "dedup_incremental" -> Map("documents" -> 2),
        // keep table = hash-groupBy winners + the full-row probe side
        "dedup_kept" -> Map("documents" -> 2),
        // HAVING over an agg joined back to the detail side
        "q11_having" -> Map("customer" -> 2),
        // scalar above-average subquery + the detail probe
        "q13_above_avg" -> Map("part" -> 2),
        // the benchmark-average scalar subquery + the detail side
        "q16_nation_benchmark" -> Map("orders" -> 2),
        // event-window self range-join: both sides scan events
        "q25_range_join" -> Map("events" -> 2),
        // exact-vs-approx comparison query: the approx sketch pass and
        // the exact percentile pass are the two things being compared
        "q26_percentiles_approx" -> Map("lineitem" -> 2),
        // INTERSECT/EXCEPT/UNION over four customer-segment selections
        "q8_setops" -> Map("customer" -> 4),
        // the ANN family's query-side fetches are PRUNED point reads
        // (PushedFilters vec_id < 10) next to the one corpus pass:
        // brute = corpus × query self-join
        "sim_topk_brute" -> Map("embeddings" -> 2),
        // bucket-index build + query probe + verify vector fetch
        "sim_ann_lsh" -> Map("embeddings" -> 3),
        // corpus assignment + query routing + verify vector fetch
        // (the 16 seed centroids are a driver-side collect, pre-plan)
        "sim_ann_ivf" -> Map("embeddings" -> 3),
        "sim_ann_ivf_kmeans" -> Map("embeddings" -> 3),
        // + the prior/delta snapshot split on the corpus side
        "sim_ann_ivf_incremental" -> Map("embeddings" -> 4),
        // code scan + the pruned query-vector fetch
        "sim_ann_pq" -> Map("embeddings" -> 2),
        "sim_ann_sq8" -> Map("embeddings" -> 2),
        // label table fit + the per-label probe side
        "sim_label_stats" -> Map("embeddings" -> 2),
        // three distinct fan-outs (word stats, bigram, trigram) off the
        // text column — textRepetition's scaladoc documents the trade:
        // three pruned column scans beat one corpus-wide token-array
        // exchange at any scale
        "text_repetition" -> Map("documents" -> 3))
      val mark =
        if (flagged.isEmpty) "ok"
        else if (byDesign.get(name).contains(flagged)) "ok/2x"
        else "MULTI"
      println(f"[$mark%-5s] $name%-28s " + perTable.toSeq.sorted
        .map { case (t, n) => s"$t=$n" }.mkString(" "))
    }
    spark.stop()
  }
}
