package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.WordCount
import graft.operators.Dedup.{freshSql, isFresh, isPrior}
import graft.sources.Tables

/** Structured Streaming surface: the reference's pipeline-parallel
  * "streaming" (reader→mapper queues, `omp.cpp:13,73-109`) re-expressed
  * as real event/file streams. Batch and streaming share the same
  * transform code, so every streaming query is correctness-checked
  * against the batch oracle by running the stream to completion into a
  * memory sink (`processAllAvailable`) and returning the materialized
  * table.
  *
  * At scale these run with file-source triggers + checkpointing; the
  * memory sink is the local-test harness, not the production sink. */
object Streaming {

  private val counter = new AtomicInteger(0)

  /** Run a streaming DataFrame to completion into a memory table. */
  private def runToMemory(sdf: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val q = sdf.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    sdf.sparkSession.table(name)
  }

  /** The synthetic in-window event time the TTL forms run on, since
    * documents carry none: a fixed epoch second plus `pmod(doc_id, 3600)`,
    * so every row of a table lands inside one hour (the keep path, not
    * eviction churn) and bounded replays equal the batch oracle. */
  private[graft] def withInWindowTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600))))

  /** `(prior, fresh)` of the documents table: the prior snapshot as a
    * batch frame, the fresh delta as a stream — what every warm-started
    * streaming twin of an incremental batch query reads. */
  private def priorAndFreshStream(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    (Tables.documents(spark, sfDir).filter(isPrior(col("doc_id"))),
      Tables.stream(spark, sfDir, "documents").filter(isFresh(col("doc_id"))))

  /** Hourly windowed event aggregation as a stream — same semantics as
    * the batch q14, same DuckDB oracle. Uses a real event-time window
    * with watermark (no-op for a bounded replay, load-bearing for an
    * unbounded source). */
  def streamEventsHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = Tables.eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .select($"w.start".as("hour"), $"event_type", $"n", $"total_value")
    runToMemory(agg, "complete").orderBy($"hour", $"event_type")
  }

  /** Streaming word count over the documents table — the reference query
    * in `Complete` output mode (running totals per word), checked against
    * the batch oracle. */
  def streamWordCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.stream(spark, sfDir, "documents")
    val counts = WordCount.counts(WordCount.tokenize(docs, "text"))
    runToMemory(counts, "complete").orderBy($"word")
  }

  /** Custom streaming state via `mapGroupsWithState`: per-user running
    * totals (the `KeyValueGroupedDataset` stateful path). The memory sink
    * in update mode receives one row per (user, batch); the final
    * projection keeps the row with the highest running count — a no-op
    * for a single-batch bounded replay, correct under multi-batch
    * triggers too (counts are monotone). */
  def streamUserTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val ds = Tables.eventsStream(spark, sfDir)
      .select($"user_id", $"value").as[(Long, Double)]
    val updated = ds.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) { (uid, events, state) =>
          var (n, tot) = state.getOption.getOrElse((0L, 0.0))
          events.foreach { e => n += 1; tot += e._2 }
          state.update((n, tot))
          (uid, n, tot)
        }
      .toDF("user_id", "n", "total")
    val all = runToMemory(updated, "update")
    all.groupBy($"user_id")
      .agg(max(struct($"n", $"total")).as("s"))
      .select($"user_id", $"s.n".as("n_events"),
        round($"s.total", 2).as("total_value"))
      .orderBy($"user_id")
  }

  /** `flatMapGroupsWithState` (0-or-more outputs per group per batch):
    * emit a row only for users whose cumulative event count has reached
    * the activity threshold — order-insensitive state (count/sum only),
    * so the result is deterministic under any partitioning. Re-emits on
    * later batches update the memory sink; the final projection keeps
    * the max-count row per user (monotone, same pattern as user totals). */
  def streamActiveUsers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val threshold = 80L
    val ds = Tables.eventsStream(spark, sfDir)
      .select($"user_id", $"value").as[(Long, Double)]
    val updated = ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, events, state) =>
          var (n, tot) = state.getOption.getOrElse((0L, 0.0))
          events.foreach { e => n += 1; tot += e._2 }
          state.update((n, tot))
          if (n >= threshold) Iterator((uid, n, tot)) else Iterator.empty
        }
      .toDF("user_id", "n", "total")
    val all = runToMemory(updated, "append")
    all.groupBy($"user_id")
      .agg(max(struct($"n", $"total")).as("s"))
      .select($"user_id", $"s.n".as("n_events"),
        round($"s.total", 2).as("total_value"))
      .orderBy($"user_id")
  }

  /** Stream-stream event-time interval join: every click paired with the
    * same user's purchases within the following 30 minutes. Both sides
    * carry watermarks, so the state store evicts rows once event time
    * passes the join window — the property that makes a stream-stream
    * join runnable indefinitely (state is bounded by watermark lag ×
    * rate, not by stream length). The join condition stays on TIMESTAMP
    * columns (not pre-extracted longs) because that is what Spark's
    * watermark analysis uses to derive the eviction bound; parity with
    * the DuckDB oracle is exact since both engines floor the parquet
    * NANOS timestamps to identical microseconds. Inner-join matches emit
    * immediately (watermarks gate state cleanup, not emission), so a
    * bounded replay yields the complete batch-equivalent result. */
  def streamClickPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val clicks = Tables.eventsStream(spark, sfDir)
      .filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("ts_a"))
      .withWatermark("ts_a", "1 hour")
    val purchases = Tables.eventsStream(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
        $"ts".as("ts_b"))
      .withWatermark("ts_b", "1 hour")
    val joined = clicks.join(purchases,
      $"user_id" === $"p_user" && $"ts_b" >= $"ts_a" &&
        $"ts_b" <= $"ts_a" + expr("interval 30 minutes"))
    runToMemory(joined, "append")
      .select($"user_id", $"click_id", $"purchase_id",
        (unix_micros($"ts_b") - unix_micros($"ts_a")).as("gap_us"))
      .orderBy($"user_id", $"click_id", $"purchase_id")
  }

  /** The production streaming shape the memory-sink harness can't show:
    * file source → parquet file SINK with a real checkpoint, run to
    * completion, stopped, then RESTARTED from the same checkpoint. The
    * resumed query finds its offsets committed and processes nothing;
    * the returned counts aggregate the sink files, so the oracle hash
    * also proves exactly-once across the restart — any reprocessing
    * would double every count. (Incremental resume over NEW files is
    * separately proven in CheckpointResumeSpec with `_metadata`
    * provenance.) File sinks are append-only, so the raw token stream
    * goes to the sink and the aggregation runs batch-side over it. */
  def streamWcFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt_").toString
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    def runOnce(): Unit = {
      val docs = Tables.stream(spark, sfDir, "documents")
      val q = WordCount.tokenize(docs, "text").writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // initial run: drains the source into the sink
    runOnce() // restart from checkpoint: must be a committed no-op
    WordCount.counts(spark.read.parquet(outDir)).orderBy($"word")
  }

  /** Streaming INGESTION dedup — the "drop documents we've already seen"
    * step of a continuously-fed training-data pipeline, as cross-batch
    * state: documents stream in, are keyed by content hash
    * (`flatMapGroupsWithState`), and each batch a group appears in emits
    * the group's running (min doc_id, count). Emissions are monotone
    * (min only decreases, count only increases), so the final projection
    * — min(keep_id), max(n_dups) per hash — is deterministic under ANY
    * batch split of the source, and equals the batch `dedup_exact`
    * result exactly: the same oracle hash checks both. State per key is
    * two longs; at scale eviction would ride a TTL timeout (dup arrivals
    * are temporally clustered) or an external Bloom/KV tier — the
    * bounded-replay harness needs neither. Cross-batch suppression is
    * separately proven in StreamingSpec by feeding a duplicate in a
    * LATER batch and watching it fold into the first batch's group. */
  def streamDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.stream(spark, sfDir, "documents")
    runDedupStream(docs).orderBy($"h")
  }

  /** The transform of [[streamDedupExact]] on any streaming documents
    * frame (spec entry point: multi-batch file feeds). */
  private[graft] def runDedupStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ds = docs.select(md5($"text").as("h"), $"doc_id").as[(String, Long)]
    val updated = ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (h, rows, state) =>
          var (minId, n) = state.getOption.getOrElse((Long.MaxValue, 0L))
          rows.foreach { r => if (r._2 < minId) minId = r._2; n += 1 }
          state.update((minId, n))
          Iterator((h, minId, n))
        }
      .toDF("h", "keep_id", "n_dups")
    runToMemory(updated, "append")
      .groupBy($"h")
      .agg(min($"keep_id").as("keep_id"), max($"n_dups").as("n_dups"))
  }

  /** [[runDedupStream]] with BOUNDED state — the shape an UNBOUNDED
    * ingestion stream actually runs, where "remember every hash
    * forever" is not an option. Each content-hash group keeps
    * (min doc_id, count) and arms an EVENT-TIME timeout `ttl` past its
    * newest arrival; when the source watermark passes that mark the
    * state is dropped (the timeout invocation emits nothing — the
    * group's rows were already emitted). State is O(hashes active in
    * the last `ttl` of event time), not O(history).
    *
    * Accuracy contract: duplicates whose arrivals land within `ttl` of
    * each other — the overwhelmingly common case (re-crawls, retry
    * storms, mirrored uploads are temporally clustered) — dedup exactly
    * as in the unbounded form. A key recurring AFTER eviction starts a
    * fresh epoch: keep_id stays exact (min over epochs, monotone under
    * the final fold), n_dups degrades to the max per-epoch count — the
    * documented trade for bounded state. EVENT-time (not
    * processing-time) timeout keeps eviction deterministic: it advances
    * with the data's own watermark, which is why StreamingSpec can
    * drive eviction precisely with three file batches. Watermark delay
    * = `ttl` also guarantees the Spark timeout-validity invariant
    * (any non-late row has ts ≥ watermark ⇒ ts + ttl > watermark).
    *
    * The eviction deadline is MONOTONE per key: state carries the max
    * event time seen across ALL batches and the timeout is re-armed
    * from that, not from the current batch's max — a later micro-batch
    * carrying older (non-late) rows for a key must not pull the
    * deadline backwards and evict duplicates that are within `ttl` of
    * the key's newest arrival (StreamingSpec pins this with an
    * out-of-order four-batch feed). */
  private[graft] def runDedupStreamTTL(docs: DataFrame, ttl: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ds = docs.select(md5($"text").as("h"), $"doc_id", $"ts")
      .withWatermark("ts", ttl)
      .as[(String, Long, java.sql.Timestamp)]
    val updated = ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (h, rows, state) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed newest arrival + ttl: evict
            Iterator.empty
          } else {
            // state = (min doc_id, count, max event-time ms EVER seen);
            // the third field keeps the timeout deadline monotone
            var (minId, n, maxTs) =
              state.getOption.getOrElse((Long.MaxValue, 0L, Long.MinValue))
            rows.foreach { r =>
              if (r._2 < minId) minId = r._2
              n += 1
              val t = r._3.getTime
              if (t > maxTs) maxTs = t
            }
            state.update((minId, n, maxTs))
            state.setTimeoutTimestamp(maxTs, ttl)
            Iterator((h, minId, n))
          }
        }
      .toDF("h", "keep_id", "n_dups")
    runToMemory(updated, "append")
      .groupBy($"h")
      .agg(min($"keep_id").as("keep_id"), max($"n_dups").as("n_dups"))
  }

  /** [[streamDedupExact]] through the bounded-state TTL path. The
    * driver feed is one parquet file = one micro-batch with all ts
    * inside the TTL window, so no eviction fires and the result equals
    * batch `dedup_exact` exactly (same oracle); the eviction behavior
    * itself is pinned by StreamingSpec's three-batch test. */
  def streamDedupExactTTL(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = withInWindowTs(Tables.stream(spark, sfDir, "documents"))
    runDedupStreamTTL(docs, "1 hour").orderBy($"h")
  }

  /** Streaming NEAR-dup ingestion dedup — the approximate twin of
    * [[streamDedupExact]], and the step a continuously-fed pipeline
    * needs that exact hashing can't give it: a re-crawl with a few
    * words changed must still match the document already ingested.
    * Candidate generation is the SAME banded MinHash structure as the
    * batch `dedup_minhash_lsh` (fused ShingleXxh64 → MinHashBandHashes,
    * 16 bands), with the band equi-join replaced by KEYED STATE: each
    * arriving document explodes into its 16 (band, band-hash) keys, per
    * key the state holds the (doc_id, sorted shingle-hash set) of every
    * resident, and each arrival is exact-Jaccard verified (zero-alloc
    * merge walk) against the bucket's residents before joining them.
    * Pairs found in several bands dedup in the final projection; the
    * emitted jaccard is identical in every band, so max() is a no-op
    * fold, exactly like the exact twin's min/max.
    *
    * A single-batch feed therefore equals the batch result and shares
    * its UNCAPPED exact-Jaccard oracle — a genuine recall check;
    * cross-batch detection (a near-dup of an EARLIER batch's document
    * still pairs with it) is pinned in StreamingSpec with a two-batch
    * feed. State is O(residents in window × set size) per bucket — the
    * honest cost of near-dup (vs two longs for exact) — and the
    * production form bounds it with the same EventTimeTimeout TTL as
    * [[runDedupStreamTTL]]; the bounded-replay harness needs neither
    * timeout nor watermark (NoTimeout, same as [[runDedupStream]]). */
  /** The per-band-cell banding projection shared by every stateful
    * near-dup form: (band-cell key, doc_id, sorted shingle hashes). */
  private def bandCells(docs: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Array[Long])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter($"doc_id".isNotNull) // same null discipline as the batch twin
      .select($"doc_id", graft.functions.ShingleXxh64($"text").as("hv"))
      .filter(size($"hv") > 0)
      .select($"doc_id", $"hv",
        posexplode(graft.functions.MinHashBandHashes($"hv")).as(Seq("band", "bh")))
      // one state key per band cell; band index folded into the key
      .select(concat_ws(":", $"band", $"bh").as("k"), $"doc_id", $"hv")
      .as[(String, Long, Array[Long])]
  }

  /** The band-cell state machine shared by [[runNearDupStream]] and the
    * warm-start form: verify each arrival against the cell's residents,
    * then admit it. */
  private val nearDupCell: (String, Iterator[(String, Long, Array[Long])],
      org.apache.spark.sql.streaming.GroupState[Seq[(Long, Array[Long])]])
      => Iterator[(Long, Long, Double)] = { (_, rows, state) =>
    // ArrayBuffer, not `seen :+ x` on the state Seq: a hot band
    // cell holds many residents, and an immutable append per
    // arrival is O(n²) copying per invocation — the allocation
    // pattern the bench box punishes
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
    state.getOption.foreach(seen ++= _)
    val out = Seq.newBuilder[(Long, Long, Double)]
    // doc_id order within the batch: the pair SET is order-
    // independent (the later-processed side always sees the
    // earlier one in `seen`), the sort just makes replay logs
    // deterministic
    rows.toSeq.sortBy(_._2).foreach { case (_, id, hv) =>
      seen.foreach { case (oid, ohv) =>
        if (oid != id) {
          val j = graft.functions.SetJaccardImpl.jaccardSortedArrays(hv, ohv)
          if (j >= graft.operators.Dedup.JaccardThreshold)
            out += ((math.min(id, oid), math.max(id, oid), j))
        }
      }
      seen += ((id, hv))
    }
    state.update(seen.toSeq)
    out.result().iterator
  }

  private[graft] def runNearDupStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val pairs = bandCells(docs).groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Array[Long])], (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(nearDupCell)
      .toDF("doc_a", "doc_b", "jacc")
    runToMemory(pairs, "append")
      .groupBy($"doc_a", $"doc_b")
      .agg(round(max($"jacc"), 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[runNearDupStream]] over the documents table — the driver feed is
    * one file = one micro-batch, so the result equals batch
    * `dedup_minhash_lsh` and shares its exact-Jaccard oracle. */
  def streamDedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.stream(spark, sfDir, "documents")
    runNearDupStream(docs)
  }

  /** Warm-start incremental near-dup: the PRIOR corpus's band index is
    * computed in batch and handed to the stateful operator as INITIAL
    * STATE (the `flatMapGroupsWithState` initialState API), then only
    * the fresh delta streams through the same [[nearDupCell]] machine —
    * the production restart shape: a long-lived dedup stream is
    * re-deployed against an existing corpus without replaying 100 TB
    * through the stream, because the state is bootstrapped from the
    * batch-maintained index. Prior residents never pair with each other
    * (initial-state-only cells are never invoked), so emissions are
    * exactly the pairs with ≥ 1 fresh member: fresh × prior (the
    * incremental probe) PLUS fresh × earlier-fresh (delta-internal) —
    * the full incremental-dedup semantics, vs the cross-snapshot-only
    * batch [[graft.operators.Dedup.dedupMinHashIncremental]]. Oracle:
    * exact-Jaccard pairs restricted to ≥ 1 fresh member. At scale the
    * initial-state load is a bucketed read of the index artifact, and
    * per-batch cost is delta-sized — state is the same O(residents ×
    * set size) as the unbounded form, bounded in production by the TTL
    * twin's eviction. */
  def streamDedupMinhashWarmstart(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val (prior, delta) = priorAndFreshStream(spark, sfDir)
    val initial = bandCells(prior).groupByKey(_._1)
      // residents sorted by doc_id: the pair set is order-independent,
      // the sort just makes the bootstrapped state deterministic
      .mapGroups((k, it) => (k, it.map(t => (t._2, t._3)).toSeq.sortBy(_._1)))
      .groupByKey(_._1).mapValues(_._2)
    val pairs = bandCells(delta).groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Array[Long])], (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial)(nearDupCell)
      .toDF("doc_a", "doc_b", "jacc")
    runToMemory(pairs, "append")
      .groupBy($"doc_a", $"doc_b")
      .agg(round(max($"jacc"), 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[runNearDupStream]] with BOUNDED state — the near-dup twin of
    * [[runDedupStreamTTL]], and the form an unbounded feed actually
    * runs. Residents are evicted PER-RESIDENT at the event-time
    * watermark: a resident whose `ts + ttl` has fallen behind the
    * watermark can never pair again (every future non-late arrival has
    * `ts ≥ watermark`, so the gap would exceed `ttl`) and is dropped at
    * the next invocation of its cell; a wholly idle cell is cleared by
    * the same monotone `EventTimeTimeout` deadline as the exact path
    * (armed from the max event time ever seen). State per cell is
    * O(residents in the last `ttl` of event time × set size).
    *
    * Accuracy contract, same trade as the exact TTL path: near-dups
    * whose arrivals land within `ttl` of each other pair exactly as in
    * the unbounded form (eviction only removes residents no non-late
    * arrival can be within `ttl` of); a re-crawl arriving after its
    * original's eviction starts a fresh epoch and reports no pair —
    * the documented cost of bounded state. Watermark delay = `ttl`
    * keeps the timeout-validity invariant, as in [[runDedupStreamTTL]]. */
  /** The timestamp-carrying banding projection shared by the TTL state
    * machines and the TTL warm-start bootstrap: (band-cell key, doc_id,
    * sorted shingle hashes, event time). Watermarking (stream side) is
    * the caller's job — the bootstrap side is a batch frame. */
  private def bandCellsTs(docs: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Long, Array[Long], java.sql.Timestamp)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter($"doc_id".isNotNull) // same null discipline as the batch twin
      .select($"doc_id", $"ts", graft.functions.ShingleXxh64($"text").as("hv"))
      .filter(size($"hv") > 0)
      .select($"doc_id", $"ts", $"hv",
        posexplode(graft.functions.MinHashBandHashes($"hv")).as(Seq("band", "bh")))
      .select(concat_ws(":", $"band", $"bh").as("k"), $"doc_id", $"hv", $"ts")
      .as[(String, Long, Array[Long], java.sql.Timestamp)]
  }

  /** The bounded-state band-cell machine shared by [[runNearDupStreamTTL]]
    * and its warm-start form (state: residents + newest event time). */
  private def nearDupCellTTL(ttlMs: Long): (String,
      Iterator[(String, Long, Array[Long], java.sql.Timestamp)],
      org.apache.spark.sql.streaming.GroupState[(Seq[(Long, Array[Long], Long)], Long)])
      => Iterator[(Long, Long, Double)] = { (_, rows, state) =>
    if (state.hasTimedOut) {
      state.remove() // cell idle for ttl past its newest arrival
      Iterator.empty
    } else {
      val wm = state.getCurrentWatermarkMs()
      var (prev, maxTs) = state.getOption.getOrElse((Seq.empty, Long.MinValue))
      // per-resident eviction: ts + ttl behind the watermark ⇒
      // unpairable with any future non-late arrival. ArrayBuffer
      // for amortized-O(1) appends (see runNearDupStream).
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long)]
      prev.foreach { r => if (r._3 + ttlMs >= wm) seen += r }
      val out = Seq.newBuilder[(Long, Long, Double)]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, hv, ts) =>
        val t = ts.getTime
        seen.foreach { case (oid, ohv, _) =>
          if (oid != id) {
            val j = graft.functions.SetJaccardImpl.jaccardSortedArrays(hv, ohv)
            if (j >= graft.operators.Dedup.JaccardThreshold)
              out += ((math.min(id, oid), math.max(id, oid), j))
          }
        }
        seen += ((id, hv, t))
        if (t > maxTs) maxTs = t
      }
      state.update((seen.toSeq, maxTs))
      state.setTimeoutTimestamp(maxTs, s"$ttlMs milliseconds")
      out.result().iterator
    }
  }

  private[graft] def runNearDupStreamTTL(docs: DataFrame, ttlMs: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val banded = bandCellsTs(docs.withWatermark("ts", s"$ttlMs milliseconds"))
    val pairs = banded.groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, Array[Long], Long)], Long), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(nearDupCellTTL(ttlMs))
      .toDF("doc_a", "doc_b", "jacc")
    runToMemory(pairs, "append")
      .groupBy($"doc_a", $"doc_b")
      .agg(round(max($"jacc"), 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[streamDedupMinhash]] through the bounded-state TTL path, same
    * synthetic in-window timestamps as [[streamDedupExactTTL]]: one
    * file = one micro-batch with every ts inside the TTL window (and a
    * first-batch watermark of zero), so no eviction fires and the
    * result equals the batch pair search — same exact-Jaccard oracle;
    * the eviction behavior itself is pinned by StreamingSpec's
    * three-family multi-batch test. */
  def streamDedupMinhashTTL(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = withInWindowTs(Tables.stream(spark, sfDir, "documents"))
    runNearDupStreamTTL(docs, 3600L * 1000)
  }

  /** The production restart shape with BOUNDED state — the composition
    * round 10 left open: [[streamDedupMinhashWarmstart]]'s initial-state
    * bootstrap on top of [[runNearDupStreamTTL]]'s per-resident
    * event-time eviction, so a re-deployed dedup stream neither replays
    * the corpus NOR holds it forever. Bootstrapped residents carry
    * their event times into the state, and the SAME eviction applies to
    * them as to streamed arrivals: once the watermark passes a prior
    * resident's `ts + ttl` it is dropped at its cell's next invocation
    * (pinned by StreamingSpec — a delta re-crawl of an aged-out prior
    * resident reports NO pair, where the NoTimeout warm-start would
    * pair them). Two honest bounds on the eviction: a bootstrapped cell
    * that never receives an arrival is only reclaimed once its first
    * arrival (or its armed deadline, for cells touched at least once)
    * fires — at scale the bootstrap read itself therefore filters the
    * index artifact to `ts ≥ restart − ttl` (one scan predicate), which
    * also keeps the initial state TTL-consistent from batch zero. */
  private[graft] def runNearDupStreamWarmstartTTL(
      delta: DataFrame, prior: DataFrame, ttlMs: Long): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val initial = bandCellsTs(prior)
      .groupByKey(_._1)
      // residents sorted by doc_id (determinism, as in the NoTimeout
      // form); the cell's newest event time seeds the deadline base
      .mapGroups { (k, it) =>
        val rs = it.map(t => (t._2, t._3, t._4.getTime)).toSeq.sortBy(_._1)
        (k, (rs, rs.iterator.map(_._3).max))
      }
      .groupByKey(_._1).mapValues(_._2)
    val banded = bandCellsTs(delta.withWatermark("ts", s"$ttlMs milliseconds"))
    val pairs = banded.groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, Array[Long], Long)], Long), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout, initial)(nearDupCellTTL(ttlMs))
      .toDF("doc_a", "doc_b", "jacc")
    runToMemory(pairs, "append")
      .groupBy($"doc_a", $"doc_b")
      .agg(round(max($"jacc"), 3).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[runNearDupStreamWarmstartTTL]] over the snapshot-split documents
    * table, same synthetic in-window timestamps as
    * [[streamDedupMinhashTTL]]: prior slice bootstraps state with its
    * event times, delta streams through, every ts lands inside the TTL
    * window so no eviction fires and the result equals the NoTimeout
    * warm-start — same pairs-with-a-fresh-member oracle; the eviction
    * of bootstrapped residents is pinned by StreamingSpec. */
  def streamDedupMinhashWarmstartTTL(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, delta) = priorAndFreshStream(spark, sfDir)
    runNearDupStreamWarmstartTTL(withInWindowTs(delta), withInWindowTs(prior), 3600L * 1000)
  }

  /** STREAMING chunk-level NEAR-dup — [[runNearDupStreamTTL]] keyed on
    * the packed (doc_id, chunk_idx) over the chunk fan-out, closing the
    * lambda split's last gap: near-dup detection AT SAMPLE GRANULARITY
    * on the ingest side, not just in the batch sweep. Each chunk
    * inherits its document's event time through the fan-out
    * (Curation.chunksCarrying), so per-resident TTL eviction and the
    * monotone cell deadline apply to chunks exactly as to documents;
    * state is O(chunk residents per band cell in the TTL window).
    * The guarded packed key (Curation.packedChunkKey) makes the band
    * state machine see chunks as ordinary documents — same engine, no
    * new state shape — and the output unpacks per-side (doc, idx).
    *
    * The driver feed is one file = one micro-batch with in-window
    * synthetic timestamps (no eviction fires), so the result is the
    * full cross-chunk pair search and the oracle is the UNCAPPED
    * exact-Jaccard pair SQL over the packed chunk CTE
    * (Curation.chunkExactJaccardSql) — a genuine recall check at
    * sample granularity; cross-batch pairing and eviction are pinned
    * by StreamingSpec's multi-batch chunk test. */
  def streamDedupChunksNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = withInWindowTs(Tables.stream(spark, sfDir, "documents"))
    runDedupChunksStreamTTL(docs, 3600L * 1000)
  }

  /** The transform of [[streamDedupChunksNgram]] on any streaming
    * (doc_id, text, ts) frame (spec entry point: plantable multi-batch
    * chunk feeds). */
  private[graft] def runDedupChunksStreamTTL(docs: DataFrame, ttlMs: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Curation
    val chunks = Curation.chunksCarrying(docs.filter($"doc_id".isNotNull), "ts")
      .select(Curation.packedChunkKey("runDedupChunksStreamTTL").as("doc_id"),
        $"chunk_text".as("text"), $"ts")
    Curation.unpackChunkPairs(runNearDupStreamTTL(chunks, ttlMs))
  }

  /** STREAMING curation-to-samples — the ingestion-side twin of the
    * batch `cur_pipeline_samples`: documents stream in, are redacted
    * and quality-gated (per-row map work, identical expressions to the
    * batch pipeline), fan out into overlapping token chunks, and pass
    * through CROSS-BATCH chunk-level exact dedup — `runDedupStream`'s
    * monotone-emission design keyed on the chunk hash, with the keep
    * key the lexicographic (doc_id, chunk_idx) min and the chunk text
    * riding along (identical for every row of a hash group, so the
    * final min-fold is deterministic under ANY batch split). Document
    * near-dup REMOVAL is deliberately absent: the pair search needs a
    * corpus-wide index and belongs to the batch/compaction tier — this
    * is the standard lambda split (streaming exact dedup at ingest,
    * periodic batch near-dup sweep), and the oracle mirrors exactly
    * these stages.
    *
    * At scale the emitted rows append to the training-sample sink;
    * state is one (minDoc, minIdx, text, n_tokens) keep row per
    * distinct chunk hash — UNBOUNDED over an infinite feed, which is
    * why the production form is [[runPipelineSamplesStreamTTL]]: the
    * same pipeline with [[runDedupStreamTTL]]'s event-time TTL
    * eviction composed into the chunk-hash state. This unbounded form
    * is the bounded-replay harness (NoTimeout, no watermark), exactly
    * like [[runDedupStream]] next to its TTL twin. */
  private[graft] def runPipelineSamplesStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.operators.{Curation, TextAnalysis}
    val red = docs
      .filter($"doc_id".isNotNull) // same null discipline as the batch twin
      .select($"doc_id", TextAnalysis.redactedCol($"text").as("text"))
    val good = red.filter(TextAnalysis.qualityScore($"text") >= Curation.QualityCut)
    // the ONE chunk-arithmetic definition, shared with every batch path
    // (streams cannot take chunksOf's trailing sort)
    val chunks = Curation.chunksUnordered(good)
    val keyed = chunks
      .select(md5($"chunk_text").as("h"), $"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")
      .as[(String, Long, Int, String, Long)]
    val updated = keyed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Int, String, Long), (String, Long, Int, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (h, rows, state) =>
          // state = the running lexicographic (doc_id, chunk_idx) min
          // WITH its row's text/n_tokens riding along: the emission must
          // be the keep-key row itself (the batch semi-join emits that
          // row), not whichever row happened to fold last — under an md5
          // collision the two could differ. Emissions are monotone, so
          // the final min-fold equals the batch keep-first under any
          // batch split (see runDedupStream)
          var (minDoc, minIdx, text, n) =
            state.getOption.getOrElse((Long.MaxValue, Int.MaxValue, null: String, 0L))
          rows.foreach { r =>
            if (r._2 < minDoc || (r._2 == minDoc && r._3 < minIdx)) {
              minDoc = r._2; minIdx = r._3; text = r._4; n = r._5
            }
          }
          state.update((minDoc, minIdx, text, n))
          Iterator((h, minDoc, minIdx, text, n))
        }
      .toDF("h", "doc_id", "chunk_idx", "chunk_text", "n_tokens")
    foldSamples(runToMemory(updated, "append"))
  }

  /** The final keep-row fold shared by both samples streams: latest
    * emissions are monotone per hash (the min key only improves), so
    * min-struct over ALL emissions = the batch keep-first result. */
  private def foldSamples(emitted: DataFrame): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    emitted
      .groupBy($"h")
      .agg(min(struct($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")).as("k"))
      .select($"k.doc_id".as("doc_id"), $"k.chunk_idx".as("chunk_idx"),
        $"k.chunk_text".as("chunk_text"), $"k.n_tokens".as("n_tokens"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** STREAMING training-shard assignment — the trainer hand-off AT
    * INGEST (r16 VERDICT #7), hop 2 of the lambda: the sample sink
    * stream (fed here by [[streamPipelineSamples]]'s completed output
    * replayed as a single-batch feed) flows through ONE stateful fold
    * whose state is the RUNNING TOKEN OFFSET; each arriving sample
    * gets shard = offset / budget, offset += n_tokens — per-sample
    * MONOTONE, size-bounded shard ids with no prefix-sum pass and no
    * global sort. Within a batch the fold orders arrivals by
    * (doc_id, chunk_idx), so a single-batch feed reproduces the batch
    * assignment EXACTLY (the oracle: the shard window over the
    * streamed stages' sample set); across batches ids follow arrival
    * order — still monotone, still budget-bounded — and the batch
    * rebuild (`cur_shard_assign`) stays authoritative for the
    * deterministic global order, the same lambda split that keeps
    * near-dup removal in the batch tier.
    *
    * Scale: the fold is a SINGLE state group because a running offset
    * is inherently sequential (every id depends on the total before
    * it) — but it folds sample metadata (two ids + a count), never
    * text (pruned before the fold, rejoined after by key), and a
    * production ingest splits it per input partition exactly like the
    * batch two-pass. */
  def streamShardAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // hop 1: the (separately oracle-checked) streaming samples pipeline
    val samples = streamPipelineSamples(spark, sfDir)
      .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens")
      .as[(Long, Int, String, Long)].collect()
    // hop 2: replay the sample sink as a single-batch feed; the fold
    // sees METADATA only — the chunk text stays out of the state store
    implicit val sqlCtx = spark.sqlContext
    val feed = MemoryStream[(Long, Int, Long)]
    feed.addData(samples.map(s => (s._1, s._2, s._4)).toSeq)
    val folded = runToMemory(shardFoldStream(feed.toDS()), "append")
    // rejoin the text by (doc_id, chunk_idx) — the sink-side hydration
    val texts = samples.toSeq.toDF("doc_id", "chunk_idx", "chunk_text", "n_tokens")
      .select($"doc_id", $"chunk_idx", $"chunk_text")
    folded.join(texts, Seq("doc_id", "chunk_idx"))
      .select($"doc_id", $"chunk_idx", $"chunk_text", $"n_tokens", $"shard")
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** The running-token-offset shard fold over any streaming
    * (doc_id, chunk_idx, n_tokens) feed (spec entry point: multi-batch
    * monotonicity). In-batch order is (doc_id, chunk_idx); the offset
    * carries across batches in the single state group. */
  private[graft] def shardFoldStream(
      feed: org.apache.spark.sql.Dataset[(Long, Int, Long)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = feed.sparkSession
    import spark.implicits._
    feed.groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, (Long, Int, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, rows, state) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._1, r._2)).map { r =>
            val shard = off / graft.operators.Curation.ShardBudget
            off += r._3
            (r._1, r._2, r._3, shard)
          }
          state.update(off)
          out.iterator
        }
      .toDF("doc_id", "chunk_idx", "n_tokens", "shard")
  }

  /** [[runPipelineSamplesStream]] over the documents table. */
  def streamPipelineSamples(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.stream(spark, sfDir, "documents")
    runPipelineSamplesStream(docs)
  }

  /** [[runPipelineSamplesStream]] with BOUNDED state — the form the
    * flagship ingest pipeline actually runs on an unbounded feed:
    * [[runDedupStreamTTL]]'s event-time TTL eviction composed into the
    * chunk-hash keep state. Each chunk inherits its DOCUMENT's event
    * time (carried through the fan-out by Curation.chunksCarrying);
    * per chunk-hash group the state keeps the keep row plus the max
    * event time ever seen, the timeout deadline is armed from that max
    * (MONOTONE — same out-of-order discipline as the exact TTL path),
    * and a group whose watermark passes `newest arrival + ttl` is
    * dropped. State is O(distinct chunk hashes in the last `ttl` of
    * event time), not O(history).
    *
    * Accuracy contract, same trade as [[runDedupStreamTTL]]: chunk
    * duplicates arriving within `ttl` of each other dedup exactly as
    * in the unbounded form; a chunk hash recurring AFTER eviction
    * starts a fresh epoch and re-emits — the final min-fold still
    * yields the overall minimum keep key ACROSS epochs (min over
    * epochs is monotone under the fold), so in the bounded-replay
    * harness the result stays byte-equal to the batch pipeline; on a
    * truly unbounded feed the re-emission is the documented cost of
    * bounded state (an append sink would carry the late duplicate).
    * Watermark delay = `ttl` keeps the timeout-validity invariant. */
  private[graft] def runPipelineSamplesStreamTTL(docs: DataFrame, ttl: String): DataFrame =
    foldSamples(pipelineSamplesTTLEmissions(docs, ttl))

  /** The PRE-FOLD emission stream of [[runPipelineSamplesStreamTTL]],
    * exposed so StreamingSpec can pin eviction directly: an emission's
    * keep doc_id reveals whether the group's state survived (folded
    * min) or was evicted (fresh epoch re-keys to the new arrival) —
    * the final fold masks exactly this distinction. */
  private[graft] def pipelineSamplesTTLEmissions(docs: DataFrame, ttl: String): DataFrame =
    runToMemory(pipelineSamplesTTLTransform(docs, ttl), "append")

  /** The raw STREAMING emission frame of the TTL samples pipeline (no
    * sink attached) — the seam [[pipelineSamplesTTLEmissions]] runs to
    * memory for the correctness harness and BenchStream writes to a
    * checkpointed parquet file sink for the honest ingest-tier
    * measurement (the memory sink measures the rig, not the pipeline). */
  /** Sentinel keep-doc marking a chunk-hash group as PRIOR-OWNED in the
    * warm-start form: the chunk's content already exists in the prior
    * snapshot, so fresh arrivals are suppressed, never re-emitted. Real
    * doc_ids are nonnegative, so the sentinel cannot collide. In the
    * cold-start TTL pipeline no state ever carries it (there is no
    * initial state), so the branch is dead there by construction. */
  private final val PriorOwnedDoc = -1L

  /** The bounded-state chunk keep-first machine shared by
    * [[pipelineSamplesTTLTransform]] and its warm-start form (state:
    * keep row (minDoc, minIdx, text, n) + max event-time ms EVER seen —
    * the last field keeps the eviction deadline monotone). */
  private def samplesKeepCellTTL(ttl: String): (String,
      Iterator[(String, Long, Int, String, Long, java.sql.Timestamp)],
      org.apache.spark.sql.streaming.GroupState[(Long, Int, String, Long, Long)])
      => Iterator[(String, Long, Int, String, Long)] = { (h, rows, state) =>
    if (state.hasTimedOut) {
      state.remove() // watermark passed newest arrival + ttl: evict
      Iterator.empty
    } else {
      var (minDoc, minIdx, text, n, maxTs) = state.getOption
        .getOrElse((Long.MaxValue, Int.MaxValue, null: String, 0L, Long.MinValue))
      if (minDoc == PriorOwnedDoc) {
        // prior-owned group: consume arrivals (refreshing the deadline
        // so an actively re-crawled chunk stays suppressed), emit nothing
        rows.foreach { r =>
          val t = r._6.getTime
          if (t > maxTs) maxTs = t
        }
        state.update((PriorOwnedDoc, 0, null, 0L, maxTs))
        state.setTimeoutTimestamp(maxTs, ttl)
        Iterator.empty
      } else {
        rows.foreach { r =>
          if (r._2 < minDoc || (r._2 == minDoc && r._3 < minIdx)) {
            minDoc = r._2; minIdx = r._3; text = r._4; n = r._5
          }
          val t = r._6.getTime
          if (t > maxTs) maxTs = t
        }
        state.update((minDoc, minIdx, text, n, maxTs))
        state.setTimeoutTimestamp(maxTs, ttl)
        Iterator((h, minDoc, minIdx, text, n))
      }
    }
  }

  private[graft] def pipelineSamplesTTLTransform(docs: DataFrame, ttl: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.operators.{Curation, TextAnalysis}
    val red = docs
      .filter($"doc_id".isNotNull)
      .withWatermark("ts", ttl)
      .select($"doc_id", $"ts", TextAnalysis.redactedCol($"text").as("text"))
    val good = red.filter(TextAnalysis.qualityScore($"text") >= Curation.QualityCut)
    val chunks = Curation.chunksCarrying(good, "ts")
    val keyed = chunks
      .select(md5($"chunk_text").as("h"), $"doc_id", $"chunk_idx",
        $"chunk_text", $"n_tokens", $"ts")
      .as[(String, Long, Int, String, Long, java.sql.Timestamp)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Int, String, Long, Long), (String, Long, Int, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(samplesKeepCellTTL(ttl))
      .toDF("h", "doc_id", "chunk_idx", "chunk_text", "n_tokens")
  }

  /** WARM-START samples pipeline with BOUNDED state — the ingest-tier
    * twin of the batch `cur_pipeline_samples_incremental`'s chunk
    * stage, composing [[streamDedupMinhashWarmstart]]'s initial-state
    * bootstrap with [[runPipelineSamplesStreamTTL]]'s eviction: the
    * PRIOR snapshot's chunk-hash index (16 B/sample, computed in batch
    * — a bucketed artifact read at scale) is loaded as the stateful
    * operator's initialState with each hash marked [[PriorOwnedDoc]],
    * then ONLY the fresh delta streams through redact → quality →
    * chunk fan-out → keep-first. A fresh chunk whose hash is
    * prior-owned is SUPPRESSED (the content was already emitted with
    * the prior corpus — re-emitting it would duplicate a training
    * sample), so the output is exactly the NEW samples the delta adds;
    * doc-level near-dup stays in the batch sweep, the documented lambda
    * split of the samples stream. Prior-owned groups carry their
    * bootstrap event time and evict on the same monotone deadline as
    * live groups once the watermark passes `ts + ttl` (after which the
    * content may legitimately re-emit — the bounded-state suppression
    * window); as with the minhash warm-start, a bootstrapped group that
    * never sees an arrival is reclaimed lazily, so at scale the
    * bootstrap read filters the artifact to `ts ≥ restart − ttl`.
    *
    * The driver feed is single-snapshot in-window timestamps (no
    * eviction fires), so the result equals: fresh keep-first chunks
    * minus prior-snapshot chunk content — mirrored directly in SQL;
    * suppression, cross-batch folding and eviction are pinned by
    * StreamingSpec's multi-batch test. */
  private[graft] def runPipelineSamplesStreamWarmstartTTL(
      delta: DataFrame, prior: DataFrame, ttl: String): DataFrame =
    foldSamples(pipelineSamplesWarmstartTTLEmissions(delta, prior, ttl))

  /** The PRE-FOLD emission stream (the [[pipelineSamplesTTLEmissions]]
    * seam for the warm-start form): suppression of prior-owned hashes
    * and their post-eviction re-emission are only visible here. */
  private[graft] def pipelineSamplesWarmstartTTLEmissions(
      delta: DataFrame, prior: DataFrame, ttl: String): DataFrame =
    runToMemory(pipelineSamplesWarmstartTTLTransform(delta, prior, ttl), "append")

  private[graft] def pipelineSamplesWarmstartTTLTransform(
      delta: DataFrame, prior: DataFrame, ttl: String): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.operators.{Curation, TextAnalysis}
    // prior chunk-hash index: chunks of ALL redacted prior docs — the
    // same conservative (no quality gate) membership as the batch
    // incremental pipeline's chunk index; newest chunk event time seeds
    // the eviction deadline base
    val redP = prior.select($"doc_id", $"ts",
      TextAnalysis.redactedCol($"text").as("text"))
    val initial = Curation.chunksCarrying(redP, "ts")
      .select(md5($"chunk_text").as("h"), $"ts")
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroups((k, it) =>
        (k, (PriorOwnedDoc, 0, null: String, 0L, it.map(_._2.getTime).max)))
      .groupByKey(_._1).mapValues(_._2)
    val red = delta
      .filter($"doc_id".isNotNull)
      .withWatermark("ts", ttl)
      .select($"doc_id", $"ts", TextAnalysis.redactedCol($"text").as("text"))
    val good = red.filter(TextAnalysis.qualityScore($"text") >= Curation.QualityCut)
    val keyed = Curation.chunksCarrying(good, "ts")
      .select(md5($"chunk_text").as("h"), $"doc_id", $"chunk_idx",
        $"chunk_text", $"n_tokens", $"ts")
      .as[(String, Long, Int, String, Long, java.sql.Timestamp)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Int, String, Long, Long), (String, Long, Int, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout, initial)(samplesKeepCellTTL(ttl))
      .toDF("h", "doc_id", "chunk_idx", "chunk_text", "n_tokens")
  }

  /** [[runPipelineSamplesStreamWarmstartTTL]] over the snapshot-split
    * documents table — prior slice bootstraps the chunk index, delta
    * streams through, synthetic in-window timestamps as in
    * [[streamDedupMinhashWarmstartTTL]] so no eviction fires. */
  def streamPipelineSamplesWarmstart(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, delta) = priorAndFreshStream(spark, sfDir)
    runPipelineSamplesStreamWarmstartTTL(withInWindowTs(delta), withInWindowTs(prior),
      "1 hour")
  }

  /** [[streamPipelineSamples]] through the bounded-state TTL path —
    * same synthetic in-window timestamps as [[streamDedupExactTTL]]
    * (one file = one micro-batch, every ts inside the TTL window, so
    * no eviction fires) ⇒ the result equals the unbounded form and the
    * batch `cur_pipeline_samples` stages, same oracle; eviction and
    * epoch-restart are pinned by StreamingSpec's multi-batch test. */
  def streamPipelineSamplesTTL(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = withInWindowTs(Tables.stream(spark, sfDir, "documents"))
    runPipelineSamplesStreamTTL(docs, "1 hour")
  }

  /** STREAMING sessionization — the stateful analogue of the batch
    * `q19_sessions` window formulation (Sessions.scala): per-user state
    * carries (last event time, open-session size, closed-session
    * count/max, total events); each invocation folds its rows in
    * (ts, event_id) order, closing a session when the gap exceeds
    * [[graft.operators.Sessions.GapMinutes]], and emits the user's
    * CURRENT aggregate snapshot counting the open session — exactly the
    * batch semantics, where the trailing session counts. total_events
    * strictly increases per invocation, so "latest snapshot per user"
    * is a deterministic max-struct fold, like the other streaming
    * twins' monotone folds.
    *
    * Contract: equals the batch result whenever each user's events
    * arrive in event-time order ACROSS batches (any within-batch order
    * is fine — the invocation sorts). The bounded replay is a single
    * batch, trivially ordered; in production this is the
    * per-key-ordered ingestion (e.g. a keyed log) sessionization
    * assumes, with a watermark bounding how long a session can stay
    * open. State per user is five longs — O(active users). */
  def streamSessions(spark: SparkSession, sfDir: String): DataFrame =
    runSessionsStream(Tables.eventsStream(spark, sfDir))

  /** The transform of [[streamSessions]] on any streaming
    * (user_id, event_id, ts) frame (spec entry point: plantable
    * multi-batch feeds). */
  private[graft] def runSessionsStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapMs = graft.operators.Sessions.GapMinutes * 60000L
    val ev = events
      .select($"user_id", $"event_id", $"ts")
      .filter($"user_id".isNotNull && $"event_id".isNotNull && $"ts".isNotNull)
      .as[(Long, Long, java.sql.Timestamp)]
    val updated = ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long), (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
          // state = (lastTs, openN, closedCount, closedMax, totalEvents)
          var (lastTs, openN, closedCount, closedMax, total) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L))
          rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach { r =>
            val t = r._3.getTime
            if (openN == 0L || t - lastTs > gapMs) {
              if (openN > 0L) {
                closedCount += 1
                if (openN > closedMax) closedMax = openN
              }
              openN = 1L
            } else openN += 1L
            // monotone: a cross-batch late event (t < lastTs, possible
            // only when the ordering contract above is violated) joins
            // the open session without REGRESSING its frontier — the
            // session-window "end only extends" rule, and what keeps
            // the TTL twin's eviction deadline monotone
            if (t > lastTs) lastTs = t
            total += 1L
          }
          state.update((lastTs, openN, closedCount, closedMax, total))
          val nSessions = closedCount + (if (openN > 0L) 1L else 0L)
          val mx = math.max(closedMax, openN)
          Iterator((uid, nSessions, mx, total.toDouble / nSessions, total))
        }
      .toDF("user_id", "n_sessions", "max_session_events", "avg_raw", "total_events")
    foldSessions(runToMemory(updated, "append"))
  }

  /** STREAMING benchmark decontamination: the ingest-tier twin of the
    * batch `cur_decontam` — training documents arrive as a stream and
    * are checked against a STATIC eval gram-hash set (the natively
    * supported stream-static join; the eval benchmark is fixed at
    * ingest time, which is exactly the production situation). The eval
    * side is batch-computed, benchmark-sized, and BROADCAST; the
    * stream side runs the same fused 13-gram expansion per micro-batch
    * and probes without shuffling its expansion.
    *
    * State: the per-doc aggregation sits AFTER the broadcast hit
    * filter, so aggregation state is O(CONTAMINATED docs) — the hit
    * set, not the corpus; the overwhelming majority of documents never
    * create a group. Emissions are monotone per doc (update mode), so
    * the post-run fold keeps the max — batch-equal in bounded replay. */
  def streamDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Curation
    val train = Tables.stream(spark, sfDir, "documents")
      .filter(Curation.isTrain($"doc_id"))
    val eval = Tables.documents(spark, sfDir)
      .filter(Curation.isEval($"doc_id"))
    runDecontamStream(train, eval)
  }

  /** The transform of [[streamDecontam]] on any streaming train frame
    * + static eval frame of (doc_id, text) (spec entry point:
    * plantable multi-batch overlap). */
  /** STREAMING decontamination STRIP — the span-surgery twin of
    * `cur_decontam_strip` at ingest, and the streaming family's one
    * fully STATELESS member: a document's stripped form is a pure
    * function of (its own text, the frozen eval gram set), so the
    * stream needs no state store at all — the eval set collects ONCE
    * into a broadcast (benchmark-sized, exactly the artifact a
    * production ingest job ships to executors) and every micro-batch
    * maps rows through the positional-gram → membership → run-merge →
    * interval-union strip walk per document. Per-doc outputs are final
    * on arrival; the post-run fold is a plain dedup by doc_id. Batch
    * oracle verbatim. */
  def streamDecontamStrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Curation
    val train = Tables.stream(spark, sfDir, "documents")
      .filter(Curation.isTrain($"doc_id"))
    val eval = Tables.documents(spark, sfDir)
      .filter(Curation.isEval($"doc_id"))
    runDecontamStripStream(train, eval)
  }

  /** The transform of [[streamDecontamStrip]] on any streaming train
    * frame + static eval frame (spec entry point). */
  private[graft] def runDecontamStripStream(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    import graft.operators.Curation
    import org.apache.spark.unsafe.types.UTF8String
    val W = Curation.DecontamGram
    // the frozen artifact: distinct eval gram hashes, driver-collected
    // (benchmark-sized by contract) and broadcast
    val evalSet = eval
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select(explode(graft.functions.NGramXxh64($"text", W)).as("h"))
      .distinct().as[Long].collect().toSet
    val bset = spark.sparkContext.broadcast(evalSet)
    val stripped = train
      .select($"doc_id", $"text")
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .as[(Long, String)]
      .map { case (docId, text) =>
        val set = bset.value
        // positional gram hashes via the SAME fused impl the batch
        // expression compiles to
        val hs = graft.functions.ShingleHashImpl
          .xxh64NPos(UTF8String.fromString(text), W)
        val toks = text.split(" ", -1)
        val drop = new Array[Boolean](toks.length)
        var i = 0
        var n = hs.numElements()
        while (i < n) {
          if (set.contains(hs.getLong(i))) {
            var k = i
            while (k < i + W) { drop(k) = true; k += 1 }
          }
          i += 1
        }
        val kept = toks.indices.filterNot(drop).map(toks)
        (docId, kept.mkString(" "), kept.size.toLong,
          (toks.length - kept.size).toLong)
      }
      .toDF("doc_id", "kept_text", "n_kept", "n_dropped")
    // per-doc rows are final on arrival: fold = dedup by doc_id
    runToMemory(stripped, "append")
      .groupBy($"doc_id")
      .agg(max(struct($"n_kept", $"n_dropped", $"kept_text")).as("s"))
      .select($"doc_id", $"s.kept_text".as("kept_text"),
        $"s.n_kept".as("n_kept"), $"s.n_dropped".as("n_dropped"))
      .orderBy($"doc_id")
  }

  private[graft] def runDecontamStream(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    import graft.operators.Curation
    // materialize the eval gram set ONCE: a stream-static subplan is
    // re-executed EVERY micro-batch by Spark's contract, so without
    // the checkpoint each trigger re-reads and re-shingles the eval
    // corpus (StreamScanAudit measured 2 extra eval scans across a
    // 3-batch feed). Checkpointed, per-batch cost is reading the
    // gram-set-sized cached blocks — the bounded artifact, not the
    // source.
    val evalGrams = graft.operators.Materialize.frame(eval
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select(explode(graft.functions.NGramXxh64($"text", Curation.DecontamGram)).as("h"))
      .distinct())
    val hits = train
      .select($"doc_id",
        graft.functions.NGramXxh64($"text", Curation.DecontamGram).as("g"))
      .filter(size($"g") > 0)
      .select($"doc_id", size($"g").cast("long").as("n_grams"),
        explode($"g").as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy($"doc_id")
      .agg(max($"n_grams").as("n_grams"), count(lit(1)).as("n_hit"))
    runToMemory(hits, "update")
      .groupBy($"doc_id")
      .agg(max(struct($"n_hit", $"n_grams")).as("s"))
      .select($"doc_id", $"s.n_grams".as("n_grams"), $"s.n_hit".as("n_hit"))
      .orderBy($"doc_id")
  }

  /** STREAMING language-mixture sampling: documents stream through the
    * SAME deterministic hash gate as the batch `cur_mix_sample`, with
    * the per-language keep-probability table fitted batch-side on a
    * reference snapshot and BROADCAST (stream-static join) — the
    * production setup for a stationary sampling policy: the model is
    * an L-row table, the stream applies it at ingest with zero
    * coordination. The per-language aggregation emits monotone counts
    * (update mode); the fold keeps the max — batch-equal in bounded
    * replay because gate decisions are per-row deterministic. */
  def streamMixSample(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    val snapshot = Tables.documents(spark, sfDir)
    runMixSampleStream(stream, snapshot)
  }

  /** The transform of [[streamMixSample]] on any streaming docs frame
    * + static reference snapshot (spec entry point). The probability
    * table is fitted on the SNAPSHOT; the stream only applies it. */
  private[graft] def runMixSampleStream(stream: DataFrame, snapshot: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.Curation
    // materialize the fitted L-row probability table ONCE: without the
    // checkpoint the stream-static join re-runs the corpus-sized
    // snapshot aggregation EVERY micro-batch (StreamScanAudit measured
    // 2 extra snapshot scans across a 3-batch feed) — at 100 TB that
    // is a full-corpus pass per trigger to rebuild an L-row table
    val p = graft.operators.Materialize.frame(Curation.mixProbsOn(
      Curation.mixGateCols(snapshot.filter($"lang".isNotNull))))
    val gated = Curation.mixGateAgg(
      Curation.mixGateCols(stream.filter($"lang".isNotNull)), p)
    runToMemory(gated, "update")
      .groupBy($"lang")
      .agg(max(struct($"n_docs", $"n_tokens_kept", $"q_keep")).as("s"))
      .select($"lang", $"s.n_docs".as("n_docs"),
        $"s.n_tokens_kept".as("n_tokens_kept"), $"s.q_keep".as("q_keep"))
      .orderBy($"lang")
  }

  /** [[runSessionsStream]] with BOUNDED state — the watermark bound its
    * contract note promises: the eviction TTL IS the session gap. Once
    * the watermark passes a user's `lastTs + gap`, no non-late event
    * can EXTEND the open session (any arrival must start a new one), so
    * the user's five-long state is dropped at its next firing; a
    * returning user starts a fresh EPOCH counting from zero, and the
    * monotone snapshot fold keeps the LARGEST epoch (max by
    * total_events) — the [[runDedupStreamTTL]] trade applied to
    * sessionization: exact within an epoch, per-epoch stats across
    * them. State is O(users active within the gap window), not O(users
    * ever seen). The driver feed is one micro-batch (watermark zero, no
    * eviction fires), so the result equals the unbounded form and the
    * batch q19 oracle; eviction and epoch restart are pinned by
    * StreamingSpec's multi-batch test. */
  def streamSessionsTTL(spark: SparkSession, sfDir: String): DataFrame =
    runSessionsStreamTTL(Tables.eventsStream(spark, sfDir))

  private[graft] def runSessionsStreamTTL(events: DataFrame): DataFrame =
    foldSessions(runToMemory(sessionsTTLTransform(events), "append"))

  /** Pre-fold emission seam (the [[pipelineSamplesTTLEmissions]]
    * pattern): epoch restarts are only visible here. */
  private[graft] def sessionsTTLEmissions(events: DataFrame): DataFrame =
    runToMemory(sessionsTTLTransform(events), "append")

  /** EVENT-TIME-ORDERED sessionization — the buffered form the TTL
    * stream's contract note points at: where [[runSessionsStreamTTL]]
    * folds events in ARRIVAL order across batches (exact only for
    * per-user batch-ordered feeds), this buffers in-watermark events in
    * state and folds them in EVENT-TIME order on every invocation, so
    * the result is exact under ANY arrival order Spark admits (late
    * rows beyond the watermark are filtered by the runtime before the
    * state function sees them). State is bounded the same way the TTL
    * form's is, but mechanically: once the watermark passes a folded
    * session's `lastTs + gap`, that session is immutable — no
    * admissible event can extend it (anything arriving has ts ≥
    * watermark ≥ lastTs+gap, starting a new session) or land inside its
    * ordered past — so its events leave the buffer and only its STATS
    * persist. Buffered state = O(events inside the trailing gap window
    * per user); the timeout at (max buffered ts + gap) guarantees the
    * final open session also evicts, after which the per-user state is
    * three longs. Emissions are cumulative snapshots, monotone in
    * total_events, so the shared max-struct fold and the batch q19
    * oracle apply verbatim. */
  def streamSessionsBuffered(spark: SparkSession, sfDir: String): DataFrame =
    runSessionsStreamBuffered(Tables.eventsStream(spark, sfDir))

  private[graft] def runSessionsStreamBuffered(events: DataFrame): DataFrame =
    foldSessions(runToMemory(sessionsBufferedTransform(events), "append"))

  private def sessionsBufferedTransform(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapMs = graft.operators.Sessions.GapMinutes * 60000L
    val ev = events
      .select($"user_id", $"event_id", $"ts")
      .filter($"user_id".isNotNull && $"event_id".isNotNull && $"ts".isNotNull)
      .withWatermark("ts", s"$gapMs milliseconds")
      .as[(Long, Long, java.sql.Timestamp)]
    // state: (closedCount, closedMax, closedTotal, buffered (ts, event_id))
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Seq[(Long, Long)]), (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (uid, rows, state) =>
          var (closedCount, closedMax, closedTotal, buffered) =
            state.getOption.getOrElse((0L, 0L, 0L, Seq.empty[(Long, Long)]))
          buffered = (buffered ++ rows.map(r => (r._3.getTime, r._2)))
            .sortBy(identity)
          val wm = state.getCurrentWatermarkMs()
          // fold the buffer in event-time order into (lastTs, size) runs
          val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          buffered.foreach { case (t, _) =>
            if (sessions.nonEmpty && t - sessions.last._1 <= gapMs) {
              val (_, n) = sessions.last
              sessions(sessions.size - 1) = (t, n + 1)
            } else sessions += ((t, 1L))
          }
          // evict sessions the watermark has sealed (lastTs + gap ≤ wm):
          // stats move to the closed aggregate, events leave the buffer
          val closed = sessions.takeWhile { case (lastTs, _) => lastTs + gapMs <= wm }
          if (closed.nonEmpty) {
            val closedEvents = closed.map(_._2).sum
            closedCount += closed.size
            closedMax = math.max(closedMax, closed.map(_._2).max)
            closedTotal += closedEvents
            buffered = buffered.drop(closedEvents.toInt)
          }
          val open = sessions.drop(closed.size)
          if (buffered.isEmpty) state.remove()
          else {
            state.update((closedCount, closedMax, closedTotal, buffered))
            state.setTimeoutTimestamp(buffered.last._1, s"$gapMs milliseconds")
          }
          val total = closedTotal + open.map(_._2).sum
          val nSessions = closedCount + open.size
          if (nSessions == 0L) Iterator.empty
          else {
            val mx = math.max(closedMax, if (open.isEmpty) 0L else open.map(_._2).max)
            Iterator((uid, nSessions, mx, total.toDouble / nSessions, total))
          }
        }
      .toDF("user_id", "n_sessions", "max_session_events", "avg_raw", "total_events")
  }

  private def sessionsTTLTransform(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapMs = graft.operators.Sessions.GapMinutes * 60000L
    val ev = events
      .select($"user_id", $"event_id", $"ts")
      .filter($"user_id".isNotNull && $"event_id".isNotNull && $"ts".isNotNull)
      .withWatermark("ts", s"$gapMs milliseconds")
      .as[(Long, Long, java.sql.Timestamp)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long), (Long, Long, Long, Double, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (uid, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap: the open session can never
            // extend — stats were already emitted, drop the state
            state.remove()
            Iterator.empty
          } else {
            var (lastTs, openN, closedCount, closedMax, total) =
              state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L))
            rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach { r =>
              val t = r._3.getTime
              if (openN == 0L || t - lastTs > gapMs) {
                if (openN > 0L) {
                  closedCount += 1
                  if (openN > closedMax) closedMax = openN
                }
                openN = 1L
              } else openN += 1L
              // monotone frontier (see runSessionsStream): an
              // in-watermark late event (t < lastTs across batches)
              // joins the open session but must not pull the eviction
              // deadline backwards
              if (t > lastTs) lastTs = t
              total += 1L
            }
            state.update((lastTs, openN, closedCount, closedMax, total))
            state.setTimeoutTimestamp(lastTs, s"$gapMs milliseconds")
            val nSessions = closedCount + (if (openN > 0L) 1L else 0L)
            val mx = math.max(closedMax, openN)
            Iterator((uid, nSessions, mx, total.toDouble / nSessions, total))
          }
        }
      .toDF("user_id", "n_sessions", "max_session_events", "avg_raw", "total_events")
  }

  /** The shared snapshot fold of both sessionization streams: per-user
    * emissions are monotone in total_events, so the latest (largest)
    * snapshot is a max-struct. */
  private def foldSessions(emitted: DataFrame): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    emitted
      .groupBy($"user_id")
      .agg(max(struct($"total_events", $"n_sessions", $"max_session_events", $"avg_raw")).as("s"))
      .select($"user_id", $"s.n_sessions".as("n_sessions"),
        $"s.max_session_events".as("max_session_events"),
        round($"s.avg_raw", 4).as("avg_session_events"))
      .orderBy($"user_id")
  }

  /** STREAMING LM quality scoring — the batch
    * [[graft.operators.TextAnalysis.textLmScore]] model applied at
    * INGEST, the third member of the fitted-model-at-ingest family
    * (decontam's eval gram set, mix-sample's probability table): the
    * bigram/unigram count model is fitted batch-side on the PRIOR
    * snapshot and each checkpointed ONCE (the mix-sample lesson: an
    * un-checkpointed static side re-runs its corpus aggregation every
    * micro-batch — StreamScanAudit pins delta=0 here too), the
    * vocabulary size collects as ONE long (the model's scalar, same
    * footing as a broadcast model), and the fresh delta streams
    * through the shared bigram fan-out + model joins. A document's
    * bigrams all arrive in its own micro-batch (the fan-out is
    * row-local), so each per-doc emission is already complete and the
    * update-mode fold's max-struct is batch-equal under any batch
    * split. At 100 TB the model tables are the top-K-pruned broadcast
    * form textLmScore documents. */
  def streamLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, stream) = priorAndFreshStream(spark, sfDir)
    runLmScoreStream(stream, prior)
  }

  /** The transform of [[streamLmScore]] on any streaming docs frame +
    * static fit snapshot (spec entry point). */
  private[graft] def runLmScoreStream(stream: DataFrame, prior: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val (c2r, c1r, _) = TextAnalysis.lmModelOn(prior)
    val c2 = Materialize.frame(c2r)
    val c1 = Materialize.frame(c1r)
    // vocabulary size off the CHECKPOINTED unigram table — one Long to
    // the driver, no extra corpus pass
    val v = c1.count()
    val perDoc = TextAnalysis.lmQf(
        TextAnalysis.lmScoredBigrams(stream, c2, c1).withColumn("v", lit(v)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"qf").as("sum_q"))
    runToMemory(perDoc, "update")
      .groupBy($"doc_id")
      .agg(max(struct($"n_bigrams", $"sum_q")).as("s"))
      .select($"doc_id", $"s.n_bigrams".as("n_bigrams"), $"s.sum_q".as("sum_q"),
        ($"s.sum_q".cast("double") / $"s.n_bigrams".cast("double")).as("score"))
      .orderBy($"doc_id")
  }

  /** STREAMING learned quality scoring — the fitted-model-at-ingest
    * twin of `text_quality_model` (the [[streamLmScore]] pattern): the
    * ≤4096-row hashed-feature model is fitted closed-form on the PRIOR
    * snapshot, materialized once, and BROADCAST into every micro-batch's
    * feature expansion; the stream never shuffles its features and the
    * model never refits per trigger. Per-doc emissions are complete per
    * batch (update mode), so the post-run fold keeps the max-struct —
    * batch-equal in bounded replay, oracle shared with the batch query. */
  def streamQualityModel(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, stream) = priorAndFreshStream(spark, sfDir)
    runQualityModelStream(stream, prior)
  }

  /** The transform of [[streamQualityModel]] on any streaming docs
    * frame + static fit snapshot (spec entry point). */
  private[graft] def runQualityModelStream(stream: DataFrame, prior: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val model = Materialize.frame(TextAnalysis.qmModelOn(prior))
    val perDoc = TextAnalysis.qmPerDocAgg(stream, model)
    runToMemory(perDoc, "update")
      .groupBy($"doc_id")
      .agg(max(struct($"n_feats", $"sum_q")).as("s"))
      .select($"doc_id", $"s.n_feats".as("n_feats"), $"s.sum_q".as("sum_q"),
        ($"s.sum_q".cast("double") / $"s.n_feats".cast("double")).as("score"))
      .orderBy($"doc_id")
  }

  /** STREAMING exact-substring dedup, INCREMENTAL — the ExactSubstr
    * daily-crawl form at ingest: state is keyed by 25-token gram hash,
    * bootstrapped from the PRIOR snapshot's distinct gram index loaded
    * as initialState with every prior gram pre-EMITTED (the 8 B/gram
    * stored artifact as warm-start state — the
    * [[streamDedupMinhashWarmstart]] pattern applied to grams). A
    * fresh (doc, pos) occurrence emits immediately when its gram
    * family is already emitted (prior gram, or a fresh family that
    * crossed two distinct docs earlier); an unemitted family buffers
    * its occurrences and flushes ALL of them — including earlier
    * batches' residents — the moment a second distinct doc arrives,
    * matching the batch mn≠mx rule exactly. Single-doc repeats never
    * emit, as in batch. The post-run fold distinct-s the flagged
    * occurrences and runs the SAME maximal-run merge as the batch
    * query — oracle shared verbatim with `dedup_substring_incremental`.
    *
    * Scale/state: O(distinct gram hashes) — which IS the production
    * index (a RocksDB state store holding the gram index is the
    * steady-state deployment); residents buffer only unemitted
    * single-doc families. A TTL tier would evict cold grams exactly as
    * the near-dup states do — the documented bounded-state trade. */
  def streamSubstringIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, delta) = priorAndFreshStream(spark, sfDir)
    runSubstringIncrementalStream(delta, prior)
  }

  /** The transform of [[streamSubstringIncremental]] on any streaming
    * delta frame + static prior snapshot (spec entry point). */
  private[graft] def runSubstringIncrementalStream(delta: DataFrame,
      prior: DataFrame): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val W = graft.operators.Dedup.ExactSubstrTokens
    def gramsDs(df: DataFrame) = df
      .select($"doc_id", posexplode(
        graft.functions.NGramXxh64Pos($"text", W)).as(Seq("pos", "h")))
      .select($"h", $"doc_id", $"pos").as[(Long, Long, Int)]
    val initial = gramsDs(
        prior.repartition(spark.sparkContext.defaultParallelism, $"doc_id"))
      .groupByKey(_._1)
      .mapGroups((h, _) => (h, (true, Seq.empty[(Long, Int)])))
      .groupByKey(_._1).mapValues(_._2)
    val flagged = gramsDs(delta).groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, Seq[(Long, Int)]), (Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
          (h, it, state) =>
            val arrivals = it.map(t => (t._2, t._3)).toSeq
            val (emitted, residents) = state.getOption.getOrElse(
              (false, Seq.empty[(Long, Int)]))
            val all = residents ++ arrivals
            if (emitted || all.map(_._1).distinct.size >= 2) {
              state.update((true, Seq.empty))
              (if (emitted) arrivals else all).iterator
            } else {
              state.update((false, all))
              Iterator.empty
            }
        }
      .toDF("doc_id", "pos")
    graft.operators.Dedup.mergeSpanRuns(
      runToMemory(flagged, "append").distinct(), W)
  }

  /** [[streamSubstringIncremental]] through the BOUNDED-STATE tier the
    * docstring above promises — the production deployment: one parquet
    * file = one in-window micro-batch, so no eviction fires and the
    * result equals batch `dedup_substring_incremental` exactly (same
    * oracle); the eviction behavior itself is pinned by StreamingSpec's
    * four-batch feed. */
  def streamSubstringIncrementalTtl(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, delta) = priorAndFreshStream(spark, sfDir)
    runSubstringIncrementalStreamTTL(withInWindowTs(delta), prior, "1 hour")
  }

  /** [[runSubstringIncrementalStream]] with the EventTimeTimeout TTL
    * tier — closing the one unbounded-state exception in the streaming
    * family: gram-family state carries the max event time seen and
    * evicts once the watermark passes newest-arrival + ttl, so the
    * store holds O(gram families live in the TTL window) — cold index
    * entries AND their buffered single-doc residents both leave.
    * Eviction forgets a family a much-later arrival would have matched
    * (no flush, no index hit) — the same documented recall trade every
    * TTL tier here makes. Prior warm-start entries load emitted and
    * UNARMED: an index entry only acquires an eviction deadline once a
    * fresh gram probes it (an unprobed stored index never expires;
    * deadlines are monotone from the key's newest arrival, the
    * runDedupStreamTTL argument). */
  private[graft] def runSubstringIncrementalStreamTTL(delta: DataFrame,
      prior: DataFrame, ttl: String): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val W = graft.operators.Dedup.ExactSubstrTokens
    val initial = prior
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", posexplode(
        graft.functions.NGramXxh64Pos($"text", W)).as(Seq("pos", "h")))
      .select($"h").as[Long]
      .groupByKey(identity)
      .mapGroups((h, _) => (h, (true, Seq.empty[(Long, Int)], Long.MinValue)))
      .groupByKey(_._1).mapValues(_._2)
    val grams = delta
      .withWatermark("ts", ttl)
      .select($"ts", $"doc_id", posexplode(
        graft.functions.NGramXxh64Pos($"text", W)).as(Seq("pos", "h")))
      .select($"h", $"doc_id", $"pos", $"ts")
      .as[(Long, Long, Int, java.sql.Timestamp)]
    val flagged = grams.groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, Seq[(Long, Int)], Long), (Long, Int)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout, initial) {
          (h, it, state) =>
            if (state.hasTimedOut) {
              state.remove() // cold family: index entry + residents evict
              Iterator.empty
            } else {
              val rows = it.toSeq
              val arrivals = rows.map(t => (t._2, t._3))
              var (emitted, residents, maxTs) = state.getOption.getOrElse(
                (false, Seq.empty[(Long, Int)], Long.MinValue))
              rows.foreach { r =>
                val t = r._4.getTime
                if (t > maxTs) maxTs = t
              }
              val all = residents ++ arrivals
              val out =
                if (emitted || all.map(_._1).distinct.size >= 2) {
                  state.update((true, Seq.empty, maxTs))
                  if (emitted) arrivals.iterator else all.iterator
                } else {
                  state.update((false, all, maxTs))
                  Iterator.empty
                }
              // warm-start entries are invoked once with NO rows to
              // seat the initial state — maxTs is still the unarmed
              // sentinel there, and an index entry only acquires its
              // eviction deadline when a fresh gram actually probes it
              if (maxTs != Long.MinValue) state.setTimeoutTimestamp(maxTs, ttl)
              out
            }
        }
      .toDF("doc_id", "pos")
    graft.operators.Dedup.mergeSpanRuns(
      runToMemory(flagged, "append").distinct(), W)
  }

  /** STREAMING n-gram novelty — the crawl-freshness metric AT INGEST:
    * the prior snapshot's distinct gram index materializes ONCE (the
    * stored 8 B/gram artifact; without the checkpoint the stream-static
    * contract re-runs the prior expansion every micro-batch) and each
    * arriving doc's distinct grams LEFT-join it — the natively
    * supported stream-static join — then aggregate to the per-doc miss
    * count. Per-doc emissions are complete per batch (update mode), so
    * the max-struct fold is batch-equal; novelty's raw IEEE division
    * happens after the fold, as in the batch query. Oracle shared with
    * `cur_novelty`. */
  def streamNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val (prior, stream) = priorAndFreshStream(spark, sfDir)
    runNoveltyStream(stream, prior)
  }

  /** The transform of [[streamNovelty]] on any streaming docs frame +
    * static prior snapshot (spec entry point). */
  private[graft] def runNoveltyStream(stream: DataFrame, prior: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Curation, Materialize}
    // same index definition as batch, checkpointed (the stream-static
    // contract re-executes the static subplan per batch otherwise)
    val priorIdx = Materialize.frame(Curation.noveltyGrams(prior)
      .select(explode($"g").as("h")).distinct().select($"h", lit(1).as("hit")))
    val perDoc = Curation.noveltyPerDocAgg(stream, priorIdx)
    Curation.noveltyTail(runToMemory(perDoc, "update")
      .groupBy($"doc_id")
      .agg(max(struct($"n_grams", $"n_novel")).as("s"))
      .select($"doc_id", $"s.n_grams".as("n_grams"), $"s.n_novel".as("n_novel")))
  }

  /** STREAMING perceptual image dedup — the aHash twin of
    * `mm_dedup_ahash` in the [[streamAnnEncode]] shape: the REAL-CODEC
    * work (PNG decode + 32-bit block-mean signature) runs per-row AT
    * INGEST with no shuffle and no state — the hash is the artifact a
    * production ingest stores next to each image — and the group
    * collapse (n_group, min-id canonical) folds batch-side over the
    * final hash table, exactly as a daily dedup job reads the
    * accumulated signature store. Oracle shared with the batch query. */
  def streamDedupAhash(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    runDedupAhashStream(stream)
  }

  /** The transform of [[streamDedupAhash]] on any streaming docs frame
    * (spec entry point). */
  private[graft] def runDedupAhashStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val hashed = stream.select($"doc_id", $"text").as[(Long, String)]
      .map { case (docId, text) =>
        (docId, graft.operators.Multimodal.ahashOf(text))
      }.toDF("doc_id", "ahash")
    val folded = runToMemory(hashed, "append")
      .groupBy($"doc_id").agg(max($"ahash").as("ahash")) // dedup on replay
    graft.operators.Multimodal.ahashCollapse(folded)
  }

  /** STREAMING C4 line dedup — the `dedup_lines` KEEP DECISION at
    * ingest: each reflow line keys state by its content md5, every
    * micro-batch emits the group's updated winner (the
    * lexicographic-min (doc_id, line_idx) seen so far) plus the
    * running occurrence count, and the memory-sink fold keeps the
    * final winner per line hash — exactly the batch operator's keep
    * table under ANY batch split of the source (min/max folds are
    * split-invariant). The document REBUILD stays a batch-side join
    * against this table: an ingest path only needs the decision
    * stream, and a per-doc rebuild would be non-final under streaming
    * by construction (a later smaller doc_id can steal a line).
    * State: one (long, long, long) per distinct line — the
    * [[runDedupStream]] shape at line granularity. */
  def streamDedupLines(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.stream(spark, sfDir, "documents")
    runDedupLinesStream(docs).orderBy($"h")
  }

  /** The transform of [[streamDedupLines]] on any streaming docs frame
    * (spec entry point: multi-batch file feeds). */
  private[graft] def runDedupLinesStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val lines = docs
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id",
        posexplode(graft.operators.Curation.reflowLinesArr($"text"))
          .as(Seq("line_idx", "line")))
      .select(md5($"line").as("h"), $"doc_id",
        $"line_idx".cast("long").as("line_idx"))
      .as[(String, Long, Long)]
    val updated = lines.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (String, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (h, rows, state) =>
          var (kd, ki, n) =
            state.getOption.getOrElse((Long.MaxValue, Long.MaxValue, 0L))
          rows.foreach { r =>
            if (r._2 < kd || (r._2 == kd && r._3 < ki)) { kd = r._2; ki = r._3 }
            n += 1
          }
          state.update((kd, ki, n))
          Iterator((h, kd, ki, n))
        }
      .toDF("h", "keep_doc", "keep_idx", "n_dups")
    runToMemory(updated, "append")
      .groupBy($"h")
      .agg(min(struct($"keep_doc", $"keep_idx")).as("k"),
        max($"n_dups").as("n_dups"))
      .select($"h", $"k.keep_doc".as("keep_doc"),
        $"k.keep_idx".as("keep_idx"), $"n_dups")
  }

  /** STREAMING C4 line filter — the line-level cleaning AT INGEST and
    * the stateless family's next member: every predicate is a pure
    * per-row array lambda, so there is no state store, no shuffle, and
    * each document's filtered rebuild is final on arrival (append
    * mode; fold = max-struct by doc_id, deduping source replays).
    * Oracle: the batch `cur_line_filter` SQL verbatim. */
  def streamLineFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.stream(spark, sfDir, "documents")
    runLineFilterStream(docs)
  }

  /** The transform of [[streamLineFilter]] on any streaming docs frame
    * (spec entry point). */
  private[graft] def runLineFilterStream(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val filtered = graft.operators.Curation.lineFilterUnordered(
      docs, graft.operators.Curation.reflowLinesArr($"text"))
    runToMemory(filtered, "append")
      .groupBy($"doc_id")
      .agg(max(struct($"kept_text", $"n_kept", $"n_dropped")).as("s"))
      .select($"doc_id", $"s.kept_text".as("kept_text"),
        $"s.n_kept".as("n_kept"), $"s.n_dropped".as("n_dropped"))
      .orderBy($"doc_id")
  }

  /** STREAMING Gopher rules — the quality filter AT INGEST (the
    * production placement: documents are gated before they ever land
    * in the corpus store) and the stateless family's third member:
    * every rule is a pure per-row integer expression, so there is no
    * state store, no shuffle, and per-doc verdicts are final on
    * arrival (append mode; fold = max-struct by doc_id). Oracle: the
    * batch `text_gopher_rules` SQL verbatim. */
  def streamGopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    runGopherRulesStream(stream)
  }

  /** The transform of [[streamGopherRules]] on any streaming docs
    * frame (spec entry point). */
  private[graft] def runGopherRulesStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    // gopherRulesOn ends in an orderBy — streams cannot sort, so feed
    // the rule projection only and sort after the fold
    val ruled = graft.operators.TextAnalysis.gopherRulesUnordered(stream)
    runToMemory(ruled, "append")
      .groupBy($"doc_id")
      .agg(max(struct($"n_words", $"r_wordcount", $"r_meanlen", $"r_alpha",
        $"r_stopwords", $"r_lorem", $"keep")).as("s"))
      .select($"doc_id", $"s.n_words".as("n_words"),
        $"s.r_wordcount".as("r_wordcount"), $"s.r_meanlen".as("r_meanlen"),
        $"s.r_alpha".as("r_alpha"), $"s.r_stopwords".as("r_stopwords"),
        $"s.r_lorem".as("r_lorem"), $"s.keep".as("keep"))
      .orderBy($"doc_id")
  }

  /** STREAMING C4 badwords filter — the blocklist page drop AT INGEST
    * (the production placement: a contaminated page never lands in the
    * corpus store) and another stateless member: the blocklist is a
    * literal inside a per-row higher-order filter, so there is no
    * state store, no shuffle, and each document's verdict is final on
    * arrival (append mode; fold = max-struct by doc_id, deduping
    * source replays). Oracle: the batch `cur_badwords` SQL verbatim. */
  def streamBadwords(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    runBadwordsStream(stream)
  }

  /** The transform of [[streamBadwords]] on any streaming docs frame
    * (spec entry point). */
  private[graft] def runBadwordsStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val flagged = graft.operators.Curation.badwordsUnordered(stream)
    runToMemory(flagged, "append")
      .groupBy($"doc_id")
      .agg(max($"n_bad").as("n_bad"))
      .orderBy($"doc_id")
  }

  /** STREAMING badwords at PRODUCTION list size — [[streamBadwords]]
    * with the 2k-entry Aho-Corasick automaton ([[graft.operators
    * .Curation.badwordsBigUnordered]]): the automaton is a plan
    * constant like the broadcast models, so the stage stays exactly as
    * stateless as the 3-word form — no state store, no shuffle,
    * verdicts final on arrival. Oracle: the batch `cur_badwords_big`
    * SQL verbatim. */
  def streamBadwordsBig(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    runBadwordsBigStream(stream)
  }

  /** The transform of [[streamBadwordsBig]] on any streaming docs
    * frame (spec entry point). */
  private[graft] def runBadwordsBigStream(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val flagged = graft.operators.Curation.badwordsBigUnordered(stream,
      graft.operators.Curation.BadWordsBig)
    runToMemory(flagged, "append")
      .groupBy($"doc_id")
      .agg(max($"n_bad").as("n_bad"))
      .orderBy($"doc_id")
  }

  /** STREAMING merge-order BPE encode — the tokenizer service at
    * ingest, the other half of the [[streamBadwordsBig]] lambda split:
    * the encoded vocabulary ([[graft.operators.TextAnalysis
    * .bpeEncodedVocab]]) is fit ONCE on the static corpus at stream
    * setup — the frozen artifact a production tokenizer ships — and
    * every arriving document encodes through a stream-static hash join
    * against it.
    *
    * Out-of-vocabulary words (r17 ADVICE — the inner join silently
    * DROPPED them, and a doc of only unseen words vanished): the vocab
    * join is a LEFT join with a character-decomposition fallback —
    * an unmatched word encodes as its base character sequence +
    * `</w>`, the Sennrich base decomposition. The fallback does NOT
    * replay the learned merges over the unseen word (that needs the
    * merge list per row, not the frozen word→encoding artifact), so an
    * OOV word costs its character count in tokens — an upper bound on
    * the merge-applied count, never a dropped document; the spec pins
    * the behavior. Vocab-covered streams are unaffected (the fallback
    * branch never fires), which is why the single-batch feed still
    * equals the batch `text_bpe_encode` query and the oracle is shared
    * VERBATIM.
    *
    * State: a document's verdict is final the batch it arrives, and
    * per-key state is doc-bounded (the per-document reassembly agg) —
    * but the update-mode groupBy(doc_id) KEEPS a state-store entry per
    * doc_id ever seen, with no watermark to expire it (corrected r17
    * scaladoc: "no state store" was wrong). Unbounded KEY count is the
    * same hazard the windowed queries' `_ttl` twins bound — the
    * production service runs [[streamBpeEncodeTTL]], whose event-time
    * eviction caps state at the docs active in the last `ttl`; this
    * unbounded form remains the exactness baseline for bounded
    * replays. Batch re-fit stays authoritative for vocab updates,
    * exactly the near-dup lambda argument. */
  def streamBpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    runBpeEncodeStream(stream, Tables.documents(spark, sfDir))
  }

  /** The per-token piece stream of the WORD-mode streaming encode —
    * (doc_id [, carried cols], pos, seq, n_sub): space-split word
    * stream LEFT-joined against the frozen encoded vocab with the
    * character-decomposition OOV fallback. Shared by the unbounded and
    * TTL reassembly tails so the encode semantics cannot drift. */
  private def bpeWordPieces(stream: DataFrame, enc: DataFrame,
      carry: Seq[String]): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val cs = carry.map(col)
    stream
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .select(($"doc_id" +: cs) :+
        posexplode(split($"text", " ")).as(Seq("pos", "w")): _*)
      .filter(length($"w") > 0)
      .join(enc, Seq("w"), "left")
      // OOV fallback (see the scaladoc): unmatched words encode as their
      // base character decomposition instead of silently dropping
      .select(($"doc_id" +: cs) ++ Seq($"pos",
        coalesce($"seq",
          concat(array_join(split($"w", ""), " "), lit(" </w>"))).as("seq"),
        coalesce($"n_sub", (length($"w") + 1).cast("long")).as("n_sub")): _*)
  }

  /** The byte-mode twin of [[bpeWordPieces]]: GPT-2-family pretokens
    * LEFT-joined against the byte vocab, base byte decomposition as
    * the (always-in-alphabet) fallback. */
  private def bpeBytePieces(stream: DataFrame, enc: DataFrame,
      carry: Seq[String]): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.TextAnalysis
    val cs = carry.map(col)
    stream
      .filter($"doc_id".isNotNull && $"text".isNotNull)
      .select(($"doc_id" +: cs) :+ posexplode(regexp_extract_all($"text",
        lit(TextAnalysis.BytePretokenPattern), lit(0))).as(Seq("pos", "w")): _*)
      .join(enc, Seq("w"), "left")
      // OOV fallback: the base byte decomposition — always in-alphabet
      .select(($"doc_id" +: cs) ++ Seq($"pos",
        coalesce($"seq", TextAnalysis.byteSeq($"w")).as("seq"),
        coalesce($"n_sub", octet_length($"w").cast("long")).as("n_sub")): _*)
  }

  /** The UNBOUNDED-state reassembly tail shared by both encode modes:
    * per-doc streaming agg in update mode + the final memory-sink
    * fold (max over re-emissions = the most complete reassembly). */
  private def bpeReassembly(pieces: DataFrame): DataFrame = {
    val spark = pieces.sparkSession
    import spark.implicits._
    val perDoc = pieces
      .groupBy($"doc_id")
      .agg(sum($"n_sub").as("bpe_tokens"),
        array_join(transform(array_sort(collect_list(struct($"pos", $"seq"))),
          s => s.getField("seq")), " ").as("token_seq"))
    runToMemory(perDoc, "update")
      .groupBy($"doc_id")
      .agg(max(struct($"bpe_tokens", $"token_seq")).as("s"))
      .select($"doc_id", $"s.bpe_tokens".as("bpe_tokens"),
        $"s.token_seq".as("token_seq"))
      .orderBy($"doc_id")
  }

  /** The transform of [[streamBpeEncode]] on any streaming docs frame +
    * static fit corpus (spec entry point). */
  private[graft] def runBpeEncodeStream(stream: DataFrame,
      corpus: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val enc = Materialize.frame(TextAnalysis.bpeEncodedVocab(
      corpus.filter($"text".isNotNull), TextAnalysis.BpeFitMerges))
    bpeReassembly(bpeWordPieces(stream, enc, Nil))
  }

  /** STREAMING BYTE-LEVEL BPE encode — [[streamBpeEncode]] at
    * production-tokenizer semantics (the GPT-2-family pretokenizer +
    * byte-symbol vocabulary of `text_tokencount_bpe_bytes`): the byte
    * vocab is fit once on the static corpus, every arriving document
    * pretokenizes and LEFT-joins against it with the byte
    * decomposition as the OOV fallback. At byte level the fallback is
    * the mode's whole point: an unseen pretoken decomposes into hex
    * pairs that are ALL base-alphabet symbols — no unknown-token case
    * CAN exist, the property a production byte tokenizer is chosen
    * for (learned merges are still not replayed over unseen
    * pretokens, so their counts upper-bound the merge-applied count —
    * same caveat as the word twin, spec-pinned there). Same state
    * caveat as [[streamBpeEncode]]: per-key state is doc-bounded, key
    * count grows with docs seen. Single-batch vocab-covered feed ≡
    * the batch byte encode; oracle shared VERBATIM. */
  def streamBpeEncodeBytes(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = Tables.stream(spark, sfDir, "documents")
    runBpeEncodeBytesStream(stream, Tables.documents(spark, sfDir))
  }

  /** The transform of [[streamBpeEncodeBytes]] on any streaming docs
    * frame + static fit corpus (spec entry point). */
  private[graft] def runBpeEncodeBytesStream(stream: DataFrame,
      corpus: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val enc = Materialize.frame(TextAnalysis.bpeEncodedVocabBytes(
      corpus.filter($"text".isNotNull), TextAnalysis.BpeFitMerges))
    bpeReassembly(bpeBytePieces(stream, enc, Nil))
  }

  /** The TTL-BOUNDED reassembly tail — the r18 VERDICT #1 closure of
    * the ONE stateful family that still lacked a bounded-state twin:
    * the unbounded tail's update-mode `groupBy(doc_id)` keeps a state
    * entry per doc_id EVER seen, so a tokenizer service running for
    * months accumulates keys without bound. Here the per-document
    * reassembly is a [[runDedupStreamTTL]]-style
    * `flatMapGroupsWithState` keyed by doc_id with an EVENT-TIME
    * timeout: state holds the doc's (pos, seq, n_sub) pieces plus the
    * max event time ever seen (the MONOTONE deadline discipline — a
    * later micro-batch carrying older non-late pieces must not pull
    * the eviction forward), a doc TOUCHED in the batch re-emits its
    * current full reassembly (the memory-sink fold keeps the most
    * complete one, max over (bpe_tokens, token_seq) — identical to the
    * unbounded tail's fold; `flatMapGroupsWithState` only invokes keys
    * present in the batch or timing out, so an untouched resident
    * costs ZERO sink rows per batch — emission is O(batch docs), not
    * O(resident docs), spec-pinned), and when the source watermark
    * passes newest-arrival + ttl the state drops. State is O(docs active in the last `ttl` of
    * event time) × O(doc length) — the honest cost of cross-batch
    * document reassembly — not O(docs ever seen).
    *
    * Accuracy contract, same as every `_ttl` twin: pieces of a doc
    * arriving within `ttl` of each other reassemble exactly as in the
    * unbounded form; a doc_id recurring AFTER eviction starts a fresh
    * epoch whose reassembly covers only post-eviction pieces, and the
    * final fold keeps the more complete epoch. Watermark delay = `ttl`
    * keeps the Spark timeout-validity invariant.
    *
    * Piece ordering contract (r19 ADVICE): pieces reassemble in
    * (pos, seq) order — the SAME total order as the unbounded tail's
    * `array_sort(collect_list(struct(pos, seq)))` — so the two twins
    * agree on EVERY feed, including multi-word pieces split across
    * micro-batches (spec-pinned). `pos` is the producer's reassembly
    * key: a producer splitting one document into fragments must assign
    * monotone positions across fragments if it wants concatenation
    * order; fragments that each restart pos at 0 interleave
    * deterministically by (pos, seq) in BOTH twins (the prior
    * stable-sortBy(pos) broke pos ties by ARRIVAL order here, which
    * silently diverged from the unbounded fold's seq tie-break). */
  private[graft] def runBpeReassemblyTTL(pieces: DataFrame,
      ttl: String): DataFrame = {
    val spark = pieces.sparkSession
    import spark.implicits._
    runToMemory(bpeReassemblyTTLStream(pieces, ttl), "append")
      .groupBy($"doc_id")
      .agg(max(struct($"bpe_tokens", $"token_seq")).as("s"))
      .select($"doc_id", $"s.bpe_tokens".as("bpe_tokens"),
        $"s.token_seq".as("token_seq"))
      .orderBy($"doc_id")
  }

  /** Unsigned-UTF-8-byte string comparison — the exact order Spark's
    * `array_sort`/UTF8String uses, so the TTL state's JVM-side sort
    * cannot drift from the unbounded fold's Catalyst sort on any
    * input (they differ from String.compareTo for supplementary-plane
    * vs high-BMP characters). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The STREAMING frame of the TTL reassembly (pre-sink) — exposed so
    * CheckpointResumeSpec can drive it through a real file sink +
    * checkpoint: the state-store contents (a doc's accumulated pieces)
    * must survive a stop/restart, which the memory-sink harness above
    * cannot show. */
  private[graft] def bpeReassemblyTTLStream(pieces: DataFrame,
      ttl: String): DataFrame = {
    val spark = pieces.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ds = pieces
      .withWatermark("ts", ttl)
      .select($"doc_id", $"pos", $"seq", $"n_sub", $"ts")
      .as[(Long, Int, String, Long, java.sql.Timestamp)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Int, String, Long)], Long),
        (Long, Long, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (docId, rows, state) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed newest piece + ttl: evict
            Iterator.empty
          } else {
            var (stored, maxTs) = state.getOption
              .getOrElse((Seq.empty[(Int, String, Long)], Long.MinValue))
            val buf = scala.collection.mutable.ArrayBuffer.from(stored)
            rows.foreach { r =>
              buf += ((r._2, r._3, r._4))
              val t = r._5.getTime
              if (t > maxTs) maxTs = t
            }
            // (pos, seq) — the unbounded fold's exact total order; a
            // bare sortBy(pos) would tie-break by arrival order and
            // diverge from the twin on cross-batch pos collisions.
            // seq compares as UNSIGNED UTF-8 BYTES, not Scala's UTF-16
            // chars: Spark's array_sort orders UTF8String binary, and
            // the two diverge between supplementary-plane text (UTF-16
            // surrogates 0xD800–DFFF, UTF-8 0xF0+) and high-BMP text
            // (UTF-16 ≥ 0xE000, UTF-8 0xEE–EF) — String.compareTo puts
            // the surrogate first, byte order puts it last
            val all = buf.sortWith { (p, q) =>
              p._1 < q._1 || (p._1 == q._1 && utf8Lt(p._2, q._2))
            }.toSeq
            state.update((all, maxTs))
            state.setTimeoutTimestamp(maxTs, ttl)
            Iterator((docId, all.map(_._3).sum, all.map(_._2).mkString(" ")))
          }
        }
      .toDF("doc_id", "bpe_tokens", "token_seq")
  }

  /** [[bpeReassemblyTTLStream]] with the word-mode piece projection in
    * front — the full TTL-encode streaming frame over any docs stream
    * carrying `ts` (CheckpointResumeSpec's entry point). */
  private[graft] def bpeEncodeTTLStreamFrame(stream: DataFrame,
      corpus: DataFrame, ttl: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val enc = Materialize.frame(TextAnalysis.bpeEncodedVocab(
      corpus.filter($"text".isNotNull), TextAnalysis.BpeFitMerges))
    bpeReassemblyTTLStream(bpeWordPieces(stream, enc, Seq("ts")), ttl)
  }

  /** [[streamBpeEncode]] through the bounded-state TTL path. The
    * driver feed carries no event-time column, so arrival time is
    * synthesized exactly like [[streamDedupExactTTL]]'s (all ts inside
    * the TTL window ⇒ no eviction fires on the single-batch feed) and
    * the result equals the batch `text_bpe_encode` verbatim — same
    * oracle; multi-batch eviction is StreamingSpec's to pin. */
  def streamBpeEncodeTTL(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = withInWindowTs(Tables.stream(spark, sfDir, "documents"))
    runBpeEncodeStreamTTL(stream, Tables.documents(spark, sfDir),
      "1 hour")
  }

  /** The transform of [[streamBpeEncodeTTL]] on any streaming docs
    * frame carrying a `ts` event-time column (spec entry point). */
  private[graft] def runBpeEncodeStreamTTL(stream: DataFrame,
      corpus: DataFrame, ttl: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val enc = Materialize.frame(TextAnalysis.bpeEncodedVocab(
      corpus.filter($"text".isNotNull), TextAnalysis.BpeFitMerges))
    runBpeReassemblyTTL(bpeWordPieces(stream, enc, Seq("ts")), ttl)
  }

  /** [[streamBpeEncodeBytes]] through the bounded-state TTL path —
    * same synthesized in-window arrival time, same shared batch
    * oracle, byte-mode pieces. */
  def streamBpeEncodeBytesTTL(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = withInWindowTs(Tables.stream(spark, sfDir, "documents"))
    runBpeEncodeBytesStreamTTL(stream,
      Tables.documents(spark, sfDir), "1 hour")
  }

  /** The transform of [[streamBpeEncodeBytesTTL]] on any streaming
    * docs frame carrying a `ts` event-time column (spec entry point). */
  private[graft] def runBpeEncodeBytesStreamTTL(stream: DataFrame,
      corpus: DataFrame, ttl: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.{Materialize, TextAnalysis}
    val enc = Materialize.frame(TextAnalysis.bpeEncodedVocabBytes(
      corpus.filter($"text".isNotNull), TextAnalysis.BpeFitMerges))
    runBpeReassemblyTTL(bpeBytePieces(stream, enc, Seq("ts")), ttl)
  }

  /** STREAMING semantic decontamination — the embedding-space
    * contamination rank AT INGEST: the eval slice is STATIC (the
    * frozen benchmark artifact, broadcast — exactly the
    * [[streamDecontamStrip]] setup one modality over), and every
    * arriving training vector crosses it through the IDENTICAL cosine
    * Column expressions as the batch query (stream-static broadcast
    * join ⇒ bit-identical IEEE scores), emitting its pair scores final
    * on arrival with no state store. The global most-contaminated
    * top-20 is the post-run fold (top-k is not append-streamable);
    * a production ingest would prune each row to its row-local top-20
    * before the sink — a row can contribute at most 20 pairs to any
    * global top-20 — keeping the emission bounded per vector. Oracle:
    * the batch `cur_decontam_semantic` SQL verbatim. */
  def streamDecontamSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Curation
    val train = Tables.stream(spark, sfDir, "embeddings")
      .filter(Curation.isTrain($"vec_id"))
    val eval = Tables.embeddings(spark, sfDir)
      .filter(Curation.isEval($"vec_id"))
    runDecontamSemanticStream(train, eval)
  }

  /** The transform of [[streamDecontamSemantic]] on any streaming
    * train frame + static eval frame of (vec_id, embedding) (spec
    * entry point: plantable known-cosine feeds). */
  private[graft] def runDecontamSemanticStream(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    import graft.operators.Curation
    // materialize the eval vectors ONCE (the runDecontamStream rule: a
    // stream-static subplan re-executes EVERY micro-batch, so an
    // un-checkpointed eval side would re-scan its source per trigger;
    // checkpointed, per-batch cost is reading the benchmark-sized
    // cached blocks)
    val evalCk = graft.operators.Materialize.frame(
      eval.select($"vec_id", $"embedding"))
    val pairs = Curation.decontamSemanticPairs(train, evalCk)
    Curation.decontamSemanticTail(
      runToMemory(pairs, "append")
        // dedup source replays before the top-k: one row per pair
        .groupBy($"train_id", $"eval_id").agg(max($"cos").as("cos")))
  }

  /** STREAMING ANN index ingestion — encode-at-ingest, the FAISS
    * add() path as a stream (the streaming family's second fully
    * STATELESS member after the decontamination strip): both frozen
    * models (seeded coarse quantizer + prior-slice-fitted residual
    * codebooks, [[graft.operators.Similarity.ivfPqFrozenModels]]) bake
    * into per-row expressions, and each fresh vector maps to its
    * (vec_id, cell, m, code) index rows with NO shuffle and NO state —
    * the rows a production ingest appends to the vec_id-bucketed code
    * artifact that `sim_ann_ivfpq_incremental`'s search tail reads.
    * Emissions are final on arrival (append mode); fold = max-struct
    * by (vec_id, m). Oracle: the incremental query's fit/encode CTE
    * chain restricted to the delta slice, flattened per subspace. */
  def streamAnnEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = Tables.stream(spark, sfDir, "embeddings")
      .filter(isFresh($"vec_id"))
      .select($"vec_id", graft.functions.VectorOps.toDouble($"embedding").as("v"))
    runAnnEncodeStream(stream, spark, sfDir)
  }

  /** The transform of [[streamAnnEncode]] on any streaming (vec_id, v)
    * frame + the static model source (spec entry point). */
  private[graft] def runAnnEncodeStream(stream: DataFrame, spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val (cents, cb) = graft.operators.Similarity.ivfPqFrozenModels(spark, sfDir)
    val flat = graft.operators.Similarity.annEncodeFlat(stream, cents, cb)
    runToMemory(flat, "append")
      .groupBy($"vec_id", $"m")
      .agg(max(struct($"cell", $"code")).as("s"))
      .select($"vec_id", $"s.cell".as("cell"), $"m", $"s.code".as("code"))
      .orderBy($"vec_id", $"m")
  }

  /** STREAMING heavy hitters — the CMS maintained AS STREAMING STATE:
    * each micro-batch's tokens fold into the 4×1024-cell (r, b) count
    * aggregation (update mode — the state store holds exactly the 4 KB
    * sketch, the bounded mergeable artifact, regardless of stream
    * length), and per-batch emissions are the touched cells' cumulative
    * counts, so the post-run max-struct fold per cell recovers the
    * final sketch. The true top-20 (the verification harness, exactly
    * as in the batch query) streams as a complete-mode word count; both
    * passes compose through the batch query's shared estimate tail —
    * batch-equal in bounded replay, oracle shared with
    * `wc_heavy_hitters_cms`. Production consults only the sketch pass:
    * the 4 KB state answers "which keys are hot enough to salt" at
    * ingest without any per-key shuffle. */
  def streamHeavyHittersCms(spark: SparkSession, sfDir: String): DataFrame = {
    def docs = Tables.stream(spark, sfDir, "documents")
    runHeavyHittersCmsStream(docs, docs)
  }

  /** The transform of [[streamHeavyHittersCms]] on any two streaming
    * docs frames over the same source (spec entry point) — two frames
    * because the sketch and truth passes each drive their own sink,
    * mirroring the batch query's two documented passes. */
  private[graft] def runHeavyHittersCmsStream(sketchDocs: DataFrame,
      truthDocs: DataFrame): DataFrame = {
    val spark = sketchDocs.sparkSession
    import spark.implicits._
    import graft.operators.WordCount
    val cells = runToMemory(
        WordCount.cmsSketch(WordCount.tokenize(sketchDocs, "text")), "update")
      .groupBy($"r", $"b").agg(max($"c").as("c"))
    val top = runToMemory(
        WordCount.counts(WordCount.tokenize(truthDocs, "text")), "complete")
      .orderBy($"cnt".desc, $"word".asc)
      .limit(20)
    WordCount.heavyHittersTail(top, cells)
  }

  /** STREAMING DSIR scoring — the fitted-model-at-ingest twin of
    * `cur_dsir_weights` (the [[streamQualityModel]] pattern): both
    * ≤4096-row models (target-domain and raw-background bag-of-ngrams)
    * are fitted ONCE on static snapshots, materialized, and BROADCAST
    * into every micro-batch's feature expansion — the stream never
    * shuffles features and no model refits per trigger. Scoring is the
    * per-occurrence formulation (one aggregation, streaming-legal;
    * algebraically equal to the batch per-(doc, bucket) form). Per-doc
    * emissions are complete per batch (update mode), so the post-run
    * fold keeps the max-struct — batch-equal in bounded replay, oracle
    * shared with `cur_dsir_weights`. */
  def streamDsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = Tables.stream(spark, sfDir, "documents")
      .filter(isFresh($"doc_id"))
    val static = Tables.documents(spark, sfDir)
    runDsirStream(stream,
      static.filter(isPrior($"doc_id") && $"lang" === "en"),
      static.filter(isFresh($"doc_id")))
  }

  /** The transform of [[streamDsirWeights]] on any streaming docs frame
    * + static (target, raw) model snapshots (spec entry point). */
  private[graft] def runDsirStream(stream: DataFrame, target: DataFrame,
      raw: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.operators.Curation
    val (qp, qq, qp0, qq0) = Curation.dsirModelOn(target, raw)
    val perDoc = Curation.dsirPerDocAgg(stream, qp, qq, qp0, qq0)
    runToMemory(perDoc, "update")
      .groupBy($"doc_id")
      .agg(max(struct($"n_feats", $"weight")).as("s"))
      .select($"doc_id", $"s.n_feats".as("n_feats"), $"s.weight".as("weight"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_events_hourly" -> streamEventsHourly,
    "stream_sessions" -> streamSessions,
    "stream_sessions_ttl" -> streamSessionsTTL,
    "stream_sessions_buffered" -> streamSessionsBuffered,
    "stream_wc_counts" -> streamWordCounts,
    "stream_user_totals" -> streamUserTotals,
    "stream_active_users" -> streamActiveUsers,
    "stream_wc_file_sink" -> streamWcFileSink,
    "stream_click_purchase" -> streamClickPurchase,
    "stream_dedup_exact" -> streamDedupExact,
    "stream_dedup_ttl" -> streamDedupExactTTL,
    "stream_dedup_minhash" -> streamDedupMinhash,
    "stream_dedup_minhash_ttl" -> streamDedupMinhashTTL,
    "stream_dedup_minhash_warmstart" -> streamDedupMinhashWarmstart,
    "stream_dedup_minhash_warmstart_ttl" -> streamDedupMinhashWarmstartTTL,
    "stream_dedup_chunks_ngram" -> streamDedupChunksNgram,
    "stream_pipeline_samples" -> streamPipelineSamples,
    "stream_shard_assign" -> streamShardAssign,
    "stream_pipeline_samples_ttl" -> streamPipelineSamplesTTL,
    "stream_pipeline_samples_warmstart" -> streamPipelineSamplesWarmstart,
    "stream_decontam" -> streamDecontam,
    "stream_decontam_strip" -> streamDecontamStrip,
    "stream_mix_sample" -> streamMixSample,
    "stream_lm_score" -> streamLmScore,
    "stream_quality_model" -> streamQualityModel,
    "stream_dsir_weights" -> streamDsirWeights,
    "stream_heavy_hitters_cms" -> streamHeavyHittersCms,
    "stream_ann_encode" -> streamAnnEncode,
    "stream_gopher_rules" -> streamGopherRules,
    "stream_badwords" -> streamBadwords,
    "stream_badwords_big" -> streamBadwordsBig,
    "stream_bpe_encode" -> streamBpeEncode,
    "stream_bpe_encode_bytes" -> streamBpeEncodeBytes,
    "stream_bpe_encode_ttl" -> streamBpeEncodeTTL,
    "stream_bpe_encode_bytes_ttl" -> streamBpeEncodeBytesTTL,
    "stream_decontam_semantic" -> streamDecontamSemantic,
    "stream_substring_incremental" -> streamSubstringIncremental,
    "stream_substring_incremental_ttl" -> streamSubstringIncrementalTtl,
    "stream_dedup_ahash" -> streamDedupAhash,
    "stream_novelty" -> streamNovelty,
    "stream_dedup_lines" -> streamDedupLines,
    "stream_line_filter" -> streamLineFilter,
  )

  /** Streaming results are checked against the same SQL as their batch
    * twins — the point: stream and batch agree with the oracle. */
  val oracles: Map[String, String] = Map(
    // the batch q19 sessionization oracle verbatim: the stateful
    // gap-fold must reproduce the window formulation exactly
    "stream_sessions" -> graft.operators.Sessions.oracles("q19_sessions"),
    // single-batch feed (watermark zero, no eviction) ⇒ identical to
    // the unbounded fold and the batch window formulation
    "stream_sessions_ttl" -> graft.operators.Sessions.oracles("q19_sessions"),
    // the buffered event-time fold equals the batch window formulation
    // by construction on any admissible feed — same oracle
    "stream_sessions_buffered" -> graft.operators.Sessions.oracles("q19_sessions"),
    "stream_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour, event_type""".stripMargin,
    "stream_wc_counts" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY word""".stripMargin,
    "stream_user_totals" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_active_users" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY user_id HAVING count(*) >= 80 ORDER BY user_id""".stripMargin,
    // time math in integer microseconds on both sides (epoch_us /
    // unix_micros) — both engines floor the parquet NANOS to µs, so the
    // interval bound and the gap are exact
    "stream_click_purchase" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY a.user_id, click_id, purchase_id""".stripMargin,
    // same batch oracle as stream_wc_counts: a hash match across the
    // stop/restart is the exactly-once proof (reprocessing ⇒ 2× counts)
    "stream_wc_file_sink" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY word""".stripMargin,
    // same SQL as the batch dedup_exact oracle: the monotone-emission
    // design (min keep_id / max n_dups fold) makes the streaming result
    // equal the batch result under ANY batch split of the source
    "stream_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    // the batch dedup_lines keep table — winner per distinct line under
    // the (doc_id, line_idx) lexicographic order plus total count; the
    // stream's min/max folds equal this under any batch split
    "stream_dedup_lines" ->
      s"""WITH lines AS (${graft.operators.Curation.reflowLinesSql}),
         |rk AS (
         |  SELECT doc_id, line_idx, line,
         |    row_number() OVER (PARTITION BY md5(line)
         |      ORDER BY doc_id, line_idx) AS rn
         |  FROM lines),
         |c AS (SELECT md5(line) AS h, count(*) AS n_dups
         |      FROM lines GROUP BY md5(line))
         |SELECT c.h, rk.doc_id AS keep_doc,
         |  CAST(rk.line_idx AS BIGINT) AS keep_idx, c.n_dups
         |FROM rk JOIN c ON md5(rk.line) = c.h
         |WHERE rk.rn = 1 ORDER BY h""".stripMargin,
    // stateless per-row verdicts are final on arrival — the batch
    // line-filter SQL verbatim
    "stream_line_filter" -> graft.operators.Curation.oracles("cur_line_filter"),
    // single-batch feed, all ts within the TTL window ⇒ no eviction ⇒
    // identical to the batch result (eviction pinned in StreamingSpec)
    "stream_dedup_ttl" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    // the batch dedup_minhash_lsh oracle: brute-force exact Jaccard over
    // ALL pairs — a genuine recall check on the stateful banded search,
    // independent of both the banding and the state mechanics
    "stream_dedup_minhash" -> graft.operators.Dedup.exactJaccardSql,
    // single-batch in-window feed ⇒ no eviction ⇒ identical to the
    // unbounded form and the batch result (eviction pinned in spec)
    "stream_dedup_minhash_ttl" -> graft.operators.Dedup.exactJaccardSql,
    // warm start: prior residents live only in initial state and never
    // pair with each other, so the output is the exact pairs with >= 1
    // fresh member — fresh x prior plus fresh x earlier-fresh
    "stream_dedup_minhash_warmstart" -> warmstartPairsSql,
    // single-batch in-window feed ⇒ no eviction ⇒ identical to the
    // NoTimeout warm-start (bootstrapped-resident eviction pinned in
    // StreamingSpec)
    "stream_dedup_minhash_warmstart_ttl" -> warmstartPairsSql,
    // single-batch in-window replay ⇒ the full chunk pair search; the
    // oracle is the uncapped exact-Jaccard SQL over the packed chunk CTE
    "stream_dedup_chunks_ngram" -> graft.operators.Curation.chunkExactJaccardSql,
    // the batch composition of exactly the streamed stages (redact →
    // quality → chunk → chunk-level keep-first), spliced from the same
    // engine constants — the monotone-emission design makes the stream
    // equal it under ANY batch split
    "stream_pipeline_samples" -> pipelineSamplesOracleSql,
    // shard ids folded at ingest: single-batch feed ⇒ the fold's
    // in-batch (doc_id, chunk_idx) order ⇒ exactly the batch window
    "stream_shard_assign" -> streamShardAssignOracleSql,
    // single-batch in-window feed ⇒ no eviction ⇒ identical to the
    // unbounded form and the same batch composition (eviction and
    // epoch restart pinned in StreamingSpec)
    "stream_pipeline_samples_ttl" -> pipelineSamplesOracleSql,
    // warm-start: the delta slice's keep-first samples MINUS any chunk
    // whose exact content the prior snapshot contains (the bootstrapped
    // prior-owned suppression); same single-source redaction/quality/
    // chunk splices, snapshot split mirrored in SQL
    "stream_pipeline_samples_warmstart" -> {
      import graft.operators.Curation.{goodSql, keepFirstNotInSql, redSql, snapshotSplitSql}
      s"""WITH ${redSql("documents")},
         |$snapshotSplitSql,
         |${goodSql("redf")},
         |${keepFirstNotInSql("redp")}""".stripMargin
    },
    // the batch decontamination oracle verbatim: stream-static probe +
    // post-hit aggregation must equal the batch overlap filter
    "stream_decontam" -> graft.operators.Curation.oracles("cur_decontam"),
    // the batch mixture oracle verbatim: the bounded replay streams the
    // same corpus the probability table was fitted on, so the gate
    // decisions — per-row deterministic — must reproduce the batch agg
    "stream_mix_sample" -> graft.operators.Curation.oracles("cur_mix_sample"),
    // the batch LM oracle verbatim: same model fitted on the same prior
    // slice, per-doc scores complete on the document's own batch
    "stream_lm_score" -> graft.operators.TextAnalysis.oracles("text_lm_score"),
    // stateless per-doc surgery against the frozen eval artifact — the
    // batch strip oracle verbatim
    "stream_decontam_strip" -> graft.operators.Curation.oracles("cur_decontam_strip"),
    // fitted-model-at-ingest: the frozen prior-slice fit scores the
    // stream, so the batch mirror applies verbatim
    "stream_quality_model" -> graft.operators.TextAnalysis.oracles("text_quality_model"),
    "stream_dsir_weights" -> graft.operators.Curation.oracles("cur_dsir_weights"),
    "stream_heavy_hitters_cms" -> graft.operators.WordCount.oracles("wc_heavy_hitters_cms"),
    "stream_ann_encode" -> graft.operators.Similarity.annEncodeOracleSql,
    "stream_gopher_rules" -> graft.operators.TextAnalysis.oracles("text_gopher_rules"),
    "stream_badwords" -> graft.operators.Curation.oracles("cur_badwords"),
    "stream_badwords_big" -> graft.operators.Curation.oracles("cur_badwords_big"),
    // frozen-vocab encode at ingest ≡ the batch encode on a
    // single-batch feed — the batch encode with the streaming OOV
    // fallback mirrored (r18 ADVICE: values are identical on the
    // vocab-covered driver feed, but the mirrored form stays the
    // contract if a future feed carries unseen words)
    "stream_bpe_encode" ->
      graft.operators.TextAnalysis.bpeEncodeOovSql(
        graft.operators.TextAnalysis.BpeFitMerges),
    "stream_bpe_encode_bytes" ->
      graft.operators.TextAnalysis.bpeEncodeBytesOovSql(
        graft.operators.TextAnalysis.BpeFitMerges),
    // the TTL twins: one in-window micro-batch ⇒ no eviction ⇒
    // batch-equal, same mirrored oracle
    "stream_bpe_encode_ttl" ->
      graft.operators.TextAnalysis.bpeEncodeOovSql(
        graft.operators.TextAnalysis.BpeFitMerges),
    "stream_bpe_encode_bytes_ttl" ->
      graft.operators.TextAnalysis.bpeEncodeBytesOovSql(
        graft.operators.TextAnalysis.BpeFitMerges),
    "stream_decontam_semantic" ->
      graft.operators.Curation.oracles("cur_decontam_semantic"),
    "stream_substring_incremental" ->
      graft.operators.Dedup.oracles("dedup_substring_incremental"),
    // the TTL tier: one in-window micro-batch => no eviction => batch-equal
    "stream_substring_incremental_ttl" ->
      graft.operators.Dedup.oracles("dedup_substring_incremental"),
    "stream_dedup_ahash" -> graft.operators.Multimodal.oracles("mm_dedup_ahash"),
    "stream_novelty" -> graft.operators.Curation.oracles("cur_novelty"),
  )

  /** Exact-Jaccard pairs restricted to ≥ 1 fresh member — the oracle
    * both warm-start forms share. */
  private lazy val warmstartPairsSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) s
        |  FROM toks WHERE len(t) >= 3
        |),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id ai, b.doc_id bi, count(*) c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  WHERE ${freshSql("a.doc_id")}
        |     OR ${freshSql("b.doc_id")}
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT ai AS doc_a, bi AS doc_b,
        |  round(c::DOUBLE / (na.n + nb.n - c), 3) AS jaccard
        |FROM common
        |JOIN sizes na ON ai = na.doc_id
        |JOIN sizes nb ON bi = nb.doc_id
        |WHERE c::DOUBLE / (na.n + nb.n - c) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin

  /** The streamed stages (redact → quality → chunk → chunk-level
    * keep-first) as one oracle statement, each stage spliced from the
    * batch oracles' single definition. */
  private lazy val pipelineSamplesOracleSql: String = {
    import graft.operators.Curation.{goodSql, keepFirstSql, redSql}
    s"""WITH ${redSql("documents")},
       |${goodSql("red")},
       |$keepFirstSql""".stripMargin
  }

  /** The shard window over the STREAMED stages' sample set — the exact
    * batch `cur_shard_assign` tail, applied to the stream pipeline's
    * own (near-dup-free, lambda-split) sample set: on a single-batch
    * feed the ingest fold must reproduce it row for row. */
  private lazy val streamShardAssignOracleSql: String =
    graft.operators.Curation.shardAssignSql(pipelineSamplesOracleSql)
}
