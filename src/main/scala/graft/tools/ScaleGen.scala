package graft.tools

import org.apache.spark.sql.functions._

/** Builds the R× scaling corpus behind SCALING.md's MEASURED table — a
  * dev/audit tool, not part of the query surface.
  *
  * Documents: replica 0 is the sf-dir corpus verbatim; replica k > 0
  * offsets doc_id and suffixes EVERY TOKEN with `~k`, so cross-replica
  * shingles can never collide while each replica keeps the original
  * corpus's intra-replica near-dup structure exactly. Pair outputs
  * therefore scale linearly (×R) — the shape of a corpus that GREW R× —
  * whereas naive replication would create R-sized duplicate families
  * and a quadratic (×R²) pair explosion, i.e. a *different* workload
  * rather than a bigger one. The token suffix also grows the shingle
  * universe ×R, matching real growth (new content, new vocabulary).
  *
  * Embeddings: ids offset, vectors replicated verbatim — every ANN
  * candidate structure (cell occupancy, bucket residents) scales ×R,
  * the honest "10× residents per cell" shape for search timings. The
  * embed-cosine DEDUP queries are excluded from the scale battery
  * instead: identical cross-replica vectors are true exact duplicates,
  * so their pair space scales ×R² by construction (see SCALING.md).
  *
  * VECTOR MODE (`vecmode` as the 4th arg, r17 VERDICT #4) fixes that
  * for the embed DEDUP family by writing ONLY an embeddings table
  * shaped like a corpus that GREW ×R: replica k > 0 offsets vec_id
  * AND label by the stride (cross-replica candidate pairs are
  * structurally EMPTY — the blocked/incremental joins all key on
  * label first, and no label spans replicas) and ε-perturbs each
  * vector MULTIPLICATIVELY, x·(1 + εu) with deterministic
  * u ∈ [−1, 1] from xxhash64(vec_id, coord) and ε = 0.01: vectors are
  * no longer byte-identical exact duplicates, every pairwise cosine
  * moves by O(ε) so the planted intra-replica near-dup structure
  * survives exactly, and — because 1 + εu > 0 — every coordinate KEEPS
  * its sign, so each replica's sign-band cell structure is exactly
  * replica 0's: per-cell occupancy constant, candidate space ×R
  * linear. dedup_semantic still sizes k-means cells to the corpus for
  * its linearity (the SemDeDup k ∝ n argument, SemanticScaleProbe);
  * vecmode gives it a non-degenerate pair space to do that over. The
  * id stride is ≡ 0 mod SnapshotMod, so every replica carries the
  * same 80/20 prior/delta split as replica 0.
  *
  * Queries (`vec_id < NumQueries`) exist only in replica 0 — the
  * query count is a constant of the workload, not a scale axis.
  *
  * Relational tables (r17, for the FULL-battery ×R run): facts and
  * per-entity dimensions replicate with ALL their keys offset by the
  * same replica stride — customer/supplier/part/orders/lineitem move
  * (c_custkey, s_suppkey, p_partkey, o_orderkey ∪ o_custkey,
  * l_orderkey ∪ l_partkey ∪ l_suppkey) together so every join's
  * fan-out is exactly the original's, R times over ("R× more
  * customers with the same shape"), and events offsets
  * (event_id, user_id) with ts untouched (same time span, R× the
  * concurrent users — windows get R× rows, sessions stay
  * per-replica). region/nation are CONSTANT dimensions (25 rows is
  * the world's nation count, not a scale axis) and copy verbatim;
  * fact FKs to them are unchanged, so nation/region joins fan out R×
  * per dimension row exactly as a grown corpus would. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val vecMode = args.lift(3).contains("vecmode")
    // documents-only mode (r20, for the ×100 spot runs): the document-
    // table pipelines don't read the relational tables, and ×100
    // lineitem would dominate the generation wall for nothing
    val docsMode = args.lift(3).contains("docsmode")
    val spark = graft.SessionTuning.benchSession("graft-scale-gen")
    // The stride GROWS with the source's id range (r20: a fixed stride
    // failed chained runs — ScaleGen output fed back in as a source for
    // ×10 → ×100 — because the grown ids already exceeded it): replica
    // id ranges can then never interleave, which would merge
    // cross-replica documents and corrupt the ×R linear-pairs claim
    // this generator exists to test. docsMode sources may themselves be
    // docsMode outputs carrying no embeddings table, so only the tables
    // about to be read contribute.
    def tableMaxId(table: String, idCol: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(idCol))).head().getLong(0)
    val srcMax = tableMaxId("documents", "doc_id") max
      (if (docsMode) 0L else tableMaxId("embeddings", "vec_id"))
    val idStride = math.max(1000000L, srcMax + 1)
    // stay under the 2^43 packed-chunk-key doc_id bound
    require(idStride * replicas < (1L << 43),
      s"ScaleGen: idStride $idStride x $replicas replicas exceeds the " +
        "2^43 packed-chunk-key doc_id bound")

    if (vecMode) {
      // grown-corpus embeddings for the embed dedup family (scaladoc):
      // ids + labels offset, vectors sign-preservingly ε-perturbed
      val eps = 0.01
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until replicas).map { k =>
        val d = emb
          .withColumn("vec_id", col("vec_id") + lit(k * idStride))
          .withColumn("label", col("label") + lit(k * 1000))
        if (k == 0) d
        else d.withColumn("embedding",
          transform(col("embedding"), (x, i) => (x * (lit(1.0) + lit(eps) *
            ((pmod(xxhash64(col("vec_id"), i), lit(2001L)) - lit(1000L))
              .cast("double") / lit(1000.0)))).cast("float")))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"SCALEGEN_DONE out=$out replicas=$replicas mode=vec")
      spark.stop()
      return
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until replicas).map { k =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(k * idStride))
      if (k == 0) d
      else d.withColumn("text",
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " "))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    if (docsMode) {
      println(s"SCALEGEN_DONE out=$out replicas=$replicas mode=docs")
      spark.stop()
      return
    }

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until replicas).map { k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * idStride))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // constant dimensions: copied verbatim (see scaladoc)
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    // keyed tables: every id column offset by the replica stride so
    // join fan-outs replicate instead of cross-multiplying
    val keyed: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"))
    for ((t, keys) <- keyed) {
      // events goes through the encoding-sniffing loader (the ts footer
      // encoding has drifted between rounds); the written artifact is
      // then plain TIMESTAMP, which the loader also handles
      val df = if (t == "events") graft.sources.Tables.events(spark, src)
               else spark.read.parquet(s"$src/$t.parquet")
      (0 until replicas).map { k =>
        keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * idStride)))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    println(s"SCALEGEN_DONE out=$out replicas=$replicas")
    spark.stop()
  }
}
