package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>[64]`, `label`).
  *
  * Two paths, per the standard ANN playbook:
  *  - brute-force cosine top-k — the exactness baseline. Queries are a
  *    small broadcast side against a full scan of the corpus; per-query
  *    ranking is a partitioned window (parallel across queries). This is
  *    the O(Q·N) plan you actually want when Q is small, even at scale.
  *  - random-hyperplane LSH (Charikar) with L hash tables of k bits —
  *    the sublinear scale path. Signatures are computed per vector once
  *    (map-side), candidates come from equi-joins on (table, signature)
  *    — a shuffle key, never an all-pairs product. Hyperplanes are
  *    pseudo-random but fully deterministic: component (t,bit,dim) is
  *    derived from a hash of the indices, so plans are reproducible with
  *    no driver-side randomness or fitted model state.
  */
object Similarity {

  final val TopK = 5
  final val NumQueries = 10 // vec_id < 10 are the query vectors
  // 16 tables × 4 bits: on this data's neighbor cosines (~0.45) the
  // per-table bucket-match probability is ~0.18, so candidate recall is
  // 1-(1-0.18)^16 ≈ 0.96. Fewer, wider tables trade candidate volume for
  // recall — the right trade on weakly-similar (worst-case) data; on real
  // corpora with tight clusters, more bits per table re-sharpens buckets.
  // (Values live in LshImpl so the one-pass expression and this module
  // can never drift apart.)
  final val LshTables: Int = graft.functions.LshImpl.Tables
  final val LshBits: Int = graft.functions.LshImpl.Bits

  private[graft] def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), VectorOps.toDouble(col("embedding")).as("v"))

  /** Deterministic pseudo-random hyperplane for (table, bit): components
    * in [-1, 1) derived from FNV-1a of the index triple — the same values
    * the one-pass LshSignatures expression bakes in (delegated so spec
    * assertions pin them equal). No RNG state, no fitted model. */
  private[graft] def hyperplane(table: Int, bit: Int): Seq[Double] =
    (0 until 64).map(d => graft.functions.LshImpl.component(table, bit, d))

  /** Exact brute-force cosine top-k for the query set (vec_id < NumQueries),
    * excluding self-matches. */
  def simTopKBrute(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val scored = broadcast(q).join(e, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        VectorOps.cosine($"qv", $"v").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rk")
  }

  /** Per-vector LSH signatures, exploded to (vec_id, table, sig) — all
    * tables from one pass over the vector (custom LshSignatures
    * expression), then posexplode for the band join. */
  private[graft] def signatures(e: DataFrame): DataFrame =
    e.withColumn("sigs", graft.functions.LshSignatures(col("v")))
      .select(col("vec_id"), col("v"), posexplode(col("sigs")).as(Seq("t", "sig")))

  /** ANN top-k: candidates = vectors sharing any (table, signature) bucket
    * with the query, then exact cosine re-rank within candidates. Sublinear
    * when buckets are selective; degrades gracefully toward scan on
    * uniformly weakly-similar data (which this synthetic set is). */
  def simAnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val sigs = signatures(e)
    val qsigs = sigs.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"t", $"sig")
    // candidate dedup (a pair can collide in several tables) is a
    // groupBy on (query_id, vec_id) with the vector riding along
    // (first(v) — every row of a group carries the identical array):
    // ONE candidate-sized shuffle, vs the previous distinct-then-
    // re-join shape that re-scanned the whole corpus to fetch v back
    // (ScanAudit: embeddings full scans 2 → 1). Candidates ≪ corpus
    // is LSH's contract, so the carried width beats the re-scan.
    val cands = broadcast(qsigs).join(sigs, Seq("t", "sig"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id").agg(first($"v").as("v"))
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
    cands
      .join(broadcast(q), "query_id")
      .select($"query_id", $"vec_id", VectorOps.cosine($"qv", $"v").as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rk")
  }

  /** IVF coarse-quantizer parameters: NumCentroids seeded cells,
    * NProbe cells probed per query. NProbe = 10 (r15, was 4): the
    * measured recall@5 curve on this corpus is 0.48/0.66/0.80/0.88/
    * 0.92/0.96 at nprobe 4/6/8/10/12/14 with WALL FLAT-TO-FALLING
    * (2.9 → 0.9 s — per-query fixed costs dominate at this SF), so the
    * benched default sits at 0.88, past the ≥ 0.8 production bar with
    * margin. 10 of 16 cells is the isotropic-synthetic worst case —
    * on a clustered real corpus the same recall needs nprobe ≪ nlist
    * (the SCALING.md §ANN adjudication); the knob stays per-call
    * (`simAnnIvfOn`). */
  final val NumCentroids = 16
  final val NProbe = 10

  /** ANN via an IVF-style coarse quantizer — the classic scale path
    * next to LSH ([[simAnnLsh]]): every vector is ASSIGNED to its
    * closest of [[NumCentroids]] centroid cells (argmax cosine), each
    * query probes its [[NProbe]] closest cells, and the exact re-rank
    * runs only within the probed cells' residents. Centroids are
    * SEEDED deterministically (the vectors with the NumCentroids
    * lowest ids after the query range) rather than Lloyd-fitted: the
    * structure — bounded candidate cells, broadcast probe, cell
    * equi-join — is the production IVF shape, while deterministic
    * seeds keep the whole query oracle-checkable (production would
    * iterate k-means on the same plan: score → argmax → mean-agg).
    *
    * Scale shape: the 16 centroids are collected driver-side (bounded,
    * the quantizer IS the model — same footing as a broadcast model)
    * and baked into a per-row assignment expression: assignment is
    * pure map work, NO shuffle; the only exchanges are the candidate
    * cell equi-join (probe side broadcast, query-count × NProbe rows)
    * and the per-query top-k window. Candidates are unique by
    * construction (a vector lives in exactly one cell), so no
    * distinct. */
  def simAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfOn(spark, sfDir, NProbe)

  private[graft] def simAnnIvfOn(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    // per-row score vector against the baked centroids; argmax position
    // (first-on-tie = lowest cell id, matching the oracle's cid ASC).
    // BIT-PARITY DEPENDENCY: this argmax (and the oracle's ORDER BY
    // cosine DESC) assumes VectorOps.cosine and the oracle's cosSql
    // produce bit-identical doubles — both are the same sequential
    // dot/(√·√) expression DAG over identical inputs, which is what the
    // whole Similarity oracle family already relies on (sim_topk_brute's
    // rank order is the same dependency). A one-ulp divergence here
    // would flip a vector into a different CELL — changing the candidate
    // SET, not just a rank tie — which output rounding cannot mask; the
    // Lloyd-fitted variant below hardens this by rounding scores to
    // AssignRound decimals on both engines before the argmax.
    val scoreArr = cosineScores(cents)
    ivfSearchWith(e, scoreArr, nprobe)
  }

  /** Incremental IVF index maintenance: the corpus's cell-assignment
    * index is extended by assigning ONLY a fresh snapshot delta against
    * the FROZEN coarse quantizer, and search runs over prior-artifact ∪
    * delta — the production shape for a growing 100 TB vector corpus,
    * where re-assigning everything per ingest is a full corpus pass but
    * the delta assignment is delta-sized map work appended to a
    * write-once index artifact (cell is the natural partition key: an
    * append is partition-local, and the probe join stays an equi-join
    * against the same layout). The quantizer is frozen AT INDEX
    * CREATION — the same deterministic seed set as [[simAnnIvf]] —
    * which is precisely what makes maintenance OUTPUT-INVISIBLE:
    * assignment is a deterministic per-row function of (v, centroids),
    * so slice-wise assignment ∪ equals whole-corpus assignment by
    * construction, and this query SHARES simAnnIvf's oracle the way
    * the Bloom-gated incremental shares the plain incremental's — the
    * sharing IS the correctness claim. (A production pipeline re-fits
    * the quantizer only when drift degrades recall, then rebuilds —
    * the rebuild is [[simAnnIvfKmeans]]'s fit; the steady state is
    * this query.) The snapshot split reuses the documents convention:
    * vec_id % [[Dedup.SnapshotMod]] ≥ [[Dedup.SnapshotNewMin]] is the
    * fresh delta. */
  def simAnnIvfIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    val scoreArr = cosineScores(cents)
    val (prior, fresh) = Dedup.snapshotSplit(e, "vec_id")
    val assigned = assignedCells(prior, scoreArr)
      .unionByName(assignedCells(fresh, scoreArr))
    ivfSearchOverAssigned(e, assigned, scoreArr, NProbe)
  }

  /** The 16 deterministic seed centroids (the vectors right after the
    * query range), collected driver-side — bounded; the quantizer IS
    * the model, same footing as a broadcast model. */
  private[graft] def seedCentroids(e: DataFrame): Seq[Seq[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    e.filter($"vec_id" >= NumQueries && $"vec_id" < NumQueries + NumCentroids)
      .orderBy($"vec_id")
      .select($"v").collect().map(_.getSeq[Double](0).toSeq).toSeq
  }

  /** The per-vector cell assignment against a baked score array —
    * pure map work, no shuffle. Factored out so the incremental index
    * form ([[simAnnIvfIncremental]]) can assign the prior corpus and a
    * fresh delta as SEPARATE slices (or read the prior side back from
    * a written artifact, as SimilaritySpec demonstrates) and feed the
    * union into the identical search tail. */
  private[graft] def assignedCells(e: DataFrame, scoreArr: Column): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cellExpr = (array_position(scoreArr, array_max(scoreArr)) - 1).cast("int")
    e.select($"vec_id", $"v", cellExpr.as("cell"))
  }

  /** The shared IVF search tail: assignment argmax + nprobe probe
    * cells from a per-row score ARRAY (double scores for the seeded
    * variant, quantized long scores for the Lloyd-fitted one), then
    * cell equi-join candidates and the exact cosine re-rank. */
  private def ivfSearchWith(e: DataFrame, scoreArr: Column, nprobe: Int): DataFrame =
    ivfSearchOverAssigned(e, assignedCells(e, scoreArr), scoreArr, nprobe)

  /** Query probe cells: indices of the nprobe best scores — sort
    * (−score, idx) ascending so ties fall to the lower cell id. The ONE
    * routing expression every IVF-family consumer shares (plain search
    * tail, ADC search tail, the candidate-pool accessors below) —
    * shared so the composition claim "IVF-PQ changes the scoring inside
    * probed cells, never the routing" is structural, not coincidental. */
  private[graft] def probeCellsExpr(scoreArr: Column, nprobe: Int): Column =
    slice(
      sort_array(zip_with(scoreArr, sequence(lit(0), lit(NumCentroids - 1)),
        (s, i) => struct((-s).as("ns"), i.as("idx")))),
      1, nprobe).getField("idx")

  /** The pre-scoring candidate pool (query_id, vec_id) a probe
    * structure surfaces: probes × cell-membership minus self. Used by
    * SimilaritySpec to pin that the IVF and IVF-PQ paths route over the
    * IDENTICAL candidate pairs at reduced nprobe — the non-vacuous form
    * of the composition claim (top-k sets legitimately differ between
    * exact-cosine and ADC scoring, so only the pool itself can be
    * compared). */
  private[graft] def candidatePairs(e: DataFrame, assigned: DataFrame,
      scoreArr: Column, nprobe: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val probes = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), explode(probeCellsExpr(scoreArr, nprobe)).as("cell"))
    broadcast(probes).join(assigned, Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
  }

  /** Candidate pool of the seeded-IVF search path at the given nprobe:
    * routing = seeded-centroid cosine scores, membership = the direct
    * [[assignedCells]] frame — exactly what [[simAnnIvfOn]] joins. */
  private[graft] def ivfCandidatePairsOn(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    val scoreArr = cosineScores(cents)
    candidatePairs(e, assignedCells(e, scoreArr), scoreArr, nprobe)
  }

  /** Candidate pool of the IVF-PQ search path at the given nprobe:
    * routing = the same seeded scores, membership = the MATERIALIZED
    * residual frame's (vec_id, cell) — the cells [[ivfPqEncode]]
    * carries verbatim into the code artifact [[ivfPqAdcSearch]] joins.
    * Comparing this against [[ivfCandidatePairsOn]] pins that the
    * materialize/encode pipeline preserved the assignment bit-for-bit
    * (the codebook fit cannot change cells, so it is skipped). */
  private[graft] def ivfPqCandidatePairsOn(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    val scoreArr = cosineScores(cents)
    candidatePairs(e, ivfResidFrame(e, cents).select($"vec_id", $"cell"),
      scoreArr, nprobe)
  }

  /** Search tail over an EXPLICIT (vec_id, v, cell) assignment frame —
    * the seam that makes index maintenance injectable: the full
    * variants pass the freshly-computed assignment of the whole
    * corpus; the incremental variant passes prior-artifact ∪ delta. */
  private[graft] def ivfSearchOverAssigned(
      e: DataFrame, assigned: DataFrame, scoreArr: Column,
      nprobe: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val probeCells = probeCellsExpr(scoreArr, nprobe)
    // the vector rides through the (broadcast) cell join — cells are
    // disjoint so candidates are unique by construction and no second
    // corpus pass is needed: re-joining the table by vec_id to fetch v
    // (the previous shape) cost a full re-scan PLUS a corpus-wide
    // sort-merge shuffle; carrying v costs only candidate-row width
    // through map-side work (ScanAudit: embeddings full scans 2 → 1)
    val probes = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), explode(probeCells).as("cell"))
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
    broadcast(probes).join(assigned, Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(q), "query_id")
      .select($"query_id", $"vec_id", VectorOps.cosine($"qv", $"v").as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rk")
  }

  /** Lloyd-fit parameters for [[simAnnIvfKmeans]]: fixed iteration
    * count (determinism is what keeps the whole fit oracle-checkable)
    * and the two integer-quantization scales that make every
    * cross-engine comparison exact — see [[fitCentroids]]. */
  final val KMeansIters = 2
  /** Vector components are floor-quantized to 1e-6 before the per-cell
    * mean: integer SUMS are exact and order-independent, so the mean
    * (one int→double conversion + one division) is bit-identical in
    * Spark and DuckDB — no float-aggregation summation-order hazard. */
  final val QuantScale = 1000000L
  /** Assignment/probe scores are floor(cosine·1e12) compared as LONGs:
    * an integer key both engines derive identically from bit-identical
    * cosines. floor, NOT round — Spark round() (HALF_UP on the
    * shortest-decimal) and DuckDB round() (binary half-away) can
    * diverge on IDENTICAL input, while floor of the same product
    * cannot; a one-ulp cosine divergence only flips the key if the
    * product crosses an integer boundary (1e-12-measure event) instead
    * of flipping the raw argmax outright — the robust-assignment form
    * the seeded variant's bit-parity note calls for. */
  final val ScoreScale = 1e12

  /** ANN via an IVF quantizer whose centroids are Lloyd-FITTED — the
    * production path the seeded [[simAnnIvf]] documents: [[KMeansIters]]
    * k-means iterations, each one `score → argmax → mean-agg` on the
    * same declarative plan (assignment is per-row map work against the
    * baked centroids; the mean is ONE 65-column partial aggregate —
    * map-side combined, 16 rows × 65 longs collected per iteration),
    * then the identical probe/cell-join/re-rank tail. Deterministic
    * seeds + fixed iterations + integer-quantized arithmetic keep the
    * full fit hash-checkable against a DuckDB mirror of every
    * iteration. */
  def simAnnIvfKmeans(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfKmeansOn(spark, sfDir, NProbe, KMeansIters)

  private[graft] def simAnnIvfKmeansOn(spark: SparkSession, sfDir: String,
      nprobe: Int, iters: Int): DataFrame = {
    val e = embeddings(spark, sfDir)
    val fitted = fitCentroids(e, seedCentroids(e), iters)
    ivfSearchWith(e, quantScores(fitted), nprobe)
  }

  /** Quantized per-row score vector against baked centroids:
    * floor(cosine·[[ScoreScale]]) as LONG (see the constant's note). */
  private def quantScores(cents: Seq[Seq[Double]]): Column =
    graft.functions.CentroidQuantScores(col("v"), cents, ScoreScale)

  /** Fused per-row centroid cosine vector (r22): ONE expression node
    * over a digest-equality payload instead of the 16-branch
    * cosine-vs-typedLit tree — same values bit-for-bit
    * (CentroidOpsSpec pins both output types against the literal
    * trees, which survive there as the differential oracle). Plans
    * that embed several copies (assignment + routing + incremental
    * slices) stop paying analyzer/optimizer/codegen walks per copy. */
  private[graft] def cosineScores(cents: Seq[Seq[Double]]): Column =
    graft.functions.CentroidCosines(col("v"), cents)

  /** The literal-tree formulation — retained test-only as the
    * differential oracle for [[cosineScores]] (CentroidOpsSpec). */
  private[graft] def cosineScoresUnfused(cents: Seq[Seq[Double]]): Column =
    array(cents.map(cv => VectorOps.cosine(col("v"), typedLit(cv))): _*)

  /** Literal-tree quantized scores — test-only differential oracle for
    * [[quantScores]]'s fused form. */
  private[graft] def quantScoresUnfused(cents: Seq[Seq[Double]]): Column =
    array(cents.map(cv =>
      floor(VectorOps.cosine(col("v"), typedLit(cv)) * lit(ScoreScale)).cast("long")): _*)

  /** Fixed-iteration Lloyd fit. Per iteration: quantized-argmax cell
    * assignment (map work, no shuffle), then per-cell integer sums of
    * the [[QuantScale]]-quantized components — a single 65-column
    * partial aggregate whose shuffle carries 16 cells × partitions —
    * and the bounded 16×65 collect folds the new centroids
    * driver-side: component = sum / (n · [[QuantScale]]), one exact
    * integer→double conversion + one division on both engines. An
    * empty cell keeps its previous centroid (the DuckDB mirror
    * COALESCEs identically). */
  private[graft] def fitCentroids(e: DataFrame, seeds: Seq[Seq[Double]],
      iters: Int): Seq[Seq[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val dims = graft.functions.LshImpl.Dims
    // DELIBERATELY no explicit-width repartition here (contrast
    // fitPqCodebooks): this fit's per-row work is one argmax over
    // NumCentroids cells — cheap enough that at bench scale the
    // repartition's shuffle + 32-task scheduling overhead MEASURED
    // slower than the serial pass it parallelizes (warm +0.6 s on
    // sim_ann_ivf_kmeans). On a many-file production corpus the scan
    // is already wide and the aggregate distributes without help.
    var cents = seeds
    for (_ <- 0 until iters) {
      val scoreArr = quantScores(cents)
      val cellExpr = (array_position(scoreArr, array_max(scoreArr)) - 1).cast("int")
      val vq = transform($"v", x => floor(x * lit(QuantScale)).cast("long"))
      val sumCols = (0 until dims).map(d => sum(element_at($"vq", d + 1)).as(s"s$d"))
      val rows = e.select(cellExpr.as("cell"), vq.as("vq"))
        .groupBy($"cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      val byCell = rows.map(r => r.getInt(0) -> r).toMap
      cents = cents.indices.map { c =>
        byCell.get(c).fold(cents(c)) { r =>
          val n = r.getLong(1)
          (0 until dims).map(d => r.getLong(2 + d).toDouble / (n * QuantScale.toDouble))
        }
      }
    }
    cents
  }

  /** Per-term quantum for the SQ8 asymmetric score: each dimension's
    * q·x̂ product floors onto this grid BEFORE the sum, making the
    * 64-term score an ORDER-FREE integer sum (the lmQf discipline) —
    * float addition reassociation between Spark's partial aggregation
    * and DuckDB's sequential fold can never bite. */
  final val Sq8TermScale = 1e12

  /** SCALAR QUANTIZATION (SQ8, the FAISS ScalarQuantizer): per-DIM
    * linear 8-bit codes — c_d = floor((x_d − min_d)·255/(max_d − min_d)
    * + 0.5) — giving a 64 B/vector artifact (4× under float32, next to
    * PQ's 32×) with far better reconstruction than PQ on uniform data.
    * The model is the 64 (min, max) pairs: ONE exploded min/max agg
    * over the corpus (min/max are order-free, so the fit itself is
    * oracle-exact with no quantization tricks), collected bounded and
    * baked as literals. Search is ASYMMETRIC: raw query against
    * dequantized candidates, score = Σ_d ⌊q_d·x̂_d·[[Sq8TermScale]]⌋ —
    * integer terms, integer sum. Pure map + the per-query top-k
    * window; at scale SQ8 composes with IVF routing (this query is the
    * whole-corpus scan form, the exactness baseline of that
    * composition). */
  def simAnnSq8(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    // the model: per-dim (min, max) — 64 rows at any corpus size
    val dims = e
      .select(posexplode($"v").as(Seq("d", "x")))
      .groupBy($"d").agg(min($"x").as("mn"), max($"x").as("mx"))
      .orderBy($"d")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val terms = dims.zipWithIndex.map { case ((mn, mx), d) =>
      val x = element_at($"v", d + 1)
      val xhat =
        if (mx == mn) lit(mn) // constant dim: code 0, exact reconstruction
        else lit(mn) + floor((x - lit(mn)) * lit(255.0) / lit(mx - mn) + lit(0.5)) *
          lit((mx - mn) / 255.0)
      floor(element_at($"qv", d + 1) * xhat * lit(Sq8TermScale)).cast("long")
    }
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val w = Window.partitionBy($"query_id").orderBy($"score_q".desc, $"vec_id".asc)
    e.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", terms.reduce(_ + _).as("score_q"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", $"score_q")
      .orderBy($"query_id", $"rk")
  }

  /** Product-quantization geometry: [[PqSubspaces]] disjoint
    * [[PqSubDim]]-dim subspaces (8×8 over 64 dims), [[NumCentroids]]
    * codewords per subspace ⇒ a 4-bit code per subspace, 8 codes ≈ 8
    * bytes per vector vs 256 bytes of floats — the 32× memory
    * compression that lets a 100 TB embedding corpus's index live in
    * cluster RAM (Jégou, Douze, Schmid 2011, "Product Quantization
    * for Nearest Neighbor Search"). */
  final val PqSubspaces = 8
  final val PqSubDim: Int = graft.functions.LshImpl.Dims / PqSubspaces

  /** ANN via PRODUCT QUANTIZATION with asymmetric distance computation
    * (ADC): every corpus vector is ENCODED once as [[PqSubspaces]]
    * small codes (per-subspace nearest codeword — per-row map work
    * against baked literals, no shuffle); each query builds an
    * [[PqSubspaces]]×[[NumCentroids]] lookup table of sub-dot-products
    * and scores candidates by 8 TABLE LOOKUPS + integer adds instead
    * of a 64-dim float dot — the scan form that makes brute-force over
    * a compressed corpus feasible. Codebooks are SEEDED (the sub-slices
    * of the IVF seed vectors) for the same reason [[simAnnIvf]]'s
    * centroids are: production Lloyd-fits each subspace on exactly the
    * [[fitCentroids]] plan, and determinism keeps the whole search
    * oracle-checkable.
    *
    * Codebooks are Lloyd-FITTED per subspace on the SAME distributed
    * plan shape as [[fitCentroids]] (round 11 — previously raw seed
    * slices, the one model fit in the repo that wasn't executor-side):
    * [[KMeansIters]] iterations, each ONE aggregation over the
    * (subspace, subvector) fan-out — per-row argmin assignment for all
    * 8 subspaces, posexplode, groupBy (m, cell) integer sums — with a
    * bounded 8×16-cell × (count + 8 sums) collect folding the new
    * codewords driver-side, exactly the quantization discipline of the
    * IVF fit (integer sums ⇒ order-free, empty cell keeps its
    * codeword). The oracle unrolls the identical fit in SQL.
    *
    * Parity: code assignment drops the per-subspace-constant ‖x_m‖²
    * term and compares floor((‖c‖² − 2·x_m·c)·[[ScoreScale]]) as LONGs
    * (with ‖c‖² a Scala-computed left-to-right fold ≡ DuckDB
    * list_dot_product(cv,cv), baked as a literal engine-side and
    * recomputed from the identical folded components oracle-side);
    * table entries are floor(q_m·c·[[ScoreScale]]) LONGs, so the ADC
    * score is a SUM OF 8 INTEGERS — order-free, reassociation-proof,
    * identical on any engine. */
  def simAnnPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cb = fitPqCodebooks(e, seedCentroids(e), KMeansIters)
    // explicit-width repartition before encode+ADC: the 1-task bench
    // scan otherwise runs the whole compressed-corpus scoring pass
    // single-threaded (same hazard as the fit passes above); the window
    // re-shuffles on query_id regardless, so this only spreads the
    // map-side work
    val codes = e
      .repartition(spark.sparkContext.defaultParallelism, $"vec_id")
      .select($"vec_id", pqCodesCol(cb, $"v").as("code"))
    // ONE CodebookRef across the 8 table columns (ADVICE r21): every
    // cross-expression equality probe is a reference hit
    val ref = new graft.functions.CodebookRef(cb, ScoreScale)
    def tabCol(m: Int): Column =
      graft.functions.PqAdcTable($"qv", ref, m)
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
      .select($"query_id" +: (0 until PqSubspaces).map(m => tabCol(m).as(s"tab$m")): _*)
    val score = (0 until PqSubspaces).map(m =>
      element_at(col(s"tab$m"), element_at($"code", m + 1) + 1)).reduce(_ + _)
    val w = Window.partitionBy($"query_id").orderBy($"score_q".desc, $"vec_id".asc)
    codes.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", score.as("score_q"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", $"score_q")
      .orderBy($"query_id", $"rk")
  }

  /** First codebook-seed vector for [[simAnnIvfPq]]: the 16 vectors
    * right AFTER the coarse-centroid range. The coarse seeds themselves
    * are useless as residual-codebook seeds — each one is its own
    * cell's centroid, so its residual is exactly the zero vector. */
  final val IvfPqSeedBase: Int = NumQueries + NumCentroids

  /** IVF-PQ composed ANN — the production index shape (IVFADC, Jégou,
    * Douze, Schmid 2011 §IV: FAISS's IndexIVFPQ): the COARSE quantizer
    * of [[simAnnIvf]] routes each query to its [[NProbe]] best cells,
    * and within the probed cells candidates are scored by PRODUCT-
    * QUANTIZED codes over RESIDUALS (v − centroid(cell)) — the
    * composition that gives both the sublinear candidate set (IVF) and
    * the compressed in-RAM scan (PQ), and quantizes residuals rather
    * than raw vectors because their spread within a cell is what's
    * left to encode. Scoring decomposes exactly: q·x̂ = q·c_cell +
    * q·pq(r), so the ADC score is ONE per-(query, cell) coarse term
    * (an integer, computed per probe — NProbe of them per query) plus
    * the [[PqSubspaces]] table lookups of [[simAnnPq]], all LONGs —
    * order-free and engine-independent.
    *
    * Codebooks are Lloyd-FITTED on the residuals with the identical
    * distributed plan as [[simAnnPq]]'s raw-vector fit —
    * [[fitPqCodebooks]] reads only a `v` column, so the residual frame
    * drops straight in (seeds: the residuals of the 16 vectors after
    * the coarse range, each against its own assigned cell — the coarse
    * seeds themselves have zero residuals). Fitting matters more here
    * than for raw PQ: the measured recall of seeded residual codebooks
    * trails seeded raw ones, while fitted residual codebooks beat
    * fitted raw ones (SimilaritySpec pins the comparison) — the
    * within-cell spread that residuals expose is exactly what the fit
    * adapts to. The oracle unrolls the same fit via the shared
    * pqFitCtes chain pointed at its residual CTE.
    *
    * Scale shape: encode is per-row map work against baked literals
    * (assign + subtract + 8 argmins, NO shuffle); the index artifact is
    * (vec_id, cell, 8 codes) ≈ 13 B/vector — the point of PQ; search
    * touches only probed cells' residents through the same broadcast
    * cell join as [[simAnnIvf]], scoring by integer adds. */
  def simAnnIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfPqOn(spark, sfDir, NProbe)

  private[graft] def simAnnIvfPqOn(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    val (e, cents, cb, codes) = ivfPqIndex(spark, sfDir)
    ivfPqAdcSearch(e, cents, cb, codes, nprobe)
  }

  /** Codewords per subspace for the 8-BIT tiers: 256 — the FAISS
    * default (nbits = 8). At 8 subspaces × 1 byte = 8 B codes/vector
    * (32× compression), 16× the per-subspace resolution of the 4-bit
    * tier: raw recall@5 doubles (0.14 → 0.30 at sf0.1, quantization-
    * capped flat in nprobe on this isotropic corpus) and the exact-
    * rerank pool needed for 0.82 drops 600 → 100. Standalone raw
    * ranking needs more code BYTES, not more probe — see
    * [[Pq32Subspaces]]'s measured curve. */
  final val Pq8Codewords = 256

  /** 8-BIT IVF-PQ — [[simAnnIvfPq]] with [[Pq8Codewords]]-entry
    * residual codebooks (seeds: the 256 vectors after the coarse
    * range). Identical composition, fit discipline and ADC search;
    * only the codebook size differs. This is the tier the r14
    * experiment showed recall-viable but wall-infeasible under the
    * baked-literal encode (2048 dot_const nodes/row, 10× wall —
    * SCALING.md r14); the fused [[pqCodesCol]]/[[graft.functions.PqEncode]]
    * table-lookup encode is what ships it (r15 VERDICT #1), at ~1.3×
    * the 4-bit tier's wall. */
  def simAnnIvfPq8b(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfPq8bOn(spark, sfDir, NProbe)

  private[graft] def simAnnIvfPq8bOn(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    val (e, cents, cb, codes) = ivfPqIndexAt(spark, sfDir, Pq8Codewords)
    ivfPqAdcSearch(e, cents, cb, codes, nprobe)
  }

  /** Subspace count for the 32-BYTE-code tier: 32 subspaces of 2 dims
    * each (× 8-bit codebooks = 256-bit codes, 8× compression of the
    * raw store; half of SQ8's 64 B). The knob that buys STANDALONE
    * recall on isotropic data, where fewer code bits are
    * information-theoretically capped — the r16 full-probe un-reranked
    * sweep at sf0.1 measured recall@5 by code size: 4 B → 0.14,
    * 8 B → 0.30 (flat in nprobe), 16 B → 0.52, 32 B → **0.90**. */
  final val Pq32Subspaces = 32

  /** 32×8-BIT IVF-PQ — the STANDALONE compressed tier:
    * [[Pq32Subspaces]] subspaces × [[Pq8Codewords]] codewords over the
    * same composition. The first code geometry whose raw ADC ranking
    * is usable WITHOUT an exact rerank on this corpus (0.90 measured,
    * see [[Pq32Subspaces]]) — what a 100 TB deployment serves from
    * when the rerank fetch is too expensive. Encode arithmetic is
    * identical per row across the tiers (m·256·(64/m) multiply-adds
    * through the same fused [[pqCodesCol]]). */
  def simAnnIvfPq32x8(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfPqAtOn(spark, sfDir, NProbe, Pq8Codewords, Pq32Subspaces)

  /** The fully-parameterized IVF-PQ search (recall-sweep seam:
    * codewords k × subspaces m × nprobe). */
  private[graft] def simAnnIvfPqAtOn(spark: SparkSession, sfDir: String,
      nprobe: Int, k: Int, subspaces: Int): DataFrame = {
    val (e, cents, cb, codes) = ivfPqIndexAt(spark, sfDir, k, subspaces)
    ivfPqAdcSearch(e, cents, cb, codes, nprobe)
  }

  /** The fitted IVF-PQ index: raw vectors, coarse centroids, Lloyd-
    * fitted residual codebooks and the encoded (vec_id, cell, codes)
    * artifact — shared by the plain ADC query and the refine variant. */
  private def ivfPqIndex(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) =
    ivfPqIndexAt(spark, sfDir, NumCentroids)

  /** [[ivfPqIndex]] with an explicit codewords-per-subspace count —
    * k = [[NumCentroids]] (16, 4-bit codes) is the compact default;
    * k = [[Pq8Codewords]] (256, 8-bit codes, the FAISS default) is the
    * recall tier the fused [[pqCodesCol]] encode makes wall-feasible. */
  private def ivfPqIndexAt(spark: SparkSession, sfDir: String, k: Int,
      subspaces: Int = PqSubspaces)
      : (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    val residFrame = ivfResidFrame(e, cents)
    // the k codebook-seed residuals, driver-collected — bounded, the
    // codebook IS the model (the seedCentroids footing)
    val cbSeeds = residFrame
      .filter($"vec_id" >= IvfPqSeedBase && $"vec_id" < IvfPqSeedBase + k)
      .orderBy($"vec_id")
      .select($"r").collect().map(_.getSeq[Double](0).toSeq).toSeq
    // Lloyd-fit the residual codebooks on the SAME distributed plan as
    // the raw-PQ fit — fitPqCodebooks only reads a `v` column, so the
    // residual frame drops straight in. Fitting is what makes residual
    // quantization competitive with raw-vector quantization (the seeded
    // residuals of 16 arbitrary vectors are no tighter than raw seeds;
    // the fitted codewords adapt to the within-cell spread — see
    // SimilaritySpec's recall comparison and its uniform-data caveat).
    val cb = fitPqCodebooks(residFrame.select($"r".as("v")), cbSeeds,
      KMeansIters, subspaces)
    (e, cents, cb, ivfPqEncode(residFrame, cb))
  }

  /** The materialized (vec_id, cell, residual) frame both IVF-PQ
    * variants build on: four consumers follow (codebook-seed collect,
    * fit iterations, encode), and each would otherwise re-derive the
    * 16-cosine assignment + subtraction from the raw scan (measured:
    * ~2× the battery wall and 12 s of GC from the replayed expression
    * tree). The frame is the fit working set a production build would
    * stage. Residuals are exact IEEE subtractions against the row's
    * OWN cell centroid — identical on both engines. */
  private def ivfResidFrame(e: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val centLit = typedLit(cents)
    val scoreArr = cosineScores(cents)
    val resid = zip_with($"v", element_at(centLit, $"cell" + 1), (a, b) => a - b)
    Materialize.frame(
      assignedCells(e, scoreArr).select($"vec_id", $"cell", resid.as("r")))
  }

  /** Encode a residual frame against the given codebooks: (vec_id,
    * cell, 8 residual codes) — the 13 B/vector index; pure map work. */
  private def ivfPqEncode(residFrame: DataFrame,
      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val spark = residFrame.sparkSession
    import spark.implicits._
    residFrame
      .repartition(spark.sparkContext.defaultParallelism, $"vec_id")
      .select($"vec_id", $"cell", pqCodesCol(cb, $"r").as("code"))
  }

  /** The shared ADC search tail: per-(query, probe-cell) coarse terms +
    * per-query subspace lookup tables broadcast into the codes scan. */
  private def ivfPqAdcSearch(e: DataFrame, cents: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], codes: DataFrame, nprobe: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"score_q".desc, $"vec_id".asc)
    ivfPqAdcScored(e, cents, cb, codes, nprobe)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", $"score_q")
      .orderBy($"query_id", $"rk")
  }

  /** The ADC-scored candidate frame (query_id, vec_id, score_q) before
    * any top-k cut — shared by the plain search tail and the refine
    * variant's pool cut. */
  private def ivfPqAdcScored(e: DataFrame, cents: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]], codes: DataFrame, nprobe: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val centLit = typedLit(cents)
    val scoreArr = cosineScores(cents)
    val probeCells = probeCellsExpr(scoreArr, nprobe)
    val probes = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"), explode(probeCells).as("cell"))
      .select($"query_id", $"cell",
        floor(VectorOps.dot($"qv", element_at(centLit, $"cell" + 1)) * lit(ScoreScale))
          .cast("long").as("coarse"))
    // ONE CodebookRef across the up-to-32 table columns (ADVICE r21)
    val ref = new graft.functions.CodebookRef(cb, ScoreScale)
    def tabCol(m: Int): Column =
      graft.functions.PqAdcTable($"qv", ref, m)
    val qt = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
      .select($"query_id" +: cb.indices.map(m => tabCol(m).as(s"tab$m")): _*)
    val radc = cb.indices.map(m =>
      element_at(col(s"tab$m"), element_at($"code", m + 1) + 1)).reduce(_ + _)
    // cells are disjoint, so each candidate matches exactly one probe
    // row per query — no distinct needed (the simAnnIvf argument)
    broadcast(probes).join(codes, Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .join(broadcast(qt), "query_id")
      .select($"query_id", $"vec_id", ($"coarse" + radc).as("score_q"))
  }

  /** ADC-pool size the refine stage re-scores exactly (FAISS's
    * IndexRefineFlat `k_factor` convention: pool = k_factor · k).
    * k_factor = 120 is deliberately large — the r14 recall sweep
    * (SCALING.md) showed that on this corpus the refine tier's recall
    * is QUANTIZATION-BOUND, not probe-bound: the embeddings are
    * isotropic unit vectors (no cluster structure), so 32-bit PQ codes
    * barely separate rank-5 from rank-200 and recall@5 saturates at
    * 0.28 with a 40-pool EVEN AT FULL PROBE; the exact-rerank pool is
    * the one knob that keeps climbing (0.44@100 → 0.60@200 → 0.78@400
    * → 0.86@600), and it is cheap — a broadcast point-lookup join,
    * wall-flat. r16: the fused [[pqCodesCol]] encode made bigger codes
    * wall-feasible — [[simAnnIvfPq8b]] (FAISS-default 8-bit, raw 0.30)
    * reaches 0.82 with a pool of just 100, and the 32-byte
    * [[simAnnIvfPq32x8]] tier is standalone-usable at 0.90 with NO
    * rerank — so this 600-pool default is the 4-bit tier's own
    * requirement, not the family's. Real embedding corpora cluster,
    * where small k_factor works; measured recall ships next to speed
    * in bench.json's ann_recall block. The ≥0.9-recall RAW-vector
    * tiers are `sim_ann_lsh` (0.96) and IVF-Flat at high nprobe
    * (0.96 at 14/16 — `simAnnIvfOn` exposes the knob). */
  final val RerankPool: Int = 120 * TopK

  /** Coarse cells the REFINE stage probes: all of them. On an
    * isotropic corpus the coarse quantizer carries no structure — the
    * sweep measured recall FLAT in nprobe beyond ~8 at any fixed pool
    * — so the honest refine default stops pretending the routing
    * helps and leans on the exact-rerank pool ([[RerankPool]]). On a
    * clustered real corpus this drops back to nprobe ≪ nlist; the
    * cheap-speed tiers keep [[NProbe]] = 4. */
  final val RefineNProbe: Int = NumCentroids

  /** IVF-PQ with EXACT RE-RANK — the FAISS refine stage
    * (IndexRefineFlat over an IndexIVFPQ): the compressed ADC scan
    * nominates a [[RerankPool]]-sized pool per query, then ONLY those
    * pool vectors are fetched from the full-precision store and
    * re-scored by the exact dot product; the top [[TopK]] by exact
    * score is the answer. This recovers quantization-error misrankings
    * at the cost of `pool` exact distance computations per query —
    * the standard accuracy/RAM trade: codes in RAM for the scan, raw
    * vectors touched only pool-sized.
    *
    * Scale shape: the pool cut rides the same per-query window as the
    * ADC top-k (pool-sized, NProbe-cell candidate set — never corpus-
    * wide); the refine join is a BROADCAST of the ≤ queries×pool pair
    * list against the vector store (at 100 TB: a point-lookup-shaped
    * join against the vec_id-bucketed store, delta-free). Exact scores
    * quantize on the same 10¹² grid as every ANN score here, so the
    * oracle mirrors integer-for-integer. */
  def simAnnIvfPqRerank(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfPqRerankAt(spark, sfDir, RefineNProbe, RerankPool)

  /** The knob-parameterized refine stage (recall-sweep seam — the
    * curve in SCALING.md is measured through this entry). */
  private[graft] def simAnnIvfPqRerankAt(spark: SparkSession, sfDir: String,
      nprobe: Int, rerankPool: Int): DataFrame =
    simAnnIvfPqRerankAtK(spark, sfDir, nprobe, rerankPool, NumCentroids)

  /** [[simAnnIvfPqRerankAt]] with the codewords-per-subspace knob too
    * (the 8-bit refine sweep's seam). */
  private[graft] def simAnnIvfPqRerankAtK(spark: SparkSession, sfDir: String,
      nprobe: Int, rerankPool: Int, k: Int): DataFrame = {
    import spark.implicits._
    val (e, cents, cb, codes) = ivfPqIndexAt(spark, sfDir, k)
    val wa = Window.partitionBy($"query_id").orderBy($"score_q".desc, $"vec_id".asc)
    val pool = ivfPqAdcScored(e, cents, cb, codes, nprobe)
      .withColumn("rka", row_number().over(wa))
      .filter($"rka" <= rerankPool)
      .select($"query_id", $"vec_id")
    val q = e.filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val wx = Window.partitionBy($"query_id").orderBy($"score_x".desc, $"vec_id".asc)
    broadcast(pool).join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .select($"query_id", $"vec_id",
        floor(VectorOps.dot($"qv", $"v") * lit(ScoreScale)).cast("long").as("score_x"))
      .withColumn("rk", row_number().over(wx))
      .filter($"rk" <= TopK)
      .select($"query_id", $"rk", $"vec_id", $"score_x")
      .orderBy($"query_id", $"rk")
  }

  /** INCREMENTAL IVF-PQ index maintenance — the compressed-index twin
    * of [[simAnnIvfIncremental]] (FAISS's steady-state add()): BOTH
    * models are frozen at index creation — the seeded coarse quantizer
    * and the residual codebooks Lloyd-fitted on the PRIOR slice (the
    * corpus that existed when the index was built; codeword seeds are
    * the residuals of the 16 lowest-id PRIOR vectors after the coarse
    * range) — and the fresh delta is ENCODED ALONE against them, its
    * (vec_id, cell, codes) rows appended to the prior code artifact
    * through the identical ADC search tail. Encoding is a
    * deterministic per-row function of (v, frozen models), so
    * slice-wise encode ∪ ≡ whole-corpus encode with the same models —
    * pinned by SimilaritySpec's sliced ≡ unsliced differential. Unlike
    * the plain-IVF incremental this CANNOT share the full query's
    * oracle (the full query refits codebooks on every corpus, so its
    * codes differ); the oracle mirrors the prior-slice fit explicitly.
    * Re-fitting on drift is the rebuild path (= [[simAnnIvfPq]]); this
    * is the per-ingest steady state, delta-sized everywhere. */
  def simAnnIvfPqIncremental(spark: SparkSession, sfDir: String): DataFrame =
    simAnnIvfPqIncrementalOn(spark, sfDir, sliced = true)

  private[graft] def simAnnIvfPqIncrementalOn(spark: SparkSession,
      sfDir: String, sliced: Boolean): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    val residFrame = ivfResidFrame(e, cents)
    val priorResid = residFrame.filter(Dedup.isPrior($"vec_id"))
    val cb = fitPriorResidCodebooks(priorResid)
    val codes =
      if (sliced)
        ivfPqEncode(priorResid, cb).unionByName(
          ivfPqEncode(residFrame.filter(Dedup.isFresh($"vec_id")), cb))
      else ivfPqEncode(residFrame, cb)
    ivfPqAdcSearch(e, cents, cb, codes, NProbe)
  }

  /** [[simAnnIvfPqIncremental]] in its STEADY-STATE form: the frozen
    * models (coarse centroids + prior-fitted residual codebooks) and
    * the prior slice's (vec_id, cell, codes) rows read back from the
    * parquet artifacts a previous run wrote
    * ([[graft.sources.IndexStore]] — codes partitioned BY CELL, the
    * partition-local-append / probe-prunable layout), only the DELTA
    * encoded fresh against the read-back models. First run per corpus
    * fits and writes; every later run — the FAISS add() steady state a
    * production ingest pays — is model load (a bounded 16 + 8·k row
    * collect) + delta encode + the shared ADC search tail, NO Lloyd
    * fit at all (the fit was measured at ~2/3 of each IVF-PQ tier's
    * bench wall, SCALING). The codes artifact is built FROM the
    * read-back model frame, so the double round-trip itself is under
    * the oracle — which is VERBATIM the inline incremental's: the
    * artifact hop must be semantically invisible. */
  def simAnnIvfPqStored(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.IndexStore
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val isPrior = Dedup.isPrior($"vec_id")
    val modelFrame = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "ivfpq_models", "embeddings",
        Seq(NumCentroids, KMeansIters, PqSubspaces, Pq8Codewords) ++ Dedup.SnapshotKey),
      { val (cents, cb) = ivfPqFrozenModels(spark, sfDir)
        ivfPqModelsToFrame(spark, cents, cb) })
    val (cents, cb) = ivfPqModelsFromFrame(modelFrame)
    val codes = IndexStore.readOrBuild(spark,
      IndexStore.artifactPath(spark, sfDir, "ivfpq_codes", "embeddings",
        Seq(NumCentroids, KMeansIters, PqSubspaces, Pq8Codewords) ++ Dedup.SnapshotKey),
      ivfPqEncode(ivfResidFrame(e.filter(isPrior), cents), cb),
      partitionCols = Seq("cell"))
      .select($"vec_id", $"cell", $"code")
    val deltaCodes = ivfPqEncode(ivfResidFrame(e.filter(!isPrior), cents), cb)
    ivfPqAdcSearch(e, cents, cb, codes.unionByName(deltaCodes), NProbe)
  }

  /** Flatten (centroids, codebooks) into ONE parquet-able frame:
    * (kind, m, c, w) — "cent" rows carry centroid c, "cb" rows carry
    * codeword (m, c). Doubles round-trip parquet bit-exactly, so the
    * frozen models reload EXACTLY (no refit drift). */
  private def ivfPqModelsToFrame(spark: SparkSession, cents: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    val rows =
      cents.zipWithIndex.map { case (v, c) => ("cent", 0, c, v) } ++
        (for ((sub, m) <- cb.zipWithIndex; (v, c) <- sub.zipWithIndex)
          yield ("cb", m, c, v))
    rows.toDF("kind", "m", "c", "w").coalesce(1)
  }

  private def ivfPqModelsFromFrame(df: DataFrame)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val rows = df.collect()
    val cents = rows.filter(_.getString(0) == "cent")
      .sortBy(_.getInt(2)).map(_.getSeq[Double](3).toSeq).toSeq
    val cbRows = rows.filter(_.getString(0) == "cb")
    val cb = cbRows.map(_.getInt(1)).distinct.sorted.map { m =>
      cbRows.filter(_.getInt(1) == m).sortBy(_.getInt(2))
        .map(_.getSeq[Double](3).toSeq).toSeq
    }.toSeq
    (cents, cb)
  }

  /** The two FROZEN IVF-PQ models of the incremental/ingest paths —
    * seeded coarse centroids + residual codebooks Lloyd-fitted on the
    * PRIOR slice (identical arithmetic to
    * [[simAnnIvfPqIncrementalOn]]'s fit: residuals are a deterministic
    * per-row map, so building them from the pre-filtered prior slice
    * equals filtering the full-corpus residual frame). The bounded
    * model artifact a production ingest job loads once. */
  private[graft] def ivfPqFrozenModels(spark: SparkSession, sfDir: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val cents = seedCentroids(e)
    val priorResid = ivfResidFrame(
      e.filter(Dedup.isPrior($"vec_id")), cents)
    (cents, fitPriorResidCodebooks(priorResid))
  }

  /** The ONE prior-slice residual-codebook fit (seed rule + Lloyd
    * iterations) shared by the incremental query and the streaming
    * encode twin — the "identical arithmetic" claim is structural. */
  private def fitPriorResidCodebooks(priorResid: DataFrame): Seq[Seq[Seq[Double]]] = {
    val spark = priorResid.sparkSession
    import spark.implicits._
    val cbSeeds = priorResid.filter($"vec_id" >= IvfPqSeedBase)
      .orderBy($"vec_id").limit(NumCentroids)
      .select($"r").collect().map(_.getSeq[Double](0).toSeq).toSeq
    fitPqCodebooks(priorResid.select($"r".as("v")), cbSeeds, KMeansIters)
  }

  /** Flat (vec_id, cell, m, code) encode of any (vec_id, v) frame
    * against EXPLICIT frozen models — pure per-row expressions (assign
    * argmax + residual subtraction + 8 codeword argmins + posexplode),
    * no shuffle, no checkpoint: STREAMING-LEGAL, the per-ingest encode
    * map of the FAISS add() path. */
  private[graft] def annEncodeFlat(rows: DataFrame, cents: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val centLit = typedLit(cents)
    val scoreArr = cosineScores(cents)
    val resid = zip_with($"v", element_at(centLit, $"cell" + 1), (a, b) => a - b)
    assignedCells(rows, scoreArr)
      .select($"vec_id", $"cell", resid.as("r"))
      .select($"vec_id", $"cell", pqCodesCol(cb, $"r").as("codes"))
      .select($"vec_id", $"cell", posexplode($"codes").as(Seq("m", "code")))
  }

  /** vec_id's m-th [[PqSubDim]]-dim sub-slice. */
  private def pqSub(v: Column, m: Int, subDim: Int = PqSubDim): Column =
    slice(v, m * subDim + 1, subDim)

  /** All-subspace codeword assignment in ONE codegen'd expression
    * ([[graft.functions.PqEncode]]): out(m) = argmin_c of the quantized
    * drop-the-constant distance, first-match (= lowest codeword id) on
    * ties — mirrored by the oracle's `ORDER BY dq ASC, c ASC`, and
    * bit-identical to the literal [[pqCodeCol]] tree (PqOpsSpec pins
    * the differential at k = 16 and k = 256). The literal tree is
    * what made 8-bit codebooks 10× the encode wall (2048 dot_const
    * nodes per row); this is the table-lookup encode that unblocks
    * them (r15 VERDICT #1). */
  private[graft] def pqCodesCol(cb: Seq[Seq[Seq[Double]]], v: Column): Column =
    graft.functions.PqEncode(v, cb, ScoreScale)

  /** Single-subspace literal-tree assignment — retained as the
    * differential oracle for [[pqCodesCol]] (PqOpsSpec) and for the
    * expression-shape documentation above; production paths all use
    * the fused encode. */
  private[graft] def pqCodeCol(cb: Seq[Seq[Seq[Double]]], v: Column, m: Int): Column = {
    val dists = array(cb(m).map { cv =>
      floor((lit(normSq(cv)) - lit(2.0) * VectorOps.dotLit(v, cv, m * PqSubDim))
        * lit(ScoreScale)).cast("long")
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Distributed per-subspace Lloyd fit of the PQ codebooks — the
    * [[fitCentroids]] shape applied to all [[PqSubspaces]] subspaces in
    * ONE aggregation per iteration: every row computes its 8 argmin
    * cells (map work against baked codeword literals), fans out into
    * (m, cell, quantized subvector) via posexplode, and a single
    * groupBy(m, cell) integer-sum aggregate — map-side combined, 8×16
    * cells × ([[PqSubDim]] sums + count) collected per iteration —
    * folds the new codewords driver-side: component = s / (n ·
    * [[QuantScale]]), an exact int→double conversion + one division on
    * both engines; an empty cell keeps its previous codeword. The fit
    * is executor-side where it scales (the corpus pass) and
    * driver-side only for the bounded 8×16×8 fold, exactly like the
    * IVF fit. */
  private[graft] def fitPqCodebooks(e: DataFrame, seeds: Seq[Seq[Double]],
      iters: Int, subspaces: Int = PqSubspaces): Seq[Seq[Seq[Double]]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val subDim = graft.functions.LshImpl.Dims / subspaces
    var cb = pqCodebooks(seeds, subspaces)
    // same explicit-width discipline as fitCentroids: the 1-task bench
    // scan serialized the 8-subspace argmin + ×8 fan-out (measured:
    // tasks=1, 0.7–1.5 s single-thread per fit pass); the integer sums
    // are order-free, so distribution cannot change the fold
    val ev = e.select($"v")
      .repartition(spark.sparkContext.defaultParallelism)
    for (_ <- 0 until iters) {
      // codes AND the quantized vector computed ONCE per row in their
      // own projection (the fused PqEncode + one full-width transform),
      // then fanned out — the struct array only slices and indexes.
      // Inlining either into the per-subspace array would re-evaluate
      // them per subspace (CollapseProject keeps the projections apart:
      // non-cheap exprs, multiple references), and the earlier
      // per-subspace transform(slice) form paid `subspaces` interpreted
      // lambda evaluations per row where one suffices — slice of the
      // full quantization ≡ quantization of the slice, element-exact.
      val cells = array((0 until subspaces).map { m =>
        struct(element_at($"codes", m + 1).as("cell"),
          slice($"vq", m * subDim + 1, subDim).as("svq"))
      }: _*)
      val rows = ev
        .select(pqCodesCol(cb, $"v").as("codes"),
          transform($"v", x => floor(x * lit(QuantScale)).cast("long")).as("vq"))
        .select(posexplode(cells).as(Seq("m", "x")))
        .select($"m", $"x.cell".as("cell"), $"x.svq".as("svq"))
        .groupBy($"m", $"cell")
        .agg(count(lit(1)).as("n"),
          (0 until subDim).map(d => sum(element_at($"svq", d + 1)).as(s"s$d")): _*)
        .collect()
      val byKey = rows.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      cb = cb.indices.map { m =>
        cb(m).indices.map { c =>
          byKey.get((m, c)).fold(cb(m)(c)) { r =>
            val n = r.getLong(2)
            (0 until subDim).map(d => r.getLong(3 + d).toDouble / (n * QuantScale.toDouble))
          }
        }
      }
    }
    cb
  }

  /** cb(m)(c) = codeword c of subspace m: the c-th seed vector's m-th
    * subDim-dim slice. */
  private def pqCodebooks(seeds: Seq[Seq[Double]],
      subspaces: Int = PqSubspaces): Seq[Seq[Seq[Double]]] = {
    val subDim = graft.functions.LshImpl.Dims / subspaces
    (0 until subspaces).map(m =>
      seeds.map(_.slice(m * subDim, (m + 1) * subDim)))
  }

  /** ‖cv‖² as a Scala-computed double (left-to-right sum, the same
    * fold DuckDB's list_dot_product(cv, cv) runs) — baked as a literal
    * into both engines' assignment expressions. */
  private def normSq(cv: Seq[Double]): Double = {
    var s = 0.0
    cv.foreach(x => s += x * x)
    s
  }

  /** SemDeDup duplicate threshold, on the floor(cos·[[ScoreScale]])
    * integer grid: 0.4 — deliberately low because this synthetic
    * corpus's max pairwise cosine is ~0.51 (see dedupEmbedCosine's
    * note); a real embedding corpus runs τ ≈ 0.95+. The semantics are
    * threshold-shape-independent — only the pair density changes. */
  final val SemDedupTauQ: Long = 400000000000L

  /** SEMANTIC deduplication (SemDeDup, Abbas et al. 2023): k-means
    * clusters make the pair search tractable — pairs are only scored
    * WITHIN a cluster cell — and for every duplicate pair the member
    * with the LOWER centroid similarity is kept (the paper's keep
    * rule: prefer the example farther from the cluster center; the
    * near-center member is the redundant one). Composition of the two
    * machines this module already has: the Lloyd fit of
    * [[simAnnIvfKmeans]] supplies the cells, the cell equi-join of the
    * blocked embedding dedup supplies the bounded pair space.
    *
    * Drop rule, deterministic and monotone: x is dropped iff some
    * same-cell y has quantized cos(x,y) ≥ τ and (qc_y, vec_id_y) <
    * (qc_x, vec_id_x) lexicographically, where qc = floor(cos(v,
    * centroid)·[[ScoreScale]]) — every comparison an integer both
    * engines derive identically (the [[simAnnIvfKmeans]] parity
    * argument). A duplicate group therefore keeps exactly its
    * (qc, vec_id)-minimum: the lowest-centroid-similarity member.
    *
    * Scale shape: the fit is the bounded once-per-corpus cost
    * documented on [[fitCentroids]]; assignment + qc are per-row map
    * work against baked literals; ONE corpus-sized exchange (the
    * explicit cell repartition) is replayed by the pair join's both
    * sides AND the final anti-join (ReusedExchange); the pair space is
    * Σ_cells n_c² with NumCentroids sized to the corpus (√n-ish in
    * production, so n_c stays bounded — the clusters ARE the index). */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame =
    dedupSemanticOn(embeddings(spark, sfDir), SemDedupTauQ)

  private[graft] def dedupSemanticOn(e: DataFrame, tauQ: Long): DataFrame =
    dedupSemanticK(e, tauQ, NumCentroids)

  /** The k-PARAMETRIC form — the scale path the fixed-k oracle query
    * cannot show: SemDeDup sizes the cluster count to the corpus
    * (k ∝ n) so per-cell occupancy, and with it the Σ n_c² pair space,
    * stays bounded as the corpus grows. The driver-contract query pins
    * k = [[NumCentroids]] for hash-checkability; `tools.SemanticScaleProbe`
    * measures this form at k ∝ n on the ×10 corpus (SCALING.md). */
  private[graft] def dedupSemanticK(e: DataFrame, tauQ: Long, k: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val seeds = e.filter($"vec_id" >= NumQueries && $"vec_id" < NumQueries + k)
      .orderBy($"vec_id")
      .select($"v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(seeds.size == k, s"corpus too small for k=$k seeds (got ${seeds.size})")
    val fitted = fitCentroids(e, seeds, KMeansIters)
    val scoreArr = quantScores(fitted)
    // explicit isnotnull on every column the pair join will infer
    // non-null on its branches: exchange-reuse plumbing (the round-3/5
    // de-canonicalization hazard), not a semantic filter — all three
    // consumers (both pair sides + the anti-join left) must stay on
    // the identical subtree for the cell exchange to be replayed
    val assigned = e.select($"vec_id", $"v",
        (array_position(scoreArr, array_max(scoreArr)) - 1).cast("int").as("cell"),
        array_max(scoreArr).as("qc"))
      .filter($"vec_id".isNotNull && $"cell".isNotNull && $"qc".isNotNull &&
        $"v".isNotNull)
      .repartition(spark.sparkContext.defaultParallelism, $"cell")
    val qpair = floor(VectorOps.cosine($"a.v", $"b.v") * lit(ScoreScale)).cast("long")
    // kept = rows with NO witness, via ONE left-outer pair join + a
    // count==0 filter rather than pair-search + anti-join: the anti
    // form has a third `assigned` consumer that PushDownLeftSemiAntiJoin
    // relocates below the repartition, un-sharing its scan — this shape
    // keeps exactly two consumers, both on the replayed cell exchange,
    // and both already cell-partitioned (no join exchange at scale)
    assigned.as("a").join(assigned.as("b"),
        $"a.cell" === $"b.cell" &&
          struct($"b.qc", $"b.vec_id") < struct($"a.qc", $"a.vec_id") &&
          qpair >= lit(tauQ), "left_outer")
      .select($"a.cell".as("cell"), $"a.vec_id".as("vec_id"),
        $"a.qc".as("qc"), $"b.vec_id".as("w"))
      .groupBy($"cell", $"vec_id", $"qc")
      .agg(count($"w").as("nw"))
      .filter($"nw" === 0)
      .select($"cell", $"vec_id", $"qc")
      .orderBy($"cell", $"vec_id")
  }

  /** Aggregate similarity statistics per label block (exercises vector
    * math inside a shuffle agg): pair count, mean and max cosine. */
  def simLabelStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    e.as("a").join(e.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select($"a.label".as("label"),
        VectorOps.cosine($"a.v", $"b.v").as("cos"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"cos"), 4).as("avg_cos"),
        round(max($"cos"), 4).as("max_cos"))
      .orderBy($"label")
  }

  // Deterministic per-label sample cap for the benched label-stats
  // variant: pairs per label ≤ C(SampleCap, 2) = 120 regardless of label
  // size, which is what makes the query survive 100 TB (the exact form
  // is O(n²/labels) and kept as the small-scale baseline/oracle). 16 of
  // ~50 per label at sf0.01, so the sample is a real subset even at the
  // driver's scale.
  final val SampleCap = 16
  // LCG constants (Knuth/glibc); sampleKey is a pseudo-random but fully
  // deterministic per-vector order shared bit-for-bit with the DuckDB
  // oracle. vec_id·1103515245 stays far below 2⁶³ for any plausible id
  // (< 8.4e9 even at 100 TB), so ANSI overflow cannot trigger.
  private def sampleKeySql = "(vec_id * 1103515245 + 12345) % 2147483648"

  /** Pairwise cosine stats per label over a deterministic per-label
    * sample of SampleCap vectors: same shape as simLabelStats with the
    * pair space bounded at any scale. Rank is a per-label window (one
    * shuffle on label), not a global sort. */
  def simLabelStatsSampled(spark: SparkSession, sfDir: String): DataFrame =
    simLabelStatsSampledOn(spark, sfDir, SampleCap)

  private[graft] def simLabelStatsSampledOn(spark: SparkSession, sfDir: String,
      cap: Int): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
      .withColumn("sk", pmod($"vec_id" * lit(1103515245L) + lit(12345L), lit(2147483648L)))
    val w = Window.partitionBy($"label").orderBy($"sk", $"vec_id")
    val sampled = e.withColumn("rk", row_number().over(w))
      .filter($"rk" <= cap)
      .select($"vec_id", $"label", $"v")
    sampled.as("a").join(sampled.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select($"a.label".as("label"),
        VectorOps.cosine($"a.v", $"b.v").as("cos"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"cos"), 4).as("avg_cos"),
        round(max($"cos"), 4).as("max_cos"))
      .orderBy($"label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_brute" -> simTopKBrute,
    "sim_ann_lsh" -> simAnnLsh,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_ann_ivf_incremental" -> simAnnIvfIncremental,
    "sim_ann_ivf_kmeans" -> simAnnIvfKmeans,
    "sim_ann_pq" -> simAnnPq,
    "sim_ann_sq8" -> simAnnSq8,
    "sim_ann_ivfpq" -> simAnnIvfPq,
    "sim_ann_ivfpq_8b" -> simAnnIvfPq8b,
    "sim_ann_ivfpq_32x8" -> simAnnIvfPq32x8,
    "sim_ann_ivfpq_incremental" -> simAnnIvfPqIncremental,
    "sim_ann_ivfpq_stored" -> simAnnIvfPqStored,
    "sim_ann_ivfpq_rerank" -> simAnnIvfPqRerank,
    "dedup_semantic" -> dedupSemantic,
    "sim_label_stats" -> simLabelStats,
    "sim_label_stats_sampled" -> simLabelStatsSampled,
  )

  /** The incremental IVF-PQ mirror — fit chain frozen on the PRIOR
    * slice, encode over the full residual fan-out. Shared VERBATIM by
    * the inline incremental query and its stored-artifact twin. */
  private lazy val ivfPqIncrementalOracleSql: String =
    ivfPqSqlWith(pqFitCtesWithSeeds(KMeansIters, "resid", "r",
      s"""(SELECT c, r FROM (
         |      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, r
         |      FROM resid
         |      WHERE vec_id >= $IvfPqSeedBase
         |        AND ${Dedup.priorSql("vec_id")}
         |      ORDER BY vec_id LIMIT $NumCentroids) q)""".stripMargin,
      Dedup.priorSql("s.vec_id")))

  /** Cosine over two LIST-valued SQL expressions (the k-means mirror
    * scores vectors against COMPUTED centroid lists, not table
    * columns). Same sequential dot/(√·√) shape as [[cosSql]]. */
  private def cosListSql(a: String, b: String): String =
    s"""(list_dot_product($a, $b) /
       |      (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))""".stripMargin

  /** The quantized integer comparison key of the engine's
    * [[quantScores]]: floor(cosine·ScoreScale) as BIGINT. */
  private def quantScoreSql(a: String, b: String): String =
    s"CAST(floor(${cosListSql(a, b)} * ${ScoreScale.toLong}.0) AS BIGINT)"

  /** Full DuckDB mirror of the [[simAnnIvfKmeans]] fit + search: the
    * seed centroids, then per iteration the quantized-argmax
    * assignment (a_k), the per-cell per-dim integer sums (m_k) and the
    * folded centroids (c_k, COALESCE keeps an empty cell's previous
    * centroid), unrolled [[KMeansIters]] times; then assignment,
    * probes and the exact re-rank against the final centroids —
    * every comparison an integer or a bit-identical double, per the
    * parity notes on the engine constants. */
  /** The WITH-body of the Lloyd fit mirror, through `rkf` (per-vector
    * quantized score + rank against the FITTED centroids) — shared by
    * [[kmeansIvfSql]] and the SemDeDup oracle so the unrolled fit
    * cannot drift between them. */
  private def fitPrefixSql(iters: Int): String = {
    val dims = graft.functions.LshImpl.Dims
    val iterCtes = (1 to iters).map { k =>
      s"""a$k AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${quantScoreSql("e.v", "c.cv")} DESC, c.cid ASC) AS rn
         |    FROM ev e CROSS JOIN c${k - 1} c
         |  ) t WHERE rn = 1
         |),
         |m$k AS (
         |  SELECT a.cell AS cid, dims.d AS d, sum(q.vq[dims.d]) AS s, count(*) AS n
         |  FROM a$k a JOIN q USING (vec_id) CROSS JOIN dims
         |  GROUP BY a.cell, dims.d
         |),
         |c$k AS (
         |  SELECT p.cid, coalesce(f.cv, p.cv) AS cv
         |  FROM c${k - 1} p LEFT JOIN (
         |    SELECT cid, list(s::DOUBLE / (n * $QuantScale.0) ORDER BY d) AS cv
         |    FROM m$k GROUP BY cid
         |  ) f USING (cid)
         |)""".stripMargin
    }.mkString(",\n")
    s"""ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (
       |  SELECT vec_id,
       |    [CAST(floor(x * $QuantScale) AS BIGINT) for x in embedding::DOUBLE[]] AS vq
       |  FROM embeddings
       |),
       |dims AS (SELECT unnest(range(1, ${dims + 1})) AS d),
       |c0 AS (
       |  SELECT vec_id - $NumQueries AS cid, embedding::DOUBLE[] AS cv
       |  FROM embeddings
       |  WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}
       |),
       |$iterCtes,
       |rkf AS (
       |  SELECT e.vec_id, c.cid, ${quantScoreSql("e.v", "c.cv")} AS qs,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${quantScoreSql("e.v", "c.cv")} DESC, c.cid ASC) AS rn
       |  FROM ev e CROSS JOIN c$iters c
       |)""".stripMargin
  }

  /** The WITH-body of the PQ per-subspace Lloyd fit mirror, through
    * `cb$iters` (m, c, cv, cc) — the [[fitPrefixSql]] discipline applied
    * per subspace: quantized-argmin assignment (dq ASC, c ASC ≡ the
    * engine's first-min array_position), per-(m, cell, dim) integer
    * sums, folded codewords with COALESCE keeping an empty cell's
    * previous codeword, cc recomputed from the folded components by the
    * same left-to-right product sum. Also defines `ev` (full vectors,
    * reused by the search tail) and `sv` (per-(vec, m) sub-slices). */
  /** The fit-CTE chain (ms/sd/sv/sq/cb0..cb$iters) over ANY source
    * relation `$rel` with a DOUBLE[]-valued column `$vcol` and codeword
    * seeds at vec_id ∈ [$seedLo, $seedLo + NumCentroids) — the raw
    * sim_ann_pq mirror passes the embeddings themselves; the IVF-PQ
    * mirror passes its residual CTE (round 11). */
  private def pqFitCtes(iters: Int, rel: String, vcol: String,
      seedLo: Int, k: Int = NumCentroids,
      subspaces: Int = PqSubspaces): String =
    pqFitCtesWithSeeds(iters, rel, vcol,
      s"""(SELECT vec_id - $seedLo AS c, $vcol FROM $rel
         |    WHERE vec_id >= $seedLo AND vec_id < ${seedLo + k})""".stripMargin,
      subspaces = subspaces)

  /** [[pqFitCtes]] with an arbitrary seed relation `(c, $vcol)` and an
    * optional fit-row filter — the incremental IVF-PQ mirror seeds from
    * the 16 lowest-id PRIOR vectors after the coarse range (not a
    * contiguous id window) and FITS on the prior slice only, while the
    * downstream encoding still reads the full `sv`. */
  private def pqFitCtesWithSeeds(iters: Int, rel: String, vcol: String,
      seedsRel: String, fitWhere: String = "TRUE",
      subspaces: Int = PqSubspaces): String = {
    val subDim = graft.functions.LshImpl.Dims / subspaces
    val iterCtes = (1 to iters).map { k =>
      s"""pa$k AS (
         |  SELECT vec_id, m, c AS cell FROM (
         |    SELECT s.vec_id, s.m, cb.c,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY CAST(floor((cb.cc - 2.0 * list_dot_product(s.sv, cb.cv))
         |          * ${ScoreScale.toLong}.0) AS BIGINT) ASC, cb.c ASC) AS rn
         |    FROM sv s JOIN cb${k - 1} cb USING (m)
         |    WHERE $fitWhere
         |  ) t WHERE rn = 1
         |),
         |pm$k AS (
         |  SELECT a.m, a.cell AS c, sd.d, sum(q.svq[sd.d]) AS s, count(*) AS n
         |  FROM pa$k a JOIN sq q ON q.vec_id = a.vec_id AND q.m = a.m
         |  CROSS JOIN sd
         |  GROUP BY a.m, a.cell, sd.d
         |),
         |cb$k AS (
         |  SELECT p.m, p.c, coalesce(f.cv, p.cv) AS cv,
         |    list_dot_product(coalesce(f.cv, p.cv), coalesce(f.cv, p.cv)) AS cc
         |  FROM cb${k - 1} p LEFT JOIN (
         |    SELECT m, c, list(s::DOUBLE / (n * $QuantScale.0) ORDER BY d) AS cv
         |    FROM pm$k GROUP BY m, c
         |  ) f USING (m, c)
         |)""".stripMargin
    }.mkString(",\n")
    s"""ms AS (SELECT unnest(range(0, $subspaces)) AS m),
       |sd AS (SELECT unnest(range(1, ${subDim + 1})) AS d),
       |sv AS (
       |  SELECT t.vec_id, ms.m,
       |    t.$vcol[ms.m*$subDim+1 : ms.m*$subDim+$subDim] AS sv
       |  FROM $rel t CROSS JOIN ms
       |),
       |sq AS (
       |  SELECT vec_id, m,
       |    [CAST(floor(x * $QuantScale) AS BIGINT) for x in sv] AS svq
       |  FROM sv
       |),
       |cb0 AS (
       |  SELECT ms.m, s.c,
       |    s.$vcol[ms.m*$subDim+1 : ms.m*$subDim+$subDim] AS cv,
       |    list_dot_product(
       |      s.$vcol[ms.m*$subDim+1 : ms.m*$subDim+$subDim],
       |      s.$vcol[ms.m*$subDim+1 : ms.m*$subDim+$subDim]) AS cc
       |  FROM ms CROSS JOIN $seedsRel s
       |),
       |$iterCtes""".stripMargin
  }

  private def pqFitPrefixSql(iters: Int): String =
    s"""ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${pqFitCtes(iters, "ev", "v", NumQueries)}""".stripMargin

  /** The full IVF-PQ mirror given a fit-CTE chain: the seeded-IVF
    * assignment/probe CTEs (rk/assign/probes verbatim from
    * ivfSeededSql's shape) composed with the PQ fit + ADC discipline
    * over RESIDUALS — norms via list_dot_product ≡ the engine's normSq
    * fold, every assignment/table/score comparison an integer, the
    * per-(query, cell) coarse term joined through the candidate's
    * cell. Shared by the full and incremental variants, which differ
    * only in `fitCtes`. */
  private def ivfPqSqlWith(fitCtes: String, tail: String = "",
      nprobe: Int = NProbe, subspaces: Int = PqSubspaces): String = {
    val subDim = graft.functions.LshImpl.Dims / subspaces
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (
       |  SELECT vec_id - $NumQueries AS cid, embedding::DOUBLE[] AS cv FROM embeddings
       |  WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}
       |),
       |rk AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosListSql("e.v", "c.cv")} DESC, c.cid ASC) AS rn
       |  FROM e, c
       |),
       |assign AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
       |resid AS (
       |  SELECT a.vec_id, a.cell,
       |    [e.v[i] - c.cv[i] for i in range(1, ${graft.functions.LshImpl.Dims + 1})] AS r
       |  FROM assign a JOIN e ON e.vec_id = a.vec_id JOIN c ON c.cid = a.cell
       |),
       |$fitCtes,
       |cb AS (SELECT m, c, cv, cc FROM cb$KMeansIters),
       |dist AS (
       |  SELECT s.vec_id, cb.m, cb.c,
       |    CAST(floor((cb.cc - 2.0 * list_dot_product(s.sv, cb.cv))
       |      * ${ScoreScale.toLong}.0) AS BIGINT) AS dq
       |  FROM sv s JOIN cb USING (m)
       |),
       |codes AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dq ASC, c ASC) AS rn
       |    FROM dist) t WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM rk
       |  WHERE rn <= $nprobe AND vec_id < $NumQueries
       |),
       |coarse AS (
       |  SELECT p.query_id, p.cell,
       |    CAST(floor(list_dot_product(q.v, c.cv) * ${ScoreScale.toLong}.0) AS BIGINT) AS ct
       |  FROM probes p JOIN e q ON q.vec_id = p.query_id JOIN c ON c.cid = p.cell
       |),
       |tab AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.c,
       |    CAST(floor(
       |      list_dot_product(q.v[cb.m*$subDim+1 : cb.m*$subDim+$subDim], cb.cv)
       |      * ${ScoreScale.toLong}.0) AS BIGINT) AS t
       |  FROM e q CROSS JOIN cb WHERE q.vec_id < $NumQueries
       |),
       |cand AS (
       |  SELECT p.query_id, a.vec_id, p.cell
       |  FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.query_id
       |),
       |sc AS (
       |  SELECT cd.query_id, cd.vec_id,
       |    co.ct + CAST(sum(tab.t) AS BIGINT) AS score_q
       |  FROM cand cd
       |  JOIN coarse co ON co.query_id = cd.query_id AND co.cell = cd.cell
       |  JOIN codes k ON k.vec_id = cd.vec_id
       |  JOIN tab ON tab.query_id = cd.query_id AND tab.m = k.m
       |    AND tab.c = k.code
       |  GROUP BY cd.query_id, cd.vec_id, co.ct
       |)
       |${if (tail.isEmpty) ivfPqSqlTail else tail}""".stripMargin
  }

  /** Plain ADC top-k tail over the `sc` CTE. */
  private def ivfPqSqlTail: String =
    s"""SELECT query_id, rk, vec_id, score_q FROM (
       |  SELECT query_id, vec_id, score_q,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_q DESC, vec_id ASC) AS rk
       |  FROM sc) t WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Refine tail: ADC pool cut + exact-dot re-rank against the raw
    * vector store — mirrors [[simAnnIvfPqRerank]] integer-for-integer. */
  private def ivfPqRerankSqlTail: String =
    s""", pool AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_q DESC, vec_id ASC) AS rka
       |    FROM sc) t WHERE rka <= $RerankPool
       |),
       |ex AS (
       |  SELECT p.query_id, p.vec_id,
       |    CAST(floor(list_dot_product(q.v, x.v) * ${ScoreScale.toLong}.0) AS BIGINT) AS score_x
       |  FROM pool p JOIN e q ON q.vec_id = p.query_id JOIN e x ON x.vec_id = p.vec_id
       |)
       |SELECT query_id, rk, vec_id, score_x FROM (
       |  SELECT query_id, vec_id, score_x,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_x DESC, vec_id ASC) AS rk
       |  FROM ex) t WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  private def kmeansIvfSql(iters: Int): String = {
    s"""WITH ${fitPrefixSql(iters)},
       |assign AS (SELECT vec_id, cid AS cell FROM rkf WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM rkf
       |  WHERE rn <= $NProbe AND vec_id < $NumQueries
       |),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.query_id
       |)
       |SELECT query_id, rk, vec_id, round(cos, 4) AS cosine FROM (
       |  SELECT cand.query_id, cand.vec_id, ${cosSql("qe", "x")} AS cos,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY ${cosSql("qe", "x")} DESC, cand.vec_id ASC) AS rk
       |  FROM cand
       |  JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings x ON x.vec_id = cand.vec_id
       |) t WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin
  }

  private def cosSql(a: String, b: String): String =
    s"""list_dot_product($a.embedding::DOUBLE[], $b.embedding::DOUBLE[]) /
       |    (sqrt(list_dot_product($a.embedding::DOUBLE[], $a.embedding::DOUBLE[])) *
       |     sqrt(list_dot_product($b.embedding::DOUBLE[], $b.embedding::DOUBLE[])))""".stripMargin

  /** The engine's deterministic hyperplanes as DuckDB list literals,
    * generated from LshImpl.component — the identical constants the
    * one-pass LshSignatures expression bakes in, so oracle and engine
    * cannot drift. Double.toString is shortest-round-trip and DuckDB
    * float parsing is correctly rounded, so each literal parses back to
    * the exact same IEEE double. */
  private def planeSql(t: Int, b: Int): String =
    (0 until graft.functions.LshImpl.Dims)
      .map(d => graft.functions.LshImpl.component(t, b, d))
      .mkString("[", ", ", "]")

  /** sig[t] = Σ_b (v·r_{t,b} >= 0) << b. Sign-threshold parity between
    * the engine's sequential loop and list_dot_product holds because the
    * projection margin is enormous relative to summation-order rounding
    * (min |proj| ≈ 1e-4 on this data vs ~1e-13 reassociation error;
    * margin asserted in SimilaritySpec). */
  private def sigSql(t: Int): String =
    (0 until LshBits).map { b =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], ${planeSql(t, b)}) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Full DuckDB mirror of the seeded-IVF search — shared by
    * [[simAnnIvf]] and [[simAnnIvfIncremental]] (see the sharing note
    * at the map entries). */
  private val ivfSeededSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c AS (
       |  SELECT vec_id AS cid, embedding FROM e
       |  WHERE vec_id >= $NumQueries AND vec_id < ${NumQueries + NumCentroids}
       |),
       |rk AS (
       |  SELECT e.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e", "c")} DESC, c.cid ASC) AS rn
       |  FROM e, c
       |),
       |assign AS (SELECT vec_id, cid AS cell FROM rk WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM rk
       |  WHERE rn <= $NProbe AND vec_id < $NumQueries
       |),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (cell)
       |  WHERE a.vec_id <> p.query_id
       |)
       |SELECT query_id, rk, vec_id, round(cos, 4) AS cosine FROM (
       |  SELECT cand.query_id, cand.vec_id, ${cosSql("q", "x")} AS cos,
       |    row_number() OVER (PARTITION BY cand.query_id
       |      ORDER BY ${cosSql("q", "x")} DESC, cand.vec_id ASC) AS rk
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings x ON x.vec_id = cand.vec_id
       |) t WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Oracle for the STREAMING ingest twin (`stream_ann_encode`,
    * registered from Streaming.oracles): the incremental query's exact
    * fit/encode CTE chain — frozen prior-slice models — with the
    * search tail swapped for the delta slice's flat (vec_id, cell, m,
    * code) rows; unused search CTEs inline away. */
  private[graft] def annEncodeOracleSql: String =
    ivfPqSqlWith(pqFitCtesWithSeeds(KMeansIters, "resid", "r",
      s"""(SELECT c, r FROM (
         |      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, r
         |      FROM resid
         |      WHERE vec_id >= $IvfPqSeedBase
         |        AND ${Dedup.priorSql("vec_id")}
         |      ORDER BY vec_id LIMIT $NumCentroids) q)""".stripMargin,
      Dedup.priorSql("s.vec_id")),
      s"""SELECT c.vec_id, a.cell, c.m, c.code
         |FROM codes c JOIN assign a USING (vec_id)
         |WHERE ${Dedup.freshSql("c.vec_id")}
         |ORDER BY c.vec_id, c.m""".stripMargin)

  val oracles: Map[String, String] = Map(
    "sim_topk_brute" ->
      s"""SELECT query_id, rk, vec_id, round(cos, 4) AS cosine FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         |    ${cosSql("q", "e")} AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosSql("q", "e")} DESC, e.vec_id ASC) AS rk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NumQueries
         |) t WHERE rk <= $TopK
         |ORDER BY query_id, rk""".stripMargin,
    "sim_label_stats" ->
      s"""SELECT a.label AS label, count(*) AS n_pairs,
         |  round(avg(${cosSql("a", "b")}), 4) AS avg_cos,
         |  round(max(${cosSql("a", "b")}), 4) AS max_cos
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |GROUP BY a.label ORDER BY a.label""".stripMargin,
    // The engine's deterministic LCG sample order, mirrored exactly:
    // both operands positive, so DuckDB % ≡ Spark pmod.
    "sim_label_stats_sampled" ->
      s"""WITH sampled AS (
         |  SELECT vec_id, label, embedding FROM (
         |    SELECT vec_id, label, embedding,
         |      row_number() OVER (PARTITION BY label
         |        ORDER BY $sampleKeySql, vec_id) AS rk
         |    FROM embeddings) t
         |  WHERE rk <= $SampleCap
         |)
         |SELECT a.label AS label, count(*) AS n_pairs,
         |  round(avg(${cosSql("a", "b")}), 4) AS avg_cos,
         |  round(max(${cosSql("a", "b")}), 4) AS max_cos
         |FROM sampled a JOIN sampled b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |GROUP BY a.label ORDER BY a.label""".stripMargin,
    // Full mirror of the IVF pipeline: the same seeded centroids (the
    // NumCentroids vectors after the query range, selected IN SQL, so
    // engine and oracle pick identical cells), argmax-cosine assignment
    // with the same cid-ascending tie-break as the engine's first-max
    // array_position, nprobe probe cells, exact re-rank within the
    // probed residents. nprobe = NumCentroids ≡ brute force is pinned
    // in SimilaritySpec.
    "sim_ann_ivf_kmeans" -> kmeansIvfSql(KMeansIters),
    // full PQ mirror incl. the per-subspace Lloyd FIT (round 11):
    // seed-slice codebooks, then per iteration the quantized-argmin
    // assignment, per-(m, cell, dim) integer sums and the folded
    // codewords (COALESCE keeps an empty cell's codeword), unrolled
    // KMeansIters times — the same discipline as the IVF fit mirror.
    // Codeword norms via list_dot_product(cv,cv) ≡ the engine's
    // left-to-right normSq fold; every assignment/table/score
    // comparison an integer
    // SQ8: per-dim min/max fit (order-free aggs — oracle-exact with no
    // quantization tricks), encode/dequant arithmetic op-for-op, and
    // the per-term-quantized integer score sum (order-free on both
    // engines)
    "sim_ann_sq8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ex AS (SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e),
         |dims AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d),
         |xh AS (
         |  SELECT ex.vec_id, ex.d,
         |    CASE WHEN mx = mn THEN mn
         |         ELSE mn + floor((x - mn) * 255.0 / (mx - mn) + 0.5) * ((mx - mn) / 255.0)
         |    END AS xhat
         |  FROM ex JOIN dims USING (d)
         |),
         |q AS (SELECT vec_id AS query_id, d, x AS qd FROM ex WHERE vec_id < $NumQueries),
         |terms AS (
         |  SELECT q.query_id, xh.vec_id,
         |    CAST(floor(q.qd * xh.xhat * ${Sq8TermScale.toLong}.0) AS BIGINT) AS term
         |  FROM q JOIN xh ON q.d = xh.d AND xh.vec_id <> q.query_id
         |),
         |sc AS (SELECT query_id, vec_id, CAST(sum(term) AS BIGINT) AS score_q
         |       FROM terms GROUP BY query_id, vec_id),
         |rk AS (SELECT query_id, vec_id, score_q,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY score_q DESC, vec_id ASC) AS rk
         |       FROM sc)
         |SELECT query_id, rk, vec_id, score_q FROM rk
         |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "sim_ann_pq" ->
      s"""WITH ${pqFitPrefixSql(KMeansIters)},
         |cb AS (SELECT m, c, cv, cc FROM cb$KMeansIters),
         |dist AS (
         |  SELECT s.vec_id, cb.m, cb.c,
         |    CAST(floor((cb.cc - 2.0 * list_dot_product(s.sv, cb.cv))
         |      * ${ScoreScale.toLong}.0) AS BIGINT) AS dq
         |  FROM sv s JOIN cb USING (m)
         |),
         |codes AS (
         |  SELECT vec_id, m, c AS code FROM (
         |    SELECT vec_id, m, c,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dq ASC, c ASC) AS rn
         |    FROM dist) t WHERE rn = 1
         |),
         |tab AS (
         |  SELECT q.vec_id AS query_id, cb.m, cb.c,
         |    CAST(floor(
         |      list_dot_product(q.v[cb.m*$PqSubDim+1 : cb.m*$PqSubDim+$PqSubDim], cb.cv)
         |      * ${ScoreScale.toLong}.0) AS BIGINT) AS t
         |  FROM ev q CROSS JOIN cb WHERE q.vec_id < $NumQueries
         |),
         |sc AS (
         |  SELECT tab.query_id, c.vec_id, CAST(sum(tab.t) AS BIGINT) AS score_q
         |  FROM codes c JOIN tab ON tab.m = c.m AND tab.c = c.code
         |  GROUP BY tab.query_id, c.vec_id
         |)
         |SELECT query_id, rk, vec_id, score_q FROM (
         |  SELECT query_id, vec_id, score_q,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_q DESC, vec_id ASC) AS rk
         |  FROM sc WHERE vec_id <> query_id) t
         |WHERE rk <= $TopK
         |ORDER BY query_id, rk""".stripMargin,
    // IVF-PQ mirror: the seeded-IVF assignment/probe CTEs (rk/assign/
    // probes verbatim from ivfSeededSql's shape) composed with the PQ
    // fit + ADC discipline over RESIDUALS — the same pqFitCtes chain as
    // sim_ann_pq pointed at the residual CTE, codeword seeds the
    // residuals of vectors IvfPqSeedBase.., norms via list_dot_product
    // ≡ the engine's normSq fold, every assignment/table/score
    // comparison an integer; the per-(query, cell) coarse term joins
    // through the candidate's cell
    "sim_ann_ivfpq" ->
      ivfPqSqlWith(pqFitCtes(KMeansIters, "resid", "r", IvfPqSeedBase)),
    // the 8-bit tier: the IDENTICAL mirror with 256-codeword seeds —
    // only the cb0 seed range widens; fit, dist/codes argmin, tab and
    // sc CTEs are all codeword-count-generic
    "sim_ann_ivfpq_8b" ->
      ivfPqSqlWith(pqFitCtes(KMeansIters, "resid", "r", IvfPqSeedBase,
        Pq8Codewords)),
    // the 32-byte standalone tier: same mirror again with the subspace
    // grid widened to 32 × 2-dim slices (the generators are
    // (k, subspaces)-generic end to end)
    "sim_ann_ivfpq_32x8" ->
      ivfPqSqlWith(pqFitCtes(KMeansIters, "resid", "r", IvfPqSeedBase,
        Pq8Codewords, Pq32Subspaces), subspaces = Pq32Subspaces),
    // identical CTE chain (same fit, same ADC scores) with the refine
    // tail: ADC pool cut at RerankPool, exact-dot re-rank off the raw
    // vector store — integer scores on the shared 10^12 grid
    "sim_ann_ivfpq_rerank" ->
      ivfPqSqlWith(pqFitCtes(KMeansIters, "resid", "r", IvfPqSeedBase),
        ivfPqRerankSqlTail, nprobe = RefineNProbe),
    // the incremental mirror differs ONLY in the fit chain: codebooks
    // (annEncodeOracleSql below reuses this exact chain for the
    // streaming ingest twin's flat encode rows)
    // fitted on the PRIOR slice (frozen at index creation), seeded from
    // the 16 lowest-id prior vectors after the coarse range; encoding
    // (dist/codes) still reads the full residual fan-out — the frozen
    // models applied to every slice, which is what makes the sliced
    // engine-side encode ∪ equal the from-scratch encode
    "sim_ann_ivfpq_incremental" -> ivfPqIncrementalOracleSql,
    // the stored twin reads the frozen models + prior codes from the
    // parquet artifact instead of refitting inline — the round-trip
    // must be semantically invisible, so it shares the inline
    // incremental's oracle VERBATIM
    "sim_ann_ivfpq_stored" -> ivfPqIncrementalOracleSql,
    // the fitted assignment + qc mirrored through the shared fit
    // prefix; the drop rule is pure integer comparisons (qc and the
    // pair score both floor-quantized LONGs — the kmeans parity
    // argument), so no float can diverge between the engines
    "dedup_semantic" ->
      s"""WITH ${fitPrefixSql(KMeansIters)},
         |assign AS (SELECT vec_id, cid AS cell, qs AS qc FROM rkf WHERE rn = 1),
         |drops AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM assign a JOIN assign b ON a.cell = b.cell
         |    AND (b.qc < a.qc OR (b.qc = a.qc AND b.vec_id < a.vec_id))
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE CAST(floor(${cosSql("ea", "eb")} * ${ScoreScale.toLong}.0) AS BIGINT)
         |    >= $SemDedupTauQ
         |)
         |SELECT cell, vec_id, qc FROM assign
         |WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = assign.vec_id)
         |ORDER BY cell, vec_id""".stripMargin,
    "sim_ann_ivf" -> ivfSeededSql,
    // the frozen-quantizer delta append is OUTPUT-INVISIBLE (assignment
    // is a deterministic per-row function of (v, centroids), so
    // slice-wise ∪ ≡ whole-corpus) — sharing the seeded-IVF oracle IS
    // the correctness claim, exactly like dedup_incremental_bloom
    // sharing dedup_incremental's
    "sim_ann_ivf_incremental" -> ivfSeededSql,
    // Full mirror of the ANN pipeline: signatures from generated
    // hyperplane constants, candidate equi-join on (table, sig), exact
    // cosine re-rank. Approximation semantics are therefore pinned by
    // hash compare, not hand-waved (recall vs brute force is separately
    // asserted in SimilaritySpec).
    "sim_ann_lsh" ->
      s"""WITH sigrows AS (
         |  SELECT vec_id, unnest([${(0 until LshTables).map(t =>
               s"struct_pack(t := $t, sig := ${sigSql(t)})").mkString(",\n    ")}]) AS u
         |  FROM embeddings
         |),
         |sig AS (SELECT vec_id, u.t AS t, u.sig AS sig FROM sigrows),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS vec_id
         |  FROM sig q JOIN sig e ON q.t = e.t AND q.sig = e.sig
         |  WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id
         |),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    ${cosSql("q", "e")} AS cos,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY ${cosSql("q", "e")} DESC, c.vec_id ASC) AS rk
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.query_id
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |)
         |SELECT query_id, rk, vec_id, round(cos, 4) AS cosine
         |FROM scored WHERE rk <= $TopK
         |ORDER BY query_id, rk""".stripMargin,
  )
}
