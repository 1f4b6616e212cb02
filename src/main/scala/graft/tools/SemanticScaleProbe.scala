package graft.tools

import org.apache.spark.sql.functions._

/** Dev measurement (not part of the driver contract): demonstrates
  * SemDeDup's k ∝ n scale path. The driver-contract `dedup_semantic`
  * pins k = 16 cells for oracle hash-checkability, so on the ×10
  * ScaleGen corpus (vectors replicated verbatim) each FIXED cell grows
  * ×10 and the Σ n_c² pair space grows ×100 — a corpus-construction
  * artifact, not an operator property (SCALING.md note 4). The
  * operator's real deployment sizes k to the corpus; this probe runs
  * the k-parametric form at k and 10k on the ×10 corpus and prints
  * wall time, pair-space Σ n_c², and the kept-count, making the
  * "clusters ARE the index" claim a measured fact.
  *
  *   sbt "runMain graft.tools.SemanticScaleProbe [sfDir] [k1,k2,...]"
  */
object SemanticScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val ks = args.lift(1).getOrElse("16,160").split(",").map(_.trim.toInt).toSeq
    val spark = graft.SessionTuning.benchSession("graft-semantic-scale-probe")
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
    val n = e.count()
    println(s"[semscale] corpus $sfDir: $n vectors")
    for (k <- ks) {
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val kept = graft.operators.Similarity
          .dedupSemanticK(e, graft.operators.Similarity.SemDedupTauQ, k)
        val rows = kept.count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      run() // warm
      val (sec, kept) = run()
      // pair space under THIS k's fitted cells: assign once, Σ n_c²
      val seeds = e.filter($"vec_id" >= graft.operators.Similarity.NumQueries &&
          $"vec_id" < graft.operators.Similarity.NumQueries + k)
        .orderBy($"vec_id").select($"v").collect().map(_.getSeq[Double](0).toSeq).toSeq
      val cents = graft.operators.Similarity.fitCentroids(
        e, seeds, graft.operators.Similarity.KMeansIters)
      val scoreArr = array(cents.map(cv =>
        floor(graft.functions.VectorOps.cosine($"v", typedLit(cv)) *
          lit(graft.operators.Similarity.ScoreScale)).cast("long")): _*)
      val pairSpace = e
        .select((array_position(scoreArr, array_max(scoreArr)) - 1).as("cell"))
        .groupBy($"cell").agg(count(lit(1)).as("nc"))
        .agg(sum($"nc" * $"nc").as("s2"), max($"nc").as("maxc"))
        .head()
      println(f"[semscale] k=$k%4d wall=$sec%7.2f s kept=$kept%8d " +
        f"sum_nc2=${pairSpace.getLong(0)}%12d max_cell=${pairSpace.getLong(1)}%8d")
    }
    spark.stop()
  }
}
