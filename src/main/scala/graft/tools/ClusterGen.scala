package graft.tools


/** Dev generator: an embeddings table with PLANTED GAUSSIAN CLUSTERS —
  * the corpus shape real embedding models produce, vs the isotropic
  * random vectors of the driver testdata where quantization is
  * worst-case and LSH/IVF cell routing is atypical (r16 VERDICT #2's
  * honesty note). Writes `<outDir>/embeddings.parquet` with the
  * testdata schema (vec_id BIGINT, embedding FLOAT[], label INT =
  * planted cluster id), so every `sim_*` query and AnnRecall run on it
  * unchanged via SPARK_GRAFT_SF_DIR.
  *
  *   runMain graft.tools.ClusterGen <outDir> [n] [clusters] [sigma]
  *
  * Points are L2-normalized (center + sigma·gaussian) draws around K
  * random unit centers, seeded deterministically. sigma = 0.1 at
  * D = 64 gives within-cluster cosine ≈ 0.75–0.9 and cross-cluster
  * ≈ 0 — "tight but overlapping top-k" territory. */
object ClusterGen {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 2000
    val k = if (args.length > 2) args(2).toInt else 32
    val sigma = if (args.length > 3) args(3).toDouble else 0.1
    val dims = graft.functions.LshImpl.Dims
    val spark = graft.SessionTuning.session("graft-cluster-gen", "local[8]", 8)
    import spark.implicits._
    val rnd = new java.util.Random(0xc1057e2L)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val centers = Array.fill(k)(unit(Array.fill(dims)(rnd.nextGaussian())))
    val rows = (0 until n).map { i =>
      val c = rnd.nextInt(k)
      val p = unit(centers(c).map(_ + sigma * rnd.nextGaussian()))
      (i.toLong, p.map(_.toFloat).toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"CLUSTERGEN_OK n=$n k=$k sigma=$sigma dims=$dims -> $outDir")
    spark.stop()
  }
}
