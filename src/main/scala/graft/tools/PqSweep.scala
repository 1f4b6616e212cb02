package graft.tools

/** Dev probe: un-reranked IVF-PQ recall across the (codewords k ×
  * subspaces m) grid — the measurement behind the shipped compressed
  * tiers' geometry choices. */
object PqSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.benchSession("graft-pq-sweep")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val brute = graft.operators.Similarity.simTopKBrute(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    for ((k, m) <- Seq((256, 8), (256, 16), (256, 32), (16, 8))) {
      val t0 = System.nanoTime()
      val got = graft.operators.Similarity
        .simAnnIvfPqAtOn(spark, sfDir, 16, k, m)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[pq] k=$k%3d m=$m%2d bytes=${m * (if (k > 16) 8 else 4) / 8}%3d recall=${(brute & got).size.toDouble / brute.size}%.3f wall=$wall%.2f s")
    }
    spark.stop()
  }
}
