package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev sweep: recall@TopK of the ANN family vs the exact brute-force
  * answer, across the refine knobs (nprobe × rerank pool). Writes the
  * SCALING.md curve. Not part of the driver contract. */
object AnnRecall {
  def recallOf(ann: DataFrame, brute: DataFrame): Double = {
    val truth = brute.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = ann.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    (truth & got).size.toDouble / truth.size
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.SessionTuning.benchSession("graft-ann-recall")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val brute = graft.operators.Similarity.simTopKBrute(spark, sfDir)
    for (np <- Seq(16); pool <- Seq(400, 600, 800)) {
      val t0 = System.nanoTime()
      val r = recallOf(
        graft.operators.Similarity.simAnnIvfPqRerankAt(spark, sfDir, np, pool),
        brute)
      println(f"[recall] nprobe=$np%2d pool=$pool%2d recall@5=$r%.3f  (${(System.nanoTime()-t0)/1e9}%.2f s)")
    }
    // the sibling ANN paths at their benched defaults, for the table
    for ((name, df) <- Seq(
      "ivf" -> graft.operators.Similarity.simAnnIvf(spark, sfDir),
      "ivf_np14" -> graft.operators.Similarity.simAnnIvfOn(spark, sfDir, 14),
      "ivfpq" -> graft.operators.Similarity.simAnnIvfPq(spark, sfDir),
      "ivfpq_8b" -> graft.operators.Similarity.simAnnIvfPq8b(spark, sfDir),
      "ivfpq_32x8" -> graft.operators.Similarity.simAnnIvfPq32x8(spark, sfDir),
      "pq" -> graft.operators.Similarity.simAnnPq(spark, sfDir),
      "sq8" -> graft.operators.Similarity.simAnnSq8(spark, sfDir),
      "lsh" -> graft.operators.Similarity.simAnnLsh(spark, sfDir))) {
      println(f"[recall] $name%-10s default recall@5=${recallOf(df, brute)}%.3f")
    }
    spark.stop()
  }
}
