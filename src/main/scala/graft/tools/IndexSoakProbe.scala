package graft.tools

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize}
import graft.sources.{IndexStore, Tables}

/** Dev measurement (r17 VERDICT #5): the index-APPEND soak — chain K
  * daily appends onto the minhash and simhash band artifacts and
  * measure what a steady-state ingest actually accumulates: probe wall
  * vs K, and part-file count per band partition (every append adds one
  * file to each touched partition, so a year of daily appends is ~365
  * files/partition — per-file open/footer overhead is the creep this
  * probe quantifies, and [[IndexStore.compact]] is the answer it
  * calibrates). After the last day the artifact is compacted and
  * probed once more — the wall should return to the day-1 shape while
  * the probe OUTPUT stays byte-identical (asserted, not assumed).
  *
  *   runMain graft.tools.IndexSoakProbe [sfDir] [days]
  *
  * Prints one JSON line per (index, day) with probe wall (min of 2),
  * total part files, and max files per band partition, then the
  * post-compaction row.
  */
object IndexSoakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val days = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = graft.SessionTuning.benchSession("graft-index-soak")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_soak_").toString
    val docs = Tables.documents(spark, sfDir)
    def slice(i: Int): DataFrame =
      docs.filter(pmod($"doc_id", lit(days + 1)) === i)

    def fileStats(path: String): (Int, Int) = {
      def walk(d: File): Seq[File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      val parts = walk(new File(path)).filter(_.getName.endsWith(".parquet"))
      val perPartition = parts.groupBy(_.getParentFile.getPath)
        .map(_._2.size)
      (parts.size, if (perPartition.isEmpty) 0 else perPartition.max)
    }

    def probeMin2(run: => Long): (Double, Long) = {
      def once: (Double, Long) = {
        val t0 = System.nanoTime(); val n = run
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val a = once; val b = once
      (math.min(a._1, b._1), b._2)
    }

    // ── minhash: sigs (unpartitioned) + band index (partitioned by band)
    val mSigs = s"$root/minhash_sigs"
    val mBands = s"$root/minhash_bands"
    IndexStore.readOrBuild(spark, mSigs, Dedup.minhashHashed(slice(0)))
    IndexStore.readOrBuild(spark, mBands,
      Dedup.minhashBanded(spark.read.parquet(mSigs)), Seq("band"))

    // ── simhash: fingerprint sigs + exact-chunk index (partitioned by c)
    val sSigs = s"$root/simhash_sigs"
    val sChunks = s"$root/simhash_chunks"
    IndexStore.readOrBuild(spark, sSigs, Dedup.simhashHashed(slice(0)))
    IndexStore.readOrBuild(spark, sChunks,
      Dedup.simhashChunkIndex(spark.read.parquet(sSigs)), Seq("c"))

    for (day <- 1 to days) {
      val delta = slice(day)

      val mDelta = Materialize.frame(Dedup.minhashHashed(delta))
      val (mWall, mRows) = probeMin2(Dedup.minhashIncrementalTail(
        spark.read.parquet(mSigs), spark.read.parquet(mBands), mDelta).count())
      IndexStore.append(spark, mSigs, mDelta)
      IndexStore.append(spark, mBands, Dedup.minhashBanded(mDelta), Seq("band"))
      val (mFiles, mMax) = fileStats(mBands)
      println(f"""{"index":"minhash","day":$day,"probe_wall":$mWall%.2f,""" +
        f""""probe_rows":$mRows,"band_files":$mFiles,"max_per_partition":$mMax}""")

      val sDelta = Materialize.frame(Dedup.simhashHashed(delta))
      val (sWall, sRows) = probeMin2(Dedup.simhashIncrementalTail(
        spark.read.parquet(sSigs), spark.read.parquet(sChunks), sDelta).count())
      IndexStore.append(spark, sSigs, sDelta)
      IndexStore.append(spark, sChunks, Dedup.simhashChunkIndex(sDelta), Seq("c"))
      val (sFiles, sMax) = fileStats(sChunks)
      println(f"""{"index":"simhash","day":$day,"probe_wall":$sWall%.2f,""" +
        f""""probe_rows":$sRows,"band_files":$sFiles,"max_per_partition":$sMax}""")
    }

    // ── compaction: probe output must be IDENTICAL, files collapse,
    // probe wall returns to the day-1 shape (measured, not argued)
    val probeDelta = Materialize.frame(Dedup.minhashHashed(slice(1)))
    val before = Dedup.minhashIncrementalTail(spark.read.parquet(mSigs),
      spark.read.parquet(mBands), probeDelta).collect().map(_.toSeq).toSeq
    IndexStore.compact(spark, mSigs)
    IndexStore.compact(spark, mBands, Seq("band"))
    val after = Dedup.minhashIncrementalTail(spark.read.parquet(mSigs),
      spark.read.parquet(mBands), probeDelta).collect().map(_.toSeq).toSeq
    require(before == after, "compaction changed probe output")
    val (cWall, cRows) = probeMin2(Dedup.minhashIncrementalTail(
      spark.read.parquet(mSigs), spark.read.parquet(mBands), probeDelta).count())
    val (cFiles, cMax) = fileStats(mBands)
    println(f"""{"index":"minhash","day":"post-compact","probe_wall":$cWall%.2f,""" +
      f""""probe_rows":$cRows,"band_files":$cFiles,"max_per_partition":$cMax,""" +
      f""""output_identical":true}""")

    val sProbeDelta = Materialize.frame(Dedup.simhashHashed(slice(1)))
    IndexStore.compact(spark, sSigs)
    IndexStore.compact(spark, sChunks, Seq("c"))
    val (scWall, scRows) = probeMin2(Dedup.simhashIncrementalTail(
      spark.read.parquet(sSigs), spark.read.parquet(sChunks), sProbeDelta).count())
    val (scFiles, scMax) = fileStats(sChunks)
    println(f"""{"index":"simhash","day":"post-compact","probe_wall":$scWall%.2f,""" +
      f""""probe_rows":$scRows,"band_files":$scFiles,"max_per_partition":$scMax}""")

    spark.stop()
  }
}
