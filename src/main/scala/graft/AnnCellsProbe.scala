package graft

import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Similarity}

/** Diagnostic: IVF-PQ serve cost as a function of COARSE CELL COUNT at a
  * fixed corpus — the empirical leg of BASELINE.md's q157 scale-curve note.
  * q157's coarse quantizer is the 10-cell label alphabet, so growing the
  * corpus 10× grows every posting list 10× and ADC candidate volume ~100×
  * (10× queries × 10× lists). The production lever is build-time only:
  * size the k-means coarse codebook ~√N so per-probe lists stay bounded.
  * This probe builds the SAME index at several cell counts and times the
  * serve path separately from the build, so the lever's effect is read
  * directly.
  *
  * Usage: runMain graft.AnnCellsProbe <sfDir> <cells> [reps=3]
  */
object AnnCellsProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AnnCellsProbe <sfDir> <cells> [reps=3]")
    val (sfDir, cells) = (args(0), args(1).toInt)
    val reps = if (args.length > 2) args(2).toInt else 3
    // the summary line reports min over runs 2..reps as serve_warm_min; with
    // reps=1 it would silently fall back to the cold run under a warm label
    // and skew any recorded scale-curve number
    require(reps >= 2, "AnnCellsProbe: reps must be >= 2 (run 1 is cold; " +
      "serve_warm_min is the min over runs 2..reps)")
    val spark = Sessions.local(Sessions.envCpus())

    val emb = Tables.load(spark, sfDir, "embeddings").localCheckpoint()
    val n = emb.count()

    val tB0 = System.nanoTime()
    val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"),
        k = cells, iters = 2)))
    val idx = AnnIndex.build(emb, col("vec_id"), col("embedding"), coarse,
      dims = 64, m = 8, k = 16, iters = 1)
    // materialize the index once — serve timing must not pay the build
    idx.productIterator.foreach {
      case d: org.apache.spark.sql.Dataset[_] => d.count()
      case _ =>
    }
    val buildSec = (System.nanoTime() - tB0) / 1e9

    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0).localCheckpoint()
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      AnnIndex.search(queries, col("vec_id"), col("embedding"), 3, idx,
        nprobe = 2)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[anncells] n=$n cells=$cells serve run$i: $s%.2f s")
      s
    }
    println(f"[anncells] n=$n cells=$cells build=$buildSec%.2f " +
      f"serve_warm_min=${times.tail.min}%.2f")
    spark.stop()
  }
}
