package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{AnnIndex, Similarity}

/** Diagnostic: IVF-PQ recall@3 as a function of COARSE CELL COUNT and
  * nprobe at a fixed corpus — the RECALL side of [[AnnCellsProbe]]'s
  * wall-clock lever. BASELINE.md's cell-count table shows the √N re-size
  * buying 4.4–4.7× serve wall at 10×/100× corpora; this probe pins what
  * that re-size does to answer quality (the q402 nprobe-recall machinery,
  * parameterized by cell count), so the lever's two sides are read off the
  * SAME shard: a re-size that bought wall by silently shedding recall
  * would show here as a recall gap between the frozen and re-sized arms at
  * equal nprobe.
  *
  * Ground truth is the exact-L2 top-3 over queries × corpus (computed once
  * per invocation, reused across every (cells, nprobe) arm) — quadratic,
  * which is why this lives as a diagnostic main beside the quarantined
  * bench=false exact oracles rather than a catalog query.
  *
  * Usage: runMain graft.AnnRecallProbe <sfDir> <cells[,cells...]> [nprobes=1,2,4]
  *
  * CLUSTERED MODE (round 18, VERDICT r17 "What's missing" #3): pass
  * `--mog=n,components,sigma` as the first arg instead of a sfDir to run
  * the same sweep over a SEEDED mixture fixture — `n` 64-dim vectors in
  * `components` well-separated clusters with per-dim noise `sigma`. The
  * driver testdata's embeddings are salted-shard-uniform, which puts every
  * query's true neighbors in its own coarse cell and makes the nprobe dial
  * read flat (the r15 recall table); a clustered geometry is where nprobe
  * actually moves, and this mode pins that (a) recall RISES with nprobe
  * and (b) the √N cell re-size stays recall-safe off the uniform
  * geometry. Fully deterministic (hash-derived centers and noise — no RNG
  * state, so the fixture is reproducible across sessions and executors).
  */
object AnnRecallProbe {

  /** Seeded mixture fixture: component centers at hash-uniform corners of
    * [-4,4]^64, per-element hash-uniform noise in [-sigma, sigma]. Pure
    * column arithmetic — deterministic under any partitioning.
    */
  private def mogEmbeddings(spark: SparkSession, n: Long, components: Int,
      sigma: Double, dims: Int = 64) = {
    val d = sequence(lit(0), lit(dims - 1))
    def u(h: org.apache.spark.sql.Column) = // hash → uniform [-1, 1]
      (pmod(graft.ops.Hashing.hash60(h.cast("string")), lit(2001L))
        .cast("double") / lit(1000.0)) - lit(1.0)
    spark.range(n).select(col("id").as("vec_id"),
      transform(d, j =>
        (u(concat(lit("ctr-"), pmod(col("id"), lit(components)), lit("-"), j))
          * lit(4.0) +
         u(concat(lit("nz-"), col("id"), lit("-"), j)) * lit(sigma))
          .cast("float")).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: AnnRecallProbe <sfDir|--mog=n,k,sigma> <cells[,cells...]> [nprobes=1,2,4]")
    val sfDir = args(0)
    val cellCounts = args(1).split(",").map(_.trim.toInt).toSeq
    val nprobes =
      if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
      else Seq(1, 2, 4)
    // PQ codebook size (4th arg) — the attribution dial for clustered
    // geometries: when recall is flat in nprobe but candidates provably
    // include the true neighbors, the limiter is ADC quantization error,
    // and raising k here (16 → 64) must lift recall where raising nprobe
    // does not
    val pqK = if (args.length > 3) args(3).trim.toInt else 16
    val spark = Sessions.local(Sessions.envCpus())

    val emb = (if (sfDir.startsWith("--mog=")) {
      val Array(mn, mk, ms) = sfDir.stripPrefix("--mog=").split(",")
      mogEmbeddings(spark, mn.toLong, mk.toInt, ms.toDouble)
    } else Tables.load(spark, sfDir, "embeddings")).localCheckpoint()
    val n = emb.count()
    val queries = emb.where(pmod(col("vec_id"), lit(10)) === 0).localCheckpoint()
    val nQ = queries.count()

    // exact-L2 top-3 truth, once — every (cells, nprobe) arm joins it
    val W = org.apache.spark.sql.expressions.Window
    val base = emb.select(col("vec_id").as("neighbor_id"),
      transform(col("embedding"), x => x.cast("double")).as("vb"))
    val exact = queries.select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("va"))
      .crossJoin(base)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", Similarity.l2sq(col("va"), col("vb")))
      .withColumn("rk", row_number().over(W.partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("neighbor_id").asc)))
      .where(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()

    cellCounts.foreach { cells =>
      val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
        Similarity.kmeansCentroidsFlat(emb, col("vec_id"), col("embedding"),
          k = cells, iters = 2)))
      val idx = AnnIndex.build(emb, col("vec_id"), col("embedding"), coarse,
        dims = 64, m = 8, k = pqK, iters = 1)
      idx.productIterator.foreach {
        case d: org.apache.spark.sql.Dataset[_] => d.count()
        case _ =>
      }
      nprobes.foreach { np =>
        val hits = AnnIndex.search(queries, col("vec_id"), col("embedding"),
            3, idx, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .count()
        println(f"[annrecall] n=$n cells=$cells pqk=$pqK nprobe=$np n_queries=$nQ " +
          f"n_hits=$hits recall=${hits / (3.0 * nQ)}%.4f")
      }
    }
    spark.stop()
  }
}
