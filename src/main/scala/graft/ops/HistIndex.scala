package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A persisted equi-width histogram table — the durable quantile-serving
  * companion of [[CmsIndex]] (point frequencies) and [[HllIndex]] (distinct
  * counts): per key, `bins` fixed-width counters over a FROZEN value domain;
  * any later quantile/CDF read is answered from stored counters alone at
  * bin-width resolution, with no rescan and no sort.
  *
  * The domain [lo, hi] freezes on the BUILD corpus (the q158/q246
  * frozen-model discipline — rebinning on every append would make shards
  * incomparable); out-of-range values clamp into the edge bins, so the
  * counters stay conservative under drift and a drifted corpus shows up as
  * edge-bin mass (the monitoring signal, not an error). Bin counts are
  * ADDITIVE — sketching a delta and summing per (key, bin) equals a
  * from-scratch rebuild exactly, with no ordering contract (the CMS
  * maintenance class; q260 hash-proves the merged table through the
  * quantile surface against a full relational replay).
  */
object HistIndex {

  /** Freeze the domain: (lo, hi) as doubles from the build corpus. */
  def domain(df: DataFrame, value: Column): (Double, Double) = {
    val r = df.agg(min(value.cast("double")), max(value.cast("double"))).head()
    require(!r.isNullAt(0) && r.getDouble(0) < r.getDouble(1),
      "histogram domain needs at least two distinct non-null values")
    (r.getDouble(0), r.getDouble(1))
  }

  /** The bin expression shared by build and oracle: clamp(floor((x − lo) /
    * width)) into [0, bins−1]. Width is the ONE double division, written
    * identically in the DuckDB twin.
    */
  def binOf(value: Column, lo: Double, hi: Double, bins: Int): Column = {
    val width = (hi - lo) / bins
    least(greatest(floor((value.cast("double") - lit(lo)) / lit(width)),
      lit(0L)), lit(bins - 1L)).cast("int")
  }

  /** DuckDB twin of [[binOf]]. `loE`/`widthE` are SQL expressions (usually
    * columns of a bounds CTE that replays [[domain]] over the same build
    * corpus — MIN/MAX are deterministic, so the replayed doubles are
    * bit-identical to the frozen literals the engine baked in).
    */
  def duckBinOf(e: String, loE: String, widthE: String, bins: Int): String =
    s"CAST(LEAST(GREATEST(FLOOR((CAST($e AS DOUBLE) - $loE) / $widthE), 0), ${bins - 1}) AS INT)"

  /** Build one shard: (key, bin, cnt) over the frozen domain. */
  def build(df: DataFrame, key: Column, value: Column, lo: Double, hi: Double,
      bins: Int): DataFrame =
    df.select(key.as("key"), binOf(value, lo, hi, bins).as("bin"))
      .groupBy(col("key"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()

  /** Merge shard tables: per-(key, bin) counter sum — additive, exact. */
  def merge(shards: Seq[DataFrame]): DataFrame = {
    require(shards.nonEmpty, "merge needs at least one histogram shard")
    shards.reduce(_ unionByName _)
      .groupBy(col("key"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile estimates from stored counters alone: for each requested q,
    * the UPPER EDGE of the first bin whose cumulative count reaches
    * ⌈q·n⌉ (the nearest-rank convention at bin resolution — the estimate
    * is within one bin width of the exact nearest-rank value, by
    * construction). Per-key windows run over ≤ `bins` rows; nothing
    * data-sized is touched. Output: (key, q, n, est).
    */
  def quantiles(h: DataFrame, lo: Double, hi: Double, bins: Int,
      qs: Seq[Double]): DataFrame = {
    val width = (hi - lo) / bins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("bin").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val cum = h
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wn))
    val qdf = h.sparkSession.createDataFrame(qs.map(Tuple1.apply)).toDF("q")
    cum.crossJoin(broadcast(qdf))
      .where(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col("key"), col("q"), col("n"))
      .agg(min(col("bin")).as("bin"))
      .select(col("key"), col("q"), col("n"),
        (lit(lo) + (col("bin") + 1) * lit(width)).as("est"))
  }
}
