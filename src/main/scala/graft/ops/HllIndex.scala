package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A persisted HyperLogLog sketch table — the durable distinct-count
  * companion of [[CmsIndex]] (frequencies) and the theta tables (set ops):
  * each key group stores one Datasketches HLL sketch of its item set, and
  * any later distinct-count read — one group, a group subset, the whole
  * corpus — folds the STORED sketches with `hll_union_agg`, never
  * rescanning the sketched rows.
  *
  * HLL state is a register-wise MAX — idempotent, commutative, associative
  * — so the table maintains by UNION with no ordering contract and no
  * delta/base distinction: sketching a new-rows shard and merging equals a
  * from-scratch rebuild of the union (HllIndexSpec pins estimate equality;
  * q255 hash-proves the maintained table through the q125-discipline
  * estimate surface: exact counts + within_bound verdicts). Unlike CMS
  * linearity this is idempotent too — re-merging an already-absorbed shard
  * is harmless, which is exactly the at-least-once semantics a streaming
  * maintenance path delivers.
  */
object HllIndex {

  /** Sketch `item` per `key` group: (key, sk, n_rows). The aggregation
    * combines map-side, so only #tasks × #keys partial sketches cross the
    * exchange regardless of item volume. Materialized so writes/merges
    * never replay the scan.
    */
  def build(df: DataFrame, key: Column, item: Column, lgK: Int = 12): DataFrame =
    df.select(key.as("key"), item.as("item"))
      .groupBy(col("key"))
      .agg(hll_sketch_agg(col("item"), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))
      .localCheckpoint()

  /** Merge sketch tables (any number of shards, any order): same-key
    * sketches union register-wise; n_rows adds. One keyed aggregation over
    * #shards × #keys rows of fixed-size state.
    */
  def merge(shards: Seq[DataFrame]): DataFrame = {
    require(shards.nonEmpty, "merge needs at least one sketch shard")
    shards.reduce(_ unionByName _)
      .groupBy(col("key"))
      .agg(hll_union_agg(col("sk")).as("sk"), sum(col("n_rows")).as("n_rows"))
  }

  /** Per-key estimates plus the all-keys union row, from stored sketches
    * alone. Output: (scope, est, n_rows).
    */
  def estimates(sk: DataFrame): DataFrame = {
    val t = sk.localCheckpoint()
    val per = t.select(col("key").cast("string").as("scope"),
      hll_sketch_estimate(col("sk")).as("est"), col("n_rows"))
    val union = t.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
      sum(col("n_rows")).as("n_rows"))
      .select(lit("__union__").as("scope"), col("est"), col("n_rows"))
    per.unionByName(union)
  }
}
