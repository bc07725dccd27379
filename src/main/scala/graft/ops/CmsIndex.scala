package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted Count-Min sketch table — the durable twin of
  * [[Text.countMinSketch]] (the q144/q198 mergeable-statistic discipline
  * applied to frequency sketches): sketch each key group ONCE, store the
  * depth×width counter arrays as parquet rows, and answer every later
  * point-frequency probe from the stored counters.
  *
  * CMS counters are LINEAR — each cell is a sum of per-row indicators — so
  * the table maintains additively: sketching a new-rows delta and merging
  * (elementwise array sum per key) equals a from-scratch rebuild of the
  * union EXACTLY, with no ordering contract at all (q216 hash-proves the
  * merged table through the estimate surface against the full relational
  * replay). This is the strongest maintenance class in the repo's
  * hierarchy: exact like q198's additive counts, but over a FIXED-size
  * state (depth×width longs per key) independent of item cardinality.
  */
object CmsIndex {

  /** Sketch `item` per `key` group: (key, sk) with sk = depth×width long
    * counters. Materialized so writes/merges never replay the scan.
    */
  def build(df: DataFrame, key: Column, item: Column, depth: Int,
      width: Int): DataFrame =
    df.groupBy(key.as("key"))
      .agg(Text.countMinSketch(item, depth, width).as("sk"))
      .localCheckpoint()

  /** Merge two sketch tables (base ∪ delta): same-key counter arrays sum
    * elementwise; keys present on one side pass through. Linearity makes
    * this exact — merge == rebuild on the unioned rows.
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("key"), col("sk").as("sk_a"))
      .join(b.select(col("key"), col("sk").as("sk_b")), Seq("key"), "full_outer")
      .select(col("key"),
        when(col("sk_a").isNull, col("sk_b"))
          .when(col("sk_b").isNull, col("sk_a"))
          .otherwise(zip_with(col("sk_a"), col("sk_b"), (x, y) => x + y))
          .as("sk"))

  /** Retract rows: sketch the removed rows alone and SUBTRACT counters
    * elementwise — CMS linearity works in both directions (unlike the
    * HLL/theta register max-folds, which cannot unabsorb), so the
    * decremented table equals a never-absorbed-them rebuild counter for
    * counter (CmsIndexSpec pins it). Keys whose counters all reach zero
    * drop. The q277/q278/q282 right-to-be-forgotten family's sketch
    * member.
    */
  def retract(full: DataFrame, removed: DataFrame): DataFrame =
    full.select(col("key"), col("sk").as("sk_a"))
      .join(removed.select(col("key"), col("sk").as("sk_b")), Seq("key"), "left_outer")
      .select(col("key"),
        when(col("sk_b").isNull, col("sk_a"))
          .otherwise(zip_with(col("sk_a"), col("sk_b"), (x, y) => x - y))
          .as("sk"))
      .where(exists(col("sk"), x => x > 0L))

  /** Key-hash partition fan-out for the SNAPSHOT-published sketch table:
    * small (the table is #keys rows), but [[SnapTables]] verbs rewrite and
    * prune at partition grain, so even a modest fan-out bounds a
    * retraction's I/O to the removed keys' buckets.
    */
  private val KeyBuckets = 8L

  /** A sketch row's key-hash partition, `kb`. */
  private def kb: Column = pmod(Hashing.hash60(col("key")), lit(KeyBuckets)).cast("int")

  /** Publish the sketch table under the [[SnapTables]] generation layer —
    * the serve-during-maintenance guarantee for the one register family
    * that CAN maintain exactly (CMS counters are linear; HLL/theta
    * max-folds cannot unabsorb and stay rebuild-only by design).
    */
  def publishSnapshot(spark: SparkSession, path: String, sk: DataFrame): Unit =
    SnapTables.publishInitial(spark, path, "kb", sk.withColumn("kb", kb))

  /** The current generation's sketch table (logical columns only). */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    SnapTables.resolve(spark, path, "kb").select(col("key"), col("sk"))

  /** [[retract]] published as a generation: sketch the removed rows alone,
    * subtract counters elementwise inside the removed keys' `kb` buckets
    * only, and flip the pointer — readers of the current generation keep
    * their counters until they re-resolve (the [[SnapTables]] contract).
    * All-zero keys drop. Returns the generation now serving.
    */
  def retractSnapshot(spark: SparkSession, path: String, removedSk: DataFrame): Int =
    rewriteBuckets(spark, path, removedSk.localCheckpoint())(retract)

  /** [[merge]] published as a generation — the ingest verb: the delta
    * sketch's keys rewrite their buckets as (current + delta) elementwise
    * sums (brand-new keys simply appear), everything else carries forward
    * manifest-only. Linearity makes the published table equal a rebuild on
    * the unioned rows. Returns the generation now serving.
    */
  def mergeSnapshot(spark: SparkSession, path: String, deltaSk: DataFrame): Int =
    rewriteBuckets(spark, path, deltaSk.localCheckpoint())(merge)

  /** Rewrite the `kb` buckets `d`'s keys fall in as `f(current, d)`, planned
    * and published by [[SnapTables.rewritePartitions]] against one
    * generation. A `d` with no rows publishes nothing.
    */
  private def rewriteBuckets(spark: SparkSession, path: String, d: DataFrame)
      (f: (DataFrame, DataFrame) => DataFrame): Int =
    SnapTables.rewritePartitions(spark, path, "kb") { tbl =>
      val affected = d.select(kb).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      Option.when(affected.nonEmpty)((affected,
        f(tbl.where(col("kb").isin(affected: _*)).select(col("key"), col("sk")), d)
          .withColumn("kb", kb)))
    }

  /** Point estimates for `probes` against every stored key group: the
    * q103 estimate surface ((key, probe, est)) from stored counters alone —
    * no rescan of the sketched rows. Probes broadcast; per (key, probe)
    * the estimate is `depth` array lookups.
    */
  def estimates(sk: DataFrame, probes: Seq[String], depth: Int,
      width: Int): DataFrame = {
    val p = sk.sparkSession.createDataFrame(
      probes.map(Tuple1.apply)).toDF("probe")
    sk.crossJoin(broadcast(p))
      .select(col("key"), col("probe"),
        Text.cmsEstimate(col("sk"), col("probe"), depth, width).as("est"))
  }
}
