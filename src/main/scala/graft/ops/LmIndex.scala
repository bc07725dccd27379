package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Persisted bigram-LM count tables — the q168/q175/q190 table-ification
  * discipline applied to q108's language model: aggregate the training
  * corpus ONCE into (w, c1) unigram and (w1, w2, c2) bigram count tables,
  * store them as parquet, and run every later perplexity pass (batch q108
  * scoring, the streaming LM gate's model derivation) against the stored
  * counts instead of re-tokenizing the corpus.
  *
  * The tables store RAW counts deliberately: counts are ADDITIVE, so a
  * daily-ingest delta merges by summation and the appended table equals a
  * from-scratch rebuild EXACTLY (q198 hash-proves it) — whereas a
  * vocabulary-CAPPED table could never append exactly (the top-V of a
  * merge is not the merge of top-Vs). The cap is a READ-time concern and
  * lives in [[Text.lmScoreFromCounts]], the one shared scoring tree.
  */
object LmIndex {

  /** The stored model: unigram and bigram count frames. */
  final case class LmTables(uni: DataFrame, big: DataFrame)

  /** Aggregate a training corpus into count tables (one tokenization;
    * frames materialized so writes/joins never replay the lineage).
    */
  def build(train: DataFrame, id: Column, text: Column): LmTables = {
    val toks = Dedup.spreadBy(train, id).select(Text.tokens(text).as("t"))
      .localCheckpoint()
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val big = toks.where(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
        struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    LmTables(uni.localCheckpoint(), big.localCheckpoint())
  }

  /** Merge a new-docs delta in: count the delta alone, sum per key.
    * Exact == rebuild by additivity — no ordering contract needed (unlike
    * [[ParaIndex.append]]), because summation is commutative.
    */
  def append(tbl: LmTables, delta: DataFrame, id: Column, text: Column): LmTables = {
    val d = build(delta, id, text)
    LmTables(
      tbl.uni.unionByName(d.uni).groupBy(col("w")).agg(sum(col("c1")).as("c1")),
      tbl.big.unionByName(d.big).groupBy(col("w1"), col("w2"))
        .agg(sum(col("c2")).as("c2")))
  }

  /** Retract documents: count the removed docs alone and SUBTRACT per
    * key, dropping keys that reach zero — additivity works in both
    * directions, so the decremented table equals a rebuild on the
    * remaining corpus EXACTLY (q278 hash-proves it through the scoring
    * surface). With [[MinHashIndex.delete]]'s per-doc row filter this
    * closes the right-to-be-forgotten story for every durable-table
    * class: per-doc-local tables delete by key filter, additive count
    * tables by subtraction — no retrain either way. (Sketch tables are
    * the exception by design: HLL/theta registers are max-folds and
    * cannot unabsorb — deletion there means rebuild, documented at
    * [[HllIndex]].)
    */
  def retract(tbl: LmTables, removed: DataFrame, id: Column,
      text: Column): LmTables = {
    val d = build(removed, id, text)
    val uni = tbl.uni
      .join(d.uni.withColumnRenamed("c1", "dc"), Seq("w"), "left_outer")
      .select(col("w"), (col("c1") - coalesce(col("dc"), lit(0L))).as("c1"))
      .where(col("c1") > 0)
    val big = tbl.big
      .join(d.big.withColumnRenamed("c2", "dc"), Seq("w1", "w2"), "left_outer")
      .select(col("w1"), col("w2"),
        (col("c2") - coalesce(col("dc"), lit(0L))).as("c2"))
      .where(col("c2") > 0)
    LmTables(uni, big)
  }

  /** Word-hash partition fan-out of the stored tables: partitioned by the
    * (leading-)word hash bucket, a retraction
    * ([[SnapTables.decrementCounts]], q409/q427) rewrites only the buckets
    * the removed docs' vocabulary occupies, never the whole
    * vocabulary-scale file set.
    */
  val DefaultWordBuckets = 64

  /** Score documents from the STORED tables — [[Text.bigramLmScore]]'s
    * exact arithmetic through the shared [[Text.lmScoreFromCounts]] tree;
    * the training corpus is never re-tokenized. `maxVocab` caps the
    * vocabulary at read (see the object doc for why not at write).
    */
  def score(tbl: LmTables, docs: DataFrame, id: Column, text: Column,
      maxVocab: Option[Int] = None): DataFrame =
    Text.lmScoreFromCounts(tbl.uni, tbl.big, docs, id, text, maxVocab)
}
