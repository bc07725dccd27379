package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A persisted SimHash fingerprint table — the durable twin of
  * [[Dedup.simhash]] + the [[Dedup.simhashComboKeys]] pigeonhole blocking
  * (the q168/q207 table-ification discipline applied to the last near-dup
  * family still computing in-query): fingerprint the corpus ONCE, store the
  * 60-bit hashes and their blocked key table as partitioned parquet, and
  * run every later Hamming-distance probe against the stored tables instead
  * of re-tokenizing the corpus.
  *
  * SimHash is strictly PER-DOCUMENT (a document's fingerprint is a
  * majority vote over its own token hashes), so incremental maintenance is
  * exact by construction: fingerprinting a new-docs delta and appending
  * equals a from-scratch rebuild of the union, row for row — q212
  * hash-proves this cross-engine.
  *
  * On-disk layout (published through [[SnapTables]]): `path/keys` rows
  * (blk, blk_val, doc_id, simhash) partitioned by
  * `kb = blk_val mod keyBuckets` — the stored simhash rides
  * IN the key rows so the serve path's Hamming verification needs no
  * second join. The serve path broadcasts probe keys into the
  * (kb, blk, blk_val) join, so a small ingest batch dynamic-partition-
  * prunes the key scan to the buckets its fingerprints actually block
  * into — the AnnIndex posting-list discipline.
  */
object SimHashIndex {

  /** Partition fan-out of the stored key table. */
  val DefaultKeyBuckets = 64

  /** Fingerprint the corpus: (doc_id, simhash). Materialized so the key
    * derivation and writes never replay the tokenize+vote lineage.
    */
  def build(df: DataFrame, id: Column, text: Column): DataFrame =
    Dedup.simhash(df, id, text).localCheckpoint()

  /** Fingerprint a NEW-docs delta and append. Per-doc locality makes this
    * exact: append == full rebuild (q212). The table is append-only;
    * re-fingerprinting an indexed doc_id is the caller's bug.
    */
  def append(hashes: DataFrame, delta: DataFrame, id: Column,
      text: Column): DataFrame =
    hashes.unionByName(Dedup.simhash(delta, id, text))

  /** The pigeonhole key table over a fingerprint frame:
    * (blk, blk_val, doc_id, simhash) — one row per C(numBlocks, r) combo
    * key. Any pair within Hamming `maxHamming` shares at least one
    * (blk, blk_val).
    */
  def keyTable(hashes: DataFrame, maxHamming: Int, numBlocks: Int): DataFrame =
    hashes
      .select(col("doc_id"), col("simhash"),
        explode(Dedup.simhashComboKeys(col("simhash"), maxHamming, numBlocks))
          .as("bk"))
      .select(col("bk.blk").as("blk"), col("bk.blk_val").as("blk_val"),
        col("doc_id"), col("simhash"))

  /** Match a probe document batch against the STORED key table — the serve
    * path of a Hamming-distance ingest gate. Probes are fingerprinted with
    * the PER-ROW native [[Dedup.simhash60]] (bit-identical to the grouped
    * batch aggregation, property-pinned) and blocked with the SAME
    * (maxHamming, numBlocks) scheme as the table; candidates are key
    * collisions probe × table, and each candidate is verified by exact
    * bit_count on the simhash carried in the stored key row — pigeonhole
    * makes recall exact, so the oracle is the plain quadratic Hamming join
    * (q213).
    *
    * Output: (probe_id, doc_id, hamming), distinct.
    *
    * Scale shape: the table side is NEVER re-tokenized — one column-pruned
    * parquet scan; corpus text was touched once at build. Probe keys
    * broadcast; the stored `kb` partition column prunes the key scan to
    * the probe buckets. `maxBucket` drops oversized table-side buckets
    * whole (the q54 guard; probe text never shifts index statistics).
    */
  def matches(
      keys: DataFrame,
      probes: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int,
      numBlocks: Int,
      maxBucket: Option[Int] = None,
      keyBuckets: Int = DefaultKeyBuckets): DataFrame =
    matchesCodes(keys,
      probes.select(id.as("probe_id"), Dedup.simhash60(text).as("psh")),
      maxHamming, numBlocks, maxBucket, keyBuckets)

  /** [[matches]] over ALREADY-FINGERPRINTED probes ((probe_id, psh) rows) —
    * the modality-agnostic core: the key table stores 60-bit codes with no
    * opinion on where they came from, so the same stored index serves text
    * simhashes (q213) and media dHashes (q220) alike. Probe codes come from
    * whatever per-row fingerprinter the modality provides
    * ([[Dedup.simhash60]], [[Media.dhash]]).
    */
  def matchesCodes(
      keys: DataFrame,
      probeCodes: DataFrame,
      maxHamming: Int,
      numBlocks: Int,
      maxBucket: Option[Int] = None,
      keyBuckets: Int = DefaultKeyBuckets): DataFrame = {
    val kbOf = (c: Column) => pmod(c, lit(keyBuckets.toLong)).cast("int")
    val tk =
      if (keys.columns.contains("kb"))
        keys.select(col("blk"), col("blk_val"), col("kb"), col("doc_id"),
          col("simhash"))
      else
        keys.select(col("blk"), col("blk_val"), kbOf(col("blk_val")).as("kb"),
          col("doc_id"), col("simhash"))
    // the mega-bucket guard KEEPS df <= cap; its complement is tiny by
    // construction, so it applies as a broadcast anti-join on the (small)
    // probe-join output instead of an equi-join that shuffles the whole
    // key table before the probe join ever prunes it
    val overCap = maxBucket.map { cap =>
      tk.groupBy(col("blk"), col("blk_val"))
        .agg(count(lit(1)).as("df"))
        .where(col("df") > cap).select(col("blk"), col("blk_val"))
        .localCheckpoint()
    }
    val pk = probeCodes
      .select(col("probe_id"), col("psh"),
        explode(Dedup.simhashComboKeys(col("psh"), maxHamming, numBlocks))
          .as("bk"))
      .select(col("probe_id"), col("psh"), col("bk.blk").as("blk"),
        col("bk.blk_val").as("blk_val"))
    val hits = broadcast(pk.withColumn("kb", kbOf(col("blk_val"))))
      .join(tk, Seq("kb", "blk", "blk_val"))
    val capped = overCap match {
      case Some(over) =>
        hits.join(broadcast(over), Seq("blk", "blk_val"), "left_anti")
      case None => hits
    }
    capped
      .select(col("probe_id"), col("doc_id"),
        expr("bit_count(psh ^ simhash)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
