package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A persisted MinHash/LSH signature table — the durable twin of
  * [[Dedup.minhashSignatures]] + [[Dedup.lshBands]] (the q158/q168
  * table-ification discipline applied to the near-dup candidate generator):
  * shingle-hash the corpus ONCE, store the per-document signatures and their
  * LSH band table as partitioned parquet, and run every later ingest-dedup /
  * near-dup probe against the stored tables instead of re-tokenizing and
  * re-hashing the corpus.
  *
  * Both stored frames are strictly PER-DOCUMENT computations (a document's
  * minhash signature depends on nothing outside its own shingle set), so
  * incremental maintenance is exact by construction: signing a new-docs
  * delta and appending equals a from-scratch rebuild of the union, row for
  * row — q207 hash-proves this cross-engine. The bucket-size statistic the
  * serve-path mega-bucket guard consumes is ADDITIVE under append (new docs
  * carry new doc_ids), so it too maintains without a corpus rescan — q209.
  *
  * On-disk layout (published through [[SnapTables]], as the catalog's
  * q421/q422 tables are): `path/sigs` rows (doc_id, seed, mh) partitioned by
  * `db = doc_id mod sigBuckets`; `path/bands` rows (doc_id, band, band_sig)
  * partitioned by `sb = band_sig mod sigBuckets`. The serve path broadcasts
  * probe bands into the (sb, band, band_sig) join, so a selective probe set
  * dynamic-partition-prunes the band-table scan to the buckets its
  * signatures actually hash into — the AnnIndex posting-list discipline
  * ([[AnnIndex.write]]); the candidate join against `sigs`
  * likewise carries the `db` key for pruning.
  */
object MinHashIndex {

  /** Partition fan-out of both stored tables. 64 keeps directory listing
    * trivial while letting small probe batches prune ~98% of files.
    */
  val DefaultSigBuckets = 64

  /** Sign the corpus into the signature table frame: (doc_id, seed, mh).
    * Materialized so the band derivation and any downstream write never
    * replay the tokenize+shingle+hash lineage.
    */
  def build(df: DataFrame, id: Column, text: Column, n: Int,
      numHashes: Int): DataFrame =
    Dedup.minhashSignatures(df, id, text, n, numHashes).localCheckpoint()

  /** Sign a NEW-docs delta and append it to the stored signatures. Per-doc
    * locality makes this exact: append == full rebuild (q207). Re-signing
    * an already-indexed doc_id is the caller's bug; the table is
    * append-only.
    */
  def append(sigs: DataFrame, delta: DataFrame, id: Column, text: Column,
      n: Int, numHashes: Int): DataFrame =
    sigs.unionByName(Dedup.minhashSignatures(delta, id, text, n, numHashes))

  /** The LSH band table over a signature frame: (doc_id, band, band_sig). */
  def bandTable(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    Dedup.lshBands(sigs, rowsPerBand)

  /** Delete documents from a stored per-doc table (signatures OR bands —
    * anything keyed by doc_id): signatures are strictly per-document, so
    * deletion is an exact key-filter with no neighbor re-signing — the
    * same locality argument that makes append exact (q207) makes delete
    * exact (q277 hash-proves the post-delete serve against a
    * never-indexed-them rebuild). The right-to-be-forgotten path for the
    * per-doc-local index families (minhash/simhash/winnow — every stored
    * row derives from its own doc alone). NOT valid for ELECTED tables
    * like [[ParaIndex]], whose stored row is the corpus-wide first
    * occurrence: deleting a winner cannot restore the suppressed later
    * occurrences, so election tables delete by re-election over the
    * remaining corpus (or accept the documented under-suppression of
    * future ingests for the deleted winners' paragraphs).
    */
  def delete(tbl: DataFrame, removedIds: DataFrame): DataFrame =
    tbl.join(removedIds.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** Bucket-size side table over a band frame: (band, band_sig, df) with
    * df = number of documents hashing into the bucket — the statistic the
    * serve-path mega-bucket guard consumes. Appended documents have NEW
    * doc_ids, so their contribution is purely ADDITIVE: maintaining the
    * table on append is [[mergeBucketDf]] over the delta's own table, no
    * corpus rescan (q209 hash-proves merge == full recompute).
    */
  def bucketDfTable(bands: DataFrame): DataFrame =
    bands.groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("df"))

  /** Additive merge of bucket-size tables (base ∪ delta): same-bucket rows
    * sum.
    */
  def mergeBucketDf(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("band"), col("band_sig"))
      .agg(sum(col("df")).as("df"))

  /** Per-ROW minhash band signatures: an `array<long>` of the document's
    * `numHashes / rowsPerBand` LSH band signatures computed entirely inside
    * the row's scope — shingles → base hashes → per-seed minima → seed-tagged
    * band sums as pure codegen HOFs, NO shuffle and NO cross-row state.
    * Exactly equal to [[Dedup.lshBands]]∘[[Dedup.minhashSignatures]] for
    * documents wide enough to shingle (q211 hash-proves it against the q53
    * chain); a document below the shingle width yields all-null entries
    * (the grouped path simply has no rows for it).
    *
    * This is the streaming-ingest transport: a micro-batch gate cannot run
    * the grouped signature aggregation (stateless, any output mode), but it
    * CAN evaluate this per-row and probe the stored band table's Bloom
    * bits — [[graft.streaming.StreamOps.nearDupGate]].
    */
  def rowBandSigs(text: Column, n: Int, numHashes: Int,
      rowsPerBand: Int): Column = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    val hb = transform(Text.shingles(text, n),
      s => Hashing.familyBaseHash(s))
    val mins = (0 until numHashes)
      .map(i => array_min(transform(hb, h => Hashing.familyHash(h, i))))
    val sigs = (0 until numHashes / rowsPerBand).map { b =>
      (b * rowsPerBand until (b + 1) * rowsPerBand)
        // mh < P < 2^30, so each term < 2^60 and 4-term sums stay far
        // inside int64 — the lshBands bound, row-local
        .map(i => (mins(i) * lit(Hashing.BandC1)
          + lit((i + 1).toLong) * lit(Hashing.BandC2)) % lit(Hashing.FamilyP))
        .reduce(_ + _)
    }
    array(sigs: _*)
  }

  /** Match a probe document batch against the STORED tables — the serve
    * path of an incremental ingest near-dup gate. Probes are signed with
    * the SAME (n, numHashes, rowsPerBand) the table was built with;
    * candidates are band-signature collisions probe × table; each candidate
    * pair is then scored by signature agreement
    * ([[Dedup.minhashJaccardEstimate]] semantics restricted to
    * probe × table), and pairs at `minEstimate` or better survive.
    *
    * Output: (probe_id, doc_id, n_agree, n_hashes, est_jaccard).
    *
    * Scale shape: the table side is NEVER re-tokenized — both stored frames
    * are column-pruned parquet scans; corpus text was touched once at
    * build. The probe batch is small (one ingest micro-batch), so its bands
    * and signatures BROADCAST into both joins; a stored `sb` partition
    * column prunes the band scan to the probe buckets, and the candidate
    * set's derived `db` key prunes the signature scan. `maxBucket` is the
    * q54 mega-bucket guard applied to TABLE-side bucket sizes only (probe
    * text never shifts index statistics — the q169 stance): buckets holding
    * more than the cap are dropped whole, so boilerplate mega-clusters
    * cannot concentrate a quadratic candidate explosion on one task. A
    * stored [[bucketDfTable]] (maintained additively on append) replaces
    * the only table-wide aggregation in the serve plan with a side-table
    * scan — q210 hash-proves the swap is invisible.
    */
  def matches(
      bands: DataFrame,
      sigs: DataFrame,
      probes: DataFrame,
      id: Column,
      text: Column,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      minEstimate: Double,
      maxBucket: Option[Int] = None,
      sigBuckets: Int = DefaultSigBuckets,
      storedBucketDf: Option[DataFrame] = None): DataFrame = {
    val sbOf = (c: Column) => pmod(c, lit(sigBuckets.toLong)).cast("int")
    val dbOf = (c: Column) => pmod(c, lit(sigBuckets.toLong)).cast("int")
    // keep stored partition columns when present: a recomputed pmod is
    // opaque to partition pruning even though equal
    val tb =
      if (bands.columns.contains("sb"))
        bands.select(col("doc_id"), col("band"), col("band_sig"), col("sb"))
      else
        bands.select(col("doc_id"), col("band"), col("band_sig"),
          sbOf(col("band_sig")).as("sb"))
    // the mega-bucket guard KEEPS df <= cap; its complement is tiny by
    // construction, so it applies as a broadcast anti-join on the (small)
    // probe-join output instead of an equi-join that shuffles the whole
    // band table before the probe join ever prunes it
    val overCap = maxBucket.map { cap =>
      storedBucketDf
        .getOrElse(bucketDfTable(tb))
        .where(col("df") > cap)
        .select(col("band"), col("band_sig"))
        .localCheckpoint()
    }
    val pSigs = Dedup.minhashSignatures(probes, id, text, n, numHashes)
      .localCheckpoint()
    val pBands = Dedup.lshBands(pSigs, rowsPerBand)
      .select(col("doc_id").as("probe_id"), col("band"), col("band_sig"))
    val hits = broadcast(pBands.withColumn("sb", sbOf(col("band_sig"))))
      .join(tb, Seq("sb", "band", "band_sig"))
    val cand = (overCap match {
      case Some(over) =>
        hits.join(broadcast(over), Seq("band", "band_sig"), "left_anti")
      case None => hits
    }).select(col("probe_id"), col("doc_id")).distinct()
    val pm = pSigs.select(col("doc_id").as("probe_id"), col("seed"),
      col("mh").as("mh_p"))
    val tm =
      if (sigs.columns.contains("db"))
        sigs.select(col("doc_id"), col("db"), col("seed"), col("mh").as("mh_d"))
      else
        sigs.select(col("doc_id"), dbOf(col("doc_id")).as("db"), col("seed"),
          col("mh").as("mh_d"))
    // the candidate×probe-signature frame is one ingest batch's candidates
    // fanned by numHashes — broadcast it so the stored signature table
    // streams map-side (db partition pruning intact) instead of shuffling
    broadcast(cand
        .join(broadcast(pm), "probe_id")
        .withColumn("db", dbOf(col("doc_id"))))
      .join(tm, Seq("db", "doc_id", "seed"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(
        sum(when(col("mh_p") === col("mh_d"), 1L).otherwise(0L)).as("n_agree"),
        count(lit(1)).as("n_hashes"))
      // one double op from two ints — cross-engine-stable (the q86 stance)
      .withColumn("est_jaccard", col("n_agree").cast("double") / col("n_hashes"))
      .where(col("est_jaccard") >= minEstimate)
  }
}
