package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, MinHashIndex, SnapTables}

/** The durable minhash-table lifecycle: build == write+read, append ==
  * rebuild (per-doc locality makes it exact), the serve path over the
  * stored tables reproduces the in-memory ingest gate, and that serve plan
  * keeps the table side scan-only (no re-tokenization, no re-hashing).
  */
class MinHashIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def docs = Tables.load(spark, sf, "documents")

  private def sigRows(sigs: DataFrame): Set[(Long, Int, Long)] =
    sigs.select(col("doc_id").cast("long"), col("seed").cast("int"), col("mh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def probesOf(df: DataFrame): DataFrame =
    df.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))

  private def serveRows(bands: DataFrame, sigs: DataFrame): Set[(Long, Long, Long)] =
    MinHashIndex.matches(bands, sigs, probesOf(docs), col("doc_id"), col("text"),
        n = 3, numHashes = 16, rowsPerBand = 4, minEstimate = 0.75,
        maxBucket = Some(100))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"),
        col("n_agree"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private val sigB = MinHashIndex.DefaultSigBuckets.toLong
  private def db = pmod(col("doc_id"), lit(sigB)).cast("int")
  private def sb = pmod(col("band_sig"), lit(sigB)).cast("int")

  /** Publish signatures and bands in the catalog's snapshot layout
    * (q421/q422: sigs by `db`, bands by `sb`) and read both back.
    */
  private def publishSigsBands(sigs: DataFrame, bands: DataFrame,
      dir: String): (DataFrame, DataFrame) =
    (publishAndResolve(s"$dir/sigs", "db", sigs.withColumn("db", db)),
      publishAndResolve(s"$dir/bands", "sb", bands.withColumn("sb", sb)))

  test("write + read roundtrip: stored sigs/bands and serve results match the built frames") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val (storedSigs, storedBands) =
      publishSigsBands(sigs, bands, tmpDir("minhash-idx"))
    assert(storedSigs.columns.contains("db") && storedBands.columns.contains("sb"),
      "stored tables carry their partition columns")
    assert(sigRows(storedSigs) == sigRows(sigs))
    assert(storedBands.count() == bands.count())
    assert(serveRows(storedBands, storedSigs) == serveRows(bands, sigs),
      "serving from the read-back tables must equal serving from the built frames")
  }

  test("append == full rebuild (signatures are per-document)") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val appended = MinHashIndex.append(
      MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16),
      delta, col("doc_id"), col("text"), 3, 16)
    val rebuilt = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
    assert(sigRows(appended) == sigRows(rebuilt),
      "signing the delta and appending must equal a from-scratch rebuild")
  }

  test("every near-identical probe finds its source document at high estimate") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val found = serveRows(bands, sigs).map { case (p, d, _) => (p, d) }
    // probes of long documents keep most of their 16 minima; require the
    // bulk of them to surface their source (short docs may legitimately
    // fall under the estimate threshold after the 2-token edit)
    val expected = probesOf(docs).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val hits = expected.filter(p => found.contains((p, p - 10000000L)))
    assert(hits.size * 10 >= expected.size * 8,
      s"only ${hits.size}/${expected.size} probes matched their source")
  }

  test("stored bucket-df stats: additive merge == full recompute, and the swap is invisible") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val baseSigs = MinHashIndex.build(base, col("doc_id"), col("text"), 3, 16)
    val deltaSigs = Dedup.minhashSignatures(delta, col("doc_id"), col("text"), 3, 16)
    val sigs = MinHashIndex.append(baseSigs, delta, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val merged = MinHashIndex.mergeBucketDf(
      MinHashIndex.bucketDfTable(MinHashIndex.bandTable(baseSigs, 4)),
      MinHashIndex.bucketDfTable(MinHashIndex.bandTable(deltaSigs, 4)))
    val full = MinHashIndex.bucketDfTable(bands)
    def rows(df: DataFrame): Set[(Long, Long, Long)] =
      df.select(col("band").cast("long"), col("band_sig"), col("df"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(merged) == rows(full), "bucket sizes must merge additively")
    val statsServe = MinHashIndex.matches(bands, sigs, probesOf(docs),
        col("doc_id"), col("text"), n = 3, numHashes = 16, rowsPerBand = 4,
        minEstimate = 0.75, maxBucket = Some(100), storedBucketDf = Some(merged))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(statsServe == serveRows(bands, sigs).map { case (p, d, _) => (p, d) })
  }

  test("per-row band signatures == grouped lshBands over the real corpus") {
    val grouped = MinHashIndex.bandTable(
        Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16), 4)
      .select(col("doc_id").cast("long"), col("band").cast("long"), col("band_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rowwise = docs.select(col("doc_id"),
        posexplode(MinHashIndex.rowBandSigs(col("text"), 3, 16, 4))
          .as(Seq("band", "band_sig")))
      .where(col("band_sig").isNotNull)
      .select(col("doc_id").cast("long"), col("band").cast("long"), col("band_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rowwise == grouped,
      "the shuffle-free per-row path must reproduce the grouped chain exactly")
  }

  test("serve plan over the stored tables carries no tokenization or hashing") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val (storedSigs, storedBands) = publishSigsBands(sigs,
      MinHashIndex.bandTable(sigs, 4), tmpDir("mh-table-plan"))
    val served = MinHashIndex.matches(storedBands, storedSigs,
      probesOf(docs), col("doc_id"), col("text"),
      n = 3, numHashes = 16, rowsPerBand = 4, minEstimate = 0.75,
      maxBucket = Some(100))
    val plan = served.queryExecution.executedPlan.toString()
    // probe signatures are materialized when matches() is called; the table
    // side is stored scans — the serve plan must contain zero shingle/md5
    // work: corpus text was touched at build time only
    Seq("split(", "md5", "hash60").foreach(tok =>
      assert(!plan.toLowerCase.contains(tok.toLowerCase),
        s"serve plan must not contain '$tok':\n$plan"))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans >= 2, s"both stored tables must be read as parquet, got $scans scans:\n$plan")
  }

  test("deleteStored: sigs, bands AND bucket-df bytes equal a survivors-only recompute; re-run is a no-op") {
    val sigs = MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val bands = MinHashIndex.bandTable(sigs, 4)
    val dir = tmpDir("minhash-del")
    publishSigsBands(sigs, bands, dir)
    SnapTables.publishInitial(spark, s"$dir/bucketdf", "sb",
      MinHashIndex.bucketDfTable(bands).withColumn("sb", sb))
    val removed = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id"))
    // the decrement is the removed docs' own band rows, aggregated — exact
    // because every band row of a doc is that doc's alone
    val dec = SnapTables.resolve(spark, s"$dir/bands", "sb")
      .join(removed, Seq("doc_id"), "left_semi")
      .groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("__dec"))
    SnapTables.decrementCounts(spark, s"$dir/bucketdf", "sb",
      Seq("band", "band_sig"), "df", dec)
    SnapTables.deleteByKey(spark, s"$dir/bands", "sb", "doc_id", removed)
    SnapTables.deleteByKey(spark, s"$dir/sigs", "db", "doc_id", removed)
    val survivors = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
    val sigsSurv = Dedup.minhashSignatures(survivors, col("doc_id"), col("text"), 3, 16)
    val bandsSurv = MinHashIndex.bandTable(sigsSurv, 4)
    def bandRows(t: DataFrame): Set[(Long, Long, Long)] =
      t.select(col("doc_id").cast("long"), col("band").cast("long"), col("band_sig"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def dfRows(t: DataFrame): Set[(Long, Long, Long)] =
      t.select(col("band").cast("long"), col("band_sig"), col("df").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sigRows(SnapTables.resolve(spark, s"$dir/sigs", "db")) == sigRows(sigsSurv),
      "signatures after delete must equal the never-saw-them rebuild")
    assert(bandRows(SnapTables.resolve(spark, s"$dir/bands", "sb")) == bandRows(bandsSurv),
      "bands after delete must equal the never-saw-them rebuild")
    assert(dfRows(SnapTables.resolve(spark, s"$dir/bucketdf", "sb"))
        == dfRows(MinHashIndex.bucketDfTable(bandsSurv)),
      "decremented bucket-df must equal the survivors-only recompute")
    // re-running the key deletes on already-deleted keys is a clean no-op:
    // nothing left to rewrite, the generation does not advance
    Seq(s"$dir/bands" -> "sb", s"$dir/sigs" -> "db").foreach { case (t, pc) =>
      val gen = SnapTables.currentGeneration(spark, t)
      assert(Some(SnapTables.deleteByKey(spark, t, pc, "doc_id", removed)) == gen)
    }
    assertForgottenAfterExpire(s"$dir/sigs", "db", removed)
    assertForgottenAfterExpire(s"$dir/bands", "sb", removed)
  }
}
