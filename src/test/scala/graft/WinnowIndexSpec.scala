package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, SnapTables, WinnowIndex}

/** The durable winnow-fingerprint-table lifecycle: build == write+read,
  * append == rebuild (per-doc locality makes it exact), and the serve path
  * over the stored table reproduces the in-query pair generator on the
  * probe × corpus slice while keeping the table side scan-only.
  */
class WinnowIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def docs = Tables.load(spark, sf, "documents")

  private def fpRows(fp: DataFrame): Set[(Long, Long, Long)] =
    fp.select(col("doc_id").cast("long"), col("pos").cast("long"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def probesOf(df: DataFrame): DataFrame =
    df.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat_ws(" ", slice(graft.ops.Text.tokens(col("text")), 1, 30)).as("text"))

  private def matchRows(fp: DataFrame): Set[(Long, Long, Long)] =
    WinnowIndex.matches(fp, probesOf(docs), col("doc_id"), col("text"),
        k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def hb = pmod(col("h"), lit(WinnowIndex.DefaultHashBuckets.toLong)).cast("int")

  /** `fp` in the catalog's snapshot layout (q412–q419), read back. */
  private def publishFp(fp: DataFrame, dir: String): DataFrame =
    publishAndResolve(s"$dir/fp", "hb", fp.withColumn("hb", hb))

  test("write + read roundtrip: stored rows and serve results match the built table") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val stored = publishFp(fp, tmpDir("winnow-idx"))
    assert(stored.columns.contains("hb"), "stored table carries its partition column")
    assert(fpRows(stored) == fpRows(fp), "stored fingerprints must match the built table")
    assert(matchRows(stored) == matchRows(fp),
      "serving from the read-back table must equal serving from the built frame")
  }

  test("append == full rebuild (winnowing is per-document)") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val appended = WinnowIndex.append(
      WinnowIndex.build(base, col("doc_id"), col("text"), k = 3, w = 4),
      delta, col("doc_id"), col("text"), k = 3, w = 4)
    val rebuilt = Dedup.winnowFingerprints(docs, col("doc_id"), col("text"), k = 3, w = 4)
    assert(fpRows(appended) == fpRows(rebuilt),
      "winnowing the delta and appending must equal a from-scratch rebuild")
  }

  test("every truncation probe finds its source document at high containment") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val found = WinnowIndex.matches(fp, probesOf(docs), col("doc_id"), col("text"),
        k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
      .select(col("probe_id").cast("long"), col("doc_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = probesOf(docs).select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val hits = expected.filter(p => found.contains((p, p - 10000000L)))
    assert(hits == expected,
      s"probes missing their source: ${(expected -- hits).take(5)}")
  }

  test("serve plan over the stored table carries no tokenization or hashing") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    // prefix must not collide with the forbidden plan tokens below
    val stored = publishFp(fp, tmpDir("fp-table-plan"))
    val served = WinnowIndex.matches(stored, probesOf(docs), col("doc_id"), col("text"),
      k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
    val plan = served.queryExecution.executedPlan.toString()
    // probe fingerprints are materialized when matches() is called; the
    // table side is a stored scan — so the SERVE plan must contain zero
    // tokenize/md5 work: corpus text was touched at build time only
    Seq("split(", "md5", "hash60", "Winnow").foreach(tok =>
      assert(!plan.toLowerCase.contains(tok.toLowerCase),
        s"serve plan must not contain '$tok':\n$plan"))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans >= 2, s"table-side consumers must read stored parquet, got $scans scans:\n$plan")
  }

  test("deleteStored: fingerprint bytes AND the stored df table equal a survivors-only recompute") {
    val fp = WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val dir = tmpDir("winnow-del")
    publishFp(fp, dir)
    SnapTables.publishInitial(spark, s"$dir/df", "hb",
      WinnowIndex.dfTable(fp).withColumn("hb", hb))
    val removed = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id"))
    // the df decrement is the removed docs' own distinct-(doc, h) rows,
    // read from the pre-delete fingerprint generation
    val dec = SnapTables.resolve(spark, s"$dir/fp", "hb")
      .join(removed, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__dec"))
    SnapTables.decrementCounts(spark, s"$dir/df", "hb", Seq("h"), "df", dec)
    SnapTables.deleteByKey(spark, s"$dir/fp", "hb", "doc_id", removed)
    val survivors = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
    val fpSurv = Dedup.winnowFingerprints(survivors, col("doc_id"), col("text"),
      k = 3, w = 4)
    assert(fpRows(SnapTables.resolve(spark, s"$dir/fp", "hb")) == fpRows(fpSurv),
      "fingerprints after delete must equal the never-saw-them rebuild")
    // df side table: the exact decrement equals a from-scratch recompute,
    // with zero-reaching hashes DROPPED (not kept at 0)
    def dfRows(t: DataFrame): Set[(Long, Long)] =
      t.select(col("h"), col("df").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfRows(SnapTables.resolve(spark, s"$dir/df", "hb"))
        == dfRows(WinnowIndex.dfTable(fpSurv)),
      "decremented df table must equal the survivors-only recompute")
    assertForgottenAfterExpire(s"$dir/fp", "hb", removed)
  }
}
