package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CmsIndex

/** The durable CMS-table lifecycle: merge == rebuild at the raw COUNTER
  * level (linearity — stronger than the estimate-surface proof q216 runs),
  * disk roundtrip, and estimates from the stored table never undercount.
  */
class CmsIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def ev = Tables.load(spark, sf, "events")
    .select(col("event_type"), col("user_id").cast("string").as("u"),
      col("event_id"))

  private def counters(sk: DataFrame): Map[String, Seq[Long]] =
    sk.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap

  test("merge of split-half sketches == one-shot build, counter for counter") {
    val full = CmsIndex.build(ev, col("event_type"), col("u"), 4, 256)
    val merged = CmsIndex.merge(
      CmsIndex.build(ev.where(pmod(col("event_id"), lit(2)) === 0),
        col("event_type"), col("u"), 4, 256),
      CmsIndex.build(ev.where(pmod(col("event_id"), lit(2)) =!= 0),
        col("event_type"), col("u"), 4, 256))
    assert(counters(merged) == counters(full),
      "CMS linearity: elementwise merge must equal the one-shot sketch exactly")
  }

  test("merge keeps one-sided keys intact (full-outer semantics)") {
    val a = CmsIndex.build(ev.where(col("event_type") =!= "click"),
      col("event_type"), col("u"), 4, 256)
    val b = CmsIndex.build(ev.where(col("event_type") === "click"),
      col("event_type"), col("u"), 4, 256)
    val merged = counters(CmsIndex.merge(a, b))
    val full = counters(CmsIndex.build(ev, col("event_type"), col("u"), 4, 256))
    assert(merged == full, "disjoint-key merge must pass both sides through")
  }

  test("retract == never-absorbed rebuild, counter for counter (linearity both directions)") {
    val keep = ev.where(pmod(col("event_id"), lit(7)) =!= 0)
    val gone = ev.where(pmod(col("event_id"), lit(7)) === 0)
    val full = CmsIndex.build(ev, col("event_type"), col("u"), 4, 256)
    val retracted = CmsIndex.retract(full,
      CmsIndex.build(gone, col("event_type"), col("u"), 4, 256))
    val rebuilt = CmsIndex.build(keep, col("event_type"), col("u"), 4, 256)
    assert(counters(retracted) == counters(rebuilt),
      "subtracting the removed rows' own sketch must equal the never-saw-them rebuild")
  }

  test("streaming maintenance: per-micro-batch sketches fold into the table == direct batch sketch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val all = (0 until 600).map(i => (s"type${i % 4}", (i * 37 % 211).toString))
    val ms = MemoryStream[(String, String)]
    val batches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val q = ms.toDF().toDF("k", "u")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches += CmsIndex.build(batch, col("k"), col("u"), 4, 256)
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(all.take(200)); q.processAllAvailable()
      ms.addData(all.slice(200, 400)); q.processAllAvailable()
      ms.addData(all.drop(400)); q.processAllAvailable()
    } finally q.stop()
    // maintenance = left-fold of merges, the order micro-batches arrive in;
    // linearity makes the result independent of that order
    val maintained = counters(batches.reduce(CmsIndex.merge))
    val direct = counters(
      CmsIndex.build(all.toDF("k", "u"), col("k"), col("u"), 4, 256))
    assert(maintained == direct,
      "folding micro-batch sketches into the table must equal the one-shot batch sketch")
  }

  test("write + read roundtrip; stored-table estimates never undercount the exact counts") {
    val sk = CmsIndex.build(ev, col("event_type"), col("u"), 4, 256)
    val dir = tmpDir("cms-tbl")
    CmsIndex.publishSnapshot(spark, dir, sk)
    val stored = CmsIndex.readSnapshot(spark, dir)
    assert(counters(stored) == counters(sk))
    val probes = Seq("1", "5", "17", "42", "99")
    val est = CmsIndex.estimates(stored, probes, 4, 256)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = ev.where(col("u").isin(probes: _*))
      .groupBy(col("event_type"), col("u")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    exact.foreach { case (k, n) =>
      assert(est.getOrElse(k, 0L) >= n, s"undercount at $k: ${est.get(k)} < $n")
    }
  }

  test("SQL registration: count_min_sketch60 == DataFrame API, counter for counter") {
    // the KLL/theta-precedent parity test: CMS counters are deterministic
    // (linear sums over a fixed hash family), so the SQL-registered
    // aggregate must produce the IDENTICAL depth×width arrays the durable
    // CmsIndex tables store — SQL users address the same table bytes.
    ev.createOrReplaceTempView("cms_ev")
    val sql = spark.sql(
      """SELECT event_type AS key, count_min_sketch60(u, 4, 256) AS sk
        |FROM cms_ev GROUP BY event_type""".stripMargin)
    assert(counters(sql) == counters(
      CmsIndex.build(ev, col("event_type"), col("u"), 4, 256)),
      "SQL aggregate must match the DataFrame-API counters exactly")
  }
}
