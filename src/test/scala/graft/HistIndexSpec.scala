package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.HistIndex

/** The durable histogram-table lifecycle: additive merge == one-shot build
  * counter for counter (the CMS maintenance class), disk roundtrip, frozen
  * domain clamping, and the quantile estimate staying within one bin width
  * of the exact nearest-rank value.
  */
class HistIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001
  private val Bins = 32

  private def li = Tables.load(spark, sf, "lineitem")
    .select(col("l_returnflag").as("rf"), col("l_orderkey").as("ok"),
      col("l_extendedprice").as("x"))

  private def counters(h: DataFrame): Map[(String, Int), Long] =
    h.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("merge of split-half shards == one-shot build, counter for counter") {
    val (lo, hi) = HistIndex.domain(li, col("x"))
    val full = HistIndex.build(li, col("rf"), col("x"), lo, hi, Bins)
    val merged = HistIndex.merge(Seq(
      HistIndex.build(li.where(pmod(col("ok"), lit(2)) === 0),
        col("rf"), col("x"), lo, hi, Bins),
      HistIndex.build(li.where(pmod(col("ok"), lit(2)) =!= 0),
        col("rf"), col("x"), lo, hi, Bins)))
    assert(counters(merged) == counters(full))
  }

  test("disk roundtrip: stored counters answer identically") {
    val (lo, hi) = HistIndex.domain(li, col("x"))
    val dir = tmpDir("histidx")
    val built = HistIndex.build(li, col("rf"), col("x"), lo, hi, Bins)
    built.write.mode("overwrite").parquet(dir)
    assert(counters(spark.read.parquet(dir)) == counters(built))
  }

  test("frozen domain clamps out-of-range values into the edge bins") {
    import spark.implicits._
    val base = Seq(("a", 10.0), ("a", 20.0)).toDF("k", "v")
    val (lo, hi) = HistIndex.domain(base, col("v"))
    val drifted = Seq(("a", -5.0), ("a", 99.0), ("a", 15.0)).toDF("k", "v")
    val h = counters(HistIndex.build(drifted, col("k"), col("v"), lo, hi, 4))
    assert(h(("a", 0)) == 1L, "below-domain mass lands in bin 0")
    assert(h(("a", 3)) == 1L, "above-domain mass lands in the top bin")
    assert(h(("a", 2)) == 1L, "in-domain value bins normally (15 -> bin 2)")
  }

  test("stored-counter quantiles are within one bin width of exact nearest-rank") {
    val (lo, hi) = HistIndex.domain(li, col("x"))
    val width = (hi - lo) / Bins
    val h = HistIndex.merge(Seq(HistIndex.build(li, col("rf"), col("x"), lo, hi, Bins)))
    val est = HistIndex.quantiles(h, lo, hi, Bins, Seq(0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rf")).orderBy(col("x").asc, col("ok").asc)
    val ranked = li.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("rf"))))
    for (q <- Seq(0.5, 0.9)) {
      val exact = ranked.where(col("rn") === ceil(lit(q) * col("n")))
        .select(col("rf"), col("x").cast("double")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      for ((k, v) <- exact)
        assert(math.abs(est((k, q)) - v) <= width + 1e-9,
          s"$k q=$q: est ${est((k, q))} vs exact $v (width $width)")
    }
  }
}
