package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.HllIndex

/** The durable HLL-table lifecycle: shard-merge answers exactly like a
  * one-shot rebuild (register max is associative), re-merging an absorbed
  * shard changes nothing (idempotence — the at-least-once property), and
  * the stored table survives a disk roundtrip.
  */
class HllIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  private def rows = Tables.load(spark, sf, "documents")
    .select(col("source").as("key"), col("doc_id"),
      explode(split(col("text"), "\\s+")).as("item"))

  private def estimates(sk: DataFrame): Map[String, (Long, Long)] =
    HllIndex.estimates(sk).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("merge of three id-shards == one-shot build, estimate for estimate") {
    val full = HllIndex.build(rows, col("key"), col("item"))
    val shards = (0 until 3).map(i =>
      HllIndex.build(rows.where(pmod(col("doc_id"), lit(3)) === i),
        col("key"), col("item")))
    assert(estimates(HllIndex.merge(shards)) == estimates(full),
      "HLL union (register max) must answer exactly like a rebuild")
  }

  test("re-merging an already-absorbed shard is a no-op (idempotence)") {
    val shards = (0 until 3).map(i =>
      HllIndex.build(rows.where(pmod(col("doc_id"), lit(3)) === i),
        col("key"), col("item")))
    val once = HllIndex.merge(shards)
    val again = HllIndex.merge(Seq(once, shards.head))
    val e1 = estimates(once)
    val e2 = estimates(again)
    assert(e1.keySet == e2.keySet)
    for ((k, (est, _)) <- e1)
      assert(e2(k)._1 == est, s"estimate for $k drifted on re-merge")
    // n_rows double-counts the re-absorbed shard by design (it is a row
    // counter, not a set) — the sketch itself is what must be idempotent
  }

  test("disk roundtrip: stored sketches answer identically") {
    val dir = tmpDir("hllidx")
    val built = HllIndex.build(rows, col("key"), col("item"))
    built.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    assert(estimates(stored) == estimates(built))
  }

  test("estimates stay within 5% of exact at lgK=12 on the corpus vocab") {
    val est = estimates(HllIndex.build(rows, col("key"), col("item")))
    val exact = rows.groupBy(col("key").cast("string").as("k"))
      .agg(count_distinct(col("item")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, d) <- exact)
      assert(math.abs(est(k)._1.toDouble - d) <= 0.05 * d,
        s"$k: est ${est(k)._1} vs exact $d")
  }
}
