package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Hashing

/** Determinism and accuracy pins for the theta sketch aggregate — the
  * properties that justify its presence in a hash-checked catalog query
  * (q136): partitioning-independence, exact-mode equality below k, and
  * estimation-mode error within the documented bound.
  */
class ThetaSketchSpec extends AnyFunSuite with SparkSpec {

  test("theta sketch bytes are identical under any partitioning and insertion order") {
    import spark.implicits._
    val xs = (0L until 20000L).map(x => x * 2654435761L % 1000003L)
    def bytesOf(parts: Int, seq: Seq[Long]): Array[Byte] =
      seq.toDF("v").repartition(parts)
        .agg(Hashing.thetaSketchAgg(col("v"), 12).as("sk"))
        .head().getAs[Array[Byte]]("sk")
    val a = bytesOf(1, xs)
    val b = bytesOf(32, xs)
    val c = bytesOf(7, scala.util.Random.shuffle(xs))
    assert(java.util.Arrays.equals(a, b), "partition count must not move the sketch")
    assert(java.util.Arrays.equals(a, c), "insertion order must not move the sketch")
  }

  test("exact below k; estimation-mode distinct and intersection estimates within 3σ bounds") {
    import spark.implicits._
    // exact mode: 3000 distinct < k = 4096 (lgK 12) -> estimate is EXACT
    val small = (0L until 3000L).toDF("v")
      .agg(Hashing.thetaEstimate(Hashing.thetaSketchAgg(col("v"), 12)).as("e"))
      .head().getDouble(0)
    assert(small == 3000.0, s"below-k sketch must be exact, got $small")

    // estimation mode: two 60k-element sets overlapping in 20k elements
    val a = (0L until 60000L).map(i => ("a", i))
    val b = (40000L until 100000L).map(i => ("b", i))
    val sk = (a ++ b).toDF("g", "v").groupBy(col("g"))
      .agg(Hashing.thetaSketchAgg(col("v"), 12).as("sk"))
    val row = sk.groupBy()
      .pivot(col("g"), Seq("a", "b")).agg(first(col("sk")))
      .select(
        Hashing.thetaEstimate(col("a")).as("ea"),
        Hashing.thetaIntersectEstimate(col("a"), col("b")).as("ei"))
      .head()
    val (ea, ei) = (row.getDouble(0), row.getDouble(1))
    val rse = 1.0 / math.sqrt(4096 - 1)
    assert(math.abs(ea - 60000.0) <= 3 * rse * 60000.0,
      s"distinct estimate $ea outside 3σ of 60000")
    // intersection bound scales with the UNION (100k), not the intersection
    assert(math.abs(ei - 20000.0) <= 3.0 * 100000.0 / math.sqrt(4096.0),
      s"intersection estimate $ei outside the union-scaled 3σ bound of 20000")
  }

  test("union re-aggregation over stored bytes == direct sketch; AnotB difference within bound") {
    import spark.implicits._
    // three shards of one logical set: sketch each, union the BYTES, compare
    // against sketching the concatenation directly (same retained set)
    val parts = (0L until 30000L).map(i => (i % 3, i))
    val shards = parts.toDF("shard", "v").groupBy(col("shard"))
      .agg(Hashing.thetaSketchAgg(col("v"), 12).as("sk"))
    val folded = shards.agg(Hashing.thetaUnionAgg(col("sk"), 12).as("u"))
      .select(Hashing.thetaEstimate(col("u"))).head().getDouble(0)
    val direct = parts.toDF("shard", "v")
      .agg(Hashing.thetaEstimate(Hashing.thetaSketchAgg(col("v"), 12)))
      .head().getDouble(0)
    assert(folded == direct,
      s"stored-bytes union ($folded) must equal the direct sketch ($direct)")
    // difference: |A \ B| with A = 0..60k, B = 40k..100k -> truth 40k
    val a = (0L until 60000L).map(i => ("a", i))
    val b = (40000L until 100000L).map(i => ("b", i))
    val sk = (a ++ b).toDF("g", "v").groupBy(col("g"))
      .agg(Hashing.thetaSketchAgg(col("v"), 12).as("sk"))
    val ed = sk.groupBy().pivot(col("g"), Seq("a", "b")).agg(first(col("sk")))
      .select(Hashing.thetaAnotBEstimate(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(ed - 40000.0) <= 3.0 * 100000.0 / math.sqrt(4096.0),
      s"difference estimate $ed outside the union-scaled 3σ bound of 40000")
  }

  test("SQL registration: theta_sketch/theta_merge/theta_estimate/theta_intersect_estimate/theta_anotb_estimate == DataFrame API") {
    // the KLL-precedent parity test (QuantileIndexSpec): theta bytes are
    // deterministic (partition/order-independent, pinned above), so every
    // SQL-served estimate must equal the DataFrame-API one EXACTLY — the
    // durable theta tables are SQL-addressable with no semantic seam.
    // (HLL needs no entry here: the durable HllIndex tables are served by
    // Spark's own hll_sketch_agg/hll_union_agg/hll_sketch_estimate, which
    // are already SQL functions; the moment tables are plain decimal SQL.)
    val ev = Tables.load(spark, TestSpark.sf0001, "events")
      .select(col("event_type"), col("user_id").as("u"))
    ev.createOrReplaceTempView("theta_ev")
    // per-key estimates
    val sql = spark.sql(
      """SELECT event_type, theta_estimate(sk) AS est
        |FROM (SELECT event_type, theta_sketch(u, 12) AS sk
        |      FROM theta_ev GROUP BY event_type)""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val api = ev.groupBy(col("event_type"))
      .agg(Hashing.thetaEstimate(Hashing.thetaSketchAgg(col("u"), 12)).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sql == api, s"SQL vs DataFrame divergence: $sql vs $api")
    // stored-bytes union rollup (theta_merge, not theta_union — that name
    // is Spark 4.1's builtin scalar two-sketch union, which must NOT be
    // shadowed; interop with the builtins is pinned below)
    val sqlU = spark.sql(
      """SELECT theta_estimate(theta_merge(sk, 12)) AS est
        |FROM (SELECT event_type, theta_sketch(u, 12) AS sk
        |      FROM theta_ev GROUP BY event_type)""".stripMargin)
      .head().getDouble(0)
    val apiU = ev.groupBy(col("event_type"))
      .agg(Hashing.thetaSketchAgg(col("u"), 12).as("sk"))
      .agg(Hashing.thetaEstimate(Hashing.thetaUnionAgg(col("sk"), 12)))
      .head().getDouble(0)
    assert(sqlU == apiU, s"union rollup diverges: $sqlU vs $apiU")
    // INTEROP: graft sketch bytes are standard Datasketches CompactSketch
    // bytes, so Spark's OWN builtin theta functions must fold and estimate
    // them — the durable theta tables are readable by vanilla Spark SQL
    // with no graft extensions at all
    val builtinU = spark.sql(
      """SELECT theta_sketch_estimate(theta_union_agg(sk, 12)) AS est
        |FROM (SELECT event_type, theta_sketch(u, 12) AS sk
        |      FROM theta_ev GROUP BY event_type)""".stripMargin)
      .head().getLong(0) // Spark's builtin estimate surfaces BIGINT
    // sf0.001 distinct users are far below k=4096 — exact mode, so the
    // double estimate is integral and the comparison is exact
    assert(apiU == apiU.toLong.toDouble && builtinU == apiU.toLong,
      s"builtin theta_union_agg over graft bytes diverges: $builtinU vs $apiU")
    // pairwise set ops from stored bytes (two largest keys)
    val keys = sql.keys.toSeq.sorted.take(2)
    val Seq(k1, k2) = keys
    val row = spark.sql(
      s"""SELECT theta_intersect_estimate(a.sk, b.sk) AS i,
         |  theta_anotb_estimate(a.sk, b.sk) AS d
         |FROM (SELECT theta_sketch(u, 12) AS sk FROM theta_ev
         |      WHERE event_type = '$k1') a,
         |     (SELECT theta_sketch(u, 12) AS sk FROM theta_ev
         |      WHERE event_type = '$k2') b""".stripMargin).head()
    val apiRow = ev.where(col("event_type").isin(k1, k2))
      .groupBy(col("event_type"))
      .agg(Hashing.thetaSketchAgg(col("u"), 12).as("sk"))
      .groupBy().pivot(col("event_type"), keys).agg(first(col("sk")))
      .select(Hashing.thetaIntersectEstimate(col(k1), col(k2)),
        Hashing.thetaAnotBEstimate(col(k1), col(k2)))
      .head()
    assert(row.getDouble(0) == apiRow.getDouble(0) &&
      row.getDouble(1) == apiRow.getDouble(1),
      s"set-op estimates diverge: $row vs $apiRow")
  }
}
