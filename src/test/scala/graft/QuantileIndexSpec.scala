package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.QuantileIndex

/** The durable KLL-table lifecycle. KLL bytes are NOT comparable across
  * build paths (randomized compaction — see KllSketchExpression), so the
  * pins here are exactly the guarantees the operator ships: getN is an
  * exact additive counter (bit-equal across append/rebuild), estimates are
  * actual input items within the rank-error contract, the disk roundtrip
  * preserves bytes (hence estimates) exactly, and the q386/q387 report
  * surface is all-TRUE verdicts over deterministic exact columns.
  */
class QuantileIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001
  private val K = 256

  private def docs = Tables.load(spark, sf, "documents")

  private def estimates(tbl: DataFrame, qs: Seq[Double]): Map[(String, Double), Double] = {
    val qdf = broadcast(
      spark.createDataFrame(qs.map(Tuple1.apply)).toDF("q"))
    tbl.crossJoin(qdf)
      .select(col("key").cast("string"), col("q"),
        QuantileIndex.kllQuantile(col("sk"), col("q")))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
  }

  private def exactRanks(scoped: Map[(String, Double), Double]): Unit = {
    // every estimate must be an actual value of its group with inclusive
    // rank within eps of the requested q (the sketch's contract; on this
    // small corpus KLL is in exact mode, so eps could even be 0)
    val rows = docs.select(col("source"), col("n_chars").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    scoped.foreach { case ((key, q), est) =>
      val vs = byKey(key)
      assert(vs.contains(est), s"estimate $est for ($key, $q) is not an input value")
      val rank = vs.count(_ <= est).toDouble / vs.length
      val rankBelow = vs.count(_ < est).toDouble / vs.length
      assert(rankBelow - 0.05 <= q && q <= rank + 0.05,
        s"($key, $q): estimate $est has inclusive rank $rank (below $rankBelow) — outside tolerance")
    }
  }

  test("build: n_rows == group counts == getN (the deterministic surface)") {
    val tbl = QuantileIndex.build(docs, col("source"), col("n_chars"), K)
    val got = tbl.select(col("key"), col("n_rows"),
        QuantileIndex.kllN(col("sk")).as("n_sk"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = docs.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (nRows, nSk)) =>
      assert(nRows == want(k) && nSk == want(k),
        s"$k: n_rows=$nRows getN=$nSk want=${want(k)}")
    }
  }

  test("append == rebuild: getN bit-equal, estimates within the rank contract") {
    val base = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val appended = QuantileIndex.merge(Seq(
      QuantileIndex.build(base, col("source"), col("n_chars"), K),
      QuantileIndex.build(delta, col("source"), col("n_chars"), K)), K)
    val rebuilt = QuantileIndex.build(docs, col("source"), col("n_chars"), K)
    val nA = appended.select(col("key"), QuantileIndex.kllN(col("sk")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nR = rebuilt.select(col("key"), QuantileIndex.kllN(col("sk")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nA == nR, "merge must add getN exactly")
    val qs = Seq(0.5, 0.9, 0.99)
    exactRanks(estimates(appended, qs))
    exactRanks(estimates(rebuilt, qs))
  }

  test("disk roundtrip preserves the stored bytes, hence every estimate") {
    val tbl = QuantileIndex.build(docs, col("source"), col("n_chars"), K)
    val dir = tmpDir("kll-tbl")
    QuantileIndex.write(tbl, dir)
    val back = QuantileIndex.read(spark, dir)
    val qs = Seq(0.5, 0.9, 0.99)
    assert(estimates(back, qs) == estimates(tbl, qs),
      "same bytes in, same estimates out — the roundtrip must be lossless")
  }

  test("report: every verdict TRUE, exact_q is the true INCLUSIVE nearest-rank value") {
    val tbl = QuantileIndex.build(docs, col("source"), col("n_chars"), K)
    val rep = QuantileIndex.report(tbl, docs, col("source"), col("n_chars"),
      qs = Seq(0.5, 0.9, 0.99), eps = 0.05, k = K).collect()
    assert(rep.nonEmpty)
    val scopes = rep.map(_.getString(0)).toSet
    assert(scopes.contains("__union__"), "the rollup row must be served")
    rep.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("n_match")), s"n_match false: $r")
      assert(r.getBoolean(r.fieldIndex("within_bound")), s"within_bound false: $r")
    }
    // spot-check one exact quantile against a brute-force sort
    val all = docs.select(col("n_chars").cast("double")).collect()
      .map(_.getDouble(0)).sorted
    val med = rep.find(r => r.getString(0) == "__union__" &&
      r.getDouble(r.fieldIndex("q")) == 0.5).get
    val n = all.length
    val want = all(math.ceil(0.5 * n).toInt - 1)
    assert(med.getDouble(med.fieldIndex("exact_q")) == want,
      s"exact_q must be the ceil(q·n)-th order statistic: $med vs $want")
  }

  test("report: a stale table key absent from raw surfaces as a FALSE verdict, not a dropped row") {
    import spark.implicits._
    val tbl = QuantileIndex.build(docs, col("source"), col("n_chars"), K)
    // plant a stale key: a sketch row whose scope no longer exists in raw
    val stale = QuantileIndex.build(
      Seq(("ghost", 42L)).toDF("source", "n_chars"),
      col("source"), col("n_chars"), K)
    val rep = QuantileIndex.report(tbl.unionByName(stale), docs,
      col("source"), col("n_chars"), qs = Seq(0.5), eps = 0.05, k = K)
      .collect()
    val ghost = rep.filter(_.getString(0) == "ghost")
    assert(ghost.length == 1, "the stale key must stay on the surface")
    assert(!ghost.head.getBoolean(ghost.head.fieldIndex("n_match")) &&
      !ghost.head.getBoolean(ghost.head.fieldIndex("within_bound")),
      s"stale key must fail verification: ${ghost.head}")
    // ... and the ghost rows poison the __union__ n_match too (the rollup
    // absorbed a value the exact side never counted)
    val uni = rep.find(_.getString(0) == "__union__").get
    assert(!uni.getBoolean(uni.fieldIndex("n_match")),
      s"__union__ must notice the extra absorbed value: $uni")
    // all genuine scopes still verify TRUE
    rep.filter(r => r.getString(0) != "ghost" && r.getString(0) != "__union__")
      .foreach(r => assert(r.getBoolean(r.fieldIndex("n_match")) &&
        r.getBoolean(r.fieldIndex("within_bound")), s"genuine scope broke: $r"))
  }

  test("SQL registration: kll_sketch/kll_union/kll_quantile/kll_n == DataFrame API") {
    docs.createOrReplaceTempView("kll_docs")
    // kll_n and exact-mode estimates are deterministic, so SQL and the
    // DataFrame API must agree exactly (same aggregate, same bytes domain)
    val sql = spark.sql(
      """SELECT CAST(source AS STRING) AS key,
        |  kll_n(sk) AS n_sk, kll_quantile(sk, 0.5) AS med
        |FROM (SELECT source, kll_sketch(n_chars, 256) AS sk
        |      FROM kll_docs GROUP BY source)""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val api = {
      val tbl = QuantileIndex.build(docs, col("source"), col("n_chars"), K)
      tbl.select(col("key").cast("string"), QuantileIndex.kllN(col("sk")),
          QuantileIndex.kllQuantile(col("sk"), lit(0.5)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    }
    assert(sql == api, s"SQL vs DataFrame divergence: $sql vs $api")
    // kll_union over per-key sketch bytes == one corpus-wide sketch's getN
    val unionN = spark.sql(
      """SELECT kll_n(kll_union(sk, 256)) AS n
        |FROM (SELECT source, kll_sketch(n_chars, 256) AS sk
        |      FROM kll_docs GROUP BY source)""".stripMargin)
      .head().getLong(0)
    assert(unionN == docs.count(), "union must absorb every per-key count")
    // INTEROP (the theta precedent): graft's stored bytes are standard
    // Datasketches KllDoublesSketch.toByteArray, so Spark's OWN builtin
    // finalizers must read them — the durable QuantileIndex tables are
    // servable by vanilla Spark SQL with no graft extensions. Exact-mode
    // values make the comparison exact (both query the same retained set;
    // the quantile convention is the library's own in both paths).
    val viaBuiltin = spark.sql(
      """SELECT CAST(source AS STRING) AS key,
        |  kll_sketch_get_n_double(sk) AS n_sk,
        |  kll_sketch_get_quantile_double(sk, 0.5) AS med
        |FROM (SELECT source, kll_sketch(n_chars, 256) AS sk
        |      FROM kll_docs GROUP BY source)""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaBuiltin == api,
      s"builtin KLL finalizers over graft bytes diverge: $viaBuiltin vs $api")
  }
}
