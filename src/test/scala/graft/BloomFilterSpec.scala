package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Hashing}

/** The native Bloom-filter aggregate: no false negatives ever, bounded false
  * positives, a partitioning-independent bit array, SQL registration, and
  * the contract that justifies the decontamination pre-filter —
  * bloom + exact verify ≡ exact.
  */
class BloomFilterSpec extends AnyFunSuite with SparkSpec {

  private val Bits = 4096
  private val K = 3

  test("no false negatives; false-positive rate within theory; bits partition-invariant") {
    import spark.implicits._
    val inserted = (0 until 500).map(i => s"key-$i")
    val probesIn = inserted.toDF("k")
    val probesOut = (0 until 2000).map(i => s"absent-$i").toDF("k")

    def bits(parts: Int): Seq[Long] = probesIn.repartition(parts)
      .agg(Hashing.bloomFilterAgg(col("k"), Bits, K).as("bf"))
      .head().getSeq[Long](0)
    val bf = bits(1)
    assert(bf == bits(7), "bit array must not depend on partitioning")
    assert(bf.length == Bits / 64)

    val bloomDf = probesIn.agg(Hashing.bloomFilterAgg(col("k"), Bits, K).as("bf"))
    def hits(probes: org.apache.spark.sql.DataFrame): Long = probes
      .crossJoin(broadcast(bloomDf))
      .where(Hashing.bloomMightContain(col("bf"), col("k"), Bits, K))
      .count()
    assert(hits(probesIn) == 500L, "every inserted key must probe true (no false negatives)")
    // theory: fpr ≈ (1 - e^(-kn/m))^k = (1 - e^(-3*500/4096))^3 ≈ 0.029;
    // allow 3x headroom for hash-family variance on one draw
    val fpr = hits(probesOut).toDouble / 2000
    assert(fpr <= 0.09, s"false-positive rate $fpr exceeds 3x the theoretical 0.029")
    assert(fpr > 0.0, "with 500 keys in 4096 bits some false positive is expected; " +
      "0 suggests the probe is not reading the bits it should")
  }

  test("SQL registration: bloom_filter60 aggregates and probes via registered hash60") {
    import spark.implicits._
    Seq("a", "b", "c").toDF("k").createOrReplaceTempView("bloom_in")
    val arr = spark.sql(s"SELECT bloom_filter60(k, 256, 2) AS bf FROM bloom_in")
      .head().getSeq[Long](0)
    assert(arr.length == 4)
    assert(arr.exists(_ != 0L), "three keys x two hashes must set at least one bit")
  }

  test("bloom-accelerated decontamination == exact, even with a tiny filter full of false positives") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 120).map(i => s"w$i")
    val evalDocs = (100L until 110L).map { i =>
      (i, Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // corpus: some docs embed a full eval doc (contaminated), others are fresh text
    val corpusDocs = (0L until 40L).map { i =>
      if (i % 5 == 0) (i, s"lead ${evalDocs((i % 10).toInt % evalDocs.size)._2} trail")
      else (i, Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val corpus = corpusDocs.toDF("doc_id", "text")
    val evalSet = evalDocs.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = canon(Dedup.contaminationPairs(
      corpus, evalSet, col("doc_id"), col("text"), 3, 4))
    assert(exact.nonEmpty, "planted contamination must be found")
    // 64 bits for hundreds of distinct shingles: nearly every probe is a
    // false positive — the exact verify must still reduce to the exact set
    for (bits <- Seq(64, 1 << 14)) {
      val got = canon(Dedup.contaminationPairsBloom(
        corpus, evalSet, col("doc_id"), col("text"), 3, 4, numBits = bits, numHashes = 2))
      assert(got == exact, s"bloom($bits bits) + verify must equal exact")
    }
  }
}
