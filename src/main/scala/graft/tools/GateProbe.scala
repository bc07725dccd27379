package graft.tools

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Hashing, MinHashIndex, Text}

/** One-doc diagnostic for the q431 curation funnel: prints each gate's
  * view of a single incoming document (quality flags, decontam Bloom hit
  * count, per-band near-dup Bloom collisions) so an engine-vs-oracle
  * divergence can be attributed to a stage. Usage:
  * runMain graft.tools.GateProbe <sfDir> <docId>
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val (sfDir, docId) = (args(0), args(1).toLong)
    val spark = graft.Sessions.local(8)
    val docs = Tables.load(spark, sfDir, "documents")
    val ref = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("text"))
    val evalSet = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id"), col("text"))
    val doc = docs.where(col("doc_id") === docId)
      .select(col("doc_id"), Text.redactPii(Text.fixMojibake(col("text"))).as("text"))

    // quality
    doc.select(Text.langId(col("text")).as("lang"),
      Text.qualityScore(col("text")).as("q")).show(false)

    // decontam: hit count against the eval Bloom (1<<18 bits, 3 hashes)
    val bloom = evalSet
      .select(explode(Text.shingles(col("text"), 3)).as("sh"))
      .agg(Hashing.bloomFilterAgg(col("sh"), 1 << 18, 3).as("bf"))
    val hits = doc.crossJoin(broadcast(bloom))
      .select(size(filter(Text.shingles(col("text"), 3),
        s => Hashing.bloomMightContain(col("bf"), s, 1 << 18, 3))).as("n_hits"),
        size(Text.shingles(col("text"), 3)).as("n_shingles"))
    hits.show(false)
    doc.crossJoin(broadcast(bloom))
      .select(filter(Text.shingles(col("text"), 3),
        s => Hashing.bloomMightContain(col("bf"), s, 1 << 18, 3)).as("hit_shingles"))
      .show(false)

    // near-dup: which band signatures Bloom-collide with the ref band table
    val bands = MinHashIndex.bandTable(
      MinHashIndex.build(ref, col("doc_id"), col("text"), 3, 16), 4)
    val nb = bands
      .select(concat_ws(":", col("band"), col("band_sig")).as("k"))
      .agg(Hashing.bloomFilterAgg(col("k"), 1 << 18, 3).as("bf"))
    val sigs = MinHashIndex.rowBandSigs(col("text"), 3, 16, 4)
    val perBand = doc.crossJoin(broadcast(nb)).select(
      (0 until 4).map { b =>
        val s = element_at(sigs, b + 1)
        struct(s.as("sig"),
          (s.isNotNull && Hashing.bloomMightContain(col("bf"),
            concat_ws(":", lit(b), s), 1 << 18, 3)).as("hit")).as(s"b$b")
      }: _*)
    perBand.show(false)

    // and the exact band table rows for those signatures (is it a true dup
    // or a Bloom false positive?)
    val mySigs = doc.select(posexplode(sigs).as(Seq("band", "band_sig")))
    mySigs.join(bands, Seq("band", "band_sig"), "left_semi").show(false)
    spark.stop()
  }
}
