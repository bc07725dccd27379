package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{AnnIndex, Dedup, Similarity}

/** AQE posture pins (round-8): PlanSpec asserts the INITIAL physical plan —
  * what Catalyst commits to statically. Under adaptive execution (the Spark-4
  * default, and what Verify/Bench/production all run) stages are re-planned
  * at runtime from observed shuffle statistics, so a shape could regress
  * between planning and execution without PlanSpec noticing. These tests
  * execute the query and pin the FINAL adaptive plan instead.
  *
  * Posture per operator family (the documented contract):
  *  - Dimension joins planned as broadcast STAY broadcast; AQE may only
  *    convert additional shuffle joins to broadcast when a side turns out
  *    small — never the reverse.
  *  - Top-k paths (WindowGroupLimit / TakeOrderedAndProject) survive
  *    re-planning — AQE touches exchanges, not the limit operators.
  *  - Post-shuffle partition coalescing (AQEShuffleRead) is expected and
  *    welcome: the 100 TB posture is "size spark.sql.shuffle.partitions for
  *    the biggest stage, let AQE coalesce the small ones".
  *  - Skew-join splitting stays enabled (spark.sql.adaptive.skewJoin) for
  *    the shuffle joins; the salted join (q35) remains the deterministic
  *    fallback for skew in AGGREGATIONS, which AQE does not split.
  *  - Streaming plans do not use AQE (Spark restriction) — the streaming
  *    specs' shapes are final as planned.
  */
class AqeSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001

  /** Execute the frame, then render the FINAL adaptive plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString()
      case p => p.toString()
    }
  }

  test("AQE is on in the session the gates run with (Spark-4 default, not opt-in)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("dimension star join: every broadcast survives AQE; no sort-merge join in the final plan") {
    val orders = Tables.load(spark, sf, "orders")
    val cust = Tables.load(spark, sf, "customer")
    val nation = Tables.load(spark, sf, "nation")
    val region = Tables.load(spark, sf, "region")
    val df = orders
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"))
    val p = finalPlan(df)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"statically-planned broadcasts must survive re-planning:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"at this scale AQE must not leave a sort-merge join standing:\n$p")
  }

  test("ANN serve-from-index: WindowGroupLimit top-k survives AQE re-planning") {
    val emb = Tables.load(spark, sf, "embeddings")
    val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(emb, col("embedding"), col("label"))))
    val idx = AnnIndex.build(emb, col("vec_id"), col("embedding"), coarse,
      dims = 64, m = 8, k = 16, iters = 1)
    val queries = emb.where(pmod(col("vec_id"), lit(50)) === 0)
    val df = AnnIndex.search(queries, col("vec_id"), col("embedding"), 3, idx, nprobe = 2)
    val p = finalPlan(df)
    assert(p.contains("WindowGroupLimit"),
      s"per-partition top-k pruning must survive AQE:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1,
      s"the broadcast of the query/model side must survive AQE:\n$p")
  }

  test("BM25 serve-from-postings: term-filter pushdown and the top-k window survive AQE") {
    val docs = Tables.load(spark, sf, "documents")
    val idx = graft.ops.TextIndex.build(docs, col("doc_id"), col("text"))
    val dir = tmpDir("aqe-bm25-idx")
    val tokB = graft.ops.TextIndex.DefaultTokenBuckets.toLong
    val stored = graft.ops.Bm25Index(
      postings = publishAndResolve(s"$dir/postings", "tb", idx.postings.withColumn(
        "tb", pmod(graft.ops.Hashing.hash60(col("tok")), lit(tokB)).cast("int")))
        .select(col("tok"), col("doc_id"), col("tf")),
      doclens = publishAndResolve(s"$dir/doclens", "db", idx.doclens.withColumn(
        "db", pmod(col("doc_id"), lit(tokB)).cast("int")))
        .select(col("doc_id"), col("dl")))
    val served = graft.ops.TextIndex.searchBM25(
      stored, Seq("join", "scan", "merge"), k = 10)
    val p = finalPlan(served)
    assert(p.contains("PushedFilters: [In(tok"),
      s"term filter must still push into the postings scan after AQE:\n$p")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject"),
      s"top-k must survive re-planning:\n$p")
    assert(!p.contains("split("), "no tokenization may appear in the served final plan")
  }

  test("winnow serve: the broadcast probe join survives AQE; table side stays scan-only") {
    val docs = Tables.load(spark, sf, "documents")
    val fp = graft.ops.WinnowIndex.build(docs, col("doc_id"), col("text"), k = 3, w = 4)
    val stored = publishAndResolve(tmpDir("aqe-fp-idx"), "hb", fp.withColumn("hb",
      pmod(col("h"), lit(graft.ops.WinnowIndex.DefaultHashBuckets.toLong)).cast("int")))
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat_ws(" ", slice(graft.ops.Text.tokens(col("text")), 1, 30)).as("text"))
    val served = graft.ops.WinnowIndex.matches(
      stored, probes, col("doc_id"), col("text"),
      k = 3, w = 4, threshold = 0.4, maxFpDf = Some(100))
    val p = finalPlan(served)
    assert(p.contains("BroadcastHashJoin"),
      s"the probe pair join must stay broadcast after AQE:\n$p")
    Seq("split(", "md5", "hash60").foreach(tok =>
      assert(!p.toLowerCase.contains(tok.toLowerCase),
        s"serve final plan must not contain '$tok'"))
  }

  test("corpus-scale grouped agg: AQE coalesces post-shuffle partitions (AQEShuffleRead)") {
    val docs = Tables.load(spark, sf, "documents")
    val df = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val p = finalPlan(df)
    assert(p.contains("AQEShuffleRead") || p.contains("coalesced"),
      s"tiny shuffle outputs must be coalesced at runtime:\n$p")
  }

  test("dedup minhash: the single pre-explode exchange is still the only one after AQE") {
    val docs = Tables.load(spark, sf, "documents")
    val df = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 16)
    val p = finalPlan(df)
    val exchanges = "(?i)exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"AQE must not introduce extra exchanges on the minhash path, got $exchanges:\n$p")
  }

  test("minhash serve-from-tables: probe joins stay broadcast after AQE; table side scan-only") {
    val docs = Tables.load(spark, sf, "documents")
    val sigs = graft.ops.MinHashIndex.build(docs, col("doc_id"), col("text"), 3, 16)
    val dir = tmpDir("aqe-mh-idx")
    val sigB = graft.ops.MinHashIndex.DefaultSigBuckets.toLong
    val storedSigs = publishAndResolve(s"$dir/sigs", "db",
      sigs.withColumn("db", pmod(col("doc_id"), lit(sigB)).cast("int")))
    val storedBands = publishAndResolve(s"$dir/bands", "sb",
      graft.ops.MinHashIndex.bandTable(sigs, 4)
        .withColumn("sb", pmod(col("band_sig"), lit(sigB)).cast("int")))
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
    val served = graft.ops.MinHashIndex.matches(
      storedBands, storedSigs,
      probes, col("doc_id"), col("text"), n = 3, numHashes = 16,
      rowsPerBand = 4, minEstimate = 0.75, maxBucket = Some(100))
    val p = finalPlan(served)
    assert(p.contains("BroadcastHashJoin"),
      s"probe band/signature joins must stay broadcast after AQE:\n$p")
    Seq("split(", "md5", "hash60").foreach(tok =>
      assert(!p.toLowerCase.contains(tok.toLowerCase),
        s"serve final plan must not contain '$tok'"))
  }

  test("binary-quantization funnel: both group-limit ranks survive AQE re-planning") {
    val emb = Tables.load(spark, sf, "embeddings")
    val df = graft.ops.BinaryQuant.lshHammingRerankTopK(emb,
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"),
      k = 5, screenR = 20, numPlanes = 8, numDims = 64)
    val p = finalPlan(df)
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"Hamming screen and L2 rerank group limits must survive AQE:\n$p")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must stay bucket-joined under AQE")
  }

  test("simhash serve-from-keys: probe key join stays broadcast after AQE; no corpus tokenization") {
    val docs = Tables.load(spark, sf, "documents")
    val hashes = graft.ops.SimHashIndex.build(docs, col("doc_id"), col("text"))
    val stored = publishAndResolve(tmpDir("aqe-sh-idx"), "kb",
      graft.ops.SimHashIndex.keyTable(hashes, maxHamming = 3, numBlocks = 6)
        .withColumn("kb", pmod(col("blk_val"),
          lit(graft.ops.SimHashIndex.DefaultKeyBuckets.toLong)).cast("int")))
    val probes = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" zq1 zq2")).as("text"))
    val served = graft.ops.SimHashIndex.matches(
      stored, probes,
      col("doc_id"), col("text"), maxHamming = 3, numBlocks = 6)
    val p = finalPlan(served)
    assert(p.contains("BroadcastHashJoin"),
      s"the probe key join must stay broadcast after AQE:\n$p")
    assert(!p.toLowerCase.contains("generate explode(split"),
      s"corpus tokenization leaked into the serve final plan:\n$p")
  }
}
