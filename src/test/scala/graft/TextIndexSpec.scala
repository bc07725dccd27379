package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{SnapTables, Text, TextIndex}

/** The persisted BM25 index lifecycle: serve == the in-query scan exactly,
  * append == rebuild at the postings level, publish+resolve round-trips, and
  * the stored-index serve plan contains no tokenization.
  */
class TextIndexSpec extends AnyFunSuite with SparkSpec {

  private val sf = TestSpark.sf0001
  private val terms = Seq("join", "scan", "merge")

  private def docs = Tables.load(spark, sf, "documents")

  private def ranked(df: DataFrame): Seq[(Long, Double, Int)] =
    df.select(col("doc_id").cast("long"), col("score"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
      .sortBy(_._3).toSeq

  private def postingRows(idx: graft.ops.Bm25Index): Set[(String, Long, Long)] =
    idx.postings.select(col("tok"), col("doc_id").cast("long"), col("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** Publish both index tables in the catalog's snapshot layout (q408,
    * q425/q426: postings by `tb`, doclens by `db`) under `dir`.
    */
  private def publishIdx(idx: graft.ops.Bm25Index, dir: String): Unit = {
    val tokB = TextIndex.DefaultTokenBuckets.toLong
    SnapTables.publishInitial(spark, s"$dir/postings", "tb", idx.postings
      .withColumn("tb", pmod(graft.ops.Hashing.hash60(col("tok")), lit(tokB)).cast("int")))
    SnapTables.publishInitial(spark, s"$dir/doclens", "db", idx.doclens
      .withColumn("db", pmod(col("doc_id"), lit(tokB)).cast("int")))
  }

  /** The index as the current generations of `dir`'s tables serve it. */
  private def resolveIdx(dir: String): graft.ops.Bm25Index =
    graft.ops.Bm25Index(
      postings = SnapTables.resolve(spark, s"$dir/postings", "tb")
        .select(col("tok"), col("doc_id"), col("tf")),
      doclens = SnapTables.resolve(spark, s"$dir/doclens", "db")
        .select(col("doc_id"), col("dl")))

  test("stored-index serve == in-query bm25TopK, bit for bit") {
    val idx = TextIndex.build(docs, col("doc_id"), col("text"))
    val fromIndex = ranked(TextIndex.searchBM25(idx, terms, k = 10))
    val fromScan = ranked(Text.bm25TopK(docs, col("doc_id"), col("text"), terms, k = 10))
    assert(fromIndex == fromScan)
  }

  test("append == full rebuild at the postings level (per-doc locality)") {
    val base = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val delta = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val appended = TextIndex.append(
      TextIndex.build(base, col("doc_id"), col("text")),
      delta, col("doc_id"), col("text"))
    val rebuilt = TextIndex.build(docs, col("doc_id"), col("text"))
    assert(postingRows(appended) == postingRows(rebuilt))
    assert(appended.doclens.count() == docs.count())
  }

  test("write + read roundtrip serves identical results; serve plan has no tokenization") {
    val idx = TextIndex.build(docs, col("doc_id"), col("text"))
    val dir = tmpDir("bm25-idx")
    publishIdx(idx, dir)
    val stored = resolveIdx(dir)
    assert(ranked(TextIndex.searchBM25(stored, terms, k = 10))
      == ranked(TextIndex.searchBM25(idx, terms, k = 10)))
    val plan = TextIndex.searchBM25(stored, terms, k = 10)
      .queryExecution.executedPlan.toString()
    Seq("split(", "explode").foreach(tok =>
      assert(!plan.contains(tok), s"stored-index serve must not contain '$tok':\n$plan"))
    // the term filter must reach the postings scan as a pushed filter
    assert(plan.contains("PushedFilters: [In(tok"),
      s"query-term filter must push into the postings scan:\n$plan")
  }

  test("BPE vocab table roundtrip: stored vocab serves the frozen tokenizer identically; OOV chars conserved") {
    import graft.ops.Text
    val base = docs.where(org.apache.spark.sql.functions.pmod(
      col("doc_id"), org.apache.spark.sql.functions.lit(7)) =!= 0)
    val delta = docs.where(org.apache.spark.sql.functions.pmod(
      col("doc_id"), org.apache.spark.sql.functions.lit(7)) === 0)
    val (_, vocab) = Text.bpeTrain(base, col("text"), numMerges = 6)
    val live = Text.bpeEncodeFromTable(delta, col("doc_id"), col("text"),
      vocab.localCheckpoint())
    val dir = tmpDir("bpe-vocab")
    vocab.write.mode("overwrite").parquet(s"$dir/vocab")
    val served = Text.bpeEncodeFromTable(delta, col("doc_id"), col("text"),
      spark.read.parquet(s"$dir/vocab"))
    assert(served.exceptAll(live).isEmpty && live.exceptAll(served).isEmpty)
    // char-fallback conservation: a fully-OOV doc tokenizes to exactly its
    // character count
    val allOov = live.where(col("n_oov") === col("n_tokens"))
    assert(allOov.where(col("n_bpe_tokens") =!= col("n_chars")).count() == 0)
  }

  test("hybridFromTables == in-query hybridRrfTopK; served plan reads tables only") {
    val idx = TextIndex.build(docs, col("doc_id"), col("text"))
    val vecs = graft.ops.Text.hashingTrickEmbedding(
      docs, col("doc_id"), col("text"), 32).localCheckpoint()
    def fused(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Int)] =
      df.select(col("doc_id").cast("long"), col("rrf"), col("rank").cast("int"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
        .sortBy(_._3).toSeq
    val inQuery = graft.ops.Text.hybridRrfTopK(docs, col("doc_id"), col("text"),
      terms, dims = 32, k = 20)
    val fromTables = TextIndex.hybridFromTables(idx, vecs, terms, dims = 32, k = 20)
    assert(fused(fromTables) == fused(inQuery),
      "table-served hybrid must reproduce the in-query ranking bit for bit")
    // disk roundtrip: write both tables, serve from the read-back frames —
    // the search plan must tokenize nothing (corpus text stays at build)
    val dir = tmpDir("hybrid-idx")
    publishIdx(idx, dir)
    vecs.write.mode("overwrite").parquet(s"$dir/vectors")
    val served = TextIndex.hybridFromTables(resolveIdx(dir),
      spark.read.parquet(s"$dir/vectors"), terms, dims = 32, k = 20)
    assert(fused(served) == fused(inQuery))
    val plan = served.queryExecution.executedPlan.toString()
    assert(!plan.contains("split("),
      s"corpus tokenization leaked into the hybrid serve plan:\n$plan")
  }

  test("batched serves from read-back tables == in-query batch paths, tokenization-free") {
    import spark.implicits._
    val queries = Seq((1L, Seq("join", "scan")), (2L, Seq("merge", "window")))
      .toDF("qid", "terms")
    val idx = TextIndex.build(docs, col("doc_id"), col("text"))
    val vecs = graft.ops.Text.hashingTrickEmbedding(
      docs, col("doc_id"), col("text"), 32).localCheckpoint()
    val dir = tmpDir("batch-serve-idx")
    publishIdx(idx, dir)
    vecs.write.mode("overwrite").parquet(s"$dir/vectors")
    val storedIdx = resolveIdx(dir)
    val storedVecs = spark.read.parquet(s"$dir/vectors")
    def bmRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("doc_id").cast("long"), col("rank").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(bmRows(TextIndex.searchBM25Batch(storedIdx, queries, k = 10))
      == bmRows(graft.ops.Text.bm25TopKBatch(docs, col("doc_id"), col("text"),
        queries, k = 10)))
    def hyRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("doc_id").cast("long"), col("rrf"),
          col("rank").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val servedBatch = TextIndex.hybridFromTablesBatch(storedIdx, storedVecs,
      queries, dims = 32, k = 10)
    assert(hyRows(servedBatch)
      == hyRows(graft.ops.Text.hybridRrfTopKBatch(docs, col("doc_id"),
        col("text"), queries, dims = 32, k = 10)))
    val plan = servedBatch.queryExecution.executedPlan.toString()
    assert(!plan.contains("split("),
      s"corpus tokenization leaked into the batched hybrid serve plan:\n$plan")
  }

  test("deleteStored: removed docs leave BOTH stored tables' bytes; serve == never-indexed rebuild") {
    val dir = tmpDir("bm25-del")
    publishIdx(TextIndex.build(docs, col("doc_id"), col("text")), dir)
    val removedIds = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id"))
    SnapTables.deleteByKey(spark, s"$dir/postings", "tb", "doc_id", removedIds)
    SnapTables.deleteByKey(spark, s"$dir/doclens", "db", "doc_id", removedIds)
    // serve-level: scores (N, avgdl, df all derive from the stored tables)
    // equal an index that never saw the removed docs
    val served = resolveIdx(dir)
    val survivors = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
    assert(ranked(TextIndex.searchBM25(served, terms, k = 10))
        == ranked(TextIndex.searchBM25(
          TextIndex.build(survivors, col("doc_id"), col("text")), terms, k = 10)),
      "post-delete serve must be indistinguishable from never having indexed them")
    // byte-level: neither stored table retains a removed doc's rows
    assertForgottenAfterExpire(s"$dir/postings", "tb", removedIds)
    assertForgottenAfterExpire(s"$dir/doclens", "db", removedIds)
  }
}
