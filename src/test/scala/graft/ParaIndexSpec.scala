package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ParaIndex, SnapConflict, SnapTables}

/** The durable paragraph-hash-table lifecycle: build == publish+resolve, append
  * == rebuild under the id-ordering contract, and the stored-table scrub
  * reproduces the in-memory scrub while keeping the table side scan-only.
  */
class ParaIndexSpec extends AnyFunSuite with SparkSpec {

  private def rows(t: DataFrame): Set[(Long, Long, Long)] =
    t.select(col("h"), col("doc_id").cast("long"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "alpha one\nshared footer"),
      (2L, "beta two\nshared footer\nbeta extra"),
      (3L, "gamma three"),
      (4L, "alpha one") // duplicate of doc 1's first paragraph
    ).toDF("id", "text")
  }

  /** The corpus' table published in the catalog's snapshot layout
    * (q414: partitioned by `hb`).
    */
  private def publishCorpus(dir: String,
      buckets: Int = ParaIndex.DefaultHashBuckets): Unit =
    SnapTables.publishInitial(spark, dir, "hb",
      ParaIndex.build(corpus, col("id"), col("text"))
        .withColumn("hb", pmod(col("h"), lit(buckets.toLong)).cast("int")))

  test("write + read roundtrip preserves rows; stored table carries its partition column") {
    val tbl = ParaIndex.build(corpus, col("id"), col("text"))
    val dir = tmpDir("para-idx")
    publishCorpus(dir)
    val stored = SnapTables.resolve(spark, dir, "hb")
    assert(stored.columns.contains("hb"))
    assert(rows(stored) == rows(tbl))
  }

  test("append == rebuild when delta ids sort after the base (the ingest contract)") {
    import spark.implicits._
    val delta = Seq(
      (10L, "shared footer\nnovel delta par"), // footer already indexed
      (11L, "novel delta par\nanother novel")  // in-delta duplicate election
    ).toDF("id", "text")
    val appended = ParaIndex.append(
      ParaIndex.build(corpus, col("id"), col("text")), delta, col("id"), col("text"))
    val rebuilt = ParaIndex.firstOccurrences(
      corpus.unionByName(delta), col("id"), col("text"))
    assert(rows(appended) == rows(rebuilt),
      "append must equal the from-scratch election row for row")
  }

  test("scrub from the stored table == scrub from the built frame; table text never re-split") {
    import spark.implicits._
    val tbl = ParaIndex.build(corpus, col("id"), col("text"))
    val dir = tmpDir("para-idx-serve")
    publishCorpus(dir)
    val stored = SnapTables.resolve(spark, dir, "hb")
    val batch = Seq(
      (100L, "shared footer\nfresh paragraph\nbatch shared"),
      (101L, "batch shared\nalso fresh")
    ).toDF("id", "text")
    def out(t: DataFrame): Map[Long, (Long, Long, String)] =
      ParaIndex.scrub(t, batch, col("id"), col("text"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val fromStored = out(stored)
    assert(fromStored == out(tbl))
    assert(fromStored(100L) == ((3L, 2L, "fresh paragraph\nbatch shared")),
      "table hit cut; batch-shared paragraph won its in-batch election here")
    assert(fromStored(101L) == ((2L, 1L, "also fresh")),
      "later in-batch duplicate cut")
    // the serve plan must not re-split or re-hash table text: its input is
    // the stored (h, doc_id, pos, hb) parquet — no string column to split
    val plan = ParaIndex.scrub(stored, batch, col("id"), col("text"))
      .queryExecution.executedPlan.toString()
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits <= 2, // batch paragraphs + batch n_paras projection only
      s"table side must be scan-only; found $splits split() calls:\n$plan")
  }

  test("deleteStored: re-election == survivors rebuild row for row; survivor-less hashes drop") {
    import spark.implicits._
    val dir = tmpDir("para-del")
    publishCorpus(dir)
    // remove docs 1 and 3: doc 1 WON "alpha one" (doc 4 still carries it)
    // and "shared footer" (doc 2 still carries it) — both must re-elect;
    // doc 3's "gamma three" has no surviving carrier — its hash must drop
    val removed = Seq(1L, 3L).toDF("doc_id")
    val survivors = corpus.where(!col("id").isin(1L, 3L))
    ParaIndex.deleteSnapshot(spark, dir, removed, survivors, col("id"), col("text"))
    val stored = SnapTables.resolve(spark, dir, "hb")
    assert(rows(stored)
        == rows(ParaIndex.firstOccurrences(survivors, col("id"), col("text"))),
      "re-elected table must equal a from-scratch election over the survivors")
    // the re-elections landed where the fixture predicts
    val byDoc = stored.select(col("doc_id").cast("long"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byDoc.contains((4L, 0L)), "'alpha one' must re-elect to doc 4")
    assert(byDoc.contains((2L, 1L)), "'shared footer' must re-elect to doc 2 pos 1")
    assertForgottenAfterExpire(dir, "hb", removed)
  }

  test("deleteStored: a survivors frame that still contains the removed docs cannot re-elect them") {
    import spark.implicits._
    val dir = tmpDir("para-del-guard")
    publishCorpus(dir)
    val removed = Seq(1L, 3L).toDF("doc_id")
    // the natural caller slip: passing the FULL corpus as survivors — a
    // removed doc would win back its own orphaned hashes (doc 1 is the
    // minimal occurrence of 'alpha one'), resurrecting the purged rows
    ParaIndex.deleteSnapshot(spark, dir, removed, corpus, col("id"), col("text"))
    val stored = SnapTables.resolve(spark, dir, "hb")
    assert(stored.where(col("doc_id").isin(1L, 3L)).count() == 0L,
      "removed docs must be excluded from re-election candidacy outright")
    assert(rows(stored) == rows(ParaIndex.firstOccurrences(
        corpus.where(!col("id").isin(1L, 3L)), col("id"), col("text"))),
      "the result must equal the correct survivors rebuild despite the caller slip")
  }

  test("deleteSnapshot: re-election publishes as a generation; a pre-flip scrubber keeps the old winners") {
    import spark.implicits._
    val dir = tmpDir("para-snap-del")
    publishCorpus(dir)
    // a scrubber resolved BEFORE the delete — its electorate is gen 0
    val preFlip = SnapTables.resolve(spark, dir, "hb")
    val removed = Seq(1L, 3L).toDF("doc_id")
    val survivors = corpus.where(!col("id").isin(1L, 3L))
    val gen = ParaIndex.deleteSnapshot(spark, dir, removed, survivors,
      col("id"), col("text"))
    assert(gen == 1)
    // post-flip: equals the from-scratch survivors election
    assert(rows(SnapTables.resolve(spark, dir, "hb"))
        == rows(ParaIndex.firstOccurrences(survivors, col("id"), col("text"))))
    // the isolation is SEMANTICALLY visible on an elected table: the
    // pre-flip electorate still cuts doc 3's now-dropped paragraph
    val probe = Seq((100L, "gamma three\nbrand new line")).toDF("id", "text")
    def kept(tbl: org.apache.spark.sql.DataFrame): Long =
      ParaIndex.scrub(tbl, probe, col("id"), col("text"))
        .select(col("n_kept")).head().getLong(0)
    assert(kept(preFlip) == 1L,
      "gen-0 scrubber must still cut 'gamma three' (its hash was a gen-0 winner)")
    assert(kept(SnapTables.resolve(spark, dir, "hb")) == 2L,
      "gen-1 scrubber must keep it (no survivor carries that paragraph)")
  }

  test("deleteSnapshot: a writer that publishes while another plans makes the planner throw, not undo it") {
    import spark.implicits._
    import ParaIndexSpec._
    val dir = tmpDir("para-race")
    // one bucket: both deletes rewrite the same partition, so a stale plan
    // published over the first writer would visibly undo its delete
    publishCorpus(dir, buckets = 1)
    val base = SnapTables.currentGeneration(spark, dir).get
    gates = new Gates
    // the removal sets are read only after a writer has read its generation:
    // writer 2 signals there, then waits until writer 1 has published;
    // writer 1 waits for that signal before it plans at all
    val gated = udf((doc: Long) => { gates.pass(doc); true })
    val errs = new java.util.concurrent.ConcurrentHashMap[Long, Throwable]()
    val threads = Seq(1L, 2L).map { doc =>
      val t = new Thread(() => {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        try ParaIndex.deleteSnapshot(spark, dir,
            Seq(doc).toDF("doc_id").where(gated(col("doc_id"))),
            corpus.where(col("id") =!= doc), col("id"), col("text"))
        catch { case e: Throwable => errs.put(doc, e) }
        finally if (doc == 1L) gates.firstPublished.countDown()
        ()
      }, s"para-writer-$doc")
      t.start(); t
    }
    threads.foreach(_.join())
    assert(!errs.containsKey(1L), s"the first writer must publish: ${errs.get(1L)}")
    assert(errs.get(2L).isInstanceOf[SnapConflict],
      s"the writer whose plan went stale must throw SnapConflict, got ${errs.get(2L)}")
    assert(SnapTables.currentGeneration(spark, dir).contains(base + 1))
    assert(rows(SnapTables.resolve(spark, dir, "hb")) == rows(ParaIndex.firstOccurrences(
        corpus.where(col("id") =!= 1L), col("id"), col("text"))),
      "the table must serve exactly the first writer's delete")
  }
}

object ParaIndexSpec {
  /** Orders the two writers of the race test; UDFs reach it through this
    * object, not a serialized copy.
    */
  final class Gates {
    val secondPlanning, firstPublished = new java.util.concurrent.CountDownLatch(1)
    def pass(doc: Long): Unit = {
      val wait = if (doc == 1L) secondPlanning else { secondPlanning.countDown(); firstPublished }
      assert(wait.await(2, java.util.concurrent.TimeUnit.MINUTES), s"writer $doc timed out")
    }
  }
  @volatile var gates: Gates = _
}
