package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

import graft.ops.Articles
import graft.streaming.{KinesisEnvelope, StreamOps}

/** Stateful streaming dedup (W5) and observe-based parse metrics (W4). */
class StreamOpsSpec extends AnyFunSuite with SparkSpec {

  private def art(id: String, author: String, ts: String): String =
    s"""{"article_id":"$id","title":"t","author":"$author","publish_date":"$ts","content":"a b c"}"""

  private var seq = 0L
  private def env(json: String): KinesisEnvelope = {
    seq += 1
    envelopeOf(json, seq, Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  test("W5: dropDuplicatesWithinWatermark drops re-delivered records, keeps distinct ones, evicts state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val ms = MemoryStream[KinesisEnvelope]
    val deduped = StreamOps.dedupWithinWatermark(
      Articles.parse(ms.toDF()), "publish_date", "10 minutes", Seq("article_id"))
    val q = deduped
      .select("article_id", "author")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    try {
      // batch 1: a1 delivered twice in-batch, a2 once.
      ms.addData(Seq(
        env(art("a1", "alice", "2024-01-01T10:00:00")),
        env(art("a1", "alice", "2024-01-01T10:00:01")),
        env(art("a2", "bob", "2024-01-01T10:00:02"))))
      q.processAllAvailable()
      // batch 2: a1 re-delivered (within horizon -> dropped), a3 new.
      ms.addData(Seq(
        env(art("a1", "alice", "2024-01-01T10:00:03")),
        env(art("a3", "carol", "2024-01-01T10:05:00"))))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("article_id").as[String]
        .collect().sorted.toSeq
      assert(got == Seq("a1", "a2", "a3"), "each article id exactly once")
    } finally q.stop()
  }

  test("incremental moment maintenance: per-micro-batch sum appends re-merge to the exact batch stats") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    import graft.ops.Stats

    val all = (1 to 500).map(i => (s"g${i % 3}", math.sin(i) * 100.0))
    val ms = MemoryStream[(String, Double)]
    // the durable stats table a stream maintains: one appended (scope, n,
    // s1, s2) frame per micro-batch, never a rescan of earlier batches
    val stored = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = ms.toDF().toDF("g", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        stored += Stats.momentSums(batch, col("v"), col("g")).localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(all.take(200)); q.processAllAvailable()
      ms.addData(all.slice(200, 350)); q.processAllAvailable()
      ms.addData(all.drop(350)); q.processAllAvailable()
    } finally q.stop()
    assert(stored.size == 3, "three micro-batches -> three stored sum frames")
    // re-merge: per-scope sums of the stored exact decimal columns
    val merged = Stats.finalizeMoments(stored.reduce(_ unionByName _)
        .groupBy(col("scope"))
        .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"), sum(col("s2")).as("s2")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    val direct = Stats.finalizeMoments(
        Stats.momentSums(all.toDF("g", "v"), col("v"), col("g")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    assert(merged == direct,
      "decimal sums must merge EXACTLY across micro-batches (bit-equal mean/variance)")
  }

  test("incremental hourly-count maintenance: micro-batch appends re-merge to batch counts; anomaly flags identical") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    import graft.ops.Stats

    val ev = Tables.load(spark, TestSpark.sf0001, "events")
      .select(expr("unix_micros(ts)").as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def hourly(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"), expr("us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val ms = MemoryStream[(Long, String)]
    // the durable monitor table: one appended (type, hr, n) delta frame
    // per micro-batch — counts are additive, so merge is plain re-summation
    val stored = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = ms.toDF().toDF("us", "event_type")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        stored += hourly(batch).localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(ev.take(300)); q.processAllAvailable()
      ms.addData(ev.slice(300, 700)); q.processAllAvailable()
      ms.addData(ev.drop(700)); q.processAllAvailable()
    } finally q.stop()
    assert(stored.size == 3)
    val merged = stored.reduce(_ unionByName _)
      .groupBy(col("event_type"), col("hr"))
      .agg(org.apache.spark.sql.functions.sum(col("n")).as("n"))
    val direct = hourly(ev.toDF("us", "event_type"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "re-summed micro-batch count deltas must equal the direct batch counts")
    // and the anomaly stage over the MAINTAINED table flags exactly what
    // the batch query flags (q238's arithmetic via the shared op)
    val fromStream = Stats.volumeAnomalies(merged, zThresh = 2.0)
    val fromBatch = Stats.volumeAnomalies(direct, zThresh = 2.0)
    assert(fromStream.exceptAll(fromBatch).isEmpty &&
      fromBatch.exceptAll(fromStream).isEmpty)
  }

  test("incremental histogram maintenance: micro-batch counter deltas merge to the batch table; quantiles identical") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.HistIndex

    val li = Tables.load(spark, TestSpark.sf0001, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val liDf = li.toDF("rf", "x")
    // domain freezes BEFORE streaming starts (the frozen-model discipline)
    val (lo, hi) = HistIndex.domain(liDf, col("x"))
    val ms = MemoryStream[(String, Double)]
    val stored = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = ms.toDF().toDF("rf", "x")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        stored += HistIndex.build(batch, col("rf"), col("x"), lo, hi, 16)
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(li.take(400)); q.processAllAvailable()
      ms.addData(li.slice(400, 900)); q.processAllAvailable()
      ms.addData(li.drop(900)); q.processAllAvailable()
    } finally q.stop()
    assert(stored.size == 3)
    val merged = HistIndex.merge(stored.toSeq)
    val direct = HistIndex.build(liDf, col("rf"), col("x"), lo, hi, 16)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "re-summed micro-batch histogram deltas must equal the direct batch counters")
    val qs = Seq(0.5, 0.9)
    val a = HistIndex.quantiles(merged, lo, hi, 16, qs)
    val b = HistIndex.quantiles(direct, lo, hi, 16, qs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "quantiles served from the maintained table must match the batch table")
  }

  test("incremental AUC-counter maintenance: micro-batch (bin, pos, neg) deltas re-sum to the batch counters") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, least, floor, lit, sum}
    import graft.ops.Text

    val docs = Tables.load(spark, TestSpark.sf0001, "documents")
      .select(col("text"), (col("lang") === "en").as("y"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    def binCounts(df: org.apache.spark.sql.DataFrame) = df
      .select(least(floor(Text.qualityScore(col("text")) * 10), lit(9L))
          .cast("int").as("bin"),
        col("y").cast("long").as("p"))
      .groupBy(col("bin"))
      .agg(sum(col("p")).as("npos"), sum(lit(1L) - col("p")).as("nneg"))
    val ms = MemoryStream[(String, Boolean)]
    val stored = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = ms.toDF().toDF("text", "y")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        stored += binCounts(batch).localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(docs.take(150)); q.processAllAvailable()
      ms.addData(docs.slice(150, 350)); q.processAllAvailable()
      ms.addData(docs.drop(350)); q.processAllAvailable()
    } finally q.stop()
    assert(stored.size == 3)
    val merged = stored.reduce(_ unionByName _)
      .groupBy(col("bin"))
      .agg(sum(col("npos")).as("npos"), sum(col("nneg")).as("nneg"))
    val direct = binCounts(docs.toDF("text", "y"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "additive AUC counters: stream-maintained == batch, hence identical binned AUC (q283)")
  }

  test("incremental sketch maintenance: per-micro-batch hourly theta appends union to the direct batch sketch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, date_trunc, to_timestamp}
    import graft.ops.Hashing

    val all = (0 until 900).map { i =>
      (s"2024-03-01T0${i % 3}:1${i % 6}:00", (i * 37 % 211).toLong)
    }
    def hourlySketch(df: org.apache.spark.sql.DataFrame) = df
      .select(date_trunc("hour", to_timestamp(col("t"))).as("h"), col("u"))
      .groupBy(col("h")).agg(Hashing.thetaSketchAgg(col("u"), 12).as("sk"))
    val ms = MemoryStream[(String, Long)]
    val stored = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = ms.toDF().toDF("t", "u")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        stored += hourlySketch(batch).localCheckpoint()
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(all.take(300)); q.processAllAvailable()
      ms.addData(all.slice(300, 600)); q.processAllAvailable()
      ms.addData(all.drop(600)); q.processAllAvailable()
    } finally q.stop()
    val merged = stored.reduce(_ unionByName _)
      .groupBy(col("h")).agg(Hashing.thetaUnionAgg(col("sk"), 12).as("sk"))
      .collect().map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]]("sk")).toMap
    val direct = hourlySketch(all.toDF("t", "u"))
      .collect().map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]]("sk")).toMap
    assert(merged.keySet == direct.keySet)
    assert(merged.forall { case (h, b) => java.util.Arrays.equals(b, direct(h)) },
      "unioned stored sketches must be byte-equal to the direct batch sketch " +
        "(exact mode: retention is the full distinct hash set)")
  }

  test("incremental KLL quantile-table maintenance: micro-batch shards fold into the table — getN exact, estimates within the rank contract") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.QuantileIndex

    val all = (0 until 900).map(i => (s"src${i % 3}", (i * 37 % 211).toDouble))
    val ms = MemoryStream[(String, Double)]
    val stored = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val q = ms.toDF().toDF("s", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        stored += QuantileIndex.build(batch, col("s"), col("v"), 256)
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(all.take(300)); q.processAllAvailable()
      ms.addData(all.slice(300, 600)); q.processAllAvailable()
      ms.addData(all.drop(600)); q.processAllAvailable()
    } finally q.stop()
    val merged = QuantileIndex.merge(stored.toSeq, 256)
    val direct = QuantileIndex.build(all.toDF("s", "v"), col("s"), col("v"), 256)
    def ns(t: org.apache.spark.sql.DataFrame) = t
      .select(col("key"), QuantileIndex.kllN(col("sk")), col("n_rows"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ns(merged) == ns(direct),
      "getN and n_rows are exact additive counters — maintenance must not lose or double rows")
    // estimates: KLL bytes are NOT byte-comparable across build paths
    // (randomized compaction), but every estimate must be an input value
    // whose rank sits within the tolerance of the requested q
    val byKey = all.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val qdf = org.apache.spark.sql.functions.broadcast(
      spark.createDataFrame(Seq(0.5, 0.9).map(Tuple1.apply)).toDF("q"))
    merged.crossJoin(qdf)
      .select(col("key"), col("q"), QuantileIndex.kllQuantile(col("sk"), col("q")))
      .collect().foreach { r =>
        val (key, qq, est) = (r.getString(0), r.getDouble(1), r.getDouble(2))
        val vs = byKey(key)
        assert(vs.contains(est), s"($key, $qq): $est is not an input value")
        val rank = vs.count(_ <= est).toDouble / vs.length
        val below = vs.count(_ < est).toDouble / vs.length
        assert(below - 0.05 <= qq && qq <= rank + 0.05,
          s"($key, $qq): estimate $est rank [$below, $rank] outside tolerance")
      }
  }

  test("batch fallback: dedupWithinWatermark == dropDuplicates on static frames") {
    import spark.implicits._
    val df = Seq(art("x", "a", "2024-01-01T10:00:00"), art("x", "a", "2024-01-01T10:00:05"))
      .toDF("json").select(org.apache.spark.sql.functions.col("json").cast("binary").as("data"))
    val out = StreamOps.dedupWithinWatermark(
      Articles.parse(df), "publish_date", "10 minutes", Seq("article_id"))
    assert(out.count() == 1L)
  }

  test("session windows run in streaming append mode (gap-based state, watermark finalization)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val ms = MemoryStream[KinesisEnvelope]
    val sessions = graft.ops.Windowing.sessionAgg(
      Articles.enrich(Articles.parse(ms.toDF())),
      "publish_date", gap = "5 minutes", watermarkDelay = Some("10 seconds"),
      keys = Seq(col("author")),
      aggs = Seq(count(lit(1)).as("n")))
    val q = sessions.writeStream.format("memory").queryName("session_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // alice: two events 2 min apart (one session), then a 20-min silence
      ms.addData(Seq(
        env(art("s1", "alice", "2024-01-01T10:00:00")),
        env(art("s2", "alice", "2024-01-01T10:02:00"))))
      q.processAllAvailable()
      // flush far beyond the session gap + watermark -> session finalized
      ms.addData(Seq(env(art("s3", "alice", "2024-01-01T10:30:00"))))
      q.processAllAvailable()
      ms.addData(Seq(env(art("s4", "alice", "2024-01-01T10:30:05"))))
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .select("author", "n", "window_start", "window_end").collect()
      assert(rows.length == 1, s"exactly the closed session emitted, got ${rows.toSeq}")
      val r = rows.head
      assert(r.getString(0) == "alice" && r.getLong(1) == 2L)
      assert(r.getTimestamp(2) == Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(r.getTimestamp(3) == Timestamp.valueOf("2024-01-01 10:07:00"),
        "session end = last event + gap")
    } finally q.stop()
  }

  test("W5: mapGroupsWithState keeps running per-author totals across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val ms = MemoryStream[KinesisEnvelope]
    val stats = StreamOps.runningAuthorStats(
      Articles.enrich(Articles.parse(ms.toDF())))
    val q = stats.toDF().writeStream.format("memory").queryName("stats_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def artN(author: String, ts: String, words: Int): String = {
        val content = (1 to words).map(i => s"w$i").mkString(" ")
        s"""{"article_id":"$author-$ts","title":"t","author":"$author","publish_date":"$ts","content":"$content"}"""
      }
      ms.addData(Seq(
        env(artN("alice", "2024-01-01T10:00:00", 3)),
        env(artN("alice", "2024-01-01T10:00:10", 5)),
        env(artN("bob", "2024-01-01T10:00:20", 7)),
        env("{ malformed"))) // null author -> excluded from state
      q.processAllAvailable()
      ms.addData(Seq(env(artN("alice", "2024-01-01T10:01:00", 2))))
      q.processAllAvailable()
      // update-mode memory sink appends every emitted update; the LAST row
      // per author is the current state
      val latest = spark.table("stats_out").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(latest("alice") == ((3L, 10L)), "state carried across batches: 3 articles, 10 words")
      assert(latest("bob") == ((1L, 7L)))
      assert(!latest.contains(null))
    } finally q.stop()
  }

  test("S4/W5 at scale shape: pipeline runs on the RocksDB state store provider") {
    import spark.implicits._
    val envDir = tmpDir("rocks-env")
    val out = tmpDir("rocks-out")
    val ckpt = tmpDir("rocks-ckpt")
    val b = Seq(
      env(art("r1", "alice", "2024-01-01T10:00:00")),
      env(art("r2", "alice", "2024-01-01T10:00:30")),
      env(art("r3", "carol", "2024-01-01T10:30:00")))
    spark.createDataset(b).toDF().coalesce(1).write.mode("append").parquet(envDir)

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = graft.streaming.Pipelines.articlesToParquet(spark,
        graft.streaming.StreamSource.FileEnvelopeSource(envDir), out, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      val rows = spark.read.parquet(out).select("author").as[String].collect()
      assert(rows.nonEmpty && rows.forall(_ == "alice"),
        "alice windows finalized through RocksDB-backed state")

      // CHECKPOINT RECOVERY on the same provider: restart from the SAME
      // checkpoint, feed one later event — the recovered RocksDB state must
      // re-emit NOTHING already written (exactly-once across restart) and
      // finalize the carol windows that were open state at shutdown
      spark.createDataset(Seq(
          env(art("r4", "dave", "2024-01-01T11:30:00")))).toDF()
        .coalesce(1).write.mode("append").parquet(envDir)
      val q2 = graft.streaming.Pipelines.articlesToParquet(spark,
        graft.streaming.StreamSource.FileEnvelopeSource(envDir), out, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q2.awaitTermination()
      val after = spark.read.parquet(out).select("author").as[String].collect()
      assert(after.count(_ == "alice") == rows.length,
        "recovered state must not re-emit finalized alice windows")
      assert(after.count(_ == "carol") > 0,
        "the window open at shutdown must finalize after recovery")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static join enriches the stream via broadcast without shuffling the stream side") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val dim = Seq(("alice", "books"), ("bob", "sports")).toDF("author", "desk")
    val ms = MemoryStream[KinesisEnvelope]
    val enriched = StreamOps.enrichWithStatic(
      Articles.parse(ms.toDF()), dim, Seq("author"))
    assert(enriched.isStreaming)
    val q = enriched.select("article_id", "author", "desk")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(
        env(art("e1", "alice", "2024-01-01T10:00:00")),
        env(art("e2", "carol", "2024-01-01T10:00:01")))) // no dim row -> null desk
      q.processAllAvailable()
      val got = spark.table("enrich_out").collect()
        .map(r => r.getString(1) -> Option(r.getString(2))).toMap
      assert(got == Map("alice" -> Some("books"), "carol" -> None))
      val streamPlan = enriched.queryExecution.analyzed.toString()
      assert(streamPlan.contains("ResolvedHint") || enriched.queryExecution.optimizedPlan
        .toString().contains("broadcast"), "dimension side must carry the broadcast hint")
    } finally q.stop()
  }

  test("transformWithState: per-author quota emits only the first N articles (arbitrary-state v2, RocksDB)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[KinesisEnvelope]
    val limited = StreamOps.limitPerAuthor(Articles.parse(ms.toDF()), maxPerAuthor = 2)
    val q = limited.toDF("author", "article_id")
      .writeStream.format("memory").queryName("quota_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(
        env(art("q1", "alice", "2024-01-01T10:00:00")),
        env(art("q2", "alice", "2024-01-01T10:00:01")),
        env(art("q3", "bob", "2024-01-01T10:00:02"))))
      q.processAllAvailable()
      ms.addData(Seq(
        env(art("q4", "alice", "2024-01-01T10:00:03")), // over quota -> dropped
        env(art("q5", "bob", "2024-01-01T10:00:04"))))
      q.processAllAvailable()
      val got = spark.table("quota_out").select("article_id").as[String].collect().toSet
      assert(got == Set("q1", "q2", "q3", "q5"),
        s"quota 2/author: q4 dropped via state carried across batches, got $got")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream interval join pairs same-author articles within the event-time window, bounded state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val msA = MemoryStream[KinesisEnvelope]
    val msB = MemoryStream[KinesisEnvelope]
    def parsed(ms: MemoryStream[KinesisEnvelope]) =
      Articles.parse(ms.toDF()).select("article_id", "author", "publish_date")
    val joined = StreamOps.intervalJoin(
      parsed(msA), parsed(msB),
      key = "author", eventTime = "publish_date",
      maxDelay = "5 minutes", watermark = "10 seconds")
    assert(joined.isStreaming)
    val q = joined.select(col("article_id"), col("r_article_id"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      msA.addData(Seq(env(art("a1", "alice", "2024-01-01T10:00:00"))))
      msB.addData(Seq(
        env(art("b1", "alice", "2024-01-01T10:03:00")), // within 5 min -> pairs
        env(art("b2", "alice", "2024-01-01T10:20:00")), // outside window -> no pair
        env(art("b3", "bob", "2024-01-01T10:00:30")))) // different author
      q.processAllAvailable()
      // advance both watermarks so the joinable region closes and rows emit
      msA.addData(Seq(env(art("fa", "zz", "2024-01-01T11:00:00"))))
      msB.addData(Seq(env(art("fb", "zz2", "2024-01-01T11:00:00"))))
      q.processAllAvailable()
      val pairs = spark.table("ssj_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs.contains(("a1", "b1")), s"in-window same-author pair must emit, got $pairs")
      assert(!pairs.exists(_._2 == "b2"), "pair outside the interval must not emit")
      assert(!pairs.exists(p => p._1 == "a1" && p._2 == "b3"), "different author must not pair")
    } finally q.stop()
  }

  test("W4: observe metrics expose malformed-payload and null-event-time counts per batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val ms = MemoryStream[KinesisEnvelope]
    val parsed = StreamOps.withParseMetrics(Articles.parse(ms.toDF()))
    val q = parsed.writeStream.format("memory").queryName("metrics_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(
        env(art("ok1", "alice", "2024-01-01T10:00:00")),
        env("{ this is not json"),
        env(art("ok2", "bob", "not-a-date"))))
      q.processAllAvailable()
      val progress = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("parse_metrics"))).last
      assert(progress.getAs[Long]("n_rows") == 3L)
      assert(progress.getAs[Long]("n_null_event_time") == 2L, "malformed json + bad date")
      assert(progress.getAs[Long]("n_unparsed_payload") == 1L, "malformed json only")
    } finally q.stop()
  }

  test("ingest quality gate: language + quality filters drop per-row, observe splits the reasons") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col

    // good: english, 25 stopword-laced words; lang-drop: spanish markers;
    // quality-drop: english marker but 18-char mean word length + digit
    // noise (fails length, word-len and most of alpha)
    val good = ("the quick brown fox and the lazy dog of a house with " +
      "some more plain words in this line to cross twenty tokens")
    val es = "el perro de la casa que y en un con para los las del se"
    val tiny = "the aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa 99999999999999999999"
    val ms = MemoryStream[String]
    val gated = StreamOps.qualityGate(ms.toDF().toDF("text"), col("text"),
      langs = Seq("en"), minQuality = 0.5)
    val q = gated.writeStream.format("memory").queryName("quality_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(good, es, tiny))
      q.processAllAvailable()
      val out = spark.sql("SELECT text FROM quality_out").collect().map(_.getString(0))
      assert(out.toSeq == Seq(good), "only the english high-quality doc passes")
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("quality_gate"))).last
      assert(m.getAs[Long]("n_rows") == 3L)
      assert(m.getAs[Long]("n_lang_dropped") == 1L, "the spanish doc")
      assert(m.getAs[Long]("n_quality_dropped") == 1L, "the 3-token doc")
    } finally q.stop()
  }

  test("decontamGate drops eval-overlapping docs at ingest; clean docs pass; metrics count the drops") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // eval doc shares a verbatim 4-gram run with the contaminated doc only
    val evalDoc = "the quick brown fox jumps over the lazy dog tonight"
    val contaminated = "intro words then the quick brown fox jumps over the lazy dog tonight and more"
    val clean = "completely unrelated content about spark shuffle partitions and joins here"
    val evalSet = Seq(evalDoc).toDF("text")
    val ms = MemoryStream[String]
    val gated = StreamOps.decontamGate(ms.toDF().toDF("text"), col("text"),
      evalSet, col("text"), n = 4, minShared = 3)
    val q = gated.writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(contaminated, clean))
      q.processAllAvailable()
      val out = spark.sql("SELECT text FROM decontam_out").collect().map(_.getString(0))
      assert(out.toSeq == Seq(clean), s"only the clean doc passes, got ${out.toSeq}")
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("decontam_gate"))).last
      assert(m.getAs[Long]("n_rows") == 2L)
      assert(m.getAs[Long]("n_contaminated_dropped") == 1L)
    } finally q.stop()
  }

  test("source mixing is stream-safe: per-row hash-threshold keep on a stream == batch twin") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // mixBySource is a pure per-row predicate (no shuffle, no state), so it
    // applies unchanged to a stream — the batch-and-stream-testable contract
    val rates = Map("keepall" -> 1.0, "half" -> 0.5)
    val rows = (0 until 200).map(i => (i.toLong, if (i % 2 == 0) "keepall" else "half"))
    val ms = MemoryStream[(Long, String)]
    val gated = graft.ops.Sampling.mixBySource(
      ms.toDF().toDF("id", "source"), col("id"), col("source"), rates, defaultRate = 0.0)
    val q = gated.writeStream.format("memory").queryName("mix_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT id FROM mix_out").collect().map(_.getLong(0)).sorted
      val batch = graft.ops.Sampling.mixBySource(
        rows.toDF("id", "source"), col("id"), col("source"), rates, defaultRate = 0.0)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(streamed.sameElements(batch), "stream and batch must keep identical rows")
      assert(streamed.length > 50 && streamed.length < 200,
        s"the half-rate source must actually drop rows (kept ${streamed.length}/200)")
    } finally q.stop()
  }

  test("piiScrub: stream output == batch redactPii; clean rows pass through byte-identical") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val rows = Seq(
      (1L, "write to alice.smith+spam@corp.example.org today"),
      (2L, "server at 192.168.1.250 answered"),
      (3L, "call +4915123456789 or +1415555"),
      (4L, "no pii here, just words and 123 numbers"),
      (5L, "mixed: bob@x.io from 10.0.0.1 dial +12025550123"))
    val ms = MemoryStream[(Long, String)]
    val scrubbed = StreamOps.piiScrub(ms.toDF().toDF("id", "text"), "text")
    assert(scrubbed.isStreaming)
    val q = scrubbed.writeStream.format("memory").queryName("pii_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("pii_out").as[(Long, String)].collect().toMap
      val batch = rows.toDF("id", "text")
        .select(col("id"), graft.ops.Text.redactPii(col("text")).as("text"))
        .as[(Long, String)].collect().toMap
      assert(streamed == batch, "stream and batch must redact identically")
      assert(streamed(1L) == "write to <EMAIL> today")
      assert(streamed(2L) == "server at <IP> answered")
      assert(streamed(3L) == "call <PHONE> or <PHONE>")
      assert(streamed(4L) == rows(3)._2, "clean rows must pass through untouched")
      assert(streamed(5L) == "mixed: <EMAIL> from <IP> dial <PHONE>")
    } finally q.stop()
  }

  test("paraScrubGate: stored-table paragraphs cut at ingest; novel paragraphs survive; no false keeps") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val corpus = Seq(
      (1L, "known alpha paragraph\nshared footer text"),
      (2L, "shared footer text\nknown beta paragraph")
    ).toDF("id", "text")
    val tbl = graft.ops.ParaIndex.build(corpus, col("id"), col("text"))

    val rows = Seq(
      (10L, "shared footer text\ncompletely new prose"),
      (11L, "known alpha paragraph\nknown beta paragraph"), // all known -> emptied
      (12L, "only novel content here"))
    val ms = MemoryStream[(Long, String)]
    val gated = StreamOps.paraScrubGate(
      ms.toDF().toDF("id", "text"), "text", tbl.select(col("h")))
    assert(gated.isStreaming)
    val q = gated.writeStream.format("memory").queryName("parascrub_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(rows)
      q.processAllAvailable()
      val got = spark.table("parascrub_out").as[(Long, String)].collect().toMap
      assert(got(10L) == "completely new prose", "table hit cut, novel kept")
      assert(got(11L) == "", "an all-known document survives as an empty row")
      assert(got(12L) == "only novel content here")
      // batch twin: the same Bloom-filter predicate applied statically
      val batch = StreamOps.paraScrubGate(
        rows.toDF("id", "text"), "text", tbl.select(col("h")))
        .as[(Long, String)].collect().toMap
      assert(got == batch, "stream and batch gates must agree")
    } finally q.stop()
  }

  test("nearDupGate: copies of indexed docs band-collide and drop; novel and sub-shingle docs pass") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpusDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val otherDoc = "one two three four five six seven eight nine ten eleven twelve"
    val corpus = Seq((1L, corpusDoc), (2L, otherDoc)).toDF("doc_id", "text")
    val bands = graft.ops.MinHashIndex.bandTable(
      graft.ops.MinHashIndex.build(corpus, col("doc_id"), col("text"), 3, 16), 4)
    val copy = corpusDoc // identical shingle set -> every band collides
    val novel = "spark shuffle partitions broadcast joins watermark state " +
      "checkpoint trigger output mode append parquet"
    val tiny = "just two" // below shingle width: null signatures, always passes
    val ms = MemoryStream[String]
    val gated = StreamOps.nearDupGate(ms.toDF().toDF("text"), "text", bands,
      n = 3, numHashes = 16, rowsPerBand = 4)
    assert(gated.isStreaming)
    val q = gated.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(copy, novel, tiny))
      q.processAllAvailable()
      val out = spark.sql("SELECT text FROM neardup_out").collect()
        .map(_.getString(0)).toSet
      assert(out == Set(novel, tiny),
        s"the exact copy must drop, novel and sub-shingle docs pass; got $out")
      val m = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("neardup_gate"))).last
      assert(m.getAs[Long]("n_rows") == 3L)
      assert(m.getAs[Long]("n_neardup_dropped") == 1L)
    } finally q.stop()
  }

  test("curationIngest composes all gates: each fixture drops at its intended stage, survivors carry repaired+redacted text") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the indexed corpus doc carries a non-ASCII char so a mojibake'd copy
    // only matches it after repair (all escapes)
    val indexed = "the quick brown fox and the lazy dog of a caf\u00e9 house " +
      "with some more plain words in this line to cross twenty tokens"
    val corpus = Seq((1L, indexed)).toDF("doc_id", "text")
    val bands = graft.ops.MinHashIndex.bandTable(
      graft.ops.MinHashIndex.build(corpus, col("doc_id"), col("text"), 3, 16), 4)
    val evalDoc = "the quick brown fox jumps over the lazy dog tonight"
    val paraTbl = graft.ops.ParaIndex.build(
      Seq((9L, "shared footer text")).toDF("doc_id", "text"),
      col("doc_id"), col("text")).select(col("h"))

    val mojCopy = indexed.replace("caf\u00e9", "caf\u00c3\u00a9")
    val mojNovel = "the spark engine and the shuffle of a caf\u00c3\u00a9 queue " +
      "with wholly different tokens here contact a.b@example.org for more info today"
    val mojNovelFixed = "the spark engine and the shuffle of a caf\u00e9 queue " +
      "with wholly different tokens here contact <EMAIL> for more info today"
    val es = "el perro de la casa que y en un con para los las del se"
    val junk = "the aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa 99999999999999999999"
    val contaminated = "intro words then the quick brown fox jumps over the " +
      "lazy dog tonight and more of the plain filler words following here"
    val boiled = "shared footer text\nthe fresh and unique prose of this " +
      "line runs long enough to pass the quality gate with plain words"
    val clean = "the completely novel and unrelated words of a clean " +
      "document about spark shuffle partitions and joins pass through here"

    val ms = MemoryStream[String]
    val gated = StreamOps.curationIngest(ms.toDF().toDF("text"), "text",
      langs = Seq("en"), minQuality = 0.5,
      evalSet = Some(Seq(evalDoc).toDF("text")),
      knownParaHashes = Some(paraTbl),
      neardupBands = Some(bands))
    val q = gated.writeStream.format("memory").queryName("curation_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(Seq(mojCopy, mojNovel, es, junk, contaminated, boiled, clean))
      q.processAllAvailable()
      val out = spark.sql("SELECT text FROM curation_out").collect()
        .map(_.getString(0)).toSet
      val boiledKept = boiled.split("\n")(1)
      assert(out == Set(mojNovelFixed, boiledKept, clean),
        s"survivors must be the repaired novel doc, the de-boilerplated doc and the clean doc; got $out")
      def metric(name: String) = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get(name))).last
      assert(metric("quality_gate").getAs[Long]("n_lang_dropped") == 1L, "the spanish doc")
      assert(metric("quality_gate").getAs[Long]("n_quality_dropped") == 1L, "the junk doc")
      assert(metric("decontam_gate").getAs[Long]("n_contaminated_dropped") == 1L)
      assert(metric("para_scrub").getAs[Long]("n_paras_cut") == 1L)
      assert(metric("neardup_gate").getAs[Long]("n_neardup_dropped") == 1L,
        "the mojibake'd copy must collide with the index only AFTER repair")
      assert(metric("pii_scrub").getAs[Long]("n_email") == 1L)
    } finally q.stop()
  }

  test("streamed ANN ingest: per-micro-batch frozen-model encode through snapshotIngest == the batch twin") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.{AnnIndex, Similarity, SnapTables}

    val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
    val base = emb.where(pmod(col("vec_id"), lit(7)) =!= 0)
    val coarse = Similarity.materializeCentroids(Similarity.centroidArrays(
      Similarity.labelCentroidsFlat(base, col("embedding"), col("label"))))
    val built = AnnIndex.build(base, col("vec_id"), col("embedding"),
      coarse, dims = 64, m = 8, k = 16, iters = 1)
    val idxDir = tmpDir("ann-stream-idx")
    AnnIndex.write(built, idxDir)
    val idx = AnnIndex.read(spark, idxDir) // the FROZEN stored model
    val frozen = idx.copy(codes = null)
    val codesPath = tmpDir("ann-stream-codes")
    val ckpt = tmpDir("ann-stream-ckpt")
    SnapTables.publishInitial(spark, codesPath, "cluster", idx.codes)

    val delta = emb.where(pmod(col("vec_id"), lit(7)) === 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(delta.length >= 4, "need enough delta vectors for two batches")
    val (b1, b2) = delta.splitAt(delta.length / 2)

    val ms = MemoryStream[(Long, Seq[Float])]
    val stream = ms.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def drain(): Option[Int] = {
      graft.streaming.Pipelines.snapshotIngest(stream, codesPath, "cluster",
        ckpt, xform = b => AnnIndex.encode(b, col("vec_id"), col("embedding"), frozen))
        .awaitTermination()
      SnapTables.currentGeneration(spark, codesPath)
    }
    ms.addData(b1.toSeq)
    assert(drain().contains(1), "the first micro-batch publishes one generation")
    ms.addData(b2.toSeq)
    assert(drain().contains(2), "the second micro-batch publishes one more")

    // with multiplicity: a replayed or doubled batch must show as a repeat
    def codeRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, String)] =
      df.select(col("vid").cast("long"), col("cluster").cast("int"),
          concat_ws("-", col("codes")).as("c"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    // the streaming transport must equal the batch twin row for row: the
    // frozen model makes encode per-row deterministic, whatever the batching
    val batchTwin = AnnIndex.encode(
      emb.where(pmod(col("vec_id"), lit(7)) === 0),
      col("vec_id"), col("embedding"), idx)
    val expect = (codeRows(idx.codes) ++ codeRows(batchTwin)).sorted
    assert(codeRows(SnapTables.resolve(spark, codesPath, "cluster")) == expect,
      "served codes must equal the base codes plus the frozen-model batch encode")

    // restart on the same checkpoint with no new data: nothing publishes
    assert(drain().contains(2), "a drain with no new data must publish no generation")
    assert(codeRows(SnapTables.resolve(spark, codesPath, "cluster")) == expect)
  }
}
