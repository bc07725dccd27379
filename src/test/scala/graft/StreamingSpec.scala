package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

import graft.ops.{Articles, DataGen}
import graft.streaming.{KinesisEnvelope, Pipelines, StreamSource}

/** The engine's streaming execution path, end to end — the semantics the
  * reference exercises in production (`/root/reference/app/process_articles.py:53-91`)
  * run here as real StreamingQueries: watermark (W1), append-mode finalization
  * (W3), late-data drop (W4), state-store recovery across restarts (W5),
  * Trigger.AvailableNow lifecycle (W6), parquet sink + checkpoint exactly-once
  * (S2/S4), and the MemoryStream / file-dir / rate StreamSource impls (S1).
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Producer-shaped article JSON (`populate_stream.py:73-80`). */
  private def artJson(author: String, publishDate: String, words: Int): String = {
    val content = (1 to words).map(i => s"w$i").mkString(" ")
    s"""{"article_id":"a-$author-$publishDate","title":"t one two","author":"$author","publish_date":"$publishDate","content":"$content"}"""
  }

  private var seq = 0L
  private def env(author: String, publishDate: String, words: Int): KinesisEnvelope = {
    seq += 1
    envelopeOf(artJson(author, publishDate, words), seq, ts("2024-01-01 00:00:00"))
  }

  /** The reference pipeline's batch twin on the same envelope rows — what the
    * streaming run must reproduce exactly (same watermark model: finalized =
    * window_end <= max(event time) - 10s).
    */
  private def batchTwin(rows: Seq[KinesisEnvelope]): Set[(Timestamp, Timestamp, String, Double)] = {
    import spark.implicits._
    val df = spark.createDataset(rows).toDF()
    collectWindows(Articles.pipeline(df))
  }

  private def collectWindows(df: DataFrame): Set[(Timestamp, Timestamp, String, Double)] =
    windowRows(df).toSet

  /** The window rows with their multiplicity, so a re-emitted row shows. */
  private def windowRows(df: DataFrame): Seq[(Timestamp, Timestamp, String, Double)] =
    df.select("start", "end", "author", "average_word_count")
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))

  private def readOut(path: String): Set[(Timestamp, Timestamp, String, Double)] =
    readOutRows(path).toSet

  private def readOutRows(path: String): Seq[(Timestamp, Timestamp, String, Double)] =
    windowRows(spark.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("start", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("end", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("author", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("average_word_count", org.apache.spark.sql.types.DoubleType)
      ))).parquet(path))

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, prev)
  }

  /** Generated articles as one-minute slices, one parquet file per slice, so
    * a source capped at one file per trigger reads one minute per batch.
    */
  private def writeSlices(dir: String, slices: Range): Unit =
    slices.foreach { i =>
      DataGen.envelopeFor(spark.range(i * 200L, (i + 1) * 200L).toDF("id"),
          startEpochSeconds = 1704067200L + i * 60L, spreadSeconds = 60L)
        .coalesce(1).write.mode("append").parquet(dir)
    }

  /** Per batch id, the data files the parquet sink's `_spark_metadata` log
    * lists and the rows they hold.
    */
  private def sinkLog(out: String): Map[Long, (Int, Long)] = {
    val logs = new java.io.File(out, "_spark_metadata").listFiles().toSeq
      .filterNot(f => f.getName.startsWith("."))
    assert(logs.forall(_.getName.forall(_.isDigit)),
      s"a compacted sink log hides per-batch files: ${logs.map(_.getName)}")
    val pathField = "\"path\":\"([^\"]+)\"".r
    logs.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val paths = try src.getLines().drop(1).toList
        .flatMap(l => pathField.findFirstMatchIn(l).map(_.group(1)))
      finally src.close()
      val rows = paths.map(p => spark.read.parquet(p).count()).sum
      f.getName.toLong -> ((paths.size, rows))
    }.toMap
  }

  /** The physical plans of the micro-batches of the query `start` starts,
    * by batch id, read from the SQL execution events.
    */
  private def runWithBatchPlans(start: => StreamingQuery)
      : (StreamingQuery, Map[Long, Seq[SparkPlanInfo]]) = {
    import scala.jdk.CollectionConverters._
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val q = withListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.add(s)
        case _ =>
      }
    }) { val q = start; q.awaitTermination(); q }
    // a micro-batch runs under the job description "… runId = <id> … batch = <n>"
    val batchOf = "\\bbatch = (\\d+)".r
    val plans = starts.asScala.toSeq.flatMap { e =>
      Option(e.description).filter(_.contains(s"runId = ${q.runId}"))
        .flatMap(batchOf.findFirstMatchIn(_))
        .map(m => m.group(1).toLong -> e.sparkPlanInfo)
    }
    (q, plans.groupMap(_._1)(_._2))
  }

  private def planNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(planNodes)

  // -------------------------------------------------------------------------

  test("W1/W3/W4: watermark drops fully-late rows; append emits finalized windows once (MemoryStream)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val ms = MemoryStream[KinesisEnvelope]
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    val q = Pipelines.toParquet(Articles.pipeline(ms.toDF()), out, ckpt,
      Trigger.ProcessingTime(0))

    // batch 1: three alice articles inside 10:00-10:02.
    val b1 = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("alice", "2024-01-01T10:00:30", 5),
      env("alice", "2024-01-01T10:02:00", 7))
    ms.addData(b1)
    q.processAllAvailable()

    // batch 2: a fully-late bob row (all its windows end 09:51-09:55, far
    // behind the watermark 10:01:50) that MUST be dropped, plus a flush row.
    val late = env("bob", "2024-01-01T09:50:00", 100)
    val flush1 = env("carol", "2024-01-01T10:30:00", 1)
    ms.addData(Seq(late, flush1))
    q.processAllAvailable()

    // batch 3: advance the watermark past every alice window end.
    val flush2 = env("carol", "2024-01-01T10:30:05", 1)
    ms.addData(Seq(flush2))
    q.processAllAvailable()
    q.stop()

    val got = readOut(out)
    val expected = batchTwin(b1 ++ Seq(flush1, flush2)) // late row excluded
    assert(got == expected)
    assert(!got.exists(_._3 == "bob"), "fully-late row must be dropped (W4)")
    assert(got.exists(_._3 == "alice"), "finalized alice windows must be emitted")
    assert(!got.exists(_._3 == "carol"), "open carol windows must NOT be emitted yet (W3)")
  }

  test("W6/S2/S4: Trigger.AvailableNow file source == batch twin; restart on same checkpoint re-emits nothing") {
    import spark.implicits._
    val envDir = tmpDir("stream-env")
    val out = tmpDir("stream-out2")
    val ckpt = tmpDir("stream-ckpt2")

    val b1 = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("alice", "2024-01-01T10:00:30", 5),
      env("dave", "2024-01-01T10:02:00", 7),
      env("carol", "2024-01-01T10:30:00", 2)) // flush: finalizes the 10:0x windows
    spark.createDataset(b1).toDF().coalesce(1).write.mode("append").parquet(envDir)

    def runOnce(): Unit = {
      val q = Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(envDir), out, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }

    runOnce()
    val afterRun1 = readOut(out)
    assert(afterRun1 == batchTwin(b1),
      "AvailableNow drain must equal the batch twin (watermark = max - 10s)")
    assert(afterRun1.nonEmpty)

    // Restart on the same checkpoint with no new data: exactly-once means the
    // sink's commit log prevents any re-emission.
    runOnce()
    assert(readOut(out) == afterRun1, "restart with no new data must append nothing (S4)")

    // New file arrives; restart recovers windowed state from the checkpoint
    // (W5) and finalizes carol's 10:30 windows exactly once.
    val b2 = Seq(env("erin", "2024-01-01T10:40:30", 4))
    spark.createDataset(b2).toDF().coalesce(1).write.mode("append").parquet(envDir)
    runOnce()
    assert(readOut(out) == batchTwin(b1 ++ b2),
      "state recovered across restart; newly-finalized windows appended once")
  }

  test("W7: starting-position semantics — fresh checkpoint replays the full retained backlog (TRIM_HORIZON twin), resumed checkpoint only the new data") {
    import spark.implicits._
    val envDir = tmpDir("w7-env")
    val ckpt1 = tmpDir("w7-ckpt1")

    // "retained stream history": two article batches already in the store
    // before any consumer exists
    val history = Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("dave", "2024-01-01T10:02:00", 7),
      env("carol", "2024-01-01T10:30:00", 2))
    spark.createDataset(history).toDF().coalesce(1).write.mode("append").parquet(envDir)

    // the parquet sink's metadata log binds a checkpoint to ONE output dir,
    // so a resume must reuse both
    def drain(out: String, ckpt: String): Set[(Timestamp, Timestamp, String, Double)] = {
      val q = Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(envDir), out, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      readOut(out)
    }

    // TRIM_HORIZON: a consumer with NO prior checkpoint starts from the
    // earliest retained record — the pre-existing backlog fully contributes
    val out1 = tmpDir("w7-out1")
    val fresh = drain(out1, ckpt1)
    assert(fresh == batchTwin(history) && fresh.nonEmpty,
      "fresh checkpoint must consume the entire retained backlog")

    // resume-from-position: the same checkpoint skips everything already
    // consumed — only windows finalized by newly-arrived records are added
    val more = Seq(env("erin", "2024-01-01T10:40:30", 4))
    spark.createDataset(more).toDF().coalesce(1).write.mode("append").parquet(envDir)
    assert(drain(out1, ckpt1) == batchTwin(history ++ more),
      "resumed checkpoint appends only the newly-finalized windows")

    // a SECOND fresh consumer created after the new data still replays the
    // whole retained stream from the horizon
    assert(drain(tmpDir("w7-out2"), tmpDir("w7-ckpt2")) == batchTwin(history ++ more),
      "a later fresh consumer replays the full retained history")
  }

  test("S2/S4: the flagship sink writes one file per finalizing trigger; the N state partitions stay below a CoalesceExec(1)") {
    withShufflePartitions(8) {
      val envDir = tmpDir("one-file-env")
      val out = tmpDir("one-file-out")
      writeSlices(envDir, 0 until 5)

      val (q, plans) = runWithBatchPlans(Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(envDir, maxFilesPerTrigger = Some(1)),
        out, s"$out-ckpt", Trigger.AvailableNow()))
      assert(readOutRows(out).sorted ==
        windowRows(Articles.pipeline(
          spark.read.schema(Articles.envelopeSchema).parquet(envDir))).sorted,
        "the sink must hold the batch twin's rows, each once")

      val log = sinkLog(out)
      val emitting = log.filter(_._2._2 > 0)
      assert(emitting.size >= 3, s"too few batches finalized windows to tell: $log")
      assert(emitting.values.forall(_._1 == 1),
        s"each batch that emits rows must write one file (batch -> (files, rows)): $log")

      val data = q.recentProgress.filter(_.numInputRows > 0)
      assert(data.length == 5, "one data batch per one-minute slice")
      data.foreach { p =>
        assert(p.stateOperators.map(_.numStateStoreInstances).toSeq == Seq(8),
          s"batch ${p.batchId} must keep the 8 state partitions")
        val stateful = plans.getOrElse(p.batchId, Nil)
          .filter(pl => planNodes(pl).exists(_.nodeName == "StateStoreSave"))
        assert(stateful.nonEmpty, s"batch ${p.batchId}: no stateful plan among ${plans.keys}")
        stateful.foreach { plan =>
          val coalesce = planNodes(plan).filter(_.nodeName == "Coalesce")
          assert(coalesce.map(_.simpleString) == Seq("Coalesce 1"), s"batch ${p.batchId}")
          val save = planNodes(coalesce.head).filter(_.nodeName == "StateStoreSave")
          assert(save.size == 1 && planNodes(plan).count(_.nodeName == "StateStoreSave") == 1,
            "the state operator must run under the coalesce")
          val exchanges = (n: SparkPlanInfo) => planNodes(n).filter(_.nodeName == "Exchange")
          assert(exchanges(coalesce.head) == exchanges(save.head),
            "no shuffle may sit between the coalesce and the state operator")
          assert(exchanges(save.head).exists(e =>
              e.simpleString.contains("hashpartitioning") && e.simpleString.contains(", 8)")),
            "the stateful Exchange into 8 partitions must stay below the state operator")
        }
      }
    }
  }

  test("S4/W5: a checkpoint written by the stock parquet sink resumes through articlesToParquet and re-emits nothing") {
    val envDir = tmpDir("resume-env")
    val out = tmpDir("resume-out")
    val ckpt = tmpDir("resume-ckpt")
    writeSlices(envDir, 0 until 4)
    val source = StreamSource.FileEnvelopeSource(envDir, maxFilesPerTrigger = Some(1))
    withShufflePartitions(8) {
      Pipelines.toParquet(Articles.pipeline(source.load(spark)), out, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    }
    val before = readOutRows(out)
    val beforeLog = sinkLog(out)
    assert(before.nonEmpty && beforeLog.values.exists(_._1 > 1),
      s"the stock sink writes one file per state partition: $beforeLog")

    // the later slices finalize the windows that were open at shutdown; the
    // session now runs another partition count, and the checkpoint's wins
    writeSlices(envDir, 4 until 6)
    val q = Pipelines.articlesToParquet(spark, source, out, ckpt, Trigger.AvailableNow())
    q.awaitTermination()

    val after = readOutRows(out)
    assert(after.distinct.size == after.size, "a finalized window was emitted twice")
    assert(after.toSet == windowRows(Articles.pipeline(
          spark.read.schema(Articles.envelopeSchema).parquet(envDir))).toSet)
    assert(before.forall(after.contains) && after.size > before.size,
      "the windows open at shutdown must finalize after the resume")
    val resumed = sinkLog(out) -- beforeLog.keys
    assert(resumed.values.exists(_._2 > 0) && resumed.values.forall(_._1 <= 1),
      s"the resumed batches write at most one file each: $resumed")
    val data = q.recentProgress.filter(_.numInputRows > 0)
    assert(data.nonEmpty && data.forall(_.stateOperators.map(_.numStateStoreInstances).toSeq == Seq(8)),
      "the resumed query keeps the checkpoint's 8 state partitions")
  }

  test("S1: rate source synthesizes parseable producer-shaped articles") {
    val src = StreamSource.RateEnvelopeSource(rowsPerSecond = 500)
    val parsed = Articles.enrich(Articles.parse(src.load(spark)))
    assert(parsed.isStreaming)
    val q = parsed.writeStream.format("memory").queryName("rate_smoke")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("rate_smoke")
    assert(rows.count() >= 1)
    val r = rows.selectExpr("min(word_count)", "count(distinct author)").head()
    assert(r.getInt(0) >= 1, "content tokenized to >=1 words")
    assert(r.getLong(1) >= 1L)
  }

  test("soak: continuous processing-time trigger — >=3 real micro-batches, cross-batch late data, per-batch observe metrics") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._

    // The reference runs the pipeline on the DEFAULT processing-time trigger
    // under `spark.streams.awaitAnyTermination()` (`process_articles.py:85-93`)
    // — here the trigger fires on its own clock (100 ms), data arrives
    // asynchronously across batch boundaries, and each micro-batch's observe
    // metrics are read from the listener like a production monitor would.
    val ms = MemoryStream[KinesisEnvelope]
    val out = tmpDir("soak-out")
    val ckpt = tmpDir("soak-ckpt")
    val observed = Articles.avgWordCountByAuthor(
      Articles.enrich(graft.streaming.StreamOps.withParseMetrics(
        Articles.parse(ms.toDF()))))

    final case class BatchObs(batchId: Long, inputRows: Long,
        nRows: Long, nNullTime: Long, nUnparsed: Long)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchObs]()
    @volatile var qid: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(event: QueryStartedEvent): Unit = ()
      override def onQueryProgress(event: QueryProgressEvent): Unit = {
        val p = event.progress
        if (p.id == qid) {
          val om = p.observedMetrics.get("parse_metrics")
          batches.add(BatchObs(p.batchId, p.numInputRows,
            if (om != null) om.getLong(0) else 0L,
            if (om != null) om.getLong(1) else 0L,
            if (om != null) om.getLong(2) else 0L))
        }
      }
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.resetTerminated()
    spark.streams.addListener(listener)
    val q = Pipelines.toParquet(observed, out, ckpt,
      Trigger.ProcessingTime("100 milliseconds"))
    qid = q.id
    try {
      def totalInput: Long = batches.asScala.map(_.inputRows).sum
      def waitUntil(cond: => Boolean, what: String, timeoutMs: Long = 60000): Unit = {
        val t0 = System.currentTimeMillis()
        while (!cond) {
          assert(q.exception.isEmpty, s"query failed: ${q.exception}")
          assert(System.currentTimeMillis() - t0 < timeoutMs, s"timed out waiting for $what")
          // the reference's blocking-loop shape: awaitAnyTermination with a
          // bounded wait instead of a bare sleep
          spark.streams.awaitAnyTermination(100)
        }
      }

      // batch 1: alice activity inside 10:00-10:02
      val b1 = Seq(
        env("alice", "2024-01-01T10:00:00", 3),
        env("alice", "2024-01-01T10:00:30", 5),
        env("alice", "2024-01-01T10:02:00", 7))
      ms.addData(b1)
      waitUntil(totalInput >= 3, "micro-batch 1 consumed")

      // batch 2: watermark-advancing flush + a malformed payload (visible
      // only in the parse metrics, never in the sink)
      seq += 1
      val malformed = envelopeOf("{not json", seq, ts("2024-01-01 00:00:00"))
      val flush1 = env("carol", "2024-01-01T10:30:00", 1)
      ms.addData(Seq(flush1, malformed))
      waitUntil(totalInput >= 5, "micro-batch 2 consumed")

      // batch 3: bob arrives AFTER the watermark left him behind (every bob
      // window ends by 10:10 << 10:29:50) — the cross-batch late-data drop —
      // plus a second flush that finalizes carol's 10:30 windows.
      val lateBob = env("bob", "2024-01-01T10:05:00", 50)
      val flush2 = env("carol", "2024-01-01T10:40:30", 1)
      ms.addData(Seq(lateBob, flush2))
      waitUntil(totalInput >= 7, "micro-batch 3 consumed")

      // the no-data batch after the last watermark advance finalizes carol's
      // 10:30 windows — wait for the sink to converge to the batch twin
      val expected = batchTwin(b1 ++ Seq(flush1, flush2)) // late + malformed excluded
      waitUntil(readOut(out) == expected, "finalized windows match the batch twin")

      val obs = batches.asScala.toVector
      assert(obs.count(_.inputRows > 0) >= 3, s"expected >=3 real micro-batches, got $obs")
      assert(obs.map(_.nRows).sum == 7, "observe metrics count every parsed input row")
      assert(obs.map(_.nUnparsed).sum == 1, "malformed payload visible in per-batch metrics")
      assert(obs.map(_.nNullTime).sum == 1, "null event time visible in per-batch metrics")
      assert(!readOut(out).exists(_._3 == "bob"), "cross-batch late row dropped (W4)")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming session windows: gap-merged sessions finalize via watermark (append)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[KinesisEnvelope]
    val out = tmpDir("sess-out")
    val ckpt = tmpDir("sess-ckpt")
    val sessions = graft.ops.Windowing.sessionAgg(
      Articles.enrich(Articles.parse(ms.toDF())),
      "publish_date", gap = "1 minute", watermarkDelay = Some("10 seconds"),
      keys = Seq(org.apache.spark.sql.functions.col("author")),
      aggs = Seq(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("word_count")).cast("long").as("w")))
      .select("window_start", "window_end", "author", "n", "w")
    val q = Pipelines.toParquet(sessions, out, ckpt, Trigger.ProcessingTime(0))

    // alice: two events 30s apart (one merged session), then one 4.5 min
    // later (gap > 1 min -> a second session)
    ms.addData(Seq(
      env("alice", "2024-01-01T10:00:00", 3),
      env("alice", "2024-01-01T10:00:30", 5),
      env("alice", "2024-01-01T10:05:00", 7)))
    q.processAllAvailable()
    // watermark flush: zed far in the future finalizes both alice sessions;
    // zed's own session stays open and must NOT be emitted
    ms.addData(Seq(env("zed", "2024-01-01T11:00:00", 1)))
    q.processAllAvailable()
    ms.addData(Seq(env("zed", "2024-01-01T11:00:05", 1)))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    val expected = Set(
      // merged session: start = first event, end = last event + gap
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:30"), "alice", 2L, 8L),
      (ts("2024-01-01 10:05:00"), ts("2024-01-01 10:06:00"), "alice", 1L, 7L))
    assert(got == expected,
      s"finalized gap-merged sessions only (open zed session withheld): $got")
  }

  test("streaming plan carries EventTimeWatermark + stateful aggregation (W1/W5)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[KinesisEnvelope]
    val df = Articles.pipeline(ms.toDF())
    assert(df.isStreaming)
    val analyzed = df.queryExecution.analyzed.toString()
    assert(analyzed.contains("EventTimeWatermark"), "watermark must be declared on the streaming path")
    assert(analyzed.contains("Aggregate"), "windowed aggregation present")
  }
}
