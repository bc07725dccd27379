package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.ops.Articles
import graft.streaming.{Pipelines, StreamSource}

/** The paper's job: `Pipelines.articlesToParquet` over a file envelope
  * source read one file per trigger with `Trigger.AvailableNow`, one
  * closed-loop client (the next trigger starts when the last one commits).
  *
  * The backlog is one parquet file per event-time minute ([[Staging]]),
  * with modification times in event-time order so the source consumes the
  * slices in order. The planted late rows fall only in windows that are
  * already final when they arrive, so the watermark must drop them whole.
  */
final class ArticleStream(spark: SparkSession, o: Opts, r: Report, tracer: Tracer)
    extends Workload {
  import ArticleStream._

  private val staging = new Staging(spark, o.seed, Slices, ArticlesPerSlice, LateShare)
  private var setups = 0
  private var src = ""
  private var stagedBytes = 0L
  private var runs = 0
  private lazy val want = collectWindows(Articles.pipeline(
    spark.read.schema(Articles.envelopeSchema).parquet(src).where(!Staging.isLate)))

  /** Stage the backlog into fresh directories. */
  def stage(): Unit = {
    setups += 1
    src = s"${o.work}/source-$setups"
    stagedBytes = 0L
    val files = staging.write(s"${o.work}/stage-$setups", staging.envelopes)
    new File(src).mkdirs()
    val firstMs = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (f, i) =>
      val to = new File(src, f"slice-$i%05d.parquet")
      require(f.renameTo(to), s"could not move slice $i")
      to.setLastModified(firstMs + i * 1000L)
      stagedBytes += to.length()
    }
  }

  /** Whole drains of the backlog on sinks and checkpoints of their own, so
    * JIT, codegen and the state store provider are warm before timing.
    */
  def warmUp(): Unit = (1 to WarmRounds).foreach(k => drain(src, s"warm-$k"))

  private final class Progress(id: java.util.UUID) extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == id) events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Drain `source` to a fresh sink and checkpoint; returns the wall time,
    * the per-trigger progress reports and the sink directory.
    */
  private def drain(source: String, tag: String): (Double, Seq[StreamingQueryProgress], String) = {
    runs += 1
    val out = s"${o.work}/out-$tag-$runs"
    val t0 = System.nanoTime()
    val q = tracer.span("pipelines.articlesToParquet") {
      Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(source, maxFilesPerTrigger = Some(1)), out, s"$out-ckpt")
    }
    val listener = new Progress(q.id)
    spark.streams.addListener(listener)
    try q.awaitTermination()
    finally spark.streams.removeListener(listener)
    val wall = (System.nanoTime() - t0) / 1e9
    // reports that came before the listener was attached are still in
    // recentProgress (it keeps the last 100)
    val seen = listener.events.asScala.map(_.batchId).toSet
    val progress = (q.recentProgress.filterNot(p => seen(p.batchId)) ++ listener.events.asScala)
      .sortBy(_.batchId).toSeq
    (wall, progress, out)
  }

  /** Drain the whole backlog on a fresh sink and checkpoint, round after
    * round, while half a round more of the mean length still fits in
    * `seconds`, so the drains add up to the nearest whole round; then
    * check every round.
    */
  def measure(traced: Boolean, seconds: Double): Measured = {
    val startMs = System.currentTimeMillis()
    val rounds = collection.mutable.ArrayBuffer.empty[(Double, Seq[StreamingQueryProgress], String)]
    def wall = rounds.map(_._1).sum
    val cpu0 = Proc.cpuNs()
    do rounds += tracer.span("drain")(drain(src, if (traced) "traced" else "run"))
    while (wall + wall / rounds.size / 2 <= seconds)
    val cpuS = (Proc.cpuNs() - cpu0) / 1e9
    val endMs = System.currentTimeMillis()
    val data = rounds.flatMap(_._2.filter(_.numInputRows > 0)).toSeq
    r.attempted += data.size
    val trig = data.map(p => p.durationMs.get("triggerExecution").doubleValue())
    System.err.println(s"[perfbench] trigger ms: ${trig.map(_.toLong).mkString(" ")}")
    val m = Measured(wall, startMs, endMs, rounds.size)
    m.put("rows_per_cpu_s", data.map(_.numInputRows).sum / cpuS, "rows/s")
    m.put("rows_per_s", data.map(_.numInputRows).sum / wall, "rows/s")
    m.put("batch_ms_p50", Stats.median(trig), "ms")
    m.put("batch_ms_p90", Stats.pct(trig, 90), "ms")
    val first = rounds.head._3
    m.put("stored_bytes_ratio",
      (Stats.bytesUnder(first) + Stats.bytesUnder(s"$first-ckpt")).toDouble / stagedBytes, "ratio")
    rounds.foreach { case (_, progress, out) => check(progress, out) }
    if (traced) traceTriggers(rounds.toSeq)
    m
  }

  private def collectWindows(df: DataFrame): IndexedSeq[(Long, Long, String, Double)] =
    df.collect().toIndexedSeq
      .map(row => (row.getTimestamp(0).getTime, row.getTimestamp(1).getTime, row.getString(2), row.getDouble(3)))
      .sortBy(t => (t._1, t._3))

  /** Every slice was one trigger; the finalized windows equal the batch twin
    * over the on-time rows; the watermark dropped the planted late rows and
    * nothing else.
    */
  private def check(progress: Seq[StreamingQueryProgress], out: String): Unit = {
    val data = progress.filter(_.numInputRows > 0)
    val rows = data.map(_.numInputRows).sum
    r.check(data.size == staging.slices, s"drained ${data.size} data triggers for ${staging.slices} slices")
    r.check(rows == staging.onTimeRows + lateRows.size,
      s"drained $rows rows, staged ${staging.onTimeRows + lateRows.size}")
    val got = collectWindows(spark.read.parquet(out))
    val shown = if (o.corrupt.contains("drop-window-row")) got.drop(1) else got
    val same = shown.length == want.length && shown.zip(want).forall { case (a, b) =>
      a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && math.abs(a._4 - b._4) <= 1e-9
    }
    r.check(same, s"sink holds ${shown.length} windows, the batch twin ${want.length}, or they differ")
    val dropped = droppedLate(progress)
    r.check(dropped == lateGroups,
      s"watermark dropped $dropped (window, author) groups, the planted late rows make $lateGroups")
  }

  private def droppedLate(progress: Seq[StreamingQueryProgress]): Long =
    progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  /** (slice, minute, author) of each planted late row. */
  private lazy val lateRows: Seq[(Int, Long, String)] = staging.late
    .select(col("slice"), unix_seconds(col("approximateArrivalTimestamp")) / 60,
      get_json_object(col("data").cast("string"), "$.author"))
    .collect().toSeq.map(row => (row.getInt(0), row.getDouble(1).toLong, row.getString(2)))

  /** The state operator counts the rows it drops after the partial
    * aggregate: one per (trigger, window, author) the late rows fall in.
    */
  private lazy val lateGroups: Long = lateRows.flatMap { case (slice, m, author) =>
    (0 until WindowMinutes).map(k => (slice, m - k, author))
  }.distinct.size.toLong

  /** Trigger phases from the progress reports, as child spans of each
    * trigger under its round's drain, laid out in the order the engine runs
    * them. The p50s are over the data triggers of every round; the counts
    * are those of the first round.
    */
  private def traceTriggers(rounds: Seq[(Double, Seq[StreamingQueryProgress], String)]): Unit = {
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val drainIds = tracer.all.filter(_.name == "drain").map(_.id).sorted.takeRight(rounds.size)
    for (((_, progress, _), drainId) <- rounds.zip(drainIds); p <- progress) {
      val start = java.time.Instant.parse(p.timestamp)
      val t0 = start.getEpochSecond * 1000000000L + start.getNano
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val state = p.stateOperators.map(s => s.commitTimeMs).sum
      val tid = tracer.record("trigger", drainId, t0, t0 + d.getOrElse("triggerExecution", 0L) * 1000000L,
        Map("batch_id" -> p.batchId.toString, "rows" -> p.numInputRows.toString,
          "state_commit_task_ms" -> state.toString))
      var at = t0
      phases.foreach { ph =>
        d.get(ph).foreach { ms =>
          tracer.record(s"trigger.$ph", tid, at, at + ms * 1000000L)
          at += ms * 1000000L
        }
      }
    }
    val (_, progress, out) = rounds.head
    val data = rounds.flatMap(_._2).filter(_.numInputRows > 0)
    def p50(f: StreamingQueryProgress => Double) = Stats.median(data.map(f))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    r.put("trigger.offset_ms_p50", p50(p => dur(p, "latestOffset") + dur(p, "getBatch")), "ms")
    r.put("trigger.planning_ms_p50", p50(p => dur(p, "queryPlanning")), "ms")
    r.put("trigger.overhead_ms_p50", p50(p => dur(p, "triggerExecution") - dur(p, "addBatch")), "ms")
    r.put("sink.commit_ms_p50", p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms")
    r.put("sink.files_written", Option(new File(out).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet")).toDouble, "count")
    // summed over the state store's partitions, which commit in parallel
    r.put("window.state_commit_ms_p50", p50(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    r.put("window.state_rows", data.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble, "count")
    r.put("window.state_bytes", data.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble, "bytes")
    r.put("window.rows_dropped_late", droppedLate(progress).toDouble, "count")
  }

  def layers(): Unit = {
    Ladder.run(spark, tracer, r, spark.read.schema(Articles.envelopeSchema).parquet(src))
    // this workload publishes no snapshot table
    SnapshotIngest.LayerMetrics.foreach { case (k, u) => r.put(k, 0, u) }
  }
}

object ArticleStream {
  val ArticlesPerSlice = 3000
  val Slices = 10
  val LateShare = 0.002
  val WarmRounds = 1

  /** The per-layer metrics only this workload measures, with their units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "source.scan_ms" -> "ms", "parse.self_ms" -> "ms", "tokenize.self_ms" -> "ms",
    "window.self_ms" -> "ms", "trigger.offset_ms_p50" -> "ms", "trigger.planning_ms_p50" -> "ms",
    "trigger.overhead_ms_p50" -> "ms", "sink.commit_ms_p50" -> "ms", "sink.files_written" -> "count",
    "window.state_commit_ms_p50" -> "ms", "window.state_rows" -> "count",
    "window.state_bytes" -> "bytes", "window.rows_dropped_late" -> "count")
  val WindowMinutes = 5 // Articles.avgWordCountByAuthor: 5-minute windows sliding by 1 minute
}

/** The batch ladder over one envelope frame: scan; + `Articles.parse`;
  * + `Articles.enrich`; + the windowed aggregate (`Articles.pipeline`).
  * Each rung is written to `noop`; the warm minimum of each is kept and the
  * differences between rungs give the layers' self times.
  */
object Ladder {
  val Reps = 3

  def run(spark: SparkSession, tracer: Tracer, r: Report, envelope: DataFrame): Unit = {
    val rungs: Seq[(String, DataFrame)] = Seq(
      "ladder.scan" -> envelope,
      "ladder.parse" -> Articles.parse(envelope),
      "ladder.enrich" -> Articles.enrich(Articles.parse(envelope)),
      "ladder.window" -> Articles.pipeline(envelope))
    tracer.enabled = true
    val best = rungs.map { case (name, df) =>
      (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(name)(df.write.format("noop").mode("overwrite").save())
        Stats.msSince(t0)
      }.min
    }
    tracer.enabled = false
    r.put("source.scan_ms", best(0), "ms")
    r.put("parse.self_ms", best(1) - best(0), "ms")
    r.put("tokenize.self_ms", best(2) - best(1), "ms")
    r.put("window.self_ms", best(3) - best(2), "ms")
  }
}
