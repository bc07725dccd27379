package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.ops.Articles

/** End-to-end streaming execution of the reference pipeline — the part of
  * `/root/reference/app/process_articles.py` the operator library alone
  * doesn't cover: `writeStream` in append mode to a parquet sink with a
  * checkpoint (`process_articles.py:85-91`), driven by a trigger.
  *
  * Semantics delivered by the engine (and asserted in StreamingSpec):
  *  - W1  watermark: 10 s on `publish_date` (inside `Articles.pipeline`);
  *  - W3  append mode: a (window × author) row is emitted exactly once, only
  *        after the watermark passes the window end;
  *  - W4  late data: rows whose every window is already finalized are dropped;
  *  - W5  state: the windowed sum/count state lives in the checkpoint's state
  *        store and survives query restarts;
  *  - W6  trigger: `Trigger.AvailableNow` drains the backlog then stops (the
  *        deterministic stand-in for the reference's default microbatch loop);
  *  - S2/S4 parquet sink + checkpoint: exactly-once file output via the sink's
  *        commit log — restarting on the same checkpoint re-emits nothing.
  *        [[articlesToParquet]] writes at most one file per trigger: the
  *        log lists whatever files a batch wrote, so exactly-once does not
  *        need one writer per state partition, and a trigger finalizes only
  *        a few (window × author) rows. The state stage runs in that one
  *        task too, which suits triggers that update few keys (see
  *        [[articlesToParquet]] for where it starts to cost latency).
  */
object Pipelines {

  /** Run `Articles.pipeline` (parse → enrich → windowed avg per author) from
    * `source` to a parquet directory. Returns the started query; callers own
    * `awaitTermination`/`stop`.
    *
    * The finalized windows are coalesced to one partition before the sink.
    * Without it every trigger runs `spark.sql.shuffle.partitions` tasks after
    * the shuffle, and each opens, writes and commits its own parquet file
    * for the handful of rows the watermark finalized. `coalesce` is narrow:
    * the state operator's `Exchange` stays below it, so the map stage keeps
    * its parallelism and the checkpoint keeps its N state partitions, and a
    * checkpoint written without the coalesce resumes under it.
    *
    * Being narrow, the coalesce also pulls the whole state stage into the
    * one task: for each of the N partitions in turn it loads the store,
    * merges the trigger's partial aggregates, saves and commits. That work
    * grows with the (window × author) keys a trigger updates, about five
    * per article, not with the rows it finalizes. So the one task suits
    * triggers that update few keys, and costs latency on triggers that
    * update many. Measured at the session default of [[AppConfig]] (32
    * partitions) on 4 CPUs, one minute of articles per trigger (README):
    * CPU per input row fell at every size, by ×0.5 to ×0.7; the trigger
    * p50 fell by 7 to 17 % at up to about 10,000 updated keys per trigger,
    * rose by 7 % at about 50,000 (roughly the reference producer's
    * 10 MB per minute), and by 25 % at about 150,000.
    *
    * The coalesce belongs here, not in [[toParquet]]: on an unaggregated
    * stream it would run the whole pipeline in one task.
    */
  def articlesToParquet(
      spark: SparkSession,
      source: StreamSource,
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    toParquet(Articles.pipeline(source.load(spark)).coalesce(1),
      outPath, checkpointPath, trigger)

  /** Generic append-mode parquet writer for any finalized streaming frame. */
  def toParquet(
      df: DataFrame,
      outPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .start()

  /** Streaming ingest INTO a [[graft.ops.SnapTables]] snapshot table — each
    * micro-batch publishes as one atomic generation flip
    * ([[graft.ops.SnapTables.appendBatch]]), so downstream readers never see
    * a half-written batch: they serve generation N until N+1's pointer
    * rename lands, and a reader mid-plan keeps its own generation.
    * Exactly-once comes from the manifest's `#batch` high-water mark,
    * keyed by the stream's identity (its checkpoint path): the one crash
    * window the checkpoint alone cannot close (publication flipped,
    * checkpoint commit log not yet written) replays into a recognized
    * no-op, and a reset or foreign checkpoint is refused.
    *
    * `xform` runs INSIDE `foreachBatch` on the materialized batch — full
    * batch API (windows, aggregations, joins), for per-batch derivations a
    * streaming frame cannot express (e.g. winnow fingerprinting, which
    * windows over each document's own k-grams). Exactly-once holds for any
    * deterministic per-batch `xform`; it must emit `partCol`. The table must
    * already be published ([[graft.ops.SnapTables.publishInitial]] — an
    * empty base frame bootstraps a from-stream table); single writer per
    * table, as everywhere in the layer.
    */
  def snapshotIngest(
      rows: DataFrame,
      path: String,
      partCol: String,
      checkpointPath: String,
      xform: DataFrame => DataFrame = identity,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // checkpointPath doubles as the stream identity: the manifest
        // records it, so a swapped/reset checkpoint is refused instead of
        // its batch ids being misread against another stream's high-water
        // mark
        graft.ops.SnapTables.appendBatch(batch.sparkSession, path, partCol,
          xform(batch.toDF()), batchId, streamId = Some(checkpointPath))
        ()
      }
      .start()
}
