package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** The processing service — the engine's twin of the reference app
  * (`app/process_articles.py:40-91`): build the session from the env-parity
  * [[AppConfig]], pick the source, run the article pipeline to the parquet
  * sink, and block.
  *
  * Source selection mirrors the deployment reality: if the config describes
  * a Kinesis stream AND a connector jar is on the classpath, the Kinesis
  * source is used (`KINESIS_STREAM_NAME` + `AWS_ENDPOINT_URL`, the
  * reference wiring); otherwise the file-envelope directory `ENVELOPE_DIR`
  * is tailed — the transport [[ProducerMain]] writes, making the
  * producer→app pair deployable offline with no AWS dependency at all.
  * Sink: `GRAFT_OUTPUT_PATH`, or the reference's
  * `s3a://<S3_BUCKET_NAME>/enriched_articles` layout when a bucket is
  * configured ([[AppConfig.resolvedOutputPath]]).
  *
  * Trigger: GRAFT_TRIGGER=availableNow drains the backlog and exits (batch
  * refresh / smoke runs); anything else runs the reference's continuous
  * micro-batch loop.
  */
object AppMain {
  def main(args: Array[String]): Unit = {
    val cfg = AppConfig.fromEnv()
    val env = sys.env
    val spark = cfg.buildSession()
    val source: StreamSource = cfg.kinesisSource
      .filter(_ => StreamSource.kinesisConnectorAvailable)
      .getOrElse(StreamSource.FileEnvelopeSource(
        env.getOrElse("ENVELOPE_DIR", "/data/envelopes")))
    val out = cfg.resolvedOutputPath.getOrElse("/data/enriched_articles")
    val ckpt = cfg.checkpointLocation.getOrElse("/data/checkpoints/articles")
    val trigger =
      if (env.get("GRAFT_TRIGGER").contains("availableNow")) Trigger.AvailableNow()
      else Trigger.ProcessingTime(env.getOrElse("GRAFT_TRIGGER_MS", "10000").toLong)
    val q = Pipelines.articlesToParquet(spark, source, out, ckpt, trigger)
    q.awaitTermination()
    spark.stop()
  }
}
