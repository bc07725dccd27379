package graft.streaming

import graft.Sessions
import org.apache.spark.sql.SparkSession

/** Environment-driven application config — parity with the reference's
  * env-var surface (`/root/reference/app/process_articles.py:8-19`) and its
  * S3A session wiring (`:40-50`), expressed as a typed case class instead of
  * loose globals. Note: the reference sets the S3A *secret* key from the
  * access-key id (`process_articles.py:45,57`) — that is a bug in the
  * reference (it only works because LocalStack accepts test/test); this
  * config uses the actual secret.
  */
final case class AppConfig(
    appName: String = "graft-articles",
    masterUrl: Option[String] = None,
    awsEndpointUrl: Option[String] = None,
    awsAccessKeyId: Option[String] = None,
    awsSecretAccessKey: Option[String] = None,
    awsRegion: String = "us-east-1",
    kinesisStreamName: Option[String] = None,
    s3BucketName: Option[String] = None,
    outputPath: Option[String] = None,
    checkpointLocation: Option[String] = None,
    shufflePartitions: Int = 32) {

  /** Sink path: explicit `outputPath` wins; else the reference's
    * `s3a://<bucket>/enriched_articles` layout.
    */
  def resolvedOutputPath: Option[String] =
    outputPath.orElse(s3BucketName.map(b => s"s3a://$b/enriched_articles"))

  /** The session's settings: [[graft.Sessions.Pinned]] plus the reference's
    * conf surface — app name, S3A endpoint / credentials / path-style access
    * (config-only — no S3 connectivity is needed for local paths) and the
    * streaming checkpoint default.
    */
  def settings: Map[String, String] = {
    val s3a = "spark.hadoop.fs.s3a."
    val endpoint = awsEndpointUrl.toSeq.flatMap(e => Seq(
      s3a + "endpoint" -> e,
      s3a + "path.style.access" -> "true",
      s3a + "impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem"))
    Sessions.Pinned ++ Map("spark.app.name" -> appName) ++ endpoint ++
      awsAccessKeyId.map(s3a + "access.key" -> _) ++
      awsSecretAccessKey.map(s3a + "secret.key" -> _) ++
      checkpointLocation.map("spark.sql.streaming.checkpointLocation" -> _)
  }

  /** Build the session on [[settings]], with a sane shuffle parallelism (the
    * reference left Spark's 200 default untuned).
    */
  def buildSession(): SparkSession =
    Sessions.build(masterUrl, shufflePartitions, settings)

  /** The Kinesis source described by this config (offline: documents the
    * wiring; a connector jar makes it live — see StreamSource.KinesisSource).
    */
  def kinesisSource: Option[StreamSource.KinesisSource] =
    for (stream <- kinesisStreamName; endpoint <- awsEndpointUrl)
      yield StreamSource.KinesisSource(
        streamName = stream,
        endpointUrl = endpoint,
        region = awsRegion,
        accessKeyId = awsAccessKeyId.getOrElse(""),
        secretKey = awsSecretAccessKey.getOrElse(""))
}

object AppConfig {

  /** Read the reference's exact env-var names. */
  def fromEnv(env: Map[String, String] = sys.env): AppConfig =
    AppConfig(
      appName = env.getOrElse("SPARK_APP_NAME", "graft-articles"),
      masterUrl = env.get("SPARK_MASTER_URL"),
      awsEndpointUrl = env.get("AWS_ENDPOINT_URL"),
      awsAccessKeyId = env.get("AWS_ACCESS_KEY_ID"),
      awsSecretAccessKey = env.get("AWS_SECRET_ACCESS_KEY"),
      awsRegion = env.getOrElse("AWS_REGION", "us-east-1"),
      kinesisStreamName = env.get("KINESIS_STREAM_NAME"),
      s3BucketName = env.get("S3_BUCKET_NAME"),
      outputPath = env.get("GRAFT_OUTPUT_PATH"),
      checkpointLocation = env.get("SPARK_CHECKPOINT_LOCATION"))
}
