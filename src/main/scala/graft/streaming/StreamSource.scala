package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Articles

/** A source of unbounded envelope rows — the abstraction the reference hides
  * inside `readStream.format("kinesis")` (`app/process_articles.py:53-61`).
  *
  * Every implementation emits the same envelope schema
  * ([[graft.ops.Articles.envelopeSchema]]), so the downstream pipeline is
  * source-agnostic: swap Kinesis for files or an in-memory stream without
  * touching a single operator.
  */
trait StreamSource {
  /** An unbounded (isStreaming) DataFrame of envelope rows. */
  def load(spark: SparkSession): DataFrame
}

object StreamSource {

  /** File-directory source: each parquet file dropped into `dir` becomes (part
    * of) a micro-batch — the standard offline stand-in for a message bus.
    * `maxFilesPerTrigger` caps batch size (and, in tests, forces multi-batch
    * execution so watermark advancement across batches is exercised).
    */
  final case class FileEnvelopeSource(dir: String, maxFilesPerTrigger: Option[Int] = None)
      extends StreamSource {
    def load(spark: SparkSession): DataFrame = {
      val r = spark.readStream.schema(Articles.envelopeSchema)
      maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).parquet(dir)
    }
  }

  /** Rate-limited synthetic source: wraps the built-in `rate` source and
    * synthesizes producer-shaped article JSON per row (same derivation as
    * `DataGen.articles`, keyed by the rate source's monotonically increasing
    * `value`). Useful for soak/throughput runs without any external system.
    */
  final case class RateEnvelopeSource(rowsPerSecond: Int = 100) extends StreamSource {
    def load(spark: SparkSession): DataFrame = {
      val rate = spark.readStream
        .format("rate")
        .option("rowsPerSecond", rowsPerSecond)
        .load() // columns: timestamp, value
      graft.ops.DataGen.envelopeFor(rate.select(col("value").as("id")))
    }
  }

  /** Kinesis adapter: the real wiring of the reference
    * (`app/process_articles.py:53-61` + connector coordinates in
    * `docker-compose.yml:115`). There is no Kinesis connector jar in this
    * offline environment, so `load` fails at `start()` with DATA_SOURCE_NOT_FOUND
    * unless a connector providing `format("kinesis")` is on the classpath —
    * the options below are the complete contract a connector needs.
    */
  final case class KinesisSource(
      streamName: String,
      endpointUrl: String,
      region: String = "us-east-1",
      accessKeyId: String = "",
      secretKey: String = "",
      startingPosition: String = "TRIM_HORIZON") // W7: replay from earliest retained
      extends StreamSource {
    def load(spark: SparkSession): DataFrame =
      spark.readStream
        .format("kinesis")
        .option("streamName", streamName)
        .option("endpointUrl", endpointUrl)
        .option("regionName", region)
        .option("awsAccessKeyId", accessKeyId)
        .option("awsSecretKey", secretKey)
        .option("startingPosition", startingPosition)
        .load()
  }

  /** Whether a `format("kinesis")` provider is actually on the classpath —
    * the deploy-time switch AppMain uses to fall back to the file-envelope
    * transport instead of failing at `start()` in connector-less
    * environments (this offline build has none).
    */
  def kinesisConnectorAvailable: Boolean = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
      .iterator().asScala
      .exists(r => scala.util.Try(r.shortName() == "kinesis").getOrElse(false))
  }
}
