package graft.streaming

import org.apache.spark.sql.SparkSession
import java.nio.file.Paths

/** The producer service — the engine's twin of the reference publisher
  * (`populate-script/populate_stream.py:85-119`): publish ~DATASET_SIZE_MB
  * of article envelopes per iteration, NUM_ITERATIONS times, sleeping
  * PUBLISH_SLEEP_SECONDS between iterations, and flip the readiness gate
  * once the first PUBLISH_THRESHOLD records are out
  * ([[Readiness]], the `/health` twin — `populate_stream.py:120-137`).
  *
  * Transport: where the reference `put_record`s to Kinesis, this producer
  * appends parquet envelope batches into ENVELOPE_DIR — the wire format of
  * [[StreamSource.FileEnvelopeSource]], which the processing app tails as a
  * streaming source (new files = new micro-batch input). Offline this is
  * the honest transport (no Kinesis connector jar exists here); against
  * real infrastructure the loop body becomes a `put_record` batch with the
  * SAME derivation ([[graft.ops.DataGen.envelopeFor]] is transport-free).
  *
  * Batch sizing: envelope rows average ~1 KB of JSON (the reference's
  * 1-3 KB article), so rows-per-iteration = MB · 1024. Each iteration
  * continues the global id sequence — batches never repeat content, like
  * the reference's stream of fresh fake articles.
  */
object ProducerMain {
  def main(args: Array[String]): Unit = {
    val env = sys.env
    val envelopeDir = env.getOrElse("ENVELOPE_DIR", "/data/envelopes")
    val sizeMb = env.getOrElse("DATASET_SIZE_MB", "10").toInt
    val iterations = env.getOrElse("NUM_ITERATIONS", "50").toInt
    val sleepSeconds = env.getOrElse("PUBLISH_SLEEP_SECONDS", "60").toLong
    val marker = Paths.get(env.getOrElse("READY_MARKER", s"$envelopeDir/.ready"))
    val threshold =
      env.getOrElse("PUBLISH_THRESHOLD", Readiness.DefaultPublishThreshold.toString).toLong
    // master from spark-submit; 200 is Spark's default shuffle parallelism
    val spark = graft.Sessions.build(None, 200,
      Map("spark.app.name" -> env.getOrElse("SPARK_APP_NAME", "graft-producer")))
    run(spark, envelopeDir, sizeMb, iterations, sleepSeconds, marker, threshold)
    spark.stop()
  }

  /** The publish loop, separated for the spec (sleep is injectable). The
    * "bucket"/"stream" gates of the reference healthcheck map to their
    * file-transport equivalents: the envelope directory existing (created
    * by the first write) and the streaming schema being in place (always
    * true — it is compiled in), so readiness reduces to the first-records
    * gate, evaluated with the REAL published count.
    */
  def run(
      spark: SparkSession,
      envelopeDir: String,
      sizeMb: Int,
      iterations: Int,
      sleepSeconds: Long,
      marker: java.nio.file.Path,
      threshold: Long = Readiness.DefaultPublishThreshold,
      sleeper: Long => Unit = s => Thread.sleep(s * 1000)): Long = {
    val rowsPerIteration = math.max(1L, sizeMb.toLong * 1024)
    var published = 0L
    (0 until iterations).foreach { it =>
      // continue the global id sequence: every iteration publishes FRESH
      // articles (the reference's stream never repeats), and the derivation
      // stays deterministic for any (iteration, row) — replayable fixtures
      graft.ops.DataGen.envelopeFor(
          spark.range(it * rowsPerIteration, (it + 1) * rowsPerIteration).toDF("id"),
          startEpochSeconds = 1704067200L + it * 3600L)
        .write.mode("append").parquet(envelopeDir)
      published += rowsPerIteration
      Readiness.writeMarker(marker,
        Readiness.Status(bucketCreated = true, streamCreated = true,
          published = published, threshold = threshold))
      if (it < iterations - 1 && sleepSeconds > 0) sleeper(sleepSeconds)
    }
    published
  }
}
