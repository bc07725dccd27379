package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Pipelines, ProducerMain, StreamSource}

/** The producer service loop: iteration accounting, fresh (non-repeating)
  * content per iteration, the readiness gate flipping at the threshold, and
  * the produced envelope directory draining end-to-end through the REAL
  * streaming pipeline (producer → file source → windowed agg → parquet).
  */
class ProducerSpec extends AnyFunSuite with SparkSpec {

  test("publish loop: iteration batches continue the id sequence; marker flips at threshold") {
    val envDir = tmpDir("producer-env")
    val marker = java.nio.file.Paths.get(tmpDir("producer-ready"), "ready")
    var sleeps = 0
    // sizeMb=1 -> 1024 rows/iteration; threshold above one batch so the
    // marker must appear only from the second iteration on
    val published = ProducerMain.run(spark, envDir, sizeMb = 1, iterations = 3,
      sleepSeconds = 7, marker = marker, threshold = 1500L,
      sleeper = _ => {
        sleeps += 1
        if (sleeps == 1)
          assert(!java.nio.file.Files.exists(marker), "marker must not exist below threshold")
      })
    assert(published == 3 * 1024)
    assert(sleeps == 2, "no sleep after the final iteration (the reference's loop shape)")
    assert(java.nio.file.Files.exists(marker))
    val env = spark.read.parquet(envDir)
    assert(env.count() == 3 * 1024)
    // fresh content per iteration: every envelope row is distinct
    assert(env.select(col("sequenceNumber")).distinct().count() == 3 * 1024)
  }

  test("produced envelopes drain end-to-end through the streaming pipeline") {
    val envDir = tmpDir("producer-env-e2e")
    val marker = java.nio.file.Paths.get(tmpDir("producer-ready-e2e"), "ready")
    ProducerMain.run(spark, envDir, sizeMb = 1, iterations = 2,
      sleepSeconds = 0, marker = marker)
    val out = tmpDir("producer-out")
    val ckpt = tmpDir("producer-ckpt")
    val q = Pipelines.articlesToParquet(spark,
      StreamSource.FileEnvelopeSource(envDir), out, ckpt)
    q.awaitTermination()
    val windows = spark.read.parquet(out)
    assert(windows.count() > 0, "windowed aggregates must be produced")
    // the batch twin over the same envelopes agrees (the StreamingSpec law)
    val batch = graft.ops.Articles.pipeline(spark.read.parquet(envDir))
    assert(windows.count() == batch.count(),
      "stream drain must equal the batch twin on the produced corpus")
  }
}
