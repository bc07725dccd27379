package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.DataGen
import graft.streaming.{Pipelines, StreamSource}

/** Generated code outlives a streaming query: each query runs on a clone of
  * the session, and Spark keys its codegen cache by classloader, so with
  * artifact isolation on (Spark 4's default) every drain compiled the same
  * classes again. [[Sessions.Pinned]] turns isolation off.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkSpec {

  test("a second drain of the flagship pipeline compiles no generated class") {
    val src = tmpDir("codegen-src")
    for (i <- 0 until 3)
      DataGen.envelopeFor(spark.range(i * 200L, (i + 1) * 200L).toDF("id"),
          startEpochSeconds = 1704067200L + i * 60L, spreadSeconds = 60L)
        .coalesce(1).write.mode("append").parquet(src)
    // each drain on a fresh sink and checkpoint, as a restarted job would be
    def drain(): Unit = {
      val out = tmpDir("codegen-out")
      Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(src, maxFilesPerTrigger = Some(1)),
        out, s"$out-ckpt").awaitTermination()
      assert(spark.read.parquet(out).count() > 0, "the drain emitted no finalized window")
    }
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    drain()
    val before = compiled
    drain()
    assert(compiled == before,
      s"the second drain compiled ${compiled - before} generated classes again")
  }
}
