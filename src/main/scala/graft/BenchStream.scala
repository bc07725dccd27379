package graft

import org.apache.spark.sql.SparkSession

/** Streaming-drain diagnostic: run the EXACT drain loop Bench times (same
  * datagen volume, same pipeline, fresh sink+checkpoint per run) N times in
  * an otherwise idle JVM, printing per-run wall seconds plus post-GC heap —
  * the isolation experiment for the round-11 sec_runs inversion
  * ([3.11, 15.24, 34.87] in-session vs round-10's normal warmup shape).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.BenchStream [runs=5] [--fresh-session] [--rows=N]
  *
  * `--fresh-session` stops and recreates the SparkSession between drains
  * (the candidate fix if the shared-session runs degrade monotonically:
  * state-store providers of terminated queries linger in the executor until
  * the 60 s maintenance cycle unloads them, and each drain adds 32 more).
  *
  * `--rows=N` overrides the sf-derived article count — the streaming
  * scale-curve knob (round-14: drain the SAME pipeline at 1× and 10×
  * volume and compare MB/s; the ingest gates are stateless per micro-batch,
  * so throughput should hold).
  */
object BenchStream {
  def main(args: Array[String]): Unit = {
    val runs = args.find(!_.startsWith("--")).map(_.toInt).getOrElse(5)
    val freshSession = args.contains("--fresh-session")
    val rowsOverride = args.find(_.startsWith("--rows="))
      .map(_.stripPrefix("--rows=").toLong)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus()
    var spark = Sessions.local(cpus)

    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    val n = rowsOverride.getOrElse(math.max(10000L, (6000000 * sf).toLong))
    val envDir = Scratch.dir("graft-bstream-env")
    val outDir = Scratch.dir("graft-bstream-out")
    val ckptDir = Scratch.dir("graft-bstream-ckpt")
    graft.ops.DataGen.articles(spark, n).write.mode("overwrite").parquet(envDir)
    val inputMb = {
      import org.apache.spark.sql.functions.{col, length, sum}
      spark.read.parquet(envDir).agg(sum(length(col("data"))))
        .head().getLong(0) / 1e6
    }

    def heapMb(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
    }

    def drain(run: Int): (Double, Long) = {
      val t0 = System.nanoTime()
      val q = graft.streaming.Pipelines.articlesToParquet(
        spark, graft.streaming.StreamSource.FileEnvelopeSource(envDir),
        s"$outDir/run$run", s"$ckptDir/run$run")
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, spark.read.parquet(s"$outDir/run$run").count())
    }

    println(f"[benchstream] rows=$n inputMb=$inputMb%.1f freshSession=$freshSession runs=$runs")
    val w = drain(-1) // warm-up, same convention as Bench
    println(f"[benchstream] warmup: ${w._1}%.2f s windows=${w._2} heapAfterGc=${heapMb()} MB")
    val secs = (1 to runs).map { i =>
      if (freshSession) { spark.stop(); spark = Sessions.local(cpus) }
      val (sec, windows) = drain(i)
      println(f"[benchstream] run$i: $sec%.2f s (${inputMb / sec}%.1f MB/s) windows=$windows heapAfterGc=${heapMb()} MB")
      sec
    }
    println(f"[benchstream] min: ${secs.min}%.2f s = ${inputMb / secs.min}%.1f MB/s over $inputMb%.1f MB")
    spark.stop()
  }
}
