package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs the headline query subset on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are fully materialized through the noop sink
  * (count() alone would let Catalyst prune most of the work).
  *
  * Methodology: each query is executed twice. The FIRST (cold) run includes
  * Catalyst planning, AQE stage re-optimization and whole-stage-codegen
  * compilation — one-off driver costs that dominate at test scale but
  * amortize to noise on a long-running cluster. The SECOND (warm) run
  * measures steady-state data throughput — the number the 100 TB design
  * targets. The headline `value` stays the COLD total; warm numbers are
  * reported alongside. NOTE on cross-round comparison: since round 2 a
  * one-time engine warm-up query runs before the first measured query, so
  * cold totals no longer charge session/JVM/parquet-reader startup to the
  * first query — round-1 totals include that startup and read slightly
  * high in comparison.
  *
  * A query that throws is reported with "ok": false and excluded from both
  * totals — a failed run is never silently folded into the headline.
  *
  * ISOLATED MODE (`--isolated`, round-12 addition): the shared-session
  * protocol accumulates block-manager/broadcast/cleaner state across ~380
  * queries, which rounds 8–11 repeatedly measured as late-session queries
  * reading up to 10× their isolated times (q117 r10, q225 r10, the +25 s
  * r11 residual) — attribution noise, not engine behavior. `--isolated`
  * stops and recreates the SparkSession per catalog GROUP (core,
  * relational, …; SparkEntry.catalogGroups) with the same per-query
  * protocol inside each group, and writes bench_isolated.json in the
  * bench_warm.json format (plus a `family` tag per query). Comparing the
  * two artifacts bounds the session-noise term per query. The driver runs
  * DEFAULT mode (stable cross-round contract); isolated runs are committed
  * alongside as the attribution reference.
  *
  * STREAMING in both modes runs in a FRESH SparkSession (round-12 fix):
  * the round-11 drain inversion (sec_runs [3.11, 15.24, 34.87], each run
  * ~2.3× slower) does NOT reproduce in an idle JVM — five isolated drains
  * read [3.64, 3.08, 2.99, 3.04, 2.88] s with flat heap — so it was
  * end-of-session contamination of the measurement, and the fresh session
  * removes exactly that term.
  *
  * NAMED SUBSET (`Bench <query…>`): arguments that do not start with `--`
  * are catalog query names. Bench then times exactly those queries, in the
  * order given and benched or not, in one session with the same warm-up and
  * per-query protocol, and skips the streaming drain (`"streaming":null`).
  * An unknown name fails before any session starts. The output keeps its
  * shape, so a one-query run's compact line carries that query's cold
  * (`value`) and warm (`total_warm`) seconds: the q207 era probe is
  * `Bench q207_minhash_index_append`.
  */
object Bench {

  final case class Res(name: String, family: String, cold: Double,
    warm: Double, ok: Boolean)

  /** One-time engine warm-up (JVM/JIT, codegen framework, parquet reader
    * and shuffle machinery init) so the first measured query of a session
    * is not charged for session startup.
    */
  private def warmup(spark: SparkSession, sfDir: String): Unit =
    Tables.load(spark, sfDir, "nation").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()

  /** The per-query protocol: sweep + GC outside the timed window, one cold
    * run, min of two warm runs.
    */
  private def runQuery(spark: SparkSession, q: QueryDef, family: String,
      sfDir: String): Res = {
    def once(): Double = {
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    try {
      // Inter-query isolation (round-10 methodology pin): on a 128 GiB
      // local[*] heap a full GC almost never fires on its own, so
      // broadcast/accumulator garbage from earlier queries piles up until
      // the ContextCleaner stalls SOME later query's run. One explicit
      // collection per query returns the session to a known state; the
      // cost is outside the timed window.
      //
      // Round-11 addition: localCheckpoint() blocks from earlier queries
      // also pile up in the block manager (the GC alone cannot reclaim
      // blocks the context still references) and distorted late-session
      // tails (q225: 7.0 s in-session vs 2.6 s isolated, round 10). Every
      // checkpoint RDD is dead once its query's runs finish, so sweep
      // them before the collection; both steps run outside the timed
      // window.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val cold = once()
      // steady-state = min of two warm runs (min is the robust estimator
      // under shared-machine noise; mean would fold interference in)
      val warm = math.min(once(), once())
      Res(q.name, family, cold, warm, ok = true)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
        Res(q.name, family, -1.0, -1.0, ok = false)
    }
  }

  /** Streaming throughput: the reference's own workload shape (producer
    * JSON -> Kinesis -> parse -> enrich -> windowed agg -> parquet append),
    * run end to end as a real StreamingQuery over a file-backed envelope
    * stream at the scale factor's article volume. The reference's implied
    * envelope is ~500 MB over ~50 min (BASELINE.md) ≈ 0.17 MB/s sustained.
    * Runs on a FRESH session (see the class doc) — `spark` here must be
    * newly created by the caller.
    */
  private def streaming(spark: SparkSession, sfDir: String,
      rowsOverride: Option[Long]): String = {
    import org.apache.spark.sql.functions.{length => blen, col, sum}
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.1)
    // --rows=N / SPARK_GRAFT_STREAM_ROWS: the streaming scale-curve knob
    // (round 14 measured 1× vs 10× volume at 190 → 634.6 MB/s; this makes
    // that datapoint reproducible through Bench itself). Default:
    // ~reference volume at sf.
    val n = rowsOverride.getOrElse(math.max(10000L, (6000000 * sf).toLong))
    val envDir = Scratch.dir("graft-bench-env")
    val outDir = Scratch.dir("graft-bench-out")
    val ckptDir = Scratch.dir("graft-bench-ckpt")
    val env = graft.ops.DataGen.articles(spark, n)
    env.write.mode("overwrite").parquet(envDir) // datagen excluded from timing
    val inputBytes = spark.read.parquet(envDir)
      .agg(sum(blen(col("data")))).head().getLong(0)
    // Methodology pin (round-8 verdict #7): MB/s swung 34-224 across
    // rounds on unchanged code. A fixed WARM-UP drain (excluded from the
    // measurement — it pays streaming-machinery init, state-store and
    // sink-committer class loading) followed by min of THREE measured
    // drains (fresh sink+checkpoint each; min is the same robust
    // estimator the query timings use). All runs are recorded in
    // sec_runs so the artifact itself documents the spread.
    def drain(run: Int): (Double, Long) = {
      val out = s"$outDir/run$run"
      val ckpt = s"$ckptDir/run$run"
      val t0 = System.nanoTime()
      val q = graft.streaming.Pipelines.articlesToParquet(
        spark, graft.streaming.StreamSource.FileEnvelopeSource(envDir), out, ckpt)
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, spark.read.parquet(out).count())
    }
    drain(0) // warm-up, unmeasured
    val runs = (1 to 3).map(drain)
    val secs = runs.map(_._1)
    require(runs.map(_._2).distinct.size == 1,
      s"streaming drains disagree: ${runs.map(_._2).mkString(", ")} windows")
    val sec = secs.min
    s"""{"rows":$n,"input_mb":${inputBytes / 1e6},"sec":${f"$sec%.2f"},""" +
      s""""sec_runs":[${secs.map(s => f"$s%.2f").mkString(",")}],""" +
      s""""rows_per_sec":${(n / sec).toLong},"mb_per_sec":${f"${inputBytes / 1e6 / sec}%.1f"},""" +
      s""""finalized_windows":${runs.head._2}}"""
  }

  private def fmt(d: Double): String = f"$d%.4f"

  /** Pretty-printed per-query artifact (one query per line — diffable in
    * git): the driver's BENCH_rN.json capture truncates the single-line
    * JSON, so regression calls across rounds were limited to the visible
    * prefix. Warm min-of-two is the steady-state number the 100 TB design
    * targets.
    */
  private def perQueryJson(sfDir: String, results: Seq[Res],
      streamingJson: String, mode: String): String = {
    val okRes = results.filter(_.ok)
    val perQuery = results.map { r =>
      val v = if (r.ok)
        s"""{"cold":${fmt(r.cold)},"warm":${fmt(r.warm)},"family":${Json.str(r.family)}}"""
      else s"""{"cold":-1,"warm":-1,"ok":false,"family":${Json.str(r.family)}}"""
      s"""    ${Json.str(r.name)}: $v"""
    }.mkString(",\n")
    s"""{
       |  "sf": ${Json.str(sfDir)},
       |  "mode": ${Json.str(mode)},
       |  "n_ok": ${okRes.size},
       |  "n_failed": ${results.size - okRes.size},
       |  "total_cold_sec": ${fmt(okRes.map(_.cold).sum)},
       |  "total_warm_sec": ${fmt(okRes.map(_.warm).sum)},
       |  "streaming": $streamingJson,
       |  "queries": {
       |$perQuery
       |  }
       |}""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val isolated = args.contains("--isolated") ||
      sys.env.get("SPARK_GRAFT_BENCH_ISOLATED").contains("1")
    val streamRows = args.find(_.startsWith("--rows="))
      .map(_.stripPrefix("--rows=").toLong)
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_ROWS").map(_.toLong))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus()
    val names = args.filterNot(_.startsWith("--")).toSeq.distinct
    val byQuery = SparkEntry.catalog.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byQuery.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    require(names.isEmpty || !isolated, "--isolated takes no query names")

    val byName = SparkEntry.catalogGroups.flatMap { case (fam, qs) =>
      qs.map(q => q.name -> fam)
    }.toMap

    if (isolated) {
      // fresh session per catalog group; same per-query protocol inside
      val results = SparkEntry.catalogGroups.flatMap { case (fam, qs) =>
        val benched = qs.filter(_.bench)
        if (benched.isEmpty) Seq.empty[Res]
        else {
          SparkSession.getActiveSession.foreach(_.stop())
          val spark = Sessions.local(cpus)
          warmup(spark, sfDir)
          val rs = benched.map(q => runQuery(spark, q, fam, sfDir))
          spark.stop()
          rs
        }
      }
      val streamSpark = Sessions.local(cpus)
      val streamingJson = streaming(streamSpark, sfDir, streamRows)
      streamSpark.stop()
      val out = perQueryJson(sfDir, results, streamingJson, mode = "isolated")
      Files.writeString(Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATED_OUT",
          "bench_isolated.json")), out + "\n")
      println(s"""{"metric":"isolated_total","value":${fmt(results.filter(_.ok).map(_.cold).sum)},"unit":"sec","n_ok":${results.count(_.ok)}}""")
      return
    }

    val spark = Sessions.local(cpus)
    warmup(spark, sfDir)
    val queries = if (names.isEmpty) SparkEntry.benchQueries else names.map(byQuery)
    val results = queries.map(q =>
      runQuery(spark, q, byName.getOrElse(q.name, "?"), sfDir))
    // streaming measurement on a FRESH session — see the class doc
    spark.stop()
    val streamSpark = Option.when(names.isEmpty)(Sessions.local(cpus))
    val streamingJson = streamSpark.fold("null")(streaming(_, sfDir, streamRows))

    val okRes = results.filter(_.ok)
    val qsCold = results.map(r => Json.str(r.name) + ":" + (if (r.ok) fmt(r.cold) else "-1"))
      .mkString("{", ",", "}")
    val qsWarm = results.map(r => Json.str(r.name) + ":" + (if (r.ok) fmt(r.warm) else "-1"))
      .mkString("{", ",", "}")
    val failed = results.filterNot(_.ok).map(r => Json.str(r.name)).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":${fmt(okRes.map(_.cold).sum)},"unit":"sec","queries":$qsCold,"total_warm":${fmt(okRes.map(_.warm).sum)},"queries_warm":$qsWarm,"n_ok":${okRes.size},"n_failed":${results.size - okRes.size},"failed":$failed,"streaming":$streamingJson,"sf":${Json.str(sfDir)}}"""
    // Stdout for the driver, plus a file copy in case log decoration mangles
    // the stream (round 1's BENCH parse failed on sbt's [info] prefix).
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    Files.writeString(Paths.get(outFile), json + "\n")
    Files.writeString(Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_OUT", "bench_warm.json")),
      perQueryJson(sfDir, results, streamingJson, mode = "session") + "\n")
    // Round-18 fix for the driver's "parsed": null (VERDICT r17 #1c): the
    // driver keeps only the LAST 2000 chars of stdout, and the full JSON
    // line above is ~25 KB — its head (the "{"metric":... opener) is always
    // clipped, so no round's BENCH artifact ever parsed. Emit a COMPACT
    // line LAST: same headline fields, per-family cold totals instead of
    // the 394-entry per-query maps (those live complete in bench_out.json/
    // bench_warm.json). Bounded at ~7 family entries ≈ well inside the tail
    // window even with sbt's "[success]" trailer after it.
    val famCold = results.filter(_.ok)
      .groupBy(r => byName.getOrElse(r.name, "?")).toSeq.sortBy(_._1)
      .map { case (f, rs) => Json.str(f) + ":" + fmt(rs.map(_.cold).sum) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${fmt(okRes.map(_.cold).sum)},"unit":"sec","queries":$famCold,"total_warm":${fmt(okRes.map(_.warm).sum)},"n_ok":${okRes.size},"n_failed":${results.size - okRes.size},"failed":$failed,"streaming":$streamingJson,"sf":${Json.str(sfDir)},"per_query_file":${Json.str(outFile)}}""")
    streamSpark.foreach(_.stop())
  }
}
