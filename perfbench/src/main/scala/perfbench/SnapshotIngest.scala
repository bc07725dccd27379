package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Articles, SnapConflict, SnapTables}

/** Writes beside reads on the publication layer, one closed-loop client:
  * each step appends a pre-parsed article slice as a generation
  * (`SnapTables.appendBatch`), then serves one bucket (`SnapTables.resolve`
  * plus an aggregate); every `CompactEvery` steps it folds the accreted
  * files (`compactPartitions`) and reclaims space (`expire`). Parsing and
  * bucketing are staged before timing, so tokenize and window state are not
  * on this path at all.
  */
final class SnapshotIngest(spark: SparkSession, o: Opts, r: Report, tracer: Tracer)
    extends Workload {
  import SnapshotIngest._

  private val staging = new Staging(spark, o.seed, RoundAppends + 1, RowsPerSlice, lateShare = 0.0)
  private var setups = 0
  private var sliceDirs = IndexedSeq.empty[String]
  private var sliceBytes = IndexedSeq.empty[Long]
  /** (slice, bucket) → author → (rows, content chars). */
  private var expected = Map.empty[(Int, Int), Map[String, (Long, Long)]]
  private var runs = 0
  private var conflicts = 0
  private val tableCols = Seq("article_id", "title", "author", "publish_date", "content",
    "unique_id", "processing_timestamp", "bucket")

  /** Parse, bucket and stage the slices into fresh directories. */
  def stage(): Unit = {
    setups += 1
    val stage = s"${o.work}/stage-$setups"
    val parsed = Articles.parse(staging.envelopes.drop("slice"))
      .withColumn("slice", ((unix_seconds(col("publish_date")) - Staging.Base) / 60).cast("int"))
      .withColumn("bucket", pmod(xxhash64(lit(o.seed), col("article_id")), lit(Buckets.toLong)).cast("int"))
    val files = staging.write(stage, parsed)
    sliceDirs = files.map(_.getParent)
    sliceBytes = files.map(_.length())
    expected = spark.read.parquet(stage)
      .groupBy("slice", "bucket", "author").agg(count(lit(1)), sum(length(col("content"))))
      .collect().toSeq
      .groupBy(row => (row.getInt(0), row.getInt(1)))
      .map { case (k, rows) => k -> rows.map(row => row.getString(2) -> (row.getLong(3), row.getLong(4))).toMap }
  }

  /** Whole rounds on tables of their own, untimed and unchecked. */
  def warmUp(): Unit = {
    val rnd = new java.util.Random(o.seed)
    for (k <- 1 to WarmRounds) round(s"${o.work}/table-warm-$k", rnd, (_, _) => body => { body; None })
  }

  /** One round on a fresh table: publish slice 0 (untimed), then append
    * the other slices one by one, serving a seeded bucket after each append
    * and compacting every `CompactEvery` appends. `op(what, i)` wraps each
    * op (it times, counts and checks in the measured phase).
    */
  private def round(path: String, rnd: java.util.Random,
      op: (String, Int) => (=> Any) => Option[Any]): Unit = {
    SnapTables.publishInitial(spark, path, "bucket", slice(0))
    for (i <- 1 to RoundAppends) {
      op("append", i) {
        if (!o.corrupt.contains("skip-append") || i != 2)
          try SnapTables.appendBatch(spark, path, "bucket", slice(i), i.toLong)
          catch { case e: SnapConflict => conflicts += 1; throw e }
      }
      val bucket = rnd.nextInt(Buckets)
      op("serve", i)(serve(path, bucket)).foreach { got =>
        r.check(got == want(i, bucket), s"serve of bucket $bucket after append $i differs from the staged deltas")
      }
      if (i % CompactEvery == 0) op("compact", i) {
        SnapTables.compactPartitions(spark, path, "bucket")
        SnapTables.expire(spark, path, "bucket")
      }
    }
  }

  private def slice(i: Int): DataFrame = spark.read.parquet(sliceDirs(i))

  private def serve(path: String, bucket: Int): Map[String, (Long, Long)] = {
    val df = tracer.span("snaptables.resolve")(SnapTables.resolve(spark, path, "bucket"))
    tracer.span("snaptables.scan") {
      df.where(col("bucket") === bucket)
        .groupBy("author").agg(count(lit(1)), sum(length(col("content"))))
        .collect().map(row => row.getString(0) -> (row.getLong(1), row.getLong(2))).toMap
    }
  }

  private def want(upTo: Int, bucket: Int): Map[String, (Long, Long)] =
    (0 to upTo).flatMap(i => expected.getOrElse((i, bucket), Map.empty)).groupBy(_._1)
      .map { case (a, xs) => a -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum) }

  /** Rounds on fresh tables while half a round more of the mean length
    * still fits in `seconds`, so the timed ops add up to the nearest whole
    * round; the final generation of each is checked afterwards.
    */
  def measure(traced: Boolean, seconds: Double): Measured = {
    val startMs = System.currentTimeMillis()
    val rnd = new java.util.Random(o.seed)
    val ms = Seq("append", "serve", "compact").map(_ -> collection.mutable.ArrayBuffer.empty[Double]).toMap
    def wallS = ms.values.map(_.sum).sum / 1e3
    var cpuNs = 0L
    def timed(what: String, i: Int)(body: => Any): Option[Any] = {
      val t0 = System.nanoTime()
      val c0 = Proc.cpuNs()
      val res = r.op(s"$what $i")(tracer.span(what)(body))
      cpuNs += Proc.cpuNs() - c0
      ms(what) += Stats.msSince(t0)
      res
    }
    val tables = collection.mutable.ArrayBuffer.empty[String]
    do {
      runs += 1
      tables += s"${o.work}/table-$runs"
      round(tables.last, rnd, (what, i) => body => timed(what, i)(body))
    } while (wallS + wallS / tables.size / 2 <= seconds)
    val endMs = System.currentTimeMillis()
    ms.foreach { case (k, xs) => System.err.println(s"[perfbench] $k ms: ${xs.map(_.toLong).mkString(" ")}") }
    val m = Measured(wallS, startMs, endMs, tables.size)
    val appended = expected.collect { case ((s, _), byAuthor) if s >= 1 => byAuthor.values.map(_._1).sum }.sum
    m.put("rows_per_s", appended * tables.size / wallS, "rows/s")
    m.put("rows_per_cpu_s", appended * tables.size / (cpuNs / 1e9), "rows/s")
    m.put("batch_ms_p50", Stats.median(ms("append").toSeq), "ms")
    m.put("batch_ms_p90", Stats.pct(ms("append").toSeq, 90), "ms")
    m.put("serve_ms_p50", Stats.median(ms("serve").toSeq), "ms")
    m.put("serve_ms_p90", Stats.pct(ms("serve").toSeq, 90), "ms")
    m.put("stored_bytes_ratio", Stats.bytesUnder(tables.head).toDouble / sliceBytes.sum, "ratio")
    tables.foreach(checkFinal)
    if (traced) traceLayer(tables.head)
    m
  }

  /** The final generation holds exactly the staged rows. */
  private def checkFinal(path: String): Unit = {
    def digest(df: DataFrame): Row = df.select(tableCols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(tableCols.map(col): _*).cast("decimal(38,0)"))).head()
    val got = digest(SnapTables.resolve(spark, path, "bucket"))
    val want = digest(spark.read.parquet(sliceDirs: _*))
    r.check(got == want, s"final generation holds $got, the staged slices $want")
  }

  private def traceLayer(path: String): Unit = {
    val spans = tracer.all
    def p50(name: String) = Stats.median(spans.filter(_.name == name).map(_.durMs))
    r.put("snaptables.resolve_ms_p50", p50("snaptables.resolve"), "ms")
    r.put("snaptables.scan_ms_p50", p50("snaptables.scan"), "ms")
    r.put("snaptables.compact_ms", p50("compact"), "ms")
    val gen = SnapTables.currentGeneration(spark, path).get
    r.put("snaptables.files_live", SnapTables.manifestEntries(spark, path, gen).values.map(_.size).sum.toDouble, "count")
    r.put("snaptables.manifest_bytes", new File(f"$path/_manifests/gen-$gen%06d.tsv").length().toDouble, "bytes")
    r.put("snaptables.conflicts", conflicts.toDouble, "count")
  }

  /** This workload runs no stream, so no source, parse, tokenize, window
    * or sink layer: they read 0 here.
    */
  def layers(): Unit = ArticleStream.LayerMetrics.foreach { case (k, u) => r.put(k, 0, u) }
}

object SnapshotIngest {
  val RowsPerSlice = 2000
  val RoundAppends = 6
  val WarmRounds = 1
  val Buckets = 16
  val CompactEvery = 3

  /** The per-layer metrics only this workload measures, with their units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "snaptables.resolve_ms_p50" -> "ms", "snaptables.scan_ms_p50" -> "ms",
    "snaptables.compact_ms" -> "ms", "snaptables.files_live" -> "count",
    "snaptables.manifest_bytes" -> "bytes", "snaptables.conflicts" -> "count")
}
