package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.streaming.AppConfig

/** Command-line options of one benchmark run. `work` is a fresh scratch
  * root owned by this run (inputs, outputs, checkpoints, tables); the
  * launcher deletes it afterwards. `corrupt` names a deliberate defect the
  * benchmark's own tests inject to prove a correctness check fires.
  */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    out: String,
    launchedAtMs: Long,
    cpus: Int,
    corrupt: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      work = req("work"),
      out = req("out"),
      launchedAtMs = kv.get("launched-at-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      cpus = kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      corrupt = kv.get("corrupt"))
  }
}

/** What one run reports: op counts and named metrics with units. Each
  * failure is logged with its reason.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one op; a thrown exception or a failed check makes it a failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: $e")
        None
    }
  }

  def fail(why: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAIL $why")
  }

  /** A check that is not an op of its own: it fails the op it belongs to. */
  def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** One workload: staging (`stage`, called [[Main.Setups]] times on fresh
  * directories; the last staging is the one measured), warm-up on it
  * (`warmUp`, once), the measured phase with its correctness checks
  * (`measure`, a closed loop of whole rounds whose timed wall comes to the
  * nearest whole round to `seconds`; run once, and once more with tracing on in traced
  * runs) and the per-layer numbers only a traced run reports (`layers`).
  */
trait Workload {
  def stage(): Unit
  def warmUp(): Unit
  def measure(traced: Boolean, seconds: Double): Measured
  def layers(): Unit
}

/** End-to-end metrics of one measured phase: the wall time its timed ops
  * took, the epoch milliseconds the phase started and ended at, and the
  * number of rounds it ran.
  */
final case class Measured(wallS: Double, startMs: Long, endMs: Long, rounds: Int) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

object Json {
  def str(s: String): String = graft.Json.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Entry point. Builds the session through `AppConfig.buildSession()` — the
  * builder the application itself uses — so a change to session
  * construction is measured without editing the benchmark. Prints one
  * `PERFBENCH_RESULT <json>` line; the launcher turns it into the result.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = AppConfig(
      appName = s"perfbench-${o.workload}",
      masterUrl = Some(s"local[${o.cpus}]"),
      shufflePartitions = o.cpus).buildSession()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogHygiene.quietBoundedWindowWarnings()
    val sessionReadyS = (System.currentTimeMillis() - o.launchedAtMs) / 1e3
    System.err.println(f"[perfbench] session ready after $sessionReadyS%.2f s")
    val report = new Report
    val tracer = new Tracer(s"${o.workload}-${o.seed}")
    tracer.spark = Some(spark)
    val counters = if (o.trace) Some(SparkCounters.register(spark, tracer)) else None
    try {
      val w: Workload = o.workload match {
        case "article_stream" => new ArticleStream(spark, o, report, tracer)
        case "snapshot_ingest" => new SnapshotIngest(spark, o, report, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // set-up is session start, the median of repeated stagings (so one
      // slow staging does not decide the figure) and the warm-up
      val stagings = (1 to Setups).map { _ =>
        val t0 = System.nanoTime()
        w.stage()
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] stagings s: ${stagings.map(x => f"$x%.2f").mkString(" ")}; warm-up s: $warmS%.2f")
      report.put("setup_s", sessionReadyS + Stats.median(stagings) + warmS, "s")
      val plain = w.measure(traced = false, o.seconds)
      if (!o.trace) plain.metrics.foreach { case (k, (v, u)) => report.put(k, v, u) }
      else {
        // the same measured phase again with spans, job groups and the
        // listener armed; the difference is the tracing overhead
        counters.foreach(_.arm())
        tracer.enabled = true
        val traced = w.measure(traced = true, o.seconds)
        tracer.enabled = false
        counters.foreach(_.report(report, traced))
        // both phases run for the same time, so the overhead is read from
        // their throughput per CPU second
        val rate = (m: Measured) => m.metrics("rows_per_cpu_s")._1
        report.put("trace.overhead_pct", 100.0 * (rate(plain) / rate(traced) - 1), "%")
        plain.metrics.foreach { case (k, (v, u)) =>
          val tv = traced.metrics(k)._1
          println(f"PERFBENCH_OVERHEAD $k untraced=$v%.6g traced=$tv%.6g $u")
        }
        w.layers()
        tracer.all.map(_.name).distinct.sorted.foreach { n =>
          println(f"PERFBENCH_SELF_MS $n ${tracer.selfMs(n)}%.1f")
        }
        tracer.write(s"${o.out}/spans_${o.workload}_seed${o.seed}.jsonl")
      }
      report.put("rss_peak_mb", Proc.vmHwmMb(), "MB")
      println("PERFBENCH_RESULT " + report.json)
    } finally spark.stop()
  }
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all its threads, in nanoseconds. Time a virtual
    * CPU spends waiting for its host (steal) is not counted.
    */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Peak resident set size of this JVM (`VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }
  }
}
