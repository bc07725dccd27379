package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built: every main, the application and the
  * test session go through [[build]], so they cannot drift in conf.
  */
object Sessions {

  /** What every engine session pins: UTC, nanosecond parquet timestamps
    * readable as longs (see `Tables.load`), no UI, the fork-free local
    * filesystem and the engine's own SQL functions and optimizer rule.
    *
    * Artifact isolation is off. With it on (Spark 4's default), every clone
    * of a session, which each streaming query runs on, gets its own
    * classloader, and Spark's codegen cache is keyed by classloader: each
    * query compiled the same generated classes again and ran them cold
    * through the JIT. The engine adds no session artifacts (jars, files),
    * so isolation guards nothing here; this is Spark 3.5's behaviour.
    */
  val Pinned: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName) ++
    streaming.LocalFs.SessionConf

  /** A session on `master` (`None`: the one `spark-submit` sets) with
    * `shufflePartitions` shuffle partitions, [[Pinned]] and `extra` on top.
    */
  def build(master: Option[String], shufflePartitions: Int,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().config(Pinned ++ extra)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
    master.foreach(b.master)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    LogHygiene.quietBoundedWindowWarnings()
    s
  }

  /** `local[cpus]` with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = build(Some(s"local[$cpus]"), cpus)

  /** `SPARK_GRAFT_CPUS`, else `default` (this machine's core count). */
  def envCpus(default: Int = Runtime.getRuntime.availableProcessors()): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
