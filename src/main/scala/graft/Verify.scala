package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args after
  * (sfDir, outDir) restrict the dump to those query names (oracle_sql.json
  * is always written in full) — the fast re-check loop with check.py's own
  * subset args.
  *
  * Round-18 gate-wall-time fix (VERDICT r17 #1: the driver's correctness
  * artifact shipped empty after the ~35 min gate outran its budget):
  * queries run on a small WORKER POOL over one shared session instead of
  * strictly sequentially. Safe because every catalog query is
  * self-contained — no temp views, no session-conf mutation beyond the
  * idempotent nanosAsLong pin, per-query Scratch dirs are
  * createTempDirectory-unique, and Spark schedules concurrent actions from
  * independent threads (FIFO across jobs, tasks interleave). Each worker
  * pins the shared session as its thread's active session so
  * thread-local lookups inside ops code resolve. Failures stay per-query
  * (logged, dump continues). SPARK_GRAFT_VERIFY_PAR=1 restores the
  * sequential behavior; default 6 — measured on the 425-query catalog at
  * sf0.01 (round 19): par=4 310.9 s, par=6 221.6 s (hash-green 425/425),
  * par=8 257.8 s (local[8] oversubscribed) — 6 is the knee.
  *
  * Round-19 record-survival fixes (VERDICT r18 #1: CORRECTNESS_r17/r18
  * shipped `{}` while BENCH_r18 parsed, because Bench prints ONE compact
  * JSON line LAST and the driver keeps only a 2000-char stdout tail):
  *  - the dump prints the same discipline's compact line as its LAST
  *    stdout output: `{"component":"verify","n_dumped":…,"n_error":…,
  *    "failed":[…],"sec":…}` — a truncated driver capture still carries
  *    the dump-side record;
  *  - per-query wall seconds land in `<outDir>/verify_timings.json` (the
  *    engine-side half of the gate-economics ledger; check.py's
  *    `oracle_sec` is the oracle-side half);
  *  - `<outDir>/families.json` maps each query to its catalog group so
  *    check.py can print a family rollup in ITS final compact line;
  *  - queries tagged `gateSlow` in the catalog are enqueued LAST, so a
  *    driver-side timeout kills the expensive tail, not the broad body —
  *    together with check.py's incremental flush the artifact then holds
  *    every fast row instead of `{}`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val t0 = System.nanoTime()
    val (sfDir, outDir) = (args(0), args(1))
    val subset = args.drop(2).toSet
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt
    val spark = Sessions.local(Sessions.envCpus(8))
    new java.io.File(outDir).mkdirs()
    val work = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    // fast tier first, gateSlow tail last (catalog order within each tier)
    SparkEntry.catalog
      .filter(q => subset.isEmpty || subset.contains(q.name))
      .sortBy(_.gateSlow)
      .foreach(q => work.add((q.name, q.fn)))
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def drain(): Unit = {
      SparkSession.setActiveSession(spark)
      var next = work.poll()
      while (next != null) {
        val (name, fn) = next
        val q0 = System.nanoTime()
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        timings.put(name, (System.nanoTime() - q0) / 1e9)
        next = work.poll()
      }
    }
    val workers = (1 until par).map { i =>
      val t = new Thread(() => drain(), s"verify-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    drain() // the main thread is worker 0
    workers.foreach(_.join())
    // JSON string escape shared with Bench — see graft.Json.
    def q(s: String): String = Json.str(s)
    // oracle_sql.json is LOAD-BEARING (the driver's compare reads it) —
    // let a failure here propagate; the diagnostic sidecars and stop()
    // below are not, and must never suppress the compact record line a
    // fully successful dump has earned
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    import scala.jdk.CollectionConverters._
    try {
      val fams = SparkEntry.catalogGroups
        .flatMap { case (g, defs) => defs.map(d => s"${q(d.name)}: ${q(g)}") }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/families.json"), fams)
      Files.writeString(Paths.get(s"$outDir/verify_timings.json"),
        timings.asScala.toSeq.sortBy(-_._2)
          .map { case (n, s) => f"${q(n)}: $s%.2f" }.mkString("{", ",", "}"))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] sidecar write failed: ${e.getMessage}")
    }
    val failedNames = failed.asScala.toSeq.sorted
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[verify] spark.stop failed: ${e.getMessage}")
    }
    // the compact record line, LAST on stdout (the driver keeps a 2000-char
    // tail — the exact discipline that made BENCH_r18 the first parsed
    // bench artifact); the failed list is capped so one systemic breakage
    // cannot push the counts out of the tail window
    println(s"""{"component":"verify","n_dumped":${timings.size - failedNames.size},""" +
      s""""n_error":${failedNames.size},""" +
      s""""failed":${failedNames.take(20).map(q).mkString("[", ",", "]")},""" +
      f""""sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")
  }
}
