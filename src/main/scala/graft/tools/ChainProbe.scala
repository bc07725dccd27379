package graft.tools

/** Shared-session cold-chain probe: run the given catalog queries ONCE each,
  * in order, inside one session (the Bench default-mode shape), printing
  * per-query cold seconds and the chain total. This is the measurement for
  * once-per-JVM memoized setups (memoPath/memoFrame): their effect exists
  * only when the twin legs share a JVM, which per-query TimeQuery runs
  * cannot see. Usage:
  *
  * {{{ runMain graft.tools.ChainProbe <sfDir> <query> [query ...] }}}
  */
object ChainProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ChainProbe <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.Sessions.local(graft.Sessions.envCpus())
    // same engine warm-up as Bench: don't charge session init to query 1
    graft.Tables.load(spark, sfDir, "nation").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    val total = names.map { n =>
      // the Bench inter-query sweep, outside the timed window
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[chain] $n cold=$s%.2f")
      s
    }.sum
    println(f"[chain] TOTAL cold=$total%.2f over ${names.size} queries")
    spark.stop()
  }
}
