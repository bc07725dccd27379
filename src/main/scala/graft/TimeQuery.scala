package graft

/** Diagnostic timer: run one catalog query N times against a scale-factor
  * dir and print per-run wall times (same session shape and noop-sink
  * materialization as Bench). Usage:
  *
  * {{{ runMain graft.TimeQuery q68_kmeans_ivf_topk /root/testdata/sf0.1 3 }}}
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <query> <sfDir> [reps=3]")
    val (name, sfDir) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 0, s"reps must be >= 0 (0 prints the plan), got $reps")
    val spark = Sessions.local(Sessions.envCpus())
    val fn = SparkEntry.queries(name)
    if (reps == 0) { // reps=0: print the formatted physical plan instead
      fn(spark, sfDir).explain("formatted")
      spark.stop()
      return
    }
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[timequery] $name run$i: $s%.2f s")
      s
    }
    println(f"[timequery] $name cold=${times.head}%.2f warm_min=${times.tail.minOption.getOrElse(times.head)}%.2f")
    spark.stop()
  }
}
