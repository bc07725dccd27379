package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic: run one catalog query (cold + one warm rep) and print every
  * Spark job the WARM run launches — wall time, stage count, task count —
  * so optimization targets the measured action, not the whole opaque query.
  * Not a query path; never on the bench.
  *
  * {{{ tools/jobprobe.sh q95_ivfpq_topk /root/testdata/sf0.1 }}}
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <query> <sfDir>")
    val (name, sfDir) = (args(0), args(1))
    val spark = graft.Sessions.local(graft.Sessions.envCpus())
    val fn = graft.SparkEntry.queries(name)
    // cold run unobserved (planning + codegen noise)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    case class J(id: Int, var t0: Long = 0L, var wallMs: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var desc: String = "")
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, t0 = e.time)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized { jobs(e.jobId) = j }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(j => j.wallMs = e.time - j.t0) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          // attribute to the most recent job (stage->job mapping is enough
          // for a serial driver)
          jobs.lastOption.foreach { case (_, j) =>
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // drain listener bus
    println(f"[jobprobe] $name warm total: $wall%.2f s, ${jobs.size} jobs")
    jobs.values.foreach { j =>
      println(f"[jobprobe]   job ${j.id}%3d ${j.wallMs / 1000.0}%7.2f s stages=${j.stages}%3d tasks=${j.tasks}%5d ${j.desc.take(80)}")
    }
    spark.stop()
  }
}
