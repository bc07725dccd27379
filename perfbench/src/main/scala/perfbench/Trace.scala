package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 at the
  * root. Spans of one run share `run`.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    run: String, attrs: Map[String, String] = Map.empty) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, written out once at the end of a run. Spans are
  * opened around the benchmark's calls into the program's public functions;
  * nothing inside the program is instrumented. When `enabled` is false every
  * call is a plain pass-through. While a span is open on the client thread
  * its id is the Spark job group, so the jobs the call causes nest under it.
  */
final class Tracer(val run: String) {
  @volatile var enabled = false
  var spark: Option[SparkSession] = None
  private val nextId = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current
      val start = nowNs
      stack.push(id)
      spark.foreach(_.sparkContext.setJobGroup(id.toString, name, interruptOnCancel = false))
      try body
      finally {
        stack.pop()
        spark.foreach { s =>
          if (stack.isEmpty) s.sparkContext.clearJobGroup()
          else s.sparkContext.setJobGroup(stack.head.toString, name, interruptOnCancel = false)
        }
        add(Span(id, parent, name, start, nowNs, run))
      }
    }

  /** Record an interval observed elsewhere (a Spark job, a trigger phase). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long,
      attrs: Map[String, String] = Map.empty): Int =
    if (!enabled) -1
    else {
      val id = nextId.getAndIncrement()
      add(Span(id, parent, name, startNs, endNs, run, attrs))
      id
    }

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Sum over spans called `name` of duration minus the union of the
    * intervals their children cover.
    */
  def selfMs(name: String): Double = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.filter(_.name == name).map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      (s.endNs - s.startNs - covered) / 1e6
    }.sum
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "run": ${Json.str(s.run)}, "attrs": {$attrs}}""")
    } finally w.close()
  }
}

/** Engine-wide counters from a `SparkListener`: jobs, stages and tasks
  * started after `arm()`, with the task metrics the layer split needs. In
  * traced runs each finished job is also recorded as a span under the
  * benchmark call whose job group it carries.
  *
  * It also reads the plan shape of every SQL execution that ends after
  * `arm()` (streaming micro-batches included, which a
  * `QueryExecutionListener` does not see): `graft.plans` expressions and
  * whole-stage codegen stages of the executed plan, inside adaptive query
  * stages too, each kept with the execution's end time.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener with AdaptiveSparkPlanHelper {
  @volatile private var armedAtMs = Long.MaxValue
  val jobs, stages, tasks = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong
  val cpuNs, runMs, gcMs = new AtomicLong
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  /** (end time ms, graft.plans expressions, codegen stages) per execution. */
  private val planShapes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  def arm(): Unit = {
    Seq(jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, runMs, gcMs).foreach(_.set(0))
    planShapes.clear()
    armedAtMs = System.currentTimeMillis()
  }

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    if (e.time >= armedAtMs) {
      jobs.incrementAndGet()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, (e.time, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, group) =>
      val parent = scala.util.Try(group.toInt).getOrElse(-1)
      tracer.record("spark.job", parent, t0 * 1000000L, e.time * 1000000L,
        Map("job_id" -> e.jobId.toString, "group" -> group))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    if (e.stageInfo.submissionTime.exists(_ >= armedAtMs)) stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    if (e.taskInfo.launchTime >= armedAtMs && m != null) {
      tasks.incrementAndGet()
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      touch()
      if (end.time >= armedAtMs) executedPlan(end).foreach { plan =>
        val nodes: Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }
        val graft = nodes.map(_.expressions.map(_.collect {
          case x if x.getClass.getName.startsWith("graft.plans.") => x
        }.size).sum).sum
        planShapes.add((end.time, graft.toLong, nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toLong))
      }
    case _ => ()
  }

  /** The event's query execution is internal to Spark SQL (`private[sql]`),
    * so it is read reflectively.
    */
  private def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]).toOption
      .flatMap(Option(_)).flatMap(qe => scala.util.Try(qe.executedPlan).toOption)

  /** The listener bus is asynchronous: wait until it has been quiet a while. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs.get() < 500 &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
  }

  /** The counters and the plan shape of the executions that ended inside
    * `timed`, per round of it: the phase runs whole rounds for a fixed
    * time, so a faster program runs more of them.
    */
  def report(r: Report, timed: Measured): Unit = {
    settle()
    val inside = planShapes.toArray(Array.empty[(Long, Long, Long)])
      .filter { case (t, _, _) => t >= timed.startMs && t <= timed.endMs }
    val n = timed.rounds.toDouble
    r.put("plans.graft_nodes", inside.map(_._2).sum / n, "count")
    r.put("plans.codegen_stages", inside.map(_._3).sum / n, "count")
    r.put("spark.jobs", jobs.get / n, "count")
    r.put("spark.stages", stages.get / n, "count")
    r.put("spark.tasks", tasks.get / n, "count")
    r.put("spark.shuffle_read_bytes", shuffleRead.get / n, "bytes")
    r.put("spark.shuffle_write_bytes", shuffleWrite.get / n, "bytes")
    r.put("spark.spill_bytes", spill.get / n, "bytes")
    r.put("spark.executor_cpu_ms", cpuNs.get / 1e6 / n, "ms")
    r.put("spark.executor_run_ms", runMs.get / n, "ms")
    r.put("spark.gc_ms", gcMs.get / n, "ms")
  }
}

object SparkCounters {
  def register(spark: SparkSession, tracer: Tracer): SparkCounters = {
    val c = new SparkCounters(tracer)
    spark.sparkContext.addSparkListener(c)
    c
  }
}

