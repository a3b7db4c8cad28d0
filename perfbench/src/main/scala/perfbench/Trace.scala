package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval with a parent. Times are epoch milliseconds
  * (Spark's listener events carry epoch ms, so the harness uses the same
  * clock for its own spans).
  */
final case class Span(id: Long, parent: Long, level: String, name: String,
                      start: Long, end: Long)

/** The benchmark's own view of the engine, registered from outside the
  * program: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for the SQL metrics of each executed plan.
  *
  * Jobs are attributed to the harness span that was current on the driver
  * thread when they were submitted: the harness sets the local property
  * `perfbench.span` before each call into the program, and Spark copies
  * local properties into every job it submits from that thread. A job's
  * call site is the name Spark gives its final stage, computed from the
  * submitting stack ("count at Components.scala:99"); the stage details
  * hold that stack, which finds jobs submitted from inside
  * `graft.operators.Components` at any depth.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val listenerNanos = new AtomicLong(0)

  // engine counters
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var spillBytes = 0L
  var peakExecMem = 0L
  var componentsJobs = 0L; var componentsJobMs = 0L
  var checkpointJobs = 0L
  /** max over stages of (max task time / median task time); stages with
    * fewer than 2 tasks carry no skew signal and are skipped. */
  var worstSkew = 1.0

  private case class JobInfo(span: Long, site: String, components: Boolean, start: Long)
  private val jobInfo = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTaskTimes = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  /** SQL metric totals by plan-node name, summed over executed plans. */
  val nodeRows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally listenerNanos.addAndGet(System.nanoTime() - t0)
  }

  def tracingSeconds: Double = listenerNanos.get / 1e9

  // ---- harness spans -----------------------------------------------------

  private var current: Long = 0L

  /** Run `body` as a child span of the current one; jobs it submits are
    * attributed to it. */
  def span[T](level: String, name: String)(body: => T): T = {
    val id = ids.getAndIncrement()
    val parent = current
    val start = System.currentTimeMillis()
    current = id
    sc.setLocalProperty("perfbench.span", id.toString)
    try body
    finally {
      val end = System.currentTimeMillis()
      synchronized { spans += Span(id, parent, level, name, start, end) }
      current = parent
      sc.setLocalProperty("perfbench.span", if (parent == 0L) null else parent.toString)
    }
  }

  // ---- SparkListener -----------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // the job's call site is its final stage's name (short form) and
    // details (the stack that submitted it)
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val short = last.map(_.name).getOrElse("")
    val long = last.map(_.details).getOrElse("")
    val comp = short.contains("Components.scala") || long.contains("graft.operators.Components")
    val parent = prop("perfbench.span") match { case "" => 0L; case s => s.toLong }
    jobInfo.put(e.jobId, JobInfo(parent, short, comp, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    synchronized {
      jobs += 1
      if (comp) componentsJobs += 1
      if (short.startsWith("localCheckpoint at") || short.startsWith("checkpoint at"))
        checkpointJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val info = jobInfo.remove(e.jobId)
    if (info != null) synchronized {
      val id = 1000000000L + e.jobId
      spans += Span(id, info.span, "job", info.site, info.start, e.time)
      if (info.components) componentsJobMs += e.time - info.start
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val job = Option(stageJob.get(si.stageId)).map(_.toInt).getOrElse(-1)
    synchronized {
      stages += 1
      val times = stageTaskTimes.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
      if (times.size >= 2) {
        val sorted = times.sorted
        val med = math.max(sorted(sorted.size / 2), 1L)
        worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
      }
      val start = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(start)
      spans += Span(2000000000L + si.stageId * 16L + si.attemptNumber(),
        if (job >= 0) 1000000000L + job else 0L, "stage", si.name, start, end)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += 1
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      stageTaskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        (e.taskInfo.finishTime - e.taskInfo.launchTime)
    }
  }

  // ---- QueryExecutionListener ----------------------------------------------

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val plan = qe.executedPlan
      val nodes = mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        nodes += p
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case _ =>
        }
      }
      walk(plan)
      nodes.foreach { n =>
        n.metrics.get("numOutputRows").foreach { m =>
          val name = n.nodeName
          synchronized { nodeRows(name) = nodeRows(name) + m.value }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def register(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(queryListener)
  }

  def unregister(): Unit = {
    // drain the bus so every event of the finished work has been counted
    waitForEvents()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def waitForEvents(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = synchronized { spans.toSeq.sortBy(s => (s.start, s.id)) }

  /** Spans as JSON lines, children after parents in start order. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"level":"${s.level}","name":${Json.str(s.name)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine and host figures shared by every traced workload. */
object Engine {
  private val MB = 1048576.0

  /** Listener totals over the traced operations. */
  def report(t: Trace, r: Main.Result, pinnedMb: Double): Unit = {
    r.put("engine.jobs", t.jobs)
    r.put("engine.stages", t.stages)
    r.put("engine.tasks", t.tasks)
    r.put("engine.task_s", t.taskMs / 1e3)
    r.put("engine.gc_s", t.gcMs / 1e3)
    r.put("engine.shuffle_write_mb", t.shuffleWriteBytes / MB)
    r.put("engine.shuffle_read_mb", t.shuffleReadBytes / MB)
    r.put("engine.spill_mb", t.spillBytes / MB)
    r.put("engine.peak_exec_mem_mb", t.peakExecMem / MB)
    r.put("engine.task_skew", t.worstSkew)
    r.put("engine.checkpoint_jobs", t.checkpointJobs)
    r.put("engine.pinned_storage_mb", pinnedMb)
    r.put("components.jobs", t.componentsJobs)
    r.put("components.job_s", t.componentsJobMs / 1e3)
    r.put("host.cpu_control_eff", cpuControl())
    r.put("trace.listener_s", t.tracingSeconds)
  }

  /** Pure-CPU control: the same sum(sin(i)) work on 1 thread and split over
    * 4 threads, alternated three times, fastest of each kept. Its 1→4
    * efficiency is what the host delivered at the time of the run, the
    * ceiling `scaling_eff` is judged against. */
  def cpuControl(): Double = {
    def work(from: Long, until: Long): Double = {
      var i = from; var s = 0.0
      while (i < until) { s += math.sin(i.toDouble); i += 1 }
      s
    }
    val n = 10000000L
    def on(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ths = (0 until threads).map { k =>
        val th = new Thread(() => { work(k * n, (k + 1) * n); () })
        th.start(); th
      }
      ths.foreach(_.join())
      Main.seconds(t0)
    }
    on(4) // JIT warm-up
    val (one, four) = (1 to 3).map(_ => (on(1), on(4))).unzip
    one.min / four.min
  }
}
