package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ListenerBridge

/** Spark counters summed over the jobs of one job group. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  var runMs, cpuNs, gcMs, peakExecMem = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Charges every job, stage and task to the job group that submitted it.
  * Events arrive on Spark's listener thread; readers call
  * [[Tracer.drain]] first and then read under the same lock.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]

  private def of(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    // the final stage's name is the job's call site ("count at X.scala:12")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)
    jobs(e.jobId) = JobRecord(e.jobId, g, site, e.stageIds.size, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  def counters(group: String): Counters = synchronized {
    val c = new Counters; groups.get(group).foreach(c.add); c
  }

  /** Every job of the group, in submission order. */
  def jobsOf(group: String): Seq[JobRecord] = synchronized {
    jobs.values.filter(_.group == group).toSeq
  }
}

/** One job as its start event describes it: the job group that submitted
  * it, the call site that triggered it and the stages it declared.
  */
final case class JobRecord(id: Int, group: String, callSite: String, stages: Int,
                           startMs: Long, endMs: Long)

/** One traced interval. `layer` names the module whose public call the
  * span wraps ("op" for a whole op, "check" for result checking).
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      layer: String, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def nanos: Long = endNs - startNs
  def seconds: Double = nanos / 1e9
  def group: String = s"graftbench-$id"
}

/** Wraps calls into graft's layers. The untraced form only runs the body. */
trait Spans {
  def span[T](op: String, name: String, layer: String)(body: => T): T
}

object NoTrace extends Spans {
  def span[T](op: String, name: String, layer: String)(body: => T): T = body
}

/** Records spans in memory and sets a job group per span, so each job is
  * charged to the innermost span that submitted it — jobs run while a
  * DataFrame is being built land on the op that built it.
  */
final class Tracer(spark: SparkSession) extends Spans {
  val listener = new GroupListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener); attached = true
  }
  def detach(): Unit = if (attached) {
    drain(); spark.sparkContext.removeSparkListener(listener); attached = false
  }

  def span[T](op: String, name: String, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), op, name, layer,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, s"$op/$name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, s"${p.op}/${p.name}", interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Deliver every queued listener event before counters are read. */
  def drain(): Unit =
    require(ListenerBridge.waitUntilEmpty(spark, 120000L),
      "listener bus did not drain within 120 s")

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The span and everything beneath it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counters of the span's own jobs plus those of every span beneath it. */
  def countersOf(s: Span): Counters = {
    val c = new Counters
    subtree(s).foreach(x => c.add(listener.counters(x.group)))
    c
  }

  /** Every job of the span's subtree, in submission order, each tagged
    * with the name of the span that submitted it.
    */
  def jobLog(s: Span): Seq[(String, JobRecord)] =
    subtree(s).flatMap(x => listener.jobsOf(x.group).map(x.name -> _)).sortBy(_._2.id)

  /** Wall seconds of the span during which no job of its subtree ran. */
  def driverOnlySeconds(s: Span): Double = {
    val iv = subtree(s).flatMap(x => listener.jobsOf(x.group))
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, s.seconds - covered / 1e3)
  }
}
