package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark runtime, summed over the jobs of one span. */
final class Counters {
  var jobs = 0L
  var checkpointJobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
  var planMs = 0L
}

/** One timed region of the benchmark; `parent` is -1 at the top level. */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, startNs: Long,
                      var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory trace of one benchmark process.
  *
  * A span is opened around each call the benchmark makes into the
  * engine's public API. Opening a span sets a thread-local Spark property,
  * so every job the call submits carries the span id; the listener half of
  * this class then attributes job, stage and task counters to that span.
  * Spans and counters stay in memory and are written as JSON once, when the
  * run ends ([[toJson]]), so tracing adds no I/O inside a timed pass. */
final class Trace(val runId: String) extends SparkListener
    with QueryExecutionListener {

  private val PropKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var sc: SparkContext = _

  // listener state, written by the listener-bus thread
  private val jobSpan = mutable.Map[Int, Int]()
  private val jobTimes = mutable.Map[Int, (Long, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val counters = mutable.Map[Int, Counters]()
  @volatile private var lastEventNs = System.nanoTime()

  def attach(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(this)
  }

  /** Runs `body` inside a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T = {
    val s = spans.synchronized {
      val s = Span(spans.length, name, open.headOption.getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    val prev = if (sc != null) sc.getLocalProperty(PropKey) else null
    open.push(s.id)
    if (sc != null) sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.pop()
      if (sc != null) sc.setLocalProperty(PropKey, prev)
    }
  }

  /** Blocks until the listener bus has been idle for `quietMs`, so counters
    * of the jobs that just ended are in before they are read. Called
    * outside the spans it serves. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(20)
  }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private def countersOf(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  private def spanOfStage(stageId: Int): Option[Int] =
    stageJob.get(stageId).flatMap(jobSpan.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobTimes(e.jobId) = (e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val c = countersOf(span)
    c.jobs += 1
    // the result stage's details hold the call site of the action that
    // submitted the job
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)
      .getOrElse("")
    if (site.contains("Frames.truncate") || site.contains("localCheckpoint") ||
      site.contains(".checkpoint("))
      c.checkpointJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      touch()
      spanOfStage(e.stageInfo.stageId).foreach(s => countersOf(s).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    spanOfStage(e.stageId).foreach { s =>
      val c = countersOf(s)
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Analysis + optimization + physical planning time of one query. */
  private def planMs(qe: QueryExecution): Long =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum

  /** Plan time of the queries run by DataFrame actions: (arrival time,
    * ms). The listener does not see the submitting thread, so [[total]]
    * charges each to a span by arrival time (see [[drain]]). */
  private val planEvents = mutable.ArrayBuffer[(Long, Long)]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    touch()
    planEvents += ((System.currentTimeMillis(), planMs(qe)))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized {
    touch()
    planEvents += ((System.currentTimeMillis(), planMs(qe)))
  }

  def spansNamed(name: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name == name).toSeq)

  private def descendants(root: Int): Set[Int] = spans.synchronized {
    var acc = Set(root)
    var grew = true
    while (grew) {
      val next = acc ++ spans.filter(s => acc(s.parent)).map(_.id)
      grew = next.size > acc.size
      acc = next
    }
    acc
  }

  /** Counters of a span and every span nested in it. A plan event counts
    * if it arrived during the span or after it, before the next span
    * opened (at most 2 s after). */
  def total(root: Span): Counters = synchronized {
    val ids = descendants(root.id)
    val t = new Counters
    ids.flatMap(counters.get).foreach { c =>
      t.jobs += c.jobs; t.checkpointJobs += c.checkpointJobs
      t.stages += c.stages; t.tasks += c.tasks; t.runMs += c.runMs
      t.gcMs += c.gcMs; t.shuffleWrite += c.shuffleWrite
      t.shuffleRead += c.shuffleRead; t.fetchWaitMs += c.fetchWaitMs
      t.spill += c.spill; t.inBytes += c.inBytes; t.inRows += c.inRows
      t.planMs += c.planMs
    }
    val next = spans.synchronized(spans.map(_.startMs)
      .filter(_ > root.endMs).minOption.getOrElse(Long.MaxValue))
    t.planMs += planEvents.collect {
      case (at, ms) if at >= root.startMs && at <= (root.endMs + 2000 min next) => ms
    }.sum
    t
  }

  /** Wall time of `root` during which at least one of its jobs ran, in ms. */
  def busyMs(root: Span): Long = synchronized {
    val ids = descendants(root.id)
    val iv = jobSpan.collect { case (j, s) if ids(s) => jobTimes(j) }
      .filter(_._2 >= 0)
      .map { case (a, b) => (a max root.startMs, b min root.endMs) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) busy += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  /** Pass wall time minus the union of its job intervals. */
  def driverGapS(root: Span): Double =
    ((root.endMs - root.startMs - busyMs(root)) max 0L) / 1e3

  def toJson: String = synchronized {
    val sb = new StringBuilder
    sb ++= s"""{"run_id": ${Json.str(runId)}, "spans": ["""
    sb ++= spans.map { s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""run_id": ${Json.str(runId)}}"""
    }.mkString(", ")
    sb ++= """], "counters": {"""
    sb ++= counters.toSeq.sortBy(_._1).map { case (id, c) =>
      s""""$id": {"jobs": ${c.jobs}, "checkpoint_jobs": ${c.checkpointJobs}, """ +
        s""""stages": ${c.stages}, "tasks": ${c.tasks}, "run_ms": ${c.runMs}, """ +
        s""""gc_ms": ${c.gcMs}, "shuffle_write": ${c.shuffleWrite}, """ +
        s""""shuffle_read": ${c.shuffleRead}, "fetch_wait_ms": ${c.fetchWaitMs}, """ +
        s""""spill": ${c.spill}, "in_bytes": ${c.inBytes}, """ +
        s""""in_rows": ${c.inRows}, "plan_ms": ${c.planMs}}"""
    }.mkString(", ")
    sb ++= "}}"
    sb.toString
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
