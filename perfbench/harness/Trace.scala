package graftbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch milliseconds with
  * sub-millisecond fractions; `qid` is shared by every span of one query or
  * one writer operation, `parent` is -1 for a top-level span.
  */
final case class Span(id: Int, parent: Int, qid: Int, name: String, role: String,
                      start: Double, end: Double, attrs: Map[String, Any]) {
  def ms: Double = end - start
}

/** In-memory span recorder. A client thread names its role once; spans nest
  * through a per-thread stack. `detail` switches child spans off for the
  * untraced rounds of a traced run, while top-level spans are always kept so
  * that coverage of the workload wall time can be reported.
  */
final class Tracer(val enabled: Boolean) {
  private val t0n = System.nanoTime()
  private val t0ms = System.currentTimeMillis().toDouble
  def now(): Double = t0ms + (System.nanoTime() - t0n) / 1e6

  private val ids = new AtomicInteger
  private val done = mutable.ArrayBuffer.empty[Span]
  private final class Open(val id: Int, val qid: Int, val start: Double,
                           val attrs: mutable.Map[String, Any])
  private val stack = new ThreadLocal[List[Open]] { override def initialValue(): List[Open] = Nil }
  private val roleOf = new ThreadLocal[String] { override def initialValue(): String = "client" }
  private val detailOf = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = true
  }

  def setRole(role: String): Unit = roleOf.set(role)
  def role: String = roleOf.get
  def setDetail(on: Boolean): Unit = detailOf.set(on)
  def detail: Boolean = enabled && detailOf.get

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val parents = stack.get
    if (!enabled || (parents.nonEmpty && !detailOf.get)) return body
    val id = ids.incrementAndGet()
    val open = new Open(id, parents.headOption.map(_.qid).getOrElse(id), now(),
      mutable.Map(attrs: _*))
    stack.set(open :: parents)
    try body
    finally {
      val end = now()
      stack.set(parents)
      val s = Span(id, parents.headOption.map(_.id).getOrElse(-1), open.qid, name, role,
        open.start, end, open.attrs.toMap)
      done.synchronized(done += s)
    }
  }

  /** Attach a value to the innermost open span of this thread. */
  def annotate(key: String, value: Any): Unit =
    stack.get.headOption.foreach(_.attrs(key) = value)

  def spans: Seq[Span] = done.synchronized(done.toList).sortBy(_.start)
}

/** Per-job totals of the tasks the job ran. */
final class JobStats(val id: Int, val role: String, val start: Long) {
  var end: Long = start
  var stages = 0
  var tasks = 0L
  var failures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
}

/** Spark listener that folds task metrics into their jobs. A job's role is
  * the `graftbench.role` local property of the thread that submitted it, or
  * `defaultRole` for threads that never set it (pool threads of the program).
  */
final class JobCollector(defaultRole: String) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val role = Option(e.properties).flatMap(p => Option(p.getProperty(JobCollector.RoleKey)))
      .getOrElse(defaultRole)
    val j = new JobStats(e.jobId, role, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failures += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        if (info != null && info.finishTime > 0)
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toList)
}

object JobCollector {
  val RoleKey = "graftbench.role"
}

/** Trace post-processing: job-to-span attribution, self time, the per-layer
  * metrics and the JSON-lines dump.
  */
object TraceReport {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Each job goes to the innermost span of its role that was open when it
    * started.
    */
  def attribute(spans: Seq[Span], jobs: Seq[JobStats]): Map[Int, Seq[JobStats]] = {
    val byRole = spans.groupBy(_.role)
    jobs.flatMap { j =>
      byRole.getOrElse(j.role, Nil)
        .filter(s => s.start <= j.start + 0.5 && j.start <= s.end + 0.5)
        .sortBy(s => -s.start).headOption.map(s => s.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - covered(children.map(c => (c.start, c.end)), s.start, s.end)

  def writeJsonl(path: String, spans: Seq[Span], jobsOf: Map[Int, Seq[JobStats]]): Unit = {
    val kids = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      for (s <- spans) {
        val js = jobsOf.getOrElse(s.id, Nil)
        val fields = Map[String, Any](
          "type" -> "span", "id" -> s.id, "parent" -> s.parent, "qid" -> s.qid,
          "name" -> s.name, "role" -> s.role, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> selfMs(s, kids.getOrElse(s.id, Nil)),
          "jobs" -> js.size, "tasks" -> js.map(_.tasks).sum) ++ s.attrs
        w.println(Json.obj(fields))
      }
    } finally w.close()
  }
}
