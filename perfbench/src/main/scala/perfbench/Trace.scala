package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch nanoseconds; `parent` is the id of
  * the enclosing span (-1 for the root). Spark job and stage spans are
  * parented by time containment when the trace is written.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, runId: String)

/** In-memory span recorder for the spans the benchmark opens around its
  * calls into each layer. Disabled, `span` just runs its body.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def now(): Long = System.nanoTime() + offset

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.head
      spans += Span(id, name, now(), 0L, parent, runId)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = now())
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

/** Task-level counters summed over a set of tasks. */
final case class Counters(
    tasks: Long = 0, runNs: Long = 0, cpuNs: Long = 0,
    inBytes: Long = 0, inRecords: Long = 0,
    outBytes: Long = 0, outRecords: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, fetchWaitMs: Long = 0,
    spill: Long = 0) {
  def +(o: Counters): Counters = Counters(
    tasks + o.tasks, runNs + o.runNs, cpuNs + o.cpuNs,
    inBytes + o.inBytes, inRecords + o.inRecords,
    outBytes + o.outBytes, outRecords + o.outRecords,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    fetchWaitMs + o.fetchWaitMs, spill + o.spill)
}

final class StageRec(val id: Int, val attempt: Int) {
  var start = 0L
  var end = 0L
  var counters = Counters()
  val taskMs = ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val group: String, val start: Long,
    val stageIds: Seq[Int]) {
  var end = 0L
}

/** Listener that keeps every job, stage and task-metric event of the
  * session in memory, keyed by the job group the benchmark sets around
  * each timed call.
  */
final class SparkEvents extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs += new JobRec(e.jobId, group, e.time * 1000000L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.start = i.submissionTime.getOrElse(0L) * 1000000L
    s.end = i.completionTime.getOrElse(0L) * 1000000L
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.taskMs += e.taskInfo.duration
      s.counters = s.counters + Counters(
        tasks = 1, runNs = m.executorRunTime * 1000000L, cpuNs = m.executorCpuTime,
        inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
        outBytes = m.outputMetrics.bytesWritten,
        outRecords = m.outputMetrics.recordsWritten,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized(jobs.filter(_.group == group).toSeq)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.flatMap(_.stageIds).toSet
    stages.values.filter(s => ids.contains(s.id) && s.counters.tasks > 0).toSeq
  }
}

/** Runs a body under its own job group and returns the Spark jobs and
  * stages it ran. Without a listener (untraced runs) it only runs the body.
  */
final class Probe(sc: SparkContext, val events: Option[SparkEvents]) {
  private var n = 0

  def apply[A](body: => A): (A, Seq[JobRec], Seq[StageRec]) = {
    n += 1
    val group = s"perfbench-$n"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    events match {
      case None => (out, Nil, Nil)
      case Some(ev) =>
        org.apache.spark.PerfbenchBus.drain(sc)
        val js = ev.jobsOf(group)
        (out, js, ev.stagesOf(js))
    }
  }
}

object Trace {
  def total(stages: Seq[StageRec]): Counters = stages.map(_.counters).foldLeft(Counters())(_ + _)

  /** Max ÷ median task run time of the stage that ran longest in total. */
  def skew(stages: Seq[StageRec]): Double =
    if (stages.isEmpty) 0.0
    else {
      val busiest = stages.maxBy(_.counters.runNs)
      val t = busiest.taskMs.sorted
      val med = math.max(1L, t(t.length / 2))
      t.last.toDouble / med
    }

  /** Spark job and stage spans, parented by the innermost benchmark span
    * that contains them (stages under their job).
    */
  def sparkSpans(bench: Seq[Span], events: SparkEvents, runId: String): Seq[Span] = {
    var next = bench.length
    def container(start: Long, end: Long): Int =
      bench.filter(s => s.start <= start && end <= s.end && s.end > 0)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
    events.synchronized {
      events.jobs.toSeq.filter(_.end > 0).flatMap { j =>
        val jid = next; next += 1
        val jobSpan = Span(jid, s"spark.job ${j.id}", j.start, j.end,
          container(j.start, j.end), runId)
        val stageSpans = events.stages.values.toSeq
          .filter(s => j.stageIds.contains(s.id) && s.end > 0 && s.counters.tasks > 0)
          .map { s =>
            val sid = next; next += 1
            Span(sid, s"spark.stage ${s.id}.${s.attempt}", s.start, s.end, jid, runId)
          }
        jobSpan +: stageSpans
      }
    }
  }

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time (span duration minus the part its children cover), summed
    * per layer. A layer is the span name's prefix up to the first '.';
    * Spark job and stage spans count toward the layer of the benchmark
    * span that caused them.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def layer(s: Span): String =
      if (s.name.startsWith("spark.") && s.parent >= 0) layer(byId(s.parent))
      else s.name.takeWhile(c => c != '.' && c != ' ')
    spans.groupBy(layer).map { case (l, ss) =>
      l -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(t => t._2 > t._1)
        (s.end - s.start - covered(kids)) / 1e9
      }.sum
    }
  }
}
