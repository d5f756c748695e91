package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import graft.engine.{ExtractJob, Sinks, TranscriptsTable}
import graft.extract.Extract

/** Per-layer probes, each timed from outside through the layer's public
  * functions. Every probe runs under a span named after its layer.
  */
object Layers {

  /** Average nanoseconds per element of `f` over `xs`, repeating whole
    * passes until at least `minSeconds` have gone by.
    */
  def nsPer[A](xs: IndexedSeq[A], minSeconds: Double)(f: A => Any): Double = {
    var n = 0L
    var sink = 0
    val t0 = System.nanoTime()
    val until = t0 + (minSeconds * 1e9).toLong
    while (n == 0 || System.nanoTime() < until) {
      var i = 0
      while (i < xs.length) { sink += f(xs(i)).hashCode; i += 1 }
      n += xs.length
    }
    if (sink == 42) System.err.print("")
    (System.nanoTime() - t0).toDouble / n
  }

  /** Turns per second of bare `extractTurn` on `threads` plain threads. */
  def parallelThroughput(turns: IndexedSeq[(String, Int, String)], threads: Int,
      seconds: Double): Double = {
    val stop = new AtomicBoolean(false)
    val done = new AtomicLong()
    val ts = (0 until threads).map { k =>
      new Thread(() => {
        var i = k
        var local = 0L
        while (!stop.get()) {
          val (c, t, text) = turns(i % turns.length)
          Extract.extractTurn(c, t, text)
          local += 1
          i += threads
        }
        done.addAndGet(local)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    Thread.sleep((seconds * 1000).toLong)
    stop.set(true)
    ts.foreach(_.join())
    done.get() / ((System.nanoTime() - t0) / 1e9)
  }

  /** The extractor's per-turn cost, whole and by public stage. */
  def extract(turns: IndexedSeq[(String, Int, String)], tracer: Tracer,
      seconds: Double): Map[String, Double] = {
    val texts = turns.map(_._3)
    val stripped = texts.map(Extract.extractText)
    val extracted = turns.map { case (c, t, x) => Extract.extractTurn(c, t, x) }
    val per = seconds / 10
    def banks(s: String): Map[String, String] = {
      val d = Extract.classify(s)
      if (d == "FACESHEET") Extract.facesheetBank(s)
      else if (d.contains("PRESCRIPTION")) Extract.prescriptionBank(s)
      else if (d.contains("AGREEMENT")) Extract.agreementBank(s)
      else if (d == "INSURANCE") Extract.insuranceBank(s)
      else Map.empty
    }
    Map(
      "extract.turn_ns" -> tracer.span("extract.turn") {
        nsPer(turns, per * 2) { case (c, t, x) => Extract.extractTurn(c, t, x) } },
      "extract.par_turns_per_s" -> tracer.span("extract.parallel") {
        parallelThroughput(turns, Util.cores, per * 2) },
      "extract.text_ns" -> tracer.span("extract.text") { nsPer(texts, per)(Extract.extractText) },
      "extract.segment_ns" -> tracer.span("extract.segment") { nsPer(stripped, per)(Extract.segment) },
      "extract.classify_ns" -> tracer.span("extract.classify") { nsPer(stripped, per)(Extract.classify) },
      "extract.kv_anchors_ns" -> tracer.span("extract.kv_anchors") {
        nsPer(stripped, per)(Extract.kvAnchors) },
      "extract.banks_ns" -> tracer.span("extract.banks") { nsPer(stripped, per)(banks) },
      "extract.signature_ns" -> tracer.span("extract.signature") {
        nsPer(stripped, per)(Extract.detectSignature) },
      "extract.json_ns" -> tracer.span("extract.json") {
        nsPer(extracted, per) { e =>
          Extract.sectionsToJson(e.sections).length + Extract.fieldsToJson(e.fields).length +
            Extract.fieldsToJson(e.field_src).length
        } })
  }

  /** `TranscriptsTable.readSnapshot` into the `noop` sink. */
  def table(spark: SparkSession, probe: Probe, tracer: Tracer,
      in: Transcripts): Map[String, Double] = {
    val ((_, secs), _, stages) = probe(tracer.span("table.scan") {
      Util.time(TranscriptsTable.readSnapshot(spark, in.full).write.format("noop")
        .mode("overwrite").save())
    })
    val c = Trace.total(stages)
    Map("table.scan_s" -> secs, "table.read_bytes" -> c.inBytes.toDouble,
      "table.read_records" -> c.inRecords.toDouble)
  }

  private def extracted(spark: SparkSession, in: Transcripts, salted: Boolean): DataFrame =
    ExtractJob.extract(spark, TranscriptsTable.readSnapshot(spark, in.full), salted,
      saltBuckets = 16, presorted = !salted).toDF()

  /** `ExtractJob.extract` into the `noop` sink, and `Sinks.writeParquet`
    * of already-extracted, cached rows.
    */
  def jobAndSinks(spark: SparkSession, probe: Probe, tracer: Tracer, in: Transcripts,
      salted: Boolean, out: String): Map[String, Double] = {
    val (_, noop) = tracer.span("job.extract_noop") {
      Util.time(extracted(spark, in, salted).write.format("noop").mode("overwrite").save())
    }
    val rows = extracted(spark, in, salted).cache()
    rows.count()
    val ((_, write), _, stages) = probe(tracer.span("sinks.write") {
      Util.time(Sinks.writeParquet(rows, out))
    })
    rows.unpersist(blocking = true)
    val c = Trace.total(stages)
    Map("job.extract_noop_s" -> noop, "sinks.write_s" -> write,
      "sinks.output_bytes" -> c.outBytes.toDouble, "sinks.output_records" -> c.outRecords.toDouble)
  }

  /** Listener counters of one traced extraction call, under the job layer's
    * names. The results write is the job that wrote the most records; the
    * commit tail runs from its end to the call's return.
    */
  def jobCounters(jobs: Seq[JobRec], stages: Seq[StageRec], callEnd: Long): Map[String, Double] = {
    val c = Trace.total(stages)
    val byJob = jobs.map(j => j -> Trace.total(stages.filter(s => j.stageIds.contains(s.id))))
    val write = if (byJob.isEmpty) None else Some(byJob.maxBy(_._2.outRecords)._1)
    Map(
      "job.results_write_s" -> write.map(j => (j.end - j.start) / 1e9).getOrElse(0.0),
      "job.commit_tail_s" -> write.map(j => (callEnd - j.end) / 1e9).getOrElse(0.0),
      "job.tasks" -> c.tasks.toDouble, "job.cpu_s" -> c.cpuNs / 1e9,
      "job.task_skew" -> Trace.skew(stages),
      "job.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "job.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "job.fetch_wait_s" -> c.fetchWaitMs / 1e3, "job.spill_bytes" -> c.spill.toDouble)
  }

  /** Exchange nodes of an executed plan, through adaptive query stages and
    * subqueries.
    */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: Exchange => 1
        case _ => 0
      }
      here + p.children.map(walk).sum + p.subqueries.map(walk).sum
    }
    walk(plan)
  }
}
