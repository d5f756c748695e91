package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.engine.{ExtractJob, Sinks, TranscriptsTable}
import graft.engine.TranscriptsTable.SnapshotRef

/** Command line of one benchmark run. `catalog` holds the seeded tables
  * the traced run's catalog pass reads; `plant` makes the output check see
  * one wrong row; `inputsOnly` builds the inputs and exits.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    size: String, work: String, inputs: String, catalog: String, plant: Boolean,
    inputsOnly: Boolean)

/** One timed extraction call: wall seconds, committed turns, whether it
  * ran the one-core share, and where its output went.
  */
final case class Op(secs: Double, turns: Long, share: Boolean, out: String)

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("size"), m("work"), m("inputs"), m("catalog"), m("plant") == "1",
      m("inputs-only") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val salted = a.workload match {
      case "extract_bulk" => false
      case "extract_html_skew" => true
      case other => sys.error(s"unknown workload $other")
    }
    val w = new Workload(a, salted)
    if (a.inputsOnly) {
      val spark = Util.session()
      try w.transcripts(spark) finally spark.stop()
    } else {
      val result = try w.run() finally w.spark.stop()
      Files.writeString(Paths.get(a.work, "result.json"), Util.json(result), UTF_8)
    }
  }
}

/** One run of an extraction workload on a `local[nproc]` session.
  *
  * extract_bulk times `ExtractJob.run` over a bucketed, presorted snapshot;
  * extract_html_skew times the sequence `runSnapshot` runs on the salted
  * path (extract with a lineage accumulator, results write, lineage write)
  * over long HTML pages and one giant conversation. Each timed call is
  * paired with the same call over the table's 1/nproc bucket share run as
  * one task, the single-threaded baseline of `scaling_eff`.
  */
final class Workload(a: Args, salted: Boolean) {
  private val smoke = a.size == "smoke"
  private val runId = s"${a.workload}-s${a.seed}"
  private val tracer = new Tracer(a.trace, runId)
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  var spark: SparkSession = _
  private var events: Option[SparkEvents] = None
  private var probe: Probe = _
  private var in: Transcripts = _
  private var want = Map.empty[Checks.Key, Checks.Value]
  private var wantShare = Map.empty[Checks.Key, Checks.Value]
  private var outs = 0

  private def start(): Double = Util.time {
    spark = Util.session()
    events = if (a.trace) Some(new SparkEvents) else None
    events.foreach(spark.sparkContext.addSparkListener)
    probe = new Probe(spark.sparkContext, events)
  }._2

  /** A fresh output directory for one call. */
  private def out(): String = {
    outs += 1
    val p = Paths.get(a.work, "out", s"op-$outs")
    Util.deleteTree(p)
    p.toString
  }

  /** The seeded input table, built (in its own JVM, so that building it
    * leaves no trace in the measuring JVM) or reused from the cache.
    */
  def transcripts(s: SparkSession): Transcripts = {
    val dir = s"${a.inputs}/${a.workload}-${a.size}-s${a.seed}"
    if (!salted) Inputs.bulk(s, dir, a.seed, if (smoke) 300 else 6000)
    else Inputs.htmlSkew(s, dir, a.seed,
      if (smoke) Inputs.SkewShape(60, 400, 8000, 16000, 0.2)
      else Inputs.SkewShape(600, 1900, 10000, 40000, 0.2))
  }

  /** Load the input and the rows the sample check expects; not part of
    * set-up time.
    */
  private def prepare(): Unit = {
    in = transcripts(spark)
    val convs = Checks.sample(spark, in.full, a.seed, if (smoke) 8 else 24)
    want = Checks.expected(spark, in.full, convs)
    val shareKeys = TranscriptsTable.readSnapshot(spark, in.share)
      .filter(org.apache.spark.sql.functions.col("conv_id").isin(convs.toSeq: _*))
      .select("conv_id", "turn_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet
    wantShare = want.filter { case (k, _) => shareKeys(k) }
  }

  /** Session build plus one untimed warm-up pass (a call and its one-core
    * twin), repeated; the first one counts from JVM start. Input
    * generation is excluded.
    */
  private def setup(times: Int): Seq[Double] = (1 to times).map { i =>
    val boot = if (i == 1) {
      start()
      (System.currentTimeMillis() - jvmStart) / 1e3
    } else {
      spark.stop()
      start()
    }
    if (i == 1) {
      val (_, secs) = Util.time(tracer.span("setup.prepare") { prepare() })
      Util.log(f"inputs ready in $secs%.1f s")
    }
    val (warmed, warm) = Util.time(tracer.span("setup.warm") {
      Seq(op(share = false), op(share = true))
    })
    warmed.foreach(o => Util.deleteTree(Paths.get(o.out)))
    boot + warm
  }

  /** One timed call, or its one-core baseline twin over the share. */
  private def op(share: Boolean): Op = {
    val o = out()
    val ref = if (share) in.share else in.full
    val (turns, secs) = if (share) Util.oneTask(spark)(call(ref, o)) else call(ref, o)
    Op(secs, turns, share, o)
  }

  /** The timed extraction call: committed turns and wall seconds. */
  private def call(ref: SnapshotRef, o: String): (Long, Double) = Util.time {
    if (!salted) {
      val cfg = ExtractJob.Config(in.dir, o, runId = "perfbench")
      if (ref.id == in.full.id) ExtractJob.run(spark, cfg).map(_._2).sum
      else ExtractJob.runSnapshot(spark, cfg, ref)
    } else {
      val acc = new ExtractJob.LineageAccumulator
      spark.sparkContext.register(acc, "perfbench-lineage")
      val results = ExtractJob.extract(spark, TranscriptsTable.readSnapshot(spark, ref),
        salted = true, saltBuckets = 16, lineageAcc = Some(acc))
      Sinks.writeParquet(results.toDF(), s"$o/results/snapshot=${ref.id}")
      val stats = acc.value
      ExtractJob.lineageFromStats(spark, stats, "perfbench", ref.id)
        .write.mode("overwrite").parquet(s"$o/lineage/snapshot=${ref.id}")
      stats.valuesIterator.map(_.turnCount).sum
    }
  }

  /** Check failures in one call's output; removes the output. */
  private def check(o: Op, plant: Boolean): Seq[String] = {
    val id = if (o.share) in.share.id else in.full.id
    val w = if (o.share) wantShare else want
    val results = s"${o.out}/results/snapshot=$id"
    val checked = if (plant) Checks.plantWrongRow(spark, results, w, s"${o.out}/planted")
      else results
    val failures = Checks.extraction(spark, checked, s"${o.out}/lineage/snapshot=$id",
      if (o.share) in.shareTurns else in.turns, w)
    Util.deleteTree(Paths.get(o.out))
    failures
  }

  def run(): Map[String, Any] = {
    val setups = setup(if (a.trace) 1 else 3)
    val ops = ArrayBuffer.empty[Op]
    var thrown = 0
    def attempt(share: Boolean): Option[Op] =
      try Some(op(share)) catch { case e: Exception =>
        Util.log(s"timed call failed: $e"); thrown += 1; None
      }
    val metrics: Map[String, Double] =
      if (a.trace) traced(ops)
      else {
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < a.seconds ||
            (!ops.exists(!_.share) && thrown < 4)) {
          val f = attempt(share = false)
          val s = attempt(share = true)
          ops ++= f ++ s
        }
        endToEnd(ops.toSeq) ++ Map("setup_s" -> Util.median(setups),
          "peak_rss_mb" -> Util.peakRssMb())
      }
    // outputs are checked after the measuring window, outside it, a few
    // at a time
    val (failures, checkSecs) = Util.time {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val checks = ops.toSeq.zipWithIndex.map { case (o, i) => Future(check(o, a.plant && i == 0)) }
      checks.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    }
    Util.log(f"${ops.length} outputs checked in $checkSecs%.1f s")
    failures.flatten.distinct.foreach(f => Util.log(s"check failed: $f"))
    Map("metrics" -> metrics, "attempted" -> (ops.length + thrown),
      "failed" -> (failures.count(_.nonEmpty) + thrown), "input" -> in.describe,
      "setups_s" -> setups, "op_s" -> ops.filter(!_.share).map(_.secs),
      "share_op_s" -> ops.filter(_.share).map(_.secs))
  }

  /** turns_per_s: committed turns ÷ wall seconds of the call, median over
    * calls. scaling_eff: thr(whole table, nproc cores) ÷ (nproc ×
    * thr(1/nproc share, one task)), median over adjacent pairs.
    */
  private def endToEnd(ops: Seq[Op]): Map[String, Double] = {
    val (share, full) = ops.partition(_.share)
    def thr(o: Op) = o.turns / o.secs
    Map(
      "turns_per_s" -> Util.median(full.map(thr)),
      "scaling_eff" -> Util.median(full.zip(share).map { case (f, s) =>
        thr(f) / (Util.cores * thr(s)) }))
  }

  /** Alternate untraced and traced calls (their difference is the tracing
    * overhead), then run every layer probe under spans, and write the
    * trace files.
    */
  private def traced(ops: ArrayBuffer[Op]): Map[String, Double] = {
    val ev = events.get
    val sc = spark.sparkContext
    val plain = ArrayBuffer.empty[Double]
    val withTrace = ArrayBuffer.empty[Double]
    var callMetrics = Map.empty[String, Double]
    def untraced(): Op = {
      sc.removeSparkListener(ev)
      try op(share = false) finally sc.addSparkListener(ev)
    }
    for (i <- 1 to 2) {
      // the untraced call goes first in one pair and second in the other
      val first = if (i == 1) Some(untraced()) else None
      val gc0 = Util.gcSeconds()
      val alloc0 = Util.allocatedBytes()
      val ((o, end), jobs, stages) = probe {
        val o = tracer.span("job.call") { op(share = false) }
        (o, tracer.now())
      }
      callMetrics = Layers.jobCounters(jobs, stages, end) ++ Map(
        "jvm.alloc_mb" -> (Util.allocatedBytes() - alloc0) / 1048576.0,
        "jvm.gc_s" -> (Util.gcSeconds() - gc0))
      val p = first.getOrElse(untraced())
      ops += p += o
      plain += p.secs
      withTrace += o.secs
    }
    val overhead = Util.median(withTrace.toSeq) / Util.median(plain.toSeq) - 1
    val sample = TranscriptsTable.readSnapshot(spark, in.full)
      .select("conv_id", "turn_idx", "text")
      .sample(false, math.min(1.0, 3000.0 / in.turns), a.seed).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toIndexedSeq
    val m = callMetrics ++
      Layers.table(spark, probe, tracer, in) ++
      Layers.extract(sample, tracer, if (smoke) 1.0 else 4.0) ++
      Layers.jobAndSinks(spark, probe, tracer, in, salted, out()) ++
      Catalog.traced(spark, probe, tracer, a.catalog, a.seed, s"${a.work}/oracle_out") +
      ("trace.overhead_pct" -> overhead * 100)
    writeTrace(m, overhead)
    m
  }

  private def writeTrace(metrics: Map[String, Double], overhead: Double): Unit = {
    val dir = Paths.get(a.work, "trace")
    Files.createDirectories(dir)
    val bench = tracer.recorded
    val spans = bench ++ Trace.sparkSpans(bench, events.get, runId)
    Files.writeString(dir.resolve("spans.jsonl"), spans.map { s =>
      Util.json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "run_id" -> s.runId))
    }.mkString("", "\n", "\n"), UTF_8)
    val self = Trace.selfTimes(spans).toSeq.sortBy(-_._2)
    Files.writeString(dir.resolve("self_time.tsv"),
      ("layer\tself_s" +: self.map { case (l, s) => f"$l\t$s%.6f" }).mkString("", "\n", "\n"),
      UTF_8)
    Files.writeString(dir.resolve("layers.json"), Util.json(Map(
      "metrics" -> metrics, "self_time_s" -> self.toMap,
      "tracing_overhead" -> overhead)), UTF_8)
  }
}

/** The catalog layer: the fixed query set of `graft.queries`, in an order
  * the seed permutes.
  */
object Catalog {
  val Queries: Seq[String] = Seq("dd_exact_substring", "dd_exact_substring_span",
    "dd_ngram_jaccard", "dd_minhash_lsh", "dd_cluster_cc", "q_kcore_peel",
    "q_rollup_revenue", "q3_top_revenue", "ta_tfidf_topk", "q_triangle_count",
    "sk_hll_distinct", "x_expr_extract_turn", "x_e2e_engine", "s3_point_lookup",
    "q_sort_limit")

  /** A first pass writes each query's rows, with the oracle SQL beside
    * them, for the DuckDB comparison; it also warms the session. A second
    * pass times each query (building it and fully materializing it with
    * `foreach`, as `graft.Bench` times a query) and reads its shuffle
    * bytes, the Exchange nodes of its executed plan, the stages it ran and
    * their spill; block-manager storage in use is read after the pass.
    */
  def traced(spark: SparkSession, probe: Probe, tracer: Tracer, dir: String, seed: Long,
      out: String): Map[String, Double] = {
    val order = new scala.util.Random(seed).shuffle(Queries)
    tracer.span("queries.outputs") {
      order.foreach { q =>
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      }
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Util.json(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap), UTF_8)
    var exchanges = 0
    val per = order.map { q =>
      val ((_, secs), _, stages) = probe(tracer.span(s"queries.$q") {
        Util.time {
          val df = SparkEntry.queries(q)(spark, dir)
          df.foreach(_ => ())
          exchanges += Layers.exchanges(df.queryExecution.executedPlan)
        }
      })
      Util.log(f"$q%s $secs%.3f s")
      (q, secs, stages)
    }
    val all = per.flatMap(_._3)
    val storage = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    per.flatMap { case (q, secs, stages) =>
      Seq(s"queries.$q.s" -> secs,
        s"queries.$q.shuffle_bytes" -> Trace.total(stages).shuffleWrite.toDouble)
    }.toMap ++ Map(
      "queries.catalog_s" -> per.map(_._2).sum,
      "queries.exchanges" -> exchanges.toDouble, "queries.stages" -> all.length.toDouble,
      "queries.spill_bytes" -> Trace.total(all).spill.toDouble,
      "queries.storage_bytes_end" -> storage.toDouble)
  }
}
