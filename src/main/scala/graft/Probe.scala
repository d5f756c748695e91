package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.engine.TranscriptsTable

/** Dev probes around the catalog and the scaling gate:
  * `sbt -batch "runMain graft.Probe <subcommand> [args]"`, subcommands in
  * `Usage`. NOT part of the SparkEntry contract — Bench.scala stays the
  * harness of record; `time`/`noop` use its session config, warmup and
  * rep methodology (df.foreach(_ => ()) materializes every column) so a
  * single query or a name-filtered subset can be timed without paying
  * for the gate arms. Per-stage extractor cost and the job layers are
  * measured by `perfbench --trace 1`, not here.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object Probe {

  private val Usage =
    """usage: graft.Probe <subcommand>
      |  time <nameRegex> [reps]  best-of-reps (default 2) wall seconds per
      |                           matching catalog query, after Bench's warmup
      |  noop <nameRegex> [reps]  the same, writing to the noop sink
      |  plan <nameRegex> [tag]   formatted plans to plans/r06/<name>_<tag>.txt
      |  gate-shares [tableDir]   per-bucket bytes of the Bench.Defaults gate
      |                           table (built when missing) and the byte sums
      |                           of its mod-4 and LPT-balanced share groups
      |  smoke                    row count and a sample of SparkEntry.entry""".stripMargin

  private type Query = (SparkSession, String) => DataFrame

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Bench.Defaults.SfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Bench.Defaults.Cpus.toString).toInt
    def catalog(nameRegex: String): Seq[(String, Query)] = {
      val re = nameRegex.r
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => re.pattern.matcher(n).matches }
    }
    val body: SparkSession => Unit = args.toList match {
      case (cmd @ ("time" | "noop")) :: re :: rest =>
        time(_, sfDir, catalog(re), cmd, rest.headOption.fold(2)(_.toInt))
      case "plan" :: re :: rest =>
        plan(_, sfDir, catalog(re), rest.headOption.getOrElse("plan"))
      case "gate-shares" :: rest =>
        gateShares(_, rest.headOption.getOrElse("/tmp/gatediag/table"), cpus)
      case "smoke" :: _ => smoke
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val s = session(cpus)
    try body(s) finally s.stop()
  }

  private def time(s: SparkSession, sfDir: String, catalog: Seq[(String, Query)],
      cmd: String, reps: Int): Unit = {
    // identical warmup to Bench so first-timed-query JIT/parquet-footer
    // warmup does not pollute the table
    for (w <- Seq("p7_md5_meta", "q1_lineitem_agg", "x_pipeline_insurance"))
      SparkEntry.queries.get(w).foreach { fn =>
        try fn(s, sfDir).foreach(_ => ())
        catch { case e: Throwable => System.err.println(s"[warmup] $w: $e") }
      }
    def rep(name: String, fn: Query): Double = {
      s.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        if (cmd == "noop")
          fn(s, sfDir).write.format("noop").mode("overwrite").save()
        else fn(s, sfDir).foreach(_ => ())
      } catch { case e: Throwable => System.err.println(s"[$cmd] $name failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    val res = catalog.map { case (name, fn) =>
      name -> (1 to reps).map(_ => rep(name, fn)).min
    }
    println(res.sortBy(-_._2)
      .map { case (n, t) => f"$t%8.3f  $n" }.mkString("\n"))
    println(f"[$cmd] total=${res.map(_._2).sum}%.3f s over ${res.size} queries (best-of-$reps, $cmd rep)")
  }

  private def plan(s: SparkSession, sfDir: String, catalog: Seq[(String, Query)],
      tag: String): Unit = {
    val dir = Paths.get("plans/r06")
    Files.createDirectories(dir)
    for ((name, fn) <- catalog) {
      val out = dir.resolve(s"${name}_$tag.txt")
      Files.write(out, fn(s, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"))
      println(s"[plan] wrote $out")
    }
  }

  /** How much of the gate's straggler share is static bucket-to-share
    * assignment imbalance rather than engine behavior.
    */
  private def gateShares(spark: SparkSession, tableDir: String, cpus: Int): Unit = {
    if (!Files.exists(Paths.get(tableDir))) {
      TranscriptsTable.appendSnapshot(spark, tableDir, 1, 0,
        Bench.Defaults.BenchConvs, Bench.Defaults.Giant, buckets = cpus,
        rowGroupBytes = Some(Bench.Defaults.RowGroupBytes))
      System.err.println(s"[gate-shares] table built at $tableDir")
    } else System.err.println(s"[gate-shares] reusing table at $tableDir")

    val snap = TranscriptsTable.readManifest(tableDir).last
    def dirBytes(d: java.io.File): Long =
      d.listFiles().filter(_.isFile).map(_.length).sum
    val buckets = new java.io.File(snap.path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(f => (f.getName.stripPrefix("bucket=").toInt, dirBytes(f)))
      .sortBy(_._1)
    val total = buckets.map(_._2).sum.toDouble
    buckets.foreach { case (b, sz) =>
      System.err.println(f"[gate-shares] bucket=$b%2d ${sz / 1e6}%8.1f MB (${100 * sz / total}%5.2f%%)")
    }
    val nShares = 4
    val mod = (0 until nShares).map(q =>
      buckets.filter(_._1 % nShares == q).map(_._2).sum)
    System.err.println(
      "[gate-shares] mod-4 share MB: " + mod.map(b => f"${b / 1e6}%.1f").mkString(" / ") +
        f" -> max/ideal = ${mod.max / (total / nShares)}%.4f")
    // LPT: sort buckets descending, assign each to the lightest share
    val lpt = Array.fill(nShares)(0L)
    val lptGroups = Array.fill(nShares)(List.empty[Int])
    buckets.sortBy(-_._2).foreach { case (b, sz) =>
      val q = lpt.zipWithIndex.minBy(_._1)._2
      lpt(q) += sz; lptGroups(q) ::= b
    }
    System.err.println(
      "[gate-shares] LPT share MB:  " + lpt.map(b => f"${b / 1e6}%.1f").mkString(" / ") +
        f" -> max/ideal = ${lpt.max / (total / nShares)}%.4f")
    lptGroups.zipWithIndex.foreach { case (g, q) =>
      System.err.println(s"[gate-shares] LPT share $q buckets: ${g.sorted.mkString(",")}")
    }
  }

  private def smoke(spark: SparkSession): Unit = {
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, 60)
  }
}
