package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{ExtractJob, TranscriptsTable}

/** One benchmark trial in its own JVM (launched by [[Bench]]): read the
  * transcripts table, run the extract job end-to-end (results + lineage),
  * print `BENCH_SECONDS=<s>`.
  *
  * A separate process per trial is the honest stand-in for a deployment
  * unit: with everything in one JVM, a small stage would still borrow the
  * rest of the host for GC/IO threads and overstate small-configuration
  * throughput (understating scaling efficiency).
  *
  * Modes (4th arg):
  *  - "unsalted" / "salted": local[cores] single JVM, presorted or
  *    salted-shuffle extract path.
  *  - "cluster:N:C:MEM": Spark standalone `local-cluster[N,C,MEM]` — N
  *    REAL executor JVMs of C cores each, launched by a real Worker; the
  *    driver schedules the identical job across them. This is the
  *    two-cluster-size arm of the north rule's scaling criterion.
  *  - "quarter:Q:OF": the same pipeline over this worker's 1/OF bucket
  *    share of the table (buckets with id % OF == Q). The sequential-
  *    emulation arm of the scaling gate: on a real cluster the N=1-node
  *    and 4N=4-node configurations run every node under IDENTICAL
  *    per-node conditions (each node brings its own cores/LLC/DRAM/OS),
  *    which no concurrent single-box experiment can reproduce — so the
  *    4N configuration is emulated by running each node's share
  *    sequentially on the same idle 8-core slice and taking the MAX
  *    share time as the 4N wall clock. Each share pays the full per-job
  *    fixed tail (setup + commit) that the real single 4N job
  *    pays only once, biasing the measured efficiency DOWN (conservative).
  *  - "quarters:OF:START": ALL OF shares, sequentially, inside THIS one
  *    warmed JVM, in rotated order starting at share START; prints one
  *    `BENCH_QUARTER q=<q> secs=<s>` line per share. Measurement is
  *    identical to OF separate "quarter" workers — each share is its own
  *    Spark job paying its own setup + commit tail — but the JVM boot,
  *    session init and JIT warmup are paid once instead of OF times.
  *    That is BOTH more budget-efficient (the per-worker boot cost the
  *    measured seconds never see was ~5-25 s each, and under sustained
  *    host degradation it decided whether 5 gate trials fit the driver
  *    budget at all) and more faithful: a real cluster's executor JVMs
  *    are long-lived and warm, so cold-boot-per-share was an emulation
  *    artifact, not a property of the system under test.
  */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, outDir, cores) = args.take(3)
    val mode = if (args.length < 4) "salted" else args(3)
    val salted = mode == "salted"
    val cluster = mode.startsWith("cluster:")
    val quarter = if (mode.startsWith("quarter:")) {
      val Array(_, q, of) = mode.split(':')
      Some((q.toInt, of.toInt))
    } else None
    val quarters = if (mode.startsWith("quarters:")) {
      val Array(_, of, start) = mode.split(':')
      Some((of.toInt, start.toInt))
    } else None
    val (master, totalCores) =
      if (cluster) {
        val Array(_, n, c, mem) = mode.split(':')
        (s"local-cluster[$n,$c,$mem]", n.toInt * c.toInt)
      } else (s"local[$cores]", cores.toInt)
    val builder = SparkSession.builder()
      .master(master)
      .appName(s"graft-bench-worker-$mode-$cores")
      // salted mode shuffles the whole input into sorted partitions; at
      // one-partition-per-core the per-task sort runs ~200 MB and spills
      // (measured 254 s vs 35 s at 16x the partitions on the 14.6M-turn
      // bench table). Size so each sorted run stays ~10-20 MB; at
      // production scale size by bytes (~128 MB) or let AQE coalesce.
      .config("spark.sql.shuffle.partitions",
        if (salted) 16 * totalCores else totalCores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (cluster) {
      val Array(_, _, _, mem) = mode.split(':')
      // real executor JVMs need this application's classes on their own
      // classpath (Spark jars come via SPARK_HOME)
      val own = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
      builder
        .config("spark.executor.memory", s"${mem}m")
        .config("spark.executor.extraClassPath", own)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JIT warm-up on a slice of the table, untimed
    val warm = TranscriptsTable.readManifest(tableDir).take(1)
    warm.foreach { s =>
      ExtractJob.extract(spark,
        TranscriptsTable.readSnapshot(spark, s).limit(50000), salted, 16,
        presorted = !salted)
        .write.mode("overwrite").parquet(s"$outDir-warm")
    }

    /** This node's 1/OF bucket share, read from the bucket directories
      * directly — a real scheduler assigns whole splits to executors, so
      * a share never re-scans the other shares' bytes.
      */
    def readShare(q: Int, of: Int) = {
      val snap = TranscriptsTable.readManifest(tableDir).last
      val dirs = new java.io.File(snap.path).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(f => (f.getName.stripPrefix("bucket=").toInt, f.getAbsolutePath))
        .filter(_._1 % of == q)
        .map(_._2)
        .sorted
      spark.read.parquet(dirs.toIndexedSeq: _*)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    }

    /** The timed unit: extract + results write (lineage via the write
      * job's own accumulator) + the tiny driver-local lineage write —
      * every job pays its own setup + commit tail.
      */
    def runTimed(turns: org.apache.spark.sql.DataFrame, out: String,
        label: String): Double = {
      val t0 = System.nanoTime()
      val acc = new ExtractJob.LineageAccumulator
      spark.sparkContext.register(acc, s"graft-bench-lineage-$label")
      val results = ExtractJob.extract(spark, turns, salted, 16,
        presorted = !salted, lineageAcc = Some(acc))
      results.write.mode("overwrite").parquet(out)
      val tExtract = System.nanoTime()
      ExtractJob.lineageFromStats(spark, acc.value, "bench", 1)
        .write.mode("overwrite").parquet(s"$out-lineage")
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"BENCH_PHASES extract=${(tExtract - t0) / 1e9}%.3f " +
          f"lineage=${(System.nanoTime() - tExtract) / 1e9}%.3f")
      secs
    }

    quarters match {
      case Some((of, start)) =>
        // rotated order: the parent rotates START per trial so a noise
        // wave cannot shadow the same share in every trial
        for (k <- 0 until of) {
          val q = (k + start) % of
          val secs = runTimed(readShare(q, of), s"$outDir-q$q", s"q$q")
          println(f"BENCH_QUARTER q=$q secs=$secs%.3f")
          System.out.flush()
        }
      case None =>
        val turns = quarter match {
          case None => TranscriptsTable.readAll(spark, tableDir)
          case Some((q, of)) => readShare(q, of)
        }
        val secs = runTimed(turns, outDir, "main")
        println(f"BENCH_SECONDS=$secs%.3f")
    }
    spark.stop()
  }
}
