package graft.engine

import org.apache.spark.sql.SparkSession

/** spark-submit entry point: `graft.engine.ExtractMain <tableDir> <outDir>
  * [--gen nConvs giantScale buckets snapshots] [--salted] [--salt N]`.
  *
  * With `--gen`, first materializes the deterministic synthetic transcripts
  * table (appending `snapshots` snapshot batches), then runs the resumable
  * extract job over all uncommitted snapshots.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val usage = "usage: ExtractMain <tableDir> <outDir> [--gen nConvs giantScale buckets snapshots] [--salted] [--salt N]"
    require(args.length >= 2, usage)
    val tableDir = args(0)
    val outDir = args(1)
    val rest = args.drop(2)
    // every argument is checked here, before the session is built
    def intsAfter(flag: String, n: Int): Option[Seq[Int]] = {
      val i = rest.indexOf(flag)
      if (i < 0) None
      else {
        val v = rest.slice(i + 1, i + 1 + n).flatMap(_.toIntOption).toSeq
        require(v.length == n, s"$flag takes $n int(s); $usage")
        Some(v)
      }
    }
    val salted = rest.contains("--salted")
    val salt = intsAfter("--salt", 1).fold(16)(_.head)
    require(salt >= 1, s"--salt must be >= 1, got $salt; $usage")
    val gen = intsAfter("--gen", 4)
    gen.foreach(g => require(g(2) >= 1 && g(3) >= 1,
      s"--gen buckets and snapshots must be >= 1, got ${g(2)} and ${g(3)}; $usage"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    gen.foreach { case Seq(nConvs, giant, buckets, nSnaps) =>
      val per = math.max(1, nConvs / nSnaps)
      var off = 0
      for (s <- 1 to nSnaps) {
        val n = if (s == nSnaps) math.max(0, nConvs - off)
                else math.min(per, math.max(0, nConvs - off))
        if (n > 0) {
          TranscriptsTable.appendSnapshot(spark, tableDir, s, off, n, giant, buckets)
          off += n
        }
      }
      println(s"[gen] wrote $nSnaps snapshot(s), $nConvs conversations under $tableDir")
    }

    val t0 = System.nanoTime()
    val processed = ExtractJob.run(spark,
      ExtractJob.Config(tableDir, outDir, salted = salted, saltBuckets = salt))
    val secs = (System.nanoTime() - t0) / 1e9
    val turns = processed.map(_._2).sum
    println(f"[extract] snapshots=${processed.size} turns=$turns elapsed=$secs%.2fs throughput=${turns / math.max(secs, 1e-9)}%.0f turns/s")
    spark.stop()
  }
}
