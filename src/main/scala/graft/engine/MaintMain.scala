package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Table-maintenance CLI: `runMain graft.engine.MaintMain <baseDir>`
  * compacts and then vacuums the versioned table under <baseDir> (one
  * written by `Maintenance.initTable`, with a `_VERSION` pointer),
  * printing version and row count after each step. When <baseDir> does
  * not exist it first builds a demo table there — init (v1) → MERGE
  * upsert (v2) — so the run shows the whole copy-on-write lifecycle. An
  * existing directory without `_VERSION` (an `ExtractJob` output, say) is
  * not a versioned table: the run fails with `IllegalStateException` and
  * writes nothing into it.
  */
object MaintMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.engine.MaintMain <baseDir>")
    val base = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-maint")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def report(step: String): Unit = {
      val v = Maintenance.currentVersion(base).get
      val n = Maintenance.readCurrent(spark, base).count()
      println(s"[maint] $step: version=$v rows=$n")
    }

    if (!Files.exists(Paths.get(base))) {
      val demo = (0 until 10000).map(i => (i.toLong, s"val$i"))
        .toDF("id", "v").repartition(32)
      Maintenance.initTable(spark, base, demo)
      report("init")
      val updates = Seq((1L, "UPDATED"), (20000L, "NEW")).toDF("id", "v")
      val v2 = Maintenance.mergeUpsert(spark, base, updates, Seq("id"))
      report(s"mergeUpsert -> v$v2")
    }
    val (v3, before, after) = Maintenance.compact(spark, base, 64L << 20)
    println(s"[maint] compact -> v$v3: $before files -> $after files")
    report("compact")
    val removed = Maintenance.vacuum(base)
    println(s"[maint] vacuum removed versions: ${removed.mkString(", ")}")
    report("vacuum")
    spark.stop()
  }
}
