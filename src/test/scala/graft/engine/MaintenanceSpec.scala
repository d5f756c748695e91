package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Copy-on-write MERGE / compaction / vacuum contracts: upsert replaces
  * matched keys and inserts new ones exactly; a reader resolving the
  * pointer mid-sequence only ever sees a complete version; compaction
  * reduces the file count without changing content; vacuum removes only
  * superseded versions.
  */
class MaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("maintenance-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshBase(): String =
    LocalFiles.scratchDir("graft-maint") + "/results"

  test("mergeUpsert replaces matched keys and inserts new ones") {
    import spark.implicits._
    val base = freshBase()
    val t0 = (0 until 100).map(i => (i.toLong, s"val$i")).toDF("id", "v")
    Maintenance.initTable(spark, base, t0)

    val updates = Seq((5L, "UPDATED5"), (7L, "UPDATED7"), (200L, "NEW200"))
      .toDF("id", "v")
    val v2 = Maintenance.mergeUpsert(spark, base, updates, Seq("id"))
    assert(v2 === 2L)

    val got = Maintenance.readCurrent(spark, base)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 101)
    assert(got(5L) === "UPDATED5")
    assert(got(7L) === "UPDATED7")
    assert(got(200L) === "NEW200")
    assert(got(6L) === "val6") // untouched row survives
  }

  test("pointer swap is all-or-nothing: old version readable until commit") {
    import spark.implicits._
    val base = freshBase()
    Maintenance.initTable(spark, base,
      Seq((1L, "a")).toDF("id", "v"))
    // simulate a crashed rewrite: a stale half-written version dir with
    // no pointer update must be invisible to readers
    val stale = new java.io.File(s"$base/v9")
    stale.mkdirs()
    Files.writeString(stale.toPath.resolve("part-junk.parquet"), "garbage")
    assert(Maintenance.currentVersion(base) === Some(1L))
    val rows = Maintenance.readCurrent(spark, base).collect()
    assert(rows.length === 1 && rows(0).getString(1) === "a")
  }

  test("compact reduces file count, content identical") {
    import spark.implicits._
    val base = freshBase()
    val t0 = (0 until 1000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(32)
    Maintenance.initTable(spark, base, t0)
    val before = Maintenance.readCurrent(spark, base)
      .collect().map(_.toString).sorted

    val (v2, filesBefore, filesAfter) =
      Maintenance.compact(spark, base, targetBytes = 1L << 30)
    assert(v2 === 2L)
    assert(filesBefore === 32)
    assert(filesAfter === 1)

    val after = Maintenance.readCurrent(spark, base)
      .collect().map(_.toString).sorted
    assert(after.toSeq === before.toSeq)
  }

  test("vacuum deletes superseded versions only") {
    import spark.implicits._
    val base = freshBase()
    Maintenance.initTable(spark, base, Seq((1L, "a")).toDF("id", "v"))
    Maintenance.mergeUpsert(spark, base,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    Maintenance.mergeUpsert(spark, base,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(Maintenance.currentVersion(base) === Some(3L))
    // v2 stays readable (and distinct from v3) until vacuumed
    assert(spark.read.parquet(s"$base/v2").count() === 2L)
    // an entry named plain `v` is no version directory: skipped, not parsed
    Files.createDirectories(java.nio.file.Paths.get(s"$base/v"))
    val removed = Maintenance.vacuum(base)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/v2")))
    assert(removed === Seq(1L, 2L))
    // current version intact and fully readable
    assert(Maintenance.readCurrent(spark, base).count() === 3L)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/v1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/v")))
    // no _VERSION pointer: the same clear error readCurrent gives
    val empty = LocalFiles.scratchDir("graft-maint")
    assertThrows[IllegalStateException](Maintenance.compact(spark, empty, 1L << 20))
    assertThrows[IllegalStateException](Maintenance.vacuum(empty))
  }
}
