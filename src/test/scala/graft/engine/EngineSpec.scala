package graft.engine

import java.nio.file.{Files, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.extract.Extract
import graft.gen.TranscriptGen
import scala.jdk.CollectionConverters._

class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("engine-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String = LocalFiles.scratchDir("graft-test")

  /** Canonical comparable form of one extracted row — the sink-boundary
    * JSON form, i.e. the exact strings the results table stores.
    */
  private def canon(convId: String, turnIdx: Int, docType: String,
      text: String, sectionsJson: String, fieldsJson: String,
      sig: Boolean, conf: Double, status: String): String =
    Seq(convId, turnIdx, docType, text, sectionsJson, fieldsJson,
      sig, conf, status).mkString("|#|")

  private def oracleRows(nConvs: Int, giant: Int): Vector[String] =
    TranscriptGen.turns(nConvs, giant)
      .map(t => Extract.extractTurn(t.conv_id, t.turn_idx, t.text))
      .map(e => canon(e.conv_id, e.turn_idx, e.doc_type, e.extracted_text,
        Extract.sectionsToJson(e.sections), Extract.fieldsToJson(e.fields),
        e.signature_present, e.confidence, e.status))
      .toVector.sorted

  private def engineRows(dir: String, salted: Boolean): Vector[String] = {
    val turns = TranscriptsTable.readAll(spark, dir)
    ExtractJob.extract(spark, turns, salted, saltBuckets = 4)
      .collect()
      .map(r => canon(r.conv_id, r.turn_idx, r.doc_type, r.extracted_text,
        r.sections, r.fields, r.signature_present, r.confidence, r.status))
      .toVector.sorted
  }

  test("table directory is relocatable: manifest resolves after a move") {
    // snapshot paths are stored relative to the table root, so moving the
    // whole directory (benchmark table cache, storage-tier migration)
    // needs no metadata rewrite
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 5, 8, buckets = 2)
    val before = TranscriptsTable.readAll(spark, dir).count()
    val moved = tmpDir() + "/moved"
    Files.move(java.nio.file.Paths.get(dir), java.nio.file.Paths.get(moved))
    val snaps = TranscriptsTable.readManifest(moved)
    assert(snaps.nonEmpty && snaps.forall(_.path.startsWith(moved)),
      s"manifest did not resolve against the new root: $snaps")
    assert(TranscriptsTable.readAll(spark, moved).count() == before)
  }

  test("golden equality: engine output == single-threaded oracle, salted and unsalted") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, snapshotId = 1,
      convOffset = 0, nConvs = 30, giantScale = 64, buckets = 4)
    val golden = oracleRows(30, 64)
    assert(golden.nonEmpty)
    val unsalted = engineRows(dir, salted = false)
    val salted = engineRows(dir, salted = true)
    assert(unsalted == golden, "unsalted engine output differs from oracle")
    assert(salted == golden, "salted engine output differs from oracle")
    // a salt bucket count < 1 is refused on the driver, before any plan
    val turns = TranscriptsTable.readAll(spark, dir)
    for (bad <- Seq(0, -1))
      intercept[IllegalArgumentException](
        ExtractJob.extract(spark, turns, salted = true, saltBuckets = bad))
  }

  test("typed view recovers structs from the JSON sink form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 6, 16, buckets = 2)
    val turns = TranscriptsTable.readAll(spark, dir)
    val res = ExtractJob.extract(spark, turns, salted = false, 4).toDF()
      .withColumn("sections_t", from_json($"sections", ExtractJob.SectionsSchema))
      .withColumn("fields_t", from_json($"fields", ExtractJob.FieldsSchema))
    val row = res.filter($"doc_type" === "FACESHEET")
      .select($"fields_t", size(map_keys($"fields_t")).as("nf"),
        element_at($"sections_t", 1).getField("header").as("h1"),
        substring($"extracted_text",
          element_at($"sections_t", 1).getField("start") + 1,
          element_at($"sections_t", 1).getField("len")).as("body1"))
      .head()
    assert(row.getAs[Int]("nf") > 5)
    assert(row.getAs[String]("h1") == "PATIENT INFORMATION")
    assert(row.getAs[String]("body1").startsWith("Patient Name:"))
  }

  test("partitioning invariance: 1, 2, 16 partitions yield identical rows") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 12, 32, buckets = 2)
    val base = engineRows(dir, salted = false)
    for (n <- Seq(1, 2, 16)) {
      val turns = TranscriptsTable.readAll(spark, dir).repartition(n)
      val got = ExtractJob.extract(spark, turns, salted = false, saltBuckets = 4)
        .collect()
        .map(r => canon(r.conv_id, r.turn_idx, r.doc_type, r.extracted_text,
          r.sections, r.fields, r.signature_present, r.confidence, r.status))
        .toVector.sorted
      assert(got == base, s"output differs at $n partitions")
    }
  }

  test("output ordering: results within a partition sorted by (conv_id, turn_idx)") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 10, 32, buckets = 2)
    val turns = TranscriptsTable.readAll(spark, dir)
    val perPart = ExtractJob.extract(spark, turns, salted = false, 4)
      .rdd.mapPartitions { it =>
        val rows = it.map(r => (r.conv_id, r.turn_idx)).toVector
        Iterator.single(rows == rows.sorted)
      }.collect()
    assert(perPart.forall(identity), "a partition violated (conv_id, turn_idx) order")
  }

  test("lineage counts: turn_count = ok + fail and totals match input") {
    val dir = tmpDir(); val out = tmpDir()
    val snap = TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 20, 32, buckets = 2)
    val cfg = ExtractJob.Config(dir, out)
    val n = ExtractJob.runSnapshot(spark, cfg, snap)
    val lin = spark.read.parquet(s"$out/lineage/snapshot=1")
    import spark.implicits._
    val (tc, ok, fail) = lin
      .agg(org.apache.spark.sql.functions.sum("turn_count"),
        org.apache.spark.sql.functions.sum("ok_count"),
        org.apache.spark.sql.functions.sum("fail_count"))
      .as[(Long, Long, Long)].head()
    assert(tc == n)
    assert(tc == ok + fail)
    assert(tc == TranscriptGen.totalTurns(20, 32))
    // input_files recorded
    val files = lin.select("input_files").as[Seq[String]].collect().flatten
    assert(files.exists(_.contains("snapshot=1")))
    // the lineage file the driver wrote from the accumulator must equal
    // the audit recompute over the committed results, on schema and rows
    val cols = Seq("run_id", "snapshot_id", "partition_id", "input_files",
      "turn_count", "ok_count", "fail_count")
    val shape = (df: org.apache.spark.sql.DataFrame) =>
      df.schema.fields.map(f => f.name -> f.dataType.simpleString).toVector
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted.toVector
    def sameAsAudit(outDir: String, runId: String): Unit = {
      val written = spark.read.parquet(s"$outDir/lineage/snapshot=1")
      val audit = LineageAudit.lineage(
        spark.read.parquet(s"$outDir/results/snapshot=1"), runId, 1L)
      assert(shape(written) == shape(audit), "lineage schema differs from the audit's")
      assert(key(written) == key(audit), "accumulator lineage differs from the audit recompute")
    }
    sameAsAudit(out, cfg.runId)
    // the same on the salted path, whose shuffle interleaves input files
    val saltedOut = tmpDir()
    val saltedCfg = cfg.copy(outDir = saltedOut, salted = true, saltBuckets = 4)
    ExtractJob.runSnapshot(spark, saltedCfg, snap)
    sameAsAudit(saltedOut, saltedCfg.runId)
    // and the driver's file reads as a Spark write of the same rows does
    val stats = Map(
      0 -> ExtractJob.PartitionLineage(0, Seq("a", "b"), 3, 2, 1),
      1 -> ExtractJob.PartitionLineage(1, Seq.empty, 0, 0, 0),
      2 -> ExtractJob.PartitionLineage(2, Seq("c"), 5, 5, 0))
    val (byDriver, bySpark) = (tmpDir(), tmpDir())
    ExtractJob.writeLineage(spark, stats, "r", 7L, byDriver)
    ExtractJob.lineageFromStats(spark, stats, "r", 7L).write.mode("overwrite").parquet(bySpark)
    val (d, k) = (spark.read.parquet(byDriver), spark.read.parquet(bySpark))
    assert(d.schema == k.schema, s"${d.schema.treeString} != ${k.schema.treeString}")
    assert(key(d) == key(k) && key(d).length == 2)
  }

  test("readAll spans multiple snapshots (sibling snapshot= roots, one table)") {
    // regression: without basePath, Spark partition discovery rejects two
    // sibling snapshot=N directories as CONFLICTING_DIRECTORY_STRUCTURES
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 5, 8, buckets = 2)
    TranscriptsTable.appendSnapshot(spark, dir, 2, 5, 5, 8, buckets = 2)
    val all = TranscriptsTable.readAll(spark, dir)
    val perSnap = TranscriptsTable.readManifest(dir)
      .map(s => TranscriptsTable.readSnapshot(spark, s).count()).sum
    assert(all.count() == perSnap)
    assert(all.columns.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    // the declared read schema must stay what the writer puts in the files
    val inferred = spark.read.option("basePath", dir)
      .parquet(TranscriptsTable.readManifest(dir).map(_.path): _*)
      .drop("snapshot", "bucket")
    assert(all.schema == inferred.schema,
      s"declared ${all.schema.treeString} != inferred ${inferred.schema.treeString}")
  }

  test("a presorted snapshot is one Spark job, and its lineage one parquet file") {
    val dir = tmpDir(); val out = tmpDir()
    val snap = TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 20, 32, buckets = 2)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      ExtractJob.runSnapshot(spark, ExtractJob.Config(dir, out), snap)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs ran; expected the results write only")
    val st = Files.list(Paths.get(s"$out/lineage/snapshot=1"))
    val parquet = try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally st.close()
    assert(parquet == 1, s"lineage written as $parquet parquet files")
  }

  test("resume: completed snapshots are skipped; no duplicated or lost turns") {
    val dir = tmpDir(); val out = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 10, 32, buckets = 2)
    TranscriptsTable.appendSnapshot(spark, dir, 2, 10, 10, 32, buckets = 2)
    val cfg = ExtractJob.Config(dir, out)
    // simulate a crash: snapshot 1 committed, snapshot 2 not yet run
    val snaps = TranscriptsTable.readManifest(dir)
    ExtractJob.runSnapshot(spark, cfg, snaps.head)
    val marker1 = ExtractJob.commitMarker(out, 1)
    val firstCommitTime = Files.getLastModifiedTime(marker1)
    // a crash between writing snapshot 2's marker and renaming it into
    // place leaves `snapshot-2.done.tmp`: that is no commit
    Files.writeString(Paths.get(ExtractJob.commitMarker(out, 2).toString + ".tmp"),
      """{"snapshot":2,"turns":0}""")
    assert(ExtractJob.committedSnapshots(out) == Set(1L))
    // resume: must process exactly snapshot 2
    val processed = ExtractJob.run(spark, cfg)
    assert(processed.map(_._1) == Seq(2L))
    assert(Files.getLastModifiedTime(marker1) == firstCommitTime,
      "snapshot 1 was reprocessed on resume")
    // totals: no dup, no loss
    val res = spark.read.parquet(s"$out/results")
    assert(res.count() ==
      TranscriptGen.totalTurns(10, 32) +
        (10 until 20).map(c => TranscriptGen.convSize(c, 32).toLong).sum)
    assert(res.select("conv_id", "turn_idx").distinct().count() == res.count())
    // idempotent: a third run does nothing
    assert(ExtractJob.run(spark, cfg).isEmpty)
  }

  test("resume: a snapshot with results and lineage written but no commit marker is redone") {
    val dir = tmpDir()
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 12, 32, buckets = 2)
    def digest(out: String): (Long, Long, Long, String) = {
      val res = spark.read.parquet(s"$out/results/snapshot=1")
      val lin = spark.read.parquet(s"$out/lineage/snapshot=1")
      val h = (df: org.apache.spark.sql.DataFrame) =>
        df.selectExpr("sum(hash(*))").head().getLong(0)
      (res.count(), h(res), h(lin),
        Files.readString(ExtractJob.commitMarker(out, 1)))
    }
    val clean = tmpDir()
    ExtractJob.run(spark, ExtractJob.Config(dir, clean))
    // the crash state, built by hand: a run wrote results and lineage and
    // died before the marker, after an earlier attempt left a part file
    // of its own in each directory
    val crashed = tmpDir()
    val cfg = ExtractJob.Config(dir, crashed)
    ExtractJob.run(spark, cfg)
    Files.delete(ExtractJob.commitMarker(crashed, 1))
    for (sub <- Seq("results", "lineage")) {
      val d = Paths.get(s"$crashed/$sub/snapshot=1")
      val st = Files.list(d)
      val part = try st.iterator().asScala.find(_.toString.endsWith(".parquet")).get
        finally st.close()
      Files.copy(part, d.resolve("part-99999-earlier-attempt.parquet"))
    }
    assert(ExtractJob.committedSnapshots(crashed).isEmpty)
    assert(ExtractJob.run(spark, cfg).map(_._1) == Seq(1L))
    assert(digest(crashed) == digest(clean))
  }
}
