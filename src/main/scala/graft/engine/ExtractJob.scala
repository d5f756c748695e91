package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions

/** Flat sink-boundary row, with the lineage columns `input_file`
  * (captured at scan time: it does not survive a shuffle as a metadata
  * function) and `partition_id` (captured at extract time) beside the
  * semantic payload. `sections`/`fields`/`field_src` are canonical
  * JSON strings (reference-faithful — the reference's sinks store JSON
  * text — and ~20x cheaper to write than nested parquet groups; recover
  * typed columns via `from_json` with
  * [[ExtractJob.SectionsSchema]]/[[ExtractJob.FieldsSchema]]).
  * `field_src` carries per-field provenance (anchor | pattern), keyed
  * identically to `fields`.
  */
final case class ResultRow(
    conv_id: String, turn_idx: Int, doc_type: String, extracted_text: String,
    sections: String, fields: String, field_src: String,
    signature_present: Boolean, confidence: Double, status: String,
    partition_id: Int, input_file: String)

/** The extraction pipeline (SURVEY.md §7): scan → [optional salted
  * repartition] → sortWithinPartitions(conv_id, turn_idx) → the
  * `extract_turn` projection → results + per-partition lineage, committed
  * per snapshot for checkpoint-resume. A snapshot is two Spark jobs: the
  * results write and a one-task lineage write. The scan declares the
  * table's schema, so no schema-inference job runs.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - The extract stage is NARROW: when the input is already bucketed by
  *    conv_id (our table layout), `salted = false` runs scan→extract→write
  *    with ZERO shuffles. `salted = true` adds exactly one shuffle keyed on
  *    (conv_id, pmod(hash(turn_idx), salt)) — the salt splits a skewed
  *    conversation (one conv with 10^6 turns) across `salt` tasks instead
  *    of serializing one straggler.
  *  - The extractor is one Catalyst expression ([[turnExtract]]), so the
  *    extract runs inside the scan's (or the sort's) whole-stage codegen
  *    stage, and the optimizer sees through it. Classifier/regex state is
  *    compiled once per JVM (object init), not per row.
  *  - Lineage is collected DURING the write (a [[LineageAccumulator]]
  *    registered per extract task at iterator exhaustion) — the output is
  *    never re-scanned. At 100 TB the alternative (a second job over the
  *    written results) re-reads the entire output for KB of counters.
  */
object ExtractJob {

  /** One partition's lineage stat, collected inside the extract task. */
  final case class PartitionLineage(
      partitionId: Int, inputFiles: Seq[String],
      turnCount: Long, okCount: Long, failCount: Long)

  /** Replace-merge accumulator keyed by partition id, filled during the
    * extract/write job so lineage needs NO second scan of the output.
    *
    * Why this is exact despite living in a transformation: the stat is
    * registered only at iterator EXHAUSTION (a task that dies mid-partition
    * never contributes a partial count), extraction is deterministic per
    * partition, and `add`/`merge` REPLACE by partition id — so a retried or
    * speculative task re-registers a byte-identical value and double
    * application is idempotent. The committed files and the accumulated
    * stats therefore describe the same rows.
    *
    * Driver memory is O(#partitions) — one small row per task, the same
    * order as the task metrics the driver already tracks per stage.
    */
  final class LineageAccumulator
      extends org.apache.spark.util.AccumulatorV2[
        PartitionLineage, Map[Int, PartitionLineage]] {
    private val m = scala.collection.mutable.HashMap.empty[Int, PartitionLineage]
    override def isZero: Boolean = m.isEmpty
    override def copy(): LineageAccumulator = {
      val c = new LineageAccumulator; c.m ++= m; c
    }
    override def reset(): Unit = m.clear()
    override def add(v: PartitionLineage): Unit = m(v.partitionId) = v
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        PartitionLineage, Map[Int, PartitionLineage]]): Unit =
      other.value.foreach { case (k, v) => m(k) = v }
    override def value: Map[Int, PartitionLineage] = m.toMap
  }

  /** Lineage row in its sink schema (matches [[lineage]]'s output). */
  final case class LineageRow(
      run_id: String, snapshot_id: Long, partition_id: Int,
      input_files: Seq[String], turn_count: Long, ok_count: Long,
      fail_count: Long)

  // built once per JVM: deriving a product encoder reflects over the case
  // class on every call
  private val ResultRowEncoder: Encoder[ResultRow] = Encoders.product[ResultRow]
  private val LineageRowEncoder: Encoder[LineageRow] = Encoders.product[LineageRow]

  /** Accumulated stats → the lineage table, driver-local (KB scale).
    * Empty partitions are dropped to match [[lineage]]'s groupBy shape.
    * The rows are already in `partition_id` order, so `coalesce(1)` makes
    * the write one task and one file without a shuffle.
    */
  def lineageFromStats(spark: SparkSession,
      stats: Map[Int, PartitionLineage], runId: String,
      snapshotId: Long): DataFrame = {
    val rows = stats.values.filter(_.turnCount > 0).toSeq.sortBy(_.partitionId)
      .map(s => LineageRow(runId, snapshotId, s.partitionId, s.inputFiles,
        s.turnCount, s.okCount, s.failCount))
    spark.createDataset(rows)(LineageRowEncoder).toDF().coalesce(1)
  }

  /** Schemas for recovering typed columns from the JSON sink form:
    * `from_json(col("sections"), SectionsSchema)` /
    * `from_json(col("fields"), FieldsSchema)` — codegen'd Catalyst parse.
    */
  val SectionsSchema: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL(
      "array<struct<header:string, start:int, len:int>>")
  val FieldsSchema: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")

  final case class Config(
      tableDir: String,
      outDir: String,
      runId: String = "run-0",
      salted: Boolean = false,
      saltBuckets: Int = 16,
      /** optional JDBC mirror of the results (K1) — see [[Sinks]] */
      jdbc: Option[Sinks.JdbcConfig] = None)

  /** The one per-turn extraction operator, which the batch job projects:
    * `extract_turn` over `text`, a null text read as "" so that it
    * quarantines as `failed:empty`, as the pure extractor does. (SQL
    * `extract_turn(NULL)` stays NULL.)
    */
  val turnExtract: Column = TextFunctions.extractTurn(coalesce(col("text"), lit("")))

  /** Core transform: Dataset-native, pure, partition-count independent.
    *
    * @param presorted the input is our bucketed table read directly (rows
    *        of each conversation are contiguous and sorted within every
    *        file) — skip the secondary sort; each row-copy avoided matters
    *        at 100 TB. Only valid with `salted = false`.
    * @param lineageAcc when set, each task registers its partition's
    *        lineage stat at iterator exhaustion, so the caller gets the
    *        per-partition rollup from the SAME pass that wrote the rows
    *        (see [[LineageAccumulator]] for the exactness argument). The
    *        result is then planned here: on the salted path its
    *        shuffle-map stage runs during this call, as for `Dataset.rdd`,
    *        and the write that follows runs only the result stage.
    */
  def extract(spark: SparkSession, turns: DataFrame, salted: Boolean,
      saltBuckets: Int, presorted: Boolean = false,
      lineageAcc: Option[LineageAccumulator] = None): Dataset[ResultRow] = {
    // checked on the driver: pmod by 0 would fail only inside a task
    require(!salted || saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val withFile = turns
      .select(col("conv_id"), col("turn_idx"), col("text"),
        coalesce(input_file_name(), lit("")).as("input_file"))
    val parted =
      if (salted)
        withFile.repartition(col("conv_id"), pmod(hash(col("turn_idx")), lit(saltBuckets)))
      else withFile
    val ordered =
      if (presorted && !salted) parted
      else parted.sortWithinPartitions("conv_id", "turn_idx")
    // two projections: the struct is computed once per row, then split
    // into ResultRow's columns
    val results = ordered
      .select(col("conv_id"), col("turn_idx"), turnExtract.as("e"), col("input_file"))
      .selectExpr("conv_id", "turn_idx", "e.doc_type", "e.extracted_text",
        "e.sections", "e.fields", "e.field_src", "e.signature_present",
        "e.confidence", "e.status", "spark_partition_id() AS partition_id",
        "input_file")
    lineageAcc.fold(results)(tapLineage(results, _)).as(ResultRowEncoder)
  }

  /** `results` with each partition's turns, oks and input files counted as
    * its rows pass; the [[PartitionLineage]] is registered only when the
    * partition's iterator is exhausted.
    */
  private def tapLineage(results: DataFrame, acc: LineageAccumulator): DataFrame = {
    val status = results.schema.fieldIndex("status")
    val file = results.schema.fieldIndex("input_file")
    GraftColumnBridge.mapInternalPartitions(results) { it =>
      val pid = TaskContext.getPartitionId()
      val okStatus = UTF8String.fromString("ok")
      var turns = 0L
      var ok = 0L
      // on the presorted path rows arrive file-contiguous, so one compare
      // with the previous row's file skips the set; the salted path
      // interleaves files at conversation boundaries, and the set keeps
      // memory O(distinct files), not O(transitions)
      var lastFile: UTF8String = null
      val files = scala.collection.mutable.HashSet.empty[String]
      it.map { r =>
        turns += 1
        if (r.getUTF8String(status) == okStatus) ok += 1
        val f = r.getUTF8String(file)
        if (f != lastFile) {
          lastFile = f.clone() // f points into the reused row buffer
          files += lastFile.toString
        }
        r
      } ++ {
        acc.add(PartitionLineage(pid, files.toList.sorted, turns, ok, turns - ok))
        Iterator.empty
      }
    }
  }

  /** Per-partition lineage rows (north rule) RECOMPUTED from a results
    * DataFrame — the audit variant, for verifying a committed snapshot
    * after the fact. The production path ([[runSnapshot]]) collects the
    * identical rows during the write via [[LineageAccumulator]] and never
    * re-scans the output; this recompute costs a full (column-pruned)
    * second scan and exists to cross-check it.
    */
  def lineage(spark: SparkSession, results: DataFrame, runId: String,
      snapshotId: Long): DataFrame =
    results
      .groupBy(col("partition_id"))
      .agg(
        sort_array(collect_set(col("input_file"))).as("input_files"),
        count(lit(1)).as("turn_count"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("ok_count"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("fail_count"))
      .withColumn("run_id", lit(runId))
      .withColumn("snapshot_id", lit(snapshotId))
      .select("run_id", "snapshot_id", "partition_id", "input_files",
        "turn_count", "ok_count", "fail_count")

  def commitMarker(outDir: String, snapshotId: Long): java.nio.file.Path =
    Paths.get(s"$outDir/_commits/snapshot-$snapshotId.done")

  def committedSnapshots(outDir: String): Set[Long] = {
    val dir = Paths.get(s"$outDir/_commits")
    if (!Files.exists(dir)) Set.empty
    else {
      // whole-name match: a `snapshot-N.done.tmp` left by a crash before
      // the marker's rename is not a commit
      val re = """snapshot-(\d+)\.done""".r
      import scala.jdk.CollectionConverters._
      val stream = Files.list(dir)
      try
        stream.iterator().asScala.map(_.getFileName.toString)
          .collect { case re(id) => id.toLong }.toSet
      finally stream.close()
    }
  }

  /** Process one snapshot: extract → write results (lineage accumulated
    * in the same job) → write lineage → atomic commit marker. Output
    * paths are snapshot-scoped and written with overwrite, so a retry
    * after a crash before the marker is idempotent (exactly-once per
    * snapshot without ACID tables). The whole snapshot costs ONE pass
    * over the input and two Spark jobs: the results write, and a one-task
    * write of the lineage rows, which come with the committed-turn count
    * from the [[LineageAccumulator]] filled by the results job's own
    * tasks, not a second scan of the output. The scan declares the table
    * schema, so no schema-inference job runs before them.
    */
  def runSnapshot(spark: SparkSession, cfg: Config,
      snap: TranscriptsTable.SnapshotRef): Long = {
    val turns = TranscriptsTable.readSnapshot(spark, snap)
    // the snapshot read IS the bucketed sorted layout -> presorted path
    // (zero shuffle, no secondary-sort row copy) unless salting is on
    val acc = new LineageAccumulator
    spark.sparkContext.register(acc, s"graft-lineage-snapshot-${snap.id}")
    val results = extract(spark, turns, cfg.salted, cfg.saltBuckets,
      presorted = !cfg.salted, lineageAcc = Some(acc))
    val resPath = s"${cfg.outDir}/results/snapshot=${snap.id}"
    Sinks.writeParquet(results.toDF(), resPath)
    val stats = acc.value
    // Default mirror is AT-LEAST-ONCE: a crash between this append and
    // the commit marker re-runs the snapshot and re-appends. Rows carry
    // snapshot_id so a consumer (or a MERGE-capable load job) can dedupe
    // on (snapshot_id, conv_id, turn_idx); plain JDBC append cannot be
    // exactly-once without sink-side transactions. The parquet system of
    // record stays exactly-once via overwrite + marker. `staged` mirrors
    // into a per-snapshot staging table with overwrite-on-replay instead,
    // making consumer-side dedup optional (Sinks.mirrorToJdbcStaged).
    // (The mirror re-reads the written parquet — config-gated, and the
    // mirror needs the durably committed rows, not the plan.)
    cfg.jdbc.foreach { j =>
      val withSnap = spark.read.parquet(resPath).withColumn("snapshot_id",
        org.apache.spark.sql.functions.lit(snap.id))
      if (j.staged) Sinks.mirrorToJdbcStaged(withSnap, j, snap.id)
      else Sinks.mirrorToJdbc(withSnap, j)
    }
    lineageFromStats(spark, stats, cfg.runId, snap.id)
      .write.mode("overwrite").parquet(s"${cfg.outDir}/lineage/snapshot=${snap.id}")
    val n = stats.valuesIterator.map(_.turnCount).sum
    // temp+rename commit record — the resume checkpoint
    val marker = commitMarker(cfg.outDir, snap.id)
    Files.createDirectories(marker.getParent)
    val tmp = Paths.get(marker.toString + ".tmp")
    Files.writeString(tmp, s"""{"snapshot":${snap.id},"turns":$n}""")
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    n
  }

  /** Plan = registered snapshots minus committed ones; process the delta.
    * Re-running after success is a no-op; re-running after a mid-job crash
    * re-does only uncommitted snapshots.
    */
  def run(spark: SparkSession, cfg: Config): Seq[(Long, Long)] = {
    val all = TranscriptsTable.readManifest(cfg.tableDir)
    val done = committedSnapshots(cfg.outDir)
    val pending = all.filterNot(s => done.contains(s.id)).sortBy(_.id)
    pending.map(s => s.id -> runSnapshot(spark, cfg, s))
  }
}
