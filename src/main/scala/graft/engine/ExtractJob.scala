package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.{SPARK_VERSION_SHORT, TaskContext}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
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
  * per snapshot for checkpoint-resume. A presorted snapshot is one Spark
  * job, the results write: its own tasks count the lineage, and the
  * driver writes the few lineage rows as one parquet file. The scan
  * declares the table's schema, so no schema-inference job runs.
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
  *    Its rows, one per partition, are written by the driver: a Spark
  *    job for them would cost more than the rows (a fixed price per job
  *    and per task; Scaling Spark in the Real World, VLDB 2015).
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

  /** Lineage row in its sink schema. */
  final case class LineageRow(
      run_id: String, snapshot_id: Long, partition_id: Int,
      input_files: Seq[String], turn_count: Long, ok_count: Long,
      fail_count: Long)

  // built once per JVM: deriving a product encoder reflects over the case
  // class on every call
  private val ResultRowEncoder: Encoder[ResultRow] = Encoders.product[ResultRow]
  private val LineageRowEncoder: Encoder[LineageRow] = Encoders.product[LineageRow]

  /** Accumulated stats → the lineage rows (KB scale), in `partition_id`
    * order. Empty partitions are dropped: a group-by over the results
    * has no row for them.
    */
  private def lineageRows(stats: Map[Int, PartitionLineage], runId: String,
      snapshotId: Long): Seq[LineageRow] =
    stats.values.filter(_.turnCount > 0).toSeq.sortBy(_.partitionId)
      .map(s => LineageRow(runId, snapshotId, s.partitionId, s.inputFiles,
        s.turnCount, s.okCount, s.failCount))

  /** The lineage rows as a DataFrame, driver-local; `coalesce(1)` makes a
    * write of it one task and one file without a shuffle.
    * [[writeLineage]] writes the same rows without a Spark job.
    */
  def lineageFromStats(spark: SparkSession,
      stats: Map[Int, PartitionLineage], runId: String,
      snapshotId: Long): DataFrame =
    spark.createDataset(lineageRows(stats, runId, snapshotId))(LineageRowEncoder)
      .toDF().coalesce(1)

  /** [[LineageRow]]'s parquet schema, derived as Spark's writer derives
    * it (standard, non-legacy LIST groups).
    */
  private val LineageParquetSchema =
    new SparkToParquetSchemaConverter().convert(LineageRowEncoder.schema)

  /** Write the lineage rows into directory `dir` as one snappy parquet
    * file, on the driver, with no Spark job: the schema, the rows and the
    * footer's Spark schema are those of a Spark write of
    * [[lineageFromStats]], so `spark.read.parquet(dir)` reads the same
    * table. `dir` is replaced (a resumed snapshot rewrites it), and the
    * file appears under its name by an atomic rename.
    */
  def writeLineage(spark: SparkSession, stats: Map[Int, PartitionLineage],
      runId: String, snapshotId: Long, dir: String): Unit = {
    val d = Paths.get(dir)
    JavaUtils.deleteRecursively(d.toFile)
    Files.createDirectories(d)
    val tmp = d.resolve(".part-00000.snappy.parquet.tmp") // readers skip `.` names
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(LineageParquetSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withExtraMetaData(Map(
        "org.apache.spark.version" -> SPARK_VERSION_SHORT,
        "org.apache.spark.sql.parquet.row.metadata" -> LineageRowEncoder.schema.json).asJava)
      .build()
    try {
      val rows = new SimpleGroupFactory(LineageParquetSchema)
      val names = LineageRowEncoder.schema.fieldNames
      for (r <- lineageRows(stats, runId, snapshotId)) {
        val g = rows.newGroup()
        // the row's fields in schema order; a null leaves its column unset
        r.productIterator.zip(names).foreach {
          case (v: String, n) => g.append(n, v)
          case (v: Long, n) => g.append(n, v)
          case (v: Int, n) => g.append(n, v)
          case (v: Seq[_], n) =>
            val list = g.addGroup(n)
            v.foreach(e => list.addGroup("list").append("element", e.toString))
          case (null, _) =>
        }
        writer.write(g)
      }
    } finally writer.close()
    Files.move(tmp, d.resolve("part-00000.snappy.parquet"), StandardCopyOption.ATOMIC_MOVE)
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
      saltBuckets: Int = 16)

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
    * over the input and, presorted, one Spark job: the results write.
    * Its tasks fill the [[LineageAccumulator]] with the lineage rows and
    * the committed-turn count, so the output is not scanned again, and
    * the driver writes those rows itself ([[writeLineage]]). The salted
    * path adds the job of its shuffle-map stage. The scan declares the
    * table schema, so no schema-inference job runs before them.
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
    writeLineage(spark, stats, cfg.runId, snap.id, s"${cfg.outDir}/lineage/snapshot=${snap.id}")
    val n = stats.valuesIterator.map(_.turnCount).sum
    // the resume checkpoint
    val marker = commitMarker(cfg.outDir, snap.id)
    Files.createDirectories(marker.getParent)
    LocalFiles.atomicWrite(marker, s"""{"snapshot":${snap.id},"turns":$n}""")
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
