package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.gen.TranscriptGen
import graft.model.Turn

/** Iceberg-shaped table layer over plain Parquet (no Iceberg runtime in
  * this environment — SURVEY.md §7). Emulates:
  *   - bucket-by-conv_id layout: a computed `bucket = pmod(hash(conv_id), B)`
  *     partition column, so all turns of a conversation are co-located and
  *     the extract stage needs no shuffle;
  *   - snapshots: each append writes parquet under `snapshot=<id>/bucket=<b>/`
  *     and registers itself in `manifest.json` (written atomically via
  *     temp+rename). Snapshot ids are the resume granularity (north rule).
  *
  * The interface stays Iceberg-shaped so a real iceberg-spark-runtime can
  * replace this module without touching call sites.
  */
object TranscriptsTable {

  final case class SnapshotRef(id: Long, path: String, nConvs: Int, convOffset: Int)

  /** The table's data schema: the [[Turn]] rows [[appendSnapshot]]
    * writes. Reads declare it, so Spark skips the footer-reading job it
    * otherwise runs on every read to infer a schema we already know; the
    * `snapshot=`/`bucket=` partition columns are still discovered from
    * the paths.
    */
  val Schema: StructType = Encoders.product[Turn].schema

  def manifestPath(baseDir: String): String = s"$baseDir/manifest.json"

  /** Minimal JSON codec for the manifest (no JSON lib in the allowed
    * deps). Snapshot paths under the table root are stored RELATIVE to it
    * (resolved back to absolute in [[readManifest]]), so the whole table
    * directory is relocatable — move/clone/rename it and the metadata
    * still resolves, the property that lets benchmarks cache a generated
    * table and production move one between storage tiers without a
    * metadata rewrite. Absolute entries (external snapshots, or manifests
    * written before this change) still read as-is.
    */
  private def renderManifest(baseDir: String, snaps: Seq[SnapshotRef]): String = {
    val base = Paths.get(baseDir).toAbsolutePath.normalize
    snaps
      .map { s =>
        val p = Paths.get(s.path).toAbsolutePath.normalize
        val stored = if (p.startsWith(base)) base.relativize(p).toString else s.path
        s"""{"id":${s.id},"path":"$stored","nConvs":${s.nConvs},"convOffset":${s.convOffset}}"""
      }
      .mkString("[", ",", "]")
  }

  private val snapRe =
    """\{"id":(\d+),"path":"([^"]*)","nConvs":(\d+),"convOffset":(\d+)\}""".r

  def readManifest(baseDir: String): Seq[SnapshotRef] = {
    val p = Paths.get(manifestPath(baseDir))
    if (!Files.exists(p)) Seq.empty
    else
      snapRe
        .findAllMatchIn(Files.readString(p))
        .map { m =>
          val raw = m.group(2)
          val abs = if (raw.startsWith("/")) raw else s"$baseDir/$raw"
          SnapshotRef(m.group(1).toLong, abs, m.group(3).toInt, m.group(4).toInt)
        }
        .toSeq
  }

  private def writeManifest(baseDir: String, snaps: Seq[SnapshotRef]): Unit = {
    val tmp = Paths.get(manifestPath(baseDir) + ".tmp")
    Files.createDirectories(Paths.get(baseDir))
    Files.writeString(tmp, renderManifest(baseDir, snaps))
    Files.move(tmp, Paths.get(manifestPath(baseDir)),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Distributed snapshot write: conversations are generated ON EXECUTORS
    * (one task per conv range — generation is a pure function of conv/turn
    * index, so this scales to any cluster size), bucketed by conv_id and
    * sorted by (conv_id, turn_idx) within each bucket file.
    */
  def appendSnapshot(
      spark: SparkSession,
      baseDir: String,
      snapshotId: Long,
      convOffset: Int,
      nConvs: Int,
      giantScale: Int = 256,
      buckets: Int = 8,
      /** Parquet row-group size for the bucket files. At production scale
        * a bucket file is GBs = dozens of default 128 MB row groups, and
        * scans split WITHIN a bucket at row-group boundaries — which is
        * what lets a scheduler absorb a giant conversation's bucket
        * across task waves. A small sandbox table writes ONE row group
        * per bucket by default, making each bucket artificially
        * indivisible; benchmarks pass a small value here so the scan
        * granularity (splits per core) matches the production shape.
        */
      rowGroupBytes: Option[Long] = None): SnapshotRef = {
    import spark.implicits._
    val path = s"$baseDir/snapshot=$snapshotId"
    val parallelism = math.max(spark.sparkContext.defaultParallelism, buckets)
    val turns = spark
      .range(convOffset, convOffset + nConvs, 1, parallelism)
      .as[Long]
      .mapPartitions(_.flatMap { c =>
        val ci = c.toInt
        (0 until TranscriptGen.convSize(ci, giantScale)).iterator
          .map(t => TranscriptGen.turn(ci, t))
      })
    val writer = turns
      .withColumn("bucket", pmod(hash($"conv_id"), lit(buckets)))
      .repartition(buckets, $"bucket")
      .sortWithinPartitions($"conv_id", $"turn_idx")
      .write
      .mode("overwrite")
      .partitionBy("bucket")
    rowGroupBytes
      .fold(writer)(b => writer.option("parquet.block.size", b.toString))
      .parquet(path)
    val ref = SnapshotRef(snapshotId, path, nConvs, convOffset)
    val existing = readManifest(baseDir).filterNot(_.id == snapshotId)
    writeManifest(baseDir, (existing :+ ref).sortBy(_.id))
    ref
  }

  /** Read one snapshot with the declared [[Schema]] (the bucket
    * partition column is dropped — it's layout, not data).
    */
  def readSnapshot(spark: SparkSession, snap: SnapshotRef): DataFrame =
    spark.read.schema(Schema).parquet(snap.path)
      .select(Schema.fieldNames.map(col): _*)

  /** Read every registered snapshot as one DataFrame. basePath makes the
    * sibling `snapshot=N` roots legal partition directories of one table —
    * without it Spark's partition discovery rejects a multi-snapshot read
    * as CONFLICTING_DIRECTORY_STRUCTURES (latent until a table actually
    * held two snapshots). The select keeps the declared [[Schema]]'s
    * columns, dropping the layout ones.
    */
  def readAll(spark: SparkSession, baseDir: String): DataFrame = {
    val snaps = readManifest(baseDir)
    require(snaps.nonEmpty, s"no snapshots registered under $baseDir")
    spark.read.schema(Schema).option("basePath", baseDir)
      .parquet(snaps.map(_.path): _*)
      .select(Schema.fieldNames.map(col): _*)
  }

}
