package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance operators for the parquet system of record:
  * MERGE (upsert) and small-file COMPACTION — both as COPY-ON-WRITE
  * versioned rewrites with an atomically swapped pointer, the same
  * commit discipline the snapshot manifest uses (temp file + atomic
  * rename; readers resolve the pointer and only ever see a complete
  * version). This is the Delta/Iceberg MERGE shape without their
  * runtimes (none in /opt/spark/jars — same constraint TranscriptsTable
  * documents): stale version directories are unreferenced garbage a
  * vacuum can delete, never a correctness hazard.
  *
  * Scale notes:
  *  - mergeUpsert is ONE key-keyed anti-join (AQE broadcasts small
  *    update batches) + a union write — no window, no global sort; the
  *    rewrite cost is the table scan every copy-on-write MERGE pays.
  *  - compact sizes the output by measured input bytes / target, so the
  *    file count tracks data volume, not the historical task count that
  *    produced the small files.
  */
object Maintenance {

  private def pointerPath(base: String) = Paths.get(base, "_VERSION")
  private def versionDir(base: String, v: Long) = s"$base/v$v"

  def currentVersion(base: String): Option[Long] = {
    val p = pointerPath(base)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  private def requireCurrent(base: String): Long = currentVersion(base).getOrElse(
    throw new IllegalStateException(s"no _VERSION pointer under $base"))

  def readCurrent(spark: SparkSession, base: String): DataFrame =
    spark.read.parquet(versionDir(base, requireCurrent(base)))

  /** Atomic pointer swap ([[LocalFiles.atomicWrite]]): a crash before
    * the rename leaves the previous version current; after it, the new
    * one — never a partial state.
    */
  private def commitVersion(base: String, v: Long): Unit =
    LocalFiles.atomicWrite(pointerPath(base), v.toString)

  /** Create the table as version 1. */
  def initTable(spark: SparkSession, base: String, df: DataFrame): Unit = {
    Files.createDirectories(Paths.get(base))
    df.write.mode("overwrite").parquet(versionDir(base, 1L))
    commitVersion(base, 1L)
  }

  /** MERGE: rows of `updates` replace current rows with the same key;
    * keys absent from the table are inserts. `updates` must be unique
    * per key (the caller's contract, as in SQL MERGE where a duplicate
    * source key is an error). Returns the new version id.
    */
  def mergeUpsert(spark: SparkSession, base: String, updates: DataFrame,
      keys: Seq[String]): Long = {
    val cur = readCurrent(spark, base)
    val merged = cur
      .join(updates.select(keys.map(org.apache.spark.sql.functions.col): _*)
        .dropDuplicates(keys), keys, "left_anti")
      .unionByName(updates)
    val next = requireCurrent(base) + 1
    merged.write.mode("overwrite").parquet(versionDir(base, next))
    commitVersion(base, next)
    next
  }

  /** Compact the current version into ~targetBytes files. Returns
    * (newVersion, filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, base: String,
      targetBytes: Long): (Long, Int, Int) = {
    val v = requireCurrent(base)
    val dir = Paths.get(versionDir(base, v))
    var nFiles = 0
    var bytes = 0L
    val st = Files.list(dir)
    try st.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".parquet")) {
        nFiles += 1; bytes += Files.size(p)
      }
    } finally st.close()
    val outFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val next = v + 1
    readCurrent(spark, base).coalesce(outFiles)
      .write.mode("overwrite").parquet(versionDir(base, next))
    commitVersion(base, next)
    (next, nFiles, outFiles)
  }

  /** Delete version directories older than the current pointer (the
    * vacuum that reclaims copy-on-write garbage). Never touches the
    * current version.
    */
  def vacuum(base: String): Seq[Long] = {
    val cur = requireCurrent(base)
    val dir = Paths.get(base)
    val removed = scala.collection.mutable.ListBuffer.empty[Long]
    val st = Files.list(dir)
    try st.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.matches("v\\d+")) {
        val v = n.drop(1).toLong
        if (v < cur) {
          JavaUtils.deleteRecursively(p.toFile)
          removed += v
        }
      }
    } finally st.close()
    removed.toSeq.sorted
  }
}
