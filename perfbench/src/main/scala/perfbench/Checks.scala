package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.TranscriptsTable
import graft.engine.TranscriptsTable.SnapshotRef
import graft.extract.Extract

/** Output checks for one extraction call's committed output. */
object Checks {
  type Key = (String, Int)
  /** doc_type, extracted_text, sections, fields, field_src,
    * signature_present, confidence, status
    */
  type Value = Seq[Any]

  val Cols = Seq("conv_id", "turn_idx", "doc_type", "extracted_text", "sections",
    "fields", "field_src", "signature_present", "confidence", "status")

  /** A seeded sample of conversations of `ref`; the largest one is always in it. */
  def sample(spark: SparkSession, ref: SnapshotRef, seed: Long, k: Int): Set[String] = {
    val sizes = TranscriptsTable.readSnapshot(spark, ref).groupBy("conv_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val r = new scala.util.Random(seed)
    (r.shuffle(sizes.toSeq).take(k).map(_._1) :+ sizes.maxBy(_._2)._1).toSet
  }

  /** The sampled rows as the extractor produces them called directly,
    * outside Spark (in parallel threads).
    */
  def expected(spark: SparkSession, ref: SnapshotRef, convs: Set[String]): Map[Key, Value] = {
    val in = TranscriptsTable.readSnapshot(spark, ref)
      .filter(col("conv_id").isin(convs.toSeq: _*))
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val parts = in.grouped(math.max(1, in.length / (4 * Util.cores))).toSeq.map { chunk =>
      Future(chunk.map { case (c, t, text) =>
        val e = Extract.extractTurn(c, t, text)
        (c, t) -> Seq(e.doc_type, e.extracted_text, Extract.sectionsToJson(e.sections),
          Extract.fieldsToJson(e.fields), Extract.fieldsToJson(e.field_src),
          e.signature_present, e.confidence, e.status)
      })
    }
    parts.flatMap(f => Await.result(f, Duration.Inf)).toMap
  }

  /** Failures found in one call's output: the row count, the lineage
    * totals, and every sampled row against `want`. Empty when all hold.
    */
  def extraction(spark: SparkSession, results: String, lineage: String,
      turns: Long, want: Map[Key, Value]): Seq[String] = {
    val res = spark.read.parquet(results)
    val rows = res.count()
    val lin = spark.read.parquet(lineage)
      .agg(sum("turn_count"), sum(when(col("ok_count") + col("fail_count") =!= col("turn_count"), 1)
        .otherwise(0))).head()
    val convs = want.keySet.map(_._1).toSeq
    val got = res.filter(col("conv_id").isin(convs: _*)).select(Cols.map(col): _*).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (2 until Cols.length).map(r.get)).toMap
    val wrong = want.count { case (k, v) => !got.get(k).contains(v) } +
      got.keySet.count(k => !want.contains(k))
    Seq(
      Option.when(rows != turns)(s"row count $rows != input turns $turns"),
      Option.when(lin.isNullAt(0) || lin.getLong(0) != turns)(
        s"lineage turn_count sum ${lin.get(0)} != input turns $turns"),
      Option.when(!lin.isNullAt(1) && lin.getLong(1) != 0)(
        s"${lin.getLong(1)} lineage rows with ok + fail != turn_count"),
      Option.when(wrong > 0)(s"$wrong sampled rows differ from the direct extractor")
    ).flatten
  }

  /** Copy of a results directory with one sampled row's doc_type changed:
    * the planted wrong row the benchmark's own tests feed to the check.
    */
  def plantWrongRow(spark: SparkSession, results: String, want: Map[Key, Value],
      into: String): String = {
    val (c, t) = want.keys.min
    spark.read.parquet(results)
      .withColumn("doc_type", when(col("conv_id") === c && col("turn_idx") === t,
        lit("PLANTED")).otherwise(col("doc_type")))
      .write.mode("overwrite").parquet(into)
    into
  }
}
