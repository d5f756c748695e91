package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.extract.Extract
import graft.gen.TranscriptGen

class ExtractTurnExprSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("expr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("extract_turn expression matches the pure extractor on every payload shape") {
    import spark.implicits._
    ExtractTurnExpr.register(spark)
    val turns = TranscriptGen.turns(20, 16).toVector
      .map(t => (t.conv_id, t.turn_idx, t.text)) :+
      ("conv-big", 0, "QTY 9 x Code Y\n" * 20000) // 300 K chars of line items
    val df = turns.toDF("conv_id", "turn_idx", "text")
    val et = call_function("extract_turn", $"text")
    val got = df.select($"conv_id", $"turn_idx",
        et.getField("doc_type"), et.getField("extracted_text"),
        et.getField("fields"), et.getField("sections"),
        et.getField("signature_present"), et.getField("confidence"),
        et.getField("status"))
      .as[(String, Int, String, String, String, String, Boolean, Double, String)]
      .collect().sortBy(r => (r._1, r._2))
    val want = turns.map { case (convId, turnIdx, text) =>
      val e = Extract.extractTurn(convId, turnIdx, text)
      (convId, turnIdx, e.doc_type, e.extracted_text,
        Extract.fieldsToJson(e.fields), Extract.sectionsToJson(e.sections),
        e.signature_present, e.confidence, e.status)
    }.sortBy(r => (r._1, r._2))
    assert(got.toVector == want)
  }

  test("extract_turn runs inside whole-stage codegen and is SQL-callable") {
    import spark.implicits._
    ExtractTurnExpr.register(spark)
    val df = Seq(("Signed by customer: Ana Li\nDate : 01/02/2020"))
      .toDF("text")
    df.createOrReplaceTempView("ttmp")
    val viaSql = spark.sql(
      "SELECT extract_turn(text).doc_type AS dt FROM ttmp").as[String].head()
    // 2 agreement keywords ("signed by customer", "customer") lands in the
    // reference ladder's POSSIBLE_AGREEMENT tier (>=2 but <3)
    assert(viaSql == "POSSIBLE_AGREEMENT")
    // codegen check needs a non-foldable source (a local relation is
    // constant-folded at plan time): project over a parquet scan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(call_function("extract_turn", $"text").getField("doc_type").as("dt"))
    docs.collect()
    val p = docs.queryExecution.executedPlan.toString
    assert(p.contains("*("),
      "extract_turn fell out of whole-stage codegen:\n" + p.take(800))
  }

  test("null and empty text are quarantined, not thrown") {
    import spark.implicits._
    ExtractTurnExpr.register(spark)
    val df = Seq(Some(""), None, Some("x")).toDF("text")
    val et = call_function("extract_turn", $"text")
    val rows = df.select(et.getField("status")).as[String].collect()
    assert(rows.count(_ == "failed:empty") == 1) // the empty string
    assert(rows.count(_ == null) == 1)           // null propagates null
    // the batch job reads a null text as "": failed:empty
    val turns = Seq(Some(""), None, Some("x")).zipWithIndex
      .map { case (t, i) => ("c", i, t) }.toDF("conv_id", "turn_idx", "text")
    val want = Seq("failed:empty", "failed:empty", "ok")
    val batch = graft.engine.ExtractJob.extract(spark, turns, salted = false, 4)
      .collect().sortBy(_.turn_idx).map(_.status).toSeq
    assert(batch == want, s"ExtractJob.extract statuses $batch")
  }
}
