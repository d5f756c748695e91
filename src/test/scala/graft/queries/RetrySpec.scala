package graft.queries

import graft.engine.LocalFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Planted-retry semantics for tr_retry_detect: the DuckDB oracle proves
  * Spark and SQL compute the SAME thing on the synthetic corpus; these
  * constructed conversations prove that thing is the intended answer —
  * verbatim retries score 1.0/exact, one-token-drift retries score the
  * predicted 8/10 Jaccard, the lag skips intervening assistant/tool
  * turns (pairs are consecutive USER turns), and unrelated consecutive
  * requests stay below the 0.5 floor.
  */
class RetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("retry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Write docs as a documents.parquet dir and run tr_retry_detect.
    * The transcripts frame derives conv cv = floor(sqrt(doc_id)), so the
    * doc_id ranges below select exactly the conversations under test.
    */
  private def run(docs: Seq[(Long, String)]): Seq[Seq[Any]] = {
    import spark.implicits._
    val dir = LocalFiles.scratchDir("retry-spec")
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.SparkEntry.queries("tr_retry_detect")(spark, dir)
      .collect().toSeq.map(_.toSeq)
  }

  test("verbatim family (conv%9==2): consecutive user turns exact, jac 1") {
    // conv-0002 = doc_id 4..8, 5 turns; user turns at 0/2/4 all carry the
    // planted verbatim retry text -> pairs (0,2) and (2,4), jac 1, exact.
    val rows = run((4L to 8L).map(i => i -> s"doc$i only tokens$i here$i"))
    assert(rows == Seq(
      Seq("conv-0002", 0L, 2L, 1.0, true),
      Seq("conv-0002", 2L, 4L, 1.0, true)), rows)
  }

  test("drift family (conv%9==5): lag skips the tool turn, jac 8/10") {
    // conv-0005 = doc_id 25..35, 11 turns; turn 6 is a tool turn, so the
    // user turns are 0/2/4/8/10 and the (4,8) pair spans the tool turn.
    // The planted texts differ only in the trailing cfgN token: 9-token
    // sets sharing 8 -> jac = 8/10 on every consecutive user pair.
    val rows = run((25L to 35L).map(i => i -> s"doc$i only tokens$i here$i"))
    assert(rows == Seq(
      Seq("conv-0005", 0L, 2L, 0.8, false),
      Seq("conv-0005", 2L, 4L, 0.8, false),
      Seq("conv-0005", 4L, 8L, 0.8, false),
      Seq("conv-0005", 8L, 10L, 0.8, false)), rows)
  }

  test("unrelated consecutive requests stay below the floor") {
    // conv-0003 = doc_id 9..15, no planted family (3 % 9 is neither 2
    // nor 5); token-disjoint texts -> jac 0 -> no rows.
    val rows = run((9L to 15L).map(i =>
      i -> s"uniq${i}alpha uniq${i}beta uniq${i}gamma uniq${i}delta"))
    assert(rows.isEmpty, rows)
  }
}
