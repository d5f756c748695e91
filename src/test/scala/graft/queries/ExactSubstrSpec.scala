package graft.queries

import graft.engine.LocalFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Planted-span semantics for the exact-substring family: the DuckDB
  * oracle proves Spark and SQL compute the SAME thing on the synthetic
  * corpus; these constructed documents prove that thing is the intended
  * ExactSubstr answer — longest verbatim token run, span count, hot-
  * window cap, and the W-1 window/span arithmetic at the boundaries.
  */
class ExactSubstrSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("exactsubstr-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Write docs as a documents.parquet table dir and run a catalog entry. */
  private def run(name: String, docs: Seq[(Long, String)]): Seq[Seq[Any]] = {
    import spark.implicits._
    val dir = LocalFiles.scratchDir("exactsubstr-spec")
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.SparkEntry.queries(name)(spark, dir)
      .collect().toSeq.map(_.toSeq)
  }

  // 26 distinct filler tokens so unrelated docs share nothing
  private def toks(range: Range, tag: String): String =
    range.map(i => s"$tag$i").mkString(" ")

  test("planted 12-token run: one pair, 5 shared windows, span 12") {
    // doc 1 and 2 share exactly tokens s0..s11 (12 tokens) embedded in
    // otherwise disjoint text; W=8 gives 12-8+1=5 shared windows, all on
    // one diagonal -> one span of length 12. doc 3 shares nothing.
    val shared = toks(0 until 12, "s")
    val docs = Seq(
      1L -> s"${toks(0 until 9, "a")} $shared ${toks(0 until 6, "b")}",
      2L -> s"${toks(0 until 4, "c")} $shared ${toks(0 until 11, "d")}",
      3L -> toks(0 until 40, "z"))
    val pairs = run("dd_exact_substring", docs)
    assert(pairs == Seq(Seq(1L, 2L, 5L, "s0 s1 s2 s3 s4 s5 s6 s7")), pairs)
    val spans = run("dd_exact_substring_span", docs)
    assert(spans == Seq(Seq(1L, 2L, 12L, 1L)), spans)
  }

  test("two disjoint shared runs stay two spans, max is the longer") {
    // runs of 8 and 10 tokens at different relative offsets: 1 + 3
    // windows, two diagonals -> n_spans 2, max_span_tokens 10
    val r1 = toks(0 until 8, "p")
    val r2 = toks(0 until 10, "q")
    val docs = Seq(
      1L -> s"$r1 ${toks(0 until 7, "a")} $r2",
      2L -> s"$r2 ${toks(0 until 9, "b")} $r1")
    val spans = run("dd_exact_substring_span", docs)
    assert(spans == Seq(Seq(1L, 2L, 10L, 2L)), spans)
  }

  test("a sub-8-token overlap is invisible; the 64-doc hot cap drops boilerplate") {
    // 7 shared tokens -> no window -> no pair
    val docs7 = Seq(
      1L -> s"${toks(0 until 8, "a")} ${toks(0 until 7, "s")}",
      2L -> s"${toks(0 until 7, "s")} ${toks(0 until 8, "b")}")
    assert(run("dd_exact_substring", docs7).isEmpty)
    // the same 8-token header in 66 docs: over the 64-doc cap -> dropped
    // entirely; two docs sharing a private run still pair up
    val header = toks(0 until 8, "h")
    val priv = toks(0 until 9, "v")
    val many = (1L to 66L).map(i => i -> s"$header ${toks(0 until 8, s"u${i}x")}")
    val docs = many ++ Seq(100L -> s"$priv ${toks(0 until 8, "m")}",
      101L -> s"$priv ${toks(0 until 8, "n")}")
    val pairs = run("dd_exact_substring", docs)
    assert(pairs == Seq(Seq(100L, 101L, 2L, "v0 v1 v2 v3 v4 v5 v6 v7")), pairs)
  }
}
