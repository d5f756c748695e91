package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SinksSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("sinks-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("K6 debug text dump: distributed, losslessly escaped, round-trippable") {
    import spark.implicits._
    val dir = LocalFiles.scratchDir("k6-dump")
    // adversarial payloads: newline, literal backslash-n (must stay
    // distinguishable from an escaped newline), tab (would break the
    // two-field split), carriage return (would corrupt lines)
    val texts = Map(
      7L -> "line one\nline two",
      8L -> "plain",
      9L -> "literal \\n backslash",
      10L -> "tab\there\rcr")
    val df = texts.toSeq.toDF("id", "text")
    Sinks.debugTextDump(df, "id", "text", s"$dir/out")
    val lines = spark.read.text(s"$dir/out").as[String].collect().sorted
    assert(lines.toSeq == Seq(
      "10\ttab\\there\\rcr",
      "7\tline one\\nline two",
      "8\tplain",
      "9\tliteral \\\\n backslash"))
    // every line splits into exactly two fields and unescapes to the
    // original text — the round-trip the dump exists for
    for (line <- lines) {
      val Array(id, esc) = line.split("\t", -1)
      assert(Sinks.unescapeDumpText(esc) == texts(id.toLong))
    }
    // overwrite semantics: a rerun replaces, never appends
    Sinks.debugTextDump(df.filter($"id" === 7), "id", "text", s"$dir/out")
    assert(spark.read.text(s"$dir/out").count() == 1)
  }
}
