package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The native char-bigram histogram must count exactly what the
  * explode(transform(sequence...)) + groupBy formulation counts — that
  * equivalence is what lets ta_bigram_typicality swap its model pass
  * for the bounded-state aggregate without touching the oracle.
  */
class BigramHistAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("bigram-hist-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("histogram equals the exploded groupBy counts, incl. merge across partitions") {
    import spark.implicits._
    // printable-ASCII strings incl. len 0/1 edge cases, over 8 partitions
    // so partial buffers genuinely merge
    val rows = (0 until 500).map { i =>
      val base = s"doc $i: the quick brown fox ${"ab" * (i % 5)}!"
      if (i % 17 == 0) "" else if (i % 13 == 0) "x" else base
    }
    val df = spark.createDataset(rows).repartition(8).toDF("t")
    val hist = df.agg(BigramHistAgg.charBigramHist($"t").as("h"))
      .collect()(0).getSeq[Long](0)
    val bgs = when(length($"t") >= 2,
      transform(sequence(lit(1), length($"t") - 1), i => $"t".substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    val expected = df.select(explode(bgs).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = hist.zipWithIndex.collect {
      case (n, code) if n > 0 => BigramHistAgg.bigramOf(code) -> n
    }.toMap
    assert(got === expected)
  }

  test("top-k off the dense array matches orderBy(n desc, bigram asc)") {
    import spark.implicits._
    val rows = Seq("ababab", "abba", "zz zz", "  a", "bbbb")
    val df = spark.createDataset(rows).toDF("t")
    val hist = df.agg(BigramHistAgg.charBigramHist($"t").as("h"))
      .collect()(0).getSeq[Long](0)
    val topDense = hist.zipWithIndex.filter(_._1 > 0L)
      .sortBy { case (n, code) => (-n, code) }.take(3)
      .map { case (n, code) => (BigramHistAgg.bigramOf(code), n) }
    val bgs = transform(sequence(lit(1), length($"t") - 1), i => $"t".substr(i, lit(2)))
    val topExploded = df.filter(length($"t") >= 2)
      .select(explode(bgs).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"b").limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(topDense === topExploded)
  }

  test("hashed-gram histogram equals the exploded bucket groupBy, n=1 and n=2") {
    import spark.implicits._
    import GramBucketsReference.hashedGramBuckets
    val rows = (0 until 300).map(i => s"alpha beta g$i delta ${"rep " * (i % 4)}end")
    val df = spark.createDataset(rows).repartition(8)
      .select(split($"value", " ").as("toks"))
    for (seed <- Seq(515151L, -515151L); n <- Seq(1, 2); mod <- Seq(64, 256)) {
      val hist = df.agg(BigramHistAgg.hashedGramHist($"toks", n, seed, mod))
        .collect()(0).getSeq[Long](0)
      val expected = df
        .select(explode(hashedGramBuckets($"toks", n, seed, mod)).as("b"))
        .groupBy($"b").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val got = hist.zipWithIndex.collect { case (c, b) if c > 0 => b -> c }.toMap
      assert(got === expected, s"seed=$seed n=$n mod=$mod")
    }
  }

  test("non-string child is rejected at analysis time") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("v")
    val e = intercept[Exception] {
      df.agg(BigramHistAgg.charBigramHist($"v")).collect()
    }
    assert(e.getMessage.contains("STRING") || e.getMessage.toLowerCase.contains("type"))
  }
}
