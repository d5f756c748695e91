package graft.plans

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.plans.TopKAgg.spaceSavingTopK

/** SpaceSaving aggregate contracts. The catalog entry
  * sk_spacesaving_topk gates the exact regime against DuckDB; these
  * tests pin the SpaceSaving-proper regime (capacity exceeded,
  * evictions, merge of serialized partials across a real shuffle):
  *  - one-sided bounds: cnt >= true >= cnt - err for every reported item;
  *  - the heavy-hitter guarantee: true count > N/k implies presence;
  *  - exactness whenever distinct <= k, at several partitionings.
  */
class TopKAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("topk-agg-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def summarize(items: Seq[String], k: Int, parts: Int):
      Map[String, (Long, Long)] = {
    import spark.implicits._
    val rows = items.toDF("item").repartition(parts)
    val out = rows.agg(spaceSavingTopK($"item", k).as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item", $"e.cnt", $"e.err")
      .collect()
    out.map { case Row(i: String, c: Long, e: Long) => i -> (c, e) }.toMap
  }

  test("exact when distinct <= k, at any partitioning") {
    val items = (0 until 2000).map(i => s"s${i % 15}")
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 4, 13)) {
      val got = summarize(items, k = 64, parts = parts)
      assert(got.keySet === truth.keySet)
      got.foreach { case (i, (c, e)) =>
        assert(c === truth(i), s"count for $i at parts=$parts")
        assert(e === 0L, s"err for $i at parts=$parts must be 0")
      }
    }
  }

  test("over capacity: bounds hold and the heavy hitter is present") {
    // one item carries 30% of the stream; 500 background singletons+
    val n = 4000
    val items = (0 until n).map { i =>
      if (i % 10 < 3) "heavy" else s"bg${i % 500}"
    }
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 4, 13)) {
      val got = summarize(items, k = 8, parts = parts)
      assert(got.size <= 8)
      // guarantee: true count > N/k = 500 -> must be reported
      assert(got.contains("heavy"),
        s"heavy hitter missing at parts=$parts: ${got.keys}")
      // one-sided bounds for every reported item
      got.foreach { case (i, (c, e)) =>
        val t = truth.getOrElse(i, 0L)
        assert(c >= t, s"$i estimate $c below true $t at parts=$parts")
        assert(c - e <= t, s"$i lower bound ${c - e} above true $t at parts=$parts")
      }
    }
  }

  test("serialized partial merge survives a real exchange") {
    // grouped aggregation forces serialize/deserialize through the
    // shuffle of partial buffers
    import spark.implicits._
    val df = (0 until 3000)
      .map(i => (s"g${i % 3}", s"v${i % 10}"))
      .toDF("g", "v").repartition(7)
    val out = df.groupBy($"g")
      .agg(spaceSavingTopK($"v", 16).as("tk"))
      .select($"g", explode($"tk").as("e"))
      .select($"g", $"e.item", $"e.cnt", $"e.err")
      .collect()
    // 10 distinct values per group, k=16 -> exact: 1000 rows per group
    // split evenly over the 10 values
    assert(out.length === 30)
    out.foreach { case Row(_, _, c: Long, e: Long) =>
      assert(c === 100L); assert(e === 0L)
    }
  }

  test("non-string child is rejected at analysis time") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("v")
    val e = intercept[AnalysisException] {
      df.agg(spaceSavingTopK($"v", 4)).collect()
    }
    assert(e.getMessage.contains("spacesaving_topk requires a STRING child, got bigint"),
      e.getMessage)
  }
}
