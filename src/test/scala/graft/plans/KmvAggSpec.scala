package graft.plans

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.plans.KmvSketch.kmvSketch

/** KMV bottom-k sketch contracts. The catalog entry sk_kmv_theta gates
  * the estimation algebra against DuckDB; these tests pin the sketch
  * itself across real shuffled partial merges:
  *  - the sketch EQUALS the k smallest distinct values, at any
  *    partitioning and merge order (the property every downstream
  *    estimate rests on);
  *  - duplicates never occupy two slots;
  *  - under-capacity inputs yield the exact distinct set;
  *  - serialization round-trips through the partial-merge path.
  */
class KmvAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("kmv-agg-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sketch(values: Seq[Long], k: Int, parts: Int): Seq[Long] = {
    import spark.implicits._
    val out = values.toDF("v").repartition(parts)
      .agg(kmvSketch($"v", k).as("sk"))
      .collect()
    out.head.getAs[scala.collection.Seq[Long]]("sk").toSeq
  }

  test("sketch equals the k smallest distinct values at any partitioning") {
    // multiplicative-scramble stream with heavy duplication
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 997L))
    val expect = vals.distinct.sorted.take(64)
    for (parts <- Seq(1, 4, 17)) {
      assert(sketch(vals, 64, parts) === expect, s"parts=$parts")
    }
  }

  test("under-capacity input returns the exact sorted distinct set") {
    val vals = Seq(5L, 3L, 9L, 3L, 5L, 1L)
    assert(sketch(vals, 64, 3) === Seq(1L, 3L, 5L, 9L))
  }

  test("duplicates of the current max never evict it") {
    // k=3 over {10,20,30} then a flood of 30s: sketch must stay {10,20,30}
    val vals = Seq(10L, 20L, 30L) ++ Seq.fill(100)(30L)
    assert(sketch(vals, 3, 4) === Seq(10L, 20L, 30L))
  }

  test("grouped sketches stay per-group across a shuffle") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (s"g${i % 2}", (i * 7919L) % 101L))
      .toDF("g", "v").repartition(7)
    val got = df.groupBy($"g").agg(kmvSketch($"v", 8).as("sk"))
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Long]]("sk").toSeq).toMap
    for (g <- Seq("g0", "g1")) {
      val expect = (0 until 1000).filter(i => s"g${i % 2}" == g)
        .map(i => (i * 7919L) % 101L).distinct.sorted.take(8)
      assert(got(g) === expect, g)
    }
  }

  test("non-bigint child is rejected at analysis time") {
    import spark.implicits._
    val df = Seq("a", "b").toDF("v")
    val e = intercept[AnalysisException] {
      df.agg(kmvSketch($"v", 4)).collect()
    }
    assert(e.getMessage.contains("kmv_sketch requires a BIGINT child, got string"),
      e.getMessage)
  }
}
