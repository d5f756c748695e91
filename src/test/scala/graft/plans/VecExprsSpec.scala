package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.TextFunctions

/** The native vector expressions (CosineSimExpr, HyperplaneBucketExpr,
  * HyperplaneBandsExpr) asserted BIT-EQUAL to the higher-order-function
  * forms they replace, on the regimes the catalog queries hit: float
  * corpus vectors, double perturbed vectors, and the null/degenerate
  * edges (empty, zero-norm, length mismatch, null element). Any drift
  * here would silently break the DuckDB oracle hashes of five catalog
  * entries, so the HOF forms stay in test scope (HofVecReference) as the
  * executable spec.
  */
class VecExprsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("vec-exprs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def floatVecs(n: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val r = new graft.gen.Rng(seed)
    Seq.fill(n)(Seq.fill(dim)((r.nextDouble() * 2 - 1).toFloat))
  }

  test("cosine: native == HOF bit-exactly on random float pairs") {
    import spark.implicits._
    val rows = floatVecs(60, 64, 7L).grouped(2).map(p => (p(0), p(1))).toSeq
    val df = rows.toDF("a", "b")
      .withColumn("nat", TextFunctions.cosine($"a", $"b"))
      .withColumn("hof", HofVecReference.cosineHof($"a", $"b"))
    val got = df.select($"nat", $"hof").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
  }

  test("cosine: native == HOF on double arrays (the perturbed-corpus path)") {
    import spark.implicits._
    val df = floatVecs(20, 64, 11L).map(Tuple1(_)).toDF("v")
      .withColumn("a", TextFunctions.toDouble($"v"))
      .withColumn("b", transform($"a", (x, i) =>
        x * (lit(1.0) + (pmod(i, lit(5)) - lit(2)).cast("double") * lit(0.004))))
      .withColumn("nat", TextFunctions.cosine($"a", $"b"))
      .withColumn("hof", HofVecReference.cosineHof($"a", $"b"))
    df.select($"nat", $"hof").collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("cosine edges: empty, zero-norm, length mismatch, null element -> null (matching HOF)") {
    import spark.implicits._
    val cases: Seq[(Seq[java.lang.Float], Seq[java.lang.Float])] = Seq(
      (Seq.empty, Seq.empty),                                   // empty
      (Seq(0f: java.lang.Float, 0f), Seq(1f: java.lang.Float, 2f)), // zero norm
      (Seq(1f: java.lang.Float, 2f), Seq(1f: java.lang.Float)),     // mismatch
      (Seq(1f: java.lang.Float, null), Seq(1f: java.lang.Float, 2f))) // null elem
    // The HOF spec arm's Divide throws on a 0 divisor under ANSI mode
    // (the Spark 4 default); the native form pins the null-on-zero
    // semantics (like try_divide) under EITHER setting. Compare against
    // the HOF with ANSI off — that is the semantics being preserved.
    // Divide's eval mode is captured at analysis time, so the HOF column
    // must be CONSTRUCTED inside the ANSI-off window, not just executed.
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val df = cases.toDF("a", "b")
        .withColumn("nat", TextFunctions.cosine($"a", $"b"))
        .withColumn("hof", HofVecReference.cosineHof($"a", $"b"))
      df.select($"nat", $"hof").collect().foreach { r =>
        assert(r.isNullAt(0), s"native not null: $r")
        assert(r.isNullAt(1), s"hof not null: $r")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    // and the native form alone under the session-default ANSI setting
    cases.toDF("a", "b")
      .withColumn("nat", TextFunctions.cosine($"a", $"b"))
      .select($"nat").collect().foreach { r =>
        assert(r.isNullAt(0), s"native not null under ANSI default: $r")
      }
  }

  test("lsh bucket + bands: native keys == HOF keys on the catalog shapes") {
    import spark.implicits._
    val df = floatVecs(40, 64, 13L).map(Tuple1(_)).toDF("v")
      .withColumn("nat_bucket", TextFunctions.lshBucketNative($"v", 4, 64))
      .withColumn("hof_bucket",
        HofVecReference.lshBucket($"v", TextFunctions.hyperplanes(4, 64)))
      .withColumn("nat_bands", TextFunctions.lshBucketBandsNative($"v", 4, 8, 64))
      .withColumn("hof_bands",
        HofVecReference.lshBucketBands($"v", TextFunctions.hyperplaneBands(4, 8, 64)))
    val got = df.select($"nat_bucket", $"hof_bucket", $"nat_bands", $"hof_bands")
      .collect()
    got.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getSeq[String](2) == r.getSeq[String](3))
    }
    // the keys must discriminate (not a constant function)
    assert(got.map(_.getString(0)).distinct.length > 1)
  }

  test("bands on double vectors (dd_embedding_lsh feeds toDouble output)") {
    import spark.implicits._
    val df = floatVecs(15, 64, 17L).map(Tuple1(_)).toDF("v")
      .withColumn("d", TextFunctions.toDouble($"v"))
      .withColumn("nat", TextFunctions.lshBucketBandsNative($"d", 4, 8, 64))
      .withColumn("hof",
        HofVecReference.lshBucketBands($"d", TextFunctions.hyperplaneBands(4, 8, 64)))
    df.select($"nat", $"hof").collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }
}
