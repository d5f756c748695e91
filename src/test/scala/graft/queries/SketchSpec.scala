package graft.queries

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Sketch-operator mechanism gates. The catalog entries sk_hll_distinct /
  * sk_cms_heavy_hitters gate the distributed topology against DuckDB;
  * these tests pin the MATH the oracles assume:
  *  - the hex-string rho ladder equals the bit-twiddling definition
  *    (leading zero bits of the 60-bit tail + 1) on real md5 output;
  *  - the HLL estimate lands within its published error envelope on a
  *    known cardinality (the sketch is useful, not just reproducible);
  *  - CMS never underestimates and is exact for a frequency that
  *    collides with nothing in every row.
  */
class SketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sketch-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Reference rho: leading zero bits of the 60-bit integer held in hex
    * chars 3..17 of the md5, + 1; all-zero tail caps at 61.
    */
  private def rhoRef(token: String): Int = {
    val bits = java.lang.Long.parseLong(md5hex(token).substring(2, 17), 16)
    if (bits == 0L) 61 else java.lang.Long.numberOfLeadingZeros(bits) - 4 + 1
  }

  /** The SQL/Column ladder from sk_hll_distinct, applied to one token. */
  private def rhoLadder(token: String): Int = {
    val hx = md5hex(token).substring(2, 17)
    val zeros = hx.takeWhile(_ == '0').length
    val nz =
      if (zeros >= hx.length) 0
      else hx(zeros) match {
        case '1' => 3
        case '2' | '3' => 2
        case '4' | '5' | '6' | '7' => 1
        case _ => 0
      }
    zeros * 4 + nz + 1
  }

  test("hex rho ladder == bit-twiddling leading-zero definition") {
    val tokens = (0 until 5000).map(i => s"tok$i") ++
      Seq("", "a", "the", "zzzzzz")
    tokens.foreach { t =>
      assert(rhoLadder(t) === rhoRef(t), s"rho mismatch for '$t'")
    }
    // the ladder must produce deep values somewhere in a 5k sample
    assert(tokens.map(rhoLadder).max >= 10)
  }

  test("HLL estimate within the published envelope on known cardinality") {
    import spark.implicits._
    // 3000 distinct tokens, each seen 1-3 times
    val docs = (0 until 3000).flatMap { i =>
      Seq.fill(1 + i % 3)(s"word$i abc")
    }.zipWithIndex.map { case (t, i) => (i.toLong, t, "s0", t.length.toLong) }
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = graft.engine.LocalFiles.scratchDir("graft-sketch-hll")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SketchQueries.entries.toMap
      .apply("sk_hll_distinct").fn(spark, dir)
      .collect()
    assert(out.length === 1)
    val row = out(0)
    val exact = row.getAs[Long]("n_exact")
    val est = row.getAs[Double]("est")
    // 3001 distinct ("abc" joins the 3000 words); m=256 -> sigma ~6.5%,
    // allow 4 sigma
    assert(exact === 3001L)
    assert(math.abs(est - exact) / exact < 0.26,
      s"HLL est $est too far from $exact")
  }

  test("CMS never underestimates; unique-celled token is exact") {
    import spark.implicits._
    // one dominant token with known df=400, plus 200 background tokens
    val docs = (0 until 400).map(i => (i.toLong, s"dominant bg${i % 200}"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = graft.engine.LocalFiles.scratchDir("graft-sketch-cms")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SketchQueries.entries.toMap
      .apply("sk_cms_heavy_hitters").fn(spark, dir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("no_underestimate"),
        s"CMS underestimated ${r.getAs[String]("token")}")
    }
    val dom = out.find(_.getAs[String]("token") == "dominant").get
    assert(dom.getAs[Long]("df_exact") === 400L)
    // the estimate is an overestimate bounded by colliding background
    // mass: 201 tokens over 64 columns -> any cell holds < the full
    // stream; the dominant estimate stays within df + all colliders
    assert(dom.getAs[Long]("cms_est") >= 400L)
    assert(dom.getAs[Long]("cms_est") <= 400L + 400L)
  }
}
