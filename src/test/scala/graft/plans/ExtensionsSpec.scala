package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.extract.Extract

/** Gates the spark-submit integration path: a session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` must expose the
  * native expressions to pure SQL, with results identical to the
  * bridge / pure extractor.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // spark.sql.extensions is applied only when a session is BUILT:
  // getOrCreate would silently return another suite's extension-less
  // session if one is active in this test JVM. Stop and clear any
  // session first so the builder constructs a fresh one with
  // GraftExtensions applied (the flake the r3 advice flagged).
  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("extensions-spec")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("spark.sql.extensions registers extract_turn/minhash_sig/simhash for SQL") {
    val row = spark.sql(
      "SELECT extract_turn('MRN: 7\nStatus: ok').doc_type AS dt, " +
        "extract_turn('MRN: 7\nStatus: ok').status AS st, " +
        "simhash(array('ab','cd')) AS sh, " +
        "minhash_sig(array('ab','cd'), 4) AS mh").head()
    val e = Extract.extractTurn("", 0, "MRN: 7\nStatus: ok")
    assert(row.getAs[String]("dt") == e.doc_type)
    assert(row.getAs[String]("st") == e.status)
    val toks = new GenericArrayData(Array[Any](
      UTF8String.fromString("ab"), UTF8String.fromString("cd")))
    assert(row.getAs[Long]("sh") == TextHashBridge.simHash(toks))
    val wantMh = TextHashBridge.minHashSig(toks, 4).toLongArray.toSeq
    assert(row.getAs[scala.collection.Seq[Long]]("mh").toSeq == wantMh)
    // an unaliased call is named after the SQL function, not the bridge
    val name = spark.sql("SELECT extract_turn('MRN: 7')").columns.head
    assert(name == "extract_turn(MRN: 7)", s"unaliased column named $name")
  }

  test("spark.sql.extensions registers cosine_sim for SQL") {
    val row = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same, " +
        "cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth, " +
        "cosine_sim(array(0.0D, 0.0D), array(1.0D, 0.0D)) AS zero").head()
    assert(row.getAs[Double]("same") == 1.0)
    assert(row.getAs[Double]("orth") == 0.0)
    assert(row.isNullAt(row.fieldIndex("zero"))) // zero norm -> null, like Divide
    intercept[Exception](spark.sql("SELECT cosine_sim(array(1.0D))").head())
  }

  test("argument validation: wrong arity / non-literal k fail at analysis") {
    intercept[Exception](spark.sql("SELECT extract_turn('a','b')").head())
    intercept[Exception](spark.sql("SELECT minhash_sig(array('a'))").head())
    // non-foldable k (rand() is evaluated per-row, not constant)
    intercept[Exception](spark.sql(
      "SELECT minhash_sig(array('a'), cast(rand()*4 as int))").head())
  }

  test("minhash_sig: null / non-integral literal k fails with the usage message") {
    for (bad <- Seq("null", "'x'", "1.5", "0", "-3", "cast(null as int)")) {
      val e = intercept[Exception](
        spark.sql(s"SELECT minhash_sig(array('a'), $bad)").head())
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("usage: minhash_sig(tokens, k) with a literal k"),
        s"k=$bad raised without the usage message: $msgs")
    }
  }
}
