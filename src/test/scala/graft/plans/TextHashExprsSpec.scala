package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.TextFunctions._
import graft.plans.GramBucketsReference.hashedGramBuckets
import graft.plans.HofHashReference.polyHashStrHof

/** The native MinHash/SimHash expressions must be bit-identical to the
  * HOF (`aggregate`) formulation they replaced — every LSH oracle depends
  * on that integer math — and must stay inside whole-stage codegen.
  */
class TextHashExprsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("texthash-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The r2 HOF formulation, kept here as the parity reference. */
  private def minHashSigHof(toks: org.apache.spark.sql.Column, k: Int) =
    array((0 until k).map { s =>
      array_min(transform(toks, t => polyHashStrHof(t, 0x9e3779b9L * (s + 1))))
    }: _*)

  private def simHashHof(toks: org.apache.spark.sql.Column) = {
    val th = transform(toks, t => polyHashStrHof(t, 0x85ebca6bL))
    (0 until 32).map { b =>
      val vote = aggregate(th, lit(0L),
        (acc, h) => acc + when(pmod(shiftright(h, b), lit(2L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L) * (1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  test("native minhash_sig and simhash match the HOF math on real corpus text") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50)
    val cmp = docs
      .select($"doc_id", tokens($"text").as("toks"),
        shingles($"text", 5, 2000).as("sh"))
      .select(
        minHashSig($"toks", 6).as("nat_t"), minHashSigHof($"toks", 6).as("hof_t"),
        minHashSig($"sh", 6).as("nat_s"), minHashSigHof($"sh", 6).as("hof_s"),
        simHash($"toks").as("nat_sim"), simHashHof($"toks").as("hof_sim"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "token sig mismatch")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "shingle sig mismatch")
      assert(r.getLong(4) == r.getLong(5), "simhash mismatch")
    }
  }

  test("empty and null inputs behave like the HOF form") {
    import spark.implicits._
    val df = Seq(Some(Seq.empty[String]), None, Some(Seq("abc")))
      .toDF("toks")
    val rows = df.select(minHashSig($"toks", 3).as("sig"), simHash($"toks").as("sh"))
      .collect()
    // empty array -> all-null signature (array_min of empty), simhash 0
    assert(rows(0).getSeq[Any](0) == Seq(null, null, null))
    assert(rows(0).getLong(1) == 0L)
    // null array -> null outputs
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).getSeq[Any](0).forall(_ != null))
  }

  test("minhash_sig projection stays inside whole-stage codegen") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(minHashSig(tokens($"text"), 6).as("sig"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("),
      "minhash_sig fell out of whole-stage codegen:\n" + p.take(800))
  }

  /** The interpreted-HOF formulation bigram_hits replaced: per-row bigram
    * array + `filter` with an InSet lambda. Kept as the parity reference —
    * the ta_bigram_typicality oracle depends on identical counting.
    */
  private def bigramHitsHof(t: org.apache.spark.sql.Column, model: Seq[String]) =
    size(filter(
      when(length(t) >= 2,
        transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
        .otherwise(array().cast("array<string>")),
      b => b.isin(model: _*)))

  test("native bigram_hits matches the HOF count on real corpus text") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
      .select(lower(substring(regexp_replace($"text", "[^ -~]", ""), 1, 400)).as("t"))
    // train a small model the same way the catalog query does
    val model = docs
      .select(explode(transform(sequence(lit(1), length($"t") - 1),
        i => $"t".substr(i, lit(2)))).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"b").limit(50)
      .collect().map(_.getString(0)).toSeq
    val cmp = docs
      .select(bigramHits($"t", model).as("nat"), bigramHitsHof($"t", model).as("hof"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"bigram_hits native ${r.getInt(0)} != hof ${r.getInt(1)}"))
  }

  test("bigram_hits edges: short strings count 0 bigrams, null in -> null out") {
    import spark.implicits._
    val model = Seq("ab", "bc")
    val rows = Seq(Some(""), Some("a"), Some("ab"), Some("abc"), Some("xbcabx"), None)
      .toDF("t")
      .select(bigramHits($"t", model).as("n"))
      .collect()
    assert(rows(0).getInt(0) == 0)  // "" has no bigrams
    assert(rows(1).getInt(0) == 0)  // single char
    assert(rows(2).getInt(0) == 1)  // "ab"
    assert(rows(3).getInt(0) == 2)  // "ab","bc"
    assert(rows(4).getInt(0) == 2)  // "bc" at 1, "ab" at 3
    assert(rows(5).isNullAt(0))     // null text
  }

  test("bigram_hits projection stays inside whole-stage codegen") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(bigramHits(lower($"text"), Seq("th", "he", "e ")).as("n"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("),
      "bigram_hits fell out of whole-stage codegen:\n" + p.take(800))
  }

  /** The HOF tokenize the word-gram family replaced — every gram/count
    * oracle depends on identical tokenization. */
  private def wsHof(t: org.apache.spark.sql.Column) =
    filter(split(lower(t), "\\s+"), x => length(x) > 0)

  test("word_count / word_grams / word_gram_counts / gopher_stats match the HOF forms") {
    import spark.implicits._
    val weird = Seq(
      "  leading and   multiple   spaces ", "one", "", "a b a b a b",
      "tab\tsep\nand newline\r\nmix", "x y z x y z x y", "  \t \n ",
      "Re: ORDER #A12-b7, qty=003!! x9Y_z... (to: ann@EX.com) -- 42nd").toDF("text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select($"text").union(weird)
    val gramsHof = when(size(wsHof($"text")) >= 5,
      transform(sequence(lit(1), size(wsHof($"text")) - 4),
        i => array_join(slice(wsHof($"text"), i, lit(5)), " ")))
      .otherwise(array().cast("array<string>"))
    val alnumHof = filter(split(lower($"text"), "[^a-z0-9]+"), x => length(x) > 0)
    val alnumGramsHof = when(size(alnumHof) >= 5,
      transform(sequence(lit(1), size(alnumHof) - 4),
        i => array_join(slice(alnumHof, i, lit(5)), " ")))
      .otherwise(array().cast("array<string>"))
    val cmp = docs.select(
        wsTokenCount($"text").as("nat_n"), size(wsHof(lower($"text"))).as("hof_n"),
        wordGrams($"text", 5).as("nat_g"), gramsHof.as("hof_g"),
        wordGramCounts($"text", 5).as("nat_c"),
        gopherStats($"text").as("st"),
        size(array_distinct(wsHof($"text"))).as("hof_distinct"),
        alnumGrams($"text", 5).as("nat_a"), alnumGramsHof.as("hof_a"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), "word_count mismatch")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "word_grams mismatch")
      // counts: fold the raw grams and compare as a map
      val raw = r.getSeq[String](3).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nat = r.getSeq[org.apache.spark.sql.Row](4)
        .map(p => p.getString(0) -> p.getLong(1)).toMap
      assert(nat == raw, "word_gram_counts mismatch")
      val st = r.getStruct(5)
      assert(st.getInt(0) == r.getInt(0), "gopher n_words mismatch")
      assert(st.getInt(1) == r.getInt(6), "gopher n_distinct mismatch")
      assert(r.getSeq[String](7) == r.getSeq[String](8), "alnum_grams mismatch")
    }
  }

  test("gopher_stats modal bigram: max count, ties to the largest bigram") {
    import spark.implicits._
    val rows = Seq(
      "a b a b c",        // "a b" x2 beats the rest
      "z y z y x w x w",  // tie at 2 between "z y" and "x w" -> "z y"
      "solo",             // 1 word -> null bigram
      "").toDF("text")
      .select(gopherStats($"text").as("st")).collect()
    assert(rows(0).getStruct(0).getString(2) == "a b")
    assert(rows(0).getStruct(0).getLong(3) == 2L)
    assert(rows(1).getStruct(0).getString(2) == "z y")
    assert(rows(2).getStruct(0).isNullAt(2))
    assert(rows(3).getStruct(0).getInt(0) == 0)
  }

  test("the word-gram family stays inside whole-stage codegen") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(wsTokenCount($"text").as("n"), wordGrams($"text", 5).as("g"),
        wordGramCounts($"text", 5).as("c"), gopherStats($"text").as("st"),
        alnumGrams($"text", 5).as("a"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("),
      "word-gram family fell out of whole-stage codegen:\n" + p.take(800))
  }

  /** Native hashed-gram buckets and micro-sum against the HOF hashing, for one seed. */
  private def hashedGramParity(seed: Long): Unit = {
    import spark.implicits._
    val B = 256
    val table = Array.tabulate(B)(i => i.toLong * 7 - 100)
    val tl = typedLit(table.toSeq)
    val toksOf = filter(split(lower($"text"), "[^a-z0-9]+"), w => length(w) > 0)
    // the interpreted formulations the exprs replaced (ta_dsir_weights /
    // ta_lm_perplexity pre-r4): per-char HOF hash per gram
    def bucketHof(c: org.apache.spark.sql.Column) =
      pmod(polyHashStrHof(c, seed), lit(B.toLong))
    val bgs = when(size($"toks") >= 2,
      transform(sequence(lit(1), size($"toks") - 1),
        i => concat(element_at($"toks", i), lit(" "), element_at($"toks", i + 1))))
      .otherwise(array().cast("array<string>"))
    val weird = Seq("", "one", "a  b", "x y z").toDF("text")
    val cmp = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select($"text").union(weird)
      .select(toksOf.as("toks"))
      .select(
        hashedGramBuckets($"toks", 1, seed, B).as("nat1"),
        transform($"toks", t => bucketHof(t)).as("hof1"),
        hashedGramBuckets($"toks", 2, seed, B).as("nat2"),
        transform(bgs, b => bucketHof(b)).as("hof2"),
        hashedGramMicroSum($"toks", 2, seed, table).as("nat_sum"),
        aggregate(bgs, lit(0L),
          (acc, b) => acc + element_at(tl, bucketHof(b).cast("int") + 1)).as("hof_sum"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "unigram buckets mismatch")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "bigram buckets mismatch")
      assert(r.getLong(4) == r.getLong(5), "micro-sum mismatch")
    }
  }

  test("hashed_gram_buckets / hashed_gram_micro_sum match the HOF hashing") {
    // the negative seed pins pmod semantics at every hash step and bucket
    Seq(424242L, -424242L).foreach(hashedGramParity)
  }

  test("the hashed-gram family stays inside whole-stage codegen") {
    import spark.implicits._
    val table = Array.tabulate(64)(i => i.toLong)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(filter(split(lower($"text"), "[^a-z0-9]+"), w => length(w) > 0).as("toks"))
      .select(hashedGramBuckets($"toks", 2, 1L, 64).as("b"),
        hashedGramMicroSum($"toks", 1, 1L, table).as("s"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("),
      "hashed-gram family fell out of whole-stage codegen:\n" + p.take(800))
  }

  test("char_entropy_parts matches a driver-side byte histogram") {
    import spark.implicits._
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select($"text")
      .union(Seq("", "aaaa", "ab", "a b\tc", "solo").toDF("text"))
      .select($"text", charEntropyParts($"text").as("p")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val counts = r.getString(0).getBytes("UTF-8")
        .groupBy(b => b & 0xff).view.mapValues(_.length.toLong).toMap
      val n = counts.values.sum
      val sm = counts.values
        .map(c => c * math.rint(math.log(c.toDouble) * 1e6).toLong).sum
      assert(r.getSeq[Long](1) == Seq(n, sm),
        s"entropy parts mismatch for '${r.getString(0).take(40)}'")
    }
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(charEntropyParts($"text").as("p"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("),
      "char_entropy_parts fell out of whole-stage codegen:\n" + p.take(800))
  }
}
