package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.TextFunctions._
import graft.plans.HofVecReference.lshBucket

class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("functions-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("minhash LSH finds planted near-duplicates (recall) without all-pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    // 20 unrelated docs + 3 planted near-dups of doc 0
    val docs = (0 until 20).map(i => (i.toLong, base + s" unique$i marker$i extra$i")) ++
      Seq((100L, base + " unique0 marker0 extra0 tail"),
          (101L, base + " unique0 marker0"),
          (102L, "completely different content about spark catalyst optimizer rules"))
    val df = docs.toDF("doc_id", "text")
      .withColumn("toks", tokens($"text"))
      .withColumn("sig", minHashSig($"toks", 6))
      .withColumn("band", explode(lshBands($"sig", 3, 2)))
    val a = df.select($"band", $"doc_id".as("id_a"), $"toks".as("toks_a"))
    val b = df.select($"band", $"doc_id".as("id_b"), $"toks".as("toks_b"))
    val pairs = a.join(b, Seq("band")).filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"toks_a", $"toks_b").distinct()
      .withColumn("jac", jaccard($"toks_a", $"toks_b"))
      .filter($"jac" >= 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)), s"planted near-dup (0,100) missed: $pairs")
    assert(pairs.contains((0L, 101L)), s"planted near-dup (0,101) missed: $pairs")
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 102L),
      "unrelated doc flagged as near-dup")
  }

  test("simhash: near-dups have small hamming distance, unrelated large") {
    import spark.implicits._
    val rows = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
      (3L, "entirely unrelated words about catalyst expression codegen stage"))
      .toDF("id", "text")
      .select($"id", simHash(tokens($"text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(rows(1L), rows(2L)) < hamming(rows(1L), rows(3L)),
      s"simhash ordering wrong: ${rows.toSeq}")
  }

  test("cosine matches a hand-computed value in double precision") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 1.0f, 2.0f)))
      .toDF("a", "b")
      .select(cosine($"a", $"b").as("c"))
    val got = df.as[Double].head()
    assert(math.abs(got - 8.0 / 9.0) < 1e-12)
  }

  test("quality score and language id are stable and bounded") {
    import spark.implicits._
    val df = Seq(
      "The quick brown fox and the lazy dog ran from the barn with that old cart wheel spinning.",
      "der die und mit von der die und",
      "zz")
      .toDF("text")
      .select(qualityScore($"text").as("q"), langId($"text").as("l"))
      .as[(Double, String)].collect()
    assert(df.forall { case (q, _) => q >= 0.0 && q <= 1.0 })
    assert(df(0)._2 == "en")
    assert(df(1)._2 == "de")
    assert(df(2)._2 == "und")
  }

  test("LSH ANN buckets are deterministic and candidates stay in-bucket") {
    import spark.implicits._
    val planes = hyperplanes(4, 64)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("bucket", lshBucket($"embedding", planes))
    val b1 = e.select($"vec_id", $"bucket").as[(Long, String)].collect().toMap
    val b2 = e.select($"vec_id", $"bucket").as[(Long, String)].collect().toMap
    assert(b1 == b2, "bucketing not deterministic")
    assert(b1.values.forall(_.matches("[01]{4}")))
    assert(b1.values.toSet.size > 1, "all vectors in one bucket")
    // the ANN query only pairs ids sharing a bucket
    val ann = graft.SparkEntry.queries("sim_lsh_ann")(spark, "/root/testdata/sf0.001")
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
    assert(ann.nonEmpty)
    assert(ann.forall { case (q, n) => b1(q) == b1(n) },
      "ANN returned a candidate outside the probe's bucket")
  }

  test("batched multimodal decode: batch shape bounded, features deterministic") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val out = Multimodal.decodeFeatures(spark, media.repartition(3), batchSize = 16)
      .collect()
    assert(out.length == docs.count())
    assert(out.forall(r => r.batch_size >= 1 && r.batch_size <= 16))
    assert(out.forall(_.features.length == Multimodal.FeatureDim))
    val again = Multimodal.decodeFeatures(spark, media.repartition(7), batchSize = 16)
      .collect().map(r => r.doc_id -> r.features.toVector).toMap
    assert(out.forall(r => again(r.doc_id) == r.features.toVector),
      "features depend on partitioning")
  }

  test("png header decoder really parses bytes: fields, corruption arms, crc") {
    // round-trip: pngBytes writes a spec-valid header, the decoder reads
    // it back by actual byte parsing (not by recomputing the arithmetic)
    for (id <- 0L to 200L) {
      val f = Multimodal.PngHeaderDecoder
        .decodeBatch(Seq(Multimodal.MediaRow(id, "image/png",
          Multimodal.pngBytes(id)))).head.features
      if (id % 11 == 0) {
        assert(f(0) == 0.0 && f(1) == -1.0, s"id=$id: corrupt sig not detected")
      } else {
        assert(f(0) == 1.0 && f(1) == (1 + id % 640) &&
          f(2) == (1 + id % 480) && f(3) == 8.0 &&
          f(4) == Array(0, 2, 3, 4, 6)((id % 5).toInt), s"id=$id: bad fields")
        assert(f(5) == (if (id % 13 == 0) 0.0 else 1.0),
          s"id=$id: crc verdict wrong")
      }
    }
    // a flipped IHDR data byte (not covered by the corruption families)
    // must fail ONLY the crc — proves the crc is computed, not assumed
    val b = Multimodal.pngBytes(1L)
    b(20) = (b(20) ^ 0x01).toByte // height high byte
    val f = Multimodal.PngHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(1L, "image/png", b))).head.features
    assert(f(0) == 1.0 && f(5) == 0.0, "data corruption not caught by crc")
    // truncated payload: no crash, invalid
    val t = Multimodal.pngBytes(2L).take(20)
    assert(Multimodal.PngHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(2L, "image/png", t))).head
      .features(0) == 0.0)
  }

  test("pdf header decoder really parses bytes: version, size, count, xref") {
    for (id <- 0L to 200L) {
      val f = Multimodal.PdfHeaderDecoder
        .decodeBatch(Seq(Multimodal.MediaRow(id, "application/pdf",
          Multimodal.pdfBytes(id)))).head.features
      if (id % 11 == 0) {
        assert(f(0) == 0.0 && f(1) == -1.0, s"id=$id: broken header not detected")
      } else {
        assert(f(0) == 1.0 && f(1) == (id % 8) && f(2) == (4 + id % 5) &&
          f(3) == (1 + id % 5), s"id=$id: bad fields ${f.toVector}")
        assert(f(4) == (if (id % 13 == 0) 0.0 else 1.0),
          s"id=$id: xref verdict wrong")
      }
    }
    // inserting a byte BEFORE the xref table shifts real offsets without
    // touching startxref — must fail only the structural check (proves
    // the offset is dereferenced, not assumed)
    val good = Multimodal.pdfBytes(1L)
    val s = new String(good, java.nio.charset.StandardCharsets.ISO_8859_1)
    val shifted = s.replaceFirst("endobj\n", "endobj \n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val f = Multimodal.PdfHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(1L, "application/pdf", shifted)))
      .head.features
    assert(f(0) == 1.0 && f(4) == 0.0, "shifted xref not caught")
    // non-PDF payload: no crash, invalid
    assert(Multimodal.PdfHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(2L, "application/pdf",
        "plain text, not a pdf".getBytes))).head.features(0) == 0.0)
  }

  test("wav header decoder really parses bytes: LE fields, rate check") {
    for (id <- 0L to 200L) {
      val f = Multimodal.WavHeaderDecoder
        .decodeBatch(Seq(Multimodal.MediaRow(id, "audio/wav",
          Multimodal.wavBytes(id)))).head.features
      if (id % 11 == 0) {
        assert(f(0) == 0.0 && f(1) == -1.0, s"id=$id: broken RIFF not detected")
      } else {
        assert(f(0) == 1.0 && f(1) == (1 + id % 2) &&
          f(2) == Array(8000, 16000, 22050, 44100, 48000)((id % 5).toInt) &&
          f(3) == Array(8, 16, 24, 32)((id % 4).toInt) &&
          f(4) == (id % 1000), s"id=$id: bad fields ${f.toVector}")
        assert(f(5) == (if (id % 13 == 0) 0.0 else 1.0),
          s"id=$id: rate verdict wrong")
      }
    }
    // corrupting the stored sample rate (not a planted family) must fail
    // ONLY the redundancy check — proves byte_rate is verified against
    // the parsed fields, not assumed
    val b = Multimodal.wavBytes(1L)
    b(25) = (b(25) ^ 0x01).toByte // sample rate, second LE byte
    val f = Multimodal.WavHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(1L, "audio/wav", b))).head.features
    assert(f(0) == 1.0 && f(5) == 0.0, "rate inconsistency not caught")
    // a non-PCM format tag is invalid; truncated payload: no crash
    val g = Multimodal.wavBytes(2L)
    g(20) = 3 // IEEE float tag
    assert(Multimodal.WavHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(2L, "audio/wav", g))).head
      .features(0) == 0.0)
    assert(Multimodal.WavHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(3L, "audio/wav",
        Multimodal.wavBytes(3L).take(30)))).head.features(0) == 0.0)
  }

  test("jpeg header decoder really walks the marker chain: SOF fields, desync") {
    for (id <- 0L to 200L) {
      val f = Multimodal.JpegHeaderDecoder
        .decodeBatch(Seq(Multimodal.MediaRow(id, "image/jpeg",
          Multimodal.jpegBytes(id)))).head.features
      if (id % 11 == 0) {
        assert(f(0) == 0.0 && f(1) == -1.0, s"id=$id: bad SOI not detected")
      } else if (id % 13 == 0) {
        // corrupted APP0 length: SOI fine, walk desynchronized
        assert(f(0) == 1.0 && f(5) == 0.0 && f(1) == -1.0,
          s"id=$id: desync not caught ${f.toVector}")
      } else {
        assert(f(0) == 1.0 && f(5) == 1.0 &&
          f(1) == (1 + id % 1080) && f(2) == (1 + id % 1920) &&
          f(3) == (if (id % 2 == 0) 3 else 1) &&
          f(4) == (if (id % 3 == 0) 1.0 else 0.0),
          s"id=$id: bad fields ${f.toVector}")
      }
    }
    // growing the DQT stub must MOVE the SOF and still be found — proves
    // the offset is walked, not assumed (ids differing in % 4 shift it)
    for (id <- Seq(1L, 2L, 3L, 4L)) {
      val f = Multimodal.JpegHeaderDecoder
        .decodeBatch(Seq(Multimodal.MediaRow(id, "image/jpeg",
          Multimodal.jpegBytes(id)))).head.features
      assert(f(5) == 1.0, s"id=$id: floating SOF not found")
    }
    // truncation mid-walk: no crash, SOF reported missing
    val t = Multimodal.jpegBytes(1L).take(10)
    val f = Multimodal.JpegHeaderDecoder
      .decodeBatch(Seq(Multimodal.MediaRow(1L, "image/jpeg", t))).head.features
    assert(f(0) == 1.0 && f(5) == 0.0)
  }

  test("urlCanon: ports, www, fragment, tracking params, trailing slash") {
    import spark.implicits._
    val urls = Seq(
      // non-default port preserved; default stripped
      "https://Example.com:8443/a/", "https://Example.com:443/a/",
      "http://example.com:80/a", "http://example.com:443/a",
      // root path slash kept; empty path kept empty
      "https://example.com/", "https://example.com",
      // fragment-only and all-tracking query collapse
      "https://example.com/p#section", "https://example.com/p?utm_source=x&utm_medium=y",
      // non-tracking params preserved in order; www stripped
      "HTTPS://WWW.Example.COM/P?b=2&a=1")
    val out = urls.toDF("u").select(urlCanon($"u").as("c")).as[String].collect()
    assert(out(0) == "https://example.com:8443/a")
    assert(out(1) == "https://example.com/a")
    assert(out(2) == "http://example.com/a")
    assert(out(3) == "http://example.com:443/a") // 443 is not http's default
    assert(out(4) == "https://example.com/")
    assert(out(5) == "https://example.com")
    assert(out(6) == "https://example.com/p")
    assert(out(7) == "https://example.com/p")
    assert(out(8) == "https://example.com/P?b=2&a=1")
    val hosts = Seq("https://WWW.Sub.Example.com:8443/x", "notaurl")
      .toDF("u").select(urlHost($"u").as("h")).as[String].collect()
    assert(hosts(0) == "sub.example.com")
    assert(hosts(1) == "") // non-URL degrades to empty, never throws
  }

  test("polyHash is order-sensitive and deterministic") {
    import spark.implicits._
    val h = Seq("abc", "acb", "abc").toDF("t")
      .select(polyHash($"t", 64).as("h")).as[Long].collect()
    assert(h(0) == h(2) && h(0) != h(1))
  }

  test("fixMojibake repairs every table entry and leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      "CafÃ© dÃ©jÃ¡ itâ€™s â€œfine naÃ¯ve grÃ¼n" ->
        "Café déjá it’s “fine naïve grün",
      "plain ascii stays put" -> "plain ascii stays put",
      // already-correct UTF-8 must not be double-"fixed"
      "Café fine’ line" -> "Café fine’ line")
    val out = rows.map(_._1).toDF("t")
      .select(fixMojibake($"t").as("f")).as[String].collect()
    assert(out.toSeq === rows.map(_._2))
    // dedup motivation: mojibake and clean forms hash identically after
    // the repair
    val pair = Seq("CafÃ© rÃ©sumÃ©", "Café résumé").toDF("t")
      .select(md5(fixMojibake($"t")).as("h")).as[String].collect()
    assert(pair(0) === pair(1))
  }
}
