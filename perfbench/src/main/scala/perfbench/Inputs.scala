package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.TranscriptsTable
import graft.engine.TranscriptsTable.SnapshotRef
import graft.gen.{Rng, TranscriptGen}
import graft.model.Turn

/** A generated transcripts table and the single-snapshot share the
  * one-core baseline runs on (bucket 0 of `nproc` buckets).
  */
final case class Transcripts(dir: String, full: SnapshotRef, share: SnapshotRef,
    turns: Long, shareTurns: Long, describe: Map[String, Double])

/** Seeded input builds. Each table lives in its own directory keyed by
  * workload, size and seed, and is reused when the `_complete` marker from
  * an earlier build is there.
  */
object Inputs {

  /** Large conversations of the html-skew shape: the planted giant, then a
    * tail of generator-sized ones.
    */
  final case class SkewShape(convs: Int, giantTurns: Int, pageMin: Int,
      pageMax: Int, cutShare: Double)

  private def cached(dir: String)(build: => Unit): Unit = {
    val marker = Paths.get(dir, "_complete")
    if (!Files.exists(marker)) {
      Util.deleteTree(Paths.get(dir))
      build
      Files.writeString(marker, "")
    }
  }

  private def refs(dir: String, nConvs: Int, convOffset: Int): (SnapshotRef, SnapshotRef) = {
    val path = s"$dir/snapshot=1"
    (SnapshotRef(1, path, nConvs, convOffset), SnapshotRef(2, s"$path/bucket=0", nConvs, convOffset))
  }

  /** The generator's six-shape mix of short turns, written by
    * `TranscriptsTable.appendSnapshot`; the seed picks `convOffset`
    * (never 0, so the generator's giant conversation is not included).
    */
  def bulk(spark: SparkSession, dir: String, seed: Long, nConvs: Int): Transcripts = {
    val convOffset = 1 + (new Rng(seed).nextLong() & 0xfffffL).toInt * 16
    cached(dir) {
      TranscriptsTable.appendSnapshot(spark, dir, 1, convOffset, nConvs,
        buckets = Util.cores, rowGroupBytes = Some(1L << 20))
    }
    val (full, share) = refs(dir, nConvs, convOffset)
    describe(spark, dir, full, share)
  }

  private val scriptWords = Vector("var", "function", "return", "window",
    "document", "push", "track", "event", "config", "load")

  /** A long HTML page built from the generator's page: chrome subtrees,
    * script blocks, link lists and content paragraphs, until it reaches
    * `target` characters.
    */
  def longPage(r: Rng, target: Int): String = {
    val sb = new StringBuilder(target + 2048)
    sb.append("<html><head><title>page</title><script>")
    (0 until 40).foreach(_ => sb.append(r.pick(scriptWords)).append(' '))
    sb.append("</script></head><body>\n")
    sb.append(TranscriptGen.html(r).stripPrefix("<html><body>\n").stripSuffix("</body></html>"))
    while (sb.length < target) {
      r.nextInt(5) match {
        case 0 =>
          sb.append("<nav><ul>")
          (0 until 3 + r.nextInt(8)).foreach(i =>
            sb.append(s"""<li><a href="/p$i">${r.pick(scriptWords)} link</a></li>"""))
          sb.append("</ul></nav>\n")
        case 1 =>
          sb.append("<script type=\"text/javascript\">")
          (0 until 20 + r.nextInt(60)).foreach(_ => sb.append(r.pick(scriptWords)).append("(); "))
          sb.append("</script>\n")
        case 2 =>
          sb.append("<div class=\"related\"><a href=\"/r\">related story</a> ")
          sb.append("<a href=\"/s\">another story</a></div>\n")
        case _ =>
          sb.append("<div><p>")
          sb.append("Main content paragraph with enough words to be kept by the density classifier. ")
          sb.append(TranscriptGen.plain(r).stripPrefix("note ")).append(".</p></div>\n")
      }
    }
    sb.append("<footer><a href=\"/x\">Terms</a></footer>\n</body></html>")
    sb.result()
  }

  /** Cut a page inside a tag, as a crawler's size cap cuts a page: at a
    * `<` in its second half plus one to four characters.
    */
  def cutMidTag(r: Rng, page: String): String = {
    val from = page.length / 2 + r.nextInt(math.max(1, page.length / 2 - 8))
    val lt = page.indexOf('<', from)
    if (lt < 0) page else page.substring(0, math.min(page.length, lt + 1 + r.nextInt(4)))
  }

  /** Turn (c, t) of the html-skew input. Conversation 0 is the giant. */
  def skewTurn(seed: Long, shape: SkewShape, c: Int, t: Int): Turn = {
    val base = TranscriptGen.turn(1 + c, t)
    if (base.tool != "html") base
    else {
      val r = new Rng(seed ^ (c.toLong * 0x9e3779b97f4a7c15L) ^ (t.toLong << 32))
      val page = longPage(r, shape.pageMin + r.nextInt(shape.pageMax - shape.pageMin))
      val text = if (r.nextDouble() < shape.cutShare) cutMidTag(r, page) else page
      base.copy(text = text)
    }
  }

  def skewSize(shape: SkewShape, c: Int): Int =
    if (c == 0) shape.giantTurns else TranscriptGen.convSize(1 + c, 0)

  /** Turns made from `TranscriptGen` payloads with lengthened HTML pages
    * and one planted giant conversation, bucketed by a hash of
    * (conv_id, turn_idx) so every bucket holds a share of the giant.
    */
  def htmlSkew(spark: SparkSession, dir: String, seed: Long, shape: SkewShape): Transcripts = {
    import spark.implicits._
    cached(dir) {
      val giantSplits = 64
      // the giant conversation is generated in slices so no task builds it alone
      val work = (0 until giantSplits).map(i => (0, i, giantSplits)) ++
        (1 until shape.convs).map(c => (c, 0, 1))
      spark.createDataset(work).repartition(Util.cores * 4)
        .flatMap { case (c, slice, of) =>
          (slice until skewSize(shape, c) by of).iterator.map(t => skewTurn(seed, shape, c, t))
        }
        .withColumn("bucket", pmod(hash($"conv_id", $"turn_idx"), lit(Util.cores)))
        .repartition(Util.cores, $"bucket")
        .write.mode("overwrite").option("parquet.block.size", (1L << 20).toString)
        .partitionBy("bucket").parquet(s"$dir/snapshot=1")
    }
    val (full, share) = refs(dir, shape.convs, 0)
    describe(spark, dir, full, share)
  }

  /** Input description: turns, text bytes, the largest conversation's
    * share, the HTML share, HTML page-length quartiles and the share of
    * pages cut mid-tag. Cached next to the table.
    */
  private def describe(spark: SparkSession, dir: String, full: SnapshotRef,
      share: SnapshotRef): Transcripts = {
    val f = Paths.get(dir, "_describe.txt")
    if (!Files.exists(f)) {
      val t = TranscriptsTable.readSnapshot(spark, full)
        .select(col("conv_id"), length(col("text")).as("len"),
          (col("tool") === "html").as("html"),
          (col("tool") === "html" && !col("text").endsWith("</html>")).as("cut"))
        .cache()
      val s = t.agg(count(lit(1)), sum("len"), sum(col("html").cast("long")),
        sum(col("cut").cast("long"))).head()
      val n = s.getLong(0)
      val nHtml = s.getLong(2)
      val giant = t.groupBy("conv_id").count().agg(max("count")).head().getLong(0)
      val q = if (nHtml == 0) Array(0.0, 0.0, 0.0)
        else t.filter(col("html")).stat.approxQuantile("len", Array(0.25, 0.5, 0.75), 0.0)
      t.unpersist()
      val shareTurns = TranscriptsTable.readSnapshot(spark, share).count()
      val d = Seq("turns" -> n.toDouble, "share_turns" -> shareTurns.toDouble,
        "text_bytes" -> s.getLong(1).toDouble, "giant_share" -> giant.toDouble / n,
        "html_share" -> nHtml.toDouble / n, "page_len_q1" -> q(0),
        "page_len_median" -> q(1), "page_len_q3" -> q(2),
        "cut_share" -> (if (nHtml == 0) 0.0 else s.getLong(3).toDouble / nHtml))
      Files.writeString(f, d.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    }
    val d = Files.readString(f).split("\n").map { l =>
      val Array(k, v) = l.split("=", 2); k -> v.toDouble
    }.toMap
    Transcripts(dir, full, share, d("turns").toLong, d("share_turns").toLong, d)
  }
}
