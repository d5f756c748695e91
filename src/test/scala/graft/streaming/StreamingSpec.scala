package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gen.TranscriptGen
import graft.model.Turn

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming extraction matches the batch oracle per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val turns = TranscriptGen.turns(8, 16).toVector
    val extracted = StreamingExtract.extractStream(spark, input.toDF())
    val q = extracted.writeStream
      .format("memory").queryName("ext_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    input.addData(turns.take(20))
    q.processAllAvailable()
    input.addData(turns.drop(20))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ext_out")
      .select("conv_id", "turn_idx", "doc_type", "confidence", "status")
      .as[(String, Int, String, Double, String)]
      .collect().sortBy(r => (r._1, r._2)).toVector
    val want = turns.map { t =>
      val e = graft.extract.Extract.extractTurn(t.conv_id, t.turn_idx, t.text)
      (e.conv_id, e.turn_idx, e.doc_type, e.confidence, e.status)
    }.sortBy(r => (r._1, r._2))
    assert(got == want)
  }

  test("streaming dedup drops replayed turns within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val deduped = StreamingExtract.dedupStream(input.toDF())
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-dedup").toString)
      .start()
    val turns = TranscriptGen.turns(3, 8).toVector
    input.addData(turns ++ turns.take(4)) // in-batch duplicates
    q.processAllAvailable()
    // cross-batch replay must use rows still WITHIN the watermark horizon
    // (maxTs - 30min) — replaying the earliest turns would be dropped as
    // late data and never exercise the cross-batch dedup state
    val horizon = turns.map(_.ts.getTime).max - 25 * 60 * 1000L
    val replay = turns.filter(_.ts.getTime >= horizon)
    assert(replay.nonEmpty)
    input.addData(replay)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out")
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toVector
    assert(got.size == turns.size, s"expected ${turns.size} unique, got ${got.size}")
    assert(got.distinct.size == got.size)
  }

  test("watermarked windowed rollup and stateful sessionization run on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val extracted = StreamingExtract.extractStream(spark, input.toDF())
    val rollup = StreamingExtract.windowedQuality(extracted)
    val q1 = rollup.writeStream.format("memory").queryName("roll_out")
      .outputMode(OutputMode.Update()).start()
    val sess = StreamingExtract.sessionize(spark, extracted)
    val q2 = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update()).start()
    val turns = TranscriptGen.turns(5, 16).toVector
    input.addData(turns)
    q1.processAllAvailable(); q2.processAllAvailable()
    // second batch exercises state continuation; fresh ts keeps the rows
    // ahead of the watermark (sessionize drops late rows by design)
    val maxTs = turns.map(_.ts.getTime).max
    input.addData(turns.take(3).map(t => t.copy(turn_idx = t.turn_idx + 1000,
      ts = new java.sql.Timestamp(maxTs + 1000))))
    q2.processAllAvailable()
    // replayed rows (same idx, fresh ts): excluded from turns/ok_turns and
    // surfaced in dropped_late (the documented dedup/sessionize trade)
    input.addData(turns.take(2).map(t =>
      t.copy(ts = new java.sql.Timestamp(maxTs + 2000))))
    q2.processAllAvailable()
    // third/fourth batches: a far-future turn on another conversation
    // advances the watermark past every idle conversation's timeout ->
    // their state is evicted and a final closed=true summary is emitted
    // (bounded state on unbounded streams)
    val future = new java.sql.Timestamp(maxTs + 6 * 60 * 60 * 1000L)
    input.addData(Seq(turns.head.copy(conv_id = "conv-zz", ts = future)))
    q2.processAllAvailable()
    input.addData(Seq(turns.head.copy(conv_id = "conv-zz", turn_idx = 1,
      ts = new java.sql.Timestamp(future.getTime + 60000))))
    q2.processAllAvailable()
    q1.stop(); q2.stop()
    assert(spark.table("roll_out").count() > 0)
    val sessRows = spark.table("sess_out")
      .as[StreamingExtract.ConvSummary].collect()
    assert(sessRows.nonEmpty)
    val c0 = sessRows.filter(_.conv_id == "conv-00000000").maxBy(_.turns)
    assert(c0.turns > 0 && c0.ok_turns <= c0.turns)
    assert(c0.gap_detected, "the +1000 turn_idx jump must flag a gap")
    assert(sessRows.exists(r => r.conv_id == "conv-00000000" && r.dropped_late >= 2),
      "replayed rows must be surfaced in dropped_late")
    assert(sessRows.exists(r => r.conv_id == "conv-00000000" && r.closed),
      "watermark past idle timeout must close the conversation's state")
  }

  test("streaming SFT context assembly matches the batch semantics across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    // the generator's ts is a function of turn_idx alone, so a later
    // conversation's idx-0 turns would sit behind the watermark the
    // giant conversation already advanced and be (correctly) dropped as
    // late — remap ts to global arrival order, the shape of a real
    // transcript stream
    val turns = TranscriptGen.turns(6, 16).toVector.zipWithIndex.map {
      case (t, i) => t.copy(ts = new java.sql.Timestamp(
        1700000000000L + i * 60000L))
    }
    val out = StreamingExtract.contextWindows(spark, input.toDF())
    val q = out.writeStream
      .format("memory").queryName("ctx_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-ctx").toString)
      .start()
    // split mid-conversation: state must carry the ring across batches
    val cut = turns.length / 2
    input.addData(turns.take(cut))
    q.processAllAvailable()
    input.addData(turns.drop(cut))
    q.processAllAvailable()
    // replay of already-processed turns must add no examples
    input.addData(turns.take(5))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ctx_out")
      .as[StreamingExtract.SftExample]
      .collect().sortBy(e => (e.conv_id, e.turn_idx)).toVector
    // batch semantics replayed independently: last-3 "role: snippet"
    // history for each assistant turn (tr_context_windows' definition)
    val want = turns.groupBy(_.conv_id).toVector.flatMap { case (cid, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      sorted.zipWithIndex.collect { case (t, i) if t.role == "assistant" =>
        val recent = sorted.slice(math.max(0, i - 3), i)
        StreamingExtract.SftExample(cid, t.turn_idx, recent.size,
          recent.map(p => s"${p.role}: ${p.text.take(24)}").mkString(" | "))
      }
    }.sortBy(e => (e.conv_id, e.turn_idx))
    if (got != want) {
      println(s"GOT ${got.size} WANT ${want.size}")
      got.zipAll(want, null, null).filter { case (a, b) => a != b }.take(3)
        .foreach { case (a, b) => println(s"GOT  $a\nWANT $b\n") }
    }
    assert(got == want)
  }

  test("stream-static enrichment joins the broadcast dim per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val turns = TranscriptGen.turns(6, 8).toVector
    val dim = turns.map(_.conv_id).distinct.sorted.zipWithIndex
      .collect { case (cid, i) if i % 2 == 0 => (cid, s"tier${i % 3}") }
      .toDF("conv_id", "tier")
    val enriched = StreamingExtract.enrichWithDim(input.toDF(), dim)
    val q = enriched.writeStream
      .format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt").toString)
      .start()
    val cut = turns.length / 2
    input.addData(turns.take(cut))
    q.processAllAvailable()
    input.addData(turns.drop(cut))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_out")
      .select($"conv_id", $"turn_idx", $"tier")
      .as[(String, Int, Option[String])]
      .collect().sortBy(r => (r._1, r._2)).toVector
    // batch oracle: same left join on the full input
    val dimMap = dim.as[(String, String)].collect().toMap
    val want = turns
      .map(t => (t.conv_id, t.turn_idx, dimMap.get(t.conv_id)))
      .sortBy(r => (r._1, r._2))
    assert(got == want)
    // unmatched conversations survive the LEFT join with a null tier
    assert(want.exists(_._3.isEmpty) && want.exists(_._3.nonEmpty))
  }

  test("stream-stream interval join matches the batch join across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turnsIn = MemoryStream[Turn]
    val reactsIn = MemoryStream[(String, java.sql.Timestamp, String)]
    val turns = TranscriptGen.turns(6, 8).toVector
    // per conversation: one reaction 2 min after its turn-3 ts (inside
    // the 5 min horizon of turns ending at ts..ts+5m) and one past the
    // LAST turn of the whole corpus plus the horizon, so it matches
    // nothing and must not appear in the output
    val deadEts = turns.map(_.ts.getTime).max + 6 * 60000L
    val reacts = turns.filter(_.turn_idx == 3).flatMap { t =>
      Seq((t.conv_id, new java.sql.Timestamp(t.ts.getTime + 2 * 60000L), "up"),
        (t.conv_id, new java.sql.Timestamp(deadEts), "late"))
    }
    // a wide watermark delay isolates PARITY from eviction: with 10 min
    // delay the reactions fed ahead of their turns would be legitimately
    // evicted before the turns arrive (the state-bound behavior the
    // dedup/sessionize tests pin); here every buffered row must survive
    // the interleave so the output can equal the batch join exactly
    val joined = StreamingExtract.joinReactions(
      turnsIn.toDF(),
      reactsIn.toDF.withColumnsRenamed(
        Map("_1" -> "conv_id", "_2" -> "ets", "_3" -> "kind")),
      delay = "120 minutes")
    val q = joined.writeStream
      .format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-ssj").toString)
      .start()
    // interleave the two sides across micro-batches: reactions for the
    // first half arrive BEFORE their turns do (the join must buffer)
    val cut = turns.length / 2
    reactsIn.addData(reacts.take(reacts.length / 2))
    q.processAllAvailable()
    turnsIn.addData(turns.take(cut))
    q.processAllAvailable()
    turnsIn.addData(turns.drop(cut))
    reactsIn.addData(reacts.drop(reacts.length / 2))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_out")
      .select($"conv_id", $"turn_idx", $"kind")
      .as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2, r._3)).toVector
    // batch oracle: the same equi+interval condition over the full inputs
    val want = (for {
      t <- turns
      (cid, ets, kind) <- reacts
      if cid == t.conv_id
      if ets.getTime >= t.ts.getTime && ets.getTime <= t.ts.getTime + 5 * 60000L
    } yield (t.conv_id, t.turn_idx, kind)).sortBy(r => (r._1, r._2, r._3))
    assert(got == want)
    assert(want.nonEmpty && !want.exists(_._3 == "late"),
      "horizon bound leaked the +20 min reaction")
  }

  test("dedup and SFT context assembly run over a parquet file source") {
    import graft.engine.TranscriptsTable
    // snapshot 2 regenerates the identical conversations (same
    // convOffset), so every (conv_id, turn_idx) key appears twice
    val dir = Files.createTempDirectory("stream-src").toString
    TranscriptsTable.appendSnapshot(spark, s"$dir/t", 1, 0, 20, 32, 2)
    TranscriptsTable.appendSnapshot(spark, s"$dir/t", 2, 0, 20, 32, 2)
    val table = TranscriptsTable.readAll(spark, s"$dir/t")
    val unique = table.select("conv_id", "turn_idx").distinct().count()
    assert(table.count() == 2 * unique)
    def drain(out: Dataset[_], name: String): Long = {
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation",
          Files.createTempDirectory(s"ckpt-$name").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name).count()
    }
    // the streaming file source insists on partition inference over the
    // snapshot=/bucket= layout: flatten both snapshots into a plain dir
    table.write.parquet(s"$dir/flat")
    val flat = spark.readStream.schema(table.schema).parquet(s"$dir/flat")
    assert(drain(StreamingExtract.dedupStream(flat), "file_dedup_out") == unique)
    // one SFT example per assistant turn of one snapshot
    val snap1 = s"$dir/t/snapshot=1"
    val snapStream = spark.readStream.schema(table.schema)
      .option("recursiveFileLookup", "true").parquet(snap1)
    val assistants = spark.read.option("recursiveFileLookup", "true")
      .parquet(snap1).filter("role = 'assistant'").count()
    assert(drain(StreamingExtract.contextWindows(spark, snapStream),
      "file_ctx_out") == assistants)
  }
}
