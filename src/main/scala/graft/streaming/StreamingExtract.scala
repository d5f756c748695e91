package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.ExtractJob

/** Structured Streaming face of the engine.
  *
  * The reference is batch-only (SURVEY.md §2.10) and the north rule asks
  * for batch snapshot-resume, which `ExtractJob` provides. This module
  * adds the streaming ingest path a production deployment of the same
  * engine would use: the batch job's `extract_turn` projection applied
  * per micro-batch, a watermarked windowed quality rollup, and stateful
  * per-conversation sessionization via mapGroupsWithState — all over the
  * identical transcripts schema, so batch and streaming share one code
  * path.
  */
object StreamingExtract {

  /** One lateness horizon shared by every stateful operator here: a dedup
    * horizon shorter than the rollup/session watermark would silently
    * change which rows each stage keeps.
    */
  val WatermarkDelay = "30 minutes"

  /** Per-turn extraction on a stream: the batch job's own projection
    * ([[ExtractJob.turnExtract]]), exactly-once per micro-batch under
    * checkpointing.
    */
  def extractStream(spark: SparkSession, turns: DataFrame): DataFrame =
    turns
      .select(col("conv_id"), col("turn_idx"), ExtractJob.turnExtract.as("e"), col("ts"))
      .select("conv_id", "turn_idx", "e.doc_type", "e.confidence", "e.status", "ts")

  /** Streaming exact dedup at the ingest boundary: drop replayed turns by
    * their natural key within the watermark horizon — state is bounded by
    * the watermark (old keys are evicted), which is the only shape exact
    * streaming dedup can take on an unbounded stream.
    *
    * Composition note: this stage ADMITS a late-but-within-watermark
    * DISTINCT turn as unique, while [[sessionize]] deliberately does not
    * count rows at idx <= lastIdx (replay tolerance) — a composed
    * dedup -> sessionize pipeline therefore undercounts exactly those
    * rows relative to what this stage delivered, and reports them in
    * `ConvSummary.dropped_late`.
    */
  def dedupStream(turns: DataFrame): DataFrame =
    turns
      .withWatermark("ts", WatermarkDelay)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  /** Watermarked tumbling-window rollup: doc-type mix and mean confidence
    * per 10-minute window (the streaming analog of the lineage rollup).
    */
  def windowedQuality(extracted: DataFrame): DataFrame =
    extracted
      .withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "10 minutes"), col("doc_type"))
      .agg(count(lit(1)).as("n_turns"),
        avg(col("confidence")).as("mean_confidence"))

  final case class ConvState(turns: Long, okTurns: Long, lastIdx: Int,
      gap: Boolean, lastActivityMs: Long, dropped: Long)
  final case class ConvSummary(conv_id: String, turns: Long, ok_turns: Long,
      last_idx: Int, gap_detected: Boolean, closed: Boolean,
      /** rows at idx <= lastIdx excluded from turns/ok_turns — replays OR
        * late-but-distinct turns (indistinguishable without per-turn
        * state); see the composition note on [[dedupStream]] */
      dropped_late: Long)

  /** Stateful per-conversation tracker (mapGroupsWithState): running
    * turn/ok counters and turn_idx-gap detection per conv_id.
    *
    * State is BOUNDED via event-time timeout: a conversation idle past
    * the watermark + `gapMs` emits a final `closed = true` summary and
    * its state is removed — on an unbounded stream with ever-new conv_ids
    * the state store stays proportional to ACTIVE conversations, not all
    * conversations ever seen.
    */
  def sessionize(spark: SparkSession, extracted: DataFrame,
      gapMs: Long = 30 * 60 * 1000L): Dataset[ConvSummary] = {
    import spark.implicits._
    extracted
      .withWatermark("ts", WatermarkDelay)
      .select($"conv_id", $"turn_idx", $"status", $"ts")
      .as[(String, Int, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[ConvState, ConvSummary](GroupStateTimeout.EventTimeTimeout) {
        case (convId, rows, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            ConvSummary(convId, st.turns, st.okTurns, st.lastIdx, st.gap,
              closed = true, dropped_late = st.dropped)
          } else sessionStep(convId, rows, state, gapMs)
      }
  }

  final case class CtxTurn(idx: Int, role: String, snip: String)
  final case class CtxState(recent: List[CtxTurn], lastIdx: Int,
      lastActivityMs: Long)
  final case class SftExample(conv_id: String, turn_idx: Int, n_ctx: Int,
      ctx: String)

  /** Streaming SFT context-window assembly — the streaming face of the
    * batch `tr_context_windows` operator: every assistant turn is emitted
    * as a training example paired with its rendered dialogue history (the
    * preceding `k` turns as "role: snippet"). State per conversation is
    * the BOUNDED last-`k` turn ring plus a high-water turn index —
    * independent of conversation length — and is evicted by event-time
    * timeout like [[sessionize]], so the store tracks ACTIVE
    * conversations only.
    *
    * Same replay trade as [[sessionize]]: rows at idx <= lastIdx are
    * ignored (a replay must not duplicate an example; a late DISTINCT
    * turn cannot retroactively enter already-emitted contexts anyway).
    * Under in-order delivery the emitted examples equal the batch
    * operator's rows exactly — asserted in StreamingSpec.
    */
  def contextWindows(spark: SparkSession, turns: DataFrame, k: Int = 3,
      gapMs: Long = 30 * 60 * 1000L): Dataset[SftExample] = {
    import spark.implicits._
    turns
      .withWatermark("ts", WatermarkDelay)
      .select($"conv_id", $"turn_idx", $"role", $"text", $"ts")
      .as[(String, Int, String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CtxState, SftExample](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (convId, rows, state: GroupState[CtxState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(
              CtxState(Nil, -1, Long.MinValue))
            var recent = prev.recent
            var last = prev.lastIdx
            var maxTs = prev.lastActivityMs
            val out = scala.collection.mutable.ArrayBuffer.empty[SftExample]
            rows.toSeq.sortBy(_._2).foreach { case (_, idx, role, text, ts) =>
              if (ts != null) maxTs = math.max(maxTs, ts.getTime)
              if (idx > last) {
                last = idx
                if (role == "assistant")
                  out += SftExample(convId, idx, recent.size,
                    recent.map(t => s"${t.role}: ${t.snip}").mkString(" | "))
                recent = (recent :+ CtxTurn(idx, role, text.take(24)))
                  .takeRight(k)
              }
            }
            state.update(CtxState(recent, last, maxTs))
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + gapMs)
            out.iterator
          }
      }
  }

  private def sessionStep(convId: String,
      rows: Iterator[(String, Int, String, java.sql.Timestamp)],
      state: GroupState[ConvState], gapMs: Long): ConvSummary = {
    val prev = state.getOption.getOrElse(
      ConvState(0, 0, -1, gap = false, lastActivityMs = Long.MinValue,
        dropped = 0))
    val sorted = rows.toSeq.sortBy(_._2)
    // replay tolerance: rows at idx <= lastIdx move nothing (not lastIdx,
    // not gap, not the turn/ok counters). Deliberate trade: distinguishing
    // a REPLAY of a counted turn from a late-arriving DISTINCT turn below
    // lastIdx would need per-turn seen-state (unbounded); counters are
    // therefore exact for in-order and replayed delivery, while a late
    // distinct turn is uncounted — its absence was already flagged by
    // `gap` when the stream skipped past it, and the watermark bounds how
    // late it could have arrived anyway.
    var gap = prev.gap
    var last = prev.lastIdx
    var ok = prev.okTurns
    var turns = prev.turns
    var dropped = prev.dropped
    var maxTs = Long.MinValue
    sorted.foreach { case (_, idx, status, ts) =>
      if (ts != null) maxTs = math.max(maxTs, ts.getTime)
      if (idx > last) {
        if (idx > last + 1 && last >= 0) gap = true
        last = idx
        turns += 1
        if (status == "ok") ok += 1
      } else dropped += 1
    }
    // last activity persists across batches: a late-but-valid row in a
    // later batch must never move the close time BACKWARD (timeout is
    // last-activity + gap, not this-batch-max + gap)
    val lastActivity = math.max(prev.lastActivityMs, maxTs)
    val next = ConvState(turns, ok, last, gap, lastActivity, dropped)
    state.update(next)
    // idle-timeout at max(last activity, watermark) + gap — always
    // strictly ahead of the current watermark, so the call is legal and
    // the conversation closes once the watermark passes its last activity
    state.setTimeoutTimestamp(
      math.max(lastActivity, state.getCurrentWatermarkMs()) + gapMs)
    ConvSummary(convId, next.turns, next.okTurns, next.lastIdx, gap,
      closed = false, dropped_late = dropped)
  }

  /** Stream-static enrichment: left-join the turn stream against a
    * STATIC dimension (a routing/priority/quarantine table). Spark
    * re-plans the static side per micro-batch, so a dimension refresh
    * lands on the next batch without restarting the query; the explicit
    * broadcast keeps the stream side from shuffling for the join — the
    * only viable shape when the stream is the 100 TB/day side and the
    * dim is bounded.
    */
  def enrichWithDim(turns: DataFrame, dim: DataFrame,
      key: String = "conv_id"): DataFrame =
    turns.join(org.apache.spark.sql.functions.broadcast(dim),
      Seq(key), "left")

  /** Stream-STREAM interval join: pair each turn with the reaction
    * events landing in its conversation within [ts, ts + horizon] —
    * the feedback-attribution join (user thumbs-up/retry signals
    * attributed to the assistant turns they respond to) when BOTH
    * sides are unbounded streams, so neither can be broadcast or
    * collected. The watermarks on both sides are what BOUND the join
    * state: Spark buffers each side's rows only until the other side's
    * watermark clears the interval, then evicts — without them a
    * stream-stream join buffers forever. The conv_id equi-key keeps it
    * a hash-partitioned join on both sides (co-partitioned exchange,
    * no broadcast of an unbounded side); the time bound prunes within
    * the matched key. Inner matches emit as soon as found — only state
    * EVICTION waits on the watermark.
    */
  def joinReactions(turns: DataFrame, reactions: DataFrame,
      horizonMin: Int = 5, delay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val t = turns.withWatermark("ts", delay)
    val r = reactions.withColumnRenamed("conv_id", "r_conv_id")
      .withWatermark("ets", delay)
    t.join(r, expr(
        s"conv_id = r_conv_id AND ets >= ts AND ets <= ts + interval $horizonMin minutes"))
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("ets"), col("kind"))
  }
}
