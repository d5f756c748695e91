package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan shape assertions: the optimizations the 100 TB design
  * depends on must be visible in `explain`, not assumed — filter/column
  * pushdown into the parquet scan, broadcast joins for dims, whole-stage
  * codegen around the expression pipeline, and a shuffle-free extract
  * stage on the presorted bucketed path.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filters and column pruning reach the parquet scan") {
    val p = plan(graft.SparkEntry.queries("f_filters")(spark, sf))
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("IsNotNull(n_chars)") || p.contains("LessThanOrEqual(n_chars"),
      "n_chars predicate not pushed:\n" + p.take(2000))
    // projection pruned: the scan must not read the full row
    assert(p.contains("ReadSchema"), p.take(500))
    assert(!p.matches("(?s).*ReadSchema.*source.*"),
      "unused column 'source' read by the scan")
  }

  test("point lookup never windows the corpus: TakeOrdered bounds the frame") {
    // r5 verdict item 1: s3_point_lookup's row_number must run over the
    // bounded top-64 (TakeOrderedAndProject per-partition top-k), never
    // over a Window whose child is the documents scan — that shape moved
    // the entire table through one task.
    import org.apache.spark.sql.catalyst.plans.logical
    val df = graft.SparkEntry.queries("s3_point_lookup")(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      "point lookup lost the per-partition top-k:\n" + p.take(2000))
    // any Window in the plan must sit above a Limit, not the raw scan
    df.queryExecution.optimizedPlan.foreach {
      case w: logical.Window =>
        val overScan = w.child.collect {
          case r: logical.LogicalPlan
              if r.nodeName == "Relation" || r.nodeName.contains("LogicalRelation") => r
        }
        val limited = w.child.collect { case l: logical.GlobalLimit => l }
        assert(limited.nonEmpty || overScan.isEmpty,
          "window runs over the unbounded documents scan")
      case _ =>
    }
  }

  test("dimension joins broadcast; no shuffle of the big side") {
    val p = plan(graft.SparkEntry.queries("q_join_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("semi/anti joins plan as broadcast or shuffled hash joins, not cartesian") {
    val semi = plan(graft.SparkEntry.queries("q_semi_join")(spark, sf))
    val anti = plan(graft.SparkEntry.queries("q_anti_join")(spark, sf))
    assert(semi.contains("LeftSemi"), semi.take(1000))
    assert(anti.contains("LeftAnti"), anti.take(1000))
    assert(!semi.contains("CartesianProduct") && !anti.contains("CartesianProduct"))
  }

  test("aggregation pipeline compiles to whole-stage codegen") {
    // note: higher-order-function projections (ta_* queries) are
    // interpreted by design — Spark has no codegen for array lambdas;
    // the scan->agg pipelines must still fuse.
    val df = graft.SparkEntry.queries("q1_lineitem_agg")(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // "*(id)" is the WholeStageCodegen marker in plan toString
    assert(p.contains("*(") && p.contains("HashAggregate"), p.take(1500))
  }

  test("banded LSH near-dup joins are equi-joins on the band key, never cartesian") {
    // (dd_ngram_jaccard is join-free entirely — asserted separately below)
    for (q <- Seq("dd_minhash_lsh", "dd_embedding_lsh")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q degenerated to an all-pairs product:\n" + p.take(1500))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q has no hash/merge equi-join:\n" + p.take(1500))
    }
  }

  test("banded LSH band keys are computed once: the band exchange is reused") {
    // Both sides of the candidate self-join are projections of the SAME
    // capped-bucket window output, so the exchange under it (whose child
    // computes the band keys — 32 dot products/row for hyperplane LSH)
    // must be planned once and reused, not evaluated per join side.
    // Assert with AQE off: the static ReuseExchange rule then marks the
    // second occurrence, proving the subplans are canonically identical
    // (the same property AQE's runtime stage cache reuses when on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("dd_minhash_lsh", "dd_embedding_lsh")) {
        val p = plan(graft.SparkEntry.queries(q)(spark, sf))
        assert(p.contains("ReusedExchange"),
          s"$q recomputes the banded subplan on one join side:\n" + p.take(3000))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dd_ngram_jaccard is clique-linear: no join carries the band key") {
    // the r2 within-band self-join emitted O(k^2) pairs per template
    // clique (159 s at sf0.1). The rewrite compares each doc only to its
    // band bucket's MIN (id, payload) via a window — the plan must contain
    // NO join at all (verification is in-row against the windowed min
    // struct), and in particular no join on the band key.
    val df = graft.SparkEntry.queries("dd_ngram_jaccard")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty,
      "dd_ngram_jaccard should be join-free (window bucket-min):\n" +
        joins.mkString("\n"))
  }

  test("windowed event queries shuffle once on user_id; windows and agg reuse it") {
    // q_sessionize: lag-window + sum-window + groupBy all run on ONE
    // exchange; q_asof_join: union + running-last on one exchange.
    // The only second exchange allowed is the final presentation orderBy.
    for (q <- Seq("q_asof_join", "q_sessionize")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      val tree = p.split("\n").takeWhile(l => !l.startsWith("(1)"))
      val n = tree.count(_.contains("Exchange"))
      assert(n <= 2, s"$q re-shuffles between stages ($n exchanges):\n" +
        tree.mkString("\n"))
    }
  }

  test("decontamination broadcasts the benchmark shingles; IVF broadcasts the probe set") {
    // dd_decontaminate: the 100 TB corpus side must NOT shuffle for the
    // match — the held-out shingle set is the broadcast side of a hash
    // join. sim_topk_ivf: same shape, the probe set is broadcast into
    // the inverted lists. Neither may degenerate to a product.
    for (q <- Seq("dd_decontaminate", "sim_topk_ivf")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q lost the broadcast:\n" + p.take(1500))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q degenerated to a product:\n" + p.take(1500))
    }
  }

  test("mix rebalancing broadcasts the rate table; corpus never wide-joined or windowed") {
    // ta_mix_rebalance: the per-domain rate table (3 rows) must come back
    // onto the document scan as a broadcast hash join, the one-row totals
    // frame rides a broadcast nested loop (both bounded), and the only
    // hash exchanges are on the bounded domain key — a sort-merge join or
    // a window here would mean the corpus is being globally ordered.
    val p = plan(graft.SparkEntry.queries("ta_mix_rebalance")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "rate table lost the broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct") && !p.contains("Window"),
      "corpus wide-joined or windowed:\n" + p.take(2000))
    val nonDom = "hashpartitioning\\((?!dom)".r.findAllIn(p).toList
    assert(nonDom.isEmpty,
      s"non-domain hash exchange(s) $nonDom:\n" + p.take(2500))
  }

  test("ngram mask shuffles the gram stream exactly once, already pair-counted") {
    // wordGramCounts makes the (g, doc_id) occurrence counting row-local,
    // so the only gram-keyed exchange left is the hot-set aggregation —
    // a second one would mean the corpus-wide pair shuffle crept back
    val p = plan(graft.SparkEntry.queries("dd_repeated_ngram_mask")(spark, sf))
    val gramShuffles = "hashpartitioning\\(g#".r.findAllIn(p).length
    assert(gramShuffles == 1,
      s"expected exactly 1 gram-keyed exchange, found $gramShuffles:\n" + p.take(2500))
    assert(p.contains("TextHashBridge.wordGramCounts"), "row-local gram counting missing:\n" + p.take(1500))
  }

  test("gopher repetition computes the per-doc mode row-locally: no shuffle shapes at all") {
    // the per-doc bigram mode is a row property — neither a window
    // (serializes each doc through one task) nor an explode+agg+join
    // (shuffles every bigram of the corpus twice) may appear; the only
    // exchange allowed is the presentation sort
    val p = plan(graft.SparkEntry.queries("ta_gopher_repetition")(spark, sf))
    assert(!p.contains("Window"), "per-doc window crept into the mode computation:\n" + p.take(2000))
    assert(!p.contains("Generate"), "explode crept into the mode computation:\n" + p.take(2000))
    assert(!p.contains("Join"), "join-back crept into the mode computation:\n" + p.take(2000))
  }

  test("int8 quantization is row-local: only the presentation sort shuffles") {
    val p = plan(graft.SparkEntry.queries("emb_quantize_int8")(spark, sf))
    val tree = p.split("\n").takeWhile(l => !l.startsWith("(1)"))
    val n = tree.count(_.contains("Exchange"))
    assert(n <= 1, s"emb_quantize_int8 shuffles beyond the final orderBy ($n):\n" +
      tree.mkString("\n"))
  }

  test("semdedup forms no pairwise join: one window per cluster, no join operator") {
    // the within-cluster dedup must be the sort+lag shape, not a
    // self-join pair matrix — any Join node means the O(|c|^2) path
    val p = plan(graft.SparkEntry.queries("dd_semdedup")(spark, sf))
    assert(p.contains("Window"), p.take(1500))
    assert(!p.contains("Join"), "pairwise join crept into dd_semdedup:\n" + p.take(2000))
  }

  test("dsir scoring is row-local: no join, no explode, only presentation shuffles") {
    // the model pass runs eagerly at construction; the RETURNED plan is
    // the scoring pass and must fold each row against the broadcast map
    // literal — a Generate (explode) or Join would re-shuffle the corpus
    val p = plan(graft.SparkEntry.queries("ta_dsir_weights")(spark, sf))
    assert(!p.contains("Join"), "join-back crept into dsir scoring:\n" + p.take(2000))
    assert(!p.contains("Generate"), "explode crept into dsir scoring:\n" + p.take(2000))
  }

  test("source gate is one aggregation pass over the tiny source key space") {
    val p = plan(graft.SparkEntry.queries("ta_source_quality_gate")(spark, sf))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("rollup computes all levels in one pass: Expand + agg, one fact scan") {
    val p = plan(graft.SparkEntry.queries("q_rollup_revenue")(spark, sf))
    assert(p.contains("Expand"), "rollup lost its Expand:\n" + p.take(1500))
    assert("Scan parquet.*lineitem".r.findAllIn(p).size <= 1,
      "lineitem scanned more than once:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"), "dims not broadcast:\n" + p.take(1500))
  }

  test("domain mix is one map-side-combined agg; totals broadcast back") {
    val p = plan(graft.SparkEntry.queries("ta_domain_mix")(spark, sf))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "totals not broadcast:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("bm25 scores row-locally against one broadcast stats row; top-k, no sort") {
    val p = plan(graft.SparkEntry.queries("ta_bm25_rank")(spark, sf))
    // the global top-20 must be a TakeOrdered, never a full corpus sort
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    // corpus stats (N, avgdl, per-term DF) arrive as ONE broadcast row
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "stats not broadcast:\n" + p.take(2000))
    // no term-wide corpus explode and no corpus-keyed shuffle join:
    // TF is a row-local map lookup, so the only join is the broadcast
    assert(!p.contains("Generate"), "corpus exploded term-wide:\n" + p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("weighted sampling is row-local keys + a distributed top-k merge") {
    val p = plan(graft.SparkEntry.queries("ta_weighted_sample")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    // the A-Res key is computed on the scan; nothing shuffles the corpus
    assert(!p.contains("Window") && !p.contains("Join"), p.take(2000))
    assert(!"Exchange".r.findFirstIn(p).isDefined,
      "corpus shuffled for a row-local sample:\n" + p.take(2000))
  }

  test("inverted index pays exactly one data exchange (the term-block agg)") {
    val df = graft.SparkEntry.queries("ta_inverted_index")(spark, sf)
    // one agg exchange + the presentation sort's range exchange, nothing more
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2, df.queryExecution.executedPlan.toString.take(2000))
    val p = plan(df)
    assert(!p.contains("Join") && !p.contains("Window"), p.take(2000))
  }

  test("skyline windows are bucket-partitioned; only the summary is globally ordered") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = graft.SparkEntry.queries("q_skyline_pareto")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(wins.nonEmpty, "skyline lost its windows entirely")
    wins.foreach { w =>
      val partitioned = w.partitionSpec.nonEmpty
      val overSummary = w.child.collectFirst {
        case a: logical.Aggregate if a.groupingExpressions.nonEmpty => a
      }.isDefined
      assert(partitioned || overSummary,
        s"corpus-wide unpartitioned window in skyline:\n$w")
    }
  }

  test("quantile operators never window over the documents") {
    // ta_ccnet_bucket and ta_length_quantiles compute exact per-key
    // quantile semantics (pinned by their ntile/row_number oracles) from
    // BOUNDED summaries. The scale-killer shape is a Window partitioned
    // by the key alone ranging over the raw corpus (one task per
    // language/source). Allowed windows: (a) over an aggregated summary
    // (an Aggregate grouping by >= 2 keys sits below), or (b) confined
    // to a finer >= 2-column partition key (the boundary buckets).
    import org.apache.spark.sql.catalyst.plans.logical
    for (q <- Seq("ta_ccnet_bucket", "ta_length_quantiles")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: logical.Window => w
      }
      assert(wins.nonEmpty, s"$q lost its summary windows entirely")
      wins.foreach { w =>
        val fine = w.partitionSpec.size >= 2
        val overSummary = w.child.collectFirst {
          case a: logical.Aggregate if a.groupingExpressions.size >= 2 => a
        }.nonEmpty
        assert(fine || overSummary,
          s"$q has a corpus-ranging window partitioned by " +
            s"${w.partitionSpec.mkString(",")}:\n" + w.toString.take(1500))
      }
      assert(!plan(df).toLowerCase.contains("ntile"),
        s"$q still plans the per-key ntile total order")
    }
  }

  test("conversation-length profile windows range over the size histogram only") {
    // tr_conv_length_profile's scale contract: the cumulative/total
    // windows sit above the bounded size-histogram aggregate. The killer
    // shape would window over the per-conversation size rows themselves
    // (a global row_number over every conversation) — detectable because
    // that child still carries conv_id.
    import org.apache.spark.sql.catalyst.plans.logical
    val df = graft.SparkEntry.queries("tr_conv_length_profile")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(wins.nonEmpty, "profile lost its summary windows entirely")
    wins.foreach { w =>
      assert(!w.child.output.exists(_.name == "conv_id"),
        "profile window ranges over per-conversation rows, not the " +
          "bounded histogram:\n" + w.toString.take(1200))
    }
  }

  test("paragraph dedup: one h-keyed window owner-min, join-free") {
    // dd_paragraph_exact's r6 scale contract: first-owner resolution is
    // a min(struct) window over the SAME h-partitioning the rows need
    // anyway — never a self-join (the r5 agg+equi-join shape scanned and
    // exploded the corpus twice and shuffled both join sides; the window
    // form has one paragraph-keyed exchange, frame bounded by the
    // per-paragraph duplicate count). Never a product, never a join.
    import org.apache.spark.sql.catalyst.plans.logical
    val df = graft.SparkEntry.queries("dd_paragraph_exact")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "owner resolution degenerated to a product:\n" + p.take(1500))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: logical.Join => j
    }
    assert(joins.isEmpty, "owner resolution re-grew a self-join:\n" + p.take(1500))
    assert(p.contains("Window"), "h-keyed owner-min window missing:\n" + p.take(1500))
    // exactly one corpus-keyed hash exchange: the h window; the doc_id
    // re-agg and presentation sort ride above it
    val hashEx = "hashpartitioning\\(h".r.findAllIn(p).size
    assert(hashEx >= 1, s"window lost the h partitioning:\n" + p.take(2000))
  }

  test("binned range join is an equi-join, never a nested-loop product") {
    // the whole point of q_range_join_binned: the interval-containment
    // predicate must ride on a bin equi-join (hash/merge), not the
    // BroadcastNestedLoopJoin Spark plans for a raw inequality join
    val p = plan(graft.SparkEntry.queries("q_range_join_binned")(spark, sf))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      "range join degenerated to a product:\n" + p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no equi-join on bin:\n" + p.take(2000))
  }

  test("row-local pipeline ops have no mid-plan shuffle") {
    // ta_url_normalize / ta_gopher_rules / ta_c4_filters are per-row
    // feature passes: the only exchange allowed is the terminal
    // presentation sort (range partitioning for orderBy) — any hash
    // exchange means a join/agg crept into what must stay a scan+project.
    for (q <- Seq("ta_url_normalize", "ta_gopher_rules", "ta_c4_filters",
        "lt_reading_order", "mm_jpeg_header")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q plans a hash exchange:\n" + p.take(2000))
      assert(!p.contains("Join"), s"$q plans a join:\n" + p.take(2000))
    }
  }

  test("salted skew join: shuffled hash join keyed on (key, salt), no broadcast") {
    // q_skew_salted_join exists to pin the explicit hot-key pattern: the
    // join must be a ShuffledHashJoin (not a broadcast — at 100 TB the
    // fanned dim doesn't broadcast, and a broadcast would bypass the very
    // partitioning the salt creates) and the salt must be IN the join key
    // so a hot user's rows spread across salt buckets.
    val p = plan(graft.SparkEntry.queries("q_skew_salted_join")(spark, sf))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"),
      "salted join must not broadcast:\n" + p.take(2000))
    // the formatted plan details the keys below the tree:
    // "Left keys [2]: [user_id…, salt…]"
    assert(p.matches("(?s).*keys \\[2\\]: \\[[^\\]]*salt[^\\]]*\\].*"),
      "salt not part of the join key:\n" + p.take(4000))
  }

  test("exact-substring dedup is join-free: two capped hash exchanges, no product") {
    // dd_exact_substring must never plan a self-join: pairs expand
    // row-locally from the <=64-doc window groups. Allowed exchanges are
    // exactly the window-key and pair-key aggregations (the presentation
    // sort is range-partitioned, not hash).
    // The span variant additionally pins the exchange-reuse trick: its
    // run window partitions by (a, b) only (ordering by diagonal inside),
    // so the window, the per-diagonal run agg, and the per-pair span agg
    // all share ONE pair-keyed exchange — same count as the simple form.
    for (q <- Seq("dd_exact_substring", "dd_exact_substring_span")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Join"), s"$q pair expansion degenerated to a join:\n" + p.take(2000))
      assert(!p.contains("CartesianProduct"))
      val hashEx = "hashpartitioning\\(".r.findAllIn(p).size
      assert(hashEx == 2,
        s"$q: expected exactly 2 hash exchanges (win, pair), found $hashEx:\n" + p.take(2000))
    }
  }

  test("transcript window+agg ops shuffle on conv_id exactly once") {
    // tr_* queries stack a conv-keyed window and a conv-keyed aggregate:
    // the aggregate must REUSE the window's hashpartitioning(conv_id)
    // exchange, so the whole op is one conv shuffle + the presentation
    // sort. On the production bucketed (conv_id)-sorted layout even that
    // one exchange disappears (same property the presorted-extract pin
    // asserts below); a second hash exchange here would mean the agg
    // repartitioned what the window already co-located.
    // tr_tool_transitions joins the loop: its countDistinct re-keys on
    // (tool, next_tool, conv_id) — a bounded |tools|^2-scale key space,
    // not a second conv-keyed shuffle of the corpus.
    // tr_retry_detect is the same shape minus the aggregate: one lag
    // window on conv_id, then row-local tokenize/Jaccard — the set math
    // must never induce a pairwise join or a second exchange.
    // tr_tool_latency is the transitions shape with lead(ts) instead of
    // lead(tool): same one-conv-exchange contract.
    // tr_truncate_budget's reverse-cumsum window orders by turn_idx DESC;
    // the conv aggregate must still reuse the same conv_id exchange.
    for (q <- Seq("tr_context_windows", "tr_role_alternation", "tr_reply_latency",
        "tr_tool_transitions", "tr_retry_detect", "tr_tool_latency",
        "tr_truncate_budget")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Join"), s"$q plans a join:\n" + p.take(1500))
      val hashEx = "hashpartitioning\\(conv_id".r.findAllIn(p).size
      assert(hashEx == 1,
        s"$q must have exactly one conv_id hash exchange, found $hashEx:\n" + p.take(2000))
    }
    // canned-reply detection is pure aggregation: no window, no join —
    // the only shuffles are the hash-keyed distinct-agg pair
    val cp = plan(graft.SparkEntry.queries("tr_canned_replies")(spark, sf))
    assert(!cp.contains("Join") && !cp.contains("Window"), cp.take(1500))
    // speaker balance / PII screen / prefix dedup are pure conv-keyed
    // aggregates (the detectors and the fingerprint slots are row-local):
    // no window ever forms, no join, and conv_id is hashed exactly once —
    // prefix dedup's second exchange re-keys on the bounded fingerprint
    // space, not the corpus.
    for (q <- Seq("tr_speaker_balance", "tr_pii_turns", "tr_prefix_dedup",
        "tr_refusal_rate")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q plans a join or window:\n" + p.take(1500))
      val hashEx = "hashpartitioning\\(conv_id".r.findAllIn(p).size
      assert(hashEx == 1,
        s"$q must hash conv_id exactly once, found $hashEx:\n" + p.take(2000))
    }
    // fenced code-block extraction is entirely row-local (regex + array
    // math in the projection): no join, no window, and ZERO hash
    // exchanges — the only partitioning is the presentation sort's range.
    val cb = plan(graft.SparkEntry.queries("tr_code_blocks")(spark, sf))
    assert(!cb.contains("Join") && !cb.contains("Window"), cb.take(1500))
    assert("hashpartitioning\\(".r.findAllIn(cb).isEmpty,
      "tr_code_blocks must be scan-shaped (zero hash exchanges):\n" + cb.take(2000))
    // preference-pair mining: one conv-keyed lag window, then the
    // prompt-hash aggregate re-keys on md5(prompt) — never a join, and
    // conv_id is hashed exactly once.
    val pp = plan(graft.SparkEntry.queries("tr_pref_pairs")(spark, sf))
    assert(!pp.contains("Join"), "tr_pref_pairs plans a join:\n" + pp.take(1500))
    val ppConv = "hashpartitioning\\(conv_id".r.findAllIn(pp).size
    assert(ppConv == 1,
      s"tr_pref_pairs must hash conv_id exactly once, found $ppConv:\n" + pp.take(2000))
    // conversation-level near-dup is the dd_ngram_jaccard topology lifted
    // to conversations: token-set agg (conv key), band window (bucket-min
    // candidate — NO within-band self-join), final per-conv confirm agg.
    // Exactly three hash exchanges, nothing pairwise.
    val nd = plan(graft.SparkEntry.queries("tr_conv_near_dup")(spark, sf))
    assert(!nd.contains("Join") && !nd.contains("CartesianProduct"),
      "tr_conv_near_dup must be join-free:\n" + nd.take(2000))
    val ndEx = "hashpartitioning\\(".r.findAllIn(nd).size
    assert(ndEx == 3,
      s"tr_conv_near_dup: expected 3 hash exchanges (set agg, band window, confirm agg), found $ndEx:\n" + nd.take(2000))
    // the curation-funnel capstone: QA verdicts, PII drop and context
    // assembly all ride ONE conv_id exchange (every Window node reuses
    // it — no agg + join-back for the verdicts); the canned-reply
    // exclusion is the only join, an equi anti-join on the md5 key —
    // never a nested-loop or cartesian.
    val mx = plan(graft.SparkEntry.queries("tr_sft_mix")(spark, sf))
    assert(!mx.contains("CartesianProduct") && !mx.contains("BroadcastNestedLoop"),
      "tr_sft_mix must not plan a product join:\n" + mx.take(2000))
    val mxConv = "hashpartitioning\\(conv_id".r.findAllIn(mx).size
    assert(mxConv == 1,
      s"tr_sft_mix must hash conv_id exactly once, found $mxConv:\n" + mx.take(2000))
  }

  test("blocked fuzzy join and pagerank plan as hash joins, never products") {
    // fuzzy: the levenshtein verify must sit ON TOP of a (c, bl)-keyed
    // equi-join — blocking bounds the candidates; a product would mean
    // the blocking key fell out of the join condition
    val fz = plan(graft.SparkEntry.queries("q_fuzzy_join_blocked")(spark, sf))
    assert(!fz.contains("CartesianProduct") && !fz.contains("BroadcastNestedLoop"),
      "fuzzy join must stay a blocked equi-join:\n" + fz.take(2000))
    assert(fz.contains("levenshtein"), fz.take(1000))
    // pagerank: 3 unrolled iterations of join+agg; the rank/edge joins
    // are equi joins, never a CartesianProduct. The only nested-loop
    // nodes allowed are the broadcast CROSS of the one-row corpus-count
    // aggregate (the scalar-broadcast idiom ta_tfidf_topk also uses).
    val pr = plan(graft.SparkEntry.queries("q_pagerank_iter")(spark, sf))
    assert(!pr.contains("CartesianProduct"),
      "pagerank iterations must be equi-joins:\n" + pr.take(2000))
    // match only the tree-form nodes ("BroadcastNestedLoopJoin <type>");
    // the formatted detail section repeats each node without the type
    val bnlj = "BroadcastNestedLoopJoin \\w+".r.findAllIn(pr).size
    val bnljCross = "BroadcastNestedLoopJoin Cross".r.findAllIn(pr).size
    assert(bnlj == bnljCross,
      "every nested-loop node must be the broadcast scalar cross:\n" + pr.take(2000))
  }

  test("partition predicate prunes at the directory level, not post-scan") {
    val out = java.nio.file.Files.createTempDirectory("graft-plan-partitioned").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").partitionBy("source").parquet(out)
    val df = spark.read.parquet(out).filter("source = 'src3'").select("doc_id")
    val p = plan(df)
    assert(p.contains("PartitionFilters"), p.take(1500))
    // the source predicate must appear among the partition filters
    assert(p.matches("(?s).*PartitionFilters:.*src3.*"),
      "source=src3 not pruned at partition level:\n" + p.take(2000))
  }

  test("catalog-bucketed tables join with ZERO exchange (co-located join)") {
    // the other half of the bucketing story: TranscriptsTable buckets by
    // directory layout for the extract path; catalog bucketBy covers the
    // JOIN path — two tables bucketed+sorted on the key merge-join with
    // no shuffle on either side (the pre-shuffled layout a recurring
    // 100 TB join pays for once at write time)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    // an interrupted prior run can leave the warehouse directory behind
    // without its catalog entry; DROP alone won't clear the orphan location
    for (t <- Seq("bkt_a", "bkt_b")) {
      s2.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s2.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    (0 until 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
    (0 until 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
    val j = s2.table("bkt_a").join(s2.table("bkt_b"), "k")
    val p = plan(j)
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("Exchange"),
      "bucketed co-located join must not shuffle:\n" + p.take(2000))
    assert(j.count() === 1000L)
  }

  test("presorted bucketed extract is a narrow plan: zero shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("plan-test").toString
    TranscriptsTable.appendSnapshot(spark, dir, 1, 0, 5, 8, buckets = 2)
    val turns = TranscriptsTable.readAll(spark, dir)
    val ds = ExtractJob.extract(spark, turns, salted = false, 4, presorted = true)
    val p = plan(ds.toDF())
    assert(!p.contains("Exchange"), "unexpected shuffle in presorted extract:\n" + p)
    // salted mode has exactly one exchange (the explicit skew-handling shuffle)
    val salted = plan(ExtractJob.extract(spark, turns, salted = true, 4).toDF())
    assert("Exchange".r.findAllIn(salted).size >= 1)
    // both extract with one extract_turn per row, visible to the
    // optimizer: no opaque object-mapping stage
    for (q <- Seq(p, salted)) {
      assert("""ExtractTurnBridge\$?\.eval""".r.findAllIn(q).size == 1,
        "expected exactly one extract_turn in the extract plan:\n" + q)
      assert(!q.contains("MapPartitions"), "MapPartitions in the extract plan:\n" + q)
    }
  }

  test("AQE splits the hot partition of a skewed sort-merge join at runtime") {
    // The north rule names AQE skew-join splitting as the runtime
    // backstop when a key hot enough to straggle reaches a shuffle join
    // (the PLANNED paths avoid this — bucketing, salting, broadcast —
    // but unknown-layout inputs can still hit it). Enabling the flag is
    // not evidence; this constructs a join whose hot key holds 90% of
    // the fact side, executes it, and asserts Spark's OptimizeSkewedJoin
    // actually SPLIT the skewed partition (isSkewJoin on the executed
    // SMJ), with the join result still exact.
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ, no broadcast escape
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // pad must be row-DERIVED (a literal would constant-fold above the
      // join and never ride the shuffle) and high-entropy (18k identical
      // longs compress below any skew threshold)
      val fact = spark.range(0, 20000)
        .select(when($"id" < 18000, lit(0L)).otherwise($"id" % 97).as("k"),
          repeat(md5($"id".cast("string")), 4).as("pad"))
      val dim = spark.range(0, 97).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = fact.join(dim, "k")
      // execute THIS plan (count() would plan a separate pad-pruned query
      // whose shuffle never gets heavy, and would leave joined's own
      // adaptive plan unexecuted → no runtime stats → no skew decision)
      assert(joined.collect().length === 20000)
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.getOrElse(fail("no adaptive plan — AQE disabled?"))
      // string-match the finalized tree: query stages are leaf nodes in
      // Spark 4, so a typed collect cannot descend into ResultQueryStage
      val p = adaptive.executedPlan.toString
      assert(p.contains("SortMergeJoin"), "join did not execute as SMJ:\n" + p.take(2000))
      assert(p.contains("skew=true") && p.contains("AQEShuffleRead skewed"),
        "OptimizeSkewedJoin did not split the hot partition:\n" + p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
