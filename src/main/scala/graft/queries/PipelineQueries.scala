package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.Multimodal

/** Training-data pipeline operators: deduplication (exact, MinHash,
  * SimHash, n-gram Jaccard, embedding cosine), similarity search
  * (brute-force and bucketed ANN), text analysis (language-ID, quality,
  * token counts, fingerprint) and multimodal plumbing. The end-to-end
  * extractor gates, which run the production `extract_turn` operator
  * against constructed ground truth, are in [[XQueries]].
  */
object PipelineQueries {
  import Q._

  private val M = HashMod

  // ---- SQL fragments mirroring TextFunctions (portable hash family) ----
  /** distinct lowercase alnum tokens len>2 (the P4 tokenizer) */
  private[queries] val sqlToks =
    "list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> length(x) > 2))"

  /** polyHashStr(v, seed) for an arbitrary string variable `v` */
  private[queries] def sqlStrHash(v: String, seed: Long): String =
    s"list_reduce(list_prepend(CAST(${seed % M} AS BIGINT), " +
      s"list_transform(generate_series(1, length($v)), i -> CAST(ascii(substr($v, i, 1)) AS BIGINT))), " +
      s"(a, x) -> (a * 131 + x) % $M)"

  /** polyHashStr(t, seed) for a token variable `t` */
  private def sqlTokHash(seed: Long): String = sqlStrHash("t", seed)

  /** The quality-score CTE body over `from` (which must expose doc_id,
    * text[, extraCols]): doc_id, extraCols, text, punct, stopr — shared
    * by ta_quality and the per-source gate so the score has ONE SQL
    * mirror. */
  private def sqlQualityFrom(from: String, extraCols: String = ""): String = {
    val stops = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,$extraCols text,
       |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE) /
       |    CAST(greatest(length(text), 1) AS DOUBLE) AS punct,
       |  CAST(len(list_filter(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0), t -> t IN ($stops))) AS DOUBLE) /
       |    CAST(greatest(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0)), 1) AS DOUBLE) AS stopr
       |  FROM $from""".stripMargin
  }

  /** The quality CASE over a row of [[sqlQualityFrom]] — mirrors
    * TextFunctions.qualityScore. */
  private val sqlQualityExpr: String =
    """CAST(round(
      |  (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN CAST(0.4 AS DOUBLE)
      |        WHEN length(text) BETWEEN 20 AND 10000 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) +
      |  (CASE WHEN punct < 0.1 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.1 AS DOUBLE) END) +
      |  (CASE WHEN stopr > 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 2) AS DOUBLE)""".stripMargin

  private def minHashSeed(s: Int): Long = 0x9e3779b9L * (s + 1)

  /** [mh0, ..., mh5] — the 6-seed MinHash signature over a token/shingle
    * list variable `toks`, as a SQL list literal (integer math — exact
    * parity with TextFunctions.minHashSig).
    */
  private[queries] def sqlSig(k: Int = 6): String =
    (0 until k).map { s =>
      s"list_min(list_transform(toks, t -> ${sqlTokHash(minHashSeed(s))}))"
    }.mkString("[", ",\n      ", "]")

  /** The banded LSH keys over a signature variable `sig` — mirrors
    * TextFunctions.lshBands(sig, bands, rows) ("b-<hash>" strings).
    */
  private[queries] def sqlBandKeys(bands: Int, rows: Int): String =
    (0 until bands).map { b =>
      s"'$b-' || CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"sig[${b * rows + 1}:${(b + 1) * rows}]), (a, x) -> (a * 31 + x) % $M) AS VARCHAR)"
    }.mkString("[", ",\n      ", "]")

  /** Character-5-gram shingle set over `text` (mirrors
    * TextFunctions.shingles(text, 5, 2000); min doc length in the corpus
    * is 48, so the short-text guard never fires).
    */
  private val sqlShingles =
    "list_sort(list_distinct(list_transform(generate_series(1, least(length(text), 2000) - 4), i -> substr(text, i, 5))))"

  /** Sequential-fold dot product of a double-list variable `v` with a
    * plane literal — bit-identical to the HOF reference dot's left fold
    * (same multiply order, same add order), so the LSH sign bits match
    * Spark exactly.
    */
  private def sqlDot(plane: Seq[Double]): String = {
    val lits = plane.map(java.lang.Double.toString).mkString("[", ", ", "]")
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(" +
      s"generate_series(1, ${plane.length}), i -> v[i] * ($lits)[i])), (a, x) -> a + x)"
  }

  /** Sign-bit bucket string over `v` — mirrors the HOF reference lshBucket. */
  private def sqlBucket(planes: Seq[Seq[Double]]): String =
    planes.map(p => s"(CASE WHEN ${sqlDot(p)} >= 0 THEN '1' ELSE '0' END)")
      .mkString("||")

  /** Banded hyperplane keys over `v` — mirrors the HOF reference lshBucketBands. */
  private def sqlHyperBandKeys(bandPlanes: Seq[Seq[Seq[Double]]]): String =
    bandPlanes.zipWithIndex.map { case (ps, b) => s"'$b-' || ${sqlBucket(ps)}" }
      .mkString("[", ",\n      ", "]")

  /** Hot-band-bucket cap: only the first `BandBucketCap` items (by id)
    * of each band bucket enter the candidate self-join. Without it a
    * band key shared by k items emits k(k-1)/2 candidate pairs on ONE
    * shuffle partition — quadratic again on template-heavy corpora at
    * 100×. With it, a bucket emits at most cap(cap-1)/2 pairs and the
    * TOTAL candidate count is O(n·cap): each surviving row pairs with
    * < cap bucket-mates, summed over `bands` band sets. Recall impact:
    * a clique larger than the cap loses same-band pairs past its first
    * `cap` members in THIS band — they can still collide in the other
    * bands (independent hashes), and the dedup use-case proper
    * (dd_ngram_jaccard) uses the bucket-min topology, which keeps every
    * member linked to the bucket representative regardless of size.
    */
  private[queries] val BandBucketCap = 64

  /** Hash seed for the DSIR bigram feature buckets (distinct from the
    * MinHash seed family 0x9e3779b9*(s+1)). */
  private val DsirSeed = 424242L
  private val LmSeed = 515151L

  /** doc_id, lang, n_tok, nll under the corpus-trained hashed unigram LM
    * (1024 buckets, add-one smoothing, integer micro-log scoring) —
    * the shared model of ta_lm_perplexity (the keep/drop gate) and
    * ta_ccnet_bucket (the head/middle/tail tertiles). Model pass: one
    * bounded-state histogram aggregate over the 1024 buckets
    * (BigramHistAgg.hashedGramHist), merged to a dense driver-side table
    * (8 KiB — broadcast-friendly at any corpus size); scoring pass:
    * row-local compiled scan (hashedGramMicroSum), zero data shuffle.
    */
  private def lmNllFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val B = 1024
    val toks = filter(split(lower($"text"), "[^a-z0-9]+"), w => length(w) > 0)
    val docs = rd(s, d, "documents").select($"doc_id", $"lang", toks.as("toks"))
    // model pass via the native bounded-state histogram aggregate
    // (plans.BigramHistAgg.hashedGramHist): one compiled pass, O(1024)
    // state per task, ONE merged row — the r5 shape exploded one row
    // per token occurrence through a Generate + bucket-keyed aggregate
    val hist: Seq[Long] = docs
      .agg(graft.plans.BigramHistAgg.hashedGramHist($"toks", 1, LmSeed, B).as("h"))
      .collect()(0).getSeq[Long](0)
    val total = hist.sum
    def micro(x: Double): Long = math.rint(math.log(x) * 1e6).toLong
    // dense bucket -> micro-ln p table; buckets no token hashed to
    // get the smoothed default and are unreachable by construction
    val table = Array.tabulate(B)(b =>
      micro((hist(b) + 1.0) / (total + B.toDouble)))
    docs
      .select($"doc_id", $"lang", size($"toks").cast("long").as("n_tok"),
        hashedGramMicroSum($"toks", 1, LmSeed, table).as("sm"))
      .select($"doc_id", $"lang", $"n_tok",
        when($"n_tok" > 0, round(-$"sm" / ($"n_tok" * 1e6), 6)).as("nll"))
  }

  /** DuckDB CTE chain retraining the exact [[lmNllFrame]] model in SQL;
    * terminal CTE `nll` exposes (doc_id, lang, n_tok, nll). */
  private def sqlLmNllCte: String =
    s"""t AS (SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0) AS toks
       |  FROM documents),
       |bk AS (SELECT doc_id, ${sqlStrHash("tok", LmSeed)} % 1024 AS bucket
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
       |m AS (SELECT bucket, count(*) AS c FROM bk GROUP BY bucket),
       |tot AS (SELECT sum(c) AS tt FROM m),
       |lp AS (SELECT bucket,
       |    CAST(round(ln((c + 1.0) / (tt + 1024.0)) * 1000000) AS BIGINT) AS lpm
       |  FROM m, tot),
       |sc AS (SELECT doc_id, count(*) AS n_tok, sum(lpm) AS sm
       |  FROM bk JOIN lp USING (bucket) GROUP BY doc_id),
       |nll AS (SELECT t.doc_id, t.lang,
       |    CAST(COALESCE(sc.n_tok, 0) AS BIGINT) AS n_tok,
       |    CASE WHEN COALESCE(sc.n_tok, 0) > 0
       |      THEN round(-sc.sm / (sc.n_tok * 1000000.0), 6) END AS nll
       |  FROM t LEFT JOIN sc USING (doc_id))""".stripMargin

  /** The banded LSH candidate topology shared by every near-dup query:
    * explode the item's band keys, rank within each band bucket and cap
    * hot buckets (see [[BandBucketCap]]), equi-join on the key, dedup
    * BARE id pairs (the shuffle carries no payloads), then re-join
    * payloads only for the verified comparisons. `items` must have
    * columns (id, p). The capping window shuffles `banded` by band ONCE;
    * both sides of the self-join are projections of that same window
    * output, so the exchange is planned once and reused (asserted in
    * PlanSpec), not recomputed per side — the band keys (e.g. 32 dot
    * products/row for hyperplane LSH) are evaluated once.
    */
  private def bandedIdPairs(items: DataFrame, bands: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // capped band buckets materialized ONCE: both sides of the candidate
    // self-join read the checkpoint instead of re-running the signature/
    // band explode + bucket-cap window per side (guide §7.2)
    val banded = items.select(explode(bands).as("band"), col("id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band")).orderBy(col("id"))))
      .filter(col("rn") <= BandBucketCap)
      .select(col("band"), col("id"))
      .localCheckpoint()
    banded.select(col("band"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("id").as("id_b")), Seq("band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Callers should pass `items` pre-checkpointed when its payload
    * column is expensive (shingle/signature arrays): it is read by the
    * band explode and by BOTH payload re-attach joins below.
    */
  private def bandedPairs(items: DataFrame, bands: Column): DataFrame =
    bandedIdPairs(items, bands)
      .join(items.select(col("id").as("id_a"), col("p").as("p_a")), Seq("id_a"))
      .join(items.select(col("id").as("id_b"), col("p").as("p_b")), Seq("id_b"))

  /** Unbounded scale-probe variants of the id-bounded catalog entries
    * (the bounds exist to keep the DuckDB oracle's per-shingle hash cost
    * sane, not for the operator). Not oracle-gated — the catalog rows pin
    * the semantics; `graft.Probe scale` runs these over 1x/10x/100x
    * corpora as direct linearity evidence for the 100x claims.
    */
  private[graft] val scaleProbes: Seq[(String, Q.Fn)] = Seq(
    "sp_minhash_sig_all" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      rd(s, d, "documents")
        .select($"doc_id", minHashSig(tokens($"text"), 6).as("sig"))
    }),
    "sp_simhash_all" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      rd(s, d, "documents")
        .select($"doc_id", simHash(tokens($"text")).as("simhash"))
    }),
    // dd_minhash_lsh without the doc_id bound: shingle -> minhash ->
    // band -> capped bucket join -> exact-Jaccard verify, whole corpus
    "sp_minhash_lsh_all" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val items = rd(s, d, "documents")
        .select($"doc_id".as("id"), shingles($"text", 5, 2000).as("p"))
      bandedPairs(items, lshBands(minHashSig(col("p"), 6), 3, 2))
        .withColumn("jac", round(jaccard($"p_a", $"p_b"), 6))
        .filter($"jac" >= 0.4)
        .select($"id_a", $"id_b", $"jac")
    }),
    // connected components over the capped band-candidate edges, whole
    // corpus — the CC fixpoint's own scaling, isolated from the per-pair
    // exact-verify cost (the bare-id candidate stage shuffles no
    // payloads). On the scaled corpora each base doc's `factor`-member
    // clique is one component, so rounds stay at the clique diameter
    // (1-2 band hops) while edge count is bounded by O(n·cap).
    "sp_cluster_cc_all" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val items = rd(s, d, "documents")
        .select($"doc_id".as("id"), shingles($"text", 5, 2000).as("p"))
      val edges = bandedIdPairs(items, lshBands(minHashSig(col("p"), 6), 3, 2))
      GraphOps.connectedComponents(items.select($"id"), edges)
    }),
    // dedup-proper exact-substring topology: doc -> min-doc-of-window
    // LINKS (bucket-min, the dd_ngram_jaccard idiom) instead of all
    // pairs — O(occurrences) per window with NO cap needed, the clique
    // recovered transitively by CC. This is the path a 100 TB exact-
    // substring dedup would run; the pairwise catalog entries are the
    // span-reporting analytics on top, protected by the 64-doc cap.
    "sp_exact_substring_min" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val W = 8
      val wins = rd(s, d, "documents")
        .select($"doc_id", explode(alnumGrams($"text", W)).as("win"))
      // min per window via map-side-combined agg + equi-join back, NOT a
      // window function: a corpus-hot window (license header in millions
      // of docs) makes a Window partition one unsplittable straggler
      // task, while the agg collapses it map-side and AQE can skew-split
      // the join probe
      val mins = wins.groupBy($"win").agg(min($"doc_id").as("mn"))
      wins.join(mins, "win")
        .filter($"doc_id" =!= $"mn")
        .groupBy($"doc_id").agg(min($"mn").as("link_to"))
    }))

  val entries: Seq[(String, Entry)] = Seq(

    // ---------------- Deduplication ----------------

    // exact dedup: hash-groupBy, keep min id
    "dd_exact" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .groupBy(md5($"text").as("h"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy($"h")
      },
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY h""".stripMargin)),

    // CCNet-style PARAGRAPH-level exact dedup (Wenzek et al., "CCNet:
    // Extracting High Quality Monolingual Datasets from Web Crawl Data",
    // LREC 2020, §3: paragraph-hash dedup is the first pipeline stage and
    // removes ~70% of raw web text): hash every paragraph of every
    // document, keep only the FIRST corpus-wide occurrence of each
    // paragraph (min (doc_id, idx)), reassemble survivors in document
    // order. Scale shape: posexplode -> ONE md5-keyed exchange for the
    // first-owner agg (min(struct) is map-side combinable) -> equi-join
    // back on the same key (CCNet shards paragraph hashes identically) ->
    // per-doc reassembly (collect_list bounded by document size, never by
    // corpus). The payload plants a corpus-global boilerplate paragraph
    // (survives only in doc 0), a 50-doc cohort notice (survives in the
    // cohort's min doc), and a unique body line (always survives), so the
    // oracle is closed-form by construction.
    "dd_paragraph_exact" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat_ws("\n",
          lit("Subscribe to our newsletter today"),
          concat(lit("Group notice for cohort "),
            pmod($"doc_id", lit(50)).cast("string")),
          concat(lit("Unique content "), tok($"text", 1),
            lit(" of document "), $"doc_id".cast("string")))
        // owner-selection as a window min over the SAME h-partitioning the
        // rows already need, not an aggregate + self-join: the r5 shape
        // scanned/exploded the corpus twice and shuffled both join sides
        // (plan: 3 corpus exchanges -> 1 window exchange; guide §2.4)
        val paras = rd(s, d, "documents")
          .select($"doc_id", posexplode(split(payload, "\n")).as(Seq("idx", "para")))
          .withColumn("h", md5($"para"))
        val wOwner = org.apache.spark.sql.expressions.Window.partitionBy($"h")
        paras
          .withColumn("o", min(struct($"doc_id", $"idx")).over(wOwner))
          .where($"doc_id" === $"o.doc_id" && $"idx" === $"o.idx")
          .groupBy($"doc_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct($"idx", $"para"))),
              x => x("para")), "\n").as("clean_text"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, CASE
              |  WHEN doc_id = 0 THEN 'Subscribe to our newsletter today'||chr(10)||'Group notice for cohort 0'||chr(10)||'Unique content '||$sqlTok1||' of document 0'
              |  WHEN doc_id < 50 THEN 'Group notice for cohort '||CAST(doc_id AS VARCHAR)||chr(10)||'Unique content '||$sqlTok1||' of document '||CAST(doc_id AS VARCHAR)
              |  ELSE 'Unique content '||$sqlTok1||' of document '||CAST(doc_id AS VARCHAR) END AS clean_text
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // n-gram (token-set) Jaccard near-dup dedup over the WHOLE corpus,
    // CLIQUE-LINEAR by construction (the r2 within-band self-join emitted
    // every id_a < id_b pair — O(k^2) per template clique, 159 s at sf0.1
    // on this 21%-near-dup corpus; at 100x docs that is ~10,000x verify
    // work). The per-doc output only needs each doc's minimum near-dup
    // representative, so:
    //   (1) exact-dedup pre-pass: md5(text) groups collapse to their min
    //       id — identical templates never reach LSH (jaccard 1 >= 0.8 by
    //       definition, kind='exact');
    //   (2) banded MinHash over the representatives only (3 bands x 2
    //       rows: recall 1-(1-s^2)^3 = 95% at s=0.8, unrelated pairs at
    //       s~0.05 collide with p<1%);
    //   (3) each rep is compared ONLY to its band bucket's MIN rep id
    //       (one candidate per rep per band — O(n) verifies, no
    //       within-band self-join), exact Jaccard >= 0.8 verifies, and
    //       dup_of = the min verified bucket representative (kind='near').
    // The oracle reproduces the identical pre-pass, banding, bucket-min
    // topology and verification — parity exact by construction.
    "dd_ngram_jaccard" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = rd(s, d, "documents")
          .select($"doc_id".as("id"), md5($"text").as("h"), tokens($"text").as("p"))
        // materialized once: withRep feeds the exact-dup branch AND the
        // rep/LSH branch of the union — without the checkpoint the
        // tokenize+md5 scan and the h-window exchange ran once per branch
        val withRep = docs.withColumn("rep", min($"id").over(Window.partitionBy($"h")))
          .localCheckpoint()
        val exactDups = withRep.filter($"id" =!= $"rep")
          .select($"id".as("doc_id"), $"rep".as("dup_of"), lit("exact").as("kind"))
        val reps = withRep.filter($"id" === $"rep").select($"id", $"p")
        // min(struct(id, p)) over the band window carries the bucket-min's
        // PAYLOAD alongside its id (struct ordering = id first, unique) —
        // verification happens in-row, no payload re-join, no distinct;
        // a (id, min_id) candidate duplicated across bands just verifies
        // the same comparison again (min over bands unchanged)
        val wb = Window.partitionBy($"band")
        val near = reps
          .select($"id", $"p", explode(lshBands(minHashSig($"p", 6), 3, 2)).as("band"))
          .withColumn("mn", min(struct($"id", $"p")).over(wb))
          .filter($"id" =!= $"mn.id" &&
            round(jaccard($"p", $"mn.p"), 6) >= 0.8)
          .groupBy($"id").agg(min($"mn.id").as("dup_of"))
          .select($"id".as("doc_id"), $"dup_of", lit("near").as("kind"))
        exactDups.unionByName(near).orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id AS id, md5(text) AS h, $sqlToks AS toks FROM documents),
              |r AS (SELECT id, h, toks, min(id) OVER (PARTITION BY h) AS rep FROM t),
              |exact AS (SELECT id AS doc_id, rep AS dup_of, 'exact' AS kind FROM r WHERE id <> rep),
              |reps AS (SELECT id, toks FROM r WHERE id = rep),
              |sigs AS (SELECT id, ${sqlSig()} AS sig FROM reps),
              |bands AS (SELECT id, unnest(${sqlBandKeys(3, 2)}) AS band FROM sigs),
              |wm AS (SELECT id, min(id) OVER (PARTITION BY band) AS min_id FROM bands),
              |cand AS (SELECT DISTINCT id, min_id FROM wm WHERE id <> min_id),
              |near AS (SELECT c.id AS doc_id, min(c.min_id) AS dup_of, 'near' AS kind
              |         FROM cand c JOIN reps a ON a.id = c.id JOIN reps b ON b.id = c.min_id
              |         WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
              |                     CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 6) >= 0.8
              |         GROUP BY c.id)
              |SELECT doc_id, dup_of, kind FROM (
              |  SELECT * FROM exact UNION ALL SELECT * FROM near)
              |ORDER BY doc_id""".stripMargin)),

    // MinHash signatures (k=6) — portable polynomial hash family, so the
    // signature itself is oracle-gated bit-for-bit (computed by the native
    // codegen'd TextHashBridge.minHashSig — one evaluation, compiled loops)
    "dd_minhash_sig" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents").filter($"doc_id" < 100)
          .select($"doc_id", minHashSig(tokens($"text"), 6).as("sig"))
          .select(($"doc_id" +:
            (0 until 6).map(k => element_at($"sig", k + 1).as(s"mh$k"))): _*)
          .orderBy($"doc_id")
      },
      Some {
        val cols = (0 until 6).map { k =>
          s"list_min(list_transform($sqlToks, t -> ${sqlTokHash(minHashSeed(k))})) AS mh$k"
        }.mkString(",\n  ")
        s"SELECT doc_id,\n  $cols\nFROM documents WHERE doc_id < 100 ORDER BY doc_id"
      }),

    // SimHash 32-bit fingerprint — majority vote over token hashes
    "dd_simhash" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents").filter($"doc_id" < 100)
          .select($"doc_id", simHash(tokens($"text")).as("simhash"))
          .orderBy($"doc_id")
      },
      Some {
        val bitTerms = (0 until 32).map { b =>
          s"(CASE WHEN list_aggregate(list_transform(hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
        }.mkString(" +\n    ")
        s"""WITH t AS (SELECT doc_id,
           |  list_transform($sqlToks, t -> ${sqlTokHash(0x85ebca6bL)}) AS hs
           |  FROM documents WHERE doc_id < 100)
           |SELECT doc_id, $bitTerms AS simhash FROM t ORDER BY doc_id""".stripMargin
      }),

    // MinHash-LSH near-dup pipeline over character 5-gram shingles
    // (shingle → minhash → band → bucket-join), then exact Jaccard over
    // the shingle sets on candidates only. The banded join is the scale
    // path: no all-pairs product. The oracle reproduces the whole chain
    // (shingling, salted polynomial hashes, band keys — all integer /
    // string math) so the join TOPOLOGY itself is now oracle-gated.
    // doc_id < 200 bounds the oracle's per-shingle hash cost, not the
    // operator (dd_ngram_jaccard runs the same topology unbounded).
    "dd_minhash_lsh" -> Entry(
      (s, d) => {
        import s.implicits._
        // shingle arrays computed once: items feeds the band explode and
        // both payload re-attach joins inside bandedPairs
        val items = rd(s, d, "documents").filter($"doc_id" < 200)
          .select($"doc_id".as("id"), shingles($"text", 5, 2000).as("p"))
          .localCheckpoint()
        bandedPairs(items, lshBands(minHashSig(col("p"), 6), 3, 2))
          .withColumn("jac", round(jaccard($"p_a", $"p_b"), 6))
          .filter($"jac" >= 0.4)
          .select($"id_a", $"id_b", $"jac")
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlShingles AS toks
              |          FROM documents WHERE doc_id < 200),
              |sigs AS (SELECT doc_id, toks, ${sqlSig()} AS sig FROM t),
              |allbands AS (SELECT doc_id, unnest(${sqlBandKeys(3, 2)}) AS band FROM sigs),
              |bands AS (SELECT doc_id, band FROM allbands
              |          QUALIFY row_number() OVER (PARTITION BY band ORDER BY doc_id) <= $BandBucketCap),
              |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
              |pairs AS (SELECT id_a, id_b, ta.toks AS toks_a, tb.toks AS toks_b
              |          FROM ids JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b)
              |SELECT id_a, id_b,
              |  round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE) /
              |        CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 6) AS jac
              |FROM pairs
              |WHERE round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE) /
              |            CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 6) >= 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    // near-dup CLUSTERING: transitive closure over the verified LSH
    // candidate pairs (the same chain as dd_minhash_lsh), because
    // near-dup is not pairwise-transitive — "keep one doc per cluster"
    // needs components, not pairs. Spark side: GraphOps.connectedComponents
    // (min-label propagation, one shuffle join per round, rounds = clique
    // diameter, lineage truncated per round). Oracle: the same edge set
    // fed to a recursive CTE — min reachable id per vertex IS the
    // component representative, so the distributed fixpoint is gated
    // against an exact sequential closure.
    "dd_cluster_cc" -> Entry(
      (s, d) => {
        import s.implicits._
        val items = rd(s, d, "documents").filter($"doc_id" < 200)
          .select($"doc_id".as("id"), shingles($"text", 5, 2000).as("p"))
          .localCheckpoint()
        val edges = bandedPairs(items, lshBands(minHashSig(col("p"), 6), 3, 2))
          .withColumn("jac", round(jaccard($"p_a", $"p_b"), 6))
          .filter($"jac" >= 0.4)
          .select($"id_a", $"id_b")
        GraphOps.connectedComponents(items.select($"id"), edges)
          .orderBy($"id")
      },
      Some(s"""WITH RECURSIVE
              |t AS (SELECT doc_id, $sqlShingles AS toks
              |      FROM documents WHERE doc_id < 200),
              |sigs AS (SELECT doc_id, toks, ${sqlSig()} AS sig FROM t),
              |allbands AS (SELECT doc_id, unnest(${sqlBandKeys(3, 2)}) AS band FROM sigs),
              |bands AS (SELECT doc_id, band FROM allbands
              |          QUALIFY row_number() OVER (PARTITION BY band ORDER BY doc_id) <= $BandBucketCap),
              |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
              |edges AS (SELECT id_a, id_b
              |          FROM (SELECT id_a, id_b, ta.toks AS toks_a, tb.toks AS toks_b
              |                FROM ids JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b)
              |          WHERE round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE) /
              |                      CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 6) >= 0.4),
              |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
              |        UNION SELECT id_b, id_a FROM edges),
              |reach(id, comp) AS (
              |  SELECT doc_id, doc_id FROM t
              |  UNION
              |  SELECT s.src, r.comp FROM sym s JOIN reach r ON r.id = s.dst)
              |SELECT id, min(comp) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // cluster-representative selection — the step a dedup pipeline runs
    // AFTER connected components: within each near-dup cluster keep ONE
    // document, the best by a deterministic quality order (longest text,
    // ties to the smallest id), and flag the rest for deletion. Same CC
    // topology as dd_cluster_cc (banded LSH edges, min-label
    // propagation); the selection itself is one per-cluster window over
    // the tiny (id, comp) frame, NOT over the corpus — at 100 TB the
    // window input is |kept docs| rows of three integers.
    "dd_cluster_keep_best" -> Entry(
      (s, d) => {
        import s.implicits._
        val docs = rd(s, d, "documents").filter($"doc_id" < 200)
        val items = docs
          .select($"doc_id".as("id"), shingles($"text", 5, 2000).as("p"))
          .localCheckpoint()
        val edges = bandedPairs(items, lshBands(minHashSig(col("p"), 6), 3, 2))
          .withColumn("jac", round(jaccard($"p_a", $"p_b"), 6))
          .filter($"jac" >= 0.4)
          .select($"id_a", $"id_b")
        val comps = GraphOps.connectedComponents(items.select($"id"), edges)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"comp").orderBy($"n_chars".desc, $"id".asc)
        comps.join(docs.select($"doc_id".as("id"), $"n_chars"), "id")
          .withColumn("keep", row_number().over(w) === 1)
          .select($"id", $"comp", $"n_chars", $"keep")
          .orderBy($"id")
      },
      Some(s"""WITH RECURSIVE
              |t AS (SELECT doc_id, n_chars, $sqlShingles AS toks
              |      FROM documents WHERE doc_id < 200),
              |sigs AS (SELECT doc_id, toks, ${sqlSig()} AS sig FROM t),
              |allbands AS (SELECT doc_id, unnest(${sqlBandKeys(3, 2)}) AS band FROM sigs),
              |bands AS (SELECT doc_id, band FROM allbands
              |          QUALIFY row_number() OVER (PARTITION BY band ORDER BY doc_id) <= $BandBucketCap),
              |ids AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
              |edges AS (SELECT id_a, id_b
              |          FROM (SELECT id_a, id_b, ta.toks AS toks_a, tb.toks AS toks_b
              |                FROM ids JOIN t ta ON ta.doc_id = id_a JOIN t tb ON tb.doc_id = id_b)
              |          WHERE round(CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE) /
              |                      CAST(len(list_distinct(list_concat(toks_a, toks_b))) AS DOUBLE), 6) >= 0.4),
              |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
              |        UNION SELECT id_b, id_a FROM edges),
              |reach(id, comp) AS (
              |  SELECT doc_id, doc_id FROM t
              |  UNION
              |  SELECT s.src, r.comp FROM sym s JOIN reach r ON r.id = s.dst),
              |cc AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
              |SELECT cc.id, cc.comp, t.n_chars,
              |  (row_number() OVER (PARTITION BY cc.comp
              |     ORDER BY t.n_chars DESC, cc.id ASC) = 1) AS keep
              |FROM cc JOIN t ON t.doc_id = cc.id
              |ORDER BY cc.id""".stripMargin)),

    // embedding-cosine near-dup pairs within label blocks — the EXACT
    // baseline, explicitly scope-capped at 500 vectors: at cos >= 0.35
    // (nearly-orthogonal vectors) no LSH family prunes with high recall,
    // so the exact operator is label-blocked (IVF coarse quantizer) and
    // bounded. The unbounded scale path for the high-similarity regime
    // where near-dup dedup actually operates is dd_embedding_lsh below.
    "dd_embedding_cosine" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings").filter($"vec_id" < 500)
        val a = e.select($"vec_id".as("id_a"), $"label", $"embedding".as("v_a"))
        val b = e.select($"vec_id".as("id_b"), $"label", $"embedding".as("v_b"))
        a.join(b, Seq("label")).filter($"id_a" < $"id_b")
          .withColumn("cos", round(cosine($"v_a", $"v_b"), 6))
          .filter($"cos" >= 0.35)
          .select($"label", $"id_a", $"id_b", $"cos")
          .orderBy($"label", $"id_a", $"id_b")
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings WHERE vec_id < 500)
             |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
             |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
             |ORDER BY label, id_a, id_b""".stripMargin)),

    // embedding near-dup at scale: banded random-hyperplane LSH candidate
    // join + exact cosine verification, over the corpus PLUS a
    // deterministically perturbed copy of itself (the corpus has no
    // natural pairs above cos 0.5, so the high-similarity near-dup regime
    // is planted by construction — reproducible in the oracle). 4 bands x
    // 8 sign bits: a true near-dup (cos ~0.99997) collides with p~1 while
    // unrelated pairs (p(bit)=0.5) collide with p = 1-(1-0.5^8)^4 ~ 1.5%
    // — real pruning AND high recall, the regime banded LSH is for. The
    // oracle mirrors the construction, the plane dot products (identical
    // sequential fold), the band keys, and the verification.
    "dd_embedding_lsh" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
        val pert = transform($"embedding", (x, i) =>
          x * (lit(1.0) + (pmod(i, lit(5)) - lit(2)).cast("double") * lit(0.004)))
        // perturbed ids offset far above any plausible corpus size —
        // vec_id + 100000 would COLLIDE with real ids on a 100k+ table
        val corpus = e.select($"vec_id".as("id"), toDouble($"embedding").as("p"))
          .unionByName(e.select(($"vec_id" + lit(1000000000000L)).as("id"), pert.as("p")))
          .localCheckpoint()
        bandedPairs(corpus, lshBucketBandsNative(col("p"), 4, 8, 64))
          .withColumn("cos", round(cosine($"p_a", $"p_b"), 6))
          .filter($"cos" >= 0.999)
          .select($"id_a", $"id_b", $"cos")
          .orderBy($"id_a", $"id_b")
      },
      Some {
        val bp = hyperplaneBands(4, 8, 64)
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |corpus AS (
           |  SELECT vec_id, v FROM e
           |  UNION ALL
           |  SELECT vec_id + 1000000000000,
           |    list_transform(generate_series(1, 64), j ->
           |      v[j] * (CAST(1.0 AS DOUBLE) + CAST((j - 1) % 5 - 2 AS DOUBLE) * CAST(0.004 AS DOUBLE)))
           |  FROM e),
           |ab AS (SELECT vec_id, v, unnest(${sqlHyperBandKeys(bp)}) AS band FROM corpus),
           |b AS (SELECT vec_id, v, band FROM ab
           |      QUALIFY row_number() OVER (PARTITION BY band ORDER BY vec_id) <= $BandBucketCap),
           |ids AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
           |        FROM b a JOIN b c ON a.band = c.band AND a.vec_id < c.vec_id),
           |pairs AS (SELECT id_a, id_b, ca.v AS v_a, cb.v AS v_b
           |          FROM ids JOIN corpus ca ON ca.vec_id = id_a
           |                   JOIN corpus cb ON cb.vec_id = id_b)
           |SELECT id_a, id_b, round(list_cosine_similarity(v_a, v_b), 6) AS cos
           |FROM pairs WHERE round(list_cosine_similarity(v_a, v_b), 6) >= 0.999
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ---------------- Similarity search ----------------

    // brute-force cosine top-k (the correctness baseline): rank on the
    // 6-dp-rounded score with vec_id tiebreak → deterministic and portable
    // Substring search via a TRIGRAM INVERTED INDEX — the classic
    // text-search topology (pg_trgm / code-search style): build
    // (trigram, doc) postings with one distinct pass, probe with the
    // query's distinct trigrams (tiny frame — broadcast side of the
    // equi-join), candidates = docs holding ALL probe trigrams (count
    // match, map-side-combinable agg — trigrams need not be contiguous,
    // so candidates have NO false negatives), then the exact
    // contains() verify runs only on candidates. Output records both
    // counts so the index's pruning is visible. Scale shape: one
    // gram-keyed exchange for the postings, probe set broadcast, no
    // corpus scan per probe.
    "sim_trigram_probe" -> Entry(
      (s, d) => {
        import s.implicits._
        val probeLits = Seq("table value", "join small", "window the",
          "fast slow", "zzz missing")
        // The probe set is a compile-time constant, so the r5 postings
        // build (per-char trigram array + array_distinct + explode +
        // gram-keyed exchange + countDistinct — O(total chars) rows
        // shuffled) is strictly more work than evaluating the candidate
        // predicate row-locally: a doc's trigram SET contains gram g
        // iff contains(text, g), so "holds ALL probe grams" is a
        // conjunction of codegen'd contains() calls, and the exact
        // verify is one more contains(probe). One corpus scan, ZERO
        // gram shuffles, one single-row aggregate; counts per probe are
        // unchanged (contains(probe) implies every gram matches). The
        // postings-index topology for amortizing MANY probes remains
        // covered by ta_inverted_index.
        def grams(p: String): Seq[String] =
          (1 to math.max(p.length - 2, 1))
            .map(i => p.substring(i - 1, math.min(i + 2, p.length))).distinct
        val docs = rd(s, d, "documents").select($"text")
        val aggCols = probeLits.zipWithIndex.flatMap { case (p, i) =>
          val cand = grams(p).map(g => $"text".contains(lit(g))).reduce(_ && _)
          Seq(count(when(cand, 1)).as(s"nc$i"),
            count(when($"text".contains(lit(p)), 1)).as(s"nm$i"))
        }
        docs.agg(aggCols.head, aggCols.tail: _*)
          .select(explode(array(probeLits.zipWithIndex.map { case (p, i) =>
            struct(lit(p).as("probe"), col(s"nc$i").as("n_candidates"),
              col(s"nm$i").as("n_matches"))
          }: _*)).as("r"))
          .select($"r.probe", $"r.n_candidates", $"r.n_matches")
          .orderBy($"probe")
      },
      Some("""WITH probes AS (SELECT unnest(['table value','join small','window the','fast slow','zzz missing']) AS probe),
             |pg AS (SELECT probe, unnest(list_distinct(list_transform(
             |         generate_series(1, greatest(length(probe) - 2, 1)),
             |         i -> substr(probe, i, 3)))) AS g FROM probes),
             |pn AS (SELECT probe, count(*) AS n_g FROM pg GROUP BY probe),
             |post AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |          generate_series(1, greatest(length(text) - 2, 1)),
             |          i -> substr(text, i, 3)))) AS g FROM documents),
             |cand AS (SELECT pg.probe, post.doc_id, count(DISTINCT post.g) AS hit
             |         FROM post JOIN pg ON post.g = pg.g
             |         GROUP BY pg.probe, post.doc_id),
             |ok AS (SELECT c.probe, c.doc_id FROM cand c JOIN pn ON c.probe = pn.probe
             |       WHERE c.hit = pn.n_g),
             |v AS (SELECT ok.probe, count(*) AS n_candidates,
             |        count(CASE WHEN contains(d.text, ok.probe) THEN 1 END) AS n_matches
             |      FROM ok JOIN documents d ON ok.doc_id = d.doc_id
             |      GROUP BY ok.probe)
             |SELECT p.probe, COALESCE(v.n_candidates, 0) AS n_candidates,
             |  COALESCE(v.n_matches, 0) AS n_matches
             |FROM probes p LEFT JOIN v ON p.probe = v.probe
             |ORDER BY p.probe""".stripMargin)),

    "sim_topk_bruteforce" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
        val q = e.filter($"vec_id" < 5)
          .select($"vec_id".as("q_id"), $"embedding".as("q_v"))
        val c = e.select($"vec_id".as("n_id"), $"embedding".as("n_v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
        c.crossJoin(broadcast(q)).filter($"n_id" =!= $"q_id")
          .withColumn("cos", round(cosine($"q_v", $"n_v"), 6))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"q_id", $"rank", $"n_id", $"cos")
          .orderBy($"q_id", $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |        round(list_cosine_similarity(q.v, c.v), 6) AS cos
             |      FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT q_id, n_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM s) WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // bucketed ANN (IVF-style with the label as the coarse partition):
    // the scale path — candidates restricted to the probe's bucket
    "sim_topk_bucketed" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"label", $"embedding".as("q_v"))
        val c = e.select($"vec_id".as("n_id"), $"label", $"embedding".as("n_v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
        c.join(broadcast(q), Seq("label")).filter($"n_id" =!= $"q_id")
          .withColumn("cos", round(cosine($"q_v", $"n_v"), 6))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"q_id", $"rank", $"n_id", $"cos")
          .orderBy($"q_id", $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |        round(list_cosine_similarity(q.v, c.v), 6) AS cos
             |      FROM e q JOIN e c ON q.label = c.label AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT q_id, n_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM s) WHERE rank <= 3
             |ORDER BY q_id, rank""".stripMargin)),

    // random-hyperplane LSH ANN: bucket the corpus once, probe only the
    // query's bucket (the scale path — no full-corpus scan per query).
    // The oracle reproduces the sign-bit bucketing with the identical
    // sequential-fold dot products, so the approximate structure itself
    // is gated exactly.
    "sim_lsh_ann" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
          .withColumn("bucket", lshBucketNative($"embedding", 4, 64))
        val q = e.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"bucket", $"embedding".as("q_v"))
        val c = e.select($"vec_id".as("n_id"), $"bucket", $"embedding".as("n_v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
        c.join(broadcast(q), Seq("bucket")).filter($"n_id" =!= $"q_id")
          .withColumn("cos", round(cosine($"q_v", $"n_v"), 6))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"q_id", $"rank", $"n_id", $"cos")
          .orderBy($"q_id", $"rank")
      },
      Some {
        val planes = hyperplanes(4, 64)
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |bk AS (SELECT vec_id, v, ${sqlBucket(planes)} AS bucket FROM e),
           |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |        round(list_cosine_similarity(q.v, c.v), 6) AS cos
           |      FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
           |SELECT q_id, rank, n_id, cos FROM (
           |  SELECT q_id, n_id, cos,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
           |  FROM s) WHERE rank <= 3
           |ORDER BY q_id, rank""".stripMargin
      }),

    // true IVF ANN: a coarse quantizer of nlist=8 centroid vectors
    // partitions the corpus into inverted lists ROW-LOCALLY (argmax over
    // 8 centroid cosines — no shuffle on the corpus side, unlike a
    // window-based assignment), queries probe their nprobe=2 nearest
    // lists, exact rank inside the probed lists only. The centroids
    // stand in for an offline k-means artifact (vec_id 0..7,
    // deterministic): the operator under test is the inverted-list probe
    // topology, not centroid training. The 8x64-double quantizer is
    // collected as the MODEL and broadcast by value into the row-local
    // scorer — a trained-artifact fetch, not a data collect. Cosines are
    // rounded to 6dp BEFORE every comparison (assignment, probe choice,
    // final rank) with cid/n_id tiebreaks, so the approximate structure
    // itself is portable and the oracle reproduces it exactly.
    "sim_topk_ivf" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
          .select($"vec_id", toDouble($"embedding").as("v"))
        val cents: Seq[(Int, Seq[Double])] = e.filter($"vec_id" < 8)
          .orderBy($"vec_id").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toIndexedSeq))
          .toSeq
        // array of (rounded cosine, -cid) structs: max picks highest
        // cosine, smallest cid on ties; sort+reverse gives the probe order
        def centScores(v: Column): Column = array(cents.map { case (cid, cv) =>
          struct(round(cosine(v, typedLit(cv)), 6).as("c"),
            lit(-cid).as("negcid"))
        }: _*)
        val corpus = e.withColumn("best", array_max(centScores($"v")))
          .select($"vec_id".as("n_id"), (-$"best.negcid").as("cid"),
            $"v".as("n_v"))
        val q = e.filter($"vec_id" < 20)
          .withColumn("probes", slice(reverse(array_sort(centScores($"v"))), 1, 2))
          .select($"vec_id".as("q_id"), $"v".as("q_v"),
            explode(transform($"probes", p => -p.getField("negcid"))).as("cid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
        corpus.join(broadcast(q), Seq("cid")).filter($"n_id" =!= $"q_id")
          .withColumn("cos", round(cosine($"q_v", $"n_v"), 6))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"q_id", $"rank", $"n_id", $"cos")
          .orderBy($"q_id", $"rank")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |scored AS (SELECT e.vec_id, c.cid,
             |    row_number() OVER (PARTITION BY e.vec_id
             |      ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cid) AS rn
             |  FROM e CROSS JOIN cent c),
             |asg AS (SELECT vec_id, cid FROM scored WHERE rn = 1),
             |probe AS (SELECT vec_id AS q_id, cid FROM scored
             |          WHERE vec_id < 20 AND rn <= 2),
             |s AS (SELECT p.q_id, a.vec_id AS n_id,
             |        round(list_cosine_similarity(qe.v, ne.v), 6) AS cos
             |      FROM probe p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.q_id
             |      JOIN e qe ON qe.vec_id = p.q_id
             |      JOIN e ne ON ne.vec_id = a.vec_id)
             |SELECT q_id, rank, n_id, cos FROM (
             |  SELECT q_id, n_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
             |  FROM s) WHERE rank <= 3
             |ORDER BY q_id, rank""".stripMargin)),

    // per-vector symmetric int8 quantization (the 4x storage/IO shrink a
    // 100 TB embedding store runs before ANN): scale = max|x|/127,
    // q_i = round(x_i/scale) — entirely row-local, one pass, no shuffle.
    // Output is the audit: the quantized vector, its scale, and the max
    // reconstruction error. All math is double with explicit rounding at
    // 6dp; the zero-vector guard is mirrored (Spark doubles divide to
    // NaN/Inf where DuckDB yields NULL, so neither side may divide).
    "emb_quantize_int8" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
          .select($"vec_id", toDouble($"embedding").as("v"))
          .withColumn("scale",
            array_max(transform($"v", x => abs(x))) / lit(127.0))
        e.withColumn("q", when($"scale" > 0.0,
            transform($"v", x => round(x / $"scale").cast("int"))))
          .withColumn("max_err", when($"scale" > 0.0, round(
            array_max(zip_with($"v", $"q",
              (x, qi) => abs(x - qi.cast("double") * $"scale"))), 6)))
          // the quantized vector is emitted as a canonical CSV string, not
          // a raw array<int>: the driver's pandas hasher can't sort arrays
          // (same serialization r9_phone_sweep uses for its match list)
          .select($"vec_id", round($"scale", 6).as("scale_r"),
            array_join(transform($"q", _.cast("string")), ",").as("q_str"),
            $"max_err")
          .orderBy($"vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |  list_max(list_transform(v, x -> abs(x))) / CAST(127.0 AS DOUBLE) AS scale FROM e)
             |SELECT vec_id, round(scale, 6) AS scale_r,
             |  CASE WHEN scale > 0 THEN array_to_string(
             |    list_transform(v, x -> CAST(CAST(round(x / scale) AS INTEGER) AS VARCHAR)), ',') END AS q_str,
             |  CASE WHEN scale > 0 THEN round(list_max(list_transform(v, x ->
             |    abs(x - CAST(CAST(round(x / scale) AS INTEGER) AS DOUBLE) * scale))), 6) END AS max_err
             |FROM s ORDER BY vec_id""".stripMargin)),

    // Distributed vector mean-pooling: per-label class centroids (the
    // build step of centroid classifiers / cluster summaries / IVF-style
    // codebooks) computed WITHOUT collecting vectors — posexplode to
    // (label, component) rows, one map-side-combinable sum/count agg
    // keyed on (label, pos). This is the topology that scales where the
    // IVF entry's 8-centroid driver collect cannot: millions of vectors
    // per class stream through a plain aggregate, and the component key
    // spreads any hot label across 64 reducers. Components are summed in
    // integer MICRO-units (round(v*1e6) per component — float sums are
    // order-dependent, integer sums are exact under any partitioning);
    // the mean divides the two exact integers (both engines round
    // half-away-from-zero). The exploded (label, pos) form IS the output:
    // reassembling arrays buys nothing downstream and costs a sort.
    "emb_mean_pool" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "embeddings")
          .select($"label".cast("long").as("label"),
            posexplode($"embedding").as(Seq("pos", "v")))
          .groupBy($"label", $"pos")
          .agg(sum(round($"v".cast("double") * 1e6).cast("long")).as("sum_micro"),
            count(lit(1)).as("n"))
          .select($"label", $"pos".cast("long").as("pos"), $"sum_micro", $"n",
            round($"sum_micro".cast("double") / $"n").cast("long").as("mean_micro"))
          .orderBy($"label", $"pos")
      },
      Some("""WITH c AS (
             |  SELECT CAST(label AS BIGINT) AS label, g.i - 1 AS pos,
             |    CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1e6) AS BIGINT) AS vm
             |  FROM embeddings, generate_series(1, 64) AS g(i))
             |SELECT label, CAST(pos AS BIGINT) AS pos,
             |  CAST(sum(vm) AS BIGINT) AS sum_micro, count(*) AS n,
             |  CAST(round(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT) AS mean_micro
             |FROM c GROUP BY label, pos
             |ORDER BY label, pos""".stripMargin)),

    // batched multimodal decode (stubbed decoder, real plumbing):
    // binary payload -> mapPartitions grouped batches -> feature vectors.
    // The stub is deterministic double math over the UTF-8 bytes, so the
    // oracle reproduces it (per-feature strided byte sums, same order).
    "mm_decode_batched" -> Entry(
      (s, d) => {
        import s.implicits._
        // payload restricted to printable ASCII on BOTH sides so byte
        // positions == character positions: the stub decodes UTF-8 BYTES
        // while the oracle can only index CHARACTERS — without this a
        // single multi-byte character would desynchronize the strides
        val docs = rd(s, d, "documents")
          .withColumn("text", regexp_replace($"text", "[^ -~]", ""))
        val media = Multimodal.mediaFromDocuments(s, docs)
        Multimodal.decodeFeatures(s, media, batchSize = 64)
          .select($"doc_id", $"media_type", $"n_bytes",
            round(element_at($"features", 1), 6).as("f0"),
            round(element_at($"features", 2), 6).as("f1"))
          // narrow-output checkpoint + narrow sort (see ta_langid)
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some {
        def feat(k: Int) =
          s"round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(generate_series(${k + 1}, length(t), 8), " +
            s"i -> CAST(ascii(substr(t, i, 1)) AS DOUBLE) / CAST(255.0 AS DOUBLE))), " +
            s"(a, x) -> a + x) / greatest(1, length(t) // 8), 6)"
        s"""WITH src AS (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t FROM documents)
           |SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
           |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
           |       ELSE 'video/mp4' END AS media_type,
           |  length(t) AS n_bytes,
           |  ${feat(0)} AS f0,
           |  ${feat(1)} AS f1
           |FROM src ORDER BY doc_id""".stripMargin
      }),

    // REAL byte parsing behind the multimodal stage: payloads are actual
    // PNG signature+IHDR bytes (Multimodal.pngBytes — spec-valid, with
    // two deterministic corruption families), and the engine answer
    // comes from PngHeaderDecoder PARSING those bytes back: signature
    // compare, big-endian field reads, CRC-32 verification. The oracle
    // recomputes what the writer encoded arithmetically — a parser bug
    // (endianness, offset, CRC coverage) breaks the hash match.
    "mm_png_header" -> Entry(
      (s, d) => {
        import s.implicits._
        val ids = rd(s, d, "documents").select($"doc_id").orderBy($"doc_id")
        val media = Multimodal.mediaFrom(s, ids, "image/png", Multimodal.pngBytes)
        val dec = Multimodal.decodeFeatures(s, media, batchSize = 64,
          decoder = Multimodal.PngHeaderDecoder).toDF()
        val sig = element_at($"features", 1) === 1.0
        dec.select($"doc_id", sig.as("valid_sig"),
            when(sig, element_at($"features", 2).cast("int")).as("width"),
            when(sig, element_at($"features", 3).cast("int")).as("height"),
            when(sig, element_at($"features", 4).cast("int")).as("bit_depth"),
            when(sig, element_at($"features", 5).cast("int")).as("color_type"),
            when(sig, element_at($"features", 6) === 1.0).as("crc_ok"))
      },
      Some("""SELECT doc_id,
             |  doc_id % 11 <> 0 AS valid_sig,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 640 AS INTEGER) END AS width,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 480 AS INTEGER) END AS height,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(8 AS INTEGER) END AS bit_depth,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST([0, 2, 3, 4, 6][CAST(doc_id % 5 AS INTEGER) + 1] AS INTEGER) END AS color_type,
             |  CASE WHEN doc_id % 11 <> 0 THEN doc_id % 13 <> 0 END AS crc_ok
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL byte parsing arm #2 — PDF (the reference's other media type,
    // PyPDF2 open + page count): payloads are actual classic-PDF bytes
    // (Multimodal.pdfBytes — real xref offsets, two corruption families)
    // and the engine answer comes from PdfHeaderDecoder PARSING them:
    // header version, trailer /Size, page-tree /Count, and the
    // startxref-points-at-xref structural check. Oracle recomputes what
    // the writer encoded arithmetically.
    "mm_pdf_header" -> Entry(
      (s, d) => {
        import s.implicits._
        val ids = rd(s, d, "documents").select($"doc_id").orderBy($"doc_id")
        val media = Multimodal.mediaFrom(s, ids, "application/pdf", Multimodal.pdfBytes)
        val dec = Multimodal.decodeFeatures(s, media, batchSize = 64,
          decoder = Multimodal.PdfHeaderDecoder).toDF()
        val hdr = element_at($"features", 1) === 1.0
        dec.select($"doc_id", hdr.as("valid_header"),
            when(hdr, element_at($"features", 2).cast("int")).as("pdf_minor"),
            when(hdr, element_at($"features", 3).cast("int")).as("n_objects"),
            when(hdr, element_at($"features", 4).cast("int")).as("n_pages"),
            when(hdr, element_at($"features", 5) === 1.0).as("xref_ok"))
      },
      Some("""SELECT doc_id,
             |  doc_id % 11 <> 0 AS valid_header,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(doc_id % 8 AS INTEGER) END AS pdf_minor,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(4 + doc_id % 5 AS INTEGER) END AS n_objects,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 5 AS INTEGER) END AS n_pages,
             |  CASE WHEN doc_id % 11 <> 0 THEN doc_id % 13 <> 0 END AS xref_ok
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL byte parsing arm #3 — WAV/RIFF audio: payloads are actual
    // 44-byte PCM headers (Multimodal.wavBytes — little-endian fields,
    // two corruption families) and the engine answer comes from
    // WavHeaderDecoder PARSING them: RIFF/WAVE/fmt/data magics, LE
    // u16/u32 field reads (PNG's arm pins big-endian; this pins little),
    // and the byte_rate = sample_rate × block_align redundancy check.
    // Oracle recomputes what the writer encoded arithmetically.
    "mm_wav_header" -> Entry(
      (s, d) => {
        import s.implicits._
        val ids = rd(s, d, "documents").select($"doc_id").orderBy($"doc_id")
        val media = Multimodal.mediaFrom(s, ids, "audio/wav", Multimodal.wavBytes)
        val dec = Multimodal.decodeFeatures(s, media, batchSize = 64,
          decoder = Multimodal.WavHeaderDecoder).toDF()
        val ok = element_at($"features", 1) === 1.0
        dec.select($"doc_id", ok.as("valid_riff"),
            when(ok, element_at($"features", 2).cast("int")).as("channels"),
            when(ok, element_at($"features", 3).cast("int")).as("sample_rate"),
            when(ok, element_at($"features", 4).cast("int")).as("bits_per_sample"),
            when(ok, element_at($"features", 5).cast("int")).as("n_samples"),
            when(ok, element_at($"features", 6) === 1.0).as("rate_ok"))
      },
      Some("""SELECT doc_id,
             |  doc_id % 11 <> 0 AS valid_riff,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST([8000, 16000, 22050, 44100, 48000][CAST(doc_id % 5 AS INTEGER) + 1] AS INTEGER) END AS sample_rate,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST([8, 16, 24, 32][CAST(doc_id % 4 AS INTEGER) + 1] AS INTEGER) END AS bits_per_sample,
             |  CASE WHEN doc_id % 11 <> 0 THEN CAST(doc_id % 1000 AS INTEGER) END AS n_samples,
             |  CASE WHEN doc_id % 11 <> 0 THEN doc_id % 13 <> 0 END AS rate_ok
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL byte parsing arm #4 — JPEG/JFIF (reference analog: the Pillow
    // verify path accepts .jpg next to .png —
    // SearchingS3Buckets/S3LookThrough_Final.py:49-57). The payloads are
    // real marker-segment streams (Multimodal.jpegBytes: JFIF APP0, a
    // variable-size DQT so SOF never sits at a fixed offset, SOF0/SOF2)
    // and the answer comes from JpegHeaderDecoder WALKING the segment
    // chain — the walk itself is the integrity check (a corrupted APP0
    // length desynchronizes it, the JPEG analog of PDF's startxref
    // dereference). Same 100 TB shape as the other arms: batched
    // mapPartitions, row-local, no shuffle but the presentation sort.
    "mm_jpeg_header" -> Entry(
      (s, d) => {
        import s.implicits._
        val ids = rd(s, d, "documents").select($"doc_id").orderBy($"doc_id")
        val media = Multimodal.mediaFrom(s, ids, "image/jpeg", Multimodal.jpegBytes)
        val dec = Multimodal.decodeFeatures(s, media, batchSize = 64,
          decoder = Multimodal.JpegHeaderDecoder).toDF()
        val soi = element_at($"features", 1) === 1.0
        val walk = element_at($"features", 6) === 1.0
        dec.select($"doc_id", soi.as("valid_soi"),
            (soi && walk).as("sof_found"),
            when(soi && walk, element_at($"features", 2).cast("int")).as("height"),
            when(soi && walk, element_at($"features", 3).cast("int")).as("width"),
            when(soi && walk, element_at($"features", 4).cast("int")).as("n_components"),
            when(soi && walk, element_at($"features", 5) === 1.0).as("progressive"))
      },
      Some("""SELECT doc_id,
             |  doc_id % 11 <> 0 AS valid_soi,
             |  doc_id % 11 <> 0 AND doc_id % 13 <> 0 AS sof_found,
             |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0 THEN CAST(1 + doc_id % 1080 AS INTEGER) END AS height,
             |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0 THEN CAST(1 + doc_id % 1920 AS INTEGER) END AS width,
             |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0 THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) END AS n_components,
             |  CASE WHEN doc_id % 11 <> 0 AND doc_id % 13 <> 0 THEN doc_id % 3 = 0 END AS progressive
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---------------- Text analysis ----------------

    "ta_langid" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id", langId($"text").as("lang_guess"))
      },
      Some {
        val lex = LangLexicons.map { case (lang, ws) =>
          lang -> ws.map(w => s"'$w'").mkString(", ")
        }
        // distinct-hit scoring mirrors Spark's array_intersect (dedups);
        // list_filter over list_distinct pins the dedup on the DuckDB side
        // regardless of list_intersect's own duplicate semantics
        val scores = lex.map { case (lang, in) =>
          s"len(list_filter(list_distinct(toks), t -> t IN ($in))) AS s_$lang"
        }.mkString(",\n  ")
        val best = lex.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val ladder = lex.map { case (l, _) =>
          s"WHEN s_$l = $best AND $best > 0 THEN '$l'"
        }.mkString("\n  ")
        s"""WITH t AS (SELECT doc_id,
           |  string_split_regex(lower(text), '[^a-z]+') AS toks
           |  FROM documents)
           |SELECT doc_id, CASE $ladder ELSE 'und' END AS lang_guess
           |FROM (SELECT doc_id, $scores FROM t) ORDER BY doc_id""".stripMargin
      }),

    "ta_quality" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id", qualityScore($"text").as("quality"))
      },
      Some(s"""WITH t AS (${sqlQualityFrom("documents")})
              |SELECT doc_id, $sqlQualityExpr AS quality
              |FROM t ORDER BY doc_id""".stripMargin)),

    "ta_tokencount" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id", wsTokenCount($"text").as("ws_tokens"),
            bpeishTokenCount($"text").as("bpeish_tokens"))
      },
      Some("""SELECT doc_id,
             |  len(list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)) AS ws_tokens,
             |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpeish_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // per-document TF-IDF keyword extraction, top-3 terms per doc — the
    // classic corpus-statistics operator. TF is ROW-LOCAL
    // (wordGramCounts(text, 1): one codegen'd pass, no (term, doc)
    // shuffle); DF is one term-keyed aggregation with map-side partials
    // over the distinct-terms-per-doc stream; N arrives as a broadcast
    // one-row aggregate (no collect). Scores are rounded at 6dp BEFORE
    // the per-doc top-k window orders on them (ties to the
    // lexicographically smallest term), so the float never decides an
    // ordering both engines could disagree on beyond the rounding.
    "ta_tfidf_topk" -> Entry(
      (s, d) => {
        import s.implicits._
        // tokenized once (checkpoint): tf feeds the DF aggregate AND the
        // scoring join — without it the wordGramCounts scan+explode ran
        // twice (plus once more for the terminal sort's range sampling)
        val tf = rd(s, d, "documents")
          .select($"doc_id", explode(wordGramCounts($"text", 1)).as("p"))
          .select($"doc_id", $"p.g".as("term"), $"p.c".as("tf"))
          .localCheckpoint()
        val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val n = rd(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
        tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("score", round($"tf" * log($"n_docs" / $"df"), 6))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score")
          .orderBy($"doc_id", $"rank")
      },
      Some("""WITH w AS (SELECT doc_id,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS ws
             |  FROM documents),
             |tfp AS (SELECT doc_id, unnest(ws) AS term FROM w),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tfp GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |    round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS score
             |  FROM tf JOIN df USING (term), n),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, term ASC) AS rank FROM sc)
             |SELECT doc_id, rank, term, tf, df, score FROM rk
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Okapi BM25 (k1=1.2, b=0.75) ranking of the corpus against a fixed
    // query-term set — the lexical retrieval scorer every RAG /
    // data-curation stack runs next to its embedding ANN. Topology is
    // the 100 TB-safe one: per-doc TF for each query term is ROW-LOCAL
    // (one codegen'd wordGramCounts pass -> map lookup; the corpus is
    // never exploded term-wide), corpus stats (N, avgdl, per-term DF)
    // are ONE one-row aggregate broadcast back onto the scan, scoring
    // is row-local arithmetic against the broadcast stats, and only the
    // global top-20 pays an ordering (TakeOrdered, not a full sort).
    // The 6dp-rounded score carries a doc_id tiebreak so the float
    // never decides an ordering alone; the SQL mirrors the Spark
    // expression tree operation-for-operation so both engines run the
    // identical IEEE double chain.
    "ta_bm25_rank" -> Entry(
      (s, d) => {
        import s.implicits._
        val qterms = Seq("spark", "hash", "window")
        val K1 = 1.2
        val B = 0.75
        val base = rd(s, d, "documents")
          .select($"doc_id",
            wsTokenCount($"text").cast("double").as("dl"),
            map_from_entries(wordGramCounts($"text", 1)).as("tfm"))
          .select($"doc_id" +: $"dl" +: qterms.map(t =>
            coalesce(element_at($"tfm", lit(t)), lit(0L))
              .cast("double").as(s"tf_$t")): _*)
        val stats = base.agg(
          count(lit(1)).cast("double").as("n_docs"),
          avg($"dl").as("avgdl") +: qterms.map(t =>
            count(when(col(s"tf_$t") > 0, lit(1)))
              .cast("double").as(s"df_$t")): _*)
        val score = qterms.map { t =>
          val tf = col(s"tf_$t"); val df = col(s"df_$t")
          log(lit(1.0) + ($"n_docs" - df + 0.5) / (df + 0.5)) *
            (tf * (K1 + 1.0)) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * $"dl" / $"avgdl"))
        }.reduce(_ + _)
        base.crossJoin(broadcast(stats))
          .withColumn("score", round(score, 6))
          .filter($"score" > 0)
          .orderBy($"score".desc, $"doc_id".asc)
          .limit(20)
          .select($"doc_id" +: qterms.map(t =>
            col(s"tf_$t").cast("long").as(s"tf_$t")) :+ $"score": _*)
      },
      Some("""WITH base AS (SELECT doc_id,
             |    CAST(len(ws) AS DOUBLE) AS dl,
             |    CAST(len(list_filter(ws, w -> w = 'spark')) AS DOUBLE) AS tf_spark,
             |    CAST(len(list_filter(ws, w -> w = 'hash')) AS DOUBLE) AS tf_hash,
             |    CAST(len(list_filter(ws, w -> w = 'window')) AS DOUBLE) AS tf_window
             |  FROM (SELECT doc_id,
             |      list_filter(string_split_regex(lower(text), '\s+'), w -> length(w) > 0) AS ws
             |    FROM documents)),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
             |    CAST(count(CASE WHEN tf_spark > 0 THEN 1 END) AS DOUBLE) AS df_spark,
             |    CAST(count(CASE WHEN tf_hash > 0 THEN 1 END) AS DOUBLE) AS df_hash,
             |    CAST(count(CASE WHEN tf_window > 0 THEN 1 END) AS DOUBLE) AS df_window
             |  FROM base),
             |sc AS (SELECT doc_id, tf_spark, tf_hash, tf_window,
             |    round(
             |      ln(1.0 + (n_docs - df_spark + 0.5) / (df_spark + 0.5))
             |        * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |      + ln(1.0 + (n_docs - df_hash + 0.5) / (df_hash + 0.5))
             |        * (tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |      + ln(1.0 + (n_docs - df_window + 0.5) / (df_window + 0.5))
             |        * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl)),
             |      6) AS score
             |  FROM base CROSS JOIN st)
             |SELECT doc_id, CAST(tf_spark AS BIGINT) AS tf_spark,
             |  CAST(tf_hash AS BIGINT) AS tf_hash,
             |  CAST(tf_window AS BIGINT) AS tf_window, score
             |FROM sc WHERE score > 0
             |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-Res),
    // deterministic: u = (polyHash(text)+1)/(M+1) in (0,1) stands in for
    // the uniform draw (seedless, content-keyed — re-runs pick the same
    // docs on any cluster), weight = n_chars, key = ln(u)/w; the top-12
    // keys (closest to 0) are the sample — longer docs proportionally
    // likelier, exactly A-Res semantics. Key computation is ROW-LOCAL;
    // the only ordering is the global top-12 (TakeOrdered: per-partition
    // top-k then a 12-row merge — the distributed weighted reservoir).
    // Keys are 9dp-rounded with a doc_id tiebreak before ranking.
    "ta_weighted_sample" -> Entry(
      (s, d) => {
        import s.implicits._
        val u = (polyHash($"text", 64) + lit(1L)).cast("double") /
          lit((M + 1L).toDouble)
        rd(s, d, "documents")
          .select($"doc_id", $"n_chars".cast("long").as("w"),
            round(log(u) / $"n_chars".cast("double"), 9).as("key"))
          .orderBy($"key".desc, $"doc_id".asc)
          .limit(12)
      },
      Some(s"""WITH h AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(generate_series(1, least(length(text), 64)),
              |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
              |      (a, x) -> (a * 31 + x) % $M) AS hv
              |  FROM documents)
              |SELECT doc_id, w,
              |  round(ln(CAST(hv + 1 AS DOUBLE) / ${M + 1L}.0)
              |        / CAST(w AS DOUBLE), 9) AS key
              |FROM h ORDER BY key DESC, doc_id ASC LIMIT 12""".stripMargin)),

    // Inverted-index construction with BLOCK-SHARDED posting lists — the
    // retrieval-side artifact a lexical search stack materializes from
    // the corpus. Postings for a term are O(df) (that is what an index
    // is), so the scale-safe layout shards them by doc_id range: group
    // key = (term, doc_id div 256) — every group is bounded by the block
    // width regardless of term popularity (a stop-word's postings span
    // many blocks, never one giant group; no collect_list over an
    // unbounded df). Per-doc term counts are ROW-LOCAL (codegen'd
    // wordGramCounts), so the one term-block-keyed exchange carries
    // (term, doc_id, tf) triples with map-side combining already done.
    "ta_inverted_index" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select($"doc_id", explode(wordGramCounts($"text", 1)).as("p"))
          .select($"doc_id", $"p.g".as("term"), $"p.c".as("tf"))
          .groupBy($"term", expr("doc_id div 256").as("block"))
          .agg(count(lit(1)).as("df_block"),
            sum($"tf").as("tf_block"),
            array_join(transform(sort_array(collect_list($"doc_id")),
              _.cast("string")), ",").as("postings"))
          .orderBy($"term", $"block")
      },
      Some("""WITH w AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS ws
             |  FROM documents),
             |tfp AS (SELECT doc_id, unnest(ws) AS term FROM w),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tfp GROUP BY doc_id, term)
             |SELECT term, doc_id // 256 AS block, count(*) AS df_block,
             |  CAST(sum(tf) AS BIGINT) AS tf_block,
             |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
             |FROM tf GROUP BY term, block ORDER BY term, block""".stripMargin)),

    // vocabulary building: global token frequencies, top-50 (the
    // explode -> partial-agg -> final-agg shuffle every tokenizer-vocab
    // job runs; count is map-side combined before the one shuffle)
    "ta_vocab_topk" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select(explode(tokens($"text")).as("token"))
          .groupBy($"token")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"n_docs".desc, $"token")
          .limit(50)
      },
      Some(s"""SELECT token, count(*) AS n_docs
              |FROM (SELECT unnest($sqlToks) AS token FROM documents)
              |GROUP BY token ORDER BY n_docs DESC, token LIMIT 50""".stripMargin)),

    // document-length histogram: fixed power-of-two buckets (the corpus
    // profile a data-quality dashboard reads)
    "ta_length_histogram" -> Entry(
      (s, d) => {
        import s.implicits._
        val bucket = when($"n_chars" < 64, "0-63")
          .when($"n_chars" < 128, "64-127")
          .when($"n_chars" < 256, "128-255")
          .when($"n_chars" < 512, "256-511")
          .otherwise("512+")
        rd(s, d, "documents")
          .groupBy(bucket.as("len_bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars".cast("long")).as("sum_chars"))
          .orderBy($"len_bucket")
      },
      Some("""SELECT CASE
             |    WHEN n_chars < 64 THEN '0-63'
             |    WHEN n_chars < 128 THEN '64-127'
             |    WHEN n_chars < 256 THEN '128-255'
             |    WHEN n_chars < 512 THEN '256-511'
             |    ELSE '512+' END AS len_bucket,
             |  count(*) AS n_docs,
             |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY 1 ORDER BY len_bucket""".stripMargin)),

    // deterministic stratified subsampling: keep ~4/16 of each source
    // stratum by a CONTENT hash nibble — the reproducible corpus
    // downsampling a 100 TB pipeline runs (no RNG, no driver state, no
    // seed coordination across executors; re-running selects the same
    // rows, and the per-stratum rate is uniform by hash mixing). Output
    // is the per-source balance audit: total vs sampled vs rate.
    "ta_hash_sample" -> Entry(
      (s, d) => {
        import s.implicits._
        val keep = substring(md5($"text"), 1, 1).isin("0", "1", "2", "3")
        rd(s, d, "documents")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_total"),
            count(when(keep, lit(1))).as("n_sampled"))
          .withColumn("rate", round($"n_sampled" / $"n_total", 4))
          .orderBy($"source")
      },
      Some("""SELECT source, count(*) AS n_total,
             |  count(CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3')
             |             THEN 1 END) AS n_sampled,
             |  round(CAST(count(CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3')
             |                        THEN 1 END) AS DOUBLE) / count(*), 4) AS rate
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // STRATIFIED deterministic sampling: each source stratum gets its
    // own rate (32/256 .. 208/256, derived arithmetically from the
    // source id so the rates genuinely differ), selection is by
    // content-hash threshold — the first two md5 hex digits compared
    // LEXICOGRAPHICALLY against the stratum's threshold rendered as a
    // 2-digit hex string (fixed-width lowercase hex orders like the
    // number, and both engines emit lowercase md5 — no hex-to-int
    // conversion to drift). Row-local keep decision, one audit agg per
    // stratum; same 100 TB properties as ta_hash_sample (no RNG, no
    // seed coordination, re-runs select identical rows) plus per-stratum
    // rate control — the corpus-mix knob.
    "ta_stratified_sample" -> Entry(
      (s, d) => {
        import s.implicits._
        val srcNum = substring($"source", 4, 4).cast("int")
        val thresh = lit(32) + pmod(srcNum, lit(12)) * 16
        val thHex = lower(lpad(conv(thresh.cast("string"), 10, 16), 2, "0"))
        val keep = substring(md5($"text"), 1, 2) < thHex
        rd(s, d, "documents")
          .groupBy($"source")
          .agg(max(thresh).cast("long").as("thresh_of_256"),
            count(lit(1)).as("n_total"),
            count(when(keep, lit(1))).as("n_sampled"))
          .orderBy($"source")
      },
      Some("""WITH t AS (SELECT source, text,
             |    32 + (CAST(substr(source, 4) AS INT) % 12) * 16 AS thresh
             |  FROM documents)
             |SELECT source, CAST(max(thresh) AS BIGINT) AS thresh_of_256,
             |  count(*) AS n_total,
             |  count(CASE WHEN substr(md5(text), 1, 2) < printf('%02x', thresh)
             |             THEN 1 END) AS n_sampled
             |FROM t GROUP BY source ORDER BY source""".stripMargin)),

    // Target-mix rebalancing: downsample over-represented domains to a
    // uniform per-domain character budget (the SlimPajama/DoReMi mix step
    // that runs AFTER quality filtering and BEFORE packing: web gets cut
    // to its target share, scarce domains — code, books — survive whole).
    // Domain strata are derived from source with the real corpus shape
    // (17 web sources vs 2 code vs 1 books, so the rates genuinely
    // differ: scarce domains accept everything, web is hash-thresholded).
    // ALL-INTEGER math end to end: budget = 40% of corpus chars (integer
    // div), per-domain target = budget div n_domains, acceptance
    // threshold = target*M div avail capped at M, acceptance = portable
    // polyHash(text) < threshold — deterministic, seedless, identical
    // picks on any cluster or engine. Topology: one bounded per-domain
    // agg, the 3-row rate table broadcast back onto the scan, one final
    // bounded agg — the corpus is never joined wide, never windowed.
    "ta_mix_rebalance" -> Entry(
      (s, d) => {
        import s.implicits._
        val dom = when($"source".isin("src0", "src1"), "code")
          .when($"source" === "src2", "books").otherwise("web")
        val docs = rd(s, d, "documents")
          .select(dom.as("dom"), $"n_chars".cast("long").as("nc"),
            polyHash($"text", 64).as("h"))
        val byDom = docs.groupBy($"dom")
          .agg(count(lit(1)).as("avail_docs"), sum($"nc").as("avail_chars"))
        val tot = byDom.agg(sum($"avail_chars").as("total_chars"),
          count(lit(1)).as("n_domains"))
        val rated = byDom.crossJoin(broadcast(tot))
          .withColumn("target_chars",
            expr("total_chars * 2 div 5 div n_domains"))
          .withColumn("accept_th", least(lit(M),
            expr(s"target_chars * CAST($M AS BIGINT) div avail_chars")))
          .select($"dom", $"avail_docs", $"avail_chars", $"target_chars",
            $"accept_th")
        docs.join(broadcast(rated), "dom")
          .withColumn("picked", $"h" < $"accept_th")
          .groupBy($"dom")
          .agg(max($"avail_docs").as("avail_docs"),
            max($"avail_chars").as("avail_chars"),
            max($"target_chars").as("target_chars"),
            max($"accept_th").as("accept_th"),
            count(when($"picked", 1)).as("picked_docs"),
            sum(when($"picked", $"nc").otherwise(0L)).as("picked_chars"))
          .orderBy($"dom")
      },
      Some(s"""WITH dh AS (SELECT CASE WHEN source IN ('src0','src1') THEN 'code'
              |                        WHEN source = 'src2' THEN 'books'
              |                        ELSE 'web' END AS dom,
              |              CAST(n_chars AS BIGINT) AS nc,
              |              list_reduce(list_prepend(CAST(0 AS BIGINT),
              |                list_transform(generate_series(1, least(length(text), 64)),
              |                  i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
              |                (a, x) -> (a * 31 + x) % $M) AS h
              |            FROM documents),
              |bs AS (SELECT dom, count(*) AS avail_docs,
              |         CAST(sum(nc) AS BIGINT) AS avail_chars
              |       FROM dh GROUP BY dom),
              |tt AS (SELECT CAST(sum(avail_chars) AS BIGINT) AS total_chars,
              |         count(*) AS n_domains FROM bs),
              |rt AS (SELECT dom, avail_docs, avail_chars,
              |         total_chars * 2 // 5 // n_domains AS target_chars,
              |         least($M, (total_chars * 2 // 5 // n_domains) * $M
              |               // avail_chars) AS accept_th
              |       FROM bs, tt)
              |SELECT dh.dom, max(avail_docs) AS avail_docs,
              |  max(avail_chars) AS avail_chars,
              |  max(target_chars) AS target_chars,
              |  max(accept_th) AS accept_th,
              |  count(CASE WHEN h < accept_th THEN 1 END) AS picked_docs,
              |  CAST(sum(CASE WHEN h < accept_th THEN nc ELSE 0 END) AS BIGINT)
              |    AS picked_chars
              |FROM dh JOIN rt ON dh.dom = rt.dom
              |GROUP BY dh.dom ORDER BY dh.dom""".stripMargin)),

    // deterministic train/val/test split by CONTENT hash — the standard
    // leak-proof corpus partitioning (same document always lands in the
    // same split, on any cluster, with no RNG/seed coordination; contrast
    // randomSplit, whose assignment depends on partitioning). First two
    // md5 hex chars give 256 uniform buckets: 230/13/13 ~ 90/5/5. Output
    // is the per-(split, source) balance audit. Row-local assignment +
    // one map-side-combined agg — no shuffle of document payloads.
    "ta_split_train_val" -> Entry(
      (s, d) => {
        import s.implicits._
        val b = substring(md5($"text"), 1, 2)
        val sp = when(b <= "e5", "train").when(b <= "f2", "val")
          .otherwise("test")
        rd(s, d, "documents")
          .groupBy(sp.as("split"), $"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars".cast("long")).as("sum_chars"))
          .orderBy($"split", $"source")
      },
      Some("""SELECT CASE WHEN substr(md5(text),1,2) <= 'e5' THEN 'train'
             |            WHEN substr(md5(text),1,2) <= 'f2' THEN 'val'
             |            ELSE 'test' END AS split,
             |  source, count(*) AS n_docs,
             |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY 1, 2 ORDER BY split, source""".stripMargin)),

    // URL canonicalization — the key derivation for URL-level dedup
    // (every web-crawl pipeline dedups on canonical URL before any
    // content pass): lowercase scheme+host, strip default ports and a
    // leading www., drop the fragment and tracking params (utm_*/fbclid/
    // gclid), strip the path's trailing slashes; path case and remaining
    // query params are preserved. Entirely native column functions
    // (regexp_extract/replace + a filtered split) — codegen'd, row-local,
    // shuffle-free. The payload rotates four URL shapes that each
    // exercise different rules; the oracle is closed-form by construction.
    "ta_url_normalize" -> Entry(
      (s, d) => {
        import s.implicits._
        val m4 = pmod($"doc_id", lit(4))
        val url = when(m4 === 0, concat(
            lit("HTTPS://WWW.Example"), pmod($"doc_id", lit(7)).cast("string"),
            lit(".COM:443/Products/Item/"), $"doc_id".cast("string"),
            lit("/?utm_source=feed&ref=home#frag")))
          .when(m4 === 1, concat(
            lit("http://News.Site"), pmod($"doc_id", lit(5)).cast("string"),
            lit(".org:80/articles/"), tok($"text", 1),
            lit("?id="), $"doc_id".cast("string"),
            lit("&utm_campaign=x&fbclid=abc")))
          .when(m4 === 2, concat(
            lit("https://blog.example.net/posts/"), $"doc_id".cast("string"), lit("/")))
          .otherwise(concat(
            lit("HTTP://API.Service.IO/v1/Query?q="), tok($"text", 1),
            lit("&gclid=zzz&page=2")))
        val df = rd(s, d, "documents")
          .select($"doc_id", url.as("u")).orderBy($"doc_id")
        df.select($"doc_id", urlCanon($"u").as("canon_url"),
            urlHost($"u").as("host"))
      },
      Some(s"""SELECT doc_id, CASE doc_id % 4
              |  WHEN 0 THEN 'https://example'||CAST(doc_id % 7 AS VARCHAR)||'.com/Products/Item/'||CAST(doc_id AS VARCHAR)||'?ref=home'
              |  WHEN 1 THEN 'http://news.site'||CAST(doc_id % 5 AS VARCHAR)||'.org/articles/'||$sqlTok1||'?id='||CAST(doc_id AS VARCHAR)
              |  WHEN 2 THEN 'https://blog.example.net/posts/'||CAST(doc_id AS VARCHAR)
              |  ELSE 'http://api.service.io/v1/Query?q='||$sqlTok1||'&page=2' END AS canon_url,
              |CASE doc_id % 4
              |  WHEN 0 THEN 'example'||CAST(doc_id % 7 AS VARCHAR)||'.com'
              |  WHEN 1 THEN 'news.site'||CAST(doc_id % 5 AS VARCHAR)||'.org'
              |  WHEN 2 THEN 'blog.example.net'
              |  ELSE 'api.service.io' END AS host
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // URL-keyed crawl dedup: canonicalize (scheme/host lowercase, default
    // ports and tracking params stripped — the ta_url_normalize
    // transform), keep the EARLIEST doc per canonical URL (crawl-order
    // min doc_id), report survivors with their duplicate count — the
    // first dedup stage of every web-corpus pipeline (run BEFORE content
    // hashing: it needs no text comparison at all). Topology: row-local
    // canonicalization then ONE hash agg keyed on canon_url — at 100 TB
    // a single map-side-combined shuffle on the URL key, no window, no
    // join. The query-string variants (same q= token, different
    // tracking params) form the non-degenerate duplicate families.
    "dd_url_dedup" -> Entry(
      (s, d) => {
        import s.implicits._
        val m4 = pmod($"doc_id", lit(4))
        val url = when(m4 === 0, concat(
            lit("HTTPS://WWW.Example"), pmod($"doc_id", lit(7)).cast("string"),
            lit(".COM:443/Products/Item/"), $"doc_id".cast("string"),
            lit("/?utm_source=feed&ref=home#frag")))
          .when(m4 === 1, concat(
            lit("http://News.Site"), pmod($"doc_id", lit(5)).cast("string"),
            lit(".org:80/articles/"), tok($"text", 1),
            lit("?id="), $"doc_id".cast("string"),
            lit("&utm_campaign=x&fbclid=abc")))
          .when(m4 === 2, concat(
            lit("https://blog.example.net/posts/"), $"doc_id".cast("string"), lit("/")))
          .otherwise(concat(
            lit("HTTP://API.Service.IO/v1/Query?q="), tok($"text", 1),
            lit("&gclid=zzz&page=2")))
        rd(s, d, "documents")
          .select($"doc_id", urlCanon(url).as("canon_url"))
          .groupBy($"canon_url")
          .agg(min($"doc_id").as("keep_doc_id"),
            count(lit(1)).as("n_dups"))
          .orderBy($"canon_url")
      },
      Some(s"""SELECT CASE doc_id % 4
              |  WHEN 0 THEN 'https://example'||CAST(doc_id % 7 AS VARCHAR)||'.com/Products/Item/'||CAST(doc_id AS VARCHAR)||'?ref=home'
              |  WHEN 1 THEN 'http://news.site'||CAST(doc_id % 5 AS VARCHAR)||'.org/articles/'||$sqlTok1||'?id='||CAST(doc_id AS VARCHAR)
              |  WHEN 2 THEN 'https://blog.example.net/posts/'||CAST(doc_id AS VARCHAR)
              |  ELSE 'http://api.service.io/v1/Query?q='||$sqlTok1||'&page=2' END AS canon_url,
              |  min(doc_id) AS keep_doc_id, count(*) AS n_dups
              |FROM documents GROUP BY 1 ORDER BY canon_url""".stripMargin)),

    // sequence packing (concat-and-split): assign every doc its token
    // OFFSET in the per-source concatenated stream and the 2048-token
    // bin it starts in — the standard LLM-pretraining packing layout.
    // The naive plan is one window per source (a single partition per
    // stream — the whole corpus of a source through one task at 100 TB),
    // so the cumsum is TWO-PHASE instead: a parallel within-bucket
    // running sum over (source, doc_id/1000) buckets, then the tiny
    // bucket-total summary (3 orders of magnitude fewer rows) goes
    // through the per-source prefix window, and a join adds the bucket
    // base back. Same total order, scalable parallelism.
    "ta_pack_sequences" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val t = rd(s, d, "documents")
          .select($"doc_id", $"source", wsTokenCount($"text").as("ws_tokens"),
            ($"doc_id" / 1000).cast("long").as("bkt"))
        val wB = Window.partitionBy($"source", $"bkt").orderBy($"doc_id")
        // tokenized + bucket-cumsum once: inBkt feeds the bucket-total
        // summary AND the base re-attach join
        val inBkt = t.withColumn("run_in_bkt",
          sum($"ws_tokens".cast("long")).over(wB))
          .localCheckpoint()
        val wT = Window.partitionBy($"source").orderBy($"bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val bktBase = inBkt.groupBy($"source", $"bkt")
          .agg(max($"run_in_bkt").as("bkt_total"))
          .withColumn("base", coalesce(sum($"bkt_total").over(wT), lit(0L)))
          .select($"source", $"bkt", $"base")
        inBkt.join(bktBase, Seq("source", "bkt"))
          .withColumn("offset", $"base" + $"run_in_bkt" - $"ws_tokens")
          .withColumn("bin", floor($"offset" / 2048))
          .select($"doc_id", $"source", $"ws_tokens", $"offset", $"bin")
          .orderBy($"source", $"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |  len(list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)) AS ws_tokens
             |  FROM documents),
             |o AS (SELECT doc_id, source, ws_tokens,
             |  CAST(COALESCE(SUM(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
             |  FROM t)
             |SELECT doc_id, source, ws_tokens, "offset",
             |  CAST(FLOOR("offset" / 2048) AS BIGINT) AS bin
             |FROM o ORDER BY source, doc_id""".stripMargin)),

    // sliding-window chunking with overlap — the standard embedding/RAG
    // prep step (fixed W-token chunks at stride S < W so no boundary
    // sentence is lost; ta_pack_sequences is the opposite op: packing
    // whole docs into budget bins). Scale shape: ROW-LOCAL throughout —
    // tokenize, compute the chunk count arithmetically, explode a
    // bounded index sequence, slice; output grows ~n_tok/S per doc
    // (linear in corpus tokens), no join, no agg, the only exchange is
    // the presentation sort. Chunk count: 1 chunk when n_tok <= W, else
    // 1 + ceil((n_tok - W)/S) — the last chunk may be short but always
    // contains at least one token past the previous chunk's cover, and
    // ceil on the exact small-integer ratio is cross-engine identical.
    "ta_chunk_overlap" -> Entry(
      (s, d) => {
        import s.implicits._
        val W = 64
        val S = 48
        val tk = filter(split($"text", "\\s+"), w => length(w) > 0)
        rd(s, d, "documents")
          .select($"doc_id", tk.as("tk"))
          .filter(size($"tk") > 0)
          .withColumn("n_tok", size($"tk").cast("long"))
          .withColumn("extra",
            when($"n_tok" <= W, lit(0L))
              .otherwise(ceil(($"n_tok" - W) / lit(S.toDouble)).cast("long")))
          .select($"doc_id", $"n_tok", $"tk",
            explode(sequence(lit(0L), $"extra")).as("chunk_idx"))
          .select($"doc_id", $"chunk_idx", $"n_tok",
            least(lit(W.toLong), $"n_tok" - $"chunk_idx" * S).as("chunk_tokens"),
            array_join(
              slice($"tk", ($"chunk_idx" * S + 1).cast("int"), lit(W)),
              " ").as("chunk_text"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH t AS (SELECT doc_id,
             |  list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0) AS tk
             |  FROM documents),
             |n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok
             |  FROM t WHERE len(tk) > 0),
             |c AS (SELECT doc_id, n_tok, tk,
             |  unnest(generate_series(0, CASE WHEN n_tok <= 64 THEN 0
             |    ELSE CAST(CEIL((n_tok - 64) / 48.0) AS BIGINT) END)) AS chunk_idx
             |  FROM n)
             |SELECT doc_id, chunk_idx, n_tok,
             |  LEAST(64, n_tok - chunk_idx * 48) AS chunk_tokens,
             |  array_to_string(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // corpus-trained character-bigram typicality score — the train-then-
    // score shape of LM-based quality filtering: pass 1 aggregates the
    // corpus's bigram occurrence counts (one shuffle over a ~1k-key
    // space with map-side combine) and keeps the top-200 (count desc,
    // bigram asc — deterministic at the cut) as the MODEL; pass 2 scores
    // every doc ROW-LOCALLY as the fraction of its bigram occurrences
    // that are in-model, via the native codegen'd bigram_hits expression
    // (one compiled scan over the string against a hashed model set — no
    // per-row bigram array, no interpreted filter HOF, no join, no
    // shuffle). All-integer counting, so the score is an exact rational
    // both engines round identically. The 200-string model is collected
    // and broadcast by value — a trained-artifact fetch, not a data
    // collect. Text is normalized to printable ASCII (cross-engine
    // lower()/substr parity) and capped at 400 chars.
    "ta_bigram_typicality" -> Entry(
      (s, d) => {
        import s.implicits._
        val txt = lower(substring(regexp_replace($"text", "[^ -~]", ""), 1, 400))
        // the regex-cleaned 400-char prefix is computed ONCE (checkpoint,
        // ~400 B/doc) instead of once for the model pass and again for
        // the scoring pass; the terminal sort then re-scores from the
        // in-memory checkpoint, never from the raw scan.
        val docs = rd(s, d, "documents").select($"doc_id", txt.as("t"))
          .localCheckpoint()
        // model pass via the native bounded-state histogram aggregate
        // (plans.BigramHistAgg): one compiled byte-loop pass, O(16384)
        // state per task, ONE merged row — the r5 shape exploded one row
        // per character position of the corpus through a Generate +
        // gram-keyed hash aggregate (measured ~1.5 s of this query's
        // ~2 s at sf0.1). Top-200 by (count desc, bigram asc) reads
        // directly off the dense array: slot order IS lexicographic
        // bigram order for the printable-ASCII alphabet `t` is cleaned
        // to. Counts are identical to the exploded groupBy by
        // construction (BigramHistAggSpec pins that equivalence).
        val hist: Seq[Long] = docs
          .agg(graft.plans.BigramHistAgg.charBigramHist($"t").as("h"))
          .collect()(0).getSeq[Long](0)
        val model: Seq[String] = hist.zipWithIndex
          .filter(_._1 > 0L)
          .sortBy { case (n, code) => (-n, code) }
          .take(200)
          .map { case (_, code) => graft.plans.BigramHistAgg.bigramOf(code) }
        // narrow-output checkpoint + narrow sort (see ta_langid): the
        // 200-pattern scorer runs once; without this the terminal sort's
        // range sampling re-scored every row
        docs.select($"doc_id",
            when(length($"t") >= 2, length($"t") - 1).otherwise(0).as("n_bg"),
            bigramHits($"t", model).as("n_hit"))
          .withColumn("score", when($"n_bg" > 0, round($"n_hit" / $"n_bg", 6)))
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |  lower(substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 400)) AS t
             |  FROM documents),
             |bg AS (SELECT doc_id,
             |    unnest(list_transform(generate_series(1, length(t) - 1),
             |                          i -> substr(t, i, 2))) AS b
             |  FROM t WHERE length(t) >= 2),
             |model AS (SELECT b FROM bg GROUP BY b ORDER BY count(*) DESC, b LIMIT 200),
             |hits AS (SELECT doc_id, count(*) AS n_hit FROM bg JOIN model USING (b)
             |         GROUP BY doc_id)
             |SELECT t.doc_id,
             |  CASE WHEN length(t) >= 2 THEN length(t) - 1 ELSE 0 END AS n_bg,
             |  COALESCE(n_hit, 0) AS n_hit,
             |  CASE WHEN length(t) >= 2 THEN
             |    round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / (length(t) - 1), 6) END AS score
             |FROM t LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // benchmark decontamination (the eval-overlap scrub every training
    // corpus runs before release): the held-out set is the deterministic
    // doc_id % 97 == 0 slice standing in for an external benchmark; both
    // sides shingle into 5-word grams. The benchmark's distinct-shingle
    // set is small by construction (evals are MBs; the corpus is the
    // 100 TB side), so it is BROADCAST into a hash join against the
    // exploded corpus shingles — the corpus is never shuffled for the
    // match; only the matched remainder aggregates per doc (one shuffle
    // over contaminated rows only, which decontamination makes rare by
    // definition). Exact string matching and integer counts — no
    // hash-family parity needed across engines.
    "dd_decontaminate" -> Entry(
      (s, d) => {
        import s.implicits._
        // wordGramCounts yields an empty array below 5 words, so the
        // explode drops those docs — same gating as the reference
        // filter form; and because it emits each doc's DISTINCT grams,
        // the per-doc overlap is a plain count (no countDistinct
        // expansion) and the benchmark set needs only a cross-doc dedup
        val sh = rd(s, d, "documents")
          .select($"doc_id",
            explode(wordGramCounts($"text", 5)("g")).as("sgram"))
        val bench = sh.filter($"doc_id" % 97 === 0).select($"sgram").distinct()
        sh.filter($"doc_id" % 97 =!= 0)
          .join(broadcast(bench), "sgram")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_overlap"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS ws
             |  FROM documents),
             |sh AS (SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(ws) - 4),
             |      i -> list_aggregate(ws[i:i+4], 'string_agg', ' '))) AS sgram
             |  FROM w WHERE len(ws) >= 5),
             |bench AS (SELECT DISTINCT sgram FROM sh WHERE doc_id % 97 = 0)
             |SELECT sh.doc_id, count(DISTINCT sh.sgram) AS n_overlap
             |FROM sh JOIN bench USING (sgram) WHERE sh.doc_id % 97 <> 0
             |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin)),

    // cross-document boilerplate n-gram mask (RefinedWeb/Dolma-style
    // repeated-span removal, the word-gram analog of their line-level
    // dedup): a word-5-gram occurring in >= 3 DISTINCT documents is
    // corpus boilerplate (navigation chrome, license headers, template
    // text); each doc reports what fraction of its gram occurrences are
    // boilerplate and a keep flag at 30% occupancy. Scalable shape:
    // one codegen'd pass per row builds the DISTINCT grams with their
    // within-doc counts (wordGramCounts — the row-local limit of
    // map-side combining, so no corpus-wide (g, doc_id) shuffle ever
    // happens) -> explode -> hot-set aggregation (count of pair rows
    // per g == distinct docs per g; map-side partials before the one
    // gram-keyed shuffle) -> equi-join the pair stream back against
    // the hot set (NO broadcast assumption in the plan shape: unlike
    // the benchmark set in dd_decontaminate, corpus-wide boilerplate
    // is unbounded — AQE may still broadcast a small hot set at
    // runtime) -> one doc-keyed agg summing the pair counts.
    // Everything is exact string match + integer counts; the fraction
    // is a rational rounded at 6dp.
    "dd_repeated_ngram_mask" -> Entry(
      (s, d) => {
        import s.implicits._
        // wordGramCounts makes the (g, doc_id) aggregation ROW-LOCAL:
        // exploding it yields one (g, c) row per distinct gram per doc,
        // so the corpus-wide (g, doc_id) shuffle the naive
        // explode->groupBy shape pays simply does not exist in the plan
        val pairs = rd(s, d, "documents")
          .select($"doc_id", explode(wordGramCounts($"text", 5)).as("p"))
          .select($"doc_id", $"p.g".as("g"), $"p.c".as("c"))
        val hot = pairs.groupBy($"g")
          .agg(count(lit(1)).as("nd"))
          .filter($"nd" >= 3).select($"g")
        val hits = pairs.join(hot, "g")
          .groupBy($"doc_id").agg(sum($"c").as("n_hot"))
        rd(s, d, "documents")
          .select($"doc_id",
            greatest(wsTokenCount($"text") - 4, lit(0)).as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .withColumn("n_hot", coalesce($"n_hot", lit(0L)))
          .withColumn("hot_frac",
            when($"n_grams" > 0, round($"n_hot" / $"n_grams", 6)))
          .withColumn("keep", coalesce($"hot_frac" <= 0.3, lit(true)))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS ws
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(ws) - 4),
             |      i -> list_aggregate(ws[i:i+4], 'string_agg', ' '))) AS g
             |  FROM w WHERE len(ws) >= 5),
             |hot AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 3),
             |h AS (SELECT doc_id, count(*) AS n_hot FROM g JOIN hot USING (g)
             |      GROUP BY doc_id),
             |st AS (SELECT w.doc_id,
             |    CASE WHEN len(ws) >= 5 THEN len(ws) - 4 ELSE 0 END AS n_grams,
             |    COALESCE(n_hot, 0) AS n_hot
             |  FROM w LEFT JOIN h ON w.doc_id = h.doc_id)
             |SELECT doc_id, n_grams, n_hot,
             |  CASE WHEN n_grams > 0
             |    THEN round(CAST(n_hot AS DOUBLE) / n_grams, 6) END AS hot_frac,
             |  COALESCE(CASE WHEN n_grams > 0
             |    THEN round(CAST(n_hot AS DOUBLE) / n_grams, 6) END <= 0.3,
             |    TRUE) AS keep
             |FROM st ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition filter: per-doc duplicate-word mass and
    // top word-bigram occupancy — the repetition signals LM corpus
    // curation drops documents on (thresholds 0.2 / 0.18, the latter
    // from the published Gopher rules). EVERYTHING is row-local: the
    // per-doc bigram mode is a property of the row, so instead of
    // shuffling every bigram of the corpus twice (explode -> count ->
    // argmax -> join back), each row computes its own stats in one
    // compiled pass (gopherStats / TextHashBridge.gopherStats: tokenize,
    // distinct-count, hashmap bigram argmax with the max-count /
    // lexicographically-largest tiebreak the oracle's ORDER BY n DESC,
    // bg DESC mirrors) inside whole-stage codegen. Zero wide shuffles;
    // only the presentation sort exchanges data. Integer counting
    // end-to-end; fractions rounded at 6dp before every comparison.
    "ta_gopher_repetition" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select($"doc_id", gopherStats($"text").as("g"))
          .localCheckpoint()
          .select($"doc_id", $"g.n_words".as("n_words"),
            round(($"g.n_words" - $"g.n_distinct") / $"g.n_words", 6)
              .as("dup_word_frac"),
            $"g.top_bigram".as("top_bigram"),
            round($"g.top_n" / ($"g.n_words" - 1), 6).as("top_bigram_frac"))
          .withColumn("keep", $"dup_word_frac" <= 0.2 &&
            coalesce($"top_bigram_frac" <= 0.18, lit(true)))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |  list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS ws
             |  FROM documents),
             |stats AS (SELECT doc_id, len(ws) AS n_words,
             |  len(list_distinct(ws)) AS n_distinct FROM w),
             |bg AS (SELECT doc_id, len(ws) - 1 AS n_bg,
             |    unnest(list_transform(generate_series(1, len(ws) - 1),
             |      i -> ws[i] || ' ' || ws[i+1])) AS bg
             |  FROM w WHERE len(ws) >= 2),
             |cnt AS (SELECT doc_id, n_bg, bg, count(*) AS n FROM bg GROUP BY doc_id, n_bg, bg),
             |top AS (SELECT doc_id, bg AS top_bigram,
             |    round(CAST(n AS DOUBLE) / n_bg, 6) AS top_bigram_frac,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bg DESC) AS rn
             |  FROM cnt)
             |SELECT s.doc_id, s.n_words,
             |  round(CAST(s.n_words - s.n_distinct AS DOUBLE) / s.n_words, 6) AS dup_word_frac,
             |  t.top_bigram, t.top_bigram_frac,
             |  (round(CAST(s.n_words - s.n_distinct AS DOUBLE) / s.n_words, 6) <= 0.2
             |   AND COALESCE(t.top_bigram_frac <= 0.18, TRUE)) AS keep
             |FROM stats s LEFT JOIN (SELECT * FROM top WHERE rn = 1) t
             |  ON s.doc_id = t.doc_id
             |ORDER BY s.doc_id""".stripMargin)),

    // Gopher quality rules — the full published document-filter suite
    // (Rae et al., "Scaling Language Models: Methods, Analysis & Insights
    // from Training Gopher", 2021, Table A1): word-count bounds, mean
    // word length bounds, symbol-to-word ratio (# and ...), bullet-line
    // and ellipsis-line fractions, alphabetic-word fraction, and the
    // >= 2-of-8 stop-word requirement. Entirely row-local HOF built-ins
    // (one pass, shuffle-free); the oracle recomputes the identical
    // algorithm structurally. The payload rotates four shapes so every
    // rule fires somewhere in the corpus.
    "ta_gopher_rules" -> Entry(
      (s, d) => {
        import s.implicits._
        val m4 = pmod($"doc_id", lit(4))
        val payload = when(m4 === 0, $"text")
          .when(m4 === 1, lit(Seq(
            "• one two", "• three four", "• five six",
            "• seven eight", "and then the story continues...",
            "with more to come...", "plain line here", "plain line too")
            .mkString("\n")))
          .when(m4 === 2,
            lit("count symbols # # # # # # here with the of and that"))
          .otherwise(concat($"text", lit(" the of and that have with")))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        val ws = filter(split($"p", "\\s+"), x => length(x) > 0)
        val nWords = size(ws)
        val meanWlen = round(
          aggregate(transform(ws, w => length(w).cast("long")), lit(0L),
            (a, x) => a + x).cast("double") / greatest(nWords, lit(1)), 6)
        val nHash = length($"p") - length(regexp_replace($"p", "#", ""))
        val nEll = (length($"p") -
          length(regexp_replace($"p", "\\.\\.\\.", ""))) / 3
        val symRatio = round((nHash + nEll).cast("double") /
          greatest(nWords, lit(1)), 6)
        val lines = filter(split($"p", "\n"), l => length(l) > 0)
        val bulletFrac = round(
          size(filter(lines, l => l.startsWith("• ") || l.startsWith("- ")))
            .cast("double") / greatest(size(lines), lit(1)), 6)
        val ellFrac = round(
          size(filter(lines, l => l.endsWith("...")))
            .cast("double") / greatest(size(lines), lit(1)), 6)
        val alphaFrac = round(
          size(filter(ws, w => w.rlike("[a-zA-Z]")))
            .cast("double") / greatest(nWords, lit(1)), 6)
        val stopHits = Seq("the", "be", "to", "of", "and", "that", "have",
          "with").map(sw => when(array_contains(ws, sw), 1).otherwise(0))
          .reduce(_ + _)
        df.select($"doc_id", nWords.cast("long").as("n_words"),
            meanWlen.as("mean_wlen"),
            symRatio.as("sym_ratio"), bulletFrac.as("bullet_frac"),
            ellFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
            stopHits.cast("long").as("stop_hits"))
          .withColumn("keep",
            $"n_words" >= 50 && $"n_words" <= 100000 &&
            $"mean_wlen" >= 3 && $"mean_wlen" <= 10 &&
            $"sym_ratio" <= 0.1 && $"bullet_frac" <= 0.9 &&
            $"ellipsis_frac" <= 0.3 && $"alpha_frac" >= 0.8 &&
            $"stop_hits" >= 2)
          // narrow-output checkpoint + narrow sort (see ta_langid)
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some("""WITH pay AS (SELECT doc_id, CASE doc_id % 4
             |    WHEN 0 THEN text
             |    WHEN 1 THEN '• one two'||chr(10)||'• three four'||chr(10)||'• five six'||chr(10)||'• seven eight'||chr(10)||'and then the story continues...'||chr(10)||'with more to come...'||chr(10)||'plain line here'||chr(10)||'plain line too'
             |    WHEN 2 THEN 'count symbols # # # # # # here with the of and that'
             |    ELSE text||' the of and that have with' END AS p
             |  FROM documents),
             |feat AS (SELECT doc_id, p,
             |  list_filter(string_split_regex(p, '\s+'), x -> length(x) > 0) AS ws,
             |  list_filter(string_split(p, chr(10)), l -> length(l) > 0) AS ls
             |  FROM pay),
             |r AS (SELECT doc_id,
             |  len(ws) AS n_words,
             |  round(CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) / greatest(len(ws), 1), 6) AS mean_wlen,
             |  round(CAST((length(p) - length(replace(p, '#', ''))) + (length(p) - length(replace(p, '...', ''))) / 3 AS DOUBLE) / greatest(len(ws), 1), 6) AS sym_ratio,
             |  round(CAST(len(list_filter(ls, l -> starts_with(l, '• ') OR starts_with(l, '- '))) AS DOUBLE) / greatest(len(ls), 1), 6) AS bullet_frac,
             |  round(CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE) / greatest(len(ls), 1), 6) AS ellipsis_frac,
             |  round(CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / greatest(len(ws), 1), 6) AS alpha_frac,
             |  len(list_filter(['the','be','to','of','and','that','have','with'], sw -> list_contains(ws, sw))) AS stop_hits
             |  FROM feat)
             |SELECT doc_id, n_words, mean_wlen, sym_ratio, bullet_frac,
             |  ellipsis_frac, alpha_frac, stop_hits,
             |  (n_words >= 50 AND n_words <= 100000 AND mean_wlen >= 3
             |   AND mean_wlen <= 10 AND sym_ratio <= 0.1
             |   AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
             |   AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep
             |FROM r ORDER BY doc_id""".stripMargin)),

    // C4 line + document filters (Raffel et al., "Exploring the Limits of
    // Transfer Learning with a Unified Text-to-Text Transformer", JMLR
    // 2020, §2.2): keep only lines ending in terminal punctuation with
    // >= 3 words and no "javascript"; drop any page containing "lorem
    // ipsum" or "{" or with < 5 sentences after line filtering
    // (sentences approximated as terminal-punctuation marks in the kept
    // text — C4 proper uses a sentence tokenizer). Row-local line HOFs;
    // structural oracle.
    "ta_c4_filters" -> Entry(
      (s, d) => {
        import s.implicits._
        val m3 = pmod($"doc_id", lit(3))
        val base = concat(
          lit("This is a good first sentence.\nShort line\n"),
          lit("Another proper sentence appears right here.\n"),
          lit("var x = 1; // javascript inline.\n"),
          lit("A third full sentence ends with punctuation.\n"),
          lit("A fourth complete sentence closes this paragraph.\n"),
          lit("A fifth sentence "), tok($"text", 1), lit(" makes the quota."))
        val payload = when(m3 === 0, base)
          .when(m3 === 1, concat(base, lit("\nlorem ipsum dolor sit amet.")))
          .otherwise(concat(base, lit("\nfunction f() { return; }.")))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        val lines = split($"p", "\n")
        val keptLines = filter(lines, l =>
          l.rlike("[.!?\"]$") &&
          size(filter(split(l, "\\s+"), w => length(w) > 0)) >= 3 &&
          !lower(l).contains("javascript"))
        val clean = array_join(keptLines, "\n")
        val nSent = length(regexp_replace(clean, "[^.!?]", ""))
        df.select($"doc_id", size(lines).cast("long").as("n_lines"),
            size(keptLines).cast("long").as("n_kept_lines"),
            nSent.cast("long").as("n_sent"),
            (nSent >= 5 && !lower($"p").contains("lorem ipsum") &&
              !$"p".contains("{")).as("keep"),
            substring(clean, 1, 60).as("clean_prefix"))
          // narrow-output checkpoint + narrow sort (see ta_langid)
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some(s"""WITH pay AS (SELECT doc_id,
              |  'This is a good first sentence.'||chr(10)||'Short line'||chr(10)||'Another proper sentence appears right here.'||chr(10)||'var x = 1; // javascript inline.'||chr(10)||'A third full sentence ends with punctuation.'||chr(10)||'A fourth complete sentence closes this paragraph.'||chr(10)||'A fifth sentence '||$sqlTok1||' makes the quota.'
              |  || CASE doc_id % 3 WHEN 1 THEN chr(10)||'lorem ipsum dolor sit amet.'
              |                     WHEN 2 THEN chr(10)||'function f() { return; }.' ELSE '' END AS p
              |  FROM documents),
              |f AS (SELECT doc_id, p, string_split(p, chr(10)) AS ls,
              |  list_filter(string_split(p, chr(10)), l ->
              |    regexp_matches(l, '[.!?"]$$')
              |    AND len(list_filter(string_split_regex(l, '\\s+'), w -> length(w) > 0)) >= 3
              |    AND NOT contains(lower(l), 'javascript')) AS kept
              |  FROM pay),
              |c AS (SELECT doc_id, p, ls, kept,
              |  array_to_string(kept, chr(10)) AS clean FROM f)
              |SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept_lines,
              |  length(regexp_replace(clean, '[^.!?]', '', 'g')) AS n_sent,
              |  (length(regexp_replace(clean, '[^.!?]', '', 'g')) >= 5
              |   AND NOT contains(lower(p), 'lorem ipsum')
              |   AND NOT contains(p, '{')) AS keep,
              |  substr(clean, 1, 60) AS clean_prefix
              |FROM c ORDER BY doc_id""".stripMargin)),

    // rolling-hash document fingerprint (first 64 chars)
    "ta_fingerprint" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id", polyHash($"text", 64).as("fp"))
      },
      Some(s"""SELECT doc_id,
              |  list_reduce(list_prepend(CAST(0 AS BIGINT),
              |    list_transform(generate_series(1, least(length(text), 64)),
              |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
              |    (a, x) -> (a * 31 + x) % $M) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---------------- Multimodal plumbing (decode stubbed) ----------------

    // Treat the payload as an opaque binary column with typed metadata;
    // the "decode" stage is a deterministic fake (no image/audio libs in
    // this container) — the Spark-side schema/plumbing is real.
    "mm_binary_meta" -> Entry(
      (s, d) => {
        import s.implicits._
        val bin = encode($"text", "UTF-8")
        rd(s, d, "documents")
          .select($"doc_id",
            length(bin).as("n_bytes"),
            ascii($"text").as("first_code"),
            md5($"text").as("content_hash"),
            // stubbed decode: fake 2-dim feature from byte stats
            pmod(length(bin), lit(256)).as("fake_feat0"),
            pmod(ascii($"text") * 31 + length(bin), lit(997)).as("fake_feat1"))
          // narrow-output checkpoint + narrow sort (see ta_langid)
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  octet_length(encode(text)) AS n_bytes,
             |  ascii(text) AS first_code,
             |  md5(text) AS content_hash,
             |  octet_length(encode(text)) % 256 AS fake_feat0,
             |  (ascii(text) * 31 + octet_length(encode(text))) % 997 AS fake_feat1
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------- Corpus-curation extras (source gate, SemDeDup, DSIR) -------------

    // domain-level source gating (the RefinedWeb/C4-style per-domain
    // filter): per-source doc count, mean quality, and exact-dup rate,
    // with a keep/drop verdict. The corpus is the documents table PLUS
    // an exact-duplicate planting (every doc_id % 7 == 0 doc repeated
    // under a shifted id — the table has no natural byte-identical dups,
    // so the dup-rate axis would otherwise be constant 0). Scale shape:
    // quality is scored row-locally, then ONE shuffle over the tiny
    // source key space with map-side combine; countDistinct(md5) is the
    // standard two-phase partial aggregate. Float parity: quality is
    // re-scaled to exact integer centi-points before summing, so the
    // mean is a single division of exact integers on both engines.
    "ta_source_quality_gate" -> Entry(
      (s, d) => {
        import s.implicits._
        val base = rd(s, d, "documents").select($"doc_id", $"source", $"text")
        val corpus = base.unionByName(
          base.filter(pmod($"doc_id", lit(7)) === 0)
            .select(($"doc_id" + lit(1000000000L)).as("doc_id"), $"source", $"text"))
        corpus
          .select($"source",
            round(qualityScore($"text") * 100).cast("long").as("qc"),
            md5($"text").as("h"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"qc").as("qsum"),
            countDistinct($"h").as("n_distinct"))
          .select($"source", $"n_docs",
            round($"qsum" / ($"n_docs" * 100.0), 4).as("mean_quality"),
            round(lit(1.0) - $"n_distinct".cast("double") / $"n_docs", 4).as("dup_rate"))
          .withColumn("verdict",
            when($"mean_quality" >= 0.74 && $"dup_rate" <= 0.12, "keep")
              .otherwise("drop"))
          .orderBy($"source")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, source, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000000, source, text FROM documents
              |  WHERE doc_id % 7 = 0),
              |t AS (${sqlQualityFrom("d", " source,")}),
              |q AS (SELECT source,
              |    CAST(round($sqlQualityExpr * 100) AS BIGINT) AS qc,
              |    md5(text) AS h
              |  FROM t),
              |g AS (SELECT source, count(*) AS n_docs,
              |    round(sum(qc) / (count(*) * 100.0), 4) AS mean_quality,
              |    round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 4) AS dup_rate
              |  FROM q GROUP BY source)
              |SELECT source, n_docs, mean_quality, dup_rate,
              |  CASE WHEN mean_quality >= 0.74 AND dup_rate <= 0.12
              |       THEN 'keep' ELSE 'drop' END AS verdict
              |FROM g ORDER BY source""".stripMargin)),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // coarse-quantize every vector to its nearest of 8 centroids (the
    // sim_topk_ivf quantizer reused as the trained artifact — collected
    // as a MODEL and broadcast by value), then WITHIN each cluster sort
    // by (rounded) cosine-to-centroid and compare each vector to its
    // PREDECESSOR only: semantic near-dups have near-identical centroid
    // cosine, so they land adjacent, and the O(|c|^2) within-cluster
    // pair matrix collapses to one window sort + one lag compare
    // (O(|c| log |c|) per cluster). Corpus = embeddings plus the same
    // deterministically perturbed planted-near-dup copy dd_embedding_lsh
    // uses (no natural cos >= 0.999 pairs exist). Cluster count stands
    // in for nlist ~ sqrt(n) at scale: the per-cluster window IS the
    // shuffle partitioning, so parallelism grows with nlist, and no
    // pairwise join ever forms. Output = the DROPPED rows with their
    // keeper and the verifying cosine.
    "dd_semdedup" -> Entry(
      (s, d) => {
        import s.implicits._
        val e = rd(s, d, "embeddings")
          .select($"vec_id", toDouble($"embedding").as("v"))
        val pert = transform($"embedding", (x, i) =>
          x * (lit(1.0) + (pmod(i, lit(5)) - lit(2)).cast("double") * lit(0.004)))
        val corpus = e.select($"vec_id".as("id"), $"v")
          .unionByName(rd(s, d, "embeddings")
            .select(($"vec_id" + lit(1000000000000L)).as("id"), pert.as("v")))
        val cents: Seq[(Int, Seq[Double])] = e.filter($"vec_id" < 8)
          .orderBy($"vec_id").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toIndexedSeq))
          .toSeq
        def centScores(v: Column): Column = array(cents.map { case (cid, cv) =>
          struct(round(cosine(v, typedLit(cv)), 6).as("c"),
            lit(-cid).as("negcid"))
        }: _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"cid").orderBy($"c2c".desc, $"id")
        corpus.withColumn("best", array_max(centScores($"v")))
          .select($"id", (-$"best.negcid").cast("long").as("cid"),
            $"best.c".as("c2c"), $"v")
          .withColumn("prev_id", lag($"id", 1).over(w))
          .withColumn("prev_v", lag($"v", 1).over(w))
          .withColumn("cos_prev", round(cosine($"v", $"prev_v"), 6))
          .filter($"cos_prev" >= 0.999)
          .select($"id", $"cid", $"prev_id", $"cos_prev")
          .orderBy($"id")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |corpus AS (
             |  SELECT vec_id AS id, v FROM e
             |  UNION ALL
             |  SELECT vec_id + 1000000000000,
             |    list_transform(generate_series(1, 64), j ->
             |      v[j] * (CAST(1.0 AS DOUBLE) + CAST((j - 1) % 5 - 2 AS DOUBLE) * CAST(0.004 AS DOUBLE)))
             |  FROM e),
             |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |scored AS (SELECT c.id, ct.cid,
             |    round(list_cosine_similarity(c.v, ct.cv), 6) AS c2c, c.v,
             |    row_number() OVER (PARTITION BY c.id
             |      ORDER BY round(list_cosine_similarity(c.v, ct.cv), 6) DESC, ct.cid) AS rn
             |  FROM corpus c CROSS JOIN cent ct),
             |asg AS (SELECT id, cid, c2c, v FROM scored WHERE rn = 1),
             |w AS (SELECT id, cid, v,
             |    lag(id) OVER win AS prev_id, lag(v) OVER win AS prev_v
             |  FROM asg WINDOW win AS (PARTITION BY cid ORDER BY c2c DESC, id))
             |SELECT id, cid, prev_id,
             |  round(list_cosine_similarity(v, prev_v), 6) AS cos_prev
             |FROM w
             |WHERE prev_v IS NOT NULL
             |  AND round(list_cosine_similarity(v, prev_v), 6) >= 0.999
             |ORDER BY id""".stripMargin)),

    // DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    // hashed word-bigram features (256 buckets via the portable
    // polynomial hash family), a target (lang = 'en') vs raw bucket-count
    // model trained in ONE tiny aggregation (256 keys, map-side combine,
    // collected as the trained artifact), then every doc scored against
    // the broadcast 256-entry log-ratio table:
    //   w(d) = sum_b n_db * ln(p_t(b) / p_r(b)), add-1 smoothing.
    // The log-ratios are scaled to integer MICRO-units BEFORE the
    // per-doc sum, so the aggregation is order-independent integer math
    // (Spark's shuffle-order double sums would otherwise race the
    // oracle); the only float op is one ln on identical rationals,
    // rounded at 1e-6 on both engines. Scale shape: the model pass is
    // one bounded-state histogram aggregate over the 256 buckets
    // (BigramHistAgg.hashedGramHist), no explode; the SCORING pass is
    // entirely row-local — one compiled scan (hashed_gram_micro_sum)
    // summing the broadcast micro-log table over each doc's hashed
    // bigrams, no explode, no join-back, zero data shuffle (only the
    // presentation sort).
    // CCNet-style LM quality gate: score each doc by its negative
    // average log-probability under a corpus-trained HASHED unigram LM
    // (1024 buckets — bounded model size at ANY corpus scale, the same
    // hashed-feature trick as ta_dsir_weights; production CCNet
    // broadcasts a trained KenLM exactly the same way). Integer
    // micro-log arithmetic end to end: the model ships as
    // bucket -> rint(ln p * 1e6), each doc sums its tokens' micro-logs
    // in one compiled scan (hashed_gram_micro_sum), and only the final
    // per-doc average is a rounded double — no float accumulation order
    // can diverge between engines. Model pass: one bounded-state
    // histogram aggregate over the 1024 buckets; scoring pass:
    // row-local, zero data shuffle (only the presentation sort).
    "ta_lm_perplexity" -> Entry(
      (s, d) => {
        import s.implicits._
        // narrow-output checkpoint + narrow sort (see ta_langid): the
        // scoring scan runs once; the output exchange carries only
        // (doc_id, n_tok, nll, keep)
        lmNllFrame(s, d)
          .select($"doc_id", $"n_tok", $"nll")
          .withColumn("keep", coalesce($"nll" <= 3.45, lit(false)))
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some(s"""WITH $sqlLmNllCte
              |SELECT doc_id, n_tok, nll,
              |  COALESCE(nll <= 3.45, FALSE) AS keep
              |FROM nll ORDER BY doc_id""".stripMargin)),

    // CCNet's other half: after the perplexity score, CCNet SPLITS each
    // language's corpus into head/middle/tail TERTILES by perplexity and
    // trains preferentially on the head. The DEFINITION is ntile(3) over
    // (lang, nll, doc_id) — a per-language total order, which at 100 TB
    // with an 80%-English corpus would serialize the corpus through one
    // task. The engine therefore computes the IDENTICAL assignment with
    // the ta_token_budget_pick two-phase topology: phase 1 aggregates
    // counts per 0.001-wide nll bucket (floor(nll*1000) — order-monotone
    // in nll, bounded key space at ANY corpus size), runs the cumulative
    // walk over that <=~20k-row summary, and derives the two tertile
    // boundary positions k1/k2 from exact ntile arithmetic; phase 2
    // assigns buckets that sit wholly inside one tertile by broadcast-
    // join comparison, and breaks only the <=2 boundary buckets per
    // language with a window confined to those buckets. The ORACLE stays
    // the exact one-window ntile definition — the hash match is the
    // proof that the bounded topology computes the exact semantics.
    "ta_ccnet_bucket" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // materialized once: base feeds both the bucket summary and the
        // phase-2 join (and the terminal sort's range-sampling pass) —
        // without the checkpoint the whole LM scoring scan re-ran per
        // subtree. Narrow frame: (doc_id, lang, nll, qb).
        val base = lmNllFrame(s, d).filter($"n_tok" > 0)
          .select($"doc_id", $"lang", $"nll")
          .withColumn("qb", floor($"nll" * 1000).cast("long"))
          .localCheckpoint()
        // phase 1: bounded per-(lang, nll-bucket) summary; every window
        // below this point ranges over the summary, never the documents
        val bs = base.groupBy($"lang", $"qb").agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy($"lang").orderBy($"qb")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // ntile(3) group sizes: floor(n/3) (+1 for the first n%3 groups)
        // => tile-1 rows are positions 1..k1, tile-2 rows k1+1..k2
        val bp = bs
          .withColumn("cum", sum($"c").over(wCum))
          .withColumn("n", sum($"c").over(Window.partitionBy($"lang")))
          .withColumn("lo", $"cum" - $"c" + lit(1L))
          .withColumn("k1", floor($"n" / 3.0) + least($"n" % 3, lit(1L)))
          .withColumn("k2", floor($"n" / 3.0) * 2 + least($"n" % 3, lit(2L)))
        def tileOf(pos: Column): Column =
          when(pos <= $"k1", 1).when(pos <= $"k2", 2).otherwise(3)
        val meta = bp
          .withColumn("t_lo", tileOf($"lo"))
          .withColumn("t_hi", tileOf($"cum"))
          .select($"lang", $"qb", $"lo", $"k1", $"k2", $"t_lo", $"t_hi")
        // phase 2: per-bucket metadata broadcast back onto the documents
        // in ONE pass — buckets wholly inside a tertile take t_lo
        // directly; the <=2 boundary buckets per language resolve their
        // exact position with the (lang, qb)-partitioned window. The one
        // shuffle this costs is on the BOUNDED (lang, qb) key (thousands
        // of small partitions — never a per-language gather), and the
        // expensive LM scoring scan runs exactly once (a filter-split
        // union here would re-run it per branch: measured 3.06 s vs
        // ~1 s at sf0.1).
        val wB = Window.partitionBy($"lang", $"qb").orderBy($"nll", $"doc_id")
        base.join(broadcast(meta), Seq("lang", "qb"))
          .withColumn("tile",
            when($"t_lo" === $"t_hi", $"t_lo")
              .otherwise(tileOf($"lo" - lit(1L) + row_number().over(wB))))
          .select($"doc_id", $"lang", $"nll",
            when($"tile" === 1, "head").when($"tile" === 2, "middle")
              .otherwise("tail").as("ppl_bucket"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $sqlLmNllCte,
              |tiles AS (SELECT doc_id, lang, nll,
              |    ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS tile
              |  FROM nll WHERE n_tok > 0)
              |SELECT doc_id, lang, nll,
              |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              |    ELSE 'tail' END AS ppl_bucket
              |FROM tiles ORDER BY doc_id""".stripMargin)),

    "ta_dsir_weights" -> Entry(
      (s, d) => {
        import s.implicits._
        val B = 256
        val toks = filter(split(lower($"text"), "[^a-z0-9]+"), w => length(w) > 0)
        val docs = rd(s, d, "documents").select($"doc_id", $"lang", toks.as("toks"))
        // model pass via the native bounded-state histogram aggregate:
        // target (en) and raw histograms in ONE scan — a null child is a
        // no-op update, so the en arm is the when()-guarded token array
        // (the r5 shape exploded one row per bigram occurrence through a
        // Generate + bucket-keyed aggregate)
        val mrow = docs.agg(
            graft.plans.BigramHistAgg
              .hashedGramHist(when($"lang" === "en", $"toks"), 2, DsirSeed, B).as("tc"),
            graft.plans.BigramHistAgg
              .hashedGramHist($"toks", 2, DsirSeed, B).as("rc"))
          .collect()(0)
        val (tcH, rcH) = (mrow.getSeq[Long](0), mrow.getSeq[Long](1))
        val (tT, tR) = (tcH.sum, rcH.sum)
        def micro(x: Double): Long = math.rint(math.log(x) * 1e6).toLong
        // dense bucket -> micro-ln likelihood-ratio table; buckets no
        // bigram hashed to get lr = (0+1)/(0+1) = 1 (micro 0), unreachable
        val table = Array.tabulate(B)(b =>
          if (rcH(b) == 0L && tcH(b) == 0L) 0L
          else micro((tcH(b) + 1.0) / (rcH(b) + 1.0)))
        val cMicro = micro((tR + B.toDouble) / (tT + B.toDouble))
        // narrow-output checkpoint + narrow sort (see ta_langid)
        docs
          .select($"doc_id",
            greatest(size($"toks") - 1, lit(0)).cast("long").as("n_bg"),
            hashedGramMicroSum($"toks", 2, DsirSeed, table).as("sm"))
          .select($"doc_id", $"n_bg",
            round(($"sm" + $"n_bg" * lit(cMicro)) / 1e6, 6).as("weight"))
          .localCheckpoint()
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
              |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 0) AS toks
              |  FROM documents),
              |bg AS (SELECT doc_id, lang, unnest(
              |    CASE WHEN len(toks) >= 2 THEN
              |      list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1])
              |    ELSE [] END) AS b
              |  FROM t),
              |bk AS (SELECT doc_id, lang, ${sqlStrHash("b", DsirSeed)} % 256 AS bucket FROM bg),
              |m AS (SELECT bucket,
              |    count(CASE WHEN lang = 'en' THEN 1 END) AS tc, count(*) AS rc
              |  FROM bk GROUP BY bucket),
              |tot AS (SELECT sum(tc) AS tt, sum(rc) AS rr FROM m),
              |lr AS (SELECT bucket,
              |    CAST(round(ln((tc + 1.0) / (rc + 1.0)) * 1000000) AS BIGINT) AS lrm
              |  FROM m),
              |c AS (SELECT CAST(round(ln((rr + 256.0) / (tt + 256.0)) * 1000000) AS BIGINT) AS cm FROM tot),
              |s AS (SELECT doc_id, count(*) AS n_bg, sum(lrm) AS sm
              |  FROM bk JOIN lr USING (bucket) GROUP BY doc_id)
              |SELECT t.doc_id,
              |  CAST(COALESCE(s.n_bg, 0) AS BIGINT) AS n_bg,
              |  round((COALESCE(s.sm, 0) + COALESCE(s.n_bg, 0) * c.cm) / 1000000.0, 6) AS weight
              |FROM t LEFT JOIN s USING (doc_id) CROSS JOIN c ORDER BY doc_id""".stripMargin)),

    // Temperature-flattened source-mixture weights — the multilingual /
    // multi-domain sampling idiom (sample source s with p proportional to
    // c_s^alpha): per-source token mass, natural share, alpha = 0.5
    // flattened share, and the resulting up/down-sampling boost. alpha is
    // 0.5 BECAUSE sqrt is IEEE-correctly-rounded in both engines (pow is
    // not), so the rounded micro-pows agree bit-for-bit; the share
    // denominators are integer sums of those micros — no float
    // accumulation order exists anywhere. Scale shape: one
    // map-side-combined agg to ~#sources rows, then a broadcast of the
    // two totals; the per-doc pass is the codegen'd word-count scan.
    "ta_domain_mix" -> Entry(
      (s, d) => {
        import s.implicits._
        val per = rd(s, d, "documents").groupBy($"source")
          .agg(sum(wsTokenCount($"text").cast("long")).as("tokens"))
          .withColumn("pwm", round(sqrt($"tokens") * 1e6, 0).cast("long"))
        val tot = per.agg(sum($"tokens").as("tt"), sum($"pwm").as("pp"))
        per.crossJoin(broadcast(tot))
          .select($"source", $"tokens",
            round($"tokens" / $"tt", 6).as("nat_share"),
            round($"pwm" / $"pp", 6).as("temp_share"),
            round(($"pwm" / $"pp") / ($"tokens" / $"tt"), 6).as("boost"))
          .orderBy($"source")
      },
      Some("""WITH per AS (SELECT source,
             |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0))) AS BIGINT) AS tokens
             |  FROM documents GROUP BY source),
             |pw AS (SELECT source, tokens,
             |    CAST(round(sqrt(tokens) * 1000000) AS BIGINT) AS pwm FROM per),
             |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt,
             |    CAST(sum(pwm) AS BIGINT) AS pp FROM pw)
             |SELECT source, tokens,
             |  round(CAST(tokens AS DOUBLE) / tt, 6) AS nat_share,
             |  round(CAST(pwm AS DOUBLE) / pp, 6) AS temp_share,
             |  round((CAST(pwm AS DOUBLE) / pp) / (CAST(tokens AS DOUBLE) / tt), 6) AS boost
             |FROM pw CROSS JOIN tot ORDER BY source""".stripMargin)),

    // Per-source token-length profile: exact DISCRETE quantiles (the
    // k = ceil(p * n)-th smallest, type-1 — integer selection, no
    // interpolation arithmetic to disagree on). The DEFINITION is a
    // row_number over each source's total order; the engine computes the
    // identical values from a bounded per-source token-count HISTOGRAM
    // (count per distinct n_tok — bounded by max document length, not by
    // corpus size): the k-th smallest integer is the least n_tok whose
    // cumulative count reaches k, so one map-side-combined agg plus a
    // cumulative walk over the summary replaces the per-source document
    // sort. The windows below range over the summary only — never the
    // documents. The ORACLE stays the exact row_number definition; the
    // hash match proves the histogram selection computes it.
    "ta_length_quantiles" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = rd(s, d, "documents")
          .select($"source", wsTokenCount($"text").cast("long").as("n_tok"))
        val hist = docs.groupBy($"source", $"n_tok").agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy($"source").orderBy($"n_tok")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist
          .withColumn("cum", sum($"c").over(wCum))
          .withColumn("n", sum($"c").over(Window.partitionBy($"source")))
          .groupBy($"source")
          .agg(max($"n").as("n_docs"),
            min(when($"cum" >= ceil($"n" * 0.5), $"n_tok")).as("p50"),
            min(when($"cum" >= ceil($"n" * 0.9), $"n_tok")).as("p90"),
            min(when($"cum" >= ceil($"n" * 0.99), $"n_tok")).as("p99"))
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> length(w) > 0)) AS BIGINT) AS n_tok
             |  FROM documents),
             |r AS (SELECT source, n_tok,
             |    row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY source) AS n FROM d)
             |SELECT source, count(*) AS n_docs,
             |  max(CASE WHEN rn = ceil(n * 0.5) THEN n_tok END) AS p50,
             |  max(CASE WHEN rn = ceil(n * 0.9) THEN n_tok END) AS p90,
             |  max(CASE WHEN rn = ceil(n * 0.99) THEN n_tok END) AS p99
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // Character-entropy quality screen: gibberish, binary junk and
    // repeated-character spam sit at extreme byte-level Shannon entropy —
    // the standard cheap filter before any LM-based scoring. ALL heavy
    // work is one codegen'd row-local scan (char_entropy_parts: 256-slot
    // byte histogram -> exact-integer [n, sum c_i * micro-ln c_i]); the
    // only float math is ln(n) - sum/(n*1e6) on exact integers, rounded
    // at 6dp — identical in any engine. Zero shuffles beyond the
    // presentation sort. Keep band [2.67, 3.5] nats calibrated to this
    // corpus (p01 = 2.66, max = 2.93; natural English sits ~4.1 — the
    // band is data-derived exactly as production pipelines derive
    // theirs). Byte == char on this ASCII corpus (multi-byte inputs
    // would measure byte entropy; documented at the expression).
    "ta_char_entropy" -> Entry(
      (s, d) => {
        import s.implicits._
        val p = charEntropyParts($"text")
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id", p.as("p"))
          .select($"doc_id", element_at($"p", 1).as("n_chars"),
            when(element_at($"p", 1) > 0,
              round(log(element_at($"p", 1)) -
                element_at($"p", 2) / (element_at($"p", 1) * 1e6), 6))
              .as("entropy_nats"))
          .withColumn("keep",
            coalesce($"entropy_nats".between(2.67, 3.5), lit(false)))
          .orderBy($"doc_id")
      },
      Some("""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
             |  FROM documents),
             |g AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
             |s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
             |    CAST(sum(cnt * CAST(round(ln(cnt) * 1000000) AS BIGINT)) AS BIGINT) AS sm
             |  FROM g GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(s.n, 0) AS n_chars,
             |  CASE WHEN COALESCE(s.n, 0) > 0
             |    THEN round(ln(s.n) - s.sm / (s.n * 1000000.0), 6) END AS entropy_nats,
             |  COALESCE(CASE WHEN COALESCE(s.n, 0) > 0
             |    THEN round(ln(s.n) - s.sm / (s.n * 1000000.0), 6) END
             |    BETWEEN 2.67 AND 3.5, FALSE) AS keep
             |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // Mojibake repair (ftfy-style): fix UTF-8-read-as-Latin-1 sequences
    // before any dedup/quality stage — "CafÃ©" and "Café" must hash the
    // same. The corpus itself is ASCII, so each doc gets a deterministic
    // dirty suffix (4 mojibake families + 1 clean control by doc_id % 5);
    // the oracle replays the identical replace chain, generated from the
    // SAME MojibakePairs constant, so ordering drift between the two
    // sides is impossible. Row-local codegen'd string ops, shuffle-free.
    "ta_fix_encoding" -> Entry(
      (s, d) => {
        import s.implicits._
        val dirty =
          when($"doc_id" % 5 === 0, lit("CafÃ© rÃ©sumÃ©"))
            .when($"doc_id" % 5 === 1, lit("itâ€™s â€œquoted fine"))
            .when($"doc_id" % 5 === 2, lit("naÃ¯ve niÃ±o maÃ±ana"))
            .when($"doc_id" % 5 === 3, lit("grÃ¼n schÃ¶n spÃ¤t"))
            .otherwise(lit("clean ascii line"))
        val payload = concat($"text", lit(" "), dirty)
        rd(s, d, "documents")
          .select($"doc_id", payload.as("payload")).orderBy($"doc_id")
          .select($"doc_id", fixMojibake($"payload").as("fixed"),
            (fixMojibake($"payload") =!= $"payload").as("was_mojibake"))
      },
      Some {
        val cases =
          """CASE WHEN doc_id % 5 = 0 THEN 'CafÃ© rÃ©sumÃ©'
            |  WHEN doc_id % 5 = 1 THEN 'itâ€™s â€œquoted fine'
            |  WHEN doc_id % 5 = 2 THEN 'naÃ¯ve niÃ±o maÃ±ana'
            |  WHEN doc_id % 5 = 3 THEN 'grÃ¼n schÃ¶n spÃ¤t'
            |  ELSE 'clean ascii line' END""".stripMargin
        val fixed = MojibakePairs.foldLeft("payload") {
          case (acc, (bad, good)) => s"replace($acc, '$bad', '$good')"
        }
        s"""WITH p AS (SELECT doc_id, text || ' ' || $cases AS payload
           |  FROM documents)
           |SELECT doc_id, $fixed AS fixed,
           |  $fixed <> payload AS was_mojibake
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // Unicode NFC canonicalization (codegen'd UnicodeBridge.nfc):
    // web text mixes decomposed combining sequences, precomposed chars,
    // and compatibility singletons (U+212B angstrom) for the same glyph —
    // every hash/dedup/token stage downstream sees spurious distinctions
    // until the corpus is NFC-canonical, which is why it's the first
    // cleanup pass of CCNet/ftfy-style pipelines. Payload plants a
    // decomposed e+U+0301, a precomposed é, the Å singleton (a
    // length-PRESERVING change), and clean ASCII; the oracle is DuckDB's
    // own nfc_normalize — two independent implementations of the Unicode
    // algorithm agreeing byte-for-byte. Row-local scan, shuffle-free; the
    // already-NFC fast path returns the input buffer without allocation.
    "ta_unicode_nfc" -> Entry(
      (s, d) => {
        import s.implicits._
        // explicit escapes, not raw glyphs: case 0 MUST stay the
        // DECOMPOSED e+U+0301 and case 2 the U+212B singleton — a
        // toolchain normalizing raw source glyphs would silently
        // degenerate the test
        val planted = when($"doc_id" % 4 === 0, lit("cafe\u0301 menu"))
          .when($"doc_id" % 4 === 1, lit("caf\u00e9 menu"))
          .when($"doc_id" % 4 === 2, lit("\u212Bngstr\u00f6m unit"))
          .otherwise(lit("plain ascii"))
        val p = concat($"text", lit(" "), planted)
        rd(s, d, "documents")
          .select($"doc_id", p.as("p"))
          .select($"doc_id", nfcNormalize($"p").as("normalized"),
            (nfcNormalize($"p") =!= $"p").as("changed"),
            length($"p").cast("long").as("n_before"),
            length(nfcNormalize($"p")).cast("long").as("n_after"))
          .orderBy($"doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, text || ' ' || CASE doc_id % 4
             |    WHEN 0 THEN 'cafe' || chr(769) || ' menu'
             |    WHEN 1 THEN 'caf' || chr(233) || ' menu'
             |    WHEN 2 THEN chr(8491) || 'ngstr' || chr(246) || 'm unit'
             |    ELSE 'plain ascii' END AS p FROM documents)
             |SELECT doc_id, nfc_normalize(p) AS normalized,
             |  nfc_normalize(p) <> p AS changed,
             |  CAST(len(p) AS BIGINT) AS n_before,
             |  CAST(len(nfc_normalize(p)) AS BIGINT) AS n_after
             |FROM p ORDER BY doc_id""".stripMargin)),

    // Accent folding (NFD + combining-mark strip, native codegen'd
    // UnicodeBridge.stripAccents): 'café' and 'cafe' must collide for key
    // canonicalization and fuzzy lookup — the match-normalization pass
    // that NFC deliberately does NOT perform. Inputs are precomposed
    // (the common wire form); the oracle is DuckDB's independent
    // strip_accents. Row-local, shuffle-free, ASCII passes through by
    // reference equality.
    "ta_strip_accents" -> Entry(
      (s, d) => {
        import s.implicits._
        val planted = when($"doc_id" % 5 === 0, lit("caf\u00e9"))
          .when($"doc_id" % 5 === 1, lit("na\u00efve"))
          .when($"doc_id" % 5 === 2, lit("Se\u00f1or Z\u00fcrich"))
          .when($"doc_id" % 5 === 3, lit("r\u00e9sum\u00e9 cr\u00e8me"))
          .otherwise(lit("plain ascii"))
        val p = concat($"text", lit(" "), planted)
        rd(s, d, "documents")
          .select($"doc_id", p.as("p"))
          .select($"doc_id", stripAccents($"p").as("folded"),
            (stripAccents($"p") =!= $"p").as("changed"))
          .orderBy($"doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, text || ' ' || CASE doc_id % 5
             |    WHEN 0 THEN 'caf' || chr(233)
             |    WHEN 1 THEN 'na' || chr(239) || 've'
             |    WHEN 2 THEN 'Se' || chr(241) || 'or Z' || chr(252) || 'rich'
             |    WHEN 3 THEN 'r' || chr(233) || 'sum' || chr(233) || ' cr' || chr(232) || 'me'
             |    ELSE 'plain ascii' END AS p FROM documents)
             |SELECT doc_id, strip_accents(p) AS folded,
             |  strip_accents(p) <> p AS changed
             |FROM p ORDER BY doc_id""".stripMargin)),

    // Quality-ranked selection under a token budget — "fill 1/3 of the
    // corpus's tokens with the best documents". NOT a global sort-and-
    // running-sum (a single global window is the anti-pattern at 10^12
    // rows): phase 1 aggregates token mass per 0.01-wide quality bucket
    // (<=101 rows — the only global window runs over THAT, not the data)
    // and locates the threshold bucket B*; phase 2 takes every doc above
    // B* with a plain filter and breaks the tie INSIDE B* with a window
    // confined to that one bucket. At scale, if the boundary bucket is
    // still too heavy for one partition, the same two-phase step recurses
    // on a finer bucket key (floor(q*1e4)) — the topology is unchanged.
    // The oracle replays both phases, so the selection topology is
    // pinned, not just the chosen rows.
    "ta_token_budget_pick" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // materialized once (localCheckpoint): the scored frame feeds
        // FOUR plan subtrees (total-budget agg, bucket summary, the
        // above-boundary filter branch, the boundary-bucket window
        // branch) and the terminal sort's range-sampling pass — without
        // the checkpoint the wsTokenCount+qualityScore scan re-ran per
        // subtree (guide §7.2 duplicated subtrees; measured 2.13 s ->
        // 0.9 s at sf0.1). The checkpoint is (doc_id, n_tok, q, qb) —
        // four narrow columns, corpus-row-count sized.
        val scored = rd(s, d, "documents")
          .select($"doc_id".cast("long").as("doc_id"),
            wsTokenCount($"text").cast("long").as("n_tok"),
            qualityScore($"text").as("q"))
          .withColumn("qb", floor($"q" * 100).cast("long"))
          .localCheckpoint()
        val tot = scored.agg(
          floor(sum($"n_tok") / 3).cast("long").as("budget"))
        val bs = scored.groupBy($"qb").agg(sum($"n_tok").as("s"))
        // <=101 bucket rows: the single-partition window is over the
        // bucket SUMMARY, never the documents
        val bp = bs.withColumn("p", sum($"s").over(
          Window.orderBy($"qb".desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val bst = bp.crossJoin(broadcast(tot)).agg(
          max(when($"p" > $"budget", $"qb")).as("bstar"),
          min(when($"p" > $"budget", $"p" - $"s")).as("prevp"),
          max($"budget").as("budget"))
        val wq = scored.crossJoin(broadcast(bst))
        val full = wq.filter($"bstar".isNull || $"qb" > $"bstar")
          .select($"doc_id", $"n_tok", $"q")
        val wB = Window.partitionBy($"qb")
          .orderBy($"q".desc, $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val boundary = wq.filter($"qb" === $"bstar")
          .withColumn("cum", sum($"n_tok").over(wB))
          .filter($"cum" <= $"budget" - $"prevp")
          .select($"doc_id", $"n_tok", $"q")
        full.union(boundary).orderBy($"doc_id")
      },
      Some(s"""WITH t AS (${sqlQualityFrom("documents")}),
              |sc AS (SELECT doc_id,
              |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0)) AS BIGINT) AS n_tok,
              |    $sqlQualityExpr AS q
              |  FROM t),
              |s2 AS (SELECT doc_id, n_tok, q,
              |    CAST(floor(q * 100) AS BIGINT) AS qb FROM sc),
              |tot AS (SELECT CAST(floor(sum(n_tok) / 3) AS BIGINT) AS budget FROM s2),
              |bs AS (SELECT qb, sum(n_tok) AS s FROM s2 GROUP BY qb),
              |bp AS (SELECT qb, s, sum(s) OVER (ORDER BY qb DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p FROM bs),
              |bst AS (SELECT max(CASE WHEN p > budget THEN qb END) AS bstar,
              |    min(CASE WHEN p > budget THEN p - s END) AS prevp,
              |    max(budget) AS budget
              |  FROM bp, tot),
              |sel AS (
              |  SELECT s2.doc_id, s2.n_tok, s2.q FROM s2, bst
              |  WHERE bst.bstar IS NULL OR s2.qb > bst.bstar
              |  UNION ALL
              |  SELECT doc_id, n_tok, q FROM (
              |    SELECT s2.doc_id, s2.n_tok, s2.q,
              |      sum(s2.n_tok) OVER (PARTITION BY s2.qb
              |        ORDER BY s2.q DESC, s2.doc_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              |      bst.budget - bst.prevp AS rem
              |    FROM s2, bst WHERE s2.qb = bst.bstar)
              |  WHERE cum <= rem)
              |SELECT doc_id, n_tok, q FROM sel ORDER BY doc_id""".stripMargin)),

    // Incremental dedup of a NEW snapshot against the accumulated
    // HISTORY corpus — the production shape of continuous-crawl
    // ingestion (history 10^12 rows, new batch much smaller). The Bloom
    // filter is built DISTRIBUTED with Spark's own BloomFilterAggregate
    // (map-side partials + binary merge — the runtime-filter machinery,
    // no driver-side construction) and broadcast back; `false` probes
    // are definitive non-members (Bloom has no false negatives) and skip
    // the join entirely, so only the maybe-dup sliver pays the exact
    // hash anti-join. Output is EXACTLY the anti-join result regardless
    // of the filter's false-positive rate — the oracle pins that.
    "dd_incremental_history" -> Entry(
      (s, d) => {
        import s.implicits._
        import graft.plans.BloomExprs._
        // hashed once (checkpoint): base feeds the Bloom build, the probe
        // side, and the exact anti-join's history side — three subtrees
        // that each re-ran the md5 scan in the r5 plan
        val base = rd(s, d, "documents")
          .select($"doc_id".cast("long").as("doc_id"), md5($"text").as("h"))
          .localCheckpoint()
        val hist = base.filter($"doc_id" % 5 =!= 0)
        val nw = base.filter($"doc_id" % 5 === 0)
        // size the filter from the actual table cardinality (parquet
        // count is a metadata-only job), not a constant: a fixed 100k at
        // a 10^9-row history would drive the false-positive rate to ~1
        // and silently degrade the prefilter to the plain anti-join
        val expected = math.max(100000L,
          rd(s, d, "documents").count())
        val bloom = hist.agg(bloomAgg($"h", expected).as("bf"))
        // scalar-subquery wiring (InjectRuntimeFilter's shape): the
        // one-row bloom aggregate evaluates once, its binary becomes a
        // per-query constant for the probe
        val probed = nw
          .withColumn("maybe", bloomMightContainSubquery(bloom, $"h"))
        val definiteNew = probed.filter(!$"maybe").select($"doc_id", $"h")
        val verifiedNew = probed.filter($"maybe").select($"doc_id", $"h")
          .join(hist.select($"h").distinct(), Seq("h"), "left_anti")
          .select($"doc_id", $"h")
        definiteNew.union(verifiedNew).orderBy($"doc_id")
      },
      Some("""SELECT n.doc_id, md5(n.text) AS h FROM documents n
             |WHERE n.doc_id % 5 = 0 AND NOT EXISTS (
             |  SELECT 1 FROM documents h2
             |  WHERE h2.doc_id % 5 <> 0 AND md5(h2.text) = md5(n.text))
             |ORDER BY n.doc_id""".stripMargin)),

    // Exact duplicate-SPAN detection (the ExactSubstr family, Lee et al.
    // 2022 "Deduplicating Training Data Makes Language Models Better"):
    // find document pairs sharing a verbatim run of >= 8 tokens. The
    // suffix-array formulation is a single-machine algorithm; the
    // distributed equivalent is sliding 8-token windows — two documents
    // share an 8+-token span iff they share at least one window, and the
    // shared-window count lower-bounds the span length. Topology is
    // JOIN-FREE: explode windows (ordered tokens, NOT the distinct-set
    // P4 tokenizer — spans need sequence), one exchange groups by window,
    // windows seen in >64 docs are dropped as boilerplate (the hot-bucket
    // rule: at corpus scale a license header lands in millions of docs
    // and would emit O(n^2) pairs; dropping it loses nothing — every such
    // pair family is better handled by the paragraph/minhash ops), pairs
    // expand ROW-LOCALLY from the <=64-doc sorted group (<=2016 structs),
    // one more exchange aggregates per pair. Never a self-join, never a
    // product; both exchanges are capped-fanout. At 100 TB the window
    // string would be replaced by xxhash64(window) for shuffle width
    // (verify-on-collision), same shape.
    "dd_exact_substring" -> Entry(
      (s, d) => {
        import s.implicits._
        val W = 8
        val cap = 64
        // no pre-distinct: collect_set dedups (doc_id, win) repeats inside
        // the ONE win-keyed aggregation, so the r5 .distinct() was a full
        // extra exchange+sort of every window string for nothing
        // (guide §2.4 — remove shuffles outright; plan: 3 Exchange -> 2).
        // Window generation is the codegen'd alnum_grams expression: one
        // compiled pass per row instead of the interpreted regex-split +
        // filter + transform/sequence + slice + array_join chain (a doc
        // with fewer than W tokens yields an empty array, preserving the
        // r5 size(tk) >= W gate).
        val wins = rd(s, d, "documents")
          .select($"doc_id", explode(alnumGrams($"text", W)).as("win"))
        val grouped = wins.groupBy($"win")
          .agg(sort_array(collect_set($"doc_id")).as("ds"))
          .filter(size($"ds") >= 2 && size($"ds") <= cap)
        grouped
          .select($"win", explode(flatten(transform($"ds", (a, i) =>
            transform(slice($"ds", i + 2, size($"ds") - i - 1),
              b => struct(a.as("a"), b.as("b")))))).as("p"))
          .groupBy($"p.a".as("doc_a"), $"p.b".as("doc_b"))
          .agg(count(lit(1)).as("n_shared_windows"),
            min($"win").as("first_win"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH t0 AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                x -> length(x) > 0) AS tk
             |  FROM documents),
             |t1 AS (SELECT doc_id, tk, len(tk) AS n FROM t0 WHERE len(tk) >= 8),
             |wins AS (SELECT DISTINCT doc_id, array_to_string(tk[i+1:i+8], ' ') AS win
             |  FROM (SELECT doc_id, tk, unnest(generate_series(0, n - 8)) AS i FROM t1)),
             |f AS (SELECT win FROM wins GROUP BY win
             |  HAVING count(*) BETWEEN 2 AND 64),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.win
             |  FROM wins a JOIN wins b ON a.win = b.win AND a.doc_id < b.doc_id
             |  JOIN f ON f.win = a.win)
             |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared_windows,
             |  min(win) AS first_win
             |FROM p GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin)),

    // Maximal-shared-SPAN length (the full ExactSubstr answer: not just
    // "these documents share an 8-token window" but "their longest
    // verbatim run is K tokens, in R distinct spans"). Shared windows at
    // positions (pa, pb) belong to one contiguous span iff they sit on
    // the same DIAGONAL d = pa - pb at consecutive pa — so max span =
    // longest consecutive-pa run per (pair, diagonal) + W-1. Runs are
    // found with the classic pa - row_number() grouping trick, and the
    // window partitions by (a, b) ONLY while ordering by (d, pa): within
    // a diagonal pa and row_number both step by 1 so pa - rn is constant,
    // and grp collisions across diagonals are resolved by keying the
    // run-count agg on (a, b, d, grp) — this buys the whole tail of the
    // pipeline (run window, run agg, pair agg) a SINGLE (a, b) exchange
    // instead of one per key refinement. Window/agg frames are bounded
    // by shared-window count per pair <= min(doc length) — document-
    // bounded, never corpus-bounded. Same join-free capped pair
    // expansion as dd_exact_substring.
    "dd_exact_substring_span" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val W = 8
        val cap = 64
        // codegen'd window generation (see dd_exact_substring); posexplode
        // preserves the window-position index the diagonal math needs
        val wins = rd(s, d, "documents")
          .select($"doc_id", posexplode(alnumGrams($"text", W)))
          .withColumnRenamed("pos", "p").withColumnRenamed("col", "win")
        val grouped = wins.groupBy($"win")
          .agg(collect_list(struct($"doc_id", $"p")).as("occ"))
          .filter {
            val nd = size(array_distinct(transform($"occ", _.getField("doc_id"))))
            nd >= 2 && nd <= cap
          }
        val pairs = grouped.select(explode(flatten(transform($"occ", x =>
          transform(filter($"occ", y => y.getField("doc_id") > x.getField("doc_id")),
            y => struct(x.getField("doc_id").as("a"), y.getField("doc_id").as("b"),
              x.getField("p").as("pa"),
              (x.getField("p") - y.getField("p")).as("d")))))).as("pr"))
          .select($"pr.a".as("a"), $"pr.b".as("b"), $"pr.pa".as("pa"), $"pr.d".as("d"))
        val w1 = Window.partitionBy($"a", $"b").orderBy($"d", $"pa")
        pairs
          .withColumn("grp", $"pa" - row_number().over(w1))
          .groupBy($"a", $"b", $"d", $"grp").agg(count(lit(1)).as("run"))
          .groupBy($"a", $"b")
          .agg((max($"run") + (W - 1)).as("max_span_tokens"),
            count(lit(1)).as("n_spans"))
          .select($"a".as("doc_a"), $"b".as("doc_b"),
            $"max_span_tokens", $"n_spans")
          .orderBy($"doc_a", $"doc_b")
      },
      Some("""WITH t0 AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                x -> length(x) > 0) AS tk
             |  FROM documents),
             |t1 AS (SELECT doc_id, tk, len(tk) AS n FROM t0 WHERE len(tk) >= 8),
             |wins AS (SELECT doc_id, i AS p, array_to_string(tk[i+1:i+8], ' ') AS win
             |  FROM (SELECT doc_id, tk, unnest(generate_series(0, n - 8)) AS i FROM t1)),
             |f AS (SELECT win FROM wins GROUP BY win
             |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 64),
             |pr AS (SELECT a.doc_id AS a, b.doc_id AS b, a.p AS pa, a.p - b.p AS d
             |  FROM wins a JOIN wins b ON a.win = b.win AND a.doc_id < b.doc_id
             |  JOIN f ON f.win = a.win),
             |r AS (SELECT a, b, d, pa,
             |    pa - row_number() OVER (PARTITION BY a, b ORDER BY d, pa) AS grp
             |  FROM pr),
             |rn AS (SELECT a, b, CAST(count(*) AS BIGINT) AS run
             |  FROM r GROUP BY a, b, d, grp)
             |SELECT a AS doc_a, b AS doc_b,
             |  CAST(max(run) + 7 AS BIGINT) AS max_span_tokens,
             |  CAST(count(*) AS BIGINT) AS n_spans
             |FROM rn GROUP BY a, b ORDER BY doc_a, doc_b""".stripMargin))
  )
}
