package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Bounded-memory SKETCH operators — the approximate structures a 100 TB
  * corpus profile runs where the exact answer would shuffle the corpus:
  * HyperLogLog distinct-token estimation and Count-Min frequency
  * estimation. Both are built from portable deterministic hashing
  * (md5 / the polynomial hash family mirrored in DuckDB SQL), all-integer
  * register arithmetic, and IEEE float ops in one pinned order — so the
  * approximate structure itself is oracle-exact: the DuckDB mirror
  * recomputes the identical sketch, and the hash match proves the
  * bounded topology computes exactly the estimate it claims.
  *
  * Scale design (the whole point of a sketch):
  *  - HLL: the token stream collapses into a (source × 256-register)
  *    max-aggregate — map-side combined, bounded keyspace at any corpus
  *    size; the exact-distinct arm included here is the small-scale
  *    AUDIT column (at 100 TB you keep the sketch and drop the audit,
  *    which is the only part that shuffles token-keyed data).
  *  - CMS: the stream collapses into a 4×64-cell count-aggregate
  *    (map-side combined); point-frequency queries probe the broadcast
  *    sketch. The exact-df arm is again the audit.
  */
object SketchQueries {
  import Q._
  import PipelineQueries.{sqlToks, sqlStrHash}

  /** 2^50 as BIGINT — the HLL register-term scale. Terms are
    * 2^(50 - min(rho, 50)): exact integers, max total 256·2^50 = 2^58,
    * no overflow, summation-order-free.
    */
  private val Scale: Long = 1L << 50

  // CMS row seeds (any fixed distinct longs; mirrored literally in SQL)
  private val CmsSeeds = Seq(0x9e3779b9L, 0x85ebca6bL, 0xc2b2ae35L, 0x27d4eb2fL)
  private val CmsW = 64

  val entries: Seq[(String, Entry)] = Seq(

    // HyperLogLog distinct-token estimate per source (p=8, m=256
    // registers), Flajolet et al. 2007, vs the exact distinct count.
    // Register index = first 2 hex chars of md5(token); rho = leading
    // zero BITS of the next 60 bits + 1, computed from the hex string
    // (leading '0' chars ×4 + a nibble ladder) so both engines read the
    // same bits without int128 support. Register terms are exact
    // integers 2^(50-min(rho,50)) summed as BIGINT (order-free); the
    // estimate is alpha·m²·2^50/S with every float op in one pinned
    // order. Small-range (linear-counting) correction included per the
    // published algorithm: when raw ≤ 2.5m and empty registers exist,
    // est = m·ln(m/V).
    "sk_hll_distinct" -> Entry(
      (s, d) => {
        import s.implicits._
        // ONE tokenize pass + ONE occurrence-level shuffle: HLL register
        // updates are multiplicity-blind (max rho over a register), so
        // both the sketch AND the exact audit arm run over the DISTINCT
        // (source, token) frame — collapsed first, checkpointed (it is
        // vocabulary-bounded, far smaller than the occurrence stream the
        // r5 plan tokenized and shuffled twice), md5 computed once per
        // distinct token instead of once per occurrence.
        val tk = rd(s, d, "documents")
          .select($"source", explode(tokens($"text")).as("token"))
          .groupBy($"source", $"token").agg(count(lit(1)).as("occ"))
          .select($"source", $"token")
          .localCheckpoint()
        val h = md5($"token")
        val hx = substring(h, 3, 15)
        val zeros = length(regexp_extract(hx, "^0*", 0))
        val cch = hx.substr(zeros + lit(1), lit(1))
        val nz = when(cch === "1", 3)
          .when(cch.isin("2", "3"), 2)
          .when(cch.isin("4", "5", "6", "7"), 1)
          .otherwise(0)
        val regs = tk
          .select($"source", substring(h, 1, 2).as("reg"),
            (zeros * 4 + nz + 1).as("rho"))
          .groupBy($"source", $"reg")
          .agg(max($"rho").as("mj"))
        val sk = regs
          .select($"source", $"reg",
            expr("shiftleft(CAST(1 AS BIGINT), 50 - least(mj, 50))").as("term"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_used"), sum($"term").as("s_used"))
          .withColumn("s_int", $"s_used" + (lit(256L) - $"n_used") * lit(Scale))
        val exact = tk.groupBy($"source")
          .agg(count(lit(1)).as("n_exact"))
        val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
        val rawEst = alpha * lit(65536.0) *
          (lit(Scale.toDouble) / $"s_int".cast("double"))
        val v = lit(256L) - $"n_used"
        val lcEst = when(v > 0, lit(256.0) * log(lit(256.0) / v.cast("double")))
        sk.join(exact, "source")
          .withColumn("est_raw", round(rawEst, 4))
          .withColumn("est_lc", round(lcEst, 4))
          .withColumn("est",
            when($"est_raw" <= 640.0 && v > 0, $"est_lc").otherwise($"est_raw"))
          .withColumn("rel_err",
            round(abs($"est" - $"n_exact") / $"n_exact".cast("double"), 3))
          .select($"source", $"n_exact", $"n_used", $"s_int",
            $"est_raw", $"est_lc", $"est", $"rel_err")
          .orderBy($"source")
      },
      Some(s"""WITH tk AS (SELECT source, unnest($sqlToks) AS token FROM documents),
              |hh AS (SELECT source, md5(token) AS h FROM tk),
              |rr AS (SELECT source, substr(h, 1, 2) AS reg,
              |    length(regexp_extract(substr(h, 3, 15), '^0*')) AS z,
              |    substr(substr(h, 3, 15),
              |      length(regexp_extract(substr(h, 3, 15), '^0*')) + 1, 1) AS c
              |  FROM hh),
              |rho AS (SELECT source, reg,
              |    z * 4 + CASE WHEN c = '1' THEN 3
              |      WHEN c IN ('2','3') THEN 2
              |      WHEN c IN ('4','5','6','7') THEN 1 ELSE 0 END + 1 AS rho
              |  FROM rr),
              |mj AS (SELECT source, reg, max(rho) AS mj FROM rho GROUP BY source, reg),
              |sk AS (SELECT source, count(*) AS n_used,
              |    CAST(sum(CAST(1 AS BIGINT) << (50 - least(mj, 50))) AS BIGINT) AS s_used
              |  FROM mj GROUP BY source),
              |si AS (SELECT source, n_used,
              |    s_used + (256 - n_used) * CAST($Scale AS BIGINT) AS s_int FROM sk),
              |ex AS (SELECT source, count(DISTINCT token) AS n_exact FROM tk GROUP BY source),
              |j AS (SELECT si.source, n_exact, n_used, s_int,
              |    round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
              |      (${Scale.toDouble} / CAST(s_int AS DOUBLE)), 4) AS est_raw,
              |    CASE WHEN 256 - n_used > 0 THEN
              |      round(256.0 * ln(256.0 / CAST(256 - n_used AS DOUBLE)), 4)
              |    END AS est_lc,
              |    256 - n_used AS v
              |  FROM si JOIN ex USING (source))
              |SELECT source, n_exact, n_used, s_int, est_raw, est_lc,
              |  CASE WHEN est_raw <= 640.0 AND v > 0 THEN est_lc ELSE est_raw END AS est,
              |  round(abs(CASE WHEN est_raw <= 640.0 AND v > 0 THEN est_lc ELSE est_raw END
              |            - n_exact) / CAST(n_exact AS DOUBLE), 3) AS rel_err
              |FROM j ORDER BY source""".stripMargin)),

    // Count-Min sketch (Cormode & Muthukrishnan 2005) over document
    // frequencies: d=4 rows × w=64 columns, row hashes from the portable
    // polynomial family. The probe set is the exact top-10 tokens by df
    // (deterministic tiebreak); for each, est = min over rows of its
    // cell — the output surfaces the CMS one-sided guarantee
    // (never an underestimate) as a checked column.
    "sk_cms_heavy_hitters" -> Entry(
      (s, d) => {
        import s.implicits._
        val tk = rd(s, d, "documents")
          .select(explode(tokens($"text")).as("token"))
        def cellOf(i: Int) = struct(
          lit(i).as("r"),
          pmod(polyHashStr($"token", CmsSeeds(i)), lit(CmsW.toLong)).as("cl"))
        // ONE tokenize+explode scan: the exact df aggregate is computed
        // first, and the sketch cells derive from it — a cell's count is
        // sum(df) over the tokens hashing into it, identical to counting
        // raw occurrences but over |vocab| rows instead of the full
        // occurrence stream (guide §2.3: aggregate before you shuffle;
        // the r5 plan tokenized the corpus twice). df is checkpointed
        // because it also feeds the probe top-10 and the probe cells.
        val df = tk.groupBy($"token").agg(count(lit(1)).as("df_exact"))
          .localCheckpoint()
        val cells = df
          .select($"df_exact",
            explode(array((0 until 4).map(cellOf): _*)).as("rc"))
          .select($"df_exact", $"rc.r".as("r"), $"rc.cl".as("cl"))
          .groupBy($"r", $"cl")
          .agg(sum($"df_exact").as("c"))
        val probe = df.orderBy($"df_exact".desc, $"token").limit(10)
        val pc = probe
          .select($"token", $"df_exact",
            explode(array((0 until 4).map(cellOf): _*)).as("rc"))
          .select($"token", $"df_exact", $"rc.r".as("r"), $"rc.cl".as("cl"))
        pc.join(broadcast(cells), Seq("r", "cl"))
          .groupBy($"token")
          .agg(max($"df_exact").as("df_exact"), min($"c").as("cms_est"))
          .withColumn("no_underestimate", $"cms_est" >= $"df_exact")
          .select($"token", $"df_exact", $"cms_est", $"no_underestimate")
          .orderBy($"df_exact".desc, $"token")
      },
      Some {
        def h(seed: Long) = s"(${sqlStrHash("token", seed)}) % $CmsW"
        val rows = (0 until 4).map(i =>
          s"SELECT token, $i AS r, ${h(CmsSeeds(i))} AS cl FROM tk")
          .mkString("\n|  UNION ALL ")
        s"""WITH tk AS (SELECT unnest($sqlToks) AS token FROM documents),
           |hc AS ($rows),
           |cells AS (SELECT r, cl, count(*) AS c FROM hc GROUP BY r, cl),
           |df AS (SELECT token, count(*) AS df_exact FROM tk GROUP BY token),
           |probe AS (SELECT token, df_exact FROM df
           |  ORDER BY df_exact DESC, token LIMIT 10),
           |pc AS (SELECT p.token, p.df_exact, hc.r, hc.cl
           |  FROM probe p JOIN (SELECT DISTINCT token, r, cl FROM hc) hc USING (token)),
           |est AS (SELECT token, max(df_exact) AS df_exact, min(c) AS cms_est
           |  FROM pc JOIN cells USING (r, cl) GROUP BY token)
           |SELECT token, df_exact, cms_est, cms_est >= df_exact AS no_underestimate
           |FROM est ORDER BY df_exact DESC, token""".stripMargin
      }),

    // SpaceSaving top-k via the native SketchAgg aggregate
    // (plans.TopKAgg): one-pass bounded-memory frequent items with NO
    // item-keyed shuffle — k counters per task, partials merged
    // pairwise. Gated in the EXACT regime (distinct sources = 20 <=
    // k = 64, so no eviction happens at any partitioning/merge order
    // and every err is 0 — the summary provably equals the exact
    // per-source counts, hence hash-gateable); the over-capacity
    // SpaceSaving regime (evictions, error bounds, heavy-hitter
    // guarantee) is pinned by TopKAggSpec.
    "sk_spacesaving_topk" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents")
          .agg(graft.plans.TopKAgg.spaceSavingTopK($"source", 64).as("tk"))
          .select(explode($"tk").as("e"))
          .select($"e.item".as("source"), $"e.cnt".as("n"), $"e.err".as("err"))
          .orderBy($"n".desc, $"source")
      },
      Some("""SELECT source, count(*) AS n, CAST(0 AS BIGINT) AS err
             |FROM documents GROUP BY source
             |ORDER BY n DESC, source""".stripMargin)),

    // KMV / bottom-k THETA sketch with set algebra (Bar-Yossef et al.
    // 2002; the theta-sketch framework): distinct-user estimates for two
    // event cohorts (A = click/view, B = purchase/signup) plus their
    // UNION and INTERSECTION — the sketch-level set operations no HLL
    // can do (HLL unions but cannot intersect). The sketch is the native
    // bounded-state Kmv SketchAgg (plans/KmvAgg.scala): k=12 smallest distinct
    // hashes per cohort, O(k) per task, map-side partial merges — the
    // corpus is never value-shuffled for the estimates. All downstream
    // algebra is exact integer arithmetic on the two 12-element arrays
    // (estimate = (k-1)·M div theta; union = bottom-k of the merged
    // arrays; intersection = theta-filtered common values scaled by the
    // min theta), so the DuckDB mirror — distinct + sort + limit CTEs —
    // computes the identical numbers. The exact_* columns are the
    // test-scale AUDIT arm (the only part that shuffles user-keyed
    // data; at 100 TB you keep the sketch and drop the audit).
    "sk_kmv_theta" -> Entry(
      (s, d) => {
        import s.implicits._
        import graft.plans.KmvSketch.kmvSketch
        val M = graft.functions.TextFunctions.HashMod
        val ev = rd(s, d, "events")
          .filter($"event_type".isin("click", "view", "purchase", "signup"))
          .select($"user_id",
            when($"event_type".isin("click", "view"), "A")
              .otherwise("B").as("set_id"),
            pmod(pmod($"user_id", lit(M)) * lit(2654435761L), lit(M)).as("h"))
        val sk = ev.groupBy($"set_id").agg(kmvSketch($"h", 12).as("sk"))
          .agg(
            first(when($"set_id" === "A", $"sk"), ignoreNulls = true).as("ska"),
            first(when($"set_id" === "B", $"sk"), ignoreNulls = true).as("skb"))
        val exact = ev.groupBy($"user_id")
          .agg(max(when($"set_id" === "A", 1).otherwise(0)).as("ina"),
            max(when($"set_id" === "B", 1).otherwise(0)).as("inb"))
          .agg(count(when($"ina" === 1, 1)).as("exact_a"),
            count(when($"inb" === 1, 1)).as("exact_b"),
            count(lit(1)).as("exact_union"),
            count(when($"ina" === 1 && $"inb" === 1, 1)).as("exact_int"))
        sk.crossJoin(broadcast(exact)).selectExpr(
          s"11 * ${M}L div element_at(ska, 12) AS est_a",
          s"11 * ${M}L div element_at(skb, 12) AS est_b",
          s"11 * ${M}L div element_at(slice(array_sort(array_union(ska, skb)), 1, 12), 12) AS est_union",
          s"size(filter(array_intersect(ska, skb), v -> v < least(element_at(ska, 12), element_at(skb, 12)))) * ${M}L div least(element_at(ska, 12), element_at(skb, 12)) AS est_int",
          "exact_a", "exact_b", "exact_union", "exact_int")
      },
      Some("""WITH e AS (SELECT user_id,
             |    CASE WHEN event_type IN ('click','view') THEN 'A' ELSE 'B' END AS set_id,
             |    ((user_id % 1000000007) * 2654435761) % 1000000007 AS h
             |  FROM events
             |  WHERE event_type IN ('click','view','purchase','signup')),
             |ask AS (SELECT DISTINCT h FROM e WHERE set_id = 'A' ORDER BY h LIMIT 12),
             |bsk AS (SELECT DISTINCT h FROM e WHERE set_id = 'B' ORDER BY h LIMIT 12),
             |ka AS (SELECT max(h) AS th FROM ask),
             |kb AS (SELECT max(h) AS th FROM bsk),
             |ku AS (SELECT max(h) AS th FROM (
             |  SELECT h FROM (SELECT h FROM ask UNION SELECT h FROM bsk)
             |  ORDER BY h LIMIT 12)),
             |ri AS (SELECT count(*) AS r FROM ask JOIN bsk USING (h), ka, kb
             |       WHERE h < least(ka.th, kb.th)),
             |ex AS (SELECT count(CASE WHEN ina = 1 THEN 1 END) AS exact_a,
             |         count(CASE WHEN inb = 1 THEN 1 END) AS exact_b,
             |         count(*) AS exact_union,
             |         count(CASE WHEN ina = 1 AND inb = 1 THEN 1 END) AS exact_int
             |       FROM (SELECT user_id,
             |           max(CASE WHEN set_id = 'A' THEN 1 ELSE 0 END) AS ina,
             |           max(CASE WHEN set_id = 'B' THEN 1 ELSE 0 END) AS inb
             |         FROM e GROUP BY user_id))
             |SELECT CAST(11 AS BIGINT) * 1000000007 // ka.th AS est_a,
             |  CAST(11 AS BIGINT) * 1000000007 // kb.th AS est_b,
             |  CAST(11 AS BIGINT) * 1000000007 // ku.th AS est_union,
             |  CAST(ri.r AS BIGINT) * 1000000007 // least(ka.th, kb.th) AS est_int,
             |  exact_a, exact_b, exact_union, exact_int
             |FROM ka, kb, ku, ri, ex""".stripMargin))
  )
}
