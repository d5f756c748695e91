package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** UDF-free, codegen-friendly column functions for the text/dedup/
  * similarity operators. Everything here compiles to Catalyst built-in
  * expressions (higher-order array functions, regexp, hash) — no Scala
  * closures on the hot path, so whole-stage codegen stays intact and the
  * same expression is pushable/prunable at 100 TB.
  */
object TextFunctions {

  /** P4 tokenizer as a pure expression: lowercase alnum tokens, len>2,
    * distinct, sorted. Reference: S3searchFileContentByString.py:29-37.
    */
  def tokens(c: Column): Column =
    array_sort(array_distinct(filter(
      split(lower(c), "[^a-z0-9]+"), w => length(w) > 2)))

  def tokenStr(c: Column): Column = array_join(tokens(c), " ")

  /** Keyword-density score (C2): number of keywords contained in the
    * lowered text. Fixed small keyword lists fold to a codegen'd chain.
    */
  def keywordScore(lowText: Column, kws: Seq[String]): Column =
    kws.map(k => when(lowText.contains(k), 1).otherwise(0))
      .reduce(_ + _)

  // ---- URL canonicalization (the URL-dedup key) --------------------------
  // RFC 3986 normalization subset + web-crawl practice: scheme and host
  // are case-insensitive (lowered), default ports and a leading "www."
  // are noise, fragments never reach the server, utm_*/fbclid/gclid are
  // client-side tracking. Path CASE and non-tracking query params are
  // significant and preserved. All regexp/HOF built-ins — codegen'd.

  /** Registered host of a URL: lowered authority minus port and a leading
    * "www.".
    */
  def urlHost(u: Column): Column =
    regexp_replace(
      regexp_replace(
        lower(regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1)),
        ":\\d+$", ""),
      "^www\\.", "")

  /** Canonical form of a URL (see module note for the rule set). A
    * non-default explicit port is preserved.
    */
  def urlCanon(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1))
    val port = regexp_extract(auth, ":(\\d+)$", 1)
    val portSfx = when(port === "", lit(""))
      .when(scheme === "https" && port === "443", lit(""))
      .when(scheme === "http" && port === "80", lit(""))
      .otherwise(concat(lit(":"), port))
    val noFrag = regexp_replace(u, "#.*", "")
    val rest = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*(.*)", 1)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1),
      "^(.+?)/+$", "$1")
    val query = regexp_extract(rest, "\\?(.*)", 1)
    val keptQ = array_join(
      filter(split(query, "&"),
        p => !p.rlike("^(utm_[A-Za-z]+|fbclid|gclid)=")),
      "&")
    concat(scheme, lit("://"), urlHost(u), portSfx, path,
      when(keptQ === "", lit("")).otherwise(concat(lit("?"), keptQ)))
  }

  /** Deterministic polynomial rolling hash over the first `maxChars`
    * characters — the document fingerprint. Kept under 2^63 via mod at
    * every step so the arithmetic is portable across engines.
    */
  val HashMod = 1000000007L

  def polyHash(c: Column, maxChars: Int): Column = {
    val codes = transform(
      sequence(lit(1), least(length(c), lit(maxChars))),
      i => ascii(c.substr(i, lit(1))).cast("long"))
    aggregate(codes, lit(0L), (acc, x) => pmod(acc * 31 + x, lit(HashMod)))
  }

  /** Same polynomial hash over a full string (token), with a salt seed —
    * the MinHash family member h_s(token).
    */
  def polyHashStr(c: Column, seed: Long): Column = {
    val codes = transform(
      sequence(lit(1), length(c)),
      i => ascii(c.substr(i, lit(1))).cast("long"))
    aggregate(codes, lit(seed % HashMod),
      (acc, x) => pmod(acc * 131 + x, lit(HashMod)))
  }

  /** MinHash signature of a token array: for each of `k` salted hash
    * functions, the minimum hash over the tokens. Returns array<long>.
    * Backed by the native codegen'd expression (graft.plans.MinHashSigExpr)
    * — identical integer math to the HOF form, compiled-loop speed (the
    * per-char `aggregate` HOF has no codegen and ran interpreted at
    * ~40 ms/doc in round 2).
    */
  def minHashSig(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.MinHashSigExpr(GraftColumnBridge.expression(toks), k))
  }

  /** LSH band key: the signature banded into groups of `rows` values,
    * each band hashed to one long. Returns array<string> of band keys.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column = {
    val keys = (0 until bands).map { b =>
      concat_ws("-", lit(b.toString),
        aggregate(slice(sig, b * rows + 1, rows), lit(0L),
          (acc, x) => pmod(acc * 31 + x, lit(HashMod))).cast("string"))
    }
    array(keys: _*)
  }

  /** SimHash over tokens: 32-bit majority-vote fingerprint built from the
    * per-token polynomial hashes (bit b weighted +1/-1). Backed by the
    * native codegen'd expression (graft.plans.SimHashExpr) — same math.
    */
  def simHash(toks: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.SimHashExpr(GraftColumnBridge.expression(toks)))
  }

  /** Count of `text`'s character bigrams that are in the trained `model`
    * set. Backed by the native codegen'd expression
    * (graft.plans.BigramHitsExpr) — scores straight off the string, no
    * per-row bigram array and no interpreted `filter` HOF, so the
    * typicality scoring pass stays inside whole-stage codegen.
    */
  def bigramHits(text: Column, model: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.BigramHitsExpr(GraftColumnBridge.expression(text), model))
  }

  /** Gopher repetition-filter signals of `text` as a struct
    * `(n_words, n_distinct, top_bigram, top_n)` — word count, distinct
    * words, and the modal word-bigram with its count (ties to the
    * lexicographically largest bigram), all in one compiled pass
    * (graft.plans.GopherStatsExpr) inside whole-stage codegen.
    */
  def gopherStats(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.GopherStatsExpr(GraftColumnBridge.expression(text)))
  }

  /** Space-joined word n-grams of `text` (tokens = maximal non-whitespace
    * runs of the lowercased text; fewer than n words → empty array).
    * Backed by the native codegen'd expression (graft.plans.WordGramsExpr).
    */
  def alnumGrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.AlnumGramsExpr(GraftColumnBridge.expression(text), n))
  }

  def wordGrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.WordGramsExpr(GraftColumnBridge.expression(text), n))
  }

  /** Distinct word n-grams of `text` with within-doc occurrence counts
    * (`array<struct<g,c>>`, first-occurrence order). Exploding this is
    * the shuffle-free equivalent of `explode(wordGrams).groupBy(g,
    * doc_id).count()` — row-local map-side combining taken to its limit.
    */
  def wordGramCounts(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.WordGramCountsExpr(GraftColumnBridge.expression(text), n))
  }

  /** Sum of a broadcast micro-log table over the hashed word n-grams of
    * a token array (codegen'd graft.plans.HashedGramMicroSumExpr) — the
    * scoring pass of the hashed-feature model family (DSIR weights,
    * LM-perplexity gate). Bucket = polyHash(gram, seed) % table.length.
    */
  def hashedGramMicroSum(toks: Column, n: Int, seed: Long,
      table: Array[Long]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.HashedGramMicroSumExpr(
      GraftColumnBridge.expression(toks), n, seed, table))
  }

  /** Bucket ids of a token array's hashed word n-grams (codegen'd
    * graft.plans.HashedGramBucketsExpr) — the train-pass companion of
    * [[hashedGramMicroSum]].
    */
  def hashedGramBuckets(toks: Column, n: Int, seed: Long, mod: Long): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.HashedGramBucketsExpr(
      GraftColumnBridge.expression(toks), n, seed, mod))
  }

  /** [n, sum c_i * micro-ln(c_i)] over the byte histogram (codegen'd
    * graft.plans.CharEntropyPartsExpr) — the exact-integer parts of
    * per-doc Shannon character entropy; combine as
    * ln(n) - sum / (n * 1e6).
    */
  def charEntropyParts(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.CharEntropyPartsExpr(
      GraftColumnBridge.expression(text)))
  }

  /** Unicode NFC canonicalization (native codegen'd; DuckDB-named). */
  def nfcNormalize(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.NfcNormalizeExpr(
      GraftColumnBridge.expression(text)))
  }

  /** Accent fold: NFD + combining-mark removal (native codegen'd). */
  def stripAccents(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.StripAccentsExpr(
      GraftColumnBridge.expression(text)))
  }

  /** Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Character n-gram shingles (distinct, sorted) for near-dup detection.
    * Texts shorter than n yield an empty set (no truncated shingles).
    */
  def shingles(c: Column, n: Int, maxChars: Int): Column =
    when(length(c) < n, array().cast("array<string>"))
      .otherwise(array_sort(array_distinct(transform(
        sequence(lit(1), least(length(c), lit(maxChars)) - (n - 1)),
        i => c.substr(i, lit(n))))))

  // ---------------------------------------------------------------------
  // Embedding math (double precision, sequential fold — deterministic and
  // portable). Inputs are array<float>; cast element-wise first.
  // ---------------------------------------------------------------------
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Cosine similarity, backed by the native codegen'd expression
    * (graft.plans.CosineSimExpr): the same sequential-fold double math as
    * the higher-order-function form (`cosineHof`, kept in test scope next
    * to VecExprsSpec as its reference), at compiled-loop speed and without
    * breaking the surrounding whole-stage-codegen span (zip_with/aggregate
    * have no codegen — the embedding queries pay one interpreted cosine
    * per candidate pair on the old path).
    */
  def cosine(aF: Column, bF: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.CosineSimExpr(
      GraftColumnBridge.expression(aF), GraftColumnBridge.expression(bF)))
  }

  /** Random-hyperplane LSH bucket for an embedding (sign-bit signature
    * over `planes`): the ANN scale path — candidates are restricted to
    * one bucket instead of the full corpus. Hyperplanes are generated
    * deterministically from a seed so bucketing is reproducible.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val r = new graft.gen.Rng(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(r.nextDouble() * 2 - 1))
  }

  /** OR-amplified hyperplane LSH: `bands` independent bucket keys of
    * `rowsPerBand` sign bits each. A pair is a near-dup CANDIDATE if it
    * shares ANY band key — recall 1-(1-p^r)^b instead of p^r, the banded
    * construction from the MinHash-LSH literature applied to random
    * hyperplanes. Returns array<string> of "b-bits" keys to explode and
    * equi-join on — the candidate generator that replaces all-pairs
    * embedding comparison at scale.
    */
  def hyperplaneBands(bands: Int, rowsPerBand: Int, dim: Int,
      seed: Long = 42L): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(bands)(b => hyperplanes(rowsPerBand, dim, seed + 1000L * b))

  /** Native codegen'd forms of the higher-order-function `lshBucket` /
    * `lshBucketBands` (kept in test scope next to VecExprsSpec as their
    * reference): the hyperplanes are regenerated inside the expression
    * from the same (count, dim, seed) primitives, so the keys are
    * identical to the HOF forms over `hyperplanes(nPlanes, dim, seed)` —
    * asserted bit-equal in VecExprsSpec — while the 32 plane dot products
    * per row run as one compiled loop instead of 32 interpreted
    * `aggregate` folds.
    */
  def lshBucketNative(vecF: Column, nPlanes: Int, dim: Int,
      seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.HyperplaneBucketExpr(
      GraftColumnBridge.expression(vecF), nPlanes, dim, seed))
  }

  def lshBucketBandsNative(vecF: Column, bands: Int, rowsPerBand: Int,
      dim: Int, seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.plans.HyperplaneBandsExpr(
      GraftColumnBridge.expression(vecF), bands, rowsPerBand, dim, seed))
  }

  // ---------------------------------------------------------------------
  // Text-analysis metrics (training-data pipeline operators).
  // ---------------------------------------------------------------------
  /** Whitespace token count — `size(filter(split(c, "\\s+"), length > 0))`
    * semantics via the codegen'd graft.plans.WordCountExpr (one compiled
    * scan, no token-array materialization).
    */
  def wsTokenCount(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.plans.WordCountExpr(GraftColumnBridge.expression(c)))
  }

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * punctuation marks each count as one token. Expressed via
    * regexp_extract_all (portable — no lookarounds) so the same pattern
    * runs under both Java regex and RE2.
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Punctuation character ratio. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[.,;:!?'\"()-]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** Stopword hit ratio over whitespace tokens. */
  val Stopwords: Seq[String] =
    Seq("the", "and", "for", "with", "from", "that", "this", "are", "was")

  def stopwordRatio(c: Column): Column = {
    val toks = filter(split(lower(c), "[^a-z0-9]+"), w => length(w) > 0)
    val hits = size(filter(toks, t =>
      Stopwords.map(s => t === s).reduce((x, y) => x || y)))
    hits.cast("double") / greatest(size(toks), lit(1)).cast("double")
  }

  /** Quality score in [0,1]: length band + punctuation sanity + stopword
    * presence (heuristic quality classifier for training-data filtering).
    */
  def qualityScore(c: Column): Column = {
    val lenScore = when(length(c).between(100, 5000), 0.4)
      .when(length(c).between(20, 10000), 0.2).otherwise(0.0)
    val punctScore = when(punctRatio(c) < 0.1, 0.3).otherwise(0.1)
    val stopScore = when(stopwordRatio(c) > 0.05, 0.3).otherwise(0.0)
    round(lenScore + punctScore + stopScore, 2)
  }

  /** PII redaction for training-data pipelines: emails, phone numbers
    * (the R9 sweep's shapes), and SSNs replaced by type tokens, as a
    * codegen'd regexp_replace chain — order matters (emails first, or the
    * phone pattern could eat digit runs inside local parts).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "(?:\\(\\d{3}\\)\\s*|\\b\\d{3}[-.\\s]?)\\d{3}[-.\\s]??\\d{4}\\b"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        SsnRe, "<SSN>"),
      PhoneRe, "<PHONE>")

  /** Language-ID by stopword-lexicon hits (n-gram heuristic analog):
    * argmax over per-language scores with a deterministic tiebreak ladder.
    */
  val LangLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "with", "from", "that"),
    "es" -> Seq("el", "la", "los", "por", "con"),
    "de" -> Seq("der", "die", "und", "mit", "von"),
    "fr" -> Seq("le", "les", "des", "avec", "pour"))

  def langId(c: Column): Column = {
    // score = DISTINCT lexicon words present (array_intersect dedups and
    // is a native codegen'd set op; the r2 per-token chained-OR lambda ran
    // interpreted per element — 1.4 s at sf0.1 for 5-word lexicons).
    // Empty split artifacts ("") are never lexicon members, so no filter.
    val toks = split(lower(c), "[^a-z]+")
    val scores = LangLexicons.map { case (lang, lex) =>
      lang -> size(array_intersect(toks, typedLit(lex)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Mojibake repair table (ftfy-style, the high-frequency subset): each
    * pair maps a UTF-8-bytes-decoded-as-Latin-1 sequence back to the
    * intended character. Applied IN ORDER (the order is part of the
    * contract — oracle SQL is generated from this same constant). Web
    * crawls carry these constantly; a dedup/quality pipeline that
    * doesn't normalize them counts "CafÃ©" and "Café" as different
    * documents.
    */
  val MojibakePairs: Seq[(String, String)] = Seq(
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã±" -> "ñ", "Ã¼" -> "ü", "Ã¶" -> "ö", "Ã¤" -> "ä", "Ã¯" -> "ï",
    "â€™" -> "’", "â€œ" -> "“")

  /** Apply [[MojibakePairs]] as a chained replace — every stage is a
    * codegen'd string op, so the whole repair stays inside one
    * WholeStageCodegen span. Row-local, shuffle-free at any scale.
    */
  def fixMojibake(c: Column): Column =
    MojibakePairs.foldLeft(c) { case (acc, (bad, good)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(bad), good)
    }
}
