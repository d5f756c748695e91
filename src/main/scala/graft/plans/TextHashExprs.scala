package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static bridge for the MinHash/SimHash hash loops — compiled JVM loops
  * instead of per-character `aggregate` higher-order functions (Spark has
  * no codegen for array lambdas, so the HOF form runs interpreted: measured
  * ~40 ms/doc of pure hash overhead in round 2; this bridge is the same
  * integer math at native-loop speed, so every oracle is unchanged).
  */
object TextHashBridge {
  val M: Long = 1000000007L

  /** polyHashStr: acc = pmod(acc * 131 + charCode, M) per UTF-16 char,
    * acc0 = seed % M — the HOF form's math (pmod keeps a negative seed's
    * steps in [0, M)), and its values on ASCII, where ascii() = charCode.
    */
  def polyHash(s: UTF8String, seed: Long): Long = fold(seed % M, s.toString)

  private def fold(acc0: Long, str: String): Long = {
    var acc = acc0
    var i = 0
    while (i < str.length) {
      acc = Math.floorMod(acc * 131 + str.charAt(i).toLong, M)
      i += 1
    }
    acc
  }

  /** k-seed MinHash signature over a token array: for each seed
    * 0x9e3779b9 * (s+1), the minimum polyHash over the tokens. Empty input
    * yields all-null (matching array_min over an empty array).
    */
  def minHashSig(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](k)(null))
    val out = new Array[Any](k)
    var s = 0
    while (s < k) {
      val seed = 0x9e3779b9L * (s + 1)
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        val h = polyHash(toks.getUTF8String(i), seed)
        if (h < mn) mn = h
        i += 1
      }
      out(s) = mn
      s += 1
    }
    new GenericArrayData(out)
  }

  /** 32-bit SimHash: per-bit majority vote over the token hashes
    * (seed 0x85ebca6b), bit set iff the vote is strictly positive —
    * identical math to the HOF form (empty input -> 0).
    */
  def simHash(toks: ArrayData): Long = {
    val n = toks.numElements()
    val votes = new Array[Long](32)
    var i = 0
    while (i < n) {
      val h = polyHash(toks.getUTF8String(i), 0x85ebca6bL)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** Count of `s`'s character bigrams present in `model` — the scoring
    * half of the corpus-trained typicality filter, as one compiled scan
    * over the string (the HOF form built a per-row array of ~L two-char
    * strings and ran an interpreted `filter`).
    */
  def bigramHits(s: UTF8String, model: java.util.HashSet[String]): Int = {
    val str = s.toString
    var hits = 0
    var i = 0
    while (i < str.length - 1) {
      if (model.contains(str.substring(i, i + 2))) hits += 1
      i += 1
    }
    hits
  }

  private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** The lowercased token runs of `s`: maximal non-`\s` runs
    * (`filter(split(lower(t), "\\s+"), length > 0)`; `\s` = the Java
    * regex class), or maximal `[a-z0-9]` runs when `alnum`
    * (`filter(split(lower(t), "[^a-z0-9]+"), length > 0)`). A Boolean
    * mode, not a `Char => Boolean`: `Function1` is not specialized for
    * `Char`, so a function argument would box every character.
    */
  private def words(s: UTF8String, alnum: Boolean): java.util.ArrayList[String] = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    def isTok(c: Char): Boolean =
      if (alnum) (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') else !isWsChar(c)
    val words = new java.util.ArrayList[String]()
    val L = str.length
    var i = 0
    while (i < L) {
      while (i < L && !isTok(str.charAt(i))) i += 1
      val st = i
      while (i < L && isTok(str.charAt(i))) i += 1
      if (i > st) words.add(str.substring(st, i))
    }
    words
  }

  /** One-pass Gopher repetition stats off the raw text: word count,
    * distinct-word count, and the per-doc modal word-bigram (max count,
    * ties to the lexicographically largest bigram — the corpus is ASCII,
    * where UTF-16, UTF-8-binary and DuckDB `ORDER BY bg DESC` orders all
    * agree), over the whitespace [[words]]. Returns (n_words, n_distinct,
    * top_bigram, top_n); the bigram pair is null when the doc has fewer
    * than two words.
    */
  def gopherStats(s: UTF8String): InternalRow = {
    val words = this.words(s, alnum = false)
    val n = words.size
    val distinct = new java.util.HashSet[String](math.max(16, n * 2))
    var j = 0
    while (j < n) { distinct.add(words.get(j)); j += 1 }
    var topBg: String = null
    var topN = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[String, java.lang.Long](math.max(16, n * 2))
      j = 0
      while (j < n - 1) {
        val bg = words.get(j) + " " + words.get(j + 1)
        val prev = counts.get(bg)
        val c = if (prev == null) 1L else prev.longValue + 1L
        counts.put(bg, c)
        // monotone argmax: each bigram eventually reaches its final count,
        // and the (count, bigram) replacement rule is order-insensitive
        if (c > topN || (c == topN && bg.compareTo(topBg) > 0)) {
          topN = c; topBg = bg
        }
        j += 1
      }
    }
    val row = new GenericInternalRow(4)
    row.setInt(0, n)
    row.setInt(1, distinct.size)
    if (topBg == null) { row.setNullAt(2); row.setNullAt(3) }
    else { row.update(2, UTF8String.fromString(topBg)); row.setLong(3, topN) }
    row
  }

  /** All n-grams of `words`, space-joined: each gram is a SUBSTRING of
    * the single-space-rejoined token string, so there are no per-gram
    * slice/join allocations (the HOF form allocated an array plus ~n
    * small strings per gram, interpreted). Fewer than n words yields an
    * empty array.
    */
  private def grams(words: java.util.ArrayList[String], n: Int): ArrayData = {
    val w = words.size
    if (w < n) return new GenericArrayData(new Array[Any](0))
    val sb = new java.lang.StringBuilder
    val starts = new Array[Int](w)
    var k = 0
    while (k < w) {
      starts(k) = sb.length
      sb.append(words.get(k))
      if (k < w - 1) sb.append(' ')
      k += 1
    }
    val joined = sb.toString
    val out = new Array[Any](w - n + 1)
    k = 0
    while (k <= w - n) {
      val end = starts(k + n - 1) + words.get(k + n - 1).length
      out(k) = UTF8String.fromString(joined.substring(starts(k), end))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Space-joined word n-grams over the whitespace [[words]]. */
  def wordGrams(s: UTF8String, n: Int): ArrayData = grams(words(s, alnum = false), n)

  /** Space-joined word n-grams over the alnum [[words]] (the
    * dd_exact_substring token stream).
    */
  def alnumGrams(s: UTF8String, n: Int): ArrayData = grams(words(s, alnum = true), n)

  /** DISTINCT word n-grams of the text with their within-doc occurrence
    * counts, in first-occurrence order (LinkedHashMap — deterministic).
    * This is the row-local limit of map-side combining for gram-stream
    * pipelines: `explode(wordGramCounts(..))` yields exactly what
    * `explode(wordGrams(..)).groupBy(g, doc_id).count()` yields, without
    * the corpus-wide (g, doc_id) shuffle.
    */
  def wordGramCounts(s: UTF8String, n: Int): ArrayData = {
    val grams = wordGrams(s, n)
    val m = grams.numElements()
    if (m == 0) return new GenericArrayData(new Array[Any](0))
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      math.max(16, m * 2))
    var i = 0
    while (i < m) {
      val g = grams.getUTF8String(i)
      val prev = counts.get(g)
      if (prev == null) counts.put(g, Array(1L)) else prev(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      val row = new GenericInternalRow(2)
      row.update(0, e.getKey)
      row.setLong(1, e.getValue()(0))
      out(k) = row
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Number of word n-grams in a token array (n=1: the tokens). */
  private[plans] def gramCount(toks: ArrayData, n: Int): Int =
    math.max(toks.numElements() - n + 1, 0)

  /** polyHash of the space-joined gram toks[i until i + n], folded token
    * by token — the same value as hashing the joined string, without
    * building it.
    */
  private[plans] def gramHash(toks: ArrayData, i: Int, n: Int, seed: Long): Long = {
    var acc = fold(seed % M, toks.getUTF8String(i).toString)
    var j = 1
    while (j < n) {
      acc = fold(Math.floorMod(acc * 131 + ' ', M), toks.getUTF8String(i + j).toString)
      j += 1
    }
    acc
  }

  /** Sum of per-gram micro-log table lookups over the token array's
    * word n-grams: bucket = pmod([[gramHash]], mod), accumulate
    * table(bucket). The compiled form of the interpreted
    * `aggregate(toks, 0L, (acc, t) -> acc + element_at(tableLit,
    * pmod(polyHashStr(t, seed), mod)))` fold the DSIR / LM-perplexity
    * scoring passes ran — identical integer math, so the oracles are
    * unchanged.
    */
  def hashedGramMicroSum(toks: ArrayData, n: Int, seed: Long,
      table: Array[Long], mod: Long): Long = {
    val m = gramCount(toks, n)
    var sum = 0L
    var i = 0
    while (i < m) {
      sum += table(Math.floorMod(gramHash(toks, i, n, seed), mod).toInt)
      i += 1
    }
    sum
  }

  /** Count of maximal non-whitespace runs — `size(filter(split(text,
    * "\\s+"), length > 0))` as one compiled scan with zero allocations.
    */
  def wordCount(s: UTF8String): Int = {
    val str = s.toString
    val L = str.length
    var n = 0
    var i = 0
    while (i < L) {
      while (i < L && isWsChar(str.charAt(i))) i += 1
      if (i < L) n += 1
      while (i < L && !isWsChar(str.charAt(i))) i += 1
    }
    n
  }

  /** [n, sum_i c_i * rint(ln(c_i) * 1e6)] over the BYTE histogram of the
    * string — the exact-integer parts of the Shannon entropy
    * H = ln(n) - (1/n) * sum c_i ln c_i. Only the final combination is
    * float (on exact integers, identical in any engine); the per-symbol
    * micro-logs are order-free integer sums. Byte == character on this
    * ASCII corpus (documented: byte entropy for multi-byte inputs).
    */
  def charEntropyParts(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val counts = new Array[Int](256)
    var i = 0
    while (i < bytes.length) { counts(bytes(i) & 0xff) += 1; i += 1 }
    var n = 0L
    var sum = 0L
    var j = 0
    while (j < 256) {
      val c = counts(j)
      if (c > 0) {
        n += c
        sum += c.toLong * math.rint(math.log(c.toDouble) * 1e6).toLong
      }
      j += 1
    }
    new GenericArrayData(Array[Any](n, sum))
  }
}
