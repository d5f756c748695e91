package graft.extract

/** Linear hand scans for the field-bank patterns whose regex forms go
  * quadratic or scan every start position (`Extract`'s R4-R6, P9 and
  * P10 banks). Each returns exactly what `Matcher.find()` of its regex
  * form gives, and the regex forms are kept in the tests as the
  * differential oracle `RegexBanks`.
  *
  * The regex semantics each scan reproduces, in Java's default mode:
  *  - `\s` is `[ \t\n\x0B\f\r]`, `\d` is `[0-9]`, `\w` is `[a-zA-Z_0-9]`;
  *  - `(?i)` folds ASCII letters only (a Kelvin sign is not a `k`), and
  *    folds the ranges of a character class too (`[A-Z]` is `[A-Za-z]`);
  *  - a match starts at the first position where one exists; among the
  *    matches there, greedy parts take the most and lazy parts the least
  *    that still lets the rest match.
  *
  * Every start position is a place where the pattern's leading literal
  * occurs. A scan looks only there, and whatever it learns about the
  * text after one start that holds for later starts (no `-` left, no
  * valid code after this run) is kept, so no part of the text is read
  * once per start.
  */
private[extract] object BankScans {

  private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def isLetter(c: Char): Boolean = (c | 0x20) >= 'a' && (c | 0x20) <= 'z'
  private def isWord(c: Char): Boolean = isLetter(c) || isDigit(c) || c == '_'

  private def skipWs(t: String, from: Int): Int = {
    var i = from
    while (i < t.length && isWs(t.charAt(i))) i += 1
    i
  }

  private def skipDigits(t: String, from: Int): Int = {
    var i = from
    while (i < t.length && isDigit(t.charAt(i))) i += 1
    i
  }

  /** Start of the run of `\s` that ends at `end`. */
  private def wsRunStart(t: String, end: Int): Int = {
    var i = end
    while (i > 0 && isWs(t.charAt(i - 1))) i -= 1
    i
  }

  /** Whether t holds `lit` (lowercase ASCII) at i, ASCII
    * case-insensitively, as `(?i)` matches it.
    */
  def ciAt(t: String, i: Int, lit: String): Boolean = {
    if (i < 0 || i + lit.length > t.length) return false
    var k = 0
    while (k < lit.length) {
      val l = lit.charAt(k)
      val c = t.charAt(i + k)
      if (c != l && !(l >= 'a' && l <= 'z' && (c | 0x20) == l)) return false
      k += 1
    }
    true
  }

  /** First i >= from where [[ciAt]] holds, or -1. */
  def ciIndexOf(t: String, lit: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = t.length - lit.length
    while (i <= last) {
      if (ciAt(t, i, lit)) return i
      i += 1
    }
    -1
  }

  /** JDK 17 `\b` right after a digit at b - 1: end of input, or a code
    * point that is not a letter, digit, `_` or non-spacing mark (a mark
    * after a digit has a base character, so it counts as a word char).
    */
  private def boundaryAfterDigit(t: String, b: Int): Boolean =
    b >= t.length || {
      val cp = t.codePointAt(b)
      !(cp == '_' || Character.isLetterOrDigit(cp) ||
        Character.getType(cp) == Character.NON_SPACING_MARK)
    }

  // -------------------------------------------------------------------
  // R6 `QTY\s*(\d+)\s*([^C\n]+?)\s*Code\s*(\w+)` (case-sensitive)
  // -------------------------------------------------------------------

  /** The trimmed (qty, item description, item code) of the first match,
    * or null.
    *
    * After the digits at [d0, p) the description cannot hold a `C`, so
    * `Code` must start at c, the first `C` at or after p; a later start
    * before c meets the same c, so what follows c is checked once per c.
    * With q the end of the `\s` run from p:
    *  - q < c: the lazy description is [q, e) with e the start of the
    *    `\s` run before c; it holds no `\n` iff the last `\n` before e
    *    is before q (fewer digits only lengthen it);
    *  - q == c: the description is the last char in [p, c) that is not
    *    `\n` (a `\s` char, so it trims to ""); with none, the digits give
    *    their last one to the description, if there are two or more.
    */
  def qty(t: String): Array[String] = {
    var s = t.indexOf("QTY")
    var c = -1 // the `C` checked last, and what was learned there
    var code: String = null
    var descEnd = -1
    var lastNl = -1
    while (s >= 0) {
      val d0 = skipWs(t, s + 3)
      val p = skipDigits(t, d0)
      if (p > d0) {
        val ci = t.indexOf('C', p)
        if (ci < 0) return null // no later start meets a `C` either
        if (ci != c) {
          c = ci
          code = null
          if (t.startsWith("Code", c)) {
            val w0 = skipWs(t, c + 4)
            var w1 = w0
            while (w1 < t.length && isWord(t.charAt(w1))) w1 += 1
            if (w1 > w0) {
              code = t.substring(w0, w1)
              descEnd = wsRunStart(t, c)
              lastNl = t.lastIndexOf('\n', descEnd - 1)
            }
          }
        }
        if (code != null) {
          val q = skipWs(t, p)
          if (q < c) {
            if (lastNl < q) return Array(t.substring(d0, p), t.substring(q, descEnd).trim, code)
          } else {
            var g = c - 1
            while (g >= p && t.charAt(g) == '\n') g -= 1
            if (g >= p) return Array(t.substring(d0, p), "", code)
            if (p - d0 >= 2) return Array(t.substring(d0, p - 1), t.substring(p - 1, p), code)
          }
        }
      }
      s = t.indexOf("QTY", s + 1)
    }
    null
  }

  // -------------------------------------------------------------------
  // P9 `(?i)Physicians?\s*Name\s*:\s*([^\n-]+?)\s*(?:,\s*MD)?\s*-\s*(\d{6,10})`
  // -------------------------------------------------------------------

  /** The trimmed (physician name, NPI) of the first match at or after
    * `from` (a bound below the first match start), or null.
    *
    * The name cannot hold a `-`, so the `-` is h, the first one after
    * the colon at a - 1; it and the tail after it are examined once per
    * h. The lazy name ends at the first place from which only
    * `\s*(?:,\s*MD)?\s*` is left before h: the start t2 of the `\s` run
    * before a `,` that, `\s` and `MD` and `\s` from there reach h, else
    * the start t0 of the `\s` run before h.
    */
  def physician(t: String, from: Int): Array[String] = {
    var s = ciIndexOf(t, "physician", from)
    var h = -1 // the `-` examined last, and what was learned there
    var npi: String = null
    var t0, t2, comma, nlT0, nlT2 = -1
    while (s >= 0) {
      var i = s + 9
      if (i < t.length && (t.charAt(i) | 0x20) == 's') i += 1
      i = skipWs(t, i)
      if (ciAt(t, i, "name")) {
        i = skipWs(t, i + 4)
        if (i < t.length && t.charAt(i) == ':') {
          val a = i + 1
          val hi = t.indexOf('-', a)
          if (hi < 0) return null // no later colon has a `-` after it either
          if (hi != h) {
            h = hi
            val d = skipWs(t, h + 1)
            val d1 = skipDigits(t, d)
            npi = if (d1 - d >= 6) t.substring(d, math.min(d1, d + 10)) else null
            if (npi != null) {
              t0 = wsRunStart(t, h)
              nlT0 = t.lastIndexOf('\n', t0 - 1)
              comma = -1
              if (t0 >= 2 && (t.charAt(t0 - 2) | 0x20) == 'm' && (t.charAt(t0 - 1) | 0x20) == 'd') {
                val k = wsRunStart(t, t0 - 2) - 1
                if (k >= 0 && t.charAt(k) == ',') {
                  comma = k
                  t2 = wsRunStart(t, k)
                  nlT2 = t.lastIndexOf('\n', t2 - 1)
                }
              }
            }
          }
          if (npi != null) {
            val q = skipWs(t, a)
            if (q < h && comma >= 0 && q < comma) {
              if (nlT2 < q) return Array(t.substring(q, t2).trim, npi)
            } else if (q < h) {
              if (nlT0 < q) return Array(t.substring(q, t0).trim, npi)
              // a name of one `\s` char (trims to "") when only the comma follows
              if (q == comma && lastNotNl(t, a, q) >= 0) return Array("", npi)
            } else if (lastNotNl(t, a, q) >= 0) return Array("", npi)
          }
        }
      }
      s = ciIndexOf(t, "physician", s + 1)
    }
    null
  }

  /** The last index in [from, until) whose char is not `\n`, or -1. */
  private def lastNotNl(t: String, from: Int, until: Int): Int = {
    var g = until - 1
    while (g >= from && t.charAt(g) == '\n') g -= 1
    if (g >= from) g else -1
  }

  // -------------------------------------------------------------------
  // P10 `(?i)Member\s*Name\s+([A-Za-z .'-]+?)\s+([A-Z]\d{6,12})\b`
  // -------------------------------------------------------------------

  private def inNameClass(c: Char): Boolean =
    isLetter(c) || c == ' ' || c == '.' || c == '\'' || c == '-'

  /** Length of the member id at f (an ASCII letter, then 6 to 12 digits
    * ending at a `\b`), or -1.
    */
  private def memberIdAt(t: String, f: Int): Int =
    if (f >= t.length || !isLetter(t.charAt(f))) -1
    else {
      val e = skipDigits(t, f + 1)
      val l = e - f - 1
      if (l >= 6 && l <= 12 && boundaryAfterDigit(t, e)) l + 1 else -1
    }

  /** The trimmed (member name, member id) of the first match at or after
    * `from` (a bound below the first match start), or null.
    *
    * From the end q of the `\s` run after `Name`, the lazy name grows
    * over `[A-Za-z .'-]` chars until a `\s` run is followed by an id. If
    * it meets a char outside the class first, no later start before that
    * char can do better. Failing that, a name of one space inside the
    * run before q can stand, when an id starts at q.
    */
  def member(t: String, from: Int): Array[String] = {
    var s = ciIndexOf(t, "member", from)
    var failedUntil = -1 // a name starting before this cannot end in an id
    while (s >= 0) {
      val n0 = skipWs(t, s + 6)
      if (ciAt(t, n0, "name")) {
        val nEnd = n0 + 4
        val q = skipWs(t, nEnd)
        if (q > nEnd) {
          if (q >= failedUntil) {
            val r = memberFrom(t, q)
            if (r != null) return r
          }
          val id = memberIdAt(t, q)
          if (id > 0) {
            var g = q - 2
            while (g > nEnd && t.charAt(g) != ' ') g -= 1
            if (g > nEnd) return Array("", t.substring(q, q + id))
          }
          if (q >= failedUntil) failedUntil = nameClassEnd(t, q)
        }
      }
      s = ciIndexOf(t, "member", s + 1)
    }
    null
  }

  /** The first index at or after i whose char is not in the name class. */
  private def nameClassEnd(t: String, i: Int): Int = {
    var j = i
    while (j < t.length && inNameClass(t.charAt(j))) j += 1
    j
  }

  /** The match whose name starts at q, or null. */
  private def memberFrom(t: String, q: Int): Array[String] = {
    if (q >= t.length || !inNameClass(t.charAt(q))) return null
    var e = q + 1
    while (e < t.length) {
      val c = t.charAt(e)
      if (isWs(c)) {
        val f = skipWs(t, e)
        val id = memberIdAt(t, f)
        if (id > 0) return Array(t.substring(q, e).trim, t.substring(f, f + id))
        // every end in [e, f) meets the same f; the name may cross spaces only
        while (e < f && t.charAt(e) == ' ') e += 1
        if (e < f) return null
      } else if (inNameClass(c)) e += 1
      else return null
    }
    null
  }

  // -------------------------------------------------------------------
  // R4 `(?is)ICD-10\s*Code\(?s?\)?.{0,40}?[bullets]\s*([A-Z]\d+\.\d+)`
  // -------------------------------------------------------------------

  private val Bullets = "\u2022\u2756\u2605\u2726\u25CF\u25A0\u25AA"

  /** The code after the first bullet within 40 code points of an
    * `ICD-10 Code(s)` label at or after `from`, or null. The optional
    * `(`, `s` and `)` are taken when present: giving one back only moves
    * the 40-code-point window over label chars, which are no bullets.
    */
  def icdBullet(t: String, from: Int): String = {
    var s = ciIndexOf(t, "icd-10", from)
    while (s >= 0) {
      var i = skipWs(t, s + 6)
      if (ciAt(t, i, "code")) {
        i += 4
        if (i < t.length && t.charAt(i) == '(') i += 1
        if (i < t.length && (t.charAt(i) | 0x20) == 's') i += 1
        if (i < t.length && t.charAt(i) == ')') i += 1
        var k = 0
        while (k <= 40 && i < t.length) {
          if (Bullets.indexOf(t.charAt(i)) >= 0) {
            val code = icdCodeAt(t, skipWs(t, i + 1))
            if (code != null) return code
          }
          i += Character.charCount(t.codePointAt(i))
          k += 1
        }
      }
      s = ciIndexOf(t, "icd-10", s + 1)
    }
    null
  }

  /** `[A-Za-z]\d+\.\d+` at i, or null. */
  private def icdCodeAt(t: String, i: Int): String =
    if (i >= t.length || !isLetter(t.charAt(i))) null
    else {
      val d = skipDigits(t, i + 1)
      if (d == i + 1 || d >= t.length || t.charAt(d) != '.') null
      else {
        val e = skipDigits(t, d + 1)
        if (e == d + 1) null else t.substring(i, e)
      }
    }

  // -------------------------------------------------------------------
  // R5 `(?is)Section\s+II\.?\s*Medical Necessity(.*?)(?:Section\s+III|$)`
  // then `(?m)^\s*[X\u2713]\s*(\d+)\.\s*([^\n]+)` over the section
  // -------------------------------------------------------------------

  /** The trimmed body of the first Medical Necessity section at or after
    * `from` (a bound below the first match start), or null when there is
    * none or it is blank.
    */
  def necessitySection(t: String, from: Int): String = {
    var s = ciIndexOf(t, "section", from)
    while (s >= 0) {
      val j = skipWs(t, s + 7)
      if (j > s + 7 && ciAt(t, j, "ii")) {
        var i = j + 2
        if (i < t.length && t.charAt(i) == '.') i += 1
        i = skipWs(t, i)
        if (ciAt(t, i, "medical necessity")) {
          val b = i + 17
          val body = t.substring(b, math.min(sectionIIIAt(t, b), dollarAt(t, b))).trim
          return if (body.isEmpty) null else body
        }
      }
      s = ciIndexOf(t, "section", s + 1)
    }
    null
  }

  /** First index at or after b where `(?i)Section\s+III` matches, or
    * t.length + 1.
    */
  private def sectionIIIAt(t: String, b: Int): Int = {
    var s = ciIndexOf(t, "section", b)
    while (s >= 0) {
      val j = skipWs(t, s + 7)
      if (j > s + 7 && ciAt(t, j, "iii")) return s
      s = ciIndexOf(t, "section", s + 1)
    }
    t.length + 1
  }

  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** First index at or after b where a non-multiline `$` matches: before
    * a final `\r\n`, before a final line terminator (not the `\n` of a
    * `\r\n`), or at the end.
    */
  private def dollarAt(t: String, b: Int): Int = {
    val n = t.length
    if (n - 2 >= b && t.charAt(n - 2) == '\r' && t.charAt(n - 1) == '\n') n - 2
    else if (n - 1 >= b && isLineTerminator(t.charAt(n - 1)) &&
        !(t.charAt(n - 1) == '\n' && n >= 2 && t.charAt(n - 2) == '\r')) n - 1
    else n
  }

  /** Whether a multiline `^` matches at i: not at the end, and at the
    * start or after a line terminator (not between `\r` and `\n`).
    */
  private def lineStart(t: String, i: Int): Boolean =
    i < t.length && (i == 0 || {
      val p = t.charAt(i - 1)
      isLineTerminator(p) && !(p == '\r' && t.charAt(i) == '\n')
    })

  /** Every checked item's trimmed text, in order (the matches of
    * `find()` from left to right). A failed start fails alike at every
    * line start up to the first non-`\s` char after it, so the search
    * goes on past that char.
    */
  def checkboxItems(sec: String): Vector[String] = {
    val items = Vector.newBuilder[String]
    val n = sec.length
    var i = 0
    while (i < n) {
      if (!lineStart(sec, i)) i += 1
      else {
        val w = skipWs(sec, i)
        var end = -1
        if (w < n && (sec.charAt(w) == 'X' || sec.charAt(w) == '\u2713')) {
          val d0 = skipWs(sec, w + 1)
          val d = skipDigits(sec, d0)
          if (d > d0 && d < n && sec.charAt(d) == '.') {
            val v = skipWs(sec, d + 1)
            val g = if (v < n) v else lastNotNl(sec, d + 1, n)
            if (g >= 0) {
              val nl = sec.indexOf('\n', g)
              end = if (nl < 0) n else nl
              items += sec.substring(g, end).trim
            }
          }
        }
        i = if (end >= 0) end else w + 1
      }
    }
    items.result()
  }
}
