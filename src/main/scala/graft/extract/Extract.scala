package graft.extract

import java.util.regex.Pattern
import graft.model.{ExtractedTurn, Section}

/** Pure extraction core — zero Spark dependencies.
  *
  * This object is BOTH the single-threaded golden oracle and the code the
  * Spark engine runs inside its `extract_turn` expression; determinism and
  * parallelism-independence follow from purity (every function is total and
  * depends only on its arguments).
  *
  * Semantics re-expressed from the reference (kjustin2016/Valere-OCR, under
  * `/root/reference/Intelligent Document Design/`), NOT ported:
  *  - tokenizer: `extract_words`, SearchingS3Buckets/S3searchFileContentByString.py:29-37
  *  - segmenter: `structure_text`, MiscTestingScripts/Ethan_PDFandJPG3.py:125-156
  *  - classifier: keyword-density scorer, Ethan_PDFandJPG3.py:584-619
  *  - field banks: Ethan_PDFandJPG3.py:242-269, finalcodes/SignedAgreement.py:86-102,
  *    Lauren_RX__JPG_Reader.py:254-316, MiscTestingScripts/insuranceID:201-213
  *  - signature: `detect_signature`, Ethan_PDFandJPG3.py:487-523
  *  - confidence: finalcodes/Facesheet.py:177-184 (A1) and
  *    SignedAgreementFinalDB:180-206 (A2)
  *  - merge precedence (pattern beats anchor): SignedAgreementFinalDB:237-261
  */
object Extract {

  /** Max accepted payload size — reference caps input at 10 MiB
    * (`Facesheet.py:24,94-95`); we use a character-count analog.
    */
  val MaxTextChars: Int = 10 * 1024 * 1024

  // -------------------------------------------------------------------------
  // Tokenizer (P4): lower-case word stream, drop tokens < 3 chars,
  // dedupe, sort. Reference: S3searchFileContentByString.py:29-37.
  // -------------------------------------------------------------------------
  private val tokenSplit = Pattern.compile("[^a-z0-9]+")

  def tokenize(text: String): Vector[String] =
    if (text == null || text.isEmpty) Vector.empty
    else
      tokenSplit
        .split(text.toLowerCase)
        .iterator
        .filter(_.length > 2)
        .toVector
        .distinct
        .sorted

  // -------------------------------------------------------------------------
  // Boilerplate strip for HTML payloads — Boilerpipe/Trafilatura-style
  // text-density / link-density block classifier (north rule). For
  // non-HTML text this is the identity.
  // -------------------------------------------------------------------------
  def isHtml(text: String): Boolean =
    text.contains("<html") || text.contains("<body") || text.contains("<div") ||
      text.contains("<p>") || text.contains("</a>")

  /** One flat-text block of an HTML page with its shallow text features
    * (Kohlschütter et al., WSDM 2010: word count + link density are the
    * two features that carry nearly all the signal).
    */
  final case class TextBlock(text: String, words: Int, linkDensity: Double)

  private val EmptyBlock = TextBlock("", 0, 0.0)

  /** Decompose an HTML payload into text blocks: drop script/style
    * content, prune structural-chrome subtrees, split at block-level
    * tags, strip remaining inline tags, collapse whitespace; per block
    * compute word count and link density (chars inside <a> / total text
    * chars of the block).
    *
    * A tag scanner, in time linear in the page length: one sweep drops
    * script/style elements, a second drops chrome elements from what is
    * left, a third cuts blocks and reads each block's text and link
    * chars. Every forward search for a `>` or a closer either moves the
    * cursor past what it read, stops at the tag that ends the block, or,
    * when it finds nothing, is remembered: a `>` or closer missing after
    * one start is missing after every later start, so unclosed tags do
    * not rescan the rest of the page.
    *
    * The output equals, byte for byte, that of the regex form kept in the
    * tests as the oracle `RegexTextBlocks` (`<(script|style)\b[^>]*>.*?</\1>`,
    * the same for `head|nav|aside|footer|header`, a split at block tags,
    * then per block `<a\b[^>]*>(.*?)</a>` and `<[^>]*>` with `\s+`
    * collapsed and `String.trim`). The golden checksum rests on its
    * quirks, kept here:
    *  - names and closers match ASCII case-insensitively: `</SCRIPT>`
    *    closes `<script>`;
    *  - after a script/style/chrome/anchor name comes a `\b`: the next
    *    char may not be a letter, digit, `_` or non-spacing mark (JDK 17);
    *  - a tag needs a `>` and ends at the first one, quotes or not
    *    (`<a title="1>2">` ends at the `>` after `1`); a lone `<` is text;
    *  - an element ends at the FIRST closer of its name, so a same-name
    *    nested subtree is pruned only in part, and one with no closer is
    *    kept for the density classifier;
    *  - script/style go first and each dropped element becomes one space,
    *    so the prune never sees a closer inside a script;
    *  - block tags match a name PREFIX with no boundary: `<pre>`,
    *    `<link>`, `<track>`, `<param>` (any `<p…`, `<li…`, `<tr…`,
    *    `<br…`) split blocks too;
    *  - an anchor runs to the first `</a>` in its block, and its link chars
    *    are the length of its body stripped as a string of its own;
    *  - whitespace is Java `\s` (` \t\n\x0B\f\r`) collapsed to one space,
    *    then `String.trim`, which also drops other chars <= ' ' at the
    *    ends; so a block's word count is its number of spaces plus one.
    */
  def textBlocks(html: String): Vector[TextBlock] =
    splitBlocks(dropElements(dropElements(html, ScriptStyle), Chrome))

  private val ScriptStyle = Array("script", "style")
  // Structural chrome pruning (Trafilatura-style): whole <nav>/<aside>/
  // <footer>/<header>/<head> subtrees are boilerplate by POSITION, not by
  // their text features — a nav bar of plain words passes any density
  // test yet is never main content. Listed in the regex's alternation
  // order; `head` cannot shadow `header`, as `\b` must follow the name.
  private val Chrome = Array("head", "nav", "aside", "footer", "header")

  /** `s` with each `<name …>…</name>` element of the names given
    * (lowercase ASCII letters) replaced by one space, left to right.
    */
  private def dropElements(s: String, names: Array[String]): String = {
    val unclosed = new Array[Boolean](names.length)
    // the last `>` found; starts only grow, so it stays the first `>` after
    // any later start that is not past it
    var gt = -1
    var sb: java.lang.StringBuilder = null // made at the first drop
    var r = 0 // s[0, r) is settled into sb
    var lt = s.indexOf('<')
    while (lt >= 0) {
      val k = openTag(s, lt + 1, names)
      var next = lt + 1
      if (k >= 0 && !unclosed(k)) {
        val from = lt + 1 + names(k).length
        if (gt < from) gt = s.indexOf('>', from)
        if (gt < 0) next = s.length // no `>` left: no later element can open
        else {
          val close = indexOfCloser(s, gt + 1, s.length, names(k))
          if (close < 0) unclosed(k) = true
          else {
            if (sb == null) sb = new java.lang.StringBuilder(s.length)
            sb.append(s, r, lt).append(' ')
            r = close + names(k).length + 3
            next = r
          }
        }
      }
      lt = s.indexOf('<', next)
    }
    if (sb == null) s else sb.append(s, r, s.length).toString
  }

  /** Split `s` at block tags into [[TextBlock]]s, dropping blocks with no
    * text. Every search from inside a block stops at the `<` or `>` of the
    * block tag that ends it.
    */
  private def splitBlocks(s: String): Vector[TextBlock] = {
    val out = Vector.newBuilder[TextBlock]
    val tmp = new Array[Char](s.length)
    var start = 0
    var lt = s.indexOf('<')
    while (lt >= 0) {
      var next = lt + 1
      if (isBlockTag(s, if (lt + 1 < s.length && s.charAt(lt + 1) == '/') lt + 2 else lt + 1)) {
        val gt = s.indexOf('>', lt + 1)
        if (gt < 0) next = s.length // no `>` left: the rest is the last block
        else {
          addBlock(s, start, lt, tmp, out)
          start = gt + 1
          next = start
        }
      }
      lt = s.indexOf('<', next)
    }
    addBlock(s, start, s.length, tmp, out)
    out.result()
  }

  private def addBlock(s: String, from: Int, end: Int, tmp: Array[Char],
      out: collection.mutable.Growable[TextBlock]): Unit = {
    val len = collapse(s, from, end, tmp)
    val lo = trimStart(tmp, len)
    val hi = trimEnd(tmp, lo, len)
    if (lo < hi) {
      var words = 1
      var j = lo
      while (j < hi) {
        if (tmp(j) == ' ') words += 1
        j += 1
      }
      val text = new String(tmp, lo, hi - lo) // before linkChars reuses tmp
      out += TextBlock(text, words, linkChars(s, from, end, tmp).toDouble / text.length)
    }
  }

  /** Stripped text length of every `<a …>…</a>` body in block s[from, end). */
  private def linkChars(s: String, from: Int, end: Int, tmp: Array[Char]): Int = {
    var sum = 0
    var lt = s.indexOf('<', from)
    while (lt >= 0 && lt < end) {
      var next = lt + 1
      if (lt + 1 < end && (s.charAt(lt + 1) | 0x20) == 'a' && boundaryAt(s, lt + 2, end)) {
        val gt = s.indexOf('>', lt + 2)
        val close = if (gt < 0 || gt >= end) -1 else indexOfCloser(s, gt + 1, end, "a")
        // with no `>` or no closer after this start, none follows a later one
        if (close < 0) next = end
        else {
          val len = collapse(s, gt + 1, close, tmp)
          val lo = trimStart(tmp, len)
          sum += trimEnd(tmp, lo, len) - lo
          next = close + 4
        }
      }
      lt = s.indexOf('<', next)
    }
    sum
  }

  /** Write s[from, end) to out[0, ·) with each tag (`<` to the first `>`
    * before end) as a space and each run of Java `\s` collapsed into one
    * space, leading spaces dropped; returns the length written.
    */
  private def collapse(s: String, from: Int, end: Int, out: Array[Char]): Int = {
    var tags = true // false once a `<` has no `>` before end: no later one has
    var w = 0
    var i = from
    while (i < end) {
      val c = s.charAt(i)
      var gt = -1
      if (c == '<' && tags) {
        gt = s.indexOf('>', i + 1)
        tags = gt >= 0 && gt < end
      }
      if (c == '<' && tags || c == ' ' || (c >= '\t' && c <= '\r')) {
        if (w > 0 && out(w - 1) != ' ') {
          out(w) = ' '
          w += 1
        }
        i = if (c == '<') gt + 1 else i + 1
      } else {
        out(w) = c
        w += 1
        i += 1
      }
    }
    w
  }

  // String.trim bounds of a[0, len): chars <= ' ' are cut at both ends
  private def trimStart(a: Array[Char], len: Int): Int = {
    var lo = 0
    while (lo < len && a(lo) <= ' ') lo += 1
    lo
  }

  private def trimEnd(a: Array[Char], lo: Int, len: Int): Int = {
    var hi = len
    while (hi > lo && a(hi - 1) <= ' ') hi -= 1
    hi
  }

  /** Index of the name in `names` that s opens with at j, followed by a
    * `\b` boundary, or -1.
    */
  private def openTag(s: String, j: Int, names: Array[String]): Int = {
    var k = 0
    while (k < names.length) {
      if (startsWithName(s, j, names(k)) && boundaryAt(s, j + names(k).length, s.length))
        return k
      k += 1
    }
    -1
  }

  /** Whether s opens a block tag name at j (regex prefix
    * `div|p|nav|footer|header|ul|ol|li|table|tr|h[1-6]|br|body|html|
    * section|article|aside`, no boundary).
    */
  private def isBlockTag(s: String, j: Int): Boolean =
    j < s.length && ((s.charAt(j) | 0x20).toChar match {
      case 'p' => true
      case 'd' => startsWithName(s, j, "div")
      case 'n' => startsWithName(s, j, "nav")
      case 'f' => startsWithName(s, j, "footer")
      case 'h' =>
        (j + 1 < s.length && s.charAt(j + 1) >= '1' && s.charAt(j + 1) <= '6') ||
          startsWithName(s, j, "header") || startsWithName(s, j, "html")
      case 'u' => startsWithName(s, j, "ul")
      case 'o' => startsWithName(s, j, "ol")
      case 'l' => startsWithName(s, j, "li")
      case 't' => startsWithName(s, j, "table") || startsWithName(s, j, "tr")
      case 'b' => startsWithName(s, j, "br") || startsWithName(s, j, "body")
      case 's' => startsWithName(s, j, "section")
      case 'a' => startsWithName(s, j, "article") || startsWithName(s, j, "aside")
      case _ => false
    })

  /** Whether s holds `name` (lowercase ASCII letters) at j, ASCII
    * case-insensitively: `c | 0x20` lowers exactly the two cases of a
    * letter onto it.
    */
  private def startsWithName(s: String, j: Int, name: String): Boolean = {
    if (j + name.length > s.length) return false
    var k = 0
    while (k < name.length) {
      if ((s.charAt(j + k) | 0x20) != name.charAt(k)) return false
      k += 1
    }
    true
  }

  /** JDK 17 `\b` after a name at j, in a string ending at `end` (a block
    * ends at a `<`, so no surrogate pair straddles it): end of input, or
    * a code point that is not a letter, digit, `_` or non-spacing mark.
    */
  private def boundaryAt(s: String, j: Int, end: Int): Boolean =
    j >= end || {
      val cp = s.codePointAt(j)
      !(cp == '_' || Character.isLetterOrDigit(cp) ||
        Character.getType(cp) == Character.NON_SPACING_MARK)
    }

  /** First index in [from, end) where s holds `</name>`, ASCII
    * case-insensitively, or -1.
    */
  private def indexOfCloser(s: String, from: Int, end: Int, name: String): Int = {
    var i = s.indexOf('<', from)
    while (i >= 0 && i + name.length + 3 <= end) {
      if (s.charAt(i + 1) == '/' && startsWithName(s, i + 2, name) &&
        s.charAt(i + 2 + name.length) == '>') return i
      i = s.indexOf('<', i + 1)
    }
    -1
  }

  /** Keep blocks whose link density < 0.35 and word count >= 5; join kept
    * block texts with '\n'. Context-free density rule — the default arm,
    * robust on fragmentary payloads where neighbor context is noise.
    */
  def stripBoilerplate(html: String): String =
    textBlocks(html).collect {
      case b if b.linkDensity < 0.35 && b.words >= 5 => b.text
    }.mkString("\n")

  /** Boilerpipe's NumWordsRulesClassifier decision stump (Kohlschütter,
    * Fankhauser, Nejdl — "Boilerplate Detection using Shallow Text
    * Features", WSDM 2010; thresholds from the published open-source
    * classifier): a block's verdict depends on its NEIGHBORS — a short
    * block before a long paragraph is its intro (content), the same
    * block after a link farm is a caption/related-links header
    * (boilerplate). First/last blocks see an empty neighbor.
    */
  private def stumpIsContent(prev: TextBlock, curr: TextBlock,
      next: TextBlock): Boolean =
    if (curr.linkDensity > 0.333333) false
    else if (prev.linkDensity <= 0.555556) {
      if (curr.words <= 16) {
        if (next.words <= 15) prev.words > 4 else true
      } else true
    } else {
      if (curr.words <= 40) next.words > 17 else true
    }

  /** Main-content extraction via the Boilerpipe stump over [[textBlocks]];
    * kept block texts joined with '\n'. The context-sensitive arm for
    * full-page payloads.
    */
  def mainContentBoilerpipe(html: String): String = {
    val bs = textBlocks(html)
    bs.indices.iterator.filter { i =>
      val prev = if (i == 0) EmptyBlock else bs(i - 1)
      val next = if (i == bs.length - 1) EmptyBlock else bs(i + 1)
      stumpIsContent(prev, bs(i), next)
    }.map(bs(_).text).mkString("\n")
  }

  def extractText(text: String): String =
    if (isHtml(text)) stripBoilerplate(text) else text

  // -------------------------------------------------------------------------
  // Section segmenter (P3 + C3). ALL-CAPS line (has a letter, equals its
  // own upper-casing, <= 60 chars) opens a new section; blank line closes
  // the current one; text before any header lands in "PARAGRAPH".
  // -------------------------------------------------------------------------
  def isAllCapsHeader(line: String): Boolean = {
    val t = line.trim
    t.nonEmpty && t.length <= 60 && t.exists(_.isLetter) &&
    t == t.toUpperCase && !t.contains(":")
  }

  /** Sections are emitted as spans into the input text (start/len of the
    * trimmed body region) — identical semantics to body-copying (the body
    * lines of a section are always contiguous in the input), without
    * tripling the bytes carried per row.
    */
  def segment(text: String): Vector[Section] = {
    val out = Vector.newBuilder[Section]
    var header = "PARAGRAPH"
    var bodyStart = -1
    var bodyEnd = -1
    def flush(): Unit = {
      if (bodyStart >= 0) {
        // trim the span
        var s = bodyStart; var e = bodyEnd
        while (s < e && Character.isWhitespace(text.charAt(s))) s += 1
        while (e > s && Character.isWhitespace(text.charAt(e - 1))) e -= 1
        if (e > s) out += Section(header, s, e - s)
      }
      bodyStart = -1; bodyEnd = -1
    }
    var off = 0
    for (line <- text.split("\n", -1)) {
      if (isAllCapsHeader(line)) {
        flush()
        header = line.trim
      } else if (line.trim.isEmpty) {
        flush()
        header = "PARAGRAPH"
      } else {
        if (bodyStart < 0) bodyStart = off
        bodyEnd = off + line.length
      }
      off += line.length + 1
    }
    flush()
    out.result()
  }

  // -------------------------------------------------------------------------
  // Classifier (C1/C2): keyword-density scores with the reference's full
  // precedence ladder (Ethan_PDFandJPG3.py:605-619): insurance>=2 wins;
  // prescription>=3 and > agreement; agreement>=3 and >= prescription;
  // then the POSSIBLE_* tiers at >=2; else UNKNOWN. We add a FACESHEET
  // class for the facesheet form shape, and (like the reference's
  // substring routing, Ethan_PDFandJPG3.py:655,679: `"PRESCRIPTION" in
  // doc_type`) the POSSIBLE_* tiers still run the corresponding bank.
  // -------------------------------------------------------------------------
  val insuranceKeywords: Vector[String] = Vector(
    "member name", "member id", "bin", "rx pcn", "group no", "copay",
    "insurance provider", "subscriber", "payer", "plan type", "rxgrp",
    "effective date")
  val prescriptionKeywords: Vector[String] = Vector(
    "prescription", "breast pump", "icd-10", "qty", "refills", "physician",
    "npi", "medical necessity", "length of need", "item description",
    "diagnosis", "rx", "dispense")
  val agreementKeywords: Vector[String] = Vector(
    "agreement", "signed by customer", "signature", "terms and conditions",
    "customer", "fecha", "firmado", "hereby", "consent")
  val facesheetKeywords: Vector[String] = Vector(
    "patient name", "mrn", "facesheet", "patient information", "guarantor",
    "patient date of birth", "patient phone", "admit date")

  def keywordScore(lowText: String, kws: Vector[String]): Int =
    kws.count(lowText.contains)

  /** C1 — filename fast-path classifier (check_document_content's
    * filename ladder, Ethan_PDFandJPG3.py:540-560), with the reference's
    * exact substring arms and precedence, mapped onto this engine's
    * canonical class names. None -> fall through to the content
    * classifier.
    */
  def classifyFilename(key: String): Option[String] = {
    val k = key.toLowerCase
    if (k.contains("insurancecard")) Some("INSURANCE")
    else if (k.contains("facesheet")) Some("FACESHEET")
    else if (k.contains("signed_agreement") ||
      (k.contains("agreement") && !k.contains("prescription"))) Some("AGREEMENT")
    else if (k.contains("prescription") && !k.contains("agreement")) Some("PRESCRIPTION")
    else if (k.contains("id") && k.contains("card")) Some("ID_DOCUMENT")
    else None
  }

  def classifyWithFilename(key: String, text: String): String =
    classifyFilename(key).getOrElse(classify(text))

  def classify(text: String): String = classifyLow(text.toLowerCase)

  /** classify() body over an already-lowercased text: the fused extractor
    * lowercases each turn once and shares the copy across the classifier,
    * the signature detector, and the bank guards.
    */
  def classifyLow(low: String): String = {
    val fs = keywordScore(low, facesheetKeywords)
    val ins = keywordScore(low, insuranceKeywords)
    val rx = keywordScore(low, prescriptionKeywords)
    val ag = keywordScore(low, agreementKeywords)
    if (fs >= 3 && fs >= ins) "FACESHEET"
    else if (ins >= 2) "INSURANCE"
    else if (rx >= 3 && rx > ag) "PRESCRIPTION"
    else if (ag >= 3 && ag >= rx) "AGREEMENT"
    else if (rx >= 2) "POSSIBLE_PRESCRIPTION"
    else if (ag >= 2) "POSSIBLE_AGREEMENT"
    else "UNKNOWN"
  }

  // -------------------------------------------------------------------------
  // Reference-parity classifier arm: the reference's EXACT keyword lists
  // and class names (Ethan_PDFandJPG3.py:585-599 lists, :605-619 ladder —
  // INSURANCE_CARD / SIGNED_AGREEMENT, no facesheet tier). The engine's
  // canonical classify() above keeps its own richer lists and the added
  // FACESHEET tier (golden-stable); this arm exists for users who need
  // byte-level class agreement with the reference.
  // -------------------------------------------------------------------------
  val refPrescriptionKeywords: Vector[String] = Vector(
    "prescription", "rx", "physician", "doctor", "diagnosis",
    "patient name", "mother name", "mother's name", "breast pump",
    "icd-10", "medical necessity", "dob", "date of birth")
  val refAgreementKeywords: Vector[String] = Vector(
    "agreement", "signature", "signed", "consent", "terms",
    "conditions", "i agree", "customer", "acknowledge")
  val refInsuranceKeywords: Vector[String] = Vector(
    "insurance", "member", "policy", "group", "copay", "deductible",
    "plan", "coverage", "id#", "id #", "insured", "subscriber")

  /** check_document_content parity: (class, winning keyword count) —
    * insurance >= 2 takes precedence; rx >= 3 must strictly beat ag;
    * ag >= 3 wins ties; POSSIBLE_* at >= 2; UNKNOWN carries count 0.
    */
  def classifyReference(text: String): (String, Int) = {
    val low = text.toLowerCase
    val rx = keywordScore(low, refPrescriptionKeywords)
    val ag = keywordScore(low, refAgreementKeywords)
    val ins = keywordScore(low, refInsuranceKeywords)
    if (ins >= 2) ("INSURANCE_CARD", ins)
    else if (rx >= 3 && rx > ag) ("PRESCRIPTION", rx)
    else if (ag >= 3 && ag >= rx) ("SIGNED_AGREEMENT", ag)
    else if (rx >= 2) ("POSSIBLE_PRESCRIPTION", rx)
    else if (ag >= 2) ("POSSIBLE_AGREEMENT", ag)
    else ("UNKNOWN", 0)
  }

  // -------------------------------------------------------------------------
  // KV anchor extractor (KV1-KV3 semantics over text): `Key: Value` lines.
  // Key normalized (P1): trim, drop leading "the ", drop trailing "?".
  // First occurrence of a key wins (reference dict insert order).
  // -------------------------------------------------------------------------
  private val kvLine =
    Pattern.compile("^([A-Za-z][A-Za-z0-9 .#/()'?-]{0,48}?)\\s*:\\s*(.*)$")

  def normalizeKey(k: String): String = {
    var s = k.trim
    if (s.toLowerCase.startsWith("the ")) s = s.substring(4)
    if (s.endsWith("?")) s = s.dropRight(1)
    s.trim
  }

  def kvAnchors(text: String): Vector[(String, String)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (line <- text.split("\n", -1)) {
      // necessary conditions of kvLine, checked without the regex engine:
      // the key starts with an ASCII letter ("^([A-Za-z]...") and a colon
      // must appear within the first 50 key chars plus whitespace — most
      // non-KV lines exit here (measured 11.9 us/turn -> the regex now
      // runs only on candidate lines)
      val c0 = if (line.isEmpty) ' ' else line.charAt(0)
      val isLetter = (c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')
      if (isLetter && line.indexOf(':') > 0) {
        val m = kvLine.matcher(line)
        if (m.matches()) {
          val k = normalizeKey(m.group(1))
          if (k.nonEmpty && !seen.contains(k)) seen += k -> m.group(2).trim
        }
      }
    }
    seen.toVector
  }

  // -------------------------------------------------------------------------
  // Regex field banks (R1-R11). Compiled once (object init); first match
  // wins; ordered fallback via chains. Pattern result beats KV anchor for
  // the same canonical field (merge precedence, SignedAgreementFinalDB:237-261).
  // -------------------------------------------------------------------------
  private def p(re: String) = Pattern.compile(re)

  // Pattern SOURCE STRINGS are public: the oracle-gated column queries
  // (graft.queries.DocQueries) reuse the exact same regex text, so an
  // extractor pattern change cannot silently diverge from its gate.
  // R1 patient bank (Ethan_PDFandJPG3.py:242-256)
  val PatientNameRe =
    "(?i)(?:Mother|Patient)\\s*Name\\s*[:\\s]\\s*([^:\\n]+?)(?=\\s{2,}|\\n|$)"
  val PatientDobRe =
    "(?i)(?:DOB|Date of Birth)\\s*[:\\s]\\s*(\\d{1,2}/\\d{1,2}/\\d{4})"
  val PatientPhoneRe =
    "(?i)Phone(?:\\s*Number)?\\s*[:\\s]\\s*(\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4})"
  // R2 date banks — ordered fallback (priority then backup)
  val DateTimeFullRe =
    "(?i)Date\\s*:\\s*(\\d{1,2}/\\d{1,2}/\\d{4}\\s+\\d{1,2}:\\d{2}\\s*(?:AM|PM|CMT)?)"
  val DateAnchoredRe = "(?i)(?:Date|Fecha)\\s*:\\s*(\\d{1,2}/\\d{1,2}/\\d{4})"
  val DateBareRe = "(\\d{2}/\\d{2}/\\d{4})"
  // R3 signed-by bank + negative validation
  val SignedByRe =
    "(?i)(?:Signed by customer|Firmado por el cliente)\\s*:\\s*([^\\n]+)"
  // R4 ICD-10 — bullet-aware then plain then generic
  val IcdBulletRe =
    "(?is)ICD-10\\s*Code\\(?s?\\)?.{0,40}?[\\u2022\\u2756\\u2605\\u2726\\u25CF\\u25A0\\u25AA]\\s*([A-Z]\\d+\\.\\d+)"
  val IcdPlainRe = "(?i)ICD-10\\s*Code\\(?s?\\)?\\s*:?\\s*([A-Z]\\d+\\.\\d+)"
  val IcdGenericRe = "([A-Z]\\d+\\.\\d+)"

  private val patientName = p(PatientNameRe)
  private val patientDob = p(PatientDobRe)
  private val patientPhone = p(PatientPhoneRe)
  private val dateTimeFull = p(DateTimeFullRe)
  private val dateAnchored = p(DateAnchoredRe)
  private val dateBare = p(DateBareRe)
  private val signedBy = p(SignedByRe)
  val excludedSignerPhrases: Vector[String] = Vector(
    "date", "signature", "customer", "n/a", "none", "x")
  private val icdBullet = p(IcdBulletRe)
  private val icdPlain = p(IcdPlainRe)
  private val icdGeneric = p(IcdGenericRe)
  // R5 section-bounded checkbox items
  private val necessitySection =
    p("(?is)Section\\s+II\\.?\\s*Medical Necessity(.*?)(?:Section\\s+III|$)")
  private val checkboxItem = p("(?m)^\\s*[X\\u2713]\\s*(\\d+)\\.\\s*([^\\n]+)")
  // R6 tabular tri-group — deliberately case-SENSITIVE: with (?i) the
  // negated class [^C] would also exclude lowercase 'c' ("Electric").
  private val qtyTriGroup =
    p("QTY\\s*(\\d+)\\s*([^C\\n]+?)\\s*Code\\s*(\\w+)")
  private val lengthOfNeed = p("(?i)Length of Need\\s*:?\\s*(\\d+)")
  // R9 unanchored entity sweep (phone) — note Java handles the reference's
  // lazy `??` quantifier (data_extract_kailey.py:43) identically here.
  private val phoneSweep =
    p("(?:\\(\\d{3}\\)\\s*|\\b\\d{3}[-.\\s]?)\\d{3}[-.\\s]??\\d{4}\\b")
  // R10 keyword presence → canonical value (Ethan_PDFandJPG3.py:258-269)
  private val pumpPatterns = Vector(
    "(?i)double\\s+electric\\s+breast\\s+pump",
    "(?i)breast\\s+pump.{0,40}?double\\s+electric",
    "(?i)E0603",
    "(?i)pump\\s+depot").map(p)
  // one necessary literal per pump pattern, in the same order — the bank
  // probes `low.contains(guard)` before running the corresponding regex
  private val pumpGuards = Vector("double", "breast", "e0603", "pump")
  // P9/P10 name helpers
  private val physicianNpi =
    p("(?i)Physicians?\\s*Name\\s*:\\s*([^\\n-]+?)\\s*(?:,\\s*MD)?\\s*-\\s*(\\d{6,10})")
  private val memberNameId =
    p("(?i)Member\\s*Name\\s+([A-Za-z .'-]+?)\\s+([A-Z]\\d{6,12})\\b")

  def firstMatch(pat: Pattern, text: String, group: Int = 1): Option[String] = {
    val m = pat.matcher(text)
    if (m.find()) Option(m.group(group)).map(_.trim).filter(_.nonEmpty)
    else None
  }

  def allMatches(pat: Pattern, text: String): Vector[String] = {
    val m = pat.matcher(text)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group(0)
    b.result()
  }

  /** Name validation (R3): reject excluded phrases and lengths outside
    * (2, 50). Reference: SignedAgreementFinalDB:151-163,238-243.
    */
  def validName(n: String): Boolean = {
    val t = n.trim
    t.length > 2 && t.length < 50 &&
    !excludedSignerPhrases.contains(t.toLowerCase)
  }

  /** P9: split "Last, First" vs "First Last" into (first, last). */
  def splitName(full: String): (String, String) = {
    val t = full.trim
    if (t.contains(",")) {
      val parts = t.split(",", 2)
      (parts(1).trim, parts(0).trim)
    } else {
      val parts = t.split("\\s+")
      if (parts.length >= 2) (parts.dropRight(1).mkString(" "), parts.last)
      else (t, "")
    }
  }

  /** Tail window (P6/O2): last n lines of the text. Reverse scan for the
    * nth newline from the end — identical to
    * `split("\n", -1).takeRight(n).mkString("\n")` without materializing
    * every line (split(-1) keeps trailing empties, so the joined tail is
    * always a contiguous suffix of the input).
    */
  def lastLines(text: String, n: Int): String = {
    if (n <= 0) return ""
    var count = 0
    var i = text.length - 1
    while (i >= 0) {
      if (text.charAt(i) == '\n') {
        count += 1
        if (count == n) return text.substring(i + 1)
      }
      i -= 1
    }
    text
  }

  // -------------------------------------------------------------------------
  // Per-type field banks. Each returns fields in canonical-name space.
  // -------------------------------------------------------------------------
  def facesheetBank(text: String): Map[String, String] =
    facesheetBank(text, text.toLowerCase)

  /** Guarded fast path: `low` MUST be `text.toLowerCase`. Each guard is a
    * necessary condition of its pattern (a literal the regex cannot match
    * without), so a skipped regex could never have matched — measured: the
    * banks dominated the 47 us/turn extract cost, and most patterns lose
    * their anchor literal on most turns of their doc type.
    */
  private def facesheetBank(text: String, low: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (low.contains("name")) firstMatch(patientName, text).foreach { v =>
      b += "patient_name" -> v
      val (f, l) = splitName(v)
      b += "patient_first_name" -> f
      b += "patient_last_name" -> l
    }
    if (low.contains("dob") || low.contains("date of birth"))
      firstMatch(patientDob, text).foreach(b += "patient_dob" -> _)
    if (low.contains("phone"))
      firstMatch(patientPhone, text).foreach(b += "patient_phone" -> _)
    b.result()
  }

  def prescriptionBank(text: String): Map[String, String] =
    prescriptionBank(text, text.toLowerCase)

  private def prescriptionBank(text: String, low: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (low.contains("name"))
      firstMatch(patientName, text).foreach(b += "patient_name" -> _)
    if (low.contains("dob") || low.contains("date of birth"))
      firstMatch(patientDob, text).foreach(b += "patient_dob" -> _)
    val icd =
      (if (low.contains("icd-10"))
        firstMatch(icdBullet, text).orElse(firstMatch(icdPlain, text))
      else None).orElse(firstMatch(icdGeneric, text))
    icd.foreach(b += "icd10" -> _)
    if (low.contains("medical necessity")) {
      val items = checkboxItems(text)
      if (items.nonEmpty) b += "necessity_items" -> items.mkString("; ")
    }
    if (text.contains("QTY")) { // qtyTriGroup is deliberately case-sensitive
      val tri = qtyTriGroup.matcher(text)
      if (tri.find()) {
        b += "qty" -> tri.group(1).trim
        b += "item_description" -> tri.group(2).trim
        b += "item_code" -> tri.group(3).trim
      }
    }
    if (low.contains("length of need"))
      firstMatch(lengthOfNeed, text).foreach(b += "length_of_need" -> _)
    if (pumpPatterns.zip(pumpGuards).exists { case (pt, g) =>
        low.contains(g) && pt.matcher(text).find() })
      b += "pump_type" -> "Double Electric Breast Pump"
    if (low.contains("physician")) {
      val phys = physicianNpi.matcher(text)
      if (phys.find()) {
        b += "physician_name" -> phys.group(1).trim
        b += "physician_npi" -> phys.group(2).trim
      }
    }
    b.result()
  }

  def agreementBank(text: String): Map[String, String] = {
    // Reference applies the agreement bank to the last-15-lines window
    // (SignedAgreementFinalDB:146-148).
    val tail = lastLines(text, 15)
    val tailLow = tail.toLowerCase
    val b = Map.newBuilder[String, String]
    if (tailLow.contains("signed by customer") ||
        tailLow.contains("firmado por el cliente"))
      firstMatch(signedBy, tail).filter(validName).foreach { v =>
        b += "signed_by" -> v
      }
    val anchoredDate =
      if (tailLow.contains("date") || tailLow.contains("fecha"))
        firstMatch(dateTimeFull, tail).orElse(firstMatch(dateAnchored, tail))
      else None
    anchoredDate.orElse(firstMatch(dateBare, tail))
      .foreach(b += "signed_date" -> _)
    b.result()
  }

  def insuranceBank(text: String): Map[String, String] =
    insuranceBank(text, text.toLowerCase)

  private def insuranceBank(text: String, low: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (low.contains("member")) {
      val m = memberNameId.matcher(text)
      if (m.find()) {
        b += "member_name" -> m.group(1).trim
        b += "member_id" -> m.group(2).trim
      }
    }
    b.result()
  }

  /** R9 entity sweep — all phone numbers anywhere in the text. */
  def phoneNumbers(text: String): Vector[String] = allMatches(phoneSweep, text)

  /** R5 section-bounded checkbox items, exposed for direct gating: the
    * checked item texts inside the Medical Necessity section only.
    */
  def checkboxItems(text: String): Vector[String] =
    firstMatch(necessitySection, text).map { sec =>
      val m = checkboxItem.matcher(sec)
      val items = Vector.newBuilder[String]
      while (m.find()) items += m.group(2).trim
      items.result()
    }.getOrElse(Vector.empty)

  // -------------------------------------------------------------------------
  // Query-driven dynamic extraction — the reference's primary mechanism:
  // a bank of natural-language queries whose normalized text becomes the
  // field key at runtime (finalcodes/Facesheet.py:104-143 query banks,
  // :157-175 key derivation + document_data map). Key derivation is the
  // reference's exact rule: text after the FIRST "the " (case-sensitive),
  // cut at the first "?". Unanswered queries stay in the map with "" (the
  // reference counts them as emptyCount for A1 confidence).
  // -------------------------------------------------------------------------
  def queryKey(q: String): String = {
    val i = q.indexOf("the ")
    val afterThe = if (i >= 0) q.substring(i + 4) else q
    val j = afterThe.indexOf('?')
    if (j >= 0) afterThe.substring(0, j) else afterThe
  }

  /** Case-insensitive anchor lookup shared by the query-bank arms:
    * first-wins also across CASE-variant keys ("MRN:" vs "Mrn:"),
    * consistent with kvAnchors' first-occurrence rule per exact key.
    */
  private def anchorLookup(text: String): Map[String, String] =
    kvAnchors(text).foldLeft(Map.empty[String, String]) {
      case (m, (k, v)) =>
        val kl = k.toLowerCase
        if (m.contains(kl)) m else m + (kl -> v)
    }

  /** Answer a query bank from the document's KV anchors: a query is
    * answered by the first anchor whose normalized key equals the query
    * key case-insensitively. Duplicate query keys overwrite (Python dict
    * assignment order, Facesheet.py:168/175). The reference splits a bank
    * past its API's 15-query cap into calls whose answers land in one
    * dict (queryCodes/AttemptedMergeQueryCodes:49-52); an answer depends
    * only on its key and the text, so that split cannot change the map
    * and one pass over the whole bank is the same.
    */
  def queryBank(queries: Seq[String], text: String): Map[String, String] = {
    val byKey = anchorLookup(text)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (q <- queries) {
      val key = queryKey(q)
      out(key) = byKey.getOrElse(normalizeKey(key).toLowerCase, "")
    }
    out.toMap
  }

  /** The reference's MERGED-LIST bank form (queryCodes/
    * AttemptedMergeQueryCodes:88-112): queries carry an (text, alias)
    * pair; the (query text, alias, answer) triples of the whole bank, in
    * order (the concatenation of the reference's batches), are
    * deduplicated on the EXACT triple (:95-100 — a repeated query with
    * the same alias and same answer is kept once; a differing answer
    * would keep both), then the kept triples are sorted by
    * `query_order` — a dict comprehension over the bank where a
    * duplicate alias takes the index of its LAST occurrence (:110-112),
    * so duplicate-alias triples sort at that later position (stable
    * sort preserves their relative order). Unanswered queries carry ""
    * (the engine's uniform convention, same as [[queryBank]]).
    */
  def queryBankMerged(queries: Seq[(String, String)],
      text: String): Vector[(String, String, String)] = {
    val byKey = anchorLookup(text)
    val processed = scala.collection.mutable.HashSet.empty[(String, String, String)]
    val out = Vector.newBuilder[(String, String, String)]
    for ((q, alias) <- queries) {
      val key = queryKey(q)
      val triple = (q, alias, byKey.getOrElse(normalizeKey(key).toLowerCase, ""))
      if (processed.add(triple)) out += triple
    }
    // Python `{alias: i for i, q in enumerate(...)}`: later index wins —
    // Scala toMap has the same last-wins semantics; sortBy is stable.
    val order = queries.zipWithIndex.map { case ((_, a), i) => a -> i }.toMap
    out.result().sortBy(t => order.getOrElse(t._2, Int.MaxValue))
  }

  // -------------------------------------------------------------------------
  // R8 field bank with "<Field> not found" defaults — the Lauren-style
  // fixed bank (MiscTestingScripts/Lauren_RX_JPG_Reader.py:47-63): every
  // field is always present, either with its first regex match or the
  // literal default. Age/DOB captures group 2 (group 1 is the label
  // alternation), everything else group 1.
  // -------------------------------------------------------------------------
  val DefaultBankPatterns: Vector[(String, String, Int)] = Vector(
    ("Name", "(?i)\\bname\\b[:\\s]*([^\\n]+)", 1),
    ("Age/DOB", "(?i)\\b(dob|date of birth|age)\\b[:\\s]*([^\\n]+)", 2),
    ("Address", "(?i)\\baddress\\b[:\\s]*([^\\n]+)", 1),
    ("Date", "(?i)\\bdate\\b[:\\s]*([^\\n]+)", 1),
    ("Rx", "(?i)\\brx\\b[:\\s]*([^\\n]+)", 1),
    ("Refills", "(?i)\\brefills?\\b[:\\s]*([^\\n]+)", 1),
    ("Signature", "(?i)\\bsignature\\b[:\\s]*([^\\n]+)", 1))

  private val defaultBankCompiled =
    DefaultBankPatterns.map { case (f, re, g) => (f, p(re), g) }

  def defaultsBank(text: String): Map[String, String] =
    defaultBankCompiled.map { case (field, pat, grp) =>
      field -> firstMatch(pat, text, grp).getOrElse(s"$field not found")
    }.toMap

  // -------------------------------------------------------------------------
  // KV4 — keyword routing into a nested patient/doctor/prescription
  // record, with the reference's 13-rule cleanup battery
  // (MiscTestingScripts/Ethan_PDFandJPG3.py:228-238 routing, :276-411
  // cleanup, :414-418 nested record). Re-expressed as one pure function
  // over the anchor list + text; output is canonical nested JSON.
  // -------------------------------------------------------------------------
  private val routeSkipTerms = Vector("icd", "z39", "lactating")
  private val routePatientTerms = Vector(
    "mother", "infant", "patient", "name", "dob", "date of birth", "phone")
  private val routeDoctorTerms = Vector("physician", "doctor", "md", "prescribing")

  /** Patient pattern bank applied to the full text after anchor routing
    * (Ethan_PDFandJPG3.py:243-251); pattern result overwrites the anchor.
    */
  private val routePatientPatterns = Vector(
    ("(?i)(?:Mother|Patient)\\s*Name[:\\s]+([^:\\n]+)", "Patient Name"),
    ("(?i)(?:Mother|Patient)?\\s*Date of [Bb]irth[:\\s]+([^:\\n]+)", "Date of Birth"),
    ("(?i)(?:Mother|Patient)?\\s*DOB[:\\s]+([^:\\n]+)", "DOB"),
    ("(?i)(?:Mother|Patient)?\\s*Phone\\s*(?:Number)?[:\\s]+([^:\\n]+)", "Phone Number"),
    ("(?i)(?:Infant|Baby)\\s*Name[:\\s]+([^:\\n]+)", "Infant Name"),
    ("(?i)(?:Infant|Baby)\\s*Date of [Bb]irth[:\\s]+([^:\\n]+)", "Infant Date of Birth"),
    ("(?i)EDD[:\\s]+([^:\\n]+)", "EDD")).map { case (re, f) => (p(re), f) }

  private val routePumpPatterns = Vector(
    "(?i)breast pump", "(?i)double electric", "(?i)double-electric",
    "(?i)electric breast pump").map(p)

  private val doctorNpiKeyRe = p("(.+?),?\\s+MD\\s+-\\s+(\\d+)")

  private val routeUnwantedFields = Vector(
    "Mother expects regular separation from infant",
    "Mother expects regular", "Care of the lactating mother", "Z39.1", "ICD-10")

  type FieldsMap = scala.collection.mutable.LinkedHashMap[String, String]

  /** Route anchors + pattern hits into (patient, doctor, prescription)
    * and apply the 13-rule cleanup battery. Returned maps preserve
    * insertion order (the reference's dict semantics, which the battery's
    * first-wins rules depend on).
    */
  def routeAndClean(text: String): (FieldsMap, FieldsMap, FieldsMap) = {
    val patient = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val doctor = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rx = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // keyword routing over the KV anchors (skip terms first, elif order)
    for ((k, v) <- kvAnchors(text)) {
      val kl = k.toLowerCase
      if (!routeSkipTerms.exists(kl.contains)) {
        if (routePatientTerms.exists(kl.contains)) patient(k) = v
        else if (routeDoctorTerms.exists(kl.contains)) doctor(k) = v
      }
    }
    // pattern bank overwrites anchors for its canonical field names
    for ((pat, field) <- routePatientPatterns)
      firstMatch(pat, text).foreach(v => patient(field) = v)
    // pump mention -> canonical prescription value
    if (routePumpPatterns.exists(_.matcher(text).find()))
      rx("Prescription") = "Double Electric Breast Pump"

    // pre-cleanup: strip ':' from keys, drop empty values (:272-274)
    def precleaned(m: FieldsMap): FieldsMap = {
      val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
      for ((k, v) <- m; if v != null && v.trim.nonEmpty)
        out(k.replace(":", "").trim) = v
      out
    }
    val pa = precleaned(patient); val dr = precleaned(doctor)
    val pr = precleaned(rx)

    // 1. remove unwanted fields
    for (f <- routeUnwantedFields; k <- pa.keys.toVector; if k.contains(f))
      pa.remove(k)
    // 2. physician/doctor keys move from patient to doctor (first wins)
    for (k <- pa.keys.toVector;
         if k.toLowerCase.contains("physician") || k.toLowerCase.contains("doctor")) {
      val v = pa.remove(k).get
      if (!dr.contains("Doctor Name")) dr("Doctor Name") = v
    }
    // 3. infant fields re-labeled "Infant <field>"
    val infant = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (k <- pa.keys.toVector;
         if k.toLowerCase.contains("infant") || k.toLowerCase.contains("baby")) {
      infant(k.replace("Infant ", "").replace("Baby ", "")) = pa.remove(k).get
    }
    for ((k, v) <- infant) pa(s"Infant $k") = v
    // 4. standard field names beat their aliases
    for ((standard, aliases) <- Vector(
        "Patient Name" -> Vector("Name"), "DOB" -> Vector("Date of Birth"),
        "Phone Number" -> Vector("Phone"));
        if pa.contains(standard); a <- aliases) pa.remove(a)
    // 5. doctor 'X' checkbox values read as Selected
    for (k <- dr.keys.toVector; if dr(k) == "X") dr(k) = "Selected"
    // 6. single-char MD signature is a misread -> Present
    if (dr.get("MD Signature").exists(_.length <= 1)) dr("MD Signature") = "Present"
    // 7. MD Signature redundant with Physician Signature
    if (dr.contains("MD Signature") && dr.contains("Physician Signature"))
      dr.remove("MD Signature")
    // 8. "<Doctor Name>, MD - <NPI>" combined KEYS split into fields
    for (k <- dr.keys.toVector) {
      val m = doctorNpiKeyRe.matcher(k)
      if (m.find()) {
        val v = dr.remove(k).get
        dr("Doctor Name") = m.group(1).trim
        dr("NPI") = m.group(2).trim
        if (v == "Selected") dr("Selected") = "Yes"
      }
    }
    // 9. split Patient Name into First/Last ("Last, First" aware)
    pa.remove("Patient Name").foreach { full =>
      val t = full.trim
      if (t.contains(",")) {
        val parts = t.split(",", 2)
        pa("First Name") = parts(1).trim
        pa("Last Name") = parts(0).trim
      } else {
        val parts = t.split("\\s+").toVector
        if (parts.length >= 2) {
          pa("First Name") = parts.head
          pa("Last Name") = parts.tail.mkString(" ")
        } else {
          pa("First Name") = t
          pa("Last Name") = ""
        }
      }
    }
    // 10. First-ends-with-comma means the halves were swapped
    (pa.get("First Name"), pa.get("Last Name")) match {
      case (Some(f), Some(l)) if f.endsWith(",") =>
        pa("First Name") = l
        pa("Last Name") = f.stripSuffix(",")
      case _ => ()
    }
    // 11. Selected flag gets a descriptive name
    dr.remove("Selected").foreach(v => dr("Is Prescribing Physician") = v)
    // 12. OCR-interpreted signature text -> Present
    if (dr.contains("Physician Signature")) dr("Physician Signature") = "Present"
    // 13. Infant Name that captured the next label is absent
    if (pa.get("Infant Name").contains("Infant Date of Birth"))
      pa("Infant Name") = "Not present"

    (pa, dr, pr)
  }

  /** Canonical nested output record (§1.1):
    * `{"doctor":{...},"patient":{...},"prescription":{...}}` with keys
    * sorted inside each section for determinism.
    */
  def routedRecordJson(text: String): String = {
    val (pa, dr, pr) = routeAndClean(text)
    val sb = new StringBuilder(128)
    sb.append("{\"doctor\":").append(fieldsToJson(dr.toMap))
      .append(",\"patient\":").append(fieldsToJson(pa.toMap))
      .append(",\"prescription\":").append(fieldsToJson(pr.toMap))
      .append('}')
    sb.result()
  }

  // -------------------------------------------------------------------------
  // Signature detection (C4, text-indicator arm): reference
  // `detect_signature` methods 3 ("signature"/"signed"//s/) and the
  // "Signed by customer:" implication.
  // -------------------------------------------------------------------------
  def detectSignature(text: String): Boolean =
    detectSignatureLow(text.toLowerCase)

  /** detectSignature() over an already-lowercased text (see classifyLow). */
  def detectSignatureLow(low: String): Boolean = {
    low.contains("/s/") || low.contains("signed by customer") ||
    low.contains("firmado por el cliente") || low.contains("signature:") ||
    (low.contains("signature") && low.contains("signed"))
  }

  /** Layout span: page-normalized bounding box of a text-less line block
    * (the OCR geometry the reference's Method 2 inspects). Transcripts
    * carry no geometry, so this arm only activates when a caller supplies
    * spans from a layout-parsing source.
    */
  final case class LayoutSpan(width: Double, height: Double, hasText: Boolean)

  /** C4 geometry arm (detect_signature Method 2,
    * Ethan_PDFandJPG3.py:498-508): a wide, short, TEXT-LESS line block
    * reads as a handwritten signature stroke.
    */
  def detectSignatureGeometry(spans: Seq[LayoutSpan]): Boolean =
    spans.exists(s => s.width > 0.2 && s.height < 0.05 && !s.hasText)

  /** Full C4 ladder in the reference's arm order: geometry (Method 2)
    * before text indicators (Method 3). Method 1 (native SIGNATURE
    * blocks) has no analog without an OCR backend.
    */
  def detectSignatureFull(text: String, spans: Seq[LayoutSpan]): Boolean =
    detectSignatureGeometry(spans) || detectSignature(text)

  /** Positioned layout span: page-normalized top-left corner of a text
    * block from a layout-parsing source (the geometry the reference's
    * Textract TABLE/CELL blocks carry — `EthansCode/Ethan_PDFandJPG3.py`
    * consumes Textract's pre-aligned CELL rows/columns; with a raw layout
    * source the alignment itself is ours to compute).
    */
  final case class PosSpan(x: Double, y: Double, text: String)

  /** Table-cell alignment from positioned layout spans: reconstruct the
    * (row, column) grid that a set of positioned text blocks visually
    * forms — the Textract-TABLE analog over raw layout geometry.
    *
    * Row assignment: spans sorted by (y, x, text); a new row starts when
    * the y-gap to the previous span exceeds `rowGap` (1-D single-linkage
    * clustering on sorted coordinates — deterministic, no iteration).
    * Column assignment: the distinct x positions of the whole table are
    * clustered the same way with `colGap`; a span's column is its
    * x-cluster's rank. Ragged tables (missing cells) keep their column
    * identity because columns are derived from the table-wide x profile,
    * not per-row order. Returns (row, col, text) sorted by (row, col,
    * text).
    *
    * Row-local per document (one conversation/page's spans fit in memory
    * by construction), so the operator is embarrassingly parallel — the
    * 100 TB shape is a flatMap, no shuffle.
    */
  def tableCells(spans: Seq[PosSpan], rowGap: Double = 0.02,
      colGap: Double = 0.05): Seq[(Int, Int, String)] = {
    if (spans.isEmpty) return Seq.empty
    val byY = spans.sortBy(s => (s.y, s.x, s.text))
    val rowIds = new Array[Int](byY.length)
    var r = 0
    var i = 1
    while (i < byY.length) {
      if (byY(i).y - byY(i - 1).y > rowGap) r += 1
      rowIds(i) = r
      i += 1
    }
    val colOf = xClusters(spans, colGap)
    byY.indices.map(i => (rowIds(i), colOf(byY(i).x), byY(i).text))
      .sortBy(t => (t._1, t._2, t._3))
  }

  /** Column ids from the page's x profile: the distinct x positions,
    * sorted, start a new cluster wherever the gap to the previous one
    * exceeds `gap`; each x maps to its cluster's rank.
    */
  private def xClusters(spans: Seq[PosSpan], gap: Double): scala.collection.Map[Double, Int] = {
    val xs = spans.map(_.x).distinct.sorted
    val colOf = scala.collection.mutable.HashMap.empty[Double, Int]
    var c = 0
    var j = 0
    while (j < xs.length) {
      if (j > 0 && xs(j) - xs(j - 1) > gap) c += 1
      colOf(xs(j)) = c
      j += 1
    }
    colOf
  }

  /** Anchored field-value SPANS: for every `Key: value` line, the
    * ABSOLUTE character span (0-based start, length) of the space-trimmed
    * value in the input text, plus the key and the covered text. This is
    * the span-native form of the KV anchor pass (KV1-3): downstream
    * consumers that must point back INTO the turn text (highlighting,
    * redaction, provenance audits — the north rule's "extracted
    * text/spans match per turn") get offsets instead of copies, and
    * `text.substring(start, start+len)` recovers the value exactly.
    * Space-only trimming on both ends of the value (matching SQL trim
    * semantics); lines without a colon, with an empty key, or with an
    * empty trimmed value emit nothing. Row-local — the 100 TB shape is a
    * flatMap, no shuffle.
    */
  def anchorSpans(text: String): Seq[(String, Int, Int, String)] = {
    val out = Seq.newBuilder[(String, Int, Int, String)]
    var off = 0
    for (line <- text.split("\n", -1)) {
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim
        var s = c + 1
        var e = line.length
        while (s < e && line.charAt(s) == ' ') s += 1
        while (e > s && line.charAt(e - 1) == ' ') e -= 1
        if (key.nonEmpty && e > s)
          out += ((key, off + s, e - s, line.substring(s, e)))
      }
      off += line.length + 1
    }
    out.result()
  }

  /** Merge overlapping-or-touching [start, end) spans into disjoint
    * intervals — the overlap-resolution step downstream of every
    * span producer ([[anchorSpans]], [[segment]], layout boxes, PII
    * match ranges): independent extractors emit ranges over the same
    * text, and consumers (redaction splicing, highlight rendering,
    * coverage accounting) need them disjoint. Classic sweep: sort by
    * (start, end), fold with a running max-end; a span starting
    * strictly after the running end opens a new interval (touching
    * spans merge — redacting [5,10) and [10,15) is one cut). Returns
    * (start, end, count-of-source-spans) per merged interval.
    * Row-local per document — the 100 TB shape is a flatMap, no
    * shuffle; cost O(k log k) in the per-doc span count.
    */
  def mergeSpans(spans: Seq[(Int, Int)]): Seq[(Int, Int, Int)] = {
    if (spans.isEmpty) return Seq.empty
    val sorted = spans.sortBy(identity)
    val out = Seq.newBuilder[(Int, Int, Int)]
    var (cs, ce) = sorted.head
    var n = 1
    for ((s, e) <- sorted.tail) {
      if (s <= ce) { if (e > ce) ce = e; n += 1 }
      else { out += ((cs, ce, n)); cs = s; ce = e; n = 1 }
    }
    out += ((cs, ce, n))
    out.result()
  }

  // Offset-emitting PII detectors — the span-producing counterpart of
  // TextFunctions.redactPii (which rewrites in place and so can't feed
  // downstream span consumers). Four INDEPENDENT detectors whose matches
  // legitimately overlap (the generic digit-run fires inside a phone or
  // SSN match), which is exactly why mergeSpans sits between detection
  // and splicing.
  private val piiEmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[a-z]{2,}".r
  private val piiPhoneRe = "\\(\\d{3}\\) \\d{3}-\\d{4}".r
  private val piiSsnRe = "\\d{3}-\\d{2}-\\d{4}".r
  private val piiDigitRunRe = "\\d{4,}".r

  /** All PII match ranges [start, end) over `text`, one entry per raw
    * detector hit (unmerged — feed through [[mergeSpans]]). Row-local;
    * the 100 TB shape is a map inside the extract stage, no shuffle.
    */
  def piiSpans(text: String): Seq[(Int, Int)] =
    Seq(piiEmailRe, piiPhoneRe, piiSsnRe, piiDigitRunRe).flatMap(
      _.findAllMatchIn(text).map(m => (m.start, m.end)).toList)

  /** Splice merged spans OUT of `text`: keep everything outside the
    * disjoint [start, end) intervals, writing `marker(count)` in place
    * of each — the redaction step downstream of [[piiSpans]] +
    * [[mergeSpans]]. Requires the intervals disjoint and sorted (what
    * mergeSpans emits); a marker carrying the source-hit count keeps
    * the cut auditable without retaining the cut text.
    */
  def spliceSpans(text: String, merged: Seq[(Int, Int, Int)],
      marker: Int => String): String = {
    // java.lang.StringBuilder for the (CharSequence, from, to) append —
    // scala's StringBuilder would auto-tuple the 3-arg call into append(Any)
    val sb = new java.lang.StringBuilder(text.length)
    var pos = 0
    for ((s, e, n) <- merged) {
      sb.append(text, pos, s).append(marker(n))
      pos = e
    }
    sb.append(text, pos, text.length).toString
  }

  /** Multi-column READING ORDER from positioned spans — the layout-parse
    * step between raw geometry and linear text (a PDF two-column page
    * must be read left column top-to-bottom, THEN right column; naive
    * y-order interleaves the columns). Columns come from 1-D gap
    * clustering over the page-wide x profile (same primitive as
    * [[tableCells]], wider gap: column gutters are an order of magnitude
    * larger than intra-column jitter), order within a column is (y, x,
    * text). Returns spans tagged 0..n-1 in reading order.
    *
    * Row-local per document/page — the 100 TB shape is a flatMap, no
    * shuffle (reference analog: the linearization the reference gets for
    * free from Textract's LINE ordering, e.g.
    * EthansCode/Ethan_PDFandJPG3.py's line loop).
    */
  def readingOrder(spans: Seq[PosSpan], colGap: Double = 0.3): Seq[(Int, String)] = {
    if (spans.isEmpty) return Seq.empty
    val colOf = xClusters(spans, colGap)
    spans.sortBy(s => (colOf(s.x), s.y, s.x, s.text))
      .zipWithIndex.map { case (s, i) => (i, s.text) }
  }

  // -------------------------------------------------------------------------
  // Confidence (A1/A2).
  // -------------------------------------------------------------------------
  /** A1: (keyCount - emptyCount) / keyCount, 0.0 when empty map. */
  def confidenceA1(fields: Map[String, String]): Double =
    if (fields.isEmpty) 0.0
    else {
      val keyCount = fields.size
      val emptyCount = fields.valuesIterator.count(_.isEmpty)
      (keyCount - emptyCount).toDouble / keyCount
    }

  /** A2: 3-point — +1 per non-empty of {signed_by, signed_date, signature},
    * /3, rounded to 2 decimals (half-up, matching Python round for these
    * values: 0.0, 0.33, 0.67, 1.0).
    */
  def confidenceA2(fields: Map[String, String], sig: Boolean): Double = {
    var pts = 0
    if (fields.get("signed_by").exists(_.nonEmpty)) pts += 1
    if (fields.get("signed_date").exists(_.nonEmpty)) pts += 1
    if (sig) pts += 1
    math.round(pts / 3.0 * 100.0) / 100.0
  }

  // -------------------------------------------------------------------------
  // Canonical JSON forms for the sink boundary. The reference emits JSON
  // text into its sinks (`json.dump`, Postgres json columns —
  // finalcodes/Facesheet.py:157-196); we do the same: nested parquet
  // writes of array<struct>/map cost ~20x a string column, so the results
  // table stores these as canonical JSON strings and `from_json` recovers
  // the typed form when needed. Keys sorted for determinism.
  // -------------------------------------------------------------------------
  private def jsonEscape(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  def fieldsToJson(fields: Map[String, String]): String = {
    val sb = new StringBuilder(64)
    sb.append('{')
    var first = true
    for ((k, v) <- fields.toSeq.sortBy(_._1)) {
      if (!first) sb.append(',')
      first = false
      jsonEscape(sb, k); sb.append(':'); jsonEscape(sb, v)
    }
    sb.append('}')
    sb.result()
  }

  def sectionsToJson(sections: Seq[Section]): String = {
    val sb = new StringBuilder(64)
    sb.append('[')
    var first = true
    for (s <- sections) {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"header\":"); jsonEscape(sb, s.header)
      sb.append(",\"start\":").append(s.start)
      sb.append(",\"len\":").append(s.len).append('}')
    }
    sb.append(']')
    sb.result()
  }

  // -------------------------------------------------------------------------
  // Fused per-turn extractor — the body of `extract_turn` and the oracle.
  // -------------------------------------------------------------------------
  def extractTurn(convId: String, turnIdx: Int, text: String): ExtractedTurn = {
    if (text == null || text.isEmpty)
      return ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
        Map.empty, Map.empty, signature_present = false, 0.0, "failed:empty")
    if (text.length > MaxTextChars)
      return ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
        Map.empty, Map.empty, signature_present = false, 0.0, "failed:oversize")
    try {
      val stripped = extractText(text)
      val sections = segment(stripped)
      // one lowercase copy per turn, shared by the classifier, the
      // signature detector, and the bank pattern guards
      val low = stripped.toLowerCase
      val docType = classifyLow(low)
      val anchors = kvAnchors(stripped).toMap
      // Substring routing like the reference's `"PRESCRIPTION" in
      // doc_type` / `"AGREEMENT" in doc_type` dispatch: POSSIBLE_* tiers
      // run the same bank as their confident counterparts.
      val bank =
        if (docType == "FACESHEET") facesheetBank(stripped, low)
        else if (docType.contains("PRESCRIPTION")) prescriptionBank(stripped, low)
        else if (docType.contains("AGREEMENT")) agreementBank(stripped)
        else if (docType == "INSURANCE") insuranceBank(stripped, low)
        else Map.empty[String, String]
      // Merge precedence: pattern-bank result beats KV anchor (§3.3).
      val fields = anchors ++ bank
      // provenance mirrors the merge exactly: a key in `bank` was
      // produced (or overridden) by the pattern arm, anything else by
      // its KV anchor
      val fieldSrc = fields.map { case (k, _) =>
        k -> (if (bank.contains(k)) "pattern" else "anchor")
      }
      val sig = detectSignatureLow(low)
      val conf =
        if (docType.contains("AGREEMENT")) confidenceA2(bank, sig)
        else confidenceA1(fields)
      ExtractedTurn(convId, turnIdx, docType, stripped, sections, fields,
        fieldSrc, sig, conf, "ok")
    } catch {
      case e: Exception =>
        // E1 quarantine: never abort the job on one bad row.
        ExtractedTurn(convId, turnIdx, "UNKNOWN", "", Vector.empty,
          Map.empty, Map.empty, signature_present = false, 0.0,
          s"failed:${e.getClass.getSimpleName}")
    }
  }
}
