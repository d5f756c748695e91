package graft.extract

import java.util.Locale
import java.util.regex.Pattern
import graft.model.{ExtractedTurn, Section}

/** The regex and `contains` forms of the per-turn extractor that
 * [[Extract.turn]]'s one-pass kernel replaced, kept unchanged (but for
 * `Locale.ROOT` case conversion) as the differential reference for it:
 * `split`-based segmenting and KV lines through the line regex, one
 * `contains` scan per classifier keyword, bank guard and signature cue,
 * `find()` from the start for every bank pattern, immutable-`Map`
 * merging and `Map`-sorting JSON writers. Some patterns here are
 * quadratic on repeated unclosed forms, so feed them small inputs only.
 */
object RegexBanks {

  private def p(re: String) = Pattern.compile(re)

  private val kvLine = p("^([A-Za-z][A-Za-z0-9 .#/()'?-]{0,48}?)\\s*:\\s*(.*)$")
  val icdBullet: Pattern = p(Extract.IcdBulletRe)
  private val icdPlain = p(Extract.IcdPlainRe)
  private val icdGeneric = p(Extract.IcdGenericRe)
  private val patientName = p(Extract.PatientNameRe)
  private val patientDob = p(Extract.PatientDobRe)
  private val patientPhone = p(Extract.PatientPhoneRe)
  private val dateTimeFull = p(Extract.DateTimeFullRe)
  private val dateAnchored = p(Extract.DateAnchoredRe)
  private val dateBare = p(Extract.DateBareRe)
  private val signedBy = p(Extract.SignedByRe)
  val necessitySection: Pattern =
    p("(?is)Section\\s+II\\.?\\s*Medical Necessity(.*?)(?:Section\\s+III|$)")
  private val checkboxItem = p("(?m)^\\s*[X\\u2713]\\s*(\\d+)\\.\\s*([^\\n]+)")
  val qtyTriGroup: Pattern = p("QTY\\s*(\\d+)\\s*([^C\\n]+?)\\s*Code\\s*(\\w+)")
  private val lengthOfNeed = p("(?i)Length of Need\\s*:?\\s*(\\d+)")
  private val pumpPatterns = Vector(
    "(?i)double\\s+electric\\s+breast\\s+pump",
    "(?i)breast\\s+pump.{0,40}?double\\s+electric",
    "(?i)E0603",
    "(?i)pump\\s+depot").map(p)
  private val pumpGuards = Vector("double", "breast", "e0603", "pump")
  val physicianNpi: Pattern =
    p("(?i)Physicians?\\s*Name\\s*:\\s*([^\\n-]+?)\\s*(?:,\\s*MD)?\\s*-\\s*(\\d{6,10})")
  val memberNameId: Pattern =
    p("(?i)Member\\s*Name\\s+([A-Za-z .'-]+?)\\s+([A-Z]\\d{6,12})\\b")

  private def low(s: String) = s.toLowerCase(Locale.ROOT)

  def segment(text: String): Vector[Section] = {
    def isAllCapsHeader(line: String): Boolean = {
      val t = line.trim
      t.nonEmpty && t.length <= 60 && t.exists(_.isLetter) &&
      t == t.toUpperCase(Locale.ROOT) && !t.contains(":")
    }
    val out = Vector.newBuilder[Section]
    var header = "PARAGRAPH"
    var bodyStart = -1
    var bodyEnd = -1
    def flush(): Unit = {
      if (bodyStart >= 0) {
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

  def kvAnchors(text: String): Vector[(String, String)] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (line <- text.split("\n", -1)) {
      val m = kvLine.matcher(line)
      if (m.matches()) {
        val k = Extract.normalizeKey(m.group(1))
        if (k.nonEmpty && !seen.contains(k)) seen += k -> m.group(2).trim
      }
    }
    seen.toVector
  }

  def classifyLow(low: String): String = {
    val fs = Extract.keywordScore(low, Extract.facesheetKeywords)
    val ins = Extract.keywordScore(low, Extract.insuranceKeywords)
    val rx = Extract.keywordScore(low, Extract.prescriptionKeywords)
    val ag = Extract.keywordScore(low, Extract.agreementKeywords)
    if (fs >= 3 && fs >= ins) "FACESHEET"
    else if (ins >= 2) "INSURANCE"
    else if (rx >= 3 && rx > ag) "PRESCRIPTION"
    else if (ag >= 3 && ag >= rx) "AGREEMENT"
    else if (rx >= 2) "POSSIBLE_PRESCRIPTION"
    else if (ag >= 2) "POSSIBLE_AGREEMENT"
    else "UNKNOWN"
  }

  def detectSignatureLow(low: String): Boolean =
    low.contains("/s/") || low.contains("signed by customer") ||
    low.contains("firmado por el cliente") || low.contains("signature:") ||
    (low.contains("signature") && low.contains("signed"))

  private def firstMatch(pat: Pattern, text: String): Option[String] = {
    val m = pat.matcher(text)
    if (m.find()) Option(m.group(1)).map(_.trim).filter(_.nonEmpty) else None
  }

  /** A pattern's first match's groups, trimmed, or null (the shape of the
    * [[BankScans]] results).
    */
  def groups(pat: Pattern, text: String): Array[String] = {
    val m = pat.matcher(text)
    if (!m.find()) null else (1 to m.groupCount).map(m.group(_).trim).toArray
  }

  def icdBulletCode(text: String): String = firstMatch(icdBullet, text).orNull

  def necessityBody(text: String): String = firstMatch(necessitySection, text).orNull

  def checkboxItems(sec: String): Vector[String] = {
    val m = checkboxItem.matcher(sec)
    val items = Vector.newBuilder[String]
    while (m.find()) items += m.group(2).trim
    items.result()
  }

  def facesheetBank(text: String): Map[String, String] = {
    val lo = low(text)
    val b = Map.newBuilder[String, String]
    if (lo.contains("name")) firstMatch(patientName, text).foreach { v =>
      b += "patient_name" -> v
      val (f, l) = Extract.splitName(v)
      b += "patient_first_name" -> f
      b += "patient_last_name" -> l
    }
    if (lo.contains("dob") || lo.contains("date of birth"))
      firstMatch(patientDob, text).foreach(b += "patient_dob" -> _)
    if (lo.contains("phone"))
      firstMatch(patientPhone, text).foreach(b += "patient_phone" -> _)
    b.result()
  }

  def prescriptionBank(text: String): Map[String, String] = {
    val lo = low(text)
    val b = Map.newBuilder[String, String]
    if (lo.contains("name"))
      firstMatch(patientName, text).foreach(b += "patient_name" -> _)
    if (lo.contains("dob") || lo.contains("date of birth"))
      firstMatch(patientDob, text).foreach(b += "patient_dob" -> _)
    val icd =
      (if (lo.contains("icd-10"))
        firstMatch(icdBullet, text).orElse(firstMatch(icdPlain, text))
      else None).orElse(firstMatch(icdGeneric, text))
    icd.foreach(b += "icd10" -> _)
    if (lo.contains("medical necessity")) {
      val items = firstMatch(necessitySection, text).map(checkboxItems).getOrElse(Vector.empty)
      if (items.nonEmpty) b += "necessity_items" -> items.mkString("; ")
    }
    if (text.contains("QTY")) {
      val tri = qtyTriGroup.matcher(text)
      if (tri.find()) {
        b += "qty" -> tri.group(1).trim
        b += "item_description" -> tri.group(2).trim
        b += "item_code" -> tri.group(3).trim
      }
    }
    if (lo.contains("length of need"))
      firstMatch(lengthOfNeed, text).foreach(b += "length_of_need" -> _)
    if (pumpPatterns.zip(pumpGuards).exists { case (pt, g) =>
        lo.contains(g) && pt.matcher(text).find() })
      b += "pump_type" -> "Double Electric Breast Pump"
    if (lo.contains("physician")) {
      val phys = physicianNpi.matcher(text)
      if (phys.find()) {
        b += "physician_name" -> phys.group(1).trim
        b += "physician_npi" -> phys.group(2).trim
      }
    }
    b.result()
  }

  def agreementBank(text: String): Map[String, String] = {
    val tail = Extract.lastLines(text, 15)
    val tailLow = low(tail)
    val b = Map.newBuilder[String, String]
    if (tailLow.contains("signed by customer") ||
        tailLow.contains("firmado por el cliente"))
      firstMatch(signedBy, tail).filter(Extract.validName).foreach { v =>
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

  def insuranceBank(text: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    if (low(text).contains("member")) {
      val m = memberNameId.matcher(text)
      if (m.find()) {
        b += "member_name" -> m.group(1).trim
        b += "member_id" -> m.group(2).trim
      }
    }
    b.result()
  }

  private def jsonEscape(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    for (c <- s) c match {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def fieldsToJson(fields: Map[String, String]): String = {
    val sb = new StringBuilder("{")
    for (((k, v), i) <- fields.toSeq.sortBy(_._1).zipWithIndex) {
      if (i > 0) sb.append(',')
      jsonEscape(sb, k); sb.append(':'); jsonEscape(sb, v)
    }
    sb.append('}').result()
  }

  def sectionsToJson(sections: Seq[Section]): String = {
    val sb = new StringBuilder("[")
    for ((s, i) <- sections.zipWithIndex) {
      if (i > 0) sb.append(',')
      sb.append("{\"header\":"); jsonEscape(sb, s.header)
      sb.append(",\"start\":").append(s.start)
      sb.append(",\"len\":").append(s.len).append('}')
    }
    sb.append(']').result()
  }

  def extractTurn(convId: String, turnIdx: Int, text: String): ExtractedTurn = {
    def failed(status: String) = ExtractedTurn(convId, turnIdx, "UNKNOWN", "",
      Vector.empty, Map.empty, Map.empty, signature_present = false, 0.0, status)
    if (text == null || text.isEmpty) return failed("failed:empty")
    if (text.length > Extract.MaxTextChars) return failed("failed:oversize")
    try {
      val stripped = Extract.extractText(text)
      val sections = segment(stripped)
      val lo = low(stripped)
      val docType = classifyLow(lo)
      val anchors = kvAnchors(stripped).toMap
      val bank =
        if (docType == "FACESHEET") facesheetBank(stripped)
        else if (docType.contains("PRESCRIPTION")) prescriptionBank(stripped)
        else if (docType.contains("AGREEMENT")) agreementBank(stripped)
        else if (docType == "INSURANCE") insuranceBank(stripped)
        else Map.empty[String, String]
      val fields = anchors ++ bank
      val fieldSrc = fields.map { case (k, _) =>
        k -> (if (bank.contains(k)) "pattern" else "anchor")
      }
      val sig = detectSignatureLow(lo)
      val conf =
        if (docType.contains("AGREEMENT")) Extract.confidenceA2(bank, sig)
        else Extract.confidenceA1(fields)
      ExtractedTurn(convId, turnIdx, docType, stripped, sections, fields,
        fieldSrc, sig, conf, "ok")
    } catch {
      case e: Exception => failed(s"failed:${e.getClass.getSimpleName}")
    }
  }
}
