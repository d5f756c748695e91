package graft.extract

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.TranscriptGen

/** Cross-round semantics pin: one checksum over the full extractor output
  * for a fixed generated corpus. The golden-equality tests prove
  * engine == oracle WITHIN a build; this pins the oracle itself BETWEEN
  * rounds, so an unintentional change to any extraction rule (classifier
  * thresholds, a regex, merge precedence, confidence math) fails loudly.
  * When semantics change on purpose, update the constant in the same
  * commit and say why.
  */
class GoldenChecksumSpec extends AnyFunSuite {

  // r2 value — set after the round-2 classifier ladder change
  // (POSSIBLE_* tiers + substring-routed banks).
  private val Expected = "713cf133b8db052b1cf7338f3540848d"

  private def checksum(): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for (c <- 0 until 40; t <- 0 until TranscriptGen.convSize(c, 32)) {
      val turn = TranscriptGen.turn(c, t)
      val e = Extract.extractTurn(turn.conv_id, turn.turn_idx, turn.text)
      val line = Seq(e.conv_id, e.turn_idx, e.doc_type, e.extracted_text,
        Extract.sectionsToJson(e.sections), Extract.fieldsToJson(e.fields),
        e.signature_present, e.confidence, e.status).mkString("\u0001")
      md.update(line.getBytes("UTF-8"))
      md.update(0: Byte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("extraction semantics checksum is stable across rounds") {
    val got = checksum()
    assert(got == Expected,
      s"extraction semantics drifted: checksum $got != $Expected — if the " +
        "change is intentional, update Expected in the same commit and " +
        "document why")
  }

  test("the checksum does not depend on the JVM default locale") {
    // Turkish lowercases `I` to dotless `i` (U+0131): "DATE OF BIRTH" would no
    // longer contain "date of birth", and the generator's names would change
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      assert(checksum() == Expected)
    } finally Locale.setDefault(saved)
  }
}
