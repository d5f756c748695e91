package graft.extract

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import graft.gen.{Rng, TranscriptGen}

/** Differential tests of the one-pass extractor kernel against the regex
  * and `contains` forms it replaced ([[RegexBanks]]): every rewritten
  * stage, then whole turns, on seeded adversarial text built from the
  * stages' own literals in mixed case, near misses, digit runs of every
  * length around the patterns' bounds, every `\s` char and line
  * terminator (CRLF included), bullets, non-ASCII letters, marks and
  * digits, U+0130 (whose lowercase is two chars), the Kelvin sign (whose
  * lowercase is `k`), surrogate pairs, over-long keys and repeated
  * anchors. Each stage runs at least 10K cases.
  */
class KernelSpec extends AnyFunSuite {

  private val Cases = 12000

  private val common: Vector[String] = Vector(
    " ", "  ", "   ", "\t", "\n", "\n", "\r\n", "\r", "\u000B", "\f", "\u0085",
    "\u2028", "\u2029", "\u0130", "\u0131", "\u212A", "\u00E9", "\u0301",
    "\u0663", "\uD835\uDC00", "\u00DF", "\u03A3", "_", "'", "#", "?", "/", ".",
    ",", ":", "-", "(", ")", "a", "b", "X", "Bob", "J. Roe", "Jane Doe", "1", "12",
    "123456", "1234567", "1234567890", "123456789012", "1234567890123")

  private val bankWords: Vector[String] = Vector(
    "QTY", "Qty", "Code", "code", "CODE", "C", "Physician", "Physicians",
    "PHYSICIAN", "Name", "name", "NAME", ", MD", ",MD", " MD", "md", "M", "D",
    "Member", "MEMBER", "member", "ICD-10", "icd-10", "Code(s)", "s", "S",
    "\u2022", "\u2756", "\u2605", "\u2726", "\u25CF", "\u25A0", "\u25AA",
    "Section", "SECTION", "section", "II", "III", "ii", "Medical Necessity",
    "MEDICAL NECESSITY", "\u2713", "x", "Z39.1", "W123456789", "a1234567")

  private val fieldWords: Vector[String] = Vector(
    "Mother", "Patient", "DOB", "Date of Birth", "Phone", "Phone Number",
    "Length of Need", "Date", "Fecha", "Signed by customer",
    "Firmado por el cliente", "double electric breast pump", "Breast Pump",
    "E0603", "pump depot", "Patient Name: ", "Date : ", "Signature:", "/s/",
    "signed", "agreement", "terms and conditions", "consent", "hereby",
    "customer", "insurance provider", "subscriber", "copay", "bin", "rx pcn",
    "rxgrp", "payer", "prescription", "npi", "refills", "diagnosis", "mrn",
    "facesheet", "guarantor", "admit date", "01/02/2020", "1/2/2020 10:30 PM",
    "(555) 123-4567", "the ", "THE ", "PATIENT INFORMATION", "INFO", "Key: v",
    "Key : value", "K" + "a" * 48 + ": v", "K" + "a" * 49 + ": v", "Mrn: 1",
    "MRN: 2", "Member Name ", "Physicians Name: ", "QTY 2 ", " Code E0603",
    "Section II. Medical Necessity\n", "X 1. item\n", "Section III")

  /** Up to `max` fragments of `vocab`, or a turn of the generator with
    * fragments spliced in at random places.
    */
  private def text(r: Rng, vocab: Vector[String], max: Int): String =
    if (r.nextInt(4) == 0) {
      val sb = new StringBuilder(TranscriptGen.payload(r.nextInt(997), r.nextInt(31))._1)
      for (_ <- 0 until r.nextInt(6)) sb.insert(r.nextInt(sb.length + 1), r.pick(vocab))
      sb.toString
    } else (0 until r.nextInt(max + 1)).map(_ => r.pick(vocab)).mkString

  private def cases(seed: Long, vocab: Vector[String], max: Int = 30)(check: String => Unit): Unit = {
    val r = new Rng(seed)
    for (_ <- 0 until Cases) {
      val t = text(r, vocab, max)
      withClue(s"on ${show(t)}: ")(check(t))
    }
  }

  private def show(s: String): String =
    s.map(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString).mkString

  private val all = common ++ bankWords ++ fieldWords

  /** Where the kernel starts a hand scan for a pattern that starts with
    * `lit`: its first index in the aligned lowercase copy, else 0.
    */
  private def from(t: String, lit: String): Int = {
    val low = t.toLowerCase(Locale.ROOT)
    if (low.length == t.length) low.indexOf(lit) else 0
  }

  private def same(a: Array[String], b: Array[String]): Unit =
    assert(Option(a).map(_.toVector) == Option(b).map(_.toVector))

  test("the literal scan finds each literal's first index, and classifies as contains does") {
    val lits = Extract.literals.literals
    cases(1, common ++ fieldWords ++ lits.toVector) { t =>
      val low = t.toLowerCase(Locale.ROOT)
      val first = Extract.literals.firstIndices(low)
      for (i <- lits.indices) assert(first(i) == low.indexOf(lits(i)), lits(i))
      assert(Extract.classify(t) == RegexBanks.classifyLow(low))
      assert(Extract.detectSignature(t) == RegexBanks.detectSignatureLow(low))
    }
  }

  test("segment equals the split-based segmenter") {
    cases(2, all ++ Vector("HEADER", "ALL CAPS LINE", "Caps", "\u00C9T\u00C9", "STRASSE \u00DF",
      "A" * 61, "\n\n", "  \n")) { t =>
      assert(Extract.segment(t) == RegexBanks.segment(t))
    }
  }

  test("kvAnchors equals the line regex") {
    cases(3, all, max = 40) { t =>
      assert(Extract.kvAnchors(t) == RegexBanks.kvAnchors(t))
    }
  }

  private val qtyVocab = common ++ Vector("QTY", "QTY ", "Code", "C", "Co", "c", "x",
    "Double Electric", "12", "3", "E0603", "\n", " ", "  ", "Cod", "QT")

  test("qty equals QTY\\s*(\\d+)\\s*([^C\\n]+?)\\s*Code\\s*(\\w+)") {
    cases(4, qtyVocab, max = 16) { t =>
      same(BankScans.qty(t), RegexBanks.groups(RegexBanks.qtyTriGroup, t))
    }
  }

  private val physVocab = common ++ Vector("Physician", "physicians", "PHYSICIANS", "Name",
    "name", ":", " :", "-", " - ", "- ", ",", ", MD", ",MD", " MD", "Md", "M", "D",
    "1234567", "12345", "12345678901", "a", "J. Roe", "\n", " ", "  ", "s")

  test("physician equals the physician-NPI regex") {
    cases(5, physVocab, max = 16) { t =>
      val want = RegexBanks.groups(RegexBanks.physicianNpi, t)
      same(BankScans.physician(t, 0), want)
      val f = from(t, "physician")
      same(if (f < 0) null else BankScans.physician(t, f), want)
    }
  }

  private val memberVocab = common ++ Vector("Member", "MEMBER", "member", "Name", "name",
    " ", "  ", "   ", "\t", "a", "Ann Lee", "O'Neil", "-", ".", "W123456", "w1234567",
    "W1234567890123", "123", "1", "_", "\u00E9", "\u0301", "\u0663", "Member Name ")

  test("member equals the member-name-id regex") {
    cases(6, memberVocab, max = 16) { t =>
      val want = RegexBanks.groups(RegexBanks.memberNameId, t)
      same(BankScans.member(t, 0), want)
      val f = from(t, "member")
      same(if (f < 0) null else BankScans.member(t, f), want)
    }
  }

  private val icdVocab = common ++ Vector("ICD-10", "icd-10", "Code", "code", "(", "s",
    ")", "Code(s)", ":", "\u2022", "\u25AA", "\u25A0", "Z39.1", "z3.", "Z.1", "A1.2",
    "x" * 10, "y" * 30, "\uD835\uDC00", " ", "\n")

  test("icdBullet equals the bullet-aware ICD-10 regex") {
    cases(7, icdVocab, max = 16) { t =>
      val want = RegexBanks.icdBulletCode(t)
      assert(BankScans.icdBullet(t, 0) == want)
      val f = from(t, "icd-10")
      assert((if (f < 0) null else BankScans.icdBullet(t, f)) == want)
    }
  }

  private val necVocab = common ++ Vector("Section", "SECTION", "section", " ", "  ", "\n",
    "II", "III", "ii", ".", "Medical Necessity", "medical necessity", "X", "\u2713",
    "X 1. item", "1.", "2. b", "body", "\r\n", "\r", "\u2028", "\u0085")

  test("necessitySection and checkboxItems equal their regexes") {
    cases(8, necVocab, max = 16) { t =>
      val want = RegexBanks.necessityBody(t)
      assert(BankScans.necessitySection(t, 0) == want)
      val f = from(t, "section")
      assert((if (f < 0) null else BankScans.necessitySection(t, f)) == want)
      assert(BankScans.checkboxItems(t) == RegexBanks.checkboxItems(t))
      if (want != null) assert(Extract.checkboxItems(t) == RegexBanks.checkboxItems(want))
    }
  }

  test("the four banks equal their regex forms") {
    cases(9, all, max = 40) { t =>
      assert(Extract.facesheetBank(t) == RegexBanks.facesheetBank(t))
      assert(Extract.prescriptionBank(t) == RegexBanks.prescriptionBank(t))
      assert(Extract.agreementBank(t) == RegexBanks.agreementBank(t))
      assert(Extract.insuranceBank(t) == RegexBanks.insuranceBank(t))
    }
  }

  test("the JSON writers equal the Map-sorting ones") {
    cases(10, all ++ Vector("\"", "\\", "\u0000", "\u001f", "\b", "\u007f")) { t =>
      val words = t.split(" ", -1).toVector
      val fields = words.zip(words.reverse).toMap
      assert(Extract.fieldsToJson(fields) == RegexBanks.fieldsToJson(fields))
      val secs = Extract.segment(t)
      assert(Extract.sectionsToJson(secs) == RegexBanks.sectionsToJson(secs))
    }
  }

  test("whole turns equal the regex-form extractor, in both output forms") {
    cases(11, all, max = 60) { t =>
      val k = Extract.turn(t)
      val e = k.toExtractedTurn("c", 1)
      val want = RegexBanks.extractTurn("c", 1, t)
      assert(e == want)
      assert(k.fieldsJson == RegexBanks.fieldsToJson(want.fields))
      assert(k.fieldSrcJson == RegexBanks.fieldsToJson(want.field_src))
      assert(k.sectionsJson == RegexBanks.sectionsToJson(want.sections))
    }
  }
}
