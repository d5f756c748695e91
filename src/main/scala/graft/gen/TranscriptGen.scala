package graft.gen

import java.sql.Timestamp
import java.util.Locale
import graft.model.Turn

/** Deterministic, seedable RNG — SplitMix64 (public-domain algorithm,
  * Steele et al., "Fast Splittable Pseudorandom Number Generators").
  * Stateless usage: every payload derives its stream purely from
  * (seed, convIdx, turnIdx), so generation is order- and
  * partition-independent — any executor can produce row (c, t) alone.
  */
final class Rng(seed0: Long) {
  private var s = seed0
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = {
    val l = nextLong() & Long.MaxValue
    (l % bound).toInt
  }
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.length))
}

/** Deterministic synthetic transcripts generator (FIXTURES.md §1-2).
  * No wall clock, no external data: text payloads reproduce the
  * reference's document shapes (facesheet forms, prescriptions with ICD
  * codes/checkboxes, signed agreements, insurance cards, HTML boilerplate,
  * plain text). Conversation sizes follow a seeded Zipf-like distribution
  * plus one deliberately giant conversation (skew fixture for salting).
  */
object TranscriptGen {

  val BaseSeed = 42L
  val Epoch = 1704067200000L // 2024-01-01T00:00:00Z, fixed

  private val firstNames = Vector("JANE", "ANA", "MARIA", "JOHN", "LIN",
    "OMAR", "PRIYA", "KAI", "SOFIA", "DEV")
  private val lastNames = Vector("DOE", "LI", "GOMEZ", "ROE", "PATEL",
    "KIM", "SILVA", "KHAN", "NOVAK", "DIAZ")
  private val providers = Vector("BlueCross", "Aetna", "Cigna", "United",
    "Humana")
  private val fillerWords = Vector("alpha", "bravo", "charlie", "delta",
    "echo", "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
    "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
    "tango")

  def convId(i: Int): String = f"conv-$i%08d"

  /** Turn count for conversation i: conv 0 is the giant skew fixture
    * (~64x median); the rest Zipf-ish in [1, 24].
    */
  def convSize(i: Int, scale: Int): Int =
    if (i == 0) math.max(64, scale)
    else {
      val r = new Rng(BaseSeed ^ (i * 0x9e3779b97f4a7c15L))
      1 + (24 / (1 + r.nextInt(12)))
    }

  private def rngFor(convIdx: Int, turnIdx: Int) =
    new Rng(BaseSeed ^ (convIdx * 0xc2b2ae3d27d4eb4fL) ^
      (turnIdx * 0x165667b19e3779f9L))

  private def date(r: Rng): String =
    f"${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d/${1980 + r.nextInt(45)}%d"

  private def phone(r: Rng): String =
    f"(${200 + r.nextInt(799)}%03d) ${200 + r.nextInt(799)}%03d-${r.nextInt(10000)}%04d"

  private def filler(r: Rng, n: Int): String =
    (0 until n).map(_ => r.pick(fillerWords)).mkString(" ")

  def facesheet(r: Rng): String = {
    val name = s"${r.pick(lastNames)}, ${r.pick(firstNames)}"
    val emptyGuarantor = r.nextInt(3) == 0
    s"""PATIENT INFORMATION
       |Patient Name: $name
       |Patient Date of Birth: ${date(r)}
       |Patient Phone Number: ${phone(r)}
       |MRN: ${1000000 + r.nextInt(9000000)}
       |INSURANCE
       |Patient insurance provider: ${r.pick(providers)}
       |Patient insurance group number: GRP-${10000 + r.nextInt(90000)}
       |Guarantor Name:${if (emptyGuarantor) "" else " " + r.pick(firstNames) + " " + r.pick(lastNames)}
       |Admit Date: ${date(r)}""".stripMargin
  }

  def prescription(r: Rng): String = {
    val mother = s"${r.pick(firstNames).toLowerCase(Locale.ROOT).capitalize} ${r.pick(lastNames).toLowerCase(Locale.ROOT).capitalize}"
    val icd = s"Z39.${r.nextInt(9)}"
    val npi = (1000000000L + (r.nextLong() & Long.MaxValue) % 9000000000L).toString.take(10)
    s"""The Breast Pump Depot
       |Mother Name: $mother    DOB: ${date(r)}
       |Section II. Medical Necessity
       |X 1. Mother expects regular separation from infant
       |X 2. ${filler(r, 4)}
       |ICD-10 Code(s): $icd
       |Item Description Code Length of Need
       |QTY ${1 + r.nextInt(3)} Double Electric Breast Pump Code E0603
       |Length of Need: ${1 + r.nextInt(12)}
       |Refills: ${r.nextInt(4)}
       |Physicians Name: ${r.pick(firstNames).take(1)}. ${r.pick(lastNames).toLowerCase(Locale.ROOT).capitalize}, MD - $npi""".stripMargin
  }

  def agreement(r: Rng): String = {
    val signer = s"${r.pick(firstNames).toLowerCase(Locale.ROOT).capitalize} ${r.pick(lastNames).toLowerCase(Locale.ROOT).capitalize}"
    val spanish = r.nextInt(4) == 0
    val missingSig = r.nextInt(5) == 0
    val body = (0 until 3 + r.nextInt(4))
      .map(_ => "This agreement sets forth the terms and conditions. " + filler(r, 8) + ".")
      .mkString("\n")
    val tail =
      if (missingSig) s"Date : ${date(r)} 0${1 + r.nextInt(9)}:${10 + r.nextInt(49)} CMT"
      else if (spanish)
        s"Firmado por el cliente: $signer\nFecha: ${date(r)}"
      else
        s"Signed by customer: $signer\nDate : ${date(r)} 0${1 + r.nextInt(9)}:${10 + r.nextInt(49)} CMT"
    s"CUSTOMER AGREEMENT\n$body\n$tail"
  }

  def insurance(r: Rng): String = {
    val member = s"${r.pick(firstNames)} ${r.pick(lastNames)}"
    val id = s"W${100000000 + r.nextInt(900000000)}"
    s"""Member Name $member $id
       |BIN: ${600000 + r.nextInt(29999)}
       |Rx PCN: ${r.pick(Vector("ADV", "IRX", "MEDD", "A4"))}
       |Group No: ${10000 + r.nextInt(90000)}
       |Copay: $$${5 + r.nextInt(45)}
       |Patient insurance provider: ${r.pick(providers)}""".stripMargin
  }

  def html(r: Rng): String = {
    val main = "Main content paragraph with enough words to be kept by the " +
      "density classifier. " + filler(r, 12) + "."
    s"""<html><body>
       |<nav><a href="/a">Home</a> <a href="/b">About</a> <a href="/c">More</a></nav>
       |<div>$main</div>
       |<div>Second paragraph of real content here. ${filler(r, 10)}.</div>
       |<footer><a href="/x">Terms</a> <a href="/y">Privacy</a></footer>
       |</body></html>""".stripMargin
  }

  def plain(r: Rng): String =
    "note " + filler(r, 12 + r.nextInt(30))

  val shapes: Vector[String] =
    Vector("facesheet", "prescription", "agreement", "insurance", "html", "plain")

  def payload(convIdx: Int, turnIdx: Int): (String, String) = {
    val r = rngFor(convIdx, turnIdx)
    // Long math: Int (convIdx*31+turnIdx) overflows negative at ~69M convs
    val shape = shapes(
      java.lang.Math.floorMod(convIdx.toLong * 31 + turnIdx, shapes.length.toLong).toInt)
    val text = shape match {
      case "facesheet"    => facesheet(r)
      case "prescription" => prescription(r)
      case "agreement"    => agreement(r)
      case "insurance"    => insurance(r)
      case "html"         => html(r)
      case "plain"        => plain(r)
    }
    (text, shape)
  }

  def turn(convIdx: Int, turnIdx: Int): Turn = {
    val (text, shape) = payload(convIdx, turnIdx)
    Turn(
      conv_id = convId(convIdx),
      turn_idx = turnIdx,
      role = Vector("user", "assistant", "tool")(turnIdx % 3),
      text = text,
      tool = shape,
      ts = new Timestamp(Epoch + turnIdx * 60000L)
    )
  }

  /** All turns for conversations [0, nConvs); giantScale sets conv 0's
    * size. Single-threaded iterator — the oracle path and test fixture.
    */
  def turns(nConvs: Int, giantScale: Int = 256): Iterator[Turn] =
    (0 until nConvs).iterator.flatMap { c =>
      (0 until convSize(c, giantScale)).iterator.map(t => turn(c, t))
    }

  def totalTurns(nConvs: Int, giantScale: Int = 256): Long =
    (0 until nConvs).map(c => convSize(c, giantScale).toLong).sum
}
