package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Extract

/** Mechanism gates for the reference-breadth query banks (InsuranceCard1,
  * Prescription1's two batched calls, BreastPump — finalcodes/
  * InsuranceCard1.py:92-107, Prescription1.py:104-128, BreastPump.py:
  * 110-119). Pure-JVM (no Spark session): the end-to-end catalog entries
  * q_bank_insurance15 / q_bank_rx17 / q_bank_pump9 gate the distributed
  * path against DuckDB; these tests pin the bank semantics the oracles
  * assume — key derivation (incl. the no-"?" query and typo keys),
  * banks at and past the reference's 15-per-call cap, answered/empty
  * splits and A1 confidence.
  */
class BankSpec extends AnyFunSuite {

  test("insurance15: exactly at the 15-cap -> single batch, 9/15 answered") {
    val payload =
      "INSURANCE CARD\nMember Name: LI, ANA\nMember ID: M100007\n" +
        "PCP: Dr Novak\nEffective Date: 08/08/1987\nGroup No.: G7\n" +
        "Plan Type: HMO1\nBIN: 610007\nRx PCN: PCN0\nGeneric Copay: $12"
    val dd = Extract.queryBank(OpQueries.Insurance15Queries, payload)
    assert(dd.size == 15)
    // no-"?" query derives its key without truncation
    assert(dd("Member Name") == "LI, ANA")
    assert(dd("Group No.") == "G7")           // "." kept in the key
    assert(dd("plan type") == "HMO1")         // case-insensitive anchor hit
    assert(dd("PCP") == "Dr Novak")
    assert(dd("phone number of the PCP") == "") // mid-string "the " kept
    assert(dd.valuesIterator.count(_.nonEmpty) == 9)
    assert(Extract.confidenceA1(dd) == 0.6)
  }

  test("rx17: 15+2 batched like the reference's two calls, typo keys kept") {
    val payload =
      "PRESCRIPTION FORM\nMember Name: Ana Li\nMemeber Sex: F\n" +
        "Member DOB: 03/03/1982\nMember Phone: (202) 555-0002\n" +
        "Member ID: R200002\nPresciber: Dr Kim\nGroup Name: Grp2\n" +
        "Rx GRP: RXG2\nSupply: pump kit 2\nSupply Quantity: 3"
    val dd = Extract.queryBank(OpQueries.Prescription17Queries, payload)
    assert(dd.size == 17)
    // the typos ARE the field names (textual key derivation)
    assert(dd("Memeber Sex") == "F")
    assert(dd("Presciber") == "Dr Kim")
    // the reference's second call (queries 16-17) lands next to "Supply"
    assert(dd("Supply") == "pump kit 2")
    assert(dd("Supply Quantity") == "3")
    assert(dd("Supply Duration") == "")
    assert(dd("Member Age") == "")
    assert(dd.valuesIterator.count(_.nonEmpty) == 10)
    assert(Extract.confidenceA1(dd) == 10.0 / 17)
    assert(math.rint(Extract.confidenceA1(dd) * 1e6) / 1e6 == 0.588235)
  }

  test("pump9: single batch under the cap, 6/9 answered") {
    val payload =
      "BREAST PUMP ORDER\nMother Name: Ana Li\n" +
        "Patient Phone Number: (202) 555-0002\n" +
        "Patient Date of Birth: 03/03/1982\nPhysician Name: Dr Kim\n" +
        "NPI Number: 1500000002\nInfant Name: Baby John"
    val dd = Extract.queryBank(OpQueries.Pump9Queries, payload)
    assert(dd.size == 9)
    assert(dd("Mother Name") == "Ana Li")
    assert(dd("Patient Name") == "")    // distinct from Mother Name
    assert(dd("Infant Name") == "Baby John")
    assert(dd("Infant Date of Birth") == "")
    assert(dd.valuesIterator.count(_.nonEmpty) == 6)
    assert(math.rint(Extract.confidenceA1(dd) * 1e6) / 1e6 == 0.666667)
  }

  test("insurance11: duplicate alias keeps distinct text keys; 7/11 answered") {
    val payload =
      "INSURANCE CARD\nMember Name: LI, ANA\nMember ID: C300007\n" +
        "PCP: Dr Novak\nEffective Date: 08/08/1987\nGroup Name: Grp7\n" +
        "RS BIN: 610007\nRx PCN: PCN0"
    val texts = OpQueries.Insurance11Queries.map(_._1)
    val dd = Extract.queryBank(texts, payload)
    // keying is by query TEXT, so the duplicate ALIAS (clientname on both
    // Member queries) cannot collide in document_data
    assert(dd.size == 11)
    assert(dd("Member Name") == "LI, ANA")
    assert(dd("Member ID") == "C300007")
    assert(dd("RS BIN") == "610007")
    assert(dd("Rx GRP") == "")
    assert(dd.valuesIterator.count(_.nonEmpty) == 7)
    assert(math.rint(Extract.confidenceA1(dd) * 1e6) / 1e6 == 0.636364)
  }

  test("merged form: triple-dedup drops identical re-answers, alias sorts by LAST position") {
    val payload = "Member Name: LI, ANA\nMember ID: C7\nPCP: Dr Novak"
    // exact duplicate of query 0 at the end of the bank
    val bank = OpQueries.Insurance11Queries :+ OpQueries.Insurance11Queries.head
    val merged = Extract.queryBankMerged(bank, payload)
    // the duplicate (text, alias, answer) triple is dropped -> 11 kept
    assert(merged.size == 11)
    // alias sort uses the alias's LAST bank position (the dict
    // comprehension's later-wins), so both clientname triples land at
    // the END, stable between them (Member Name before Member ID)
    assert(merged.takeRight(2).map(_._2) == Vector("clientname", "clientname"))
    assert(merged(9) == ("What is the Member Name?", "clientname", "LI, ANA"))
    assert(merged(10) == ("What is the Member ID?", "clientname", "C7"))
    // non-duplicate aliases keep bank order; unanswered carry ""
    assert(merged.head == ("Who is the PCP?", "rendname", "Dr Novak"))
    assert(merged(1) == ("What is the phone number of the PCP?", "renderphone", ""))
    // a DIFFERING answer for a repeated (text, alias) is kept, not deduped
    val differing = Extract.queryBankMerged(
      Seq("What is the X?" -> "a", "What is the X?" -> "a"), "X: one")
    assert(differing.size == 1) // same text+alias+answer -> deduped
    val kept = Extract.queryBankMerged(
      Seq("What is the X?" -> "a", "What is the X?" -> "b"), "X: one")
    assert(kept.size == 2) // alias differs -> triple differs -> both kept
  }
}
