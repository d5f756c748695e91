package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Pins the constants inlined in the x_e2e_extract VALUES oracle
  * (queries/XQueries.scala): if extractor or generator semantics change,
  * this fails locally BEFORE the driver's DuckDB compare does, pointing at
  * the oracle that must be regenerated (tools.PrintE2EOracle).
  */
class E2EOracleSpec extends AnyFunSuite {

  test("x_e2e_extract aggregate equals the inlined VALUES oracle") {
    val got = graft.tools.PrintE2EOracle.rows()
      .map { case (d, st, n, s) => (d, st, n, math.rint(s * 10000) / 10000) }
    val want = Seq(
      ("AGREEMENT", "ok", 90L, 81.29),
      ("FACESHEET", "ok", 88L, 85.7692),
      ("INSURANCE", "ok", 87L, 87.0),
      ("PRESCRIPTION", "ok", 89L, 89.0),
      ("UNKNOWN", "ok", 173L, 0.0))
    assert(got == want,
      "x_e2e_extract constants drifted — regenerate with " +
        "`sbt \"Test/runMain graft.tools.PrintE2EOracle\"` and update " +
        "BOTH XQueries' VALUES oracle and this spec")
  }

  test("reference-parity classifier: every tier and both precedence rules") {
    import Extract._
    assert(classifyReference("deductible coverage policy") == ("INSURANCE_CARD", 3))
    assert(classifyReference("i agree acknowledge terms") == ("SIGNED_AGREEMENT", 3))
    // rx needs STRICTLY more than ag; a tie at >=3 goes to agreement
    assert(classifyReference(
      "prescription physician diagnosis agreement signature consent")
      == ("SIGNED_AGREEMENT", 3))
    // insurance >= 2 preempts rx >= 3
    assert(classifyReference("member policy prescription rx physician")
      ._1 == "INSURANCE_CARD")
    assert(classifyReference("breast pump dob") == ("POSSIBLE_PRESCRIPTION", 2))
    assert(classifyReference("customer consent") == ("POSSIBLE_AGREEMENT", 2))
    assert(classifyReference("nothing relevant") == ("UNKNOWN", 0))
    // engine arm diverges by DESIGN on reference-shaped insurance text:
    // the engine's own lists don't contain these words
    assert(classify("deductible coverage policy") == "UNKNOWN")
  }

  test("batched query bank: 31 queries -> 30 keys, batching drops nothing") {
    import Extract._
    val queries = (1 to 31).map(i => s"What is the Field$i?")
    val dupped = queries.updated(30, "Tell me the Field15?") // dup key
    val text = "Field1: v1\nField16: v16\nField31: v31"
    val dd = queryBank(dupped, text)
    assert(dd.size == 30, s"expected 30 keys, got ${dd.size}")
    assert(dd("Field1") == "v1")
    assert(dd("Field16") == "v16")   // past the reference's 15-query cap
    assert(dd("Field15") == "")      // dup overwrote with the same miss
    assert(dd("Field30") == "")
  }
}
