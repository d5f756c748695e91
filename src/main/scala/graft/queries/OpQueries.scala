package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Extract

/** Oracle rows for the operators that were previously ScalaTest-gated
  * only: KV anchors (KV1-KV3), key normalization (P1), section
  * segmentation spans (P3), ALL-CAPS header detection (C3), checkbox
  * items (R5), and the unanchored phone sweep (R9).
  *
  * Same construct-and-recover strategy as DocQueries/XQueries: payloads
  * are BUILT from deterministic string ops over (doc_id, text) —
  * reproducible identically in DuckDB — and the Spark side runs the REAL
  * extractor functions (the code the production `extract_turn` operator
  * runs; f8_quarantine runs the operator itself) while the oracle emits
  * the constructed ground truth.
  */
object OpQueries {
  import Q._
  import Q.{tok, cap, dateCol, sqlTok1, sqlTok2, sqlCap, sqlDate}

  /** Pattern-neutral name vocabularies for constructed payloads (no
    * substring collides with routing terms, pattern-bank labels, or the
    * classifier keyword lists).
    */
  private val Kv4Firsts = Seq("Ana", "Maria", "John", "Lin", "Omar")
  private val Kv4Lasts = Seq("Li", "Gomez", "Roe", "Patel", "Kim", "Silva", "Novak")
  private val sqlKv4Firsts = Kv4Firsts.map(n => s"'$n'").mkString("[", ",", "]")
  private val sqlKv4Lasts = Kv4Lasts.map(n => s"'$n'").mkString("[", ",", "]")

  /** Reference-parity classifier cases: each payload is a fixed literal
    * hitting a specific tier of the reference ladder; together the 8 cases
    * cover EVERY reference keyword (13 rx + 9 ag + 12 ins) and every tier,
    * including the insurance-precedence and the rx==ag tiebreak.
    * (payload, expected class, expected winning count) — expectations
    * verified by hand against substring counting on the lowered payload.
    */
  private val RefClassifyCases: Seq[(String, String, Int)] = Seq(
    // all 12 insurance keywords
    ("your insurance member policy group copay deductible plan coverage id# id # insured subscriber info",
      "INSURANCE_CARD", 12),
    // all 13 prescription keywords
    ("prescription rx physician doctor diagnosis patient name mother name mother's name breast pump icd-10 medical necessity dob date of birth",
      "PRESCRIPTION", 13),
    // all 9 agreement keywords
    ("agreement signature signed consent terms conditions i agree customer acknowledge",
      "SIGNED_AGREEMENT", 9),
    // rx=3, ag=3: rx needs STRICTLY MORE, so agreement wins the tie
    ("prescription physician diagnosis agreement signature consent",
      "SIGNED_AGREEMENT", 3),
    ("breast pump dob noted", "POSSIBLE_PRESCRIPTION", 2),
    ("customer consent form", "POSSIBLE_AGREEMENT", 2),
    // insurance >= 2 takes precedence even over rx = 4
    ("member policy prescription rx physician doctor", "INSURANCE_CARD", 2),
    ("hello ordinary text nothing here", "UNKNOWN", 0))

  /** The reference's two 15-query facesheet banks verbatim
    * (finalcodes/Facesheet.py:104-120 and :126-142, including the
    * misspelled "Garuntor"/"Refering"/"verifiaction" aliases), plus a
    * 31st query whose derived key duplicates "MRN" — a bank past the
    * reference's 15-per-call cap, with a duplicate-derived-key overwrite.
    */
  private val Facesheet15Queries: Seq[String] = Seq(
    "What is the Patient Name?",
    "What is the Patient Date of Birth?",
    "What is the Patient Address?",
    "What is the Patient sex?",
    "What is the Patient Ethnicity?",
    "What is the Patient citizenship?",
    "What is the Patient Race?",
    "What is the Patient Phone Number?",
    "What is the Admitting Provider Name?",
    "What is the Attending Provider Telephone Number?",
    "What is the Attending Provider Name?",
    "What is the Refering physician?",
    "What is the admitting diagnosis?",
    "What is the Encounter Date?",
    "What is the MRN?",
    "What is the Hospital Account number?",
    "What is the Contact Serial number?",
    "What is the Patient insurance provider?",
    "What is the insurance Subscriber name?",
    "What is the Patient insurance group number?",
    "What is the Patient insurance Subscriber Id?",
    "What is the Patient insurance type?",
    "What is the Patient insurance plan?",
    "What is the Patient relationship to insurance Subscriber?",
    "What is the insurance verifiaction status?",
    "What is the Garuntor Name?",
    "What is the Garuntor relation to patient?",
    "What is the Garuntor Id?",
    "What is the Garuntor Address?",
    "What is the Garuntor Phone number?",
    "Tell me the MRN?")

  /** InsuranceCard1's 15-query bank verbatim (finalcodes/
    * InsuranceCard1.py:92-107) — exactly the reference's per-call cap.
    * The first query carries no "?" (the reference's own text),
    * exercising the no-question-mark arm of key derivation.
    */
  private[graft] val Insurance15Queries: Seq[String] = Seq(
    "What is the Member Name",
    "What is the Member ID?",
    "Who is the PCP?",
    "What is the phone number of the PCP?",
    "What is the medical insurance provider?",
    "What is the effective date?",
    "What is the Group No.?",
    "What is the plan type?",
    "What is the BIN?",
    "What is the Rx PCN?",
    "What is the Generic Copay?",
    "What is the Brand Copay?",
    "What is the Specialty Copay?",
    "What is the Emergency Room Percentage?",
    "What is the PCP Copay?")

  /** Prescription1's TWO banks verbatim (finalcodes/Prescription1.py:
    * 104-119 first call of 15, :126-128 second call of 2) — the
    * reference's only >15 bank besides facesheet, with its typo keys
    * ("Memeber Sex", "Presciber") preserved: key derivation is textual,
    * so the typos ARE the field names users see downstream.
    */
  private[graft] val Prescription17Queries: Seq[String] = Seq(
    "What is the Member Name",
    "What is the Memeber Sex?",
    "What is the Member DOB?",
    "What is the Member Phone?",
    "What is the Member Age?",
    "What is the Member ID?",
    "Who is the Presciber?",
    "What is the phone number of the PCP?",
    "What is the PCP Fax?",
    "What is the medical insurance provider?",
    "What is the Group Name?",
    "What is the payer id?",
    "What is the Rx GRP?",
    "What is the Applicable Diagnosis?",
    "What is the Supply?",
    "What is the Supply Quantity?",
    "What is the Supply Duration?")

  /** InsuranceCard2's and Prescription2's SHARED 11-query bank verbatim
    * ((text, alias) pairs — finalcodes/InsuranceCard2.py:107-119 ==
    * finalcodes/Prescription2.py:107-117): the only reference bank with
    * an intra-call DUPLICATE ALIAS ("clientname" on both Member Name and
    * Member ID). Keying is by query TEXT (InsuranceCard2.py:138-141 —
    * split on "the ", cut at "?"), so the duplicate alias does not
    * collide in document_data; it matters in the merged-list form
    * (queryCodes/AttemptedMergeQueryCodes:95-112), where triples dedupe
    * on (text, alias, answer) and sort by the alias's LAST bank position.
    */
  private[graft] val Insurance11Queries: Seq[(String, String)] = Seq(
    "What is the Member Name?" -> "clientname",
    "What is the Member ID?" -> "clientname",
    "Who is the PCP?" -> "rendname",
    "What is the phone number of the PCP?" -> "renderphone",
    "What is the medical insurance provider?" -> "rendfax",
    "What is the effective date?" -> "npi",
    "What is the Group Name?" -> "rendtaxid",
    "What is the payer id?" -> "rendtax",
    "What is the RS BIN?" -> "doctorname",
    "What is the Rx PCN?" -> "medsupply",
    "What is the Rx GRP?" -> "qty")

  /** BreastPump's 9-query bank verbatim (finalcodes/BreastPump.py:
    * 110-119).
    */
  private[graft] val Pump9Queries: Seq[String] = Seq(
    "What is the Mother Name?",
    "What is the Patient Name?",
    "What is the Patient Phone Number?",
    "What is the Patient Date of Birth?",
    "What is the Physician Name?",
    "What is the NPI Number?",
    "What is the Medical Necessity?",
    "What is the Infant Name?",
    "What is the Infant Date of Birth?")

  /** Run a pure String=>String extractor over (doc_id, payload) rows.
    * The output-order exchange runs BELOW the extractor, on the narrow
    * (doc_id, payload) input: a terminal orderBy above it would re-run
    * the extraction once more for range-partition sampling
    * (RangePartitioner consumes every child partition to sketch bounds);
    * the 1:1 order-preserving mapPartitions keeps the global order.
    */
  private def runStr(s: SparkSession, df: DataFrame, outCol: String)(
      f: String => String): DataFrame = {
    import s.implicits._
    df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, p) => (id, f(p)) })
      .toDF("doc_id", outCol)
  }

  val entries: Seq[(String, Entry)] = Seq(

    // KV1-KV3 — block-map/edge-traversal semantics over text: `Key: Value`
    // line anchors with P1 key normalization and first-occurrence-wins.
    // The payload plants a "The ...?" key (normalization), a duplicate key
    // (first wins), an empty value, and a non-anchor line.
    "kv_anchors" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("The Member ID?: M"), $"doc_id".cast("string"),
          lit("\nPlan Type: PPO"), pmod($"doc_id", lit(4)).cast("string"),
          lit("\nMember ID: duplicate loses\n"),
          lit("no anchor on this line\nNotes: "))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "kv_json")(t => Extract.fieldsToJson(Extract.kvAnchors(t).toMap))
      },
      Some("""SELECT doc_id,
             |  '{"Member ID":"M'||CAST(doc_id AS VARCHAR)||'","Notes":"","Plan Type":"PPO'||CAST(doc_id % 4 AS VARCHAR)||'"}' AS kv_json
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // P1 — query-key normalization: trim, drop leading "the ", drop
    // trailing "?" (the reference's query-alias derivation,
    // finalcodes/Facesheet.py:164-166).
    "p1_normalize_key" -> Entry(
      (s, d) => {
        import s.implicits._
        val raw = when(pmod($"doc_id", lit(4)) === 0, lit("The Patient Name?"))
          .when(pmod($"doc_id", lit(4)) === 1, lit("  Admit Date "))
          .when(pmod($"doc_id", lit(4)) === 2,
            concat(lit("The "), cap(tok($"text", 1)), lit(" Code?")))
          .otherwise(lit("MRN"))
        val df = rd(s, d, "documents").select($"doc_id", raw.as("p"))
        runStr(s, df, "norm_key")(Extract.normalizeKey)
      },
      Some(s"""SELECT doc_id, CASE doc_id % 4
              |  WHEN 0 THEN 'Patient Name'
              |  WHEN 1 THEN 'Admit Date'
              |  WHEN 2 THEN ${sqlCap(sqlTok1)}||' Code'
              |  ELSE 'MRN' END AS norm_key
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // P3 — section segmentation: spans (header, start, len) into a
    // two-section payload with a blank-line break; offsets computed
    // independently by the oracle from the construction lengths.
    "p3_segment" -> Entry(
      (s, d) => {
        import s.implicits._
        val b1 = concat(lit("alpha "), tok($"text", 1))
        val b2a = concat(lit("beta "), tok($"text", 2))
        val payload = concat(
          lit("SECTION ONE\n"), b1, lit("\n\nDETAILS PART\n"),
          b2a, lit("\ngamma end"))
        val df = rd(s, d, "documents").filter(size(split($"text", " ")) >= 2)
          .orderBy($"doc_id").limit(300)
          .select($"doc_id", payload.as("p"))
        df.select(col("doc_id").cast("long"), col("p")).as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, p) =>
            Extract.segment(p).zipWithIndex.map { case (sec, i) =>
              (id, i.toLong, sec.header, sec.start.toLong, sec.len.toLong)
            }
          })
          .toDF("doc_id", "seg_idx", "header", "start", "len")
          .orderBy($"doc_id", $"seg_idx")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, string_split(text,' ')[1] AS t1, string_split(text,' ')[2] AS t2
             |  FROM documents WHERE len(string_split(text,' ')) >= 2
             |  ORDER BY doc_id LIMIT 300)
             |SELECT doc_id, CAST(0 AS BIGINT) AS seg_idx, 'SECTION ONE' AS header,
             |  CAST(12 AS BIGINT) AS start, length('alpha '||t1) AS len FROM src
             |UNION ALL
             |SELECT doc_id, 1, 'DETAILS PART',
             |  12 + length('alpha '||t1) + 2 + 13,
             |  length('beta '||t2) + 1 + length('gamma end') FROM src
             |ORDER BY doc_id, seg_idx""".stripMargin)),

    // C3 — ALL-CAPS header detector over five constructed line shapes
    // (valid header / mixed case / colon / no letters / over-length).
    "c3_header_detect" -> Entry(
      (s, d) => {
        import s.implicits._
        val capsTok = regexp_replace(upper(tok($"text", 1)), "[^A-Z]", "")
        val line = when(pmod($"doc_id", lit(5)) === 0, concat(lit("HEADER "), capsTok))
          .when(pmod($"doc_id", lit(5)) === 1, lit("Header alpha"))
          .when(pmod($"doc_id", lit(5)) === 2, lit("HEADER:"))
          .when(pmod($"doc_id", lit(5)) === 3, lit("12 34"))
          .otherwise(lit("HEADERX" * 10))
        val df = rd(s, d, "documents").select($"doc_id", line.as("p"))
        runStr(s, df, "is_header")(t => String.valueOf(Extract.isAllCapsHeader(t)))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 5 = 0 THEN 'true' ELSE 'false' END AS is_header
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // R5 — section-bounded checkbox items: checked items inside the
    // Medical Necessity section are captured; an identical checkbox AFTER
    // the section terminator must NOT be (bounded, not global).
    "r5_checkbox_items" -> Entry(
      (s, d) => {
        import s.implicits._
        val item2 = when(pmod($"doc_id", lit(2)) === 0,
          concat(lit("\nX 2. Pumping item "), tok($"text", 2))).otherwise(lit(""))
        val payload = concat(
          lit("Section II. Medical Necessity\nX 1. Separation item "),
          tok($"text", 1), item2,
          lit("\nSection III. Other\nX 9. Out of bounds item"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "items")(t => Extract.checkboxItems(t).mkString("; "))
      },
      Some(s"""SELECT doc_id,
              |  'Separation item '||$sqlTok1||
              |  CASE WHEN doc_id % 2 = 0 THEN '; Pumping item '||$sqlTok2 ELSE '' END AS items
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // R9 — unanchored entity sweep: ALL phone numbers anywhere in the
    // text (reference data_extract_kailey.py:41-54 returns every match),
    // in both (nnn) nnn-nnnn and nnn-nnn-nnnn shapes, with a non-phone
    // decoy that must not match.
    "r9_phone_sweep" -> Entry(
      (s, d) => {
        import s.implicits._
        val a = (lit(200) + pmod($"doc_id", lit(700))).cast("string")
        val b = (lit(300) + pmod($"doc_id", lit(600))).cast("string")
        val c = lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0")
        val payload = concat(
          lit("call ("), a, lit(") "), b, lit("-"), c,
          lit(" id 12345 or "), b, lit("-"), a, lit("-"), c, lit(" now"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "phones")(t => Extract.phoneNumbers(t).mkString(", "))
      },
      Some("""SELECT doc_id,
             |  '('||CAST(200 + doc_id % 700 AS VARCHAR)||') '||CAST(300 + doc_id % 600 AS VARCHAR)||'-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0')
             |  ||', '||CAST(300 + doc_id % 600 AS VARCHAR)||'-'||CAST(200 + doc_id % 700 AS VARCHAR)||'-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0') AS phones
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // P2 — HTML boilerplate strip (the north rule's main-content
    // extraction): a constructed page with two content blocks, a
    // link-farm block (link density >= 0.35) and a too-short block; the
    // real density classifier must keep exactly the content blocks.
    "p2_boilerplate" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("<html><body>\n<div>Main paragraph content alpha "), tok($"text", 1),
          lit(" with enough words to be kept here today.</div>\n"),
          lit("<div><a href=\"x\">nav link one</a> <a href=\"y\">nav two</a></div>\n"),
          lit("<div>short</div>\n<p>Second kept block bravo "), tok($"text", 2),
          lit(" also has enough words to stay put.</p>\n</body></html>"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "main_text")(Extract.extractText)
      },
      Some(s"""SELECT doc_id,
              |  'Main paragraph content alpha '||$sqlTok1||' with enough words to be kept here today.'
              |  ||chr(10)||'Second kept block bravo '||$sqlTok2||' also has enough words to stay put.' AS main_text
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // P2b — structural chrome pruning (Trafilatura-style): <header>/<nav>/
    // <aside>/<footer> subtrees are boilerplate by POSITION — here they
    // carry plain low-link-density words that the flat density rule of r4
    // would have KEPT; the pruned default must drop them and keep only
    // the article block.
    "p2_dom_prune" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("<html><body>\n<header>Site masthead words with brand slogan here today</header>\n"),
          lit("<nav>Products pricing support documentation contact about team blog</nav>\n"),
          lit("<div>Primary article content "), tok($"text", 1),
          lit(" with plenty of words to be retained here.</div>\n"),
          lit("<aside>Sponsored related reading list promotion words appear here</aside>\n"),
          lit("<footer>Copyright terms privacy contact address line words here</footer>\n</body></html>"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "main_text")(Extract.extractText)
      },
      Some(s"""SELECT doc_id,
              |  'Primary article content '||$sqlTok1||' with plenty of words to be retained here.' AS main_text
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // P2c — Boilerpipe NumWordsRulesClassifier (WSDM 2010): neighbor
    // context decides. The page plants the two context-asymmetric cases:
    // a 10-word caption AFTER a link farm (dropped: prev link-dense,
    // next short) vs a 5-word intro BEFORE a long paragraph (kept), plus
    // a trailing 8-word pseudo-footer after a second link farm (dropped).
    // The flat density rule would keep all three.
    "p2_boilerpipe_stump" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("<html><body>\n<p>Alpha article body text "), tok($"text", 1),
          lit(" one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen</p>\n"),
          lit("<div><a href=\"u\">related one</a> <a href=\"v\">related two</a> <a href=\"w\">related three</a></div>\n"),
          lit("<p>Caption text under the related links block here today folks</p>\n"),
          lit("<p>Short intro before long paragraph</p>\n"),
          lit("<p>Bravo main content "), tok($"text", 2),
          lit(" continues with many more words to easily pass the sixteen word threshold here now</p>\n"),
          lit("<div><a href=\"x\">terms</a> <a href=\"y\">privacy</a></div>\n"),
          lit("<p>Copyright footer style trailing words appear here today</p>\n</body></html>"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "main_text")(Extract.mainContentBoilerpipe)
      },
      Some(s"""SELECT doc_id,
              |  'Alpha article body text '||$sqlTok1||' one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen'
              |  ||chr(10)||'Short intro before long paragraph'
              |  ||chr(10)||'Bravo main content '||$sqlTok2||' continues with many more words to easily pass the sixteen word threshold here now' AS main_text
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // F8/E1 — validity quarantine: an empty payload must produce a
    // failed:empty status row (never abort), everything else extracts ok.
    "f8_quarantine" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = when(pmod($"doc_id", lit(5)) === 0, lit(""))
          .otherwise(concat(lit("plain words "), tok($"text", 1)))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        // output-order exchange below the extractor (see runStr)
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .select($"doc_id", graft.functions.TextFunctions.extractTurn($"p").as("e"))
          .select($"doc_id", $"e.status".as("status"), $"e.doc_type".as("doc_type"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 5 = 0 THEN 'failed:empty' ELSE 'ok' END AS status,
             |  'UNKNOWN' AS doc_type
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // C1 — filename fast-path classifier: the reference's substring
    // ladder over object keys, falling through to the content classifier
    // when the name is uninformative.
    "c1_filename_classify" -> Entry(
      (s, d) => {
        import s.implicits._
        val m6 = pmod($"doc_id", lit(6))
        val fname = when(m6 === 0, concat(lit("scan_"), tok($"text", 1),
            lit("_INSURANCECARD_capture.png")))
          .when(m6 === 1, concat(lit("FACESHEET_"), $"doc_id".cast("string"), lit(".pdf")))
          .when(m6 === 2, lit("signed_agreement_v2.pdf"))
          .when(m6 === 3, lit("prescription_form.jpg"))
          .when(m6 === 4, lit("national_id_card.png"))
          // constant fallthrough name: a corpus token could itself contain
          // a ladder substring and silently flip the hardcoded oracle
          .otherwise(lit("notes_plain.txt"))
        val df = rd(s, d, "documents")
          .select($"doc_id", fname.as("fname"), lit("no ladder words in this text").as("content"))
        df.select(col("doc_id").cast("long"), col("fname"), col("content"))
          .orderBy(col("doc_id"))
          .as[(Long, String, String)]
          .mapPartitions(_.map { case (id, f, c) =>
            (id, Extract.classifyWithFilename(f, c))
          })
          .toDF("doc_id", "doc_type")
      },
      Some("""SELECT doc_id, CASE doc_id % 6
             |  WHEN 0 THEN 'INSURANCE'
             |  WHEN 1 THEN 'FACESHEET'
             |  WHEN 2 THEN 'AGREEMENT'
             |  WHEN 3 THEN 'PRESCRIPTION'
             |  WHEN 4 THEN 'ID_DOCUMENT'
             |  ELSE 'UNKNOWN' END AS doc_type
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII redaction (training-data preprocessing): planted email / phone /
    // SSN must each be replaced by its type token; the surrounding text
    // and a decoy id must survive untouched. Spark runs the real
    // codegen'd regexp_replace chain; the oracle emits the constructed
    // redacted string (no regex in the oracle — no dialect drift).
    "ta_redact_pii" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("reach user"), $"doc_id".cast("string"),
          lit("@mail.example.org or call ("),
          (lit(200) + pmod($"doc_id", lit(700))).cast("string"),
          lit(") 555-"), lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"),
          lit(" ssn "), lpad(pmod($"doc_id", lit(900)).cast("string"), 3, "0"),
          // tail token stripped to lowercase letters: a digit- or
          // email-shaped corpus token would itself be redacted by Spark
          // but not by the constructed oracle
          lit("-45-6789 ref 1234567 tail "),
          regexp_replace(tok($"text", 1), "[^a-z]", ""))
        // sort the narrow scan first: the terminal orderBy re-ran the
        // regex chain for range-partition sampling
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id",
            graft.functions.TextFunctions.redactPii(payload).as("redacted"))
      },
      Some(s"""SELECT doc_id,
              |  'reach <EMAIL> or call <PHONE> ssn <SSN> ref 1234567 tail '||regexp_replace($sqlTok1, '[^a-z]', '', 'g') AS redacted
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Query-driven dynamic extraction — the reference's core mechanism
    // (finalcodes/Facesheet.py:104-175): a bank of natural-language
    // queries whose derived key becomes the field name at runtime; the
    // answer map (document_data) plus A1 confidence over it. One query is
    // deliberately unanswerable -> "" and a lower confidence.
    "q_bank_extract" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("Patient Name: "), upper(tok($"text", 1)), lit(", "), upper(tok($"text", 2)),
          lit("\nMRN: "), (lit(1000000) + $"doc_id").cast("string"),
          lit("\nEncounter Date: "), dateCol($"doc_id"))
        val qs = Seq("What is the Patient Name?", "What is the MRN?",
          "What is the Encounter Date?", "What is the Patient Address?")
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            val dd = Extract.queryBank(qs, p)
            (id, Extract.fieldsToJson(dd),
              String.valueOf(math.rint(Extract.confidenceA1(dd) * 1e6) / 1e6))
          })
          .toDF("doc_id", "document_data", "confidence")
      },
      Some(s"""SELECT doc_id,
              |  '{"Encounter Date":"'||$sqlDate||'","MRN":"'||CAST(1000000 + doc_id AS VARCHAR)||'","Patient Address":"","Patient Name":"'||upper($sqlTok1)||', '||upper($sqlTok2)||'"}' AS document_data,
              |  '0.75' AS confidence
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // R8 — field bank with "<Field> not found" defaults (the Lauren-style
    // always-present bank, Lauren_RX_JPG_Reader.py:47-63): present fields
    // extract, absent fields emit their literal default.
    "r8_default_bank" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("Name: Pat"), $"doc_id".cast("string"),
          lit(" Row"), pmod($"doc_id", lit(7)).cast("string"),
          lit("\nRx: pump kit "), pmod($"doc_id", lit(5)).cast("string"),
          lit("\nDate: "), dateCol($"doc_id"),
          when(pmod($"doc_id", lit(2)) === 0,
            concat(lit("\nRefills: "), pmod($"doc_id", lit(4)).cast("string")))
            .otherwise(lit("")))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            val f = Extract.defaultsBank(p)
            (id, f("Name"), f("Age/DOB"), f("Address"), f("Date"),
              f("Rx"), f("Refills"), f("Signature"))
          })
          .toDF("doc_id", "name", "age_dob", "address", "date_field",
            "rx", "refills", "signature")
      },
      Some(s"""SELECT doc_id,
              |  'Pat'||CAST(doc_id AS VARCHAR)||' Row'||CAST(doc_id % 7 AS VARCHAR) AS name,
              |  'Age/DOB not found' AS age_dob,
              |  'Address not found' AS address,
              |  $sqlDate AS date_field,
              |  'pump kit '||CAST(doc_id % 5 AS VARCHAR) AS rx,
              |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 4 AS VARCHAR) ELSE 'Refills not found' END AS refills,
              |  'Signature not found' AS signature
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // KV4 — keyword routing into the nested patient/doctor/prescription
    // record with the 13-rule cleanup battery (Ethan_PDFandJPG3.py:
    // 228-238, 276-418): a physician anchor routed out of patient, an ICD
    // anchor skipped, an unroutable anchor dropped, a pump mention, and
    // the comma-aware name split both ways.
    "kv4_routed_nested" -> Entry(
      (s, d) => {
        import s.implicits._
        // names come from FIXED lists, not corpus tokens: routeAndClean's
        // pattern bank scans the whole payload, so a corpus token like
        // 'dob' or 'phone' inside a name value would hijack a pattern and
        // silently break the constructed oracle on another corpus
        val first = element_at(typedLit(Kv4Firsts), (pmod($"doc_id", lit(5)) + 1).cast("int"))
        val last = element_at(typedLit(Kv4Lasts), (pmod($"doc_id", lit(7)) + 1).cast("int"))
        val nm = when(pmod($"doc_id", lit(3)) === 0,
            concat(upper(last), lit(", "), upper(first)))
          .otherwise(concat(first, lit(" "), last))
        val ph = concat(lit("("), (lit(200) + pmod($"doc_id", lit(700))).cast("string"),
          lit(") 555-"), lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"))
        val payload = concat(
          lit("Mother Name: "), nm,
          lit("\nDOB: "), dateCol($"doc_id"),
          lit("\nPhysician Name: Dr "), last,
          lit("\nPatient Phone Number: "), ph,
          lit("\nICD-10 Code: Z39.1"),
          lit("\nPlan Group: ABC"),
          lit("\nuses a double electric breast pump"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runStr(s, df, "record")(Extract.routedRecordJson)
      },
      Some {
        val firstSql = s"($sqlKv4Firsts)[doc_id % 5 + 1]"
        val lastSql = s"($sqlKv4Lasts)[doc_id % 7 + 1]"
        val nmSql = s"CASE WHEN doc_id % 3 = 0 THEN upper($lastSql)||', '||upper($firstSql) " +
          s"ELSE $firstSql||' '||$lastSql END"
        val outFirst = s"CASE WHEN doc_id % 3 = 0 THEN upper($firstSql) ELSE $firstSql END"
        val outLast = s"CASE WHEN doc_id % 3 = 0 THEN upper($lastSql) ELSE $lastSql END"
        val phSql = "'('||CAST(200 + doc_id % 700 AS VARCHAR)||') 555-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0')"
        s"""SELECT doc_id,
           |  '{"doctor":{"Doctor Name":"Dr '||$lastSql||'"},'||
           |  '"patient":{"DOB":"'||$sqlDate||'","First Name":"'||$outFirst||'","Last Name":"'||$outLast||
           |  '","Mother Name":"'||$nmSql||'","Patient Phone Number":"'||$phSql||'","Phone Number":"'||$phSql||
           |  '"},"prescription":{"Prescription":"Double Electric Breast Pump"}}' AS record
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // C2 reference-parity arm: the reference's exact keyword lists, class
    // names (INSURANCE_CARD / SIGNED_AGREEMENT) and winning-count output
    // (Ethan_PDFandJPG3.py:585-619), over constructed payloads covering
    // every keyword and every tier of the ladder (see RefClassifyCases).
    "c2_reference_parity" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = element_at(typedLit(RefClassifyCases.map(_._1)),
          pmod($"doc_id", lit(8)).cast("int") + 1)
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            val (cls, n) = Extract.classifyReference(p)
            (id, cls, n)
          })
          .toDF("doc_id", "doc_type", "kw_count")
      },
      Some {
        val arms = RefClassifyCases.zipWithIndex.map { case ((_, cls, n), i) =>
          s"WHEN $i THEN '$cls'" -> s"WHEN $i THEN $n"
        }
        s"""SELECT doc_id,
           |  CASE doc_id % 8 ${arms.map(_._1).mkString(" ")} END AS doc_type,
           |  CASE doc_id % 8 ${arms.map(_._2).mkString(" ")} END AS kw_count
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // KV0 at reference breadth: the full 30-query facesheet bank (both
    // of the reference's 15-query calls) + a duplicate-derived-key query.
    // Gates: 31 queries -> 30 keys (duplicate "MRN" overwrites with the
    // same anchor answer), nothing past query 15 is dropped, unanswered
    // keys stay as "" and drive A1 confidence (10 answered / 30).
    "q_bank_facesheet15" -> bankEntry(
      Facesheet15Queries,
      {
        val first = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
        val last = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id"), lit(7)) + 1).cast("int"))
        val gFirst = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id") + 1, lit(5)) + 1).cast("int"))
        val gLast = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id") + 3, lit(7)) + 1).cast("int"))
        concat(
          lit("FACESHEET\nPatient Name: "), upper(last), lit(", "), upper(first),
          lit("\nPatient Date of Birth: "), dateCol(col("doc_id")),
          lit("\nPatient Phone Number: ("),
          (lit(200) + pmod(col("doc_id"), lit(700))).cast("string"), lit(") 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit("\nMRN: "), (lit(1000000) + col("doc_id")).cast("string"),
          lit("\nEncounter Date: 07/13/2024"),
          lit("\nPatient Address: "),
          (lit(100) + pmod(col("doc_id"), lit(900))).cast("string"), lit(" Oak St"),
          lit("\nPatient insurance provider: Prov"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit("\nHospital Account number: H"),
          (lit(50000) + pmod(col("doc_id"), lit(40000))).cast("string"),
          lit("\nGaruntor Name: "), gFirst, lit(" "), gLast,
          lit("\nGaruntor Phone number: (300) 555-0100"))
      },
      Map(
        "Patient Name" -> s"upper(($sqlKv4Lasts)[doc_id % 7 + 1])||', '||upper(($sqlKv4Firsts)[doc_id % 5 + 1])",
        "Patient Date of Birth" -> sqlDate,
        "Patient Phone Number" ->
          "'('||CAST(200 + doc_id % 700 AS VARCHAR)||') 555-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0')",
        "MRN" -> "CAST(1000000 + doc_id AS VARCHAR)",
        "Encounter Date" -> "'07/13/2024'",
        "Patient Address" -> "CAST(100 + doc_id % 900 AS VARCHAR)||' Oak St'",
        "Patient insurance provider" -> "'Prov'||CAST(doc_id % 5 AS VARCHAR)",
        "Hospital Account number" -> "'H'||CAST(50000 + doc_id % 40000 AS VARCHAR)",
        "Garuntor Name" -> s"($sqlKv4Firsts)[(doc_id + 1) % 5 + 1]||' '||($sqlKv4Lasts)[(doc_id + 3) % 7 + 1]",
        "Garuntor Phone number" -> "'(300) 555-0100'"),
      confidence = "0.333333"),

    // KV0 at reference breadth, remaining doctype banks. Shared gate
    // shape (bankEntry): the REAL bank runs per doc on Spark, the oracle
    // reconstructs the exact sorted-key JSON; any drift in key
    // derivation, anchor lookup or A1 confidence breaks the hash compare.

    // InsuranceCard1's 15-query bank (InsuranceCard1.py:92-107) —
    // exactly the reference's per-call cap; the no-"?" query
    // ("What is the Member Name") derives its key without truncation.
    // 9 of 15 answered -> A1 = 0.6.
    "q_bank_insurance15" -> bankEntry(
      Insurance15Queries,
      {
        val first = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
        val last = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id"), lit(7)) + 1).cast("int"))
        val last2 = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id") + 2, lit(7)) + 1).cast("int"))
        concat(
          lit("INSURANCE CARD\nMember Name: "), upper(last), lit(", "), upper(first),
          lit("\nMember ID: M"), (lit(100000) + col("doc_id")).cast("string"),
          lit("\nPCP: Dr "), last2,
          lit("\nEffective Date: "), dateCol(col("doc_id")),
          lit("\nGroup No.: G"), pmod(col("doc_id"), lit(1000)).cast("string"),
          lit("\nPlan Type: HMO"), pmod(col("doc_id"), lit(3)).cast("string"),
          lit("\nBIN: "), (lit(610000) + pmod(col("doc_id"), lit(10000))).cast("string"),
          lit("\nRx PCN: PCN"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit("\nGeneric Copay: $"), (lit(5) + pmod(col("doc_id"), lit(20))).cast("string"))
      },
      Map(
        "Member Name" -> s"upper(($sqlKv4Lasts)[doc_id % 7 + 1])||', '||upper(($sqlKv4Firsts)[doc_id % 5 + 1])",
        "Member ID" -> "'M'||CAST(100000 + doc_id AS VARCHAR)",
        "PCP" -> s"'Dr '||($sqlKv4Lasts)[(doc_id + 2) % 7 + 1]",
        "effective date" -> sqlDate,
        "Group No." -> "'G'||CAST(doc_id % 1000 AS VARCHAR)",
        "plan type" -> "'HMO'||CAST(doc_id % 3 AS VARCHAR)",
        "BIN" -> "CAST(610000 + doc_id % 10000 AS VARCHAR)",
        "Rx PCN" -> "'PCN'||CAST(doc_id % 7 AS VARCHAR)",
        "Generic Copay" -> "'$'||CAST(5 + doc_id % 20 AS VARCHAR)"),
      confidence = "0.6"),

    // Prescription1's 15+2 bank (Prescription1.py:104-119, :126-128),
    // which the reference sends as two analyze_document calls; typo keys
    // ("Memeber Sex", "Presciber") are preserved verbatim — key
    // derivation is textual, the typos ARE the field names. Query 17
    // ("Supply Quantity") lands next to query 15's "Supply".
    // 10 of 17 answered -> A1 = 0.588235.
    "q_bank_rx17" -> bankEntry(
      Prescription17Queries,
      {
        val first = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
        val last = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id"), lit(7)) + 1).cast("int"))
        val last2 = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id") + 2, lit(7)) + 1).cast("int"))
        val ph = concat(lit("("), (lit(200) + pmod(col("doc_id"), lit(700))).cast("string"),
          lit(") 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        concat(
          lit("PRESCRIPTION FORM\nMember Name: "), first, lit(" "), last,
          lit("\nMemeber Sex: "), when(pmod(col("doc_id"), lit(2)) === 0, lit("F")).otherwise(lit("M")),
          lit("\nMember DOB: "), dateCol(col("doc_id")),
          lit("\nMember Phone: "), ph,
          lit("\nMember ID: R"), (lit(200000) + col("doc_id")).cast("string"),
          lit("\nPresciber: Dr "), last2,
          lit("\nGroup Name: Grp"), pmod(col("doc_id"), lit(9)).cast("string"),
          lit("\nRx GRP: RXG"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit("\nSupply: pump kit "), pmod(col("doc_id"), lit(4)).cast("string"),
          lit("\nSupply Quantity: "), (lit(1) + pmod(col("doc_id"), lit(6))).cast("string"))
      },
      Map(
        "Member Name" -> s"($sqlKv4Firsts)[doc_id % 5 + 1]||' '||($sqlKv4Lasts)[doc_id % 7 + 1]",
        "Memeber Sex" -> "CASE WHEN doc_id % 2 = 0 THEN 'F' ELSE 'M' END",
        "Member DOB" -> sqlDate,
        "Member Phone" -> "'('||CAST(200 + doc_id % 700 AS VARCHAR)||') 555-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0')",
        "Member ID" -> "'R'||CAST(200000 + doc_id AS VARCHAR)",
        "Presciber" -> s"'Dr '||($sqlKv4Lasts)[(doc_id + 2) % 7 + 1]",
        "Group Name" -> "'Grp'||CAST(doc_id % 9 AS VARCHAR)",
        "Rx GRP" -> "'RXG'||CAST(doc_id % 5 AS VARCHAR)",
        "Supply" -> "'pump kit '||CAST(doc_id % 4 AS VARCHAR)",
        "Supply Quantity" -> "CAST(1 + doc_id % 6 AS VARCHAR)"),
      confidence = "0.588235"),

    // BreastPump's 9-query bank (BreastPump.py:110-119):
    // 6 of 9 answered -> A1 = 0.666667.
    "q_bank_pump9" -> bankEntry(
      Pump9Queries,
      {
        val first = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
        val last = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id"), lit(7)) + 1).cast("int"))
        val first2 = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id") + 2, lit(5)) + 1).cast("int"))
        val last2 = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id") + 2, lit(7)) + 1).cast("int"))
        val ph = concat(lit("("), (lit(200) + pmod(col("doc_id"), lit(700))).cast("string"),
          lit(") 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        concat(
          lit("BREAST PUMP ORDER\nMother Name: "), first, lit(" "), last,
          lit("\nPatient Phone Number: "), ph,
          lit("\nPatient Date of Birth: "), dateCol(col("doc_id")),
          lit("\nPhysician Name: Dr "), last2,
          lit("\nNPI Number: "), (lit(1500000000L) + pmod(col("doc_id"), lit(1000000))).cast("string"),
          lit("\nInfant Name: Baby "), first2)
      },
      Map(
        "Mother Name" -> s"($sqlKv4Firsts)[doc_id % 5 + 1]||' '||($sqlKv4Lasts)[doc_id % 7 + 1]",
        "Patient Phone Number" -> "'('||CAST(200 + doc_id % 700 AS VARCHAR)||') 555-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0')",
        "Patient Date of Birth" -> sqlDate,
        "Physician Name" -> s"'Dr '||($sqlKv4Lasts)[(doc_id + 2) % 7 + 1]",
        "NPI Number" -> "CAST(1500000000 + doc_id % 1000000 AS VARCHAR)",
        "Infant Name" -> s"'Baby '||($sqlKv4Firsts)[(doc_id + 2) % 5 + 1]"),
      confidence = "0.666667"),

    // InsuranceCard2/Prescription2's shared 11-query bank — BOTH forms:
    // document_data keyed by query text (InsuranceCard2.py:138-151,
    // 7 of 11 answered -> A1 = 7/11) AND the merged-triple form with an
    // exact duplicate of the first query appended at the end, pinning
    // AttemptedMergeQueryCodes' (text, alias, answer) triple-dedup
    // (:95-100 — the identical re-answer is dropped) and its
    // alias-LAST-position sort (:110-112 — the duplicate alias
    // "clientname" sends both Member triples to the END of the merged
    // list, stable between them).
    "q_bank_insurance11" -> Entry(
      (s, d) => {
        import s.implicits._
        val first = element_at(typedLit(Kv4Firsts), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
        val last = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id"), lit(7)) + 1).cast("int"))
        val last2 = element_at(typedLit(Kv4Lasts), (pmod(col("doc_id") + 2, lit(7)) + 1).cast("int"))
        val payload = concat(
          lit("INSURANCE CARD\nMember Name: "), upper(last), lit(", "), upper(first),
          lit("\nMember ID: C"), (lit(300000) + col("doc_id")).cast("string"),
          lit("\nPCP: Dr "), last2,
          lit("\nEffective Date: "), dateCol(col("doc_id")),
          lit("\nGroup Name: Grp"), pmod(col("doc_id"), lit(9)).cast("string"),
          lit("\nRS BIN: "), (lit(610000) + pmod(col("doc_id"), lit(10000))).cast("string"),
          lit("\nRx PCN: PCN"), pmod(col("doc_id"), lit(7)).cast("string"))
        val texts = Insurance11Queries.map(_._1)
        val mergedBank = Insurance11Queries :+ Insurance11Queries.head
        val df = rd(s, d, "documents").select(col("doc_id"), payload.as("p"))
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            val dd = Extract.queryBank(texts, p)
            val merged = Extract.queryBankMerged(mergedBank, p)
              .map { case (_, alias, ans) => s"$alias=$ans" }.mkString("; ")
            (id, dd.size, Extract.fieldsToJson(dd),
              String.valueOf(math.rint(Extract.confidenceA1(dd) * 1e6) / 1e6),
              merged)
          })
          .toDF("doc_id", "n_keys", "document_data", "confidence", "merged")
      },
      Some {
        val firstSql = s"($sqlKv4Firsts)[doc_id % 5 + 1]"
        val lastSql = s"($sqlKv4Lasts)[doc_id % 7 + 1]"
        val last2Sql = s"($sqlKv4Lasts)[(doc_id + 2) % 7 + 1]"
        val memberName = s"upper($lastSql)||', '||upper($firstSql)"
        val memberId = "'C'||CAST(300000 + doc_id AS VARCHAR)"
        val pcp = s"'Dr '||$last2Sql"
        val grp = "'Grp'||CAST(doc_id % 9 AS VARCHAR)"
        val bin = "CAST(610000 + doc_id % 10000 AS VARCHAR)"
        val pcn = "'PCN'||CAST(doc_id % 7 AS VARCHAR)"
        val (nKeys, jsonSql) = bankJsonSql(Insurance11Queries.map(_._1), Map(
          "Member Name" -> memberName,
          "Member ID" -> memberId,
          "PCP" -> pcp,
          "effective date" -> sqlDate,
          "Group Name" -> grp,
          "RS BIN" -> bin,
          "Rx PCN" -> pcn))
        // merged order: aliases at their LAST bank position — the
        // duplicate alias "clientname" (positions 0,1, dup at 11) sorts
        // both Member triples to the end, original relative order kept
        val mergedSql = Seq(
          s"'rendname='||$pcp", "'renderphone='", "'rendfax='",
          s"'npi='||$sqlDate", s"'rendtaxid='||$grp", "'rendtax='",
          s"'doctorname='||$bin", s"'medsupply='||$pcn", "'qty='",
          s"'clientname='||$memberName", s"'clientname='||$memberId"
        ).mkString("||'; '||")
        s"""SELECT doc_id, $nKeys AS n_keys,
           |  $jsonSql AS document_data,
           |  '0.636364' AS confidence,
           |  $mergedSql AS merged
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // C4 geometry arm end-to-end (detect_signature Method 2 before
    // Method 3, Ethan_PDFandJPG3.py:498-516): constructed LayoutSpan
    // payloads cover the wide-short-TEXTLESS hit (width varies with
    // doc_id), the has-text miss that falls through to a text-indicator
    // hit, the no-signature case, and the exact boundary values
    // (width == 0.2 and height == 0.05 are exclusive, so they miss).
    "c4_signature_geometry" -> Entry(
      (s, d) => {
        import s.implicits._
        import graft.extract.Extract.LayoutSpan
        rd(s, d, "documents").select(col("doc_id").cast("long"))
          .orderBy(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val (text, spans) = (id % 4) match {
              case 0 =>
                // geometry hit: wide, short, text-less stroke block
                ("plain agreement body",
                  Seq(LayoutSpan(0.3 + (id % 5) * 0.01, 0.02, hasText = false)))
              case 1 =>
                // same box WITH text -> Method 2 misses; Method 3 catches
                ("Signature: present on file",
                  Seq(LayoutSpan(0.5, 0.02, hasText = true)))
              case 2 =>
                ("nothing of note", Seq.empty[LayoutSpan])
              case _ =>
                // boundary misses: width not > 0.2, height not < 0.05,
                // narrow textless block
                ("nothing of note", Seq(
                  LayoutSpan(0.2, 0.01, hasText = false),
                  LayoutSpan(0.5, 0.05, hasText = false),
                  LayoutSpan(0.1, 0.02, hasText = false)))
            }
            (id,
              String.valueOf(Extract.detectSignatureGeometry(spans)),
              String.valueOf(Extract.detectSignatureFull(text, spans)))
          })
          .toDF("doc_id", "sig_geometry", "sig_full")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 4 = 0 THEN 'true' ELSE 'false' END AS sig_geometry,
             |  CASE WHEN doc_id % 4 <= 1 THEN 'true' ELSE 'false' END AS sig_full
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Table-cell alignment from positioned layout spans (north star:
    // Textract TABLE/CELL reconstruction over raw geometry —
    // EthansCode/Ethan_PDFandJPG3.py:318-346 consumes Textract's
    // pre-aligned CELL RowIndex/ColumnIndex; here the alignment is
    // computed from span positions). Constructed per-doc pseudo-tables:
    // 2-4 rows x 2-3 columns with deterministic sub-gap jitter on every
    // coordinate and ~1/5 of cells dropped (ragged), so the oracle pins
    // that (a) jittered positions still cluster to the true grid, (b) a
    // missing cell does NOT shift its row-mates' column ids (columns come
    // from the table-wide x profile, not per-row order), (c) rows whose
    // every cell was dropped disappear and later row ids shift. The
    // DuckDB oracle REPLAYS the same 1-D gap clustering with window
    // functions, so the algorithm — not just the output — is pinned.
    // Spark shape: row-local flatMap per document, no shuffle except the
    // final presentation sort.
    "lt_table_cells" -> Entry(
      (s, d) => {
        import s.implicits._
        import graft.extract.Extract.PosSpan
        rd(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .flatMap { id =>
            val nr = 2 + (id % 3).toInt
            val nc = 2 + (id % 2).toInt
            val spans = for {
              r <- 0 until nr
              c <- 0 until nc
              if (id + r + c) % 5 != 0
            } yield PosSpan(
              0.08 + c * 0.22 + ((id + r * 3 + c * 7) % 10) * 0.002,
              0.1 + r * 0.06 + ((id * 2 + r + c * 5) % 10) * 0.0015,
              s"cell_${r}_$c")
            Extract.tableCells(spans).map { case (ri, ci, t) =>
              (id, ri.toLong, ci.toLong, t)
            }
          }
          .toDF("doc_id", "row_idx", "col_idx", "txt")
          .orderBy("doc_id", "row_idx", "col_idx", "txt")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, 2 + doc_id % 3 AS nr, 2 + doc_id % 2 AS nc
             |  FROM documents),
             |spans AS (
             |  SELECT doc_id,
             |    0.08 + c * 0.22 + ((doc_id + r * 3 + c * 7) % 10) * 0.002 AS x,
             |    0.1 + r * 0.06 + ((doc_id * 2 + r + c * 5) % 10) * 0.0015 AS y,
             |    'cell_' || r || '_' || c AS txt
             |  FROM base, generate_series(0, 3) AS gr(r),
             |       generate_series(0, 2) AS gc(c)
             |  WHERE r < nr AND c < nc AND (doc_id + r + c) % 5 <> 0),
             |rk AS (
             |  SELECT doc_id, x, y, txt,
             |    CASE WHEN y - lag(y) OVER (PARTITION BY doc_id ORDER BY y, x, txt) > 0.02
             |         THEN 1 ELSE 0 END AS brk
             |  FROM spans),
             |rr AS (
             |  SELECT doc_id, x, txt,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY y, x, txt
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS row_idx
             |  FROM rk),
             |xs AS (SELECT DISTINCT doc_id, x FROM spans),
             |xk AS (
             |  SELECT doc_id, x,
             |    CASE WHEN x - lag(x) OVER (PARTITION BY doc_id ORDER BY x) > 0.05
             |         THEN 1 ELSE 0 END AS brk
             |  FROM xs),
             |xc AS (
             |  SELECT doc_id, x,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS col_idx
             |  FROM xk)
             |SELECT rr.doc_id, CAST(row_idx AS BIGINT) AS row_idx,
             |  CAST(col_idx AS BIGINT) AS col_idx, txt
             |FROM rr JOIN xc ON rr.doc_id = xc.doc_id AND rr.x = xc.x
             |ORDER BY rr.doc_id, row_idx, col_idx, txt""".stripMargin)),

    // Multi-column READING ORDER from positioned spans (north star:
    // "PDF/layout parse" — a two-column page read naively by y
    // interleaves the columns; the linearizer must finish the left
    // column before starting the right). Constructed pseudo-pages:
    // 1 or 2 columns (doc_id % 2), 4-6 lines each, jitter on every
    // coordinate an order of magnitude below the column gutter. The
    // DuckDB oracle REPLAYS the same gap clustering + column-major sort
    // with window functions, pinning the algorithm. Spark shape:
    // row-local flatMap per document (Extract.readingOrder), no shuffle
    // except the presentation sort.
    "lt_reading_order" -> Entry(
      (s, d) => {
        import s.implicits._
        import graft.extract.Extract.PosSpan
        rd(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .flatMap { id =>
            val ncols = 1 + (id % 2).toInt
            val nl = 4 + (id % 3).toInt
            val spans = for {
              c <- 0 until ncols
              l <- 0 until nl
            } yield PosSpan(
              0.08 + c * 0.45 + ((id + c * 7 + l) % 10) * 0.003,
              0.1 + l * 0.08 + ((id * 3 + l + c) % 10) * 0.002,
              s"line_${c}_$l")
            Extract.readingOrder(spans).map { case (ord, t) =>
              (id, ord.toLong, t)
            }
          }
          .toDF("doc_id", "ord", "txt")
          .orderBy("doc_id", "ord")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS ncols, 4 + doc_id % 3 AS nl
             |  FROM documents),
             |spans AS (
             |  SELECT doc_id,
             |    0.08 + c * 0.45 + ((doc_id + c * 7 + l) % 10) * 0.003 AS x,
             |    0.1 + l * 0.08 + ((doc_id * 3 + l + c) % 10) * 0.002 AS y,
             |    'line_' || c || '_' || l AS txt
             |  FROM base, generate_series(0, 1) AS gc(c),
             |       generate_series(0, 5) AS gl(l)
             |  WHERE c < ncols AND l < nl),
             |xs AS (SELECT DISTINCT doc_id, x FROM spans),
             |xk AS (
             |  SELECT doc_id, x,
             |    CASE WHEN x - lag(x) OVER (PARTITION BY doc_id ORDER BY x) > 0.3
             |         THEN 1 ELSE 0 END AS brk
             |  FROM xs),
             |xc AS (
             |  SELECT doc_id, x,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS col_idx
             |  FROM xk)
             |SELECT s.doc_id,
             |  CAST(row_number() OVER (PARTITION BY s.doc_id
             |    ORDER BY xc.col_idx, s.y, s.x, s.txt) - 1 AS BIGINT) AS ord,
             |  s.txt
             |FROM spans s JOIN xc ON s.doc_id = xc.doc_id AND s.x = xc.x
             |ORDER BY s.doc_id, ord""".stripMargin)),

    // Overlapping-span merge (Extract.mergeSpans): independent span
    // producers (anchors, PII matches, layout boxes) emit ranges over
    // the same text; redaction/highlight/coverage consumers need them
    // disjoint. Five planted spans per doc exercise containment
    // ((12,14) inside (10,20) — the running-max case), a doc_id-moving
    // span that overlaps (m<5) / touches (m=5, merges) / separates
    // (m>5) from the first island, and an always-overlapping tail
    // pair. The oracle replays the SAME sweep as SQL gaps-and-islands
    // (break iff start > running max(end)), pinning the algorithm, not
    // just the answer. Row-local flatMap — no shuffle at 100 TB.
    "lt_span_merge" -> Entry(
      (s, d) => {
        import s.implicits._
        rd(s, d, "documents").select(col("doc_id").cast("long")).as[Long]
          .mapPartitions(_.flatMap { id =>
            val m = (id % 10).toInt
            val spans =
              Seq((10, 20), (12, 14), (15 + m, 35 + m), (50, 60), (58, 70))
            Extract.mergeSpans(spans).zipWithIndex.map {
              case ((st, en, n), i) =>
                (id, i.toLong, st.toLong, en.toLong, n.toLong)
            }
          })
          .toDF("doc_id", "merge_idx", "m_start", "m_end", "n_src")
          .orderBy($"doc_id", $"merge_idx")
      },
      Some("""WITH b AS (SELECT doc_id, doc_id % 10 AS m FROM documents),
             |sp AS (
             |  SELECT doc_id, 10 AS s, 20 AS e FROM b
             |  UNION ALL SELECT doc_id, 12, 14 FROM b
             |  UNION ALL SELECT doc_id, 15 + m, 35 + m FROM b
             |  UNION ALL SELECT doc_id, 50, 60 FROM b
             |  UNION ALL SELECT doc_id, 58, 70 FROM b),
             |o AS (SELECT doc_id, s, e,
             |  CASE WHEN s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    THEN 1 ELSE 0 END AS brk
             |  FROM sp),
             |g AS (SELECT doc_id, s, e,
             |  sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
             |    ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM o)
             |SELECT doc_id, CAST(grp AS BIGINT) AS merge_idx,
             |  CAST(min(s) AS BIGINT) AS m_start,
             |  CAST(max(e) AS BIGINT) AS m_end, count(*) AS n_src
             |FROM g GROUP BY doc_id, grp
             |ORDER BY doc_id, merge_idx""".stripMargin)),

    // Span-based PII redaction — the full detect → merge → splice chain
    // (vs ta_redact_pii's in-place regexp_replace, which can't report
    // WHAT was cut): Extract.piiSpans runs four INDEPENDENT offset
    // detectors whose hits overlap by construction (the generic ≥4-digit
    // run fires INSIDE the planted phone suffix and inside the SSN
    // tail), mergeSpans resolves the overlaps, spliceSpans cuts each
    // disjoint interval to an auditable [PII:n-hits] marker. The oracle
    // emits the constructed redacted string with NO regex, plus the
    // expected raw-hit/merged-interval/cut-char counts (email 23 +
    // phone 14 + ssn 11 = 48 chars cut per row by construction) — the
    // hash match proves the detectors fired exactly on the planted
    // values, the overlaps merged, and the splice preserved every
    // surrounding byte. Tokens are stripped to [a-z] on both sides so
    // corpus text can never feed the detectors; the email's local-part
    // digits stay 2-wide (doc_id%90+10) so the digit-run detector
    // cannot reach inside the email span. Row-local flatMap — no
    // shuffle at 100 TB.
    "ta_redact_span_splice" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("intro "), regexp_replace(tok($"text", 1), "[^a-z]", ""),
          lit(" email user"),
          (pmod($"doc_id", lit(90)) + lit(10)).cast("string"),
          lit("@mail.example.org mid phone ("),
          (lit(200) + pmod($"doc_id", lit(700))).cast("string"),
          lit(") 555-"),
          lpad(pmod($"doc_id", lit(10000)).cast("string"), 4, "0"),
          lit(" words "), regexp_replace(tok($"text", 2), "[^a-z]", ""),
          lit(" ssn "),
          lpad(pmod($"doc_id", lit(900)).cast("string"), 3, "0"),
          lit("-45-6789 outro"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            val raw = Extract.piiSpans(p)
            val merged = Extract.mergeSpans(raw)
            val redacted = Extract.spliceSpans(p, merged, n => s"[PII:$n]")
            val cut = merged.map { case (st, en, _) => en - st }.sum
            (id, redacted, raw.size.toLong, merged.size.toLong, cut.toLong)
          })
          .toDF("doc_id", "redacted", "n_raw", "n_merged", "cut_chars")
      },
      Some(s"""SELECT doc_id,
              |  'intro '||regexp_replace($sqlTok1, '[^a-z]', '', 'g')||' email [PII:1] mid phone [PII:2] words '||regexp_replace($sqlTok2, '[^a-z]', '', 'g')||' ssn [PII:2] outro' AS redacted,
              |  CAST(5 AS BIGINT) AS n_raw, CAST(3 AS BIGINT) AS n_merged,
              |  CAST(48 AS BIGINT) AS cut_chars
              |FROM documents ORDER BY doc_id""".stripMargin))
  )

  /** Shared gate shape for the reference query banks: Spark runs the
    * REAL bank ([[Extract.queryBank]]) over a constructed payload; the
    * oracle rebuilds the exact sorted-key JSON from `answeredSql`
    * (missing keys -> "").
    * `confidence` is the A1 value as `String.valueOf` renders it.
    */
  private def bankEntry(bank: Seq[String], payload: => Column,
      answeredSql: Map[String, String], confidence: String): Entry = {
    // guard at construction: every answeredSql key must be a derived key
    // of the bank, else the oracle would assert an unreachable field
    val derived = bank.map(Extract.queryKey).toSet
    val stray = answeredSql.keySet.diff(derived)
    require(stray.isEmpty, s"answeredSql keys not derived from bank: $stray")
    Entry(
      (s, d) => {
        import s.implicits._
        val df = rd(s, d, "documents").select(col("doc_id"), payload.as("p"))
        // output-order exchange below the 1:1 extractor (see runStr)
        df.select(col("doc_id").cast("long"), col("p")).orderBy(col("doc_id"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            val dd = Extract.queryBank(bank, p)
            (id, dd.size, Extract.fieldsToJson(dd),
              String.valueOf(math.rint(Extract.confidenceA1(dd) * 1e6) / 1e6))
          })
          .toDF("doc_id", "n_keys", "document_data", "confidence")
      },
      Some {
        val (nKeys, jsonSql) = bankJsonSql(bank, answeredSql)
        s"""SELECT doc_id, $nKeys AS n_keys,
           |  $jsonSql AS document_data,
           |  '$confidence' AS confidence
           |FROM documents ORDER BY doc_id""".stripMargin
      })
  }

  /** The oracle's reconstruction of fieldsToJson over a bank's derived
    * keys: sorted distinct keys, answered ones from `answeredSql`,
    * missing ones as "". Returns (key count, SQL string expression).
    */
  private def bankJsonSql(bank: Seq[String],
      answeredSql: Map[String, String]): (Int, String) = {
    val keys = bank.map(Extract.queryKey).distinct.sorted
    val jsonSql = keys.map { k =>
      answeredSql.get(k) match {
        case Some(v) => s"'\"$k\":\"'||$v||'\"'"
        case None    => s"""'"$k":""'"""
      }
    }.mkString("'{'||", "||','||", "||'}'")
    (keys.size, jsonSql)
  }
}
