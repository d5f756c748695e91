package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Extract

/** End-to-end extractor gates: each query BUILDS document-shaped payloads
  * (facesheet / prescription / agreement / insurance — FIXTURES.md §2)
  * from deterministic string ops over the `documents` table, runs the REAL
  * fused extractor (`Extract.extractTurn`, the exact code the production
  * mapPartitions stage runs), and emits scalar fields. The DuckDB oracle
  * reproduces the construction directly — ground truth by construction, so
  * these rows gate classifier + banks + merge precedence + confidence of
  * the actual pipeline code, not a SQL re-implementation of it.
  */
object XQueries {
  import Q._

  import Q.{tok, cap, dateCol, sqlTok1, sqlTok2, sqlCap, sqlDate}

  /** Run the real extractor over (doc_id, payload) rows. The
    * output-order exchange runs BELOW the extractor, on the narrow
    * (doc_id, payload) input: a terminal orderBy above it re-ran the
    * whole extraction once more for range-partition sampling
    * (RangePartitioner consumes every child partition to sketch
    * bounds); the 1:1 order-preserving mapPartitions + projection keep
    * the global order.
    */
  private def runExtractor(s: SparkSession, df: DataFrame)(
      project: graft.model.ExtractedTurn => Seq[Any],
      schema: Seq[String]): DataFrame = {
    import s.implicits._
    val rows = df.select(col("doc_id").cast("long"), col("p"))
      .orderBy(col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val e = Extract.extractTurn(s"doc-$id", 0, text)
        (id, project(e).map(String.valueOf))
      })
    // expand the stringly-projected values into named columns
    rows.select(
      (col("_1").as("doc_id") +:
        schema.zipWithIndex.map { case (n, i) =>
          element_at(col("_2"), i + 1).as(n)
        }): _*)
  }

  /** The facesheet-shaped payload shared by x_pipeline_facesheet and the
    * engine-path gate x_e2e_engine (one construction, one oracle formula).
    */
  private def facesheetPayload(doc_id: Column, text: Column): Column = {
    val guarantor = when(pmod(doc_id, lit(3)) === 0, lit(""))
      .otherwise(concat(lit(" "), upper(tok(text, 2))))
    concat(
      lit("PATIENT INFORMATION\nPatient Name: "),
      upper(tok(text, 1)), lit(", "), upper(tok(text, 2)),
      lit("\nPatient Date of Birth: "), dateCol(doc_id),
      lit("\nPatient Phone Number: ("),
      (lit(200) + pmod(doc_id, lit(700))).cast("string"), lit(") 555-"),
      lpad(pmod(doc_id, lit(10000)).cast("string"), 4, "0"),
      lit("\nMRN: "), (lit(1000000) + doc_id).cast("string"),
      lit("\nPatient insurance provider: Prov"),
      pmod(doc_id, lit(5)).cast("string"),
      lit("\nGuarantor Name:"), guarantor)
  }

  val entries: Seq[(String, Entry)] = Seq(

    // facesheet: classifier + KV anchors + patient bank + A1 confidence
    "x_pipeline_facesheet" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = facesheetPayload($"doc_id", $"text")
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runExtractor(s, df)(
          e => Seq(e.doc_type,
            e.fields.getOrElse("patient_name", ""),
            e.fields.getOrElse("patient_first_name", ""),
            e.fields.getOrElse("patient_last_name", ""),
            e.fields.getOrElse("patient_dob", ""),
            e.fields.getOrElse("patient_phone", ""),
            // per-field provenance: the canonical bank fields come from
            // the pattern arm, the raw "MRN:"/"Patient Name:" lines from
            // the anchor arm (the bank's canonical names never collide
            // with the anchor keys, so BOTH survive the merge — each
            // with its own source)
            e.field_src.getOrElse("patient_name", ""),
            e.field_src.getOrElse("MRN", ""),
            e.field_src.getOrElse("Patient Name", ""),
            math.rint(e.confidence * 1e6) / 1e6),
          Seq("doc_type", "patient_name", "patient_first_name",
            "patient_last_name", "patient_dob", "patient_phone",
            "src_patient_name", "src_mrn", "src_anchor_patient_name",
            "confidence"))
      },
      Some(s"""SELECT doc_id,
              |  'FACESHEET' AS doc_type,
              |  upper($sqlTok1)||', '||upper($sqlTok2) AS patient_name,
              |  upper($sqlTok2) AS patient_first_name,
              |  upper($sqlTok1) AS patient_last_name,
              |  $sqlDate AS patient_dob,
              |  '('||CAST(200 + doc_id % 700 AS VARCHAR)||') 555-'||lpad(CAST(doc_id % 10000 AS VARCHAR),4,'0') AS patient_phone,
              |  'pattern' AS src_patient_name,
              |  'anchor' AS src_mrn,
              |  'anchor' AS src_anchor_patient_name,
              |  CAST(round((11 - CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) / 11.0, 6) AS VARCHAR) AS confidence
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // prescription: ICD chain + tri-group + canonical pump + NPI split
    "x_pipeline_prescription" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("The Breast Pump Depot\nMother Name: "),
          cap(tok($"text", 1)), lit(" "), cap(tok($"text", 2)),
          lit("    DOB: "), dateCol($"doc_id"),
          lit("\nSection II. Medical Necessity\nX 1. Mother expects regular separation from infant\n"),
          lit("ICD-10 Code(s): Z39."), pmod($"doc_id", lit(9)).cast("string"),
          lit("\nItem Description Code Length of Need\nQTY "),
          (pmod($"doc_id", lit(3)) + 1).cast("string"),
          lit(" Double Electric Breast Pump Code E0603\nLength of Need: "),
          (pmod($"doc_id", lit(12)) + 1).cast("string"),
          lit("\nPhysicians Name: "), upper(tok($"text", 1).substr(lit(1), lit(1))),
          lit(". "), cap(tok($"text", 2)), lit(", MD - "),
          (lit(1000000000L) + $"doc_id").cast("string"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runExtractor(s, df)(
          e => Seq(e.doc_type,
            e.fields.getOrElse("patient_name", ""),
            e.fields.getOrElse("icd10", ""),
            e.fields.getOrElse("qty", ""),
            e.fields.getOrElse("item_code", ""),
            e.fields.getOrElse("pump_type", ""),
            e.fields.getOrElse("physician_name", ""),
            e.fields.getOrElse("physician_npi", "")),
          Seq("doc_type", "patient_name", "icd10", "qty", "item_code",
            "pump_type", "physician_name", "physician_npi"))
      },
      Some(s"""SELECT doc_id,
              |  'PRESCRIPTION' AS doc_type,
              |  ${sqlCap(sqlTok1)}||' '||${sqlCap(sqlTok2)} AS patient_name,
              |  'Z39.'||CAST(doc_id % 9 AS VARCHAR) AS icd10,
              |  CAST(doc_id % 3 + 1 AS VARCHAR) AS qty,
              |  'E0603' AS item_code,
              |  'Double Electric Breast Pump' AS pump_type,
              |  upper(substr($sqlTok1,1,1))||'. '||${sqlCap(sqlTok2)} AS physician_name,
              |  CAST(1000000000 + doc_id AS VARCHAR) AS physician_npi
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // agreement: tail-window banks + signature + 3-point confidence (A2)
    "x_pipeline_agreement" -> Entry(
      (s, d) => {
        import s.implicits._
        val signer = concat(cap(tok($"text", 1)), lit(" "), cap(tok($"text", 2)))
        val dt = dateCol($"doc_id")
        val tail = when(pmod($"doc_id", lit(4)) === 0,
            concat(lit("Date : "), dt, lit(" 07:04 CMT")))
          .when(pmod($"doc_id", lit(4)) === 1,
            concat(lit("Firmado por el cliente: "), signer, lit("\nFecha: "), dt))
          .otherwise(concat(lit("Signed by customer: "), signer,
            lit("\nDate : "), dt, lit(" 07:04 CMT")))
        val payload = concat(
          lit("CUSTOMER AGREEMENT\nThis agreement sets forth the terms and conditions of service.\n"),
          tail)
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runExtractor(s, df)(
          e => Seq(e.doc_type,
            e.fields.getOrElse("signed_by", ""),
            e.fields.getOrElse("signed_date", ""),
            e.signature_present,
            math.rint(e.confidence * 1e6) / 1e6),
          Seq("doc_type", "signed_by", "signed_date", "signature_present",
            "confidence"))
      },
      Some(s"""SELECT doc_id,
              |  'AGREEMENT' AS doc_type,
              |  CASE WHEN doc_id % 4 = 0 THEN ''
              |       ELSE ${sqlCap(sqlTok1)}||' '||${sqlCap(sqlTok2)} END AS signed_by,
              |  CASE WHEN doc_id % 4 = 1 THEN $sqlDate
              |       ELSE $sqlDate||' 07:04 CMT' END AS signed_date,
              |  CASE WHEN doc_id % 4 = 0 THEN 'false' ELSE 'true' END AS signature_present,
              |  CASE WHEN doc_id % 4 = 0 THEN '0.33' ELSE '1.0' END AS confidence
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // insurance: member name/ID split + KV anchors + A1 confidence
    "x_pipeline_insurance" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("Member Name "), upper(tok($"text", 1)), lit(" "),
          upper(tok($"text", 2)), lit(" W"),
          (lit(100000000) + pmod($"doc_id", lit(900000000))).cast("string"),
          lit("\nBIN: "), (lit(600000) + pmod($"doc_id", lit(29999))).cast("string"),
          lit("\nRx PCN: ADV\nGroup No: "),
          (lit(10000) + pmod($"doc_id", lit(90000))).cast("string"),
          lit("\nCopay: $"), (lit(5) + pmod($"doc_id", lit(45))).cast("string"))
        val df = rd(s, d, "documents").select($"doc_id", payload.as("p"))
        runExtractor(s, df)(
          e => Seq(e.doc_type,
            e.fields.getOrElse("member_name", ""),
            e.fields.getOrElse("member_id", ""),
            math.rint(e.confidence * 1e6) / 1e6),
          Seq("doc_type", "member_name", "member_id", "confidence"))
      },
      Some(s"""SELECT doc_id,
              |  'INSURANCE' AS doc_type,
              |  upper($sqlTok1)||' '||upper($sqlTok2) AS member_name,
              |  'W'||CAST(100000000 + doc_id % 900000000 AS VARCHAR) AS member_id,
              |  '1.0' AS confidence
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // the native Catalyst expression path: extract_turn(text) as a scalar
    // struct inside a codegen'd projection (same insurance construction
    // as x_pipeline_insurance — same oracle ground truth)
    "x_expr_extract_turn" -> Entry(
      (s, d) => {
        import s.implicits._
        graft.plans.ExtractTurnExpr.register(s)
        val payload = concat(
          lit("Member Name "), upper(tok($"text", 1)), lit(" "),
          upper(tok($"text", 2)), lit(" W"),
          (lit(100000000) + pmod($"doc_id", lit(900000000))).cast("string"),
          lit("\nBIN: "), (lit(600000) + pmod($"doc_id", lit(29999))).cast("string"),
          lit("\nRx PCN: ADV\nGroup No: "),
          (lit(10000) + pmod($"doc_id", lit(90000))).cast("string"),
          lit("\nCopay: $"), (lit(5) + pmod($"doc_id", lit(45))).cast("string"))
        val et = call_function("extract_turn", payload)
        // output-order exchange on the narrow scan, below the extractor
        // expression (the terminal orderBy re-ran it for range sampling)
        rd(s, d, "documents")
          .select($"doc_id", $"text").orderBy($"doc_id")
          .select($"doc_id",
            et.getField("doc_type").as("doc_type"),
            et.getField("signature_present").cast("string").as("signature_present"),
            round(et.getField("confidence"), 6).cast("string").as("confidence"),
            et.getField("status").as("status"))
      },
      Some("""SELECT doc_id,
             |  'INSURANCE' AS doc_type,
             |  'false' AS signature_present,
             |  '1.0' AS confidence,
             |  'ok' AS status
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // the ENGINE path oracle-gated end-to-end: constructed conversations
    // (conv_id/turn_idx derived from doc_id, facesheet payloads) run
    // through ExtractJob.extract with the salted skew shuffle + secondary
    // sort + the extract_turn projection — so the distributed path itself
    // (not just the pure extractor) must reproduce the constructed truth
    // per-turn under stable (conv_id, turn_idx) ordering.
    "x_e2e_engine" -> Entry(
      (s, d) => {
        import s.implicits._
        val turns = rd(s, d, "documents").select(
          concat(lit("c"), lpad(pmod($"doc_id", lit(20)).cast("string"), 2, "0"))
            .as("conv_id"),
          (($"doc_id" - pmod($"doc_id", lit(20))) / 20).cast("int").as("turn_idx"),
          facesheetPayload($"doc_id", $"text").as("text"))
        graft.engine.ExtractJob.extract(s, turns, salted = true, saltBuckets = 8)
          .toDF()
          .select($"conv_id", $"turn_idx", $"doc_type",
            $"signature_present".cast("string").as("signature_present"),
            round($"confidence", 6).cast("string").as("confidence"),
            $"status")
          .orderBy($"conv_id", $"turn_idx")
      },
      Some("""SELECT 'c'||lpad(CAST(doc_id % 20 AS VARCHAR),2,'0') AS conv_id,
             |  CAST(doc_id // 20 AS INT) AS turn_idx,
             |  'FACESHEET' AS doc_type,
             |  'false' AS signature_present,
             |  CAST(round((11 - CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) / 11.0, 6) AS VARCHAR) AS confidence,
             |  'ok' AS status
             |FROM documents ORDER BY conv_id, turn_idx""".stripMargin)),

    // full generated-transcripts pipeline: classify/extract distribution.
    // The SplitMix64 generator is not SQL-expressible, but the aggregate
    // over the FIXED input (60 convs, giant scale 128) is a deterministic
    // constant — recomputed single-threaded from the pure generator +
    // extractor (tools.PrintE2EOracle, pinned by E2EOracleSpec; every raw
    // sum sits >=0.5e-4 from a rounding boundary, so the distributed
    // sum's reassociation error cannot flip round(.,4)) and inlined as a
    // VALUES oracle. Per-turn equality is covered by EngineSpec goldens.
    "x_e2e_extract" -> Entry(
      (s, d) => {
        import s.implicits._
        val turns = s.range(0, 60, 1, 8).as[Long]
          .mapPartitions(_.flatMap { c =>
            val ci = c.toInt
            (0 until graft.gen.TranscriptGen.convSize(ci, 128)).iterator
              .map(t => graft.gen.TranscriptGen.turn(ci, t))
          }).toDF()
        graft.engine.ExtractJob.extract(s, turns, salted = true, saltBuckets = 8)
          .groupBy($"doc_type", $"status")
          .agg(count(lit(1)).as("n"),
            round(sum($"confidence"), 4).as("sum_conf"))
          .orderBy($"doc_type", $"status")
      },
      Some("""SELECT * FROM (VALUES
             |  ('AGREEMENT', 'ok', CAST(90 AS BIGINT), CAST(81.29 AS DOUBLE)),
             |  ('FACESHEET', 'ok', CAST(88 AS BIGINT), CAST(85.7692 AS DOUBLE)),
             |  ('INSURANCE', 'ok', CAST(87 AS BIGINT), CAST(87.0 AS DOUBLE)),
             |  ('PRESCRIPTION', 'ok', CAST(89 AS BIGINT), CAST(89.0 AS DOUBLE)),
             |  ('UNKNOWN', 'ok', CAST(173 AS BIGINT), CAST(0.0 AS DOUBLE))
             |) AS t(doc_type, status, n, sum_conf)
             |ORDER BY doc_type, status""".stripMargin)),

    // span-native extraction: absolute (start, len) character offsets of
    // every anchored value back INTO the turn text (Extract.anchorSpans),
    // plus a genuine round-trip check — `p.substring(start, start+len)`
    // must recover the value exactly. The payload plants a no-colon line,
    // an empty-value anchor, and an empty-key line (all must emit
    // nothing); the oracle replays the offset arithmetic from the
    // construction lengths. Row-local flatMap — no shuffle at 100 TB.
    "x_extract_spans" -> Entry(
      (s, d) => {
        import s.implicits._
        val payload = concat(
          lit("Patient Name:  W"), tok($"text", 1),
          lit("  \nno anchor here\nMRN: M"), $"doc_id".cast("string"),
          lit("\nEmpty Value:   \n:nokey"))
        // early output-order exchange: anchorSpans emits spans in text
        // order (ascending vstart), so sorting the narrow input by doc_id
        // and flatMapping 1:n in-order yields the (doc_id, vstart) total
        // order without re-running the extractor for range sampling
        rd(s, d, "documents").select($"doc_id".cast("long"), payload.as("p"))
          .orderBy($"doc_id")
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (id, p) =>
            Extract.anchorSpans(p).map { case (k, st, ln, v) =>
              (id, k, st.toLong, ln.toLong, v,
                (p.substring(st, st + ln) == v).toString)
            }
          })
          .toDF("doc_id", "k", "vstart", "vlen", "v", "roundtrip")
      },
      Some("""WITH src AS (
             |  SELECT doc_id, 'W'||string_split(text,' ')[1] AS v1 FROM documents)
             |SELECT doc_id, k, vstart, vlen, v, 'true' AS roundtrip FROM (
             |  SELECT doc_id, 'Patient Name' AS k, CAST(15 AS BIGINT) AS vstart,
             |         CAST(len(v1) AS BIGINT) AS vlen, v1 AS v FROM src
             |  UNION ALL
             |  SELECT doc_id, 'MRN', CAST(38 + len(v1) AS BIGINT),
             |         CAST(1 + len(CAST(doc_id AS VARCHAR)) AS BIGINT),
             |         'M'||CAST(doc_id AS VARCHAR) FROM src)
             |ORDER BY doc_id, vstart""".stripMargin)),

    // Typed-JSON-struct recovery (north star: "emitting typed JSON
    // structs via Catalyst UDF-free expressions"): the extractor's
    // per-doc JSON payload (K2) parsed BACK into typed columns with
    // `from_json` — the codegen'd JsonToStructs expression, zero UDFs —
    // in BOTH schema modes a downstream consumer uses: an explicit
    // StructType (typed lane: fields by name, MRN cast to BIGINT) and a
    // MapType(string,string) (dynamic lane: field count without a
    // schema). The deliberately-unanswerable bank query surfaces as ''
    // (present-but-empty in the JSON, so the map counts it and the
    // struct yields the empty string, not null). Oracle emits the
    // constructed ground truth — the hash match proves extract → JSON →
    // typed parse round-trips losslessly. Row-local scan shape; no
    // shuffle at 100 TB.
    "x_json_typed_struct" -> Entry(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}
        val payload = concat(
          lit("Patient Name: "), upper(tok($"text", 1)), lit(", "), upper(tok($"text", 2)),
          lit("\nMRN: "), (lit(1000000) + $"doc_id").cast("string"),
          lit("\nEncounter Date: "), dateCol($"doc_id"))
        val bank = Seq("What is the Patient Name?", "What is the MRN?",
          "What is the Encounter Date?", "What is the Patient Address?")
        val js = rd(s, d, "documents")
          .select(col("doc_id").cast("long"), payload.as("p"))
          .orderBy($"doc_id")
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, p) =>
            (id, Extract.fieldsToJson(Extract.queryBank(bank, p)))
          })
          .toDF("doc_id", "js")
        val typed = StructType(Seq(
          StructField("MRN", StringType),
          StructField("Patient Name", StringType),
          StructField("Encounter Date", StringType),
          StructField("Patient Address", StringType)))
        js.select($"doc_id",
            from_json($"js", typed).as("st"),
            from_json($"js", MapType(StringType, StringType)).as("m"))
          .select($"doc_id",
            $"st".getField("MRN").cast("long").as("mrn"),
            $"st".getField("Patient Name").as("pname"),
            $"st".getField("Encounter Date").as("enc_date"),
            $"st".getField("Patient Address").as("addr"),
            size($"m").cast("long").as("n_fields"))
      },
      Some(s"""SELECT doc_id, CAST(1000000 + doc_id AS BIGINT) AS mrn,
              |  upper($sqlTok1)||', '||upper($sqlTok2) AS pname,
              |  $sqlDate AS enc_date, '' AS addr,
              |  CAST(4 AS BIGINT) AS n_fields
              |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
