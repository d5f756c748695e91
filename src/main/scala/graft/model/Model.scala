package graft.model

import java.sql.Timestamp

/** Input row of the transcripts table.
  *
  * Schema fixed per BASELINE.json input_hint:
  * (conv_id:string, turn_idx:int, role:string, text:string, tool:string,
  * ts:timestamp). Reference analog: one S3 object key + payload
  * (reference `IDD/finalcodes/Facesheet.py:81-95`).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** One segmented section of a turn's text — reference `structure_text`
  * (`IDD/MiscTestingScripts/Ethan_PDFandJPG3.py:125-156`): ALL-CAPS line
  * opens a section, blank line closes it, default bucket PARAGRAPH.
  *
  * The body is stored as a SPAN (start/len offsets into extracted_text),
  * not a copy: at 100 TB the copies triple the result bytes and saturate
  * memory bandwidth; `body(extractedText)` recovers the exact text.
  */
final case class Section(header: String, start: Int, len: Int) {
  def body(extractedText: String): String =
    extractedText.substring(start, start + len)
}

/** Output row of the extraction pipeline — the Spark-native form of the
  * reference's `{document_data: map, confidence: {...}}` JSON rows
  * (`IDD/finalcodes/Facesheet.py:157-184`).
  *
  * `field_src` is per-field provenance, parallel to `fields`: which arm
  * produced each value — "anchor" (KV line anchor) or "pattern" (regex
  * field bank; wins the merge for a shared key, SignedAgreementFinalDB:
  * 237-261). The query-bank APIs ([[graft.extract.Extract.queryBank]]
  * family) are a separate surface whose every field is query-derived, so
  * "query" never appears here. Provenance is what makes extraction
  * regressions debuggable at scale: a field that silently flips from
  * pattern to anchor shows up in a one-line groupBy.
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    doc_type: String,
    extracted_text: String,
    sections: Seq[Section],
    fields: Map[String, String],
    field_src: Map[String, String],
    signature_present: Boolean,
    confidence: Double,
    status: String
)
