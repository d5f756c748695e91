package graft.engine

import org.apache.spark.sql.DataFrame

/** Sink boundary (K1). The system of record is the snapshot-scoped
  * parquet results table (resume correctness depends on its overwrite
  * idempotence), in place of the reference's per-document INSERT into
  * Postgres (finalcodes/Facesheet.py:195-196).
  */
object Sinks {

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** K6 debug text dump — the reference writes each document's full text
    * to `full_pdf_text.txt` for manual review
    * (MiscTestingScripts/Lauren_RX__JPG_Reader.py:433-435, one file,
    * overwritten per document). The Spark-native shape: one partitioned
    * text dump per run, `<id>\t<escaped-text>` lines, so the dump stays
    * greppable AND distributed (no driver collect, no single-file
    * bottleneck at 100 TB). Escaping is lossless: backslash first, then
    * \n, \r, \t — so a literal "\n" in the source text dumps as "\\n"
    * and is distinguishable from an escaped newline, and tabs cannot
    * break the two-field split. Debug-only: never on the production
    * path.
    */
  def debugTextDump(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    import org.apache.spark.sql.functions._
    val escaped = Seq("\n" -> "n", "\r" -> "r", "\t" -> "t")
      .foldLeft(regexp_replace(col(textCol), "\\\\", "\\\\\\\\")) {
        case (c, (ch, name)) => regexp_replace(c, ch, "\\\\" + name)
      }
    df.select(concat_ws("\t", col(idCol).cast("string"), escaped).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Inverse of [[debugTextDump]]'s escaping, for tooling that wants the
    * original text back from a dump line's second field.
    */
  def unescapeDumpText(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case _    => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }
}
