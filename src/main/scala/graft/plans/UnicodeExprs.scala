package graft.plans

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** Static bridge for Unicode normalization — the first cleanup pass of a
  * web-scale text pipeline (crawl text mixes decomposed combining
  * sequences, precomposed forms, and compatibility singletons like
  * U+212B for the same glyph, so every downstream hash/dedup/token op
  * sees spurious distinctions until the corpus is NFC-canonical). The
  * reference never normalizes (its Textract output is ASCII-by-accident);
  * at 100 TB this is a mandatory row-local scan. Both entry points take
  * the already-normalized fast path without allocation — on a mostly
  * ASCII/NFC corpus the common case is a pure scan, no copy.
  */
object UnicodeBridge {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")

  /** NFD decomposition, then every combining mark removed — the classic
    * accent fold (café→cafe, Zürich→Zurich); ASCII text passes through
    * untouched by reference equality.
    */
  def stripAccents(s: UTF8String): UTF8String = {
    val str = s.toString
    val folded = Marks.matcher(
      Normalizer.normalize(str, Normalizer.Form.NFD)).replaceAll("")
    if (folded == str) s else UTF8String.fromString(folded)
  }
}
