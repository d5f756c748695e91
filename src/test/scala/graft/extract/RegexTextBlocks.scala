package graft.extract

import java.util.regex.Pattern
import graft.extract.Extract.TextBlock

/** The regex HTML pre-pass that [[Extract.textBlocks]]'s tag scanner
  * replaced, kept unchanged as the differential reference for it. It is
  * quadratic on repeated unclosed tags, so feed it small inputs only.
  */
object RegexTextBlocks {

  private val tagPattern = Pattern.compile("(?is)<[^>]*>")
  private val anchorPattern = Pattern.compile("(?is)<a\\b[^>]*>(.*?)</a>")
  private val blockSplitters =
    Pattern.compile("(?is)</?(?:div|p|nav|footer|header|ul|ol|li|table|tr|h[1-6]|br|body|html|section|article|aside)[^>]*>")
  private val scriptStyle =
    Pattern.compile("(?is)<(script|style)\\b[^>]*>.*?</\\1>")
  private val pruneSubtrees =
    Pattern.compile("(?is)<(head|nav|aside|footer|header)\\b[^>]*>.*?</\\1>")
  private val wsRun = Pattern.compile("\\s+")

  private def stripTags(s: String): String =
    wsRun.matcher(tagPattern.matcher(s).replaceAll(" ")).replaceAll(" ").trim

  def textBlocks(html: String): Vector[TextBlock] = {
    val noScript = scriptStyle.matcher(html).replaceAll(" ")
    val noChrome = pruneSubtrees.matcher(noScript).replaceAll(" ")
    blockSplitters.split(noChrome).toVector.flatMap { raw =>
      val m = anchorPattern.matcher(raw)
      var linkChars = 0
      while (m.find()) linkChars += stripTags(m.group(1)).length
      val txt = stripTags(raw)
      if (txt.isEmpty) None
      else {
        val words = wsRun.split(txt).count(_.nonEmpty)
        Some(TextBlock(txt, words, linkChars.toDouble / txt.length))
      }
    }
  }
}
