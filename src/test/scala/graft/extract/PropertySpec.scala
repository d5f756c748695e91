package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.gen.{Rng, TranscriptGen}

/** Property-based invariants (SURVEY.md §5.3): the extractor is total,
  * deterministic and order-independent; derived metrics stay in range.
  * Plain ScalaCheck generators sampled with fixed seeds (the
  * scalatestplus bridge is not in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private val anyText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const("\n"),
      Gen.const("Patient Name: X"), Gen.const("Date : 01/02/2020"),
      Gen.const("INSURANCE"), Gen.const("<div>x</div>")))
      .map(_.mkString(" ")),
    Gen.choose(0, 120000).map { i =>
      TranscriptGen.payload(i % 977, i % 31)._1
    })

  private def samples(n: Int): Seq[String] =
    (1 to n).flatMap(i =>
      anyText.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("extractTurn is total and deterministic on arbitrary text") {
    for (t <- samples(300)) {
      val a = Extract.extractTurn("c", 0, t)
      val b = Extract.extractTurn("c", 0, t)
      assert(a == b)
      assert(a.confidence >= 0.0 && a.confidence <= 1.0)
      assert(a.status == "ok" || a.status.startsWith("failed:"))
    }
  }

  test("tokenizer output is sorted, distinct, lowercase, len>2") {
    for (t <- samples(300)) {
      val toks = Extract.tokenize(t)
      assert(toks == toks.sorted)
      assert(toks == toks.distinct)
      assert(toks.forall(w => w.length > 2 && w == w.toLowerCase))
    }
  }

  test("mergeSpans invariants: disjoint, sorted, coverage- and count-preserving") {
    val spanGen = Gen.listOf(for {
      s <- Gen.choose(0, 500)
      len <- Gen.choose(1, 60)
    } yield (s, s + len))
    for (i <- 1 to 300; spans <- spanGen.apply(Gen.Parameters.default, Seed(i.toLong))) {
      val merged = Extract.mergeSpans(spans)
      // disjoint with real gaps, sorted, each interval non-empty
      merged.sliding(2).foreach {
        case Seq((_, e1, _), (s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
      merged.foreach { case (s, e, n) => assert(s < e && n >= 1) }
      // every source span lands inside exactly one merged interval
      assert(merged.map(_._3).sum === spans.size)
      spans.foreach { case (s, e) =>
        assert(merged.count { case (ms, me, _) => ms <= s && e <= me } === 1)
      }
      // merged coverage equals the union of the inputs, point for point
      val covered = merged.flatMap { case (s, e, _) => s until e }.toSet
      assert(covered === spans.flatMap { case (s, e) => s until e }.toSet)
    }
  }

  test("key normalization is idempotent") {
    for (k <- (1 to 300).flatMap(i =>
        Gen.asciiPrintableStr.apply(Gen.Parameters.default, Seed(i.toLong)))) {
      val once = Extract.normalizeKey(k)
      assert(Extract.normalizeKey(once) == once)
    }
  }

  test("section spans are in-bounds, non-overlapping, ordered") {
    for (t <- samples(300)) {
      val secs = Extract.segment(t)
      var prevEnd = 0
      secs.foreach { s =>
        assert(s.start >= prevEnd)
        assert(s.len > 0)
        assert(s.start + s.len <= t.length)
        prevEnd = s.start + s.len
      }
    }
  }

  test("canonical JSON forms are single-line and bracket-balanced") {
    for (t <- samples(300)) {
      val e = Extract.extractTurn("c", 0, t)
      val fj = Extract.fieldsToJson(e.fields)
      val sj = Extract.sectionsToJson(e.sections)
      assert(fj.startsWith("{") && fj.endsWith("}"))
      assert(sj.startsWith("[") && sj.endsWith("]"))
      assert(!fj.contains("\n") && !sj.contains("\n"))
    }
  }

  test("extraction is order-independent: any permutation yields the same row set") {
    val turns = TranscriptGen.turns(10, 16).toVector
    val base = turns.map(t => Extract.extractTurn(t.conv_id, t.turn_idx, t.text)).toSet
    for (seed <- 1 to 20) {
      val shuffled = new scala.util.Random(seed).shuffle(turns)
      val got = shuffled.map(t => Extract.extractTurn(t.conv_id, t.turn_idx, t.text)).toSet
      assert(got == base)
    }
  }

  // --- HTML pre-pass: the tag scanner against the regex reference --------

  private def anyCase(s: String): Gen[String] =
    Gen.listOfN(s.length, Gen.prob(0.3)).map(up =>
      s.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString)

  // the pre-pass's own names, their block-splitting prefixes and near misses
  private val tagName: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("script", "style", "nav", "aside", "footer", "header", "head", "a"),
    3 -> Gen.oneOf("div", "p", "pre", "link", "track", "param", "li", "tr", "br", "h1",
      "h6", "body", "html", "section", "article", "ul", "ol", "table"),
    1 -> Gen.oneOf("h7", "span", "b", "abbr", "scripts", "navbar", "headers", "ab", "em"))
  // what may follow a name: the `\b` cases, incl. a surrogate-pair letter
  private val afterName: Gen[String] = Gen.frequency(
    8 -> Gen.const(""),
    3 -> Gen.oneOf("_", "1", "\u00e9", "\u0430", "\u0301", "\uD835\uDC00", "\u0663",
      "-", "\t", "\n", "<", "/", "\u00A0"))
  private val attrs: Gen[String] = Gen.oneOf("", "", " href=\"u\"", " title=\"1>2\"",
    " class='x>y'", " id=a", "\n data-x=\"<b>\"", " <i>")
  private val text: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("one", "two words here", "Main content paragraph with enough words",
      "x", "\u00e9t\u00e9"),
    4 -> Gen.oneOf(" ", "\t", "\u000B", "\f", "\r", "\n", "  \n\t "),
    2 -> Gen.oneOf("\u0000", "\u0001", "\u001F", "\u007F", "\u00A0", "\u2028", "\u0085"),
    2 -> Gen.oneOf("<", ">", "</", "<a", "</a", "< p", "<<", "&lt;"))

  private def open(name: String): Gen[String] = for {
    n <- anyCase(name); after <- afterName; at <- attrs
    gt <- Gen.frequency(9 -> ">", 1 -> "")
  } yield s"<$n$after$at$gt"

  private def close(name: String): Gen[String] = for {
    n <- anyCase(name); end <- Gen.frequency(8 -> ">", 1 -> " >", 1 -> "")
  } yield s"</$n$end"

  // elements nest, often in one of the same name; about one in five is unclosed
  private def element(name: String, depth: Int): Gen[String] = for {
    o <- open(name)
    kids <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, node(depth - 1, name)))
    c <- Gen.frequency(4 -> close(name), 1 -> Gen.const(""))
  } yield o + kids.mkString + c

  private def node(depth: Int, parent: String): Gen[String] =
    if (depth <= 0) Gen.oneOf(text, tagName.flatMap(open), tagName.flatMap(close))
    else Gen.frequency(
      5 -> text,
      1 -> tagName.flatMap(open),
      1 -> tagName.flatMap(close),
      3 -> tagName.flatMap(element(_, depth)),
      1 -> Gen.lzy(element(parent, depth)))

  private val adversarialHtml: Gen[String] =
    Gen.choose(0, 24).flatMap(Gen.listOfN(_, node(3, "nav"))).map(_.mkString)

  private def sameBlocks(html: String): Unit = {
    def key(bs: Vector[Extract.TextBlock]) =
      bs.map(b => (b.text, b.words, java.lang.Double.doubleToRawLongBits(b.linkDensity)))
    assert(key(Extract.textBlocks(html)) == key(RegexTextBlocks.textBlocks(html)),
      s"on ${html.take(2000).map(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString).mkString}")
  }

  test("HTML tag scanner equals the regex reference on adversarial HTML") {
    for (i <- 1 to 5000; html <- adversarialHtml.apply(Gen.Parameters.default, Seed(i.toLong)))
      sameBlocks(html)
  }

  /** A page shaped like the HTML benchmark's long pages: a head script,
    * nav link lists, inline scripts, related-link divs and paragraphs.
    */
  private def longPage(r: Rng, target: Int): String = {
    val words = Vector("var", "function", "return", "window", "document", "item")
    val sb = new StringBuilder("<html><head><title>page</title><script>")
    (0 until 10).foreach(_ => sb.append(r.pick(words)).append(' '))
    sb.append("</script></head><body>\n")
    sb.append(TranscriptGen.html(r).stripPrefix("<html><body>\n").stripSuffix("</body></html>"))
    while (sb.length < target) r.nextInt(5) match {
      case 0 =>
        sb.append("<nav><ul>")
        (0 until 1 + r.nextInt(4)).foreach(i =>
          sb.append(s"""<li><a href="/p$i">${r.pick(words)} link</a></li>"""))
        sb.append("</ul></nav>\n")
      case 1 =>
        sb.append("<script type=\"text/javascript\">")
        (0 until 3 + r.nextInt(8)).foreach(_ => sb.append(r.pick(words)).append("(); "))
        sb.append("</script>\n")
      case 2 =>
        sb.append("<div class=\"related\"><a href=\"/r\">related story</a> ")
        sb.append("<a href=\"/s\">another story</a></div>\n")
      case _ =>
        sb.append("<div><p>Main content paragraph with enough words to be kept. ")
        sb.append(TranscriptGen.plain(r)).append(".</p></div>\n")
    }
    sb.append("<footer><a href=\"/x\">Terms</a></footer>\n</body></html>").toString
  }

  test("HTML tag scanner equals the regex reference on long pages cut at every tag") {
    for (seed <- 1 to 4) {
      val page = longPage(new Rng(seed.toLong), 3000)
      sameBlocks(page)
      for (lt <- page.indices if page.charAt(lt) == '<')
        sameBlocks(page.substring(0, math.min(page.length, lt + 1 + lt % 4)))
    }
  }

  test("HTML pre-pass time is linear in the length on repeated unclosed tags") {
    def nanos(html: String): Long = {
      val t0 = System.nanoTime()
      Extract.textBlocks(html)
      System.nanoTime() - t0
    }
    // unclosed script and chrome elements, and `<`s with no `>` in a block
    for (unit <- Seq("<div><script>x ", "<div><nav>x ", "x < ")) {
      def page(n: Int) = "<html><body>" + unit * n
      val (small, large) = (page(20000), page(40000))
      (1 to 5).foreach(_ => Extract.textBlocks(large)) // JIT warm-up
      // median over back-to-back pairs, so host drift hits both sizes alike
      val ratios = (1 to 15).map(_ => nanos(large).toDouble / nanos(small)).sorted
      val ratio = ratios(ratios.length / 2)
      assert(ratio < 3.0, s"'$unit': t(2n)/t(n) = $ratio")
    }
  }

  // --- field banks: the ROADMAP item-1 probes ---------------------------

  /** A classifier-passing header (no line of it matches the bank
    * pattern) plus a repeated unit, as the probes that found the
    * quadratic `qtyTriGroup`, `physicianNpi` and `memberNameId` forms.
    */
  private val bankProbes = Seq(
    ("qty", "PRESCRIPTION\nBreast Pump\nICD-10 Code: Z39.1\nPhysician NPI\n", "QTY 9 x "),
    ("physician", "PRESCRIPTION\nBreast Pump\nICD-10 Code: Z39.1\nPhysician NPI\n",
      "Physician Name: a "),
    ("member", "Member ID\nCopay\nBIN\n", "Member Name a "))

  private def probe(header: String, unit: String, chars: Int): String =
    header + unit * ((chars - header.length) / unit.length)

  private def turnNanos(t: String): Long = {
    val t0 = System.nanoTime()
    Extract.extractTurn("c", 0, t)
    System.nanoTime() - t0
  }

  test("each bank probe's time is linear in the length, and 1 MiB takes under 50 ms") {
    for ((name, header, unit) <- bankProbes) {
      val (small, large) = (probe(header, unit, 64 << 10), probe(header, unit, 128 << 10))
      assert(Extract.extractTurn("c", 0, small).status == "ok")
      (1 to 5).foreach(_ => turnNanos(large)) // JIT warm-up
      // median over back-to-back pairs, so host drift hits both sizes alike
      val ratios = (1 to 15).map(_ => turnNanos(large).toDouble / turnNanos(small)).sorted
      val ratio = ratios(ratios.length / 2)
      assert(ratio < 3.0, s"$name: t(2n)/t(n) = $ratio")
      val mib = probe(header, unit, 1 << 20)
      val best = (1 to 3).map(_ => turnNanos(mib)).min / 1e6
      assert(best < 50.0, f"$name: 1 MiB took $best%.1f ms")
    }
  }
}
