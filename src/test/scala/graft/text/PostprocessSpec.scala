package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Per-transform postprocess assertions, mirroring the reference's
  * requirement-tagged POST-01..07 suite (reference: tests/test_postprocess.py,
  * SURVEY.md §5.1) re-derived against our Scala kernels.
  */
class PostprocessSpec extends AnyFunSuite {

  // POST-01: ligature decomposition
  test("ligatures decompose to ASCII") {
    val (t, c) = Postprocess.normalizeUnicode("diﬀerence ﬁrst ﬂow oﬃce waﬄe")
    assert(t == "difference first flow office waffle")
    assert(c("unicode_normalizations") == 5)
  }

  // POST-02: soft hyphen removal
  test("soft hyphens are removed") {
    val (t, c) = Postprocess.normalizeUnicode("con­tinued")
    assert(t == "continued")
    assert(c("unicode_normalizations") == 1)
  }

  test("NFC normalization composes combining marks") {
    val (t, _) = Postprocess.normalizeUnicode("étude") // e + combining acute
    assert(t == "étude")
  }

  // POST-03: line-break dehyphenation
  test("line-break hyphens rejoin") {
    val (t, c) = Postprocess.dehyphenate("philo-\nsophy continues")
    assert(t == "philosophy continues")
    assert(c("dehyphenations") == 1)
  }

  test("known hyphenated proper names keep the hyphen") {
    val (t, c) = Postprocess.dehyphenate("Merleau-\nPonty wrote")
    assert(t == "Merleau-Ponty wrote")
    assert(c("dehyphenations") == 0)
  }

  test("capitalized-capitalized keeps the hyphen (proper-name heuristic)") {
    val (t, _) = Postprocess.dehyphenate("Jean-\nPaul spoke")
    assert(t == "Jean-Paul spoke")
  }

  test("mid-line hyphens are untouched") {
    val (t, _) = Postprocess.dehyphenate("well-known fact")
    assert(t == "well-known fact")
  }

  // POST-04: paragraph joining
  test("single newlines join within a paragraph block") {
    val (t, c) = Postprocess.joinParagraphs("line one\nline two\nline three")
    assert(t == "line one line two line three")
    assert(c("paragraph_joins") == 2)
  }

  test("double newlines preserve paragraph boundaries") {
    val (t, _) = Postprocess.joinParagraphs("para one\n\npara two")
    assert(t == "para one\n\npara two")
  }

  test("indented lines start a new paragraph within a block") {
    val (t, _) = Postprocess.joinParagraphs("first line\n  indented start")
    assert(t == "first line\n  indented start")
  }

  test("short heading-like line keeps following uppercase line separate") {
    val (t, _) = Postprocess.joinParagraphs("Short Heading\nThe body begins here")
    assert(t == "Short Heading\nThe body begins here")
  }

  test("long previous line joins even when current starts uppercase") {
    val long = "x" * 70
    val (t, _) = Postprocess.joinParagraphs(s"$long\nThe next line")
    assert(t == s"$long The next line")
  }

  // POST-05: punctuation normalization
  test("space before punctuation is removed") {
    val (t, _) = Postprocess.normalizePunctuation("word , and ; end .")
    assert(t == "word, and; end.")
  }

  test("multiple spaces collapse") {
    val (t, _) = Postprocess.normalizePunctuation("a  b    c")
    assert(t == "a b c")
  }

  test("trailing whitespace per line is stripped") {
    val (t, _) = Postprocess.normalizePunctuation("line one   \nline two\t\t")
    assert(t == "line one\nline two")
  }

  test("NBSP before punctuation collapses like Python \\s (parity)") {
    val (t, _) = Postprocess.normalizePunctuation("word\u00a0, and\u00a0.")
    assert(t == "word, and.")
  }

  // POST-06: chain order is unicode -> dehyphenate -> join -> punctuation
  test("full chain: dehyphenation happens before paragraph joining") {
    // If join ran first, the single \n would become a space and the hyphen
    // would survive: "philo- sophy".
    val (t, _) = Postprocess("philo-\nsophy of mind")
    assert(t == "philosophy of mind")
  }

  test("full chain on mixed input") {
    val in = "The ﬁrst diﬀerence con-\ntinues here .\n\nNext  paragraph\nwith lines"
    val (t, counts) = Postprocess(in)
    assert(t == "The first difference continues here.\n\nNext paragraph with lines")
    assert(counts("dehyphenations") == 1)
    assert(counts("unicode_normalizations") == 2)
  }

  // POST-07: idempotence of the punctuation pass
  test("normalize_punctuation is idempotent") {
    val (once, _) = Postprocess.normalizePunctuation("a  b , c   \nd ")
    val (twice, _) = Postprocess.normalizePunctuation(once)
    assert(once == twice)
  }

  // ADVICE r1 parity fixes -------------------------------------------------

  // Python's $ does not match before a final \r; Java's does. The trailing
  // strip must keep space/tab before a final carriage return.
  test("trailing space before final CR is kept (Python $ parity)") {
    val (t, _) = Postprocess.normalizePunctuation("word \r")
    assert(t == "word \r")
    val (t2, _) = Postprocess.normalizePunctuation("word \t\r\n")
    assert(t2 == "word \t\r\n")
    // true end-of-string trailing whitespace still stripped
    val (t3, _) = Postprocess.normalizePunctuation("word  ")
    assert(t3 == "word")
  }

  // Python's \s includes U+001C-U+001F (FS/GS/RS/US); (?U)\s alone does not.
  test("file-separator chars count as whitespace before punctuation") {
    val (t, c) = Postprocess.normalizePunctuation("word\u001c.")
    assert(t == "word.")
    assert(c("punctuation_fixes") >= 1)
  }

  // Python str.strip() removes NBSP; the heading-length check must too.
  test("NBSP-padded heading line still triggers a heading break") {
    val nbsp = "\u00a0" * 55
    val text = s"${nbsp}Title\nNext section starts here"
    val (t, _) = Postprocess.joinParagraphs(text)
    assert(t == s"${nbsp}Title\nNext section starts here", s"got: ${t.replace("\u00a0", "~")}")
  }

  // B3: the StepBudget ticks once per pass and cannot stop a running
  // Matcher, so a pattern that is quadratic in run length escapes it. The
  // unanchored reference patterns take minutes on each of these rows; the
  // 2,000-char copies pin the output to them.
  test("adversarial 200,000-char text-layer rows extract in linear time") {
    import graft.extract.Extractor
    import graft.model.RawPage
    val supplementary = new String(Character.toChars(0x1d400))
    val shapes: Seq[(String, Int => String)] = Seq(
      "a word before a line-break hyphen" -> (n => "w" * n + "-\n "),
      "a non-ASCII word before a line-break hyphen" -> (n => "\u00e9" * n + "-\n "),
      "a supplementary-letter word before a line-break hyphen" ->
        (n => supplementary * (n / 2) + "-\n "),
      "a space run before a word and a stop" -> (n => " " * n + "x ."),
      "a tab run before trailing spaces" -> (n => "\t" * n + "x  "))
    def extract(text: String) = Extractor.extractWithFallback(
      RawPage("https://adversarial.example/doc", null, null, text, "en"), Extractor.Config())
    shapes.foreach { case (name, shape) =>
      val t0 = System.nanoTime()
      val big = extract(shape(200000))
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(big.success, s"$name: ${big.error}")
      assert(seconds < 10, f"$name took $seconds%.1f s")
      val small = shape(2000)
      assert(extract(small).extracted_text == PostprocessReference(small)._1, name)
    }
  }
}
