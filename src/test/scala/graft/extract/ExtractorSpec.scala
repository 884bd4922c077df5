package graft.extract

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.model.{Engines, RawPage}

class HtmlExtractorSpec extends AnyFunSuite {

  private val article =
    """<html><head><title>A Title</title>
      |<style>p { color: red }</style><script>var x = "<p>not text</p>";</script>
      |</head><body>
      |<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>
      |<div class="main"><h1>The Question of Meaning</h1>
      |<p>The question of meaning in language and history has a long tradition
      |of careful reading and patient interpretation across many works.</p>
      |<p>Another substantial paragraph discussing the history of interpretation
      |and the structure of understanding in considerable detail here.</p>
      |</div>
      |<footer><p>Copyright 2026. <a href="/p">Privacy</a> <a href="/t">Terms</a></p></footer>
      |</body></html>""".stripMargin

  test("content paragraphs survive, nav/footer/script/style are stripped") {
    val ex = HtmlExtractor.extract(article)
    val text = ex.contentBlocks.map(_.text).mkString("\n\n")
    assert(text.contains("question of meaning"))
    assert(text.contains("Another substantial paragraph"))
    assert(!text.contains("Home"))
    assert(!text.contains("Copyright"))
    assert(!text.contains("color: red"))
    assert(!text.contains("not text"))
  }

  test("title is captured separately") {
    assert(HtmlExtractor.extract(article).title == "A Title")
  }

  test("heading adjacent to content is kept") {
    val ex = HtmlExtractor.extract(article)
    assert(ex.contentBlocks.exists(b => b.tag == "h1" && b.text.contains("Question")))
  }

  test("link-farm blocks are boilerplate by link density") {
    val farm = "<ul>" + (1 to 10)
      .map(i => s"""<li><a href="/$i">some linked related article number $i</a></li>""")
      .mkString + "</ul>"
    val html = s"<html><body>$farm<p>${"real content words here " * 8}</p></body></html>"
    val ex = HtmlExtractor.extract(html)
    val text = ex.contentBlocks.map(_.text).mkString(" ")
    assert(!text.contains("linked related"))
    assert(text.contains("real content words"))
  }

  test("entities decode, including numeric") {
    val html = "<html><body><p>" + ("pad word " * 15) +
      "A &amp; B &lt;tag&gt; caf&eacute; &#233; &#x2014; done</p></body></html>"
    val ex = HtmlExtractor.extract(html)
    val text = ex.contentBlocks.map(_.text).mkString
    assert(text.contains("A & B <tag> café é — done"))
  }

  test("truncated tag at EOF does not crash") {
    val ex = HtmlExtractor.extract("<html><body><p>words here</p><div class=")
    assert(ex.blocks.nonEmpty)
  }

  test("uppercase tags and CRLF line endings are handled") {
    val html = "<HTML><BODY>\r\n<P>" + ("content words here " * 8) +
      "</P>\r\n<NAV><A HREF='/'>Home</A></NAV>\r\n</BODY></HTML>"
    val ex = HtmlExtractor.extract(html)
    val text = ex.contentBlocks.map(_.text).mkString(" ")
    assert(text.contains("content words here"))
    assert(!text.contains("Home"))
  }

  test("self-closing and void tags do not corrupt anchor depth") {
    val html = "<html><body><p>" + ("words before " * 6) +
      "<img src='/x.png'/> <br/> <a href='/l'>link text</a> " +
      ("words after " * 6) + "</p></body></html>"
    val ex = HtmlExtractor.extract(html)
    val b = ex.blocks.find(_.text.contains("words before")).get
    assert(b.linkWords == 2, s"only the anchor's words count as link words: $b")
  }

  test("attribute values containing '>' do not terminate the tag") {
    val html = "<html><body><p>" + ("real words here " * 5) +
      """<a href="/x?q=a>b" title='1>2'>link</a> tail words</p></body></html>"""
    val ex = HtmlExtractor.extract(html)
    val text = ex.blocks.map(_.text).mkString(" ")
    assert(!text.contains("q=a"))
    assert(text.contains("link tail words"))
  }

  test("stray '<' in body text is literal, not a tag open (HTML5)") {
    val html = "<html><body><p>" + ("filler words here " * 6) +
      "value 5 < 6 and 7 > 8 ok, isn't that nice, more words follow here" +
      "</p><p>" + ("second paragraph content words " * 5) + "</p></body></html>"
    val text = HtmlExtractor.extract(html).contentBlocks.map(_.text).mkString(" ")
    assert(text.contains("5 < 6 and 7 > 8 ok"), s"got: $text")
    assert(text.contains("isn't that nice"))
    assert(text.contains("second paragraph content"), "document tail must survive a stray '<'")
  }

  test("self-closing <title/> does not swallow the document") {
    val html = "<html><head><title/></head><body><p>" +
      ("twelve words of real article content here for the block " * 3) +
      "</p></body></html>"
    val ex = HtmlExtractor.extract(html)
    assert(ex.contentBlocks.nonEmpty, "body must not be routed into the title buffer")
    assert(ex.contentBlocks.head.text.contains("real article content"))
  }

  test("'</' followed by a non-letter is a bogus comment, consumed to '>'") {
    val html = "<html><body><p>" + ("content words here " * 8) +
      "</ 3>tail words survive</p></body></html>"
    val text = HtmlExtractor.extract(html).contentBlocks.map(_.text).mkString(" ")
    assert(text.contains("tail words survive"), s"got: $text")
    assert(!text.contains("3>"))
  }

  test("heavy segmentation recovers content the fast rules missed") {
    // content split into many small paragraphs (each below MinContentWords)
    val paras = (1 to 8).map(i => s"<p>short real sentence number $i of text</p>").mkString
    val farm = (1 to 12).map(i => s"""<a href="/$i">link $i</a>""").mkString(" ")
    val html = s"<html><body><div>$farm</div>$paras<div>$farm</div></body></html>"
    val fast = HtmlExtractor.extract(html)
    val heavy = HtmlExtractor.heavySegment(html)
    assert(heavy.contentBlocks.map(_.words).sum >= fast.contentBlocks.map(_.words).sum)
    assert(heavy.contentBlocks.exists(_.text.contains("short real sentence")))
  }
}

class PdfExtractorSpec extends AnyFunSuite {

  private def payload(lines: String): Array[Byte] =
    s"%PDF-GRAFT 1.0\n$lines".getBytes(StandardCharsets.UTF_8)

  test("magic detection") {
    assert(PdfExtractor.isPdf("%PDF-GRAFT 1.0\n".getBytes))
    assert(!PdfExtractor.isPdf("<html>".getBytes))
    assert(!PdfExtractor.isPdf(null))
  }

  test("single column reading order sorts by y") {
    val p = payload("P 612 792\nT 50 62 second line\nT 50 50 first line\n")
    val Right(ex) = PdfExtractor.extract(p): @unchecked
    assert(ex.text == "first line\nsecond line")
  }

  test("two columns segment at the x gap and read left then right") {
    val p = payload(
      "P 612 792\n" +
        "T 50 50 left one\nT 50 62 left two\n" +
        "T 330 50 right one\nT 330 62 right two\n")
    val Right(ex) = PdfExtractor.extract(p): @unchecked
    assert(ex.columns.map(_._1) == Vector("pdf-p0-col0", "pdf-p0-col1"))
    assert(ex.text == "left one\nleft two\n\nright one\nright two")
  }

  test("paragraph breaks on large y jumps") {
    val p = payload("P 612 792\nT 50 50 a b c\nT 50 62 d e f\nT 50 110 new para\n")
    val Right(ex) = PdfExtractor.extract(p): @unchecked
    assert(ex.text == "a b c\nd e f\n\nnew para")
  }

  test("same-line runs join with spaces in x order") {
    val p = payload("P 612 792\nT 200 50 world\nT 50 50 hello\n")
    val Right(ex) = PdfExtractor.extract(p): @unchecked
    assert(ex.text == "hello world")
  }

  test("malformed records are contained errors") {
    assert(PdfExtractor.extract(payload("P 612")).isLeft)
    assert(PdfExtractor.extract(payload("P 612 792\nT 50 notanint x\n")).isLeft)
    assert(PdfExtractor.extract("%PDF-1.7 realpdf".getBytes).isLeft)
  }
}

class ExtractorKernelSpec extends AnyFunSuite {

  private val cfg = Extractor.Config()
  private def ts = new java.sql.Timestamp(CorpusGen.Epoch)

  test("passthrough: clean existing text skips extraction") {
    val row = CorpusGen.genRow(42L, 3) // class 3: good text layer
    val doc = Extractor.fastExtract(row, cfg)
    assert(doc.success && doc.engine == Engines.Passthrough)
    assert(!doc.quality.flagged)
    assert(doc.extracted_text.nonEmpty)
  }

  test("garbled text layer is flagged and routed to re-extraction") {
    val row = CorpusGen.genRow(42L, 5) // class 5: garbled text + clean html
    val doc = Extractor.fastExtract(row, cfg)
    // flagged passthrough never happens: html re-extraction kicks in
    assert(doc.engine == Engines.Html)
    assert(doc.success)
  }

  test("html row extracts content") {
    val row = CorpusGen.genRow(42L, 0)
    val doc = Extractor.fastExtract(row, cfg)
    assert(doc.success && doc.engine == Engines.Html)
    assert(doc.extracted_text.length > 100)
    assert(doc.spans.nonEmpty)
    assert(doc.spans.forall(s => s.end <= doc.extracted_text.length && s.start < s.end))
  }

  test("pdf row takes the layout path") {
    val row = CorpusGen.genRow(42L, 12)
    val doc = Extractor.fastExtract(row, cfg)
    assert(doc.success && doc.engine == Engines.Pdf)
    assert(doc.spans.exists(_.kind.startsWith("pdf-")))
  }

  test("multi-page pdf emits spans for every page in order") {
    val row = CorpusGen.genRow(42L, 13) // class 13: 2 jittered pages
    val doc = Extractor.fastExtract(row, cfg)
    assert(doc.success && doc.engine == Engines.Pdf)
    val pages = doc.spans.map(_.kind.split("-")(1)).distinct
    assert(pages == Seq("p0", "p1"))
  }

  test("failure rows are contained, never thrown") {
    val noPayload = Extractor.fastExtract(CorpusGen.genRow(42L, 15), cfg)
    assert(!noPayload.success && noPayload.error == "no_payload")
    val truncated = Extractor.fastExtract(CorpusGen.genRow(42L, 16), cfg)
    assert(!truncated.success && truncated.error.startsWith("pdf_parse:"))
    val oversized = Extractor.fastExtract(CorpusGen.genRow(42L, 17), cfg)
    assert(!oversized.success && oversized.error.startsWith("oversized_payload:"))
    val badLang = Extractor.fastExtract(CorpusGen.genRow(42L, 18), cfg)
    assert(!badLang.success && badLang.error == "unknown_lang:xx")
  }

  test("maxBytes caps html payloads only: a long text layer is bounded by the step budget") {
    val small = Extractor.Config(maxBytes = 1024)
    val layer = CorpusGen.genRow(42L, 3).text // class 3: good text layer
    val prose = Iterator.continually(layer).take(2 + 1024 / layer.length).mkString("\n\n")
    assert(prose.length > 1024)
    val text = Extractor.fastExtract(RawPage("https://long.example/text", ts, null, prose, "en"), small)
    assert(text.success && text.engine == Engines.Passthrough, text)
    assert(text.error == null)
    val html = Extractor.fastExtract(
      RawPage("https://long.example/html", ts, s"<p>$prose</p>".getBytes(StandardCharsets.UTF_8), null, "en"), small)
    assert(!html.success && html.error.startsWith("oversized_payload:"), html.error)
  }

  test("short-text edge rows are neutral, not flagged") {
    val doc = Extractor.fastExtract(CorpusGen.genRow(42L, 19), cfg)
    assert(doc.success && !doc.quality.flagged)
  }

  test("spans partition the extracted text with double-newline separators") {
    val doc = Extractor.fastExtract(CorpusGen.genRow(42L, 1), cfg)
    val rebuilt = doc.spans
      .map(s => doc.extracted_text.substring(s.start, s.end))
      .mkString("\n\n")
    assert(rebuilt == doc.extracted_text)
  }

  test("B3: a row exceeding the kernel step budget becomes a timeout failure row") {
    val row = CorpusGen.genRow(42L, 0) // normal html article, well over 500 work units
    val tiny = Extractor.Config(maxKernelSteps = 500)
    val doc = Extractor.fastExtract(row, tiny)
    assert(!doc.success, "budget-exceeded row must be a failure row")
    assert(doc.error.startsWith("timeout:step_budget:"), doc.error)
    assert(doc.engine == Engines.None_)
    // heavy stage: budget exhaustion keeps the fast output (containment)
    val ok = Extractor.fastExtract(row, Extractor.Config())
    assert(ok.success)
    val heavyBudget = Extractor.heavyExtract(row, ok, tiny.copy(forceHeavy = true))
    assert(heavyBudget eq ok)
    // the default budget never binds on corpus rows
    (0L until 20L).foreach { i =>
      val d = Extractor.fastExtract(CorpusGen.genRow(42L, i), Extractor.Config())
      assert(d.error == null || !d.error.startsWith("timeout:"), s"idx $i: ${d.error}")
    }
  }

  test("heavy path keeps fast output when it cannot do better") {
    // text-only row: no payload to re-extract from
    val row = CorpusGen.genRow(42L, 6)
    val fast = Extractor.fastExtract(row, cfg)
    val heavy = Extractor.heavyExtract(row, fast, cfg)
    assert(heavy eq fast)
    // truncated PDF container: heavy parse fails, fast output kept
    val bad = CorpusGen.genRow(42L, 16)
    val fastBad = Extractor.fastExtract(bad, cfg)
    assert(Extractor.heavyExtract(bad, fastBad, cfg) eq fastBad)
  }

  test("coverage signal flags near-empty extraction of fragmented pages") {
    val row = CorpusGen.genRow(42L, 11) // fragmented content + link farms
    val doc = Extractor.fastExtract(row, cfg)
    assert(doc.success && doc.engine == Engines.Html)
    assert(doc.quality.signalScores.get("coverage").exists(_ < Extractor.CoverageFloor))
    assert(doc.quality.flagged)
  }

  test("mixed engine: clean pages are spliced, only flagged pages re-segmented") {
    // splice a clean one-page PDF (class 12) with a 2-page jittered one
    // (class 13) into a single 3-page document: page 0 passes the per-page
    // quality gate, pages 1-2 fail it — the heavy stage must keep page 0's
    // FAST columns and re-segment only the flagged pages (the reference's
    // selective reprocessing), reporting the multi-engine doc as `mixed`
    val clean = CorpusGen.genRow(42L, 12).html
    val jit = CorpusGen.genRow(42L, 13).html
    val header = "%PDF-GRAFT 1.0\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val spliced = clean ++ jit.drop(header.length)
    val row = graft.model.RawPage("https://h/mixed", CorpusGen.genRow(42L, 12).warc_ts,
      spliced, "", "en")
    // the clean page dilutes the doc-level score to ~0.89: gate at 0.9 so
    // the doc flags while the clean page (score 1.0) still passes per-page
    val mcfg = Extractor.Config(threshold = 0.9)
    val fast = Extractor.fastExtract(row, mcfg)
    assert(fast.success && Extractor.needsHeavy(fast, mcfg),
      s"jittered pages must flag the doc (score ${fast.quality.score})")
    val heavy = Extractor.heavyExtract(row, fast, mcfg)
    assert(heavy.engine == Engines.Mixed, s"engine ${heavy.engine}")
    val kinds = heavy.spans.map(_.kind)
    assert(kinds.exists(_.startsWith("pdf-p0-")), s"page 0 fast columns kept: $kinds")
    assert(kinds.exists(_.startsWith("heavy-pdf-p1-")), s"flagged pages re-segmented: $kinds")
    assert(kinds.exists(_.startsWith("heavy-pdf-p2-")))
    // the kept page's text is the fast extraction, byte-for-byte: the fast
    // doc's page-0 span slice must appear at the head of the heavy text
    val fastP0 = fast.spans.filter(_.kind.startsWith("pdf-p0-"))
      .map(s => fast.extracted_text.substring(s.start, s.end)).mkString("\n\n")
    assert(heavy.extracted_text.startsWith(fastP0))
    // all-flagged docs still report the plain heavy engine
    val allJit = Extractor.heavyExtract(CorpusGen.genRow(42L, 13),
      Extractor.fastExtract(CorpusGen.genRow(42L, 13), mcfg), mcfg)
    assert(allJit.engine == Engines.Heavy)
  }

  test("heavy path recovers fragmented content and re-postprocesses (stable)") {
    val row = CorpusGen.genRow(42L, 11)
    val fast = Extractor.fastExtract(row, cfg)
    val heavy = Extractor.heavyExtract(row, fast, Extractor.Config(diagnostics = true))
    assert(heavy.success && heavy.engine == Engines.Heavy)
    assert(heavy.extracted_text.length > fast.extracted_text.length)
    assert(heavy.diagnostics.exists(_.fastText == fast.extracted_text))
    val (again, _) = graft.text.Postprocess(heavy.extracted_text)
    assert(again == heavy.extracted_text, "postprocess must be idempotent on heavy output")
  }

  test("diagnostics are gated by config") {
    val row = CorpusGen.genRow(42L, 0)
    assert(Extractor.fastExtract(row, cfg).diagnostics.isEmpty)
    val withDiag = Extractor.fastExtract(row, Extractor.Config(diagnostics = true))
    assert(withDiag.diagnostics.nonEmpty)
    assert(withDiag.diagnostics.get.signalScores.nonEmpty)
  }
}

class PdfHeavySpec extends AnyFunSuite {

  private def payload(lines: String*): Array[Byte] =
    ("%PDF-GRAFT 1.0\n" + lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8)

  test("y-tolerance clustering + advance join restore word-split runs") {
    // "Frequency analysis shows patterns" split mid-word across jittered
    // baselines on the CharWidth=6 grid
    val p = payload(
      "P 612 792",
      "T 50 100 Freque",
      s"T ${50 + 6 * 6} 101 ncy analysis",
      s"T ${50 + 6 * 19} 101 shows patterns",
      "T 50 112 The reading of history continues here")
    val fast = PdfExtractor.extract(p).toOption.get.text
    val heavy = PdfExtractor.heavyExtract(p).toOption.get.text
    assert(heavy == "Frequency analysis shows patterns\nThe reading of history continues here")
    assert(fast != heavy, "fast output must differ (it fragments the jittered line)")
    assert(fast.contains("Freque"), s"fast should contain the fragment, got: $fast")
  }

  test("a one-char-width gap between runs is a space, not a join") {
    val p = payload(
      "P 612 792",
      "T 50 100 hello",
      s"T ${50 + 6 * 6} 100 world") // starts one space-advance after "hello"
    assert(PdfExtractor.heavyExtract(p).toOption.get.text == "hello world")
  }

  test("gutter projection splits multiple columns in reading order") {
    // three columns with >=24px empty bands between occupied extents
    val p = payload(
      "P 612 792",
      "T 50 100 left column text here",   // extent 50..182
      "T 220 100 middle column words",    // extent 220..334
      "T 400 100 right column tail",      // extent 400..502
      "T 50 112 more left content lines",
      "T 220 112 more middle content",
      "T 400 112 more right content")
    val ex = PdfExtractor.heavyExtract(p).toOption.get
    assert(ex.columns.map(_._1) == Vector("pdf-p0-col0", "pdf-p0-col1", "pdf-p0-col2"))
    assert(ex.columns(0)._2 == "left column text here\nmore left content lines")
    assert(ex.columns(1)._2 == "middle column words\nmore middle content")
    assert(ex.columns(2)._2 == "right column tail\nmore right content")
  }

  test("word-split runs inside a column do not create false column splits") {
    val p = payload(
      "P 612 792",
      "T 50 100 Freque",
      s"T ${50 + 6 * 6} 101 ncy analysis shows patterns here",
      "T 50 112 second line of the same single column")
    val ex = PdfExtractor.heavyExtract(p).toOption.get
    assert(ex.columns.size == 1, s"expected one column, got ${ex.columns.map(_._1)}")
  }

  test("heavy engine recovers the flagged jittered corpus class byte-exactly") {
    val cfg = Extractor.Config()
    // idx 13, 33, 53: corpus class 13 (jittered word-split PDFs)
    Seq(13L, 33L, 53L).foreach { idx =>
      val row = CorpusGen.genRow(CorpusGen.DefaultSeed, idx)
      assert(PdfExtractor.isPdf(row.html), s"idx $idx must be a PDF row")
      val fast = Extractor.fastExtract(row, cfg)
      assert(fast.success, s"idx $idx fast must succeed: ${fast.error}")
      assert(fast.quality.flagged, s"idx $idx fast output must be flagged")
      assert(fast.engine == Engines.Pdf)
      val heavy = Extractor.heavyExtract(row, fast, cfg)
      assert(heavy.engine == Engines.Heavy, s"idx $idx must get the heavy engine")
      assert(!heavy.quality.flagged,
        s"idx $idx heavy output must pass quality, score=${heavy.quality.score}")
      assert(heavy.extracted_text != fast.extracted_text)
      // byte-exact contract: heavy text == postprocess(postprocess(unsplit text))
      val unsplit = PdfExtractor.heavyExtract(row.html).toOption.get
      val (once, _) = Extractor.assemble(unsplit.columns) match {
        case (t, _, c) => (t, c)
      }
      val (expected, _) = graft.text.Postprocess(once)
      assert(heavy.extracted_text == expected)
    }
  }

  test("adversarial run coordinates cannot blow up the occupancy projection") {
    // a single run at x=2e9 would, unclamped, allocate a ~2 GB projection
    // array (OOM escapes Exception containment) — must complete promptly
    val evil = ("%PDF-GRAFT 1.0\nP 612 792\n" +
      "T 2000000000 50 attacker controlled coordinates here\n" +
      "T 50 62 normal text line for the page\n" +
      "T -500 74 negative coordinates too\n").getBytes(StandardCharsets.UTF_8)
    val t0 = System.nanoTime()
    val ex = PdfExtractor.heavyExtract(evil)
    assert((System.nanoTime() - t0) < 5e9, "must not scan a 2e9-wide projection")
    assert(ex.isRight)
    val text = ex.toOption.get.text
    assert(text.contains("normal text line"))
    assert(text.contains("attacker controlled"))
    // and the full kernel path stays contained under a budget
    val row = RawPage("https://x.example/evil", new java.sql.Timestamp(0), evil, "", "en")
    val doc = Extractor.heavyExtract(row, Extractor.fastExtract(row, Extractor.Config()),
      Extractor.Config(forceHeavy = true))
    assert(doc != null)
  }

  test("heavy and fast sweeps agree on clean (unjittered) PDF payloads") {
    // The heavy engine is an upgrade for pathological layouts; on clean
    // single- and two-column payloads (corpus classes 12/14) it must produce
    // the SAME text the fast sweep does — gutter projection finds the same
    // columns and exact-advance runs never trigger joins.
    (0L until 200L).foreach { idx =>
      val cls = CorpusGen.rowClass(idx)
      if (cls == 12 || cls == 14) {
        val row = CorpusGen.genRow(CorpusGen.DefaultSeed, idx)
        val fast = PdfExtractor.extract(row.html).toOption.get
        val heavy = PdfExtractor.heavyExtract(row.html).toOption.get
        assert(heavy.text == fast.text, s"idx $idx (class $cls) diverged")
        assert(heavy.columns.map(_._1) == fast.columns.map(_._1))
      }
    }
  }

  test("forceHeavy engages the heavy engine for unflagged PDF rows too") {
    val cfg = Extractor.Config(forceHeavy = true)
    val row = CorpusGen.genRow(CorpusGen.DefaultSeed, 12L) // clean two-column PDF
    val fast = Extractor.fastExtract(row, cfg)
    assert(fast.success)
    val heavy = Extractor.heavyExtract(row, fast, cfg)
    assert(heavy.engine == Engines.Heavy)
    assert(heavy.success)
  }
}
