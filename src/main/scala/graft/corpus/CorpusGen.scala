package graft.corpus

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.RawPage

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1-2).
  *
  * Every field is a pure function of (seed, rowIndex) via a splitmix64-style
  * counter RNG, so any tier regenerates byte-identically regardless of
  * partitioning or parallelism (the fixture discipline of the reference's
  * seeded synthetic PDFs, tests/conftest.py:8-34, scaled to a table).
  *
  * Row taxonomy (idx % 20) follows FIXTURES.md §2: clean-HTML regression
  * rows, passthrough rows, garbled/vocabulary/german/hyphenation/layout
  * difficult rows, boilerplate-heavy rows, two-column PDF rows, failure rows
  * (null/truncated/oversized/unknown-lang), and short-text edge rows.
  */
object CorpusGen {

  val DefaultSeed = 42L
  val Epoch = 1767225600000L // 2026-01-01T00:00:00Z, fixed (no wall clock)

  // -- counter-based RNG -----------------------------------------------------
  private def mix64(z0: Long): Long = graft.util.Hashing.mix64(z0)

  /** Deterministic stream value for (seed, idx, stream). */
  def rng(seed: Long, idx: Long, stream: Long): Long =
    mix64(seed ^ mix64(idx * 0x9e3779b97f4a7c15L + stream * 0xbf58476d1ce4e5b9L))

  private def pick[A](seed: Long, idx: Long, stream: Long, xs: IndexedSeq[A]): A =
    xs(((rng(seed, idx, stream) >>> 1) % xs.length).toInt)

  private def int(seed: Long, idx: Long, stream: Long, lo: Int, hi: Int): Int =
    lo + ((rng(seed, idx, stream) >>> 1) % (hi - lo + 1)).toInt

  // -- vocabulary ------------------------------------------------------------
  private val Vocab: IndexedSeq[String] = Vector(
    "the", "reading", "question", "history", "language", "meaning", "truth",
    "reason", "world", "nature", "culture", "science", "method", "theory",
    "practice", "concept", "form", "matter", "subject", "object", "spirit",
    "freedom", "experience", "knowledge", "structure", "system", "order",
    "relation", "difference", "identity", "value", "quality", "measure",
    "cause", "effect", "ground", "origin", "purpose", "work", "human",
    "presence", "absence", "writing", "voice", "sign", "trace", "margin")

  private val GarbledTokens: IndexedSeq[String] = Vector(
    "xkqzwvbn", "tzvwxkqp", "@#$%^&", "=+=+=+", "GarBleD", "WoRdCase",
    "a1@b2#c3$", "zzzzzqk", "ctrl", "mnbvcxzl")

  private val VocabularyMissTokens: IndexedSeq[String] = Vector(
    // structurally valid but not in the word list (foreign/jargon)
    "quodlibet", "peras", "apeiron", "hyle", "morphe", "physis",
    "techtonic", "semiosis", "katabasis", "anagoge", "parousia", "kenosis")

  private val GermanTokens: IndexedSeq[String] = Vector(
    "dasein", "zuhandenheit", "vorhandenheit", "befindlichkeit",
    "geworfenheit", "erschlossenheit", "zeitlichkeit", "möglichkeit",
    "notwendigkeit", "wissenschaft", "weltanschauung", "bewusstsein")

  private val NavWords = Vector("Home", "About", "Contact", "Archive", "Search",
    "Login", "Register", "Subscribe", "Privacy", "Terms", "Sitemap", "Help")

  // -- text builders ----------------------------------------------------------
  private def sentence(seed: Long, idx: Long, s: Long, words: Int): String = {
    val sb = new StringBuilder
    var k = 0
    while (k < words) {
      val w = pick(seed, idx, s * 131 + k, Vocab)
      if (k == 0) sb.append(w.capitalize) else sb.append(' ').append(w)
      k += 1
    }
    sb.append('.').toString
  }

  def paragraph(seed: Long, idx: Long, s: Long, sentences: Int): String =
    (0 until sentences)
      .map(k => sentence(seed, idx, s * 977 + k, int(seed, idx, s * 977 + k + 7000, 8, 14)))
      .mkString(" ")

  private def cleanParagraphs(seed: Long, idx: Long, nParas: Int): Seq[String] =
    (0 until nParas).map(p => paragraph(seed, idx, 100 + p, int(seed, idx, 200 + p, 3, 5)))

  private def withInjected(base: String, tokens: IndexedSeq[String], seed: Long, idx: Long, every: Int): String = {
    val words = base.split(" ")
    words.zipWithIndex.map { case (w, i) =>
      if (i % every == every - 1) pick(seed, idx, 300 + i, tokens) else w
    }.mkString(" ")
  }

  // -- html builders ----------------------------------------------------------
  private def navBlock(seed: Long, idx: Long): String =
    "<nav>" + (0 until 8).map { k =>
      s"""<a href="/${k}">${pick(seed, idx, 400 + k, NavWords)}</a>"""
    }.mkString(" | ") + "</nav>"

  private def footerBlock: String =
    "<footer><p>Copyright 2026 Example Press. All rights reserved. " +
      """<a href="/privacy">Privacy</a> <a href="/terms">Terms</a></p></footer>"""

  private def linkFarm(seed: Long, idx: Long, n: Int): String =
    "<div class=\"related\"><ul>" + (0 until n).map { k =>
      s"""<li><a href="/rel/$k">${sentence(seed, idx, 500 + k, 4).dropRight(1)}</a></li>"""
    }.mkString("") + "</ul></div>"

  def articleHtml(seed: Long, idx: Long, paras: Seq[String], title: String): String = {
    val body = paras.map(p => s"<p>$p</p>").mkString("\n")
    s"""<html><head><title>$title</title>
<style>body { font: 14px serif; }</style>
<script>var tracker = "ignored";</script>
</head><body>
${navBlock(seed, idx)}
<div class="main"><h1>$title</h1>
$body
${linkFarm(seed, idx, 6)}
</div>
$footerBlock
</body></html>"""
  }

  private def pdfPayload(seed: Long, idx: Long, twoColumn: Boolean, pages: Int = 1): Array[Byte] = {
    val sb = new StringBuilder("%PDF-GRAFT 1.0\n")
    // Two-column geometry is consistent with the fixed-pitch advance model:
    // the longest possible line (7 words x 10 chars + separators = 77 chars
    // = 462 px from x=50) ends before column 2's x=550 with a >24 px gutter,
    // so both the fast start-gap split and the heavy occupancy projection
    // find the same two columns.
    val (width, col2x) = if (twoColumn) (1100, 550) else (612, 0)
    var page = 0
    while (page < pages) {
      sb.append(s"P $width 792\n")
      val nLines = int(seed, idx, 600 + page, 10, 18)
      def emitCol(x: Int, s: Long): Unit = {
        var y = 50
        var k = 0
        while (k < nLines) {
          sb.append(s"T $x $y ${sentence(seed, idx, s + k, int(seed, idx, s + k + 50, 4, 7))}\n")
          // paragraph gap every ~5 lines
          y += (if (k % 5 == 4) 30 else 12)
          k += 1
        }
      }
      emitCol(50, 700 + page * 5000)
      if (twoColumn) emitCol(col2x, 800 + page * 5000)
      page += 1
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Jittered word-split PDF payload (the flagged-PDF corpus class): every
    * line is emitted as two runs, split strictly INSIDE a word, with the
    * continuation run offset +1 px in y and placed at the exact x-advance of
    * its prefix (PdfExtractor.CharWidth grid). The fast sweep's exact-y line
    * grouping fragments the words across lines, so the garbled/dictionary
    * signals flag the row; the heavy sweep's y-tolerance clustering and
    * advance-aware joining restore the original sentences byte-exactly.
    */
  def jitteredPdfPayload(seed: Long, idx: Long, pages: Int = 2): Array[Byte] = {
    val sb = new StringBuilder("%PDF-GRAFT 1.0\n")
    var page = 0
    while (page < pages) {
      sb.append("P 612 792\n")
      val nLines = int(seed, idx, 600 + page, 10, 16)
      var y = 50
      var k = 0
      while (k < nLines) {
        val s0 = 700 + page * 5000 + k
        val s = sentence(seed, idx, s0, int(seed, idx, s0 + 50, 4, 7))
        // five mid-word splits (at ~k/6), each advanced to land strictly
        // inside a word — fragments most tokens, so the dictionary signal
        // drops well below the flag threshold
        val cuts = (1 to 5).map(k => k * s.length / 6)
          .map { p0 =>
            var p = math.max(1, p0)
            while (p < s.length &&
              !(Character.isLetter(s.charAt(p)) && Character.isLetter(s.charAt(p - 1)))) p += 1
            p
          }
          .filter(p => p > 0 && p < s.length)
          .distinct
          .sorted
        val pieces = (0 +: cuts :+ s.length).sliding(2).collect {
          case Seq(a, b) if b > a => (a, s.substring(a, b))
        }.toVector
        pieces.zipWithIndex.foreach { case ((off, frag), pi) =>
          val yy = if (pi == 0) y else y + 1 // continuation runs jittered +1
          sb.append(s"T ${50 + CharWidthPx * off} $yy $frag\n")
        }
        y += (if (k % 5 == 4) 30 else 12)
        k += 1
      }
      page += 1
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Mirror of PdfExtractor.CharWidth (kept literal here so the corpus
    * module has no dependency on the extractor).
    */
  private val CharWidthPx = 6

  // -- row assembly ------------------------------------------------------------
  private val Langs = Vector("en", "fr", "de", "el", "la")

  /** Skewed host distribution: host0 owns ~40% of urls (a host-keyed
    * shuffle would pin a task with it; the input shuffle keys on
    * (url, warc_ts)).
    */
  def host(seed: Long, idx: Long): String = {
    val r = (rng(seed, idx, 1) >>> 1) % 10
    if (r < 4) "host0" else s"host${1 + ((rng(seed, idx, 2) >>> 1) % 97)}"
  }

  def url(seed: Long, idx: Long): String =
    s"https://${host(seed, idx)}.example/doc/$idx"

  def rowClass(idx: Long): Int = (idx % 20).toInt

  def genRow(seed: Long, idx: Long): RawPage = {
    val u = url(seed, idx)
    val ts = new Timestamp(Epoch + idx * 1000L)
    val lang = pick(seed, idx, 3, Langs)
    val title = sentence(seed, idx, 4, 5).dropRight(1)
    val cls = rowClass(idx)

    def clean(n: Int) = cleanParagraphs(seed, idx, n)

    cls match {
      // clean HTML article, no existing text layer -> HTML extraction path
      case 0 | 1 | 2 =>
        RawPage(u, ts, articleHtml(seed, idx, clean(int(seed, idx, 5, 4, 7)), title)
          .getBytes(StandardCharsets.UTF_8), "", lang)
      // good existing text layer -> passthrough (work-pruning branch)
      case 3 | 4 =>
        val paras = clean(4)
        RawPage(u, ts, articleHtml(seed, idx, paras, title).getBytes(StandardCharsets.UTF_8),
          paras.mkString("\n\n"), lang)
      // garbled text layer + clean html -> flagged passthrough, re-extract
      case 5 =>
        val paras = clean(4)
        val garbled = withInjected(paras.mkString("\n\n"), GarbledTokens, seed, idx, 4)
        RawPage(u, ts, articleHtml(seed, idx, paras, title).getBytes(StandardCharsets.UTF_8),
          garbled, lang)
      // vocabulary-miss text: structurally valid unknown words
      case 6 =>
        val base = clean(3).mkString("\n\n")
        RawPage(u, ts, null, withInjected(base, VocabularyMissTokens, seed, idx, 3), lang)
      // german philosophy terms: must NOT be flagged
      case 7 =>
        val base = clean(3).mkString("\n\n")
        RawPage(u, ts, null, withInjected(base, GermanTokens, seed, idx, 5), "de")
      // hyphenation/ligature/soft-hyphen postprocess exercises
      case 8 =>
        val p1 = paragraph(seed, idx, 900, 3)
        val text = s"The ﬁrst diﬀerence con-\ntinues here with Merleau-\nPonty and soft­hyphens.\n\n$p1"
        RawPage(u, ts, null, text, lang)
      // layout: headings + indented paragraphs (join_paragraphs rules)
      case 9 =>
        val text = s"$title\n${paragraph(seed, idx, 1000, 2)}\n  ${paragraph(seed, idx, 1001, 2)}\nNext Section Heading\n${paragraph(seed, idx, 1002, 2)}"
        RawPage(u, ts, null, text, lang)
      // boilerplate-heavy html: link farms around a small content core
      case 10 =>
        val core = clean(2)
        val html = s"""<html><head><title>$title</title></head><body>
${navBlock(seed, idx)}
${linkFarm(seed, idx, 20)}
<div><p>${core.mkString("</p><p>")}</p></div>
${linkFarm(seed, idx, 20)}
$footerBlock
</body></html>"""
        RawPage(u, ts, html.getBytes(StandardCharsets.UTF_8), "", lang)
      // fragmented content: every paragraph is below the fast classifier's
      // word threshold, surrounded by link farms -> fast extraction comes up
      // (nearly) empty, the coverage signal flags it, the heavy stage's
      // windowed re-segmentation recovers it
      case 11 =>
        val frags = (0 until 14)
          .map(k => s"<p>${sentence(seed, idx, 1200 + k, int(seed, idx, 1300 + k, 5, 8))}</p>")
          .mkString("\n")
        val html = s"""<html><head><title>$title</title></head><body>
${navBlock(seed, idx)}
${linkFarm(seed, idx, 15)}
$frags
${linkFarm(seed, idx, 15)}
$footerBlock
</body></html>"""
        RawPage(u, ts, html.getBytes(StandardCharsets.UTF_8), "", lang)
      // two-column PDF payload
      case 12 =>
        RawPage(u, ts, pdfPayload(seed, idx, twoColumn = true), "", lang)
      // flagged PDF: jittered word-split runs (multi-page) — the fast sweep
      // garbles it, the quality gate flags it, the heavy engine recovers it
      case 13 =>
        RawPage(u, ts, jitteredPdfPayload(seed, idx, pages = 2), "", lang)
      // single-column PDF payload
      case 14 =>
        RawPage(u, ts, pdfPayload(seed, idx, twoColumn = false), "", lang)
      // failure: no payload at all
      case 15 =>
        RawPage(u, ts, null, "", lang)
      // failure: truncated PDF container
      case 16 =>
        RawPage(u, ts, "%PDF-GRAFT 1.0\nP 612".getBytes(StandardCharsets.UTF_8), "", lang)
      // failure: oversized payload (skip-big guard) — only in the tiny tier
      case 17 =>
        if (idx < 1000) {
          val big = ("<p>" + ("x " * 300_000) + "</p>").getBytes(StandardCharsets.UTF_8)
          RawPage(u, ts, big, "", lang)
        } else
          RawPage(u, ts, articleHtml(seed, idx, clean(4), title)
            .getBytes(StandardCharsets.UTF_8), "", lang)
      // failure: unknown language code
      case 18 =>
        RawPage(u, ts, articleHtml(seed, idx, clean(3), title)
          .getBytes(StandardCharsets.UTF_8), "", "xx")
      // edge: short text (<100 chars, neutral quality rule)
      case _ =>
        RawPage(u, ts, null, sentence(seed, idx, 1100, 6), lang)
    }
  }

  /** The pages table as a typed Dataset — generated in-executor, partition
    * parallel, never materialized on the driver.
    */
  def pages(spark: SparkSession, n: Long, seed: Long = DefaultSeed, partitions: Int = 0): Dataset[RawPage] = {
    import spark.implicits._
    val numPart = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, numPart).map(i => genRow(seed, i))
  }

  /** Spliced mixed-engine PDF row: one clean single-column page followed by
    * `jitterPages` jittered pages in a single payload. The doc-level gate
    * flags the doc (the jittered pages dominate), the per-page gate passes
    * page 0, and the heavy stage splices fast + re-segmented pages ->
    * engine `mixed`. Deterministic from (seed, idx); urls carry the raw idx
    * so fixture ids beyond the standard corpus never collide.
    */
  def splicedRow(seed: Long, idx: Long, jitterPages: Int = 8): RawPage = {
    // class-14 source index -> clean single-column pdf; class-13 source ->
    // jittered payload (distinct derived indices keep contents independent)
    val clean = genRow(seed, idx * 20 + 14)
    val jit = jitteredPdfPayload(seed, idx * 20 + 13, pages = jitterPages)
    val header = "%PDF-GRAFT 1.0\n".getBytes(StandardCharsets.UTF_8)
    RawPage(
      url(seed, idx),
      new Timestamp(Epoch + idx * 1000L),
      clean.html ++ jit.drop(header.length),
      "",
      "en")
  }

  def splicedPages(spark: SparkSession, from: Long, n: Long, seed: Long = DefaultSeed): Dataset[RawPage] = {
    import spark.implicits._
    spark.range(from, from + n, 1, 2).map(i => splicedRow(seed, i))
  }

  /** Row carrying a REAL ISO 32000 container ([[RealPdf]] writer): the
    * deterministic paragraphs are laid out as 10pt fixed-pitch lines
    * (12-unit leading, double-leading paragraph gaps, ~60-char wrap; page
    * idx%3==1 is two-column, idx%3==2 is Flate-compressed with hex strings
    * and split /Contents) — so the PdfContainer front-end, not the
    * synthetic layout stream, feeds the extraction pipeline end to end.
    */
  def realPdfRow(seed: Long, idx: Long): RawPage =
    RawPage(
      url(seed, idx),
      new Timestamp(Epoch + idx * 1000L),
      RealPdf.document(realPdfSpecs(seed, idx), nestedKids = idx % 3 == 2),
      "",
      "en")

  /** Same deterministic layouts serialized as a MODERN container: PDF 1.5
    * cross-reference stream + packed object stream + PNG Up predictor —
    * the form most real-world writers emit today.
    */
  def modernPdfRow(seed: Long, idx: Long): RawPage =
    RawPage(
      url(seed, idx),
      new Timestamp(Epoch + idx * 1000L),
      RealPdf.document(
        realPdfSpecs(seed, idx),
        xrefStream = true,
        objStmPack = true,
        xrefPredictor = true),
      "",
      "en")

  /** Same deterministic layouts shown through a /Type0 composite font
    * (/Encoding /Identity-H + /ToUnicode CMap) in a modern container —
    * the dominant shape LaTeX-fontspec/Word-era generators emit. Text
    * includes non-Latin-1 chars so the CMap path is load-bearing.
    */
  def cidPdfRow(seed: Long, idx: Long): RawPage = {
    val specs = realPdfSpecs(seed, idx).map { s =>
      s.copy(
        cidFont = true,
        compress = false,
        hexStrings = false,
        splitContents = false,
        // salt one run with chars outside Latin-1: forces real bfchar use
        runs = s.runs.zipWithIndex.map {
          case (r, 0) => r.copy(text = r.text + " — Σλ ünïcode")
          case (r, _) => r
        })
    }
    RawPage(
      url(seed, idx),
      new Timestamp(Epoch + idx * 1000L),
      RealPdf.document(specs, xrefStream = true, objStmPack = true),
      "",
      "en")
  }

  def cidPdfPages(spark: SparkSession, from: Long, n: Long, seed: Long = DefaultSeed): Dataset[RawPage] = {
    import spark.implicits._
    spark.range(from, from + n, 1, 2).map(i => cidPdfRow(seed, i))
  }

  /** Same deterministic layouts inside an ENCRYPTED container: standard
    * security handler, owner password only (EMPTY user password) — the
    * dominant crawled "encrypted" shape, which PdfContainer (round 6)
    * decrypts transparently. By id mod 3: 0 → RC4-128 (V2/R3) in a classic
    * container; 1 → AES-128 (V4/R4 AESV2) modern xref-stream + ObjStm;
    * 2 → AES-256 (V5/R6 AESV3, the current writer default) modern. The
    * modulus-3 split keeps the frozen golden ids stable (108 mod 3 = 0 and
    * 109 mod 3 = 1 reproduce the round-6 fixtures byte-identically).
    * Extraction must be byte-identical to the SAME layouts written
    * unencrypted.
    */
  def encryptedPdfRow(seed: Long, idx: Long): RawPage = {
    val kind = (idx % 3).toInt
    val modern = kind != 0
    val enc = kind match {
      case 0 => RealPdf.Encryption.rc4_128(s"owner-$idx")
      case 1 => RealPdf.Encryption.aes128(s"owner-$idx")
      case _ => RealPdf.Encryption.aes256(s"owner-$idx")
    }
    RawPage(
      url(seed, idx),
      new Timestamp(Epoch + idx * 1000L),
      RealPdf.document(
        realPdfSpecs(seed, idx),
        xrefStream = modern,
        objStmPack = modern,
        encrypt = Some(enc)),
      "",
      "en")
  }

  def encryptedPdfPages(spark: SparkSession, from: Long, n: Long, seed: Long = DefaultSeed): Dataset[RawPage] = {
    import spark.implicits._
    spark.range(from, from + n, 1, 2).map(i => encryptedPdfRow(seed, i))
  }

  /** Test hook: the deterministic page specs behind realPdfRow /
    * modernPdfRow / encryptedPdfRow, so specs can compare an encrypted
    * document's extraction against the identical plaintext layout.
    */
  def realPdfSpecsForTest(seed: Long, idx: Long): Seq[RealPdf.PageSpec] =
    realPdfSpecs(seed, idx)

  private def realPdfSpecs(seed: Long, idx: Long): Seq[RealPdf.PageSpec] = {
    val paras = cleanParagraphs(seed, idx, int(seed, idx, 600, 3, 4))
    def wrap(p: String): Seq[String] = {
      val words = p.split(" ")
      val lines = Vector.newBuilder[String]
      val cur = new StringBuilder
      words.foreach { w =>
        if (cur.nonEmpty && cur.length + 1 + w.length > 60) {
          lines += cur.toString; cur.clear()
        }
        if (cur.nonEmpty) cur.append(' ')
        cur.append(w)
      }
      if (cur.nonEmpty) lines += cur.toString
      lines.result()
    }
    val variant = (idx % 3).toInt
    val specs: Seq[RealPdf.PageSpec] = variant match {
      case 1 =>
        // two columns: paragraphs split across x=72 and x=330 origins
        val (left, right) = paras.splitAt(math.max(1, paras.length / 2))
        def col(ps: Seq[String], x: Int): Seq[RealPdf.TextRun] = {
          var y = 90
          ps.flatMap { p =>
            val ls = wrap(p).map { l => val r = RealPdf.TextRun(x, y, l); y += 12; r }
            y += 12 // paragraph gap
            ls
          }
        }
        Seq(RealPdf.PageSpec(runs = col(left, 72) ++ col(right, 330)))
      case _ =>
        var y = 90
        val runs = paras.flatMap { p =>
          val ls = wrap(p).map { l => val r = RealPdf.TextRun(72, y, l); y += 12; r }
          y += 12
          ls
        }
        Seq(RealPdf.PageSpec(
          runs = runs,
          compress = variant == 2,
          hexStrings = variant == 2,
          splitContents = variant == 2))
    }
    specs
  }

  def realPdfPages(spark: SparkSession, from: Long, n: Long, seed: Long = DefaultSeed): Dataset[RawPage] = {
    import spark.implicits._
    spark.range(from, from + n, 1, 2).map(i => realPdfRow(seed, i))
  }

  def modernPdfPages(spark: SparkSession, from: Long, n: Long, seed: Long = DefaultSeed): Dataset[RawPage] = {
    import spark.implicits._
    spark.range(from, from + n, 1, 2).map(i => modernPdfRow(seed, i))
  }

  // ---- real still-image payloads (JDK ImageIO encoders; no external deps)

  /** Planted dimensions/format for media id `i` — the closed form the
    * q_multimodal_meta oracle recomputes. Formats cycle through the four
    * JDK-encodable containers plus a no-magic garbage class and an empty
    * payload; dims stay small so 500 encodes cost milliseconds.
    */
  def mediaFormatIdx(i: Long): Int = (((i % 6) + 6) % 6).toInt
  def mediaWidth(i: Long): Int = 8 + (((i * 13) % 120) + 120).toInt % 120
  def mediaHeight(i: Long): Int = 8 + (((i * 7) % 110) + 110).toInt % 110

  /** A REAL image payload (or the garbage/empty class) for media id `i`:
    * actual PNG/JPEG/GIF/BMP bytes from the JDK's ImageIO encoders, with
    * the planted `mediaWidth x mediaHeight` dimensions and deterministic
    * pixel content. The header parser in [[graft.ops.Multimodal]] must
    * recover the planted dims from these bytes — that round trip is the
    * oracle's gate.
    */
  def mediaPayload(i: Long): Array[Byte] = mediaFormatIdx(i) match {
    case 5 => Array.emptyByteArray
    case 4 =>
      // deterministic bytes with no recognized magic (leading zero byte)
      val r = rng(DefaultSeed, i, 901L)
      Array[Byte](0, (r & 0x7f).toByte, ((r >> 8) & 0x7f).toByte,
        ((r >> 16) & 0x7f).toByte, ((r >> 24) & 0x7f).toByte)
    case fmtIdx =>
      val fmt = Seq("png", "jpg", "gif", "bmp")(fmtIdx)
      val w = mediaWidth(i); val h = mediaHeight(i)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // deterministic pixel content: a per-id base color plus a diagonal
      val base = (rng(DefaultSeed, i, 902L) & 0xffffff).toInt
      val g = img.createGraphics()
      try {
        g.setColor(new java.awt.Color(base))
        g.fillRect(0, 0, w, h)
        g.setColor(new java.awt.Color(base ^ 0x7f7f7f))
        g.drawLine(0, 0, w - 1, h - 1)
      } finally g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      // explicit memory-backed output: ImageIO's default useCache=true
      // would round-trip every encode through a temp FILE (one per row on
      // executors — found by review)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try {
        val ok = javax.imageio.ImageIO.write(img, fmt, ios)
        require(ok, s"no ImageIO writer for $fmt")
      } finally ios.close()
      out.toByteArray
  }

  /** `(content_id, payload)` media frame over ids drawn from `ids` (one
    * encoder pass per row, executed on executors).
    */
  def mediaFrame(ids: Dataset[Long]): org.apache.spark.sql.DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.map(id => (id, mediaPayload(id))).toDF("content_id", "payload")
  }
}
