package graft.extract

import java.nio.charset.StandardCharsets

import graft.model._
import graft.text._

/** Per-row extraction kernel: routing (passthrough / HTML / PDF), quality
  * gating, postprocess, span bookkeeping, error containment.
  *
  * Mirrors the reference's per-file worker dataflow
  * (reference: pipeline.py:57-296): cheap extraction -> quality gate ->
  * [heavy fallback handled by the job layer as a second stage] ->
  * deterministic postprocess. Every failure becomes a failure *row*
  * (success=false, engine=none) — never an exception escaping the task
  * (the reference's B4 error-containment contract, pipeline.py:284-296).
  */
object Extractor {

  /** Job config broadcast to executors (reference: pipeline.py:35-54). */
  final case class Config(
      threshold: Double = 0.85,
      diagnostics: Boolean = false,
      forceHeavy: Boolean = false,
      maxBytes: Int = 512 * 1024, // skip-big guard (tesseract.py:19 analogue)
      languages: Set[String] = Set("en", "fr", "de", "el", "la"),
      words: Set[String] = null,
      // per-row kernel work budget in ~chars-scanned units (B3: the
      // reference's per-file 1800 s timeout, pipeline.py:396, made
      // deterministic). ~100x headroom over a maxBytes-sized row's normal
      // kernel work; an adversarial super-linear row trips it and becomes a
      // timeout failure row instead of pinning the task.
      maxKernelSteps: Long = 64L * 1024 * 1024
  ) {
    def analyzer: QualityAnalyzer = QualityAnalyzer(threshold = threshold, words = words)
  }

  /** Assemble postprocessed blocks into (text, spans), dropping blocks that
    * postprocess to empty. Per-block postprocess is equivalent to whole-text
    * postprocess here because every transform is local within a
    * double-newline-delimited block (postprocess.py:50-156 semantics), and it
    * is what makes span offsets exact.
    */
  def assemble(blocks: Seq[(String, String)]): (String, Seq[Span], Map[String, Int]) = {
    val sb = new StringBuilder
    val spans = Seq.newBuilder[Span]
    var counts = Map.empty[String, Int]
    blocks.foreach { case (kind, raw) =>
      val (clean, c) = Postprocess(raw)
      counts = mergeCounts(counts, c)
      if (clean.nonEmpty) {
        if (sb.nonEmpty) sb.append("\n\n")
        val start = sb.length
        sb.append(clean)
        spans += Span(start, sb.length, kind)
      }
    }
    (sb.toString, spans.result(), counts)
  }

  def mergeCounts(a: Map[String, Int], b: Map[String, Int]): Map[String, Int] =
    b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0) + v) }

  /** Coverage-signal parameters: pages with at least this many visible
    * (non-boilerplate-container) words must keep at least `CoverageFloor` of
    * them, else the row is flagged for the heavy stage.
    */
  val MinCoverageWords = 50
  val CoverageFloor = 0.2

  /** Block-classification margin as 1-99 pseudo-confidence, feeding the
    * confidence signal the way Tesseract word confidences feed the
    * reference's (confidence.py:44-88). Deterministic integer arithmetic.
    */
  private def blockConfidence(b: HtmlExtractor.Block): Int = {
    val c = 50 + math.min(45, b.words / 2) - math.round(100 * b.linkDensity).toInt
    math.max(1, math.min(99, c))
  }

  private def confidenceData(
      blocks: Seq[HtmlExtractor.Block]
  ): Seq[ConfidenceSignal.BlockConf] =
    blocks.map { b =>
      val conf = blockConfidence(b)
      var charWeight = 0L
      var i = 0
      while (i < b.text.length) {
        if (!Character.isWhitespace(b.text.charAt(i))) charWeight += 1
        i += 1
      }
      ConfidenceSignal.BlockConf(
        conf,
        b.words,
        charWeight,
        // word samples only materialize on the rare low-confidence branch
        if (conf < 30) b.text.split(" ").iterator.filter(_.nonEmpty).take(20).toSeq
        else Nil)
    }

  private def failure(row: RawPage, error: String): DocResult =
    DocResult(row.url, "", Nil, Quality(0.0, flagged = false, 0, 0, Nil, Map.empty),
      Engines.None_, success = false, error = error, diagnostics = None)

  /** Whether a fast result must fall through to the heavy engine — THE
    * heavy-gating predicate. Every surface reaches it through
    * [[extractWithFallback]]; the benchmark's layer metrics call it directly.
    */
  def needsHeavy(doc: DocResult, cfg: Config): Boolean =
    doc.success && (doc.quality.flagged || cfg.forceHeavy)

  /** The full per-row flow: fast extraction with inline heavy fallback.
    * Single definition used by the batch job (its one physical path) and
    * all streaming surfaces.
    */
  def extractWithFallback(row: RawPage, cfg: Config): DocResult = {
    val fast = fastExtract(row, cfg)
    if (needsHeavy(fast, cfg)) heavyExtract(row, fast, cfg) else fast
  }

  /** Fast path: passthrough if the existing `text` passes quality, else
    * cheap HTML/PDF extraction (reference work-pruning branch,
    * pipeline.py:101-166).
    */
  def fastExtract(row: RawPage, cfg: Config): DocResult = {
    try graft.util.StepBudget.withBudget(cfg.maxKernelSteps)(fastExtractUnsafe(row, cfg))
    catch {
      case _: graft.util.StepBudget.Exceeded =>
        // row-granular B3 timeout: contained as a failure row
        failure(row, s"timeout:step_budget:${cfg.maxKernelSteps}")
      case e: Exception =>
        failure(row, s"extract_error:${e.getClass.getSimpleName}:${String.valueOf(e.getMessage).take(200)}")
    }
  }

  private def fastExtractUnsafe(row: RawPage, cfg: Config): DocResult = {
    if (row.lang != null && !cfg.languages.contains(row.lang))
      return failure(row, s"unknown_lang:${row.lang}")
    val hasHtml = row.html != null && row.html.nonEmpty
    val hasText = row.text != null && row.text.strip().nonEmpty
    if (!hasHtml && !hasText) return failure(row, "no_payload")
    if (hasHtml && row.html.length > cfg.maxBytes)
      return failure(row, s"oversized_payload:${row.html.length}")

    val analyzer = cfg.analyzer
    // analyzed once, reused by the pruning check and every passthrough branch
    lazy val textQuality = analyzer.analyze(row.text)

    // Work pruning: existing text layer that passes quality skips extraction.
    if (hasText && !textQuality.flagged && !cfg.forceHeavy) {
      val (text, spans, counts) = assemble(Seq(("text", row.text)))
      return result(row, text, spans, textQuality, Engines.Passthrough, counts, cfg, analyzer)
    }

    if (!hasHtml) {
      // flagged text layer and nothing to re-extract from: keep it, flagged
      val (text, spans, counts) = assemble(Seq(("text", row.text)))
      return result(row, text, spans, textQuality, Engines.Passthrough, counts, cfg, analyzer)
    }

    if (PdfExtractor.isPdf(row.html)) {
      PdfExtractor.extract(row.html) match {
        case Left(err) =>
          if (hasText) {
            val (text, spans, counts) = assemble(Seq(("text", row.text)))
            result(row, text, spans, textQuality, Engines.Passthrough, counts, cfg, analyzer)
          } else failure(row, s"pdf_parse:$err")
        case Right(ex) =>
          val (text, spans, counts) = assemble(ex.columns)
          val q = analyzer.analyze(text)
          result(row, text, spans, q, Engines.Pdf, counts, cfg, analyzer)
      }
    } else {
      val html = new String(row.html, StandardCharsets.UTF_8)
      val ex = HtmlExtractor.extract(html)
      val content = ex.contentBlocks
      val (text, spans, counts) = assemble(content.map(b => (b.tag, b.text)))
      val q0 = analyzer.analyzeWith(text, Some(ConfidenceSignal.scoreBlocks(confidenceData(content))))
      // Extraction-coverage signal: a near-empty extraction from a page with
      // substantial visible text is an extraction FAILURE, not a short
      // document — the garbled/dictionary signals are neutral on short text
      // (quality.py:138 rule) and would let it pass. Coverage is recorded as
      // a signal score with its own floor; it does not enter the composite
      // (combine weights only the reference's three signals).
      val totalWords = ex.blocks.iterator.filterNot(_.inBoilerplateTag).map(_.words).sum
      val q =
        if (totalWords >= MinCoverageWords) {
          val cov = content.iterator.map(_.words).sum.toDouble / totalWords
          q0.copy(
            signalScores = q0.signalScores + ("coverage" -> cov),
            flagged = q0.flagged || cov < CoverageFloor)
        } else q0
      result(row, text, spans, q, Engines.Html, counts, cfg, analyzer)
    }
  }

  /** Heavy path for still-flagged rows (the reference's Surya stage,
    * pipeline.py:450-533): expensive re-segmentation, then the spliced text
    * is postprocessed AGAIN — the reference re-runs postprocess over already
    * postprocessed text when rewriting heavy-path files (pipeline.py:689);
    * byte-identity requires replicating that double application.
    *
    * Both payload kinds get a real second engine (write-back semantics
    * batch.py:439-481: the heavy result replaces the fast one and is
    * re-scored/re-flagged by the analyzer):
    *   - HTML: maximum-scoring contiguous block window
    *     ([[HtmlExtractor.heavySegment]])
    *   - PDF: gutter-projection columns + y-tolerance line clustering +
    *     advance-aware run joining ([[PdfExtractor.heavyExtract]])
    */
  def heavyExtract(row: RawPage, fast: DocResult, cfg: Config): DocResult = {
    // The budget covers EVERYTHING the heavy path does per row — including
    // the per-page fast re-extraction + quality gating that drives the
    // selective splice, and (only when the doc-level re-postprocess changes
    // bytes) the span reconstruction. That is a few extra doc-lengths of
    // ticks vs a bare re-segmentation; the default budget (64M steps vs
    // maxBytes 512KB payloads) leaves >100x headroom, but callers who
    // hand-tune maxKernelSteps near a doc's actual work should size for it.
    try graft.util.StepBudget.withBudget(cfg.maxKernelSteps)(heavyExtractUnsafe(row, fast, cfg))
    catch {
      // budget exceeded or any heavy failure keeps the fast output
      // (pipeline.py:717-722)
      case _: Exception => fast
    }
  }

  private def heavyExtractUnsafe(row: RawPage, fast: DocResult, cfg: Config): DocResult = {
    if (row.html == null || row.html.isEmpty) fast // nothing better available
    else
      if (PdfExtractor.isPdf(row.html)) {
        PdfExtractor.parse(row.html) match {
          case Left(_) => fast // unparseable: keep fast output (pipeline.py:717-722)
          case Right(pages) =>
            // Selective page reprocessing (the reference's phase-2 contract:
            // only FLAGGED pages reach the expensive engine,
            // pipeline.py:451): each page's fast extraction is re-scored on
            // its own, and only failing pages are re-segmented — passing
            // pages keep their fast columns, spliced back in page order.
            // A doc whose doc-LEVEL quality flagged but whose pages all
            // pass individually (aggregate effect) re-segments everything,
            // as does the all-pages-flagged case.
            val analyzer = cfg.analyzer
            val perPage = pages.zipWithIndex.map { case (pg, pi) =>
              val fastCols = PdfExtractor.extractPage(pg, pi)
              val (pText, _, _) = assemble(fastCols)
              val q = analyzer.analyze(pText)
              (pg, pi, fastCols, q.flagged || q.score < cfg.threshold)
            }
            val nFlagged = perPage.count(_._4)
            def heavyCols(pg: PdfExtractor.Page, pi: Int) =
              PdfExtractor.heavyExtractPage(pg, pi).map { case (k, t) => (s"heavy-$k", t) }
            val columns: Vector[(String, String)] =
              if (nFlagged == 0 || nFlagged == pages.length)
                pages.zipWithIndex.flatMap { case (pg, pi) => heavyCols(pg, pi) }
              else
                perPage.flatMap { case (pg, pi, fastCols, flagged) =>
                  if (flagged) heavyCols(pg, pi) else fastCols
                }
            if (columns.isEmpty) return fast
            val spliced = nFlagged > 0 && nFlagged < pages.length &&
              columns.exists(!_._1.startsWith("heavy-"))
            // the PDF path has no block-margin confidence source (parity with
            // fastExtract's PDF branch): three-signal analyze
            heavyResult(row, fast, cfg, columns,
              if (spliced) Engines.Mixed else Engines.Heavy, None)
        }
      } else {
        val html = new String(row.html, StandardCharsets.UTF_8)
        val ex = HtmlExtractor.heavySegment(html)
        val content = ex.contentBlocks
        if (content.isEmpty) return fast
        heavyResult(row, fast, cfg,
          content.map(b => (s"heavy-${b.tag}", b.text)), Engines.Heavy,
          Some(ConfidenceSignal.scoreBlocks(confidenceData(content))))
      }
  }

  /** Span offsets for the doubly-postprocessed heavy text. Each source
    * block is double-postprocessed independently and rejoined: when that
    * reproduces the final doc-level text byte-for-byte (postprocess is
    * block-local — the same property [[assemble]] relies on), spans carry
    * per-block kinds (`heavy-...` for re-segmented content, the fast kinds
    * for spliced-in pages); if a cross-block transform ever breaks the
    * reconstruction, offsets fall back to ONE whole-doc span rather than
    * ship wrong offsets. Text itself is always the doc-level result.
    */
  private def splicedSpans(columns: Seq[(String, String)], text: String): Seq[Span] = {
    val rebuilt = columns
      .map { case (k, raw) => (k, Postprocess(Postprocess(raw)._1)._1) }
      .filter(_._2.nonEmpty)
    val sb = new StringBuilder
    val spans = Seq.newBuilder[Span]
    rebuilt.foreach { case (k, clean) =>
      if (sb.nonEmpty) sb.append("\n\n")
      val start = sb.length
      sb.append(clean)
      spans += Span(start, sb.length, k)
    }
    if (sb.toString == text) spans.result() else Seq(Span(0, text.length, "heavy"))
  }

  private def heavyResult(
      row: RawPage,
      fast: DocResult,
      cfg: Config,
      columns: Seq[(String, String)],
      engine: String,
      confidence: Option[ConfidenceSignal.Result]
  ): DocResult = {
    val (text0, spans0, counts0) = assemble(columns)
    if (text0.isEmpty) return fast
    val analyzer = cfg.analyzer
    // double postprocess (pipeline.py:689 quirk)
    val (text, counts1) = Postprocess(text0)
    // common case: the doc-level second pass is a no-op, so assemble's
    // per-block spans are already exact — the per-block reconstruction (two
    // more postprocess passes per block, all ticking the kernel budget)
    // only runs when the second pass actually changed bytes
    val spans = if (text == text0) spans0 else splicedSpans(columns, text)
    val q = analyzer.analyzeWith(text, confidence)
    val counts = mergeCounts(counts0, counts1)
    val diag =
      if (!cfg.diagnostics) None
      else {
        val struggles = QualityAnalyzer.classifyStruggle(
          q.signalScores, q.score, cfg.threshold, engine, Some(q.score))
        val d = WordDiff.diff(fast.extracted_text, text)
        val disagreements = QualityAnalyzer.signalDisagreements(q.signalScores)
        Some(Diagnostics(
          q.signalScores,
          weightsFor(q.signalScores),
          disagreements,
          disagreements.exists(_.magnitude > QualityAnalyzer.DisagreementThreshold),
          counts,
          struggles,
          fastText = fast.extracted_text,
          engineDiff = Some(EngineDiff(
            d.additions, d.deletions,
            d.substitutions.map { case (f2, t2) => Substitution(f2, t2) },
            d.summary))
        ))
      }
    DocResult(row.url, text, spans, q, engine, success = true, error = null, diag)
  }

  private def weightsFor(scores: Map[String, Double]): Map[String, Double] =
    QualityAnalyzer.weightsFor(scores)

  private def result(
      row: RawPage,
      text: String,
      spans: Seq[Span],
      q: Quality,
      engine: String,
      counts: Map[String, Int],
      cfg: Config,
      analyzer: QualityAnalyzer
  ): DocResult = {
    val diag =
      if (!cfg.diagnostics) None
      else {
        val disagreements = QualityAnalyzer.signalDisagreements(q.signalScores)
        Some(Diagnostics(
          q.signalScores,
          weightsFor(q.signalScores),
          disagreements,
          disagreements.exists(_.magnitude > QualityAnalyzer.DisagreementThreshold),
          counts,
          QualityAnalyzer.classifyStruggle(q.signalScores, q.score, cfg.threshold),
          fastText = null,
          engineDiff = None
        ))
      }
    DocResult(row.url, text, spans, q, engine, success = true, error = null, diag)
  }
}
