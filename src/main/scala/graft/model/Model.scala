package graft.model

import java.sql.Timestamp

/** Core row types of the extraction engine.
  *
  * Mirrors the reference data model (reference: types.py:81-229) re-expressed
  * as Spark-encodable case classes: the three-level Batch -> File -> Page
  * hierarchy collapses to one row per url (`RawPage` in, `DocResult` out)
  * plus a per-partition `Lineage` row (the BatchResult analogue).
  */

/** Input row — exactly the `input_hint` shape:
  * (url string, warc_ts timestamp, html binary, text string, lang string).
  */
final case class RawPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** One quality signal (reference: types.py:183-190). */
final case class Signal(
    name: String,
    score: Double,
    passed: Boolean,
    details: Map[String, String]
)

/** Composite quality result (reference: quality.py:14-28). */
final case class Quality(
    score: Double,
    flagged: Boolean,
    garbledCount: Int,
    totalWords: Int,
    sampleIssues: Seq[String],
    signalScores: Map[String, Double]
)

/** A span of the extracted text attributed to a source block
  * (start/end are offsets into `extracted_text`; kind is the block kind,
  * e.g. "p", "h1", "pdf-col0").
  */
final case class Span(start: Int, end: Int, kind: String)

/** Pairwise signal disagreement (reference: diagnostics.py:32-37). */
final case class Disagreement(signals: Seq[String], magnitude: Double)

/** Word-level fast-vs-heavy engine diff (reference: diagnostics.py:40-56). */
final case class Substitution(from: String, to: String)
final case class EngineDiff(
    additions: Seq[String],
    deletions: Seq[String],
    substitutions: Seq[Substitution],
    summary: Map[String, Int]
)

/** Per-row diagnostics sidecar (reference: diagnostics.py:59-112). */
final case class Diagnostics(
    signalScores: Map[String, Double],
    compositeWeights: Map[String, Double],
    disagreements: Seq[Disagreement],
    hasSignalDisagreement: Boolean,
    postprocessCounts: Map[String, Int],
    struggleCategories: Seq[String],
    fastText: String, // fast-path text preserved for engine diffing (pipeline.py:578-593 analogue)
    engineDiff: Option[EngineDiff] // populated on the heavy path (diagnostics.py:230-275)
)

/** Output row: one per url. */
final case class DocResult(
    url: String,
    extracted_text: String,
    spans: Seq[Span],
    quality: Quality,
    engine: String, // html-heuristic | pdf-layout | passthrough | mixed | none
    success: Boolean,
    error: String,
    diagnostics: Option[Diagnostics]
)

/** Per-partition lineage row (the north rule's
  * "(partition id, doc count, byte count, failure count)" plus the commit
  * group used for checkpoint/resume, and `num_groups`, the commit layout
  * that group was hashed with: `pmod(xxhash64(url), num_groups)`. A run
  * records its layout here so a resumed run reuses it. Rows built outside
  * a checkpointed run carry 0: no layout recorded.
  */
final case class Lineage(
    commit_group: Int,
    partition_id: Int,
    doc_count: Long,
    byte_count: Long,
    failure_count: Long,
    num_groups: Int = 0
)

/** Engine names (reference enum OCREngine, types.py:55-66, renamed to the
  * extraction domain per SURVEY.md §1).
  */
object Engines {
  val Passthrough = "passthrough" // existing `text` column passed quality (EXISTING)
  val Html = "html-heuristic" // boilerplate-strip path (TESSERACT slot)
  val Pdf = "pdf-layout" // binary layout path
  val Heavy = "heavy-segment" // expensive re-segmentation (SURYA slot)
  val Mixed = "mixed"
  val None_ = "none"
}
