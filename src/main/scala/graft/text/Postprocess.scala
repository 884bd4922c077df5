package graft.text

import java.text.Normalizer
import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable

/** Deterministic text postprocess chain.
  *
  * Semantics derived from the reference's postprocess transforms
  * (reference: postprocess.py:11-156). The chain order is the CODE order of
  * postprocess.py:150-156 — unicode -> dehyphenate -> join_paragraphs ->
  * normalize_punctuation — NOT the docstring order; byte-identity of golden
  * fixtures depends on it (SURVEY.md §2.2 P5).
  *
  * Every transform is a pure function returning (text, replacementCounts);
  * counts feed the lineage/diagnostics `postprocess_counts` map
  * (reference: postprocess.py:29-47 side-channel made pure).
  */
object Postprocess {

  /** Ligature decomposition map (reference: postprocess.py:11-17). */
  private val Ligatures: Seq[(String, String)] = Seq(
    "ﬀ" -> "ff",
    "ﬁ" -> "fi",
    "ﬂ" -> "fl",
    "ﬃ" -> "ffi",
    "ﬄ" -> "ffl"
  )

  private val SoftHyphen = "­"

  /** Hyphenated proper names whose line-break hyphen must be kept
    * (reference: postprocess.py:20-24).
    */
  private val HyphenatedNames: Set[String] =
    Set("merleau-ponty", "sartre-beauvoir", "buber-rosenzweig")

  // (?U) makes \w match Unicode word chars like Python's re (SURVEY.md §2.8
  // parity watchpoint).
  //
  // Linear-time anchoring: the reference patterns (kept verbatim in the test
  // suite as PostprocessReference) retry a failed run match from every
  // later position of the same run, so a long run with no match costs time
  // quadratic in its length. A leftmost match of a reference pattern always
  // starts at the first char of its run (a `\w` run here, a whitespace run
  // below): the search reaches a run's first char before any later one, and
  // a match from a later char implies one from the first. A previous match
  // never ends inside a run, because it ends after a greedy run at a
  // non-run char (here), on punctuation, on `\n` or at the end of the text.
  // So the anchors drop only start positions that can never win: same
  // matches, groups and counts, one attempt per run.
  //
  // The `\w` run is anchored by `\b`, which reads the whole code point
  // before the position. A `(?<!\w)` lookbehind reads one char there: after
  // a supplementary letter such as U+1D400 it sees a lone low surrogate and
  // lets the search restart inside the run, which stays quadratic.
  private val HyphenBreak = Pattern.compile("(?U)\\b(\\w+)-\\n(\\w+)")

  private val ParaSplit = Pattern.compile("\n\n+")
  // Python-\s parity: (?U)\s binds to Unicode White_Space, which EXCLUDES
  // U+001C-U+001F; Python's \s includes them (matching isPyWhitespace)
  private val SpaceBeforePunct =
    Pattern.compile("(?U)(?<![\\s\\x1c-\\x1f])[\\s\\x1c-\\x1f]+([.,;:!?])")
  private val MultiSpace = Pattern.compile("  +")
  private val TrailingBeforeNewline = Pattern.compile("(?<![ \\t])[ \\t]+(\\n)")
  // \z, not $: Java's $ also matches before a final \r/\r\n, Python's doesn't
  private val TrailingAtEnd = Pattern.compile("(?<![ \\t])[ \\t]+\\z")

  type Counts = Map[String, Int]

  private def countOccurrences(haystack: String, needle: String): Int = {
    var n = 0
    var i = haystack.indexOf(needle)
    while (i >= 0) { n += 1; i = haystack.indexOf(needle, i + needle.length) }
    n
  }

  /** NFC-normalize, decompose ligatures, strip soft hyphens
    * (reference: postprocess.py:29-47).
    */
  def normalizeUnicode(text: String): (String, Counts) = {
    // ASCII fast path: pure-ASCII text is already NFC and cannot contain
    // ligatures or soft hyphens — one scan instead of six needle searches
    // plus the normalizer check
    var ascii = true
    var k = 0
    while (ascii && k < text.length) {
      if (text.charAt(k) >= 0x80) ascii = false
      k += 1
    }
    if (ascii) return (text, Map("unicode_normalizations" -> 0))
    var replacements = 0
    var t = text
    // Java's String.replace compiles a literal regex per call — only pay it
    // when the needle is actually present (it almost never is on the hot path)
    Ligatures.foreach { case (lig, rep) =>
      val n = countOccurrences(t, lig)
      if (n > 0) { replacements += n; t = t.replace(lig, rep) }
    }
    val softHyphens = countOccurrences(t, SoftHyphen)
    if (softHyphens > 0) { replacements += softHyphens; t = t.replace(SoftHyphen, "") }
    if (!Normalizer.isNormalized(t, Normalizer.Form.NFC))
      t = Normalizer.normalize(t, Normalizer.Form.NFC)
    (t, Map("unicode_normalizations" -> replacements))
  }

  /** Rejoin line-break hyphens, preserving proper-name hyphens
    * (reference: postprocess.py:91-120).
    */
  def dehyphenate(text: String): (String, Counts) = {
    // every match contains the literal "-\n": most texts have none
    if (text.indexOf("-\n") < 0) return (text, Map("dehyphenations" -> 0))
    var rejoined = 0
    val m = HyphenBreak.matcher(text)
    if (!m.find()) return (text, Map("dehyphenations" -> 0))
    m.reset()
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val left = m.group(1)
      val right = m.group(2)
      val hyphenated = s"$left-$right"
      val keep =
        HyphenatedNames.contains(hyphenated.toLowerCase) ||
          (Character.isUpperCase(left.charAt(0)) && Character.isUpperCase(right.charAt(0)))
      val replacement =
        if (keep) hyphenated
        else { rejoined += 1; left + right }
      m.appendReplacement(sb, Matcher.quoteReplacement(replacement))
    }
    m.appendTail(sb)
    (sb.toString, Map("dehyphenations" -> rejoined))
  }

  /** Join single-newline lines within paragraph blocks; indented lines and
    * lines after a short (heading-like, <60 chars) line stay separate
    * (reference: postprocess.py:50-88).
    */
  def joinParagraphs(text: String): (String, Counts) = {
    var joins = 0
    // fast path: no newline at all -> single single-line block, unchanged
    if (text.indexOf('\n') < 0) return (text, Map("paragraph_joins" -> 0))
    val blocks =
      if (text.contains("\n\n")) ParaSplit.split(text, -1) else Array(text)
    val out = blocks.map { block =>
      val lines = block.split("\n", -1)
      graft.util.StepBudget.tick(lines.length.toLong)
      if (lines.length <= 1) block
      else {
        val merged = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < lines.length) {
          val line = lines(i)
          val stripped = rstrip(line)
          val indented =
            line.nonEmpty && (line.charAt(0) == ' ' || line.charAt(0) == '\t') && i > 0
          if (indented) {
            merged += ("\n" + line)
          } else {
            val headingBreak = i > 0 && merged.nonEmpty && {
              val prev = rstrip(merged.last)
              // Python-parity strip (NBSP etc.), not String.strip
              pystrip(prev.replace("\n", "")).length < 60 &&
              stripped.nonEmpty && Character.isUpperCase(stripped.charAt(0))
            }
            if (headingBreak) merged += ("\n" + stripped)
            else if (i == 0) merged += stripped
            else { merged += (" " + stripped); joins += 1 }
          }
          i += 1
        }
        merged.mkString
      }
    }
    (out.mkString("\n\n"), Map("paragraph_joins" -> joins))
  }

  /** Collapse whitespace around punctuation; strip per-line trailing
    * whitespace (reference: postprocess.py:123-147).
    */
  def normalizePunctuation(text: String): (String, Counts) = {
    var fixes = 0
    def subn(p: Pattern, repl: String, t: String): String = {
      val m = p.matcher(t)
      if (!m.find()) return t // no-match fast path: no copy
      m.reset()
      val sb = new java.lang.StringBuilder
      while (m.find()) { fixes += 1; m.appendReplacement(sb, repl) }
      m.appendTail(sb)
      sb.toString
    }
    // one fused scan decides which of the four passes can possibly match —
    // clean text (the common case) pays one pass instead of four regex scans
    var mayPunct = false // whitespace immediately before .,;:!?
    var mayMulti = false // two consecutive spaces
    var mayTrail = false // space/tab before \n or at end
    var i = 0
    val n = text.length
    while (i < n && !(mayPunct && mayMulti && mayTrail)) {
      val c = text.charAt(i)
      if (c == ' ' || c == '\t') {
        val next = if (i + 1 < n) text.charAt(i + 1) else '\u0000'
        if (next == '\n' || i + 1 == n) mayTrail = true
        if (c == ' ' && next == ' ') mayMulti = true
      }
      if (i > 0 && (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') &&
        graft.util.Hashing.isPyWhitespace(text.charAt(i - 1))) mayPunct = true
      i += 1
    }
    var t = text
    if (mayPunct) t = subn(SpaceBeforePunct, "$1", t)
    if (mayMulti || mayPunct) t = subn(MultiSpace, " ", t)
    if (mayTrail || mayPunct || mayMulti) {
      t = subn(TrailingBeforeNewline, "$1", t)
      t = subn(TrailingAtEnd, "", t)
    }
    (t, Map("punctuation_fixes" -> fixes))
  }

  /** Full chain in reference code order (postprocess.py:150-156). */
  def apply(text: String): (String, Counts) = {
    graft.util.StepBudget.tick(text.length.toLong) // B3 row work budget
    val (t1, c1) = normalizeUnicode(text)
    val (t2, c2) = dehyphenate(t1)
    val (t3, c3) = joinParagraphs(t2)
    val (t4, c4) = normalizePunctuation(t3)
    (t4, c1 ++ c2 ++ c3 ++ c4)
  }

  /** Python-`rstrip()` analogue (Unicode White_Space incl. NBSP). */
  private def rstrip(s: String): String = {
    var end = s.length
    while (end > 0 && graft.util.Hashing.isPyWhitespace(s.charAt(end - 1))) end -= 1
    s.substring(0, end)
  }

  /** Python-`strip()` analogue (both ends, Unicode White_Space incl. NBSP). */
  private def pystrip(s: String): String = {
    var start = 0
    var end = s.length
    while (start < end && graft.util.Hashing.isPyWhitespace(s.charAt(start))) start += 1
    while (end > start && graft.util.Hashing.isPyWhitespace(s.charAt(end - 1))) end -= 1
    s.substring(start, end)
  }
}
