package graft.text

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.util.regex.Pattern

import graft.model.Signal

/** Dictionary-coverage quality signal.
  *
  * Semantics from the reference's word-list signal
  * (reference: dictionary.py:36-163): tokens are punctuation-stripped,
  * short/numeric tokens skipped, then classified known (1.0) /
  * unknown-but-structurally-valid (0.5) / unknown-garbled (0.0); the score is
  * the weighted mean rounded to 4 decimals HALF_EVEN (Python `round`).
  *
  * The word list is loaded once from a bundled resource (our own list — NOT
  * the reference's data file) and is broadcast by the job layer.
  */
object DictionarySignal {

  /** ASCII punctuation + typographic dashes/quotes/ellipsis, removed anywhere
    * in the token (reference: dictionary.py:14 translation table).
    */
  private val PunctChars: Set[Char] =
    ("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~" + "–—‘’“”…").toSet

  private val Vowels: Set[Char] = "aeiouyàáâãäåèéêëìíîïòóôõöùúûüæœ".toSet

  private val RepeatPattern = Pattern.compile("(.)\\1{3,}")
  private val AlternatingPattern = Pattern.compile("(..)\\1{2,}")
  // Python str.split() parity, precompiled once (see Hashing.PyWhitespaceRun)
  private val Whitespace = graft.util.Hashing.PyWhitespaceRun

  val DefaultFloor = 0.5

  /** Bundled word list (one lowercase word per line), loaded once per JVM. */
  lazy val defaultWords: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/wordlist.txt")
    require(in != null, "missing resource /graft/wordlist.txt")
    try
      scala.io.Source
        .fromInputStream(in, "UTF-8")
        .getLines()
        .map(_.strip().toLowerCase)
        .filter(_.nonEmpty)
        .toSet
    finally in.close()
  }

  /** Structural validity: vowel-ratio bounds, no 4x char repeats, no 3x
    * alternating bigrams, unique-char ratio >= 0.3 for len > 6
    * (reference: dictionary.py:36-74).
    */
  def isStructurallyValid(word: String): Boolean = {
    val lower = word.toLowerCase
    val length = lower.length
    if (length < 2) return true
    val vowelRatio = lower.count(Vowels.contains).toDouble / length
    if (vowelRatio < 0.1 && length > 3) return false
    if (vowelRatio > 0.9 && length > 4) return false
    if (RepeatPattern.matcher(lower).find()) return false
    if (AlternatingPattern.matcher(lower).find()) return false
    if (length > 6 && lower.distinct.length.toDouble / length < 0.3) return false
    true
  }

  final case class Result(
      score: Double,
      knownCount: Int,
      unknownStructured: Int,
      unknownGarbled: Int,
      total: Int
  ) {
    def toSignal(floor: Double = DefaultFloor): Signal = Signal(
      "dictionary",
      score,
      passed = score >= floor,
      Map(
        "known_count" -> knownCount.toString,
        "unknown_structured" -> unknownStructured.toString,
        "unknown_garbled" -> unknownGarbled.toString,
        "total" -> total.toString
      )
    )
  }

  private val Neutral = Result(1.0, 0, 0, 0, 0)

  def score(text: String): Result = score(text, defaultWords)

  /** Score with an explicit word set (the broadcastable entry point). */
  def score(text: String, words: Set[String]): Result = {
    if (text == null) return Neutral
    graft.util.StepBudget.tick(text.length.toLong) // B3 row work budget
    if (text.strip().isEmpty) return Neutral
    var known = 0
    var structured = 0
    var garbled = 0
    var total = 0
    Whitespace.split(text).foreach { token =>
      // translate-table strip: only allocate when punctuation is present
      // (ws-split tokens carry no surrounding whitespace to strip unless
      // punctuation removal exposes some)
      var hasPunct = false
      var j = 0
      while (!hasPunct && j < token.length) {
        if (PunctChars.contains(token.charAt(j))) hasPunct = true
        j += 1
      }
      val word = if (hasPunct) token.filterNot(PunctChars.contains).strip() else token
      if (word.length >= 3 && word.exists(Character.isLetter)) {
        total += 1
        val lower = word.toLowerCase
        if (words.contains(lower)) known += 1
        else if (isStructurallyValid(word)) structured += 1
        else garbled += 1
      }
    }
    if (total == 0) Neutral
    else {
      val weighted = known * 1.0 + structured * 0.5
      val raw = math.min(1.0, math.max(0.0, weighted / total))
      Result(round4(raw), known, structured, garbled, total)
    }
  }

  /** Python `round(x, 4)` = HALF_EVEN (SURVEY.md §2.8 parity watchpoint). */
  def round4(x: Double): Double =
    new JBigDecimal(x).setScale(4, RoundingMode.HALF_EVEN).doubleValue()
}
