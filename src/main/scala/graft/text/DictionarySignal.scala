package graft.text

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
  private val PunctChars =
    new CharSet("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~" + "–—‘’“”…")

  private val Vowels = new CharSet("aeiouyàáâãäåèéêëìíîïòóôõöùúûüæœ")

  private val RepeatPattern = Pattern.compile("(.)\\1{3,}")
  private val AlternatingPattern = Pattern.compile("(..)\\1{2,}")

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
    var vowels = 0
    var i = 0
    while (i < length) {
      if (Vowels.contains(lower.charAt(i))) vowels += 1
      i += 1
    }
    val vowelRatio = vowels.toDouble / length
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
  def score(text: String, words: Set[String]): Result =
    if (text == null) Neutral else scoreTokens(Tokens(text), words)

  /** [[score]] over an already tokenized text (the quality gate's one token
    * pass). Each word is its token with every `PunctChars` char removed.
    */
  def scoreTokens(tokens: Tokens, words: Set[String]): Result = {
    val text = tokens.text
    graft.util.StepBudget.tick(text.length.toLong) // B3 row work budget
    var known = 0
    var structured = 0
    var garbled = 0
    var total = 0
    var t = 0
    while (t < tokens.size) {
      val s = tokens.start(t)
      val e = tokens.end(t)
      // length and letter test before any allocation: punctuation is never
      // a letter, so the word has a letter iff its token has one
      var punct = 0
      var hasLetter = false
      var j = s
      while (j < e) {
        val c = text.charAt(j)
        if (PunctChars.contains(c)) punct += 1
        else if (!hasLetter && Character.isLetter(c)) hasLetter = true
        j += 1
      }
      if (e - s - punct >= 3 && hasLetter) {
        // translate-table strip: only copy when punctuation is present
        val word =
          if (punct == 0) text.substring(s, e)
          else {
            val sb = new java.lang.StringBuilder(e - s - punct)
            j = s
            while (j < e) {
              val c = text.charAt(j)
              if (!PunctChars.contains(c)) sb.append(c)
              j += 1
            }
            sb.toString
          }
        total += 1
        val lower = word.toLowerCase
        if (words.contains(lower)) known += 1
        else if (isStructurallyValid(word)) structured += 1
        else garbled += 1
      }
      t += 1
    }
    if (total == 0) Neutral
    else {
      val weighted = known * 1.0 + structured * 0.5
      val raw = math.min(1.0, math.max(0.0, weighted / total))
      Result(round4(raw), known, structured, garbled, total)
    }
  }

  /** Python `round(x, 4)` = HALF_EVEN (SURVEY.md §2.8 parity watchpoint). */
  def round4(x: Double): Double = HalfEven.round(x, 4)
}
