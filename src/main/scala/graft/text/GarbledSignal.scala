package graft.text

import java.util.regex.Pattern

import graft.model.Signal

/** Garbled-text detection signal.
  *
  * Semantics from the reference's regex signal (reference: quality.py:31-226):
  * per-word classification with a punctuation strip, short-word and
  * reference-pattern skips, a philosophy-term whitelist, then four garble
  * detectors (low-alpha ratio, consonant cluster with German-suffix
  * exemption, symbol run, mid-word CamelCase, control chars).
  * Score = max(0, 1 - 2 * garbled/total); texts under 100 chars are neutral.
  *
  * All patterns precompiled at object load (the reference compiles at class
  * load, quality.py:38-43); the term sets live here as plain Scala sets and
  * are broadcast by the job layer, never reloaded per row.
  */
object GarbledSignal {

  /** Garble patterns (reference: quality.py:38-43). `(?U)` gives Python-like
    * Unicode \w / \s semantics (SURVEY.md §2.8).
    */
  private val GarblePatterns: Seq[(Pattern, String)] = Seq(
    Pattern.compile("(?i)[bcdfghjklmnpqrstvwxz]{6,}") -> "consonant_cluster",
    // \x1c-\x1f added: Python's \s (inside the negated class) includes them
    Pattern.compile("(?U)[^\\w\\s\\x1c-\\x1f.,;:!?'\"\\-–—…*()]{3,}") -> "symbol_run",
    // (?U): Python \\b is Unicode-aware (no false boundary inside GrossWort-style words)
    Pattern.compile("(?U)\\b[A-Z][a-z]+[A-Z][a-z]*\\b") -> "weird_case",
    Pattern.compile("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]") -> "control_char"
  )

  // Domain whitelists (reference: quality.py:45-101) — philosophy terms that
  // must never be flagged even though they fail dictionary/structure checks.
  private val HeideggerTerms = Set(
    "erschlossenheit", "befindlichkeit", "geworfenheit", "eigentlichkeit",
    "uneigentlichkeit", "vorhandenheit", "zuhandenheit", "mitsein", "dasein",
    "zeitlichkeit", "geschichtlichkeit", "weltlichkeit", "sorge", "schuld",
    "entschlossenheit", "wiederholung", "augenblick", "vorlaufen",
    "gewesenheit", "gegenwärtigen", "gewärtigen", "verstehen", "auslegung",
    "rede", "gerede", "neugier", "zweideutigkeit", "verfallenheit",
    "angst", "furcht", "langeweile", "stimmung", "befindlich",
    "lichtung", "gestell", "ereignis", "kehre", "gelassenheit",
    "grundstimmung", "unverborgenheit", "seinsgeschichte")

  private val KantTerms = Set(
    "vernunft", "verstand", "anschauung", "urteilskraft", "pflicht",
    "kategorisch", "imperativ", "transzendental", "apriorisch", "erkenntnis",
    "erscheinung", "noumenon", "ding", "einbildungskraft", "sinnlichkeit",
    "empfindung", "wahrnehmung")

  private val HegelTerms = Set(
    "geist", "aufhebung", "dialektik", "synthese", "entfremdung",
    "selbstbewusstsein", "absolut", "vermittlung", "wirklichkeit")

  private val HusserlTerms = Set(
    "intentionalität", "epoché", "reduktion", "lebenswelt",
    "noesis", "noema", "konstitution", "evidenz")

  val GermanPhilosophyTerms: Set[String] = Set(
    "wissenschaft", "grundlegung", "weltanschauung", "vorstellung",
    "bestimmung", "begrifflichkeit", "zusammenhang", "beziehung",
    "freiheit", "wahrheit", "sein", "seiende", "nichts", "wesen",
    "bedeutung", "sinn", "zweck", "grund", "ursache", "wirkung",
    "vorurteil", "bildung", "erfahrung", "geschichte", "natur", "kultur",
    "gesellschaft", "gemeinschaft", "freundschaft", "eigenschaft",
    "grundsätzlichkeit", "freundlichkeit", "möglichkeit", "notwendigkeit",
    "widerspruch", "gegensatz", "einheit", "vielheit", "allgemeinheit",
    "besonderheit", "einzelheit", "substanz", "subjekt", "objekt",
    "bewusstsein", "unbewusstes", "trieb", "wille", "macht"
  ) ++ HeideggerTerms ++ KantTerms ++ HegelTerms ++ HusserlTerms

  private val FrenchTerms = Set(
    "autrement", "visage", "infini", "totalité", "altérité",
    "jouissance", "fécondité", "proximité", "responsabilité",
    "substitution", "signification", "conscience", "différence",
    "présence", "absence", "parole", "écriture", "discours")

  private val GreekTerms = Set(
    "aletheia", "phronesis", "episteme", "techne", "theoria", "praxis",
    "ousia", "eidos", "logos", "nous", "psyche", "pneuma",
    "arche", "telos", "dynamis", "energeia", "entelecheia",
    "eudaimonia", "arete", "sophia", "doxa", "noesis")

  val ValidTerms: Set[String] = GermanPhilosophyTerms ++ FrenchTerms ++ GreekTerms

  /** German suffixes exempt from the consonant-cluster rule
    * (reference: quality.py:103).
    */
  private val GermanSuffixes =
    Seq("keit", "heit", "ung", "schaft", "lich", "isch", "tum", "nis")

  /** Common short words skipped outright (reference: quality.py:105-111). */
  private val ValidShort: Set[String] = Set(
    "a", "i", "à", "y", "ô", "le", "la", "de", "du", "un", "en",
    "et", "ou", "au", "il", "je", "tu", "on", "ce", "se", "ne",
    "the", "of", "to", "in", "is", "it", "an", "as", "at", "be",
    "by", "or", "so", "we", "if", "my", "up", "no", "do",
    "ad", "ex", "ab")

  /** Reference/citation patterns that look garbled but are valid — page
    * ranges, ISBNs, roman numerals, §refs (reference: quality.py:113-130).
    * Matched with Python `re.match` semantics (anchored at start).
    *
    * Each pattern is paired with the chars its first atom admits (`\d` and
    * `(?i)` are ASCII-only without `(?U)`), so a word runs only the
    * patterns its first char can begin: at most 8 of the 16, and one for a
    * lowercase word starting with a roman-numeral letter. The set of
    * words matched is unchanged (property-tested against all 16).
    */
  private val ValidPatterns: Seq[(String, String)] = Seq(
    "0-9" -> "^\\d+$",
    "0-9" -> "^\\d{1,4}[-–—]+\\d{1,4}$",
    "ivxlcdmIVXLCDM" -> "(?i)^[ivxlcdm]+$",
    "0-9" -> "^\\d{4}$",
    "A-Z" -> "^[A-Z]\\d+$",
    "0-9" -> "^\\d+[a-z]?$",
    "iI" -> "(?i)^ISBN",
    "0-9" -> "^\\d{1,3}\\.\\d",
    "A-Z" -> "^[A-Z]{2,4}\\d",
    "pP" -> "(?i)^pp?\\.\\s*\\d",
    "(" -> "^\\(\\d+\\)$",
    "\\[" -> "^\\[\\d+\\]$",
    "§" -> "^§\\d",
    "0-9" -> "^\\d+[a-z]?[-–—]+\\d+[a-z]?$",
    "0-9" -> "^[\\d][\\d\\-–—]+[\\d]$",
    "0-9" -> "^\\d[\\d.\\-–—/]+\\d$"
  )

  /** ValidPatterns by first char; every first atom admits only chars < 256. */
  private val ValidPatternsByFirst: Array[Array[Pattern]] = {
    val compiled = ValidPatterns.map { case (first, p) =>
      (Pattern.compile(s"[$first]"), Pattern.compile(p))
    }
    Array.tabulate(256)(c =>
      compiled.collect { case (f, p) if f.matcher(c.toChar.toString).matches() => p }.toArray)
  }

  private def isValidReference(w: String): Boolean = {
    val c = w.charAt(0)
    c < 256 && ValidPatternsByFirst(c).exists(_.matcher(w).lookingAt())
  }

  private val StripChars = new CharSet(".,;:!?()[]{}\"'-–—")

  final case class Result(
      score: Double,
      garbledCount: Int,
      totalWords: Int,
      sampleIssues: Seq[String]
  ) {
    def toSignal(threshold: Double): Signal = Signal(
      "garbled",
      score,
      passed = score >= threshold,
      Map(
        "garbled_count" -> garbledCount.toString,
        "total_words" -> totalWords.toString
      )
    )
  }

  private val Neutral = Result(1.0, 0, 0, Nil)

  private val ConsonantSet: Array[Boolean] = {
    val a = new Array[Boolean](128)
    "bcdfghjklmnpqrstvwxz".foreach { c =>
      a(c) = true; a(Character.toUpperCase(c)) = true
    }
    a
  }

  /** Longest run of ASCII consonants — hand-rolled form of the
    * `(?i)[bcdfghjklmnpqrstvwxz]{6,}` detector (the (?i) flag without
    * UNICODE_CASE folds ASCII only, so the table above is exact).
    */
  private def maxConsonantRun(w: String): Int = {
    var best = 0
    var run = 0
    var i = 0
    while (i < w.length) {
      val c = w.charAt(i)
      if (c < 128 && ConsonantSet(c)) { run += 1; if (run > best) best = run }
      else run = 0
      i += 1
    }
    best
  }

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** For an all-ASCII-letter word, `\b[A-Z][a-z]+[A-Z][a-z]*\b` can only
    * anchor at the word's ends, so it matches iff the whole word has the
    * shape Upper lower+ Upper lower*.
    */
  private def weirdCaseShape(w: String): Boolean = {
    if (w.length < 3 || !Character.isUpperCase(w.charAt(0))) return false
    var i = 1
    while (i < w.length && w.charAt(i) >= 'a' && w.charAt(i) <= 'z') i += 1
    if (i < 2 || i >= w.length || !Character.isUpperCase(w.charAt(i))) return false
    i += 1
    while (i < w.length) {
      if (!(w.charAt(i) >= 'a' && w.charAt(i) <= 'z')) return false
      i += 1
    }
    true
  }

  /** Classify one already-stripped word; returns the issue type if garbled.
    * (reference: quality.py:170-199). Hot path: clean lowercase words cost
    * two set lookups and two char scans; regexes only run for words that
    * could possibly match them (equivalence property-tested against the
    * pure-regex form).
    */
  /** toLowerCase without the allocation when the word is already
    * all-lowercase-ASCII (the overwhelmingly common case).
    */
  private def lowerOf(w: String): String = {
    var i = 0
    while (i < w.length && w.charAt(i) >= 'a' && w.charAt(i) <= 'z') i += 1
    if (i == w.length) w else w.toLowerCase
  }

  def classifyWord(wordClean: String): Option[String] = {
    if (wordClean.length < 2) return None
    val lower = lowerOf(wordClean)
    // ValidShort's longest member is 3 chars — longer words can't be in it
    if (wordClean.length <= 3 && ValidShort.contains(lower)) return None
    if (isValidReference(wordClean)) return None
    if (ValidTerms.contains(lower)) return None

    var alphaCount = 0
    var k = 0
    while (k < wordClean.length) {
      if (Character.isLetter(wordClean.charAt(k))) alphaCount += 1
      k += 1
    }
    val alphaRatio = alphaCount.toDouble / wordClean.length
    if (alphaRatio < 0.3 && wordClean.length > 4) return Some("low_alpha")

    // pattern order is semantic (first match wins): consonant_cluster,
    // symbol_run, weird_case, control_char
    if (maxConsonantRun(wordClean) >= 6 && !GermanSuffixes.exists(lower.endsWith))
      return Some("consonant_cluster")

    var allAsciiLetters = true
    var i = 0
    while (allAsciiLetters && i < wordClean.length) {
      if (!isAsciiLetter(wordClean.charAt(i))) allAsciiLetters = false
      i += 1
    }
    if (allAsciiLetters) {
      // symbol_run and control_char provably cannot match ASCII letters
      if (weirdCaseShape(wordClean)) Some("weird_case") else None
    } else {
      GarblePatterns.collectFirst {
        case (p, ptype)
            if ptype != "consonant_cluster" && p.matcher(wordClean).find() =>
          ptype
      }
    }
  }

  /** Score a text. Texts with <100 stripped chars are neutral (score 1.0),
    * matching the reference's short-text rule (quality.py:138-149).
    */
  def score(text: String, maxSamples: Int = 10): Result =
    if (text == null) Neutral else scoreTokens(Tokens(text), maxSamples)

  /** [[score]] over an already tokenized text (the quality gate's one token
    * pass). Each word is Python `word.strip(StripChars)` of its token.
    */
  def scoreTokens(tokens: Tokens, maxSamples: Int): Result = {
    val text = tokens.text
    graft.util.StepBudget.tick(text.length.toLong) // B3 row work budget
    if (tokens.strippedLength < 100) return Neutral
    val total = tokens.size

    var garbled = 0
    val issues = Seq.newBuilder[String]
    var issueCount = 0
    var idx = 0
    while (idx < total) {
      var a = tokens.start(idx)
      var b = tokens.end(idx)
      while (a < b && StripChars.contains(text.charAt(a))) a += 1
      while (b > a && StripChars.contains(text.charAt(b - 1))) b -= 1
      // classifyWord passes every word under 2 chars: skip the allocation
      if (b - a >= 2) {
        val wordClean = text.substring(a, b)
        classifyWord(wordClean) match {
          case Some(issueType) =>
            garbled += 1
            if (issueCount < maxSamples) {
              issueCount += 1
              issues += s"$wordClean ($issueType)"
            }
          case None => ()
        }
      }
      idx += 1
    }
    val ratio = garbled.toDouble / total
    Result(math.max(0.0, 1.0 - ratio * 2), garbled, total, issues.result())
  }
}
