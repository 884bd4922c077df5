package graft.text

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.ops.Dedup

/** ScalaCheck properties for the determinism-critical kernels
  * (FIXTURES.md §3: postprocess-chain invariants).
  */
object PostprocessProps extends Properties("Postprocess") {

  private val word: Gen[String] =
    Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)

  private val token: Gen[String] = Gen.frequency(
    8 -> word,
    1 -> Gen.oneOf("ﬁrst", "diﬀerent", "soft­hyphen", "Merleau-Ponty", "12-34"),
    1 -> Gen.oneOf(".", ",", "!", "word,", "(note)", "§4"))

  private val line: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, token)).map(_.mkString(" "))

  private val text: Gen[String] = for {
    nBlocks <- Gen.chooseNum(1, 4)
    blocks <- Gen.listOfN(nBlocks, Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, line).map(_.mkString("\n"))))
  } yield blocks.mkString("\n\n")

  property("normalizePunctuation is idempotent") = forAll(text) { t =>
    val (once, _) = Postprocess.normalizePunctuation(t)
    Postprocess.normalizePunctuation(once)._1 == once
  }

  property("normalizeUnicode is idempotent and leaves no ligatures/soft hyphens") =
    forAll(text) { t =>
      val (once, _) = Postprocess.normalizeUnicode(t)
      Postprocess.normalizeUnicode(once)._1 == once &&
      !"ﬀﬁﬂﬃﬄ­".exists(once.contains(_))
    }

  // The chain is NOT idempotent in general: join_paragraphs' heading rule
  // measures the last appended FRAGMENT (reference: postprocess.py:72
  // `merged_lines[-1]`), so a line kept separate in pass 1 can merge in
  // pass 2 once its predecessor has grown past 60 chars. The reference has
  // the identical behavior — this is the J3 double-postprocess trap
  // (SURVEY.md §2.5): heavy-path output is defined as the SECOND
  // application, which the property below pins as a fixed point.
  property("second application is a fixed point (heavy-path contract)") =
    forAll(text) { t =>
      val settled = Postprocess(Postprocess(t)._1)._1
      Postprocess(settled)._1 == settled
    }

  property("dehyphenate leaves no lowercase line-break hyphens") = forAll(text) { t =>
    val (out, _) = Postprocess.dehyphenate(t)
    // remaining \w-\n\w splices must be capitalized-capitalized (kept on purpose)
    val m = java.util.regex.Pattern.compile("(?U)(\\w+)-\\n(\\w+)").matcher(out)
    var ok = true
    while (m.find()) {
      ok &&= Character.isUpperCase(m.group(1).charAt(0)) &&
        Character.isUpperCase(m.group(2).charAt(0))
    }
    ok
  }

  // ---- linear-time kernels pinned to their regex references ----

  private val supplementaryLetter = new String(Character.toChars(0x1d400)) // MATHEMATICAL BOLD CAPITAL A

  // word pieces: ASCII, capitals, digits, `_`, combining marks and
  // supplementary letters (all `(?U)\w`), and non-word symbols
  private val wordPiece: Gen[String] = Gen.frequency(
    4 -> word,
    1 -> word.map(_.capitalize),
    1 -> Gen.oneOf("1", "42", "_", "a_b", "x1", "e\u0301", "\u00e9t\u00e9",
      supplementaryLetter, s"b$supplementaryLetter", "\u0301", "\u4e2d\u6587"),
    1 -> Gen.oneOf("(", ")", "-", "\u2014", "\"", "'", "#", "\u00a7"))

  // line-break hyphens at word edges and in chains, and proper names
  private val hyphenPiece: Gen[String] = Gen.oneOf(
    "-\n", "a-\nb-\nc", "Merleau-\nPonty", "merleau-\nponty", "Jean-\nPaul",
    "philo-\nsophy", "-\n-\n", "x-\n-\ny", s"$supplementaryLetter-\n$supplementaryLetter",
    "e\u0301-\ne\u0301", "1-\n2", "_-\n_", "well-known", "a-b-\nc", "x--\ny", "-b-\nc")

  private val spacePiece: Gen[String] = Gen.oneOf(
    " ", "  ", "   ", "\t", " \t ", "\n", "\n\n", "\r\n", "\r", "\u00a0", "\u0085",
    "\u2028", "\u2029", "\u001c", "\u001d", "\u001e", "\u001f", "\u3000", "\ufeff")

  private val punctPiece: Gen[String] = Gen.oneOf(".", ",", ";", ":", "!", "?", " .", "\t,", " \n!")

  private val richText: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> wordPiece, 2 -> hyphenPiece, 4 -> spacePiece, 2 -> punctPiece))).map(_.mkString)

  property("anchored postprocess patterns equal the unanchored reference") =
    forAll(richText) { t =>
      val (dehyph, dehyphCount) = PostprocessReference.dehyphenate(t)
      val (punct, punctCount) = PostprocessReference.normalizePunctuation(t)
      Postprocess.dehyphenate(t) == ((dehyph, Map("dehyphenations" -> dehyphCount))) &&
      Postprocess.normalizePunctuation(t) == ((punct, Map("punctuation_fixes" -> punctCount))) &&
      Postprocess(t) == PostprocessReference(t)
    }

  property("isPyWhitespace is the regex separator class on every char") =
    org.scalacheck.Prop((0 to 0xffff).forall { c =>
      graft.util.Hashing.isPyWhitespace(c.toChar) ==
        TokenReference.PyWhitespaceRun.matcher(c.toChar.toString).matches()
    })

  property("the one-pass tokenizer equals the regex split") =
    forAll(Gen.frequency(3 -> richText, 1 -> spacePiece, 1 -> Gen.const(""))) { t =>
      val tokens = Tokens(t)
      (0 until tokens.size).map(tokens(_)) == TokenReference.split(t)
    }

  property("garbled and dictionary scores stay in [0,1]") = forAll(text) { t =>
    val g = GarbledSignal.score(t).score
    val d = DictionarySignal.score(t).score
    g >= 0.0 && g <= 1.0 && d >= 0.0 && d <= 1.0
  }

  // ---- ADVICE-parity fuzz (the fixed Python-parity points, property-pinned
  // so a regression of any of them fails the suite, not just one example) --

  // Python's \s includes U+001C-U+001F; every tokenizer must treat them as
  // word separators, exactly like a space.
  private val pySeparator: Gen[Char] = Gen.oneOf(' ', '\u001c', '\u001d', '\u001e', '\u001f')

  property("U+001C-U+001F separate words identically to a space in all tokenizers") =
    forAll(Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, word)), pySeparator) { (ws, sep) =>
      val spaced = ws.mkString(" ")
      val seped = ws.mkString(sep.toString)
      GarbledSignal.score(seped).score == GarbledSignal.score(spaced).score &&
      DictionarySignal.score(seped).score == DictionarySignal.score(spaced).score && {
        val d = WordDiff.diff(spaced, seped)
        d.additions.isEmpty && d.deletions.isEmpty && d.substitutions.isEmpty
      }
    }

  // Python's $ never matches before a lone final \r: the trailing-space
  // strip must keep spaces/tabs that precede a final carriage return.
  property("trailing whitespace before a final CR survives normalize_punctuation") =
    forAll(line, Gen.oneOf(" ", "\t", " \t")) { (l, pad) =>
      val (out, _) = Postprocess.normalizePunctuation(l + pad + "\r")
      out.endsWith(pad + "\r")
    }

  // Python str.strip() removes NBSP: a short heading padded past 60 chars
  // with NBSP must still measure short and keep its heading break.
  property("NBSP padding never defeats the heading-length check") =
    forAll(Gen.chooseNum(50, 80), word) { (nPad, w) =>
      val heading = ("\u00a0" * nPad) + s"Heading ${w.capitalize}"
      val body = "The body line begins after the heading"
      val (out, _) = Postprocess.joinParagraphs(s"$heading\n$body")
      out == s"$heading\n$body"
    }

  property("round4 is stable (round4(round4(x)) == round4(x))") =
    forAll(Gen.chooseNum(0.0, 1.0)) { x =>
      val r = DictionarySignal.round4(x)
      DictionarySignal.round4(r) == r
    }

  private def shingleParity(t: String, n: Int): Boolean = {
    val native = graft.expressions.ShingleImpl.hashes(
      org.apache.spark.unsafe.types.UTF8String.fromString(t), n).toLongArray()
    java.util.Arrays.equals(native, Dedup.shingleHashes(t, n))
  }

  property("native byte-range shingle hashing equals the string kernel") =
    forAll(text, Gen.oneOf(1, 2, 4, 7))(shingleParity)

  // arbitrary BMP text (multi-byte UTF-8, control chars, consecutive
  // spaces); surrogates excluded — an unpaired surrogate has no UTF-8
  // round-trip, so no byte-level contract exists to pin there
  private val arbitraryBmp: Gen[String] = Gen.listOf(
    Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e),
      2 -> Gen.const(0x20),
      2 -> Gen.choose(0x00a0, 0x2fff),
      1 -> Gen.choose(0x4e00, 0x9fff),
      1 -> Gen.choose(0x00, 0x1f))).map(_.map(_.toChar).mkString)

  property("native shingle hashing equals the kernel on arbitrary BMP strings") =
    forAll(arbitraryBmp, Gen.oneOf(1, 3, 4))(shingleParity)

  property("shingle hashing is order-canonical and deterministic") =
    forAll(Gen.listOfN(20, word)) { ws =>
      val t = ws.mkString(" ")
      java.util.Arrays.equals(Dedup.shingleHashes(t, 4), Dedup.shingleHashes(t, 4)) && {
        val sh = Dedup.shingleHashes(t, 4)
        sh.sorted.sameElements(sh) // sorted-set contract
      }
    }

  // Pure-regex reference form of the garble classifier (quality.py:170-199
  // literally) — the production classifyWord takes equivalence-preserving
  // fast paths; this property pins them to the regex semantics.
  private object RegexRef {
    import java.util.regex.Pattern
    val patterns = Seq(
      Pattern.compile("(?i)[bcdfghjklmnpqrstvwxz]{6,}") -> "consonant_cluster",
      Pattern.compile("(?U)[^\\w\\s.,;:!?'\"\\-–—…*()]{3,}") -> "symbol_run",
      Pattern.compile("(?U)\\b[A-Z][a-z]+[A-Z][a-z]*\\b") -> "weird_case",
      Pattern.compile("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]") -> "control_char")
    val suffixes = Seq("keit", "heit", "ung", "schaft", "lich", "isch", "tum", "nis")
    val validPatterns = Seq(
      "^\\d+$", "^\\d{1,4}[-\u2013\u2014]+\\d{1,4}$", "(?i)^[ivxlcdm]+$", "^\\d{4}$",
      "^[A-Z]\\d+$", "^\\d+[a-z]?$", "(?i)^ISBN", "^\\d{1,3}\\.\\d", "^[A-Z]{2,4}\\d",
      "(?i)^pp?\\.\\s*\\d", "^\\(\\d+\\)$", "^\\[\\d+\\]$", "^\u00a7\\d",
      "^\\d+[a-z]?[-\u2013\u2014]+\\d+[a-z]?$", "^[\\d][\\d\\-\u2013\u2014]+[\\d]$",
      "^\\d[\\d.\\-\u2013\u2014/]+\\d$").map(Pattern.compile)
    def validReference(w: String): Boolean =
      validPatterns.exists(_.matcher(w).lookingAt())
    def classify(w: String): Option[String] = {
      if (w.length < 2) return None
      val lower = w.toLowerCase
      val alphaRatio = w.count(Character.isLetter).toDouble / w.length
      if (alphaRatio < 0.3 && w.length > 4) return Some("low_alpha")
      val german = suffixes.exists(lower.endsWith)
      patterns.collectFirst {
        case (p, t) if !(t == "consonant_cluster" && german) && p.matcher(w).find() => t
      }
    }
  }

  private val trickyWord: Gen[String] = Gen.frequency(
    4 -> word,
    2 -> Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaChar,
        Gen.oneOf('@', '#', '$', '%', '1', '\u0001', '\u00df', '\u00e9')))).map(_.mkString),
    2 -> Gen.chooseNum(3, 9).flatMap(n => Gen.listOfN(n, Gen.alphaChar)).map(_.mkString),
    1 -> Gen.oneOf("GarBled", "AbCdEf", "ABc", "AbCD", "bcdfghjk", "xylophonesque",
      "freundlichkeit", "mnbvcxzlich", "a@#$%b", "Ab", "aB", "AaA", "AbCd"),
    // reference shapes (every ValidPatterns entry) and near misses
    1 -> Gen.oneOf("xiv", "MCMXC", "mixed", "civic", "Isbn978", "isbnx", "ISBN",
      "pp.12", "P. 3", "p.x", "ppp.1", "(12)", "(1a)", "[3]", "[x]", "\u00a712", "\u00a7x",
      "12-34", "1999", "12a", "3\u20134", "1.2", "1.x", "AB12", "ABCDE1", "A12", "a12",
      "12b-13c", "1--2", "1/2/3", "1.2.3", "\u0661\u0662", "\u00c912"),
    // any first char below 256, then reference-ish tails
    1 -> (for {
      c <- Gen.choose(0x21, 0xff).map(_.toChar)
      tail <- Gen.listOfN(3, Gen.oneOf('1', '2', '.', '-', 'i', 'v', 'p', ')', ']', 'x'))
    } yield (c +: tail).mkString))

  property("classifyWord fast paths match the pure-regex reference") =
    forAll(trickyWord) { w =>
      val lower = w.toLowerCase
      // stages production has but the stripped regex reference omits:
      // whitelists and valid-reference patterns make production return None
      val whitelisted = w.length < 2 ||
        GarbledSignal.ValidTerms.contains(lower) ||
        Set("a", "i", "\u00e0", "y", "\u00f4", "le", "la", "de", "du", "un", "en",
          "et", "ou", "au", "il", "je", "tu", "on", "ce", "se", "ne",
          "the", "of", "to", "in", "is", "it", "an", "as", "at", "be",
          "by", "or", "so", "we", "if", "my", "up", "no", "do",
          "ad", "ex", "ab").contains(lower) ||
        RegexRef.validReference(w)
      if (whitelisted) GarbledSignal.classifyWord(w).isEmpty
      else GarbledSignal.classifyWord(w) == RegexRef.classify(w)
    }


  property("identical texts have identical minhash signatures and simhash") =
    forAll(Gen.listOfN(30, word)) { ws =>
      val t = ws.mkString(" ")
      val s1 = Dedup.minhashSignature(Dedup.shingleHashes(t, 4), 32)
      val s2 = Dedup.minhashSignature(Dedup.shingleHashes(t, 4), 32)
      java.util.Arrays.equals(s1, s2) && Dedup.simhash64(t) == Dedup.simhash64(t)
    }
}
