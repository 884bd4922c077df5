package graft.text

import java.util.regex.{Matcher, Pattern}

/** The postprocess transforms spelled with the unanchored reference
  * patterns (reference: postprocess.py:91-147, the regexes verbatim): the
  * reference that [[Postprocess]]'s anchored, linear-time patterns must
  * reproduce text and counts for (PostprocessProps). Each of these patterns
  * retries a failed run match from every later char of the run, so a long
  * run costs quadratic time: only run it on short texts.
  */
object PostprocessReference {

  private val HyphenBreak = Pattern.compile("(?U)(\\w+)-\\n(\\w+)")
  private val SpaceBeforePunct = Pattern.compile("(?U)[\\s\\x1c-\\x1f]+([.,;:!?])")
  private val MultiSpace = Pattern.compile("  +")
  private val TrailingBeforeNewline = Pattern.compile("[ \\t]+(\\n)")
  private val TrailingAtEnd = Pattern.compile("[ \\t]+\\z")

  private val HyphenatedNames = Set("merleau-ponty", "sartre-beauvoir", "buber-rosenzweig")

  def dehyphenate(text: String): (String, Int) = {
    var rejoined = 0
    val m = HyphenBreak.matcher(text)
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
    (sb.toString, rejoined)
  }

  /** All four substitutions in order, each over the whole text. */
  def normalizePunctuation(text: String): (String, Int) = {
    var fixes = 0
    def subn(p: Pattern, repl: String, t: String): String = {
      val m = p.matcher(t)
      val sb = new java.lang.StringBuilder
      while (m.find()) { fixes += 1; m.appendReplacement(sb, repl) }
      m.appendTail(sb)
      sb.toString
    }
    var t = subn(SpaceBeforePunct, "$1", text)
    t = subn(MultiSpace, " ", t)
    t = subn(TrailingBeforeNewline, "$1", t)
    t = subn(TrailingAtEnd, "", t)
    (t, fixes)
  }

  /** The full chain; the unicode and paragraph steps are the production ones. */
  def apply(text: String): (String, Postprocess.Counts) = {
    val (t1, c1) = Postprocess.normalizeUnicode(text)
    val (t2, dehyph) = dehyphenate(t1)
    val (t3, c3) = Postprocess.joinParagraphs(t2)
    val (t4, punct) = normalizePunctuation(t3)
    (t4, c1 ++ Map("dehyphenations" -> dehyph) ++ c3 ++ Map("punctuation_fixes" -> punct))
  }
}

/** Python `str.split()` by regex: the reference for [[Tokens]]. */
object TokenReference {

  /** A run of Python `str.split()` separators: Unicode White_Space
    * (`(?U)\s`, NBSP included) plus U+001C-U+001F, which `(?U)\s` alone
    * excludes but Python counts.
    */
  val PyWhitespaceRun: Pattern = Pattern.compile("(?U)[\\s\\x1c-\\x1f]+")

  def split(text: String): Seq[String] = PyWhitespaceRun.split(text).filter(_.nonEmpty).toSeq
}
