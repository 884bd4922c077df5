package graft.text

import graft.util.Hashing.isPyWhitespace

/** The tokens of a text under Python `str.split()`: maximal runs of chars
  * that are not [[graft.util.Hashing.isPyWhitespace]], found in one char
  * scan. Token `i` is `text.substring(start(i), end(i))`; no token is empty.
  *
  * The quality gate tokenizes each text once and hands the boundaries to
  * both signals ([[GarbledSignal]], [[DictionarySignal]]), which read the
  * chars in place and allocate only the words they classify.
  */
final class Tokens private (val text: String, bounds: Array[Int], val size: Int) {
  def start(i: Int): Int = bounds(2 * i)
  def end(i: Int): Int = bounds(2 * i + 1)
  def apply(i: Int): String = text.substring(start(i), end(i))

  /** Length of the text after Python `str.strip()`. */
  def strippedLength: Int = if (size == 0) 0 else end(size - 1) - start(0)
}

object Tokens {

  /** Tokenize `text`; null reads as the empty text. */
  def apply(text: String): Tokens = {
    val t = if (text == null) "" else text
    val n = t.length
    var bounds = new Array[Int](32)
    var size = 0
    var i = 0
    while (i < n) {
      while (i < n && isPyWhitespace(t.charAt(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && !isPyWhitespace(t.charAt(i))) i += 1
        if (2 * size + 2 > bounds.length)
          bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
        bounds(2 * size) = s
        bounds(2 * size + 1) = i
        size += 1
      }
    }
    new Tokens(t, bounds, size)
  }
}

/** Membership test for a fixed set of chars: a boolean table indexed by
  * char, so the per-char loops of the signals test a primitive array
  * instead of boxing each char into a `Set[Char]` lookup.
  */
private[text] final class CharSet(chars: String) {
  private val table = {
    val t = new Array[Boolean](chars.max + 1)
    chars.foreach(c => t(c) = true)
    t
  }
  def contains(c: Char): Boolean = c < table.length && table(c)
}
