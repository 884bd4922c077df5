package graft.util

/** Shared deterministic hashing + Python-parity character classes. */
object Hashing {

  /** splitmix64 finalizer — stable across JVMs; the single definition used
    * by corpus generation, dedup sketching and LSH seeding.
    * (graft.expressions.SimHashImpl carries a private copy because codegen
    * must call a static method on a stable class name.)
    */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of a byte array via a char-table loop. Identical output
    * to `bytes.map("%02x".format(_)).mkString`, which it replaces in the
    * per-row hash paths (r7): the format idiom allocates a
    * `java.util.Formatter` + boxed argument PER BYTE — measurable overhead
    * when a digest is emitted for every document of a corpus.
    */
  def hexLower(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = HexChars(b >>> 4)
      out(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Python-`str.isspace()` / `(?U)\s` character test (Unicode White_Space):
    * Character.isWhitespace alone EXCLUDES U+00A0/U+2007/U+202F and U+0085,
    * which Python's \s and str.split() include — the NBSP parity watchpoint.
    * U+001C-U+001F count too, as in Python's `str.split()`. ASCII chars take
    * a range test; the whole char set is pinned to the regex form
    * `(?U)[\s\x1c-\x1f]` in the test suite.
    */
  def isPyWhitespace(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r') || (c >= 0x1c && c <= 0x1f)
    else
      Character.isWhitespace(c) ||
        Character.getType(c) == Character.SPACE_SEPARATOR || c == 0x85.toChar
}
