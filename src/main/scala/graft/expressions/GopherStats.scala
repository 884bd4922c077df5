package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `gopher_stats(text)` -> struct of the nine integer counts the Gopher
  * Table-A1 gate reads ([[graft.ops.TextAnalysis.gopherRules]]), from ONE
  * scan of the UTF8String's bytes.
  *
  * Why an Expression: the gate runs over every document before any dedup
  * work, and spelled as Column arithmetic it is a dozen regex extractions
  * and replacements, seven splits and nine lambdas per row, most of them
  * inside conditional branches that subexpression elimination cannot
  * hoist. This expression participates in codegen (a direct static call);
  * every rule reads the one struct, which Catalyst evaluates once per row.
  *
  * The counts, over valid UTF-8 (bit-identical to the Column reference
  * kept in the tests, property-tested):
  *   - `word_count`: tokens, i.e. maximal runs of bytes other than 0x20
  *     and 0x0A (multi-byte code points never contain either byte);
  *   - `alpha_words`: tokens holding an ASCII letter;
  *   - `char_count`: code points other than ' ' and '\n';
  *   - `n_lines`: non-empty segments of the text split on '\n';
  *   - `bullet_lines`: lines starting with "- " or "• ";
  *   - `ellipsis_lines`: lines ending with "..." or "…";
  *   - `hash_count`: '#' characters;
  *   - `ellipsis_count`: "…" characters plus floor(run / 3) per run of '.'
  *     (the non-overlapping matches of "...");
  *   - `stop_hits`: how many of the eight stopwords occur as a token, by
  *     ASCII case folding. A token with any non-ASCII byte never matches,
  *     as under Spark's `lower` (U+212A lowers to 'k', U+0130 to 'i' plus
  *     U+0307, and no stopword holds a 'k').
  * NULL text reads as empty: every count 0, never a NULL struct.
  */
case class GopherStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gopher_stats requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = GopherImpl.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "gopher_stats"

  override def eval(input: InternalRow): Any =
    GopherImpl.stats(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} =
        graft.expressions.GopherImpl.stats(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherImpl {
  private val Fields: Seq[String] = Seq(
    "word_count", "alpha_words", "char_count", "n_lines", "bullet_lines",
    "ellipsis_lines", "hash_count", "ellipsis_count", "stop_hits")
  val Schema: StructType = StructType(Fields.map(StructField(_, IntegerType, nullable = false)))

  private val RowBytes = UnsafeRow.calculateBitSetWidthInBytes(Fields.length) + 8 * Fields.length

  /** A token of at most four bytes as one key: its length above its bytes. */
  private def tokenKey(len: Int, packed: Int): Long = (len.toLong << 32) | (packed & 0xffffffffL)

  /** The Table-A1 stopwords as token keys. */
  private val StopKeys: Array[Long] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => tokenKey(w.length, w.foldLeft(0)((k, ch) => (k << 8) | ch)))

  def stats(s: UTF8String): InternalRow = {
    val row = new UnsafeRow(Fields.length)
    row.pointTo(new Array[Byte](RowBytes), RowBytes)
    if (s == null) return row
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff

    var words, alphaWords, chars, lines, bullets, ellipsisLines, hashes, ellipses = 0
    var stopMask = 0
    // the open token: its length, whether it has an ASCII letter, and its
    // first four bytes ASCII-lowercased (a byte >= 0x80 stays as it is, so
    // a token holding one never equals a stopword's key)
    var tokLen, tokPacked = 0
    var tokAlpha = false
    // the open line: its first byte's index, -1 before it has one
    var lineStart = -1
    var dotRun = 0
    var i = 0
    while (i <= n) {
      // past the last byte, a '\n' closes the open token and line
      val b = if (i < n) at(i) else 0x0a
      if (b == 0x0a) {
        if (lineStart >= 0) {
          lines += 1
          if (i - lineStart >= 3 && (
              (at(i - 3) == '.' && at(i - 2) == '.' && at(i - 1) == '.') ||
              (at(i - 3) == 0xe2 && at(i - 2) == 0x80 && at(i - 1) == 0xa6)))
            ellipsisLines += 1
          lineStart = -1
        }
      } else if (lineStart < 0) {
        lineStart = i
        if ((b == '-' && i + 1 < n && at(i + 1) == 0x20) ||
            (b == 0xe2 && i + 3 < n && at(i + 1) == 0x80 && at(i + 2) == 0xa2 && at(i + 3) == 0x20))
          bullets += 1
      }
      if (b == 0x20 || b == 0x0a) {
        if (tokLen > 0) {
          words += 1
          if (tokAlpha) alphaWords += 1
          if (tokLen <= 4) {
            val key = tokenKey(tokLen, tokPacked)
            var w = 0
            while (w < StopKeys.length) { if (StopKeys(w) == key) stopMask |= 1 << w; w += 1 }
          }
          tokLen = 0
        }
      } else {
        if (tokLen == 0) { tokAlpha = false; tokPacked = 0 }
        tokLen += 1
        if (b < 0x80 && (b | 0x20) >= 'a' && (b | 0x20) <= 'z') tokAlpha = true
        if (tokLen <= 4) tokPacked = (tokPacked << 8) | (if (b >= 'A' && b <= 'Z') b | 0x20 else b)
        if ((b & 0xc0) != 0x80) chars += 1
        if (b == '#') hashes += 1
        else if (b == 0xe2 && i + 2 < n && at(i + 1) == 0x80 && at(i + 2) == 0xa6) ellipses += 1
      }
      if (b == '.') {
        dotRun += 1
        if (dotRun == 3) { ellipses += 1; dotRun = 0 }
      } else dotRun = 0
      i += 1
    }
    row.setInt(0, words)
    row.setInt(1, alphaWords)
    row.setInt(2, chars)
    row.setInt(3, lines)
    row.setInt(4, bullets)
    row.setInt(5, ellipsisLines)
    row.setInt(6, hashes)
    row.setInt(7, ellipses)
    row.setInt(8, Integer.bitCount(stopMask))
    row
  }
}
