package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Gopher Table-A1 gate spelled as pure Column arithmetic: regex
  * extraction, splits and lambdas over the text, no native expression —
  * the reference that [[TextAnalysis.gopherRules]] must reproduce column
  * for column (GopherStatsSpec). Same output schema as `gopherRules`.
  */
object GopherReference {

  def rules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: columns(col("text")).map { case (n, c) => c.as(n) }: _*)

  private def columns(textCol: Column): Seq[(String, Column)] = {
    import TextAnalysis.markerCount
    val t = coalesce(textCol, lit(""))
    val flat = regexp_replace(t, "\n", " ")
    val words = regexp_extract_all(t, lit("[^ \n]+"), lit(0))
    val wordCount = size(words)
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val charCount = length(regexp_replace(t, "[ \n]", ""))
    val lines = filter(split(t, "\n"), l => l =!= "")
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l => l.startsWith("- ") || l.startsWith("• ")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...") || l.endsWith("…")))
    // markerCount's space padding cannot create occurrences of these
    // markers, so it counts them exactly (and keeps one counting idiom)
    val hashCount = markerCount(flat, "#")
    val ellipsisCount = markerCount(flat, "...") + markerCount(flat, "…")
    def perWord(c: Column) =
      when(wordCount > 0, c.cast("double") / wordCount).otherwise(lit(0.0))
    val symbolRatio = perWord(hashCount + ellipsisCount)
    val meanWordLen = perWord(charCount)
    def perLine(c: Column) =
      when(nLines > 0, c.cast("double") / nLines).otherwise(lit(0.0))
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val padded = concat(lit(" "), lower(flat), lit(" "))
    val stopHits = stopwords
      .map(w => when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)

    val rWordCount = wordCount.between(50, 100000)
    val rMeanLen = meanWordLen.between(3.0, 10.0)
    val rSymbol = symbolRatio < 0.1
    val rBullet = perLine(bulletLines) <= 0.9
    val rEllipsis = perLine(ellipsisLines) <= 0.3
    val rAlpha = perWord(alphaWords) >= 0.8
    val rStop = stopHits >= 2

    Seq(
      "word_count" -> wordCount.cast("long"),
      "mean_word_len" -> round(meanWordLen, 4),
      "symbol_ratio" -> round(symbolRatio, 4),
      "alpha_word_frac" -> round(perWord(alphaWords), 4),
      "stop_hits" -> stopHits.cast("int"),
      "r_word_count" -> rWordCount,
      "r_mean_word_len" -> rMeanLen,
      "r_symbol_ratio" -> rSymbol,
      "r_bullet_lines" -> rBullet,
      "r_ellipsis_lines" -> rEllipsis,
      "r_alpha_words" -> rAlpha,
      "r_stopwords" -> rStop,
      "keep" ->
        (rWordCount && rMeanLen && rSymbol && rBullet && rEllipsis && rAlpha && rStop)
    )
  }
}
