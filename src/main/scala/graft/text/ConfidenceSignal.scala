package graft.text

import graft.model.Signal

/** Length-weighted extraction-confidence signal.
  *
  * Semantics from the reference's OCR confidence signal
  * (reference: confidence.py:44-88): score = sum(conf * len(word)) /
  * sum(len(word)) / 100; no valid words -> neutral 0.5. In the graft,
  * per-token confidence comes from the extractor (block-classification
  * margin scaled to 0-100) rather than Tesseract.
  */
object ConfidenceSignal {

  final case class WordConf(text: String, conf: Int)

  final case class Result(
      score: Double,
      wordCount: Int,
      meanConf: Option[Double],
      minConf: Option[Int],
      lowConfWords: Seq[String]
  ) {
    def toSignal: Signal = Signal(
      "confidence",
      score,
      passed = score >= 0.5,
      Map("word_count" -> wordCount.toString) ++
        meanConf.map("mean_conf" -> _.toString) ++
        minConf.map("min_conf" -> _.toString)
    )
  }

  private val Neutral = Result(0.5, 0, None, None, Nil)

  /** Block-granular input: every word in a block shares the block's
    * confidence, so the length-weighted mean only needs per-block
    * (conf, wordCount, charWeight=sum of word lengths) — mathematically
    * identical to the per-word form but allocation-free on the hot path.
    */
  final case class BlockConf(
      conf: Int,
      wordCount: Int,
      charWeight: Long,
      lowConfSample: Seq[String] = Nil
  )

  def scoreBlocks(blocks: Seq[BlockConf]): Result = {
    val valid = blocks.filter(b => b.conf > 0 && b.wordCount > 0)
    if (valid.isEmpty) Neutral
    else {
      var totalWeight = 0L
      var weightedSum = 0.0
      var words = 0
      var minConf = Int.MaxValue
      valid.foreach { b =>
        // floor the weight like the per-word form (math.max(1, len)): a
        // valid block with charWeight 0 must not zero the denominator
        // (NaN would blow up in round2)
        val w = math.max(1L, b.charWeight)
        totalWeight += w
        weightedSum += b.conf.toDouble * w
        words += b.wordCount
        if (b.conf < minConf) minConf = b.conf
      }
      val meanConf = weightedSum / totalWeight
      Result(
        score = meanConf / 100.0,
        wordCount = words,
        meanConf = Some(round2(meanConf)),
        minConf = Some(minConf),
        lowConfWords = valid.filter(_.conf < 30).flatMap(_.lowConfSample).take(20)
      )
    }
  }

  def score(data: Seq[WordConf]): Result = {
    val valid = data.filter(w => w.conf > 0 && w.text.strip().nonEmpty)
    if (valid.isEmpty) Neutral
    else {
      val weights = valid.map(w => math.max(1, w.text.length))
      val totalWeight = weights.sum.toDouble
      val weightedSum = valid.zip(weights).map { case (w, wt) => w.conf.toDouble * wt }.sum
      val meanConf = weightedSum / totalWeight
      Result(
        score = meanConf / 100.0,
        wordCount = valid.size,
        meanConf = Some(round2(meanConf)),
        minConf = Some(valid.map(_.conf).min),
        lowConfWords = valid.filter(_.conf < 30).map(_.text).take(20)
      )
    }
  }

  private def round2(x: Double): Double = HalfEven.round(x, 2)
}
