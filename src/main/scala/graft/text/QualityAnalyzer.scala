package graft.text

import graft.model.{Disagreement, Quality}

/** Composite multi-signal quality analyzer.
  *
  * Semantics from the reference's composite scorer (reference:
  * quality.py:229-342): weighted mean of garbled/dictionary(/confidence)
  * signals — weights {garbled .4, dictionary .3, confidence .3} when
  * confidence is present, else {garbled .55, dictionary .45} — with
  * per-signal floors (confidence .3, garbled .5, dictionary .4), confidence
  * short-circuits (>0.95 lifts the composite to >=0.9; <0.2 caps it at 0.3),
  * and `flagged = composite < threshold || any floor fail`.
  */
final case class QualityAnalyzer(
    threshold: Double = 0.85,
    maxSamples: Int = 10,
    signalFloors: Map[String, Double] =
      Map("confidence" -> 0.3, "garbled" -> 0.5, "dictionary" -> 0.4),
    words: Set[String] = null // null -> bundled list; injectable for broadcast
) {

  private def wordSet: Set[String] =
    if (words == null) DictionarySignal.defaultWords else words

  def analyze(
      text: String,
      confidence: Option[Seq[ConfidenceSignal.WordConf]] = None
  ): Quality =
    analyzeWith(text, confidence.map(ConfidenceSignal.score))

  /** Hot-path entry: confidence already reduced (block-granular form). */
  def analyzeWith(
      text: String,
      conf: Option[ConfidenceSignal.Result]
  ): Quality = {
    // one token pass feeds both signals; a null text is neutral to both
    val tokens = Tokens(text)
    val garbled = GarbledSignal.scoreTokens(tokens, maxSamples)
    val dict = DictionarySignal.scoreTokens(tokens, wordSet)

    val scores: Map[String, Double] =
      Map("garbled" -> garbled.score, "dictionary" -> dict.score) ++
        conf.map("confidence" -> _.score)

    var composite = combine(scores)
    val floorFail = scores.exists { case (name, s) =>
      s < signalFloors.getOrElse(name, 0.0)
    }
    conf.foreach { c =>
      if (c.score > 0.95) composite = math.max(composite, 0.9)
      else if (c.score < 0.2) composite = math.min(composite, 0.3)
    }
    val flagged = composite < threshold || floorFail

    Quality(
      score = composite,
      flagged = flagged,
      garbledCount = garbled.garbledCount,
      totalWords = garbled.totalWords,
      sampleIssues = garbled.sampleIssues,
      signalScores = scores
    )
  }

  /** Weighted composite (reference: quality.py:327-342). */
  def combine(scores: Map[String, Double]): Double = {
    val weights = QualityAnalyzer.weightsFor(scores)
    val totalWeight = scores.keysIterator.map(weights.getOrElse(_, 0.0)).sum
    if (totalWeight == 0) 0.5
    else
      scores.map { case (n, s) => s * weights.getOrElse(n, 0.0) }.sum / totalWeight
  }
}

object QualityAnalyzer {

  /** Composite weight profiles (reference: quality.py:329-332) — the single
    * source for both scoring and the diagnostics sidecar.
    */
  def weightsFor(scores: Map[String, Double]): Map[String, Double] =
    if (scores.contains("confidence"))
      Map("garbled" -> 0.4, "dictionary" -> 0.3, "confidence" -> 0.3)
    else Map("garbled" -> 0.55, "dictionary" -> 0.45)

  val GrayZone = 0.05
  val DisagreementThreshold = 0.3

  /** All pairwise |score_i - score_j| magnitudes, rounded to 4 decimals,
    * in deterministic name order (reference: diagnostics.py:115-133).
    */
  def signalDisagreements(scores: Map[String, Double]): Seq[Disagreement] = {
    val ordered = scores.toSeq.sortBy(_._1)
    for {
      i <- ordered.indices
      j <- (i + 1) until ordered.size
    } yield {
      val (na, sa) = ordered(i)
      val (nb, sb) = ordered(j)
      Disagreement(Seq(na, nb), round4(math.abs(sa - sb)))
    }
  }

  /** Struggle-category classification: 8 independent boolean rules
    * (reference: diagnostics.py:136-227), renamed to the extraction domain
    * where the original names are OCR-specific.
    */
  def classifyStruggle(
      signalScores: Map[String, Double],
      compositeScore: Double,
      threshold: Double,
      engine: String = null,
      heavyScore: Option[Double] = None
  ): Seq[String] = {
    val categories = Seq.newBuilder[String]
    val garbled = signalScores.getOrElse("garbled", 1.0)
    val dictionary = signalScores.getOrElse("dictionary", 1.0)
    val confidence = signalScores.get("confidence")

    // bad_scan fallback rule: unreadable input (no image metrics in the graft)
    if (confidence.exists(c => c < 0.3 && garbled < 0.4))
      categories += "bad_scan"

    if (garbled < 0.7 && dictionary > 0.5) categories += "character_confusion"
    if (dictionary < 0.6 && garbled > 0.7) categories += "vocabulary_miss"
    if (confidence.exists(_ > 0.7) && compositeScore < threshold)
      categories += "layout_error"
    if (dictionary < 0.4 && garbled > 0.4 && garbled < 0.7)
      categories += "language_confusion"

    val disagree = confidence match {
      case Some(c) =>
        Seq(math.abs(garbled - c), math.abs(garbled - dictionary), math.abs(dictionary - c))
          .exists(_ > DisagreementThreshold)
      case None => math.abs(garbled - dictionary) > DisagreementThreshold
    }
    if (disagree) categories += "signal_disagreement"

    if (math.abs(compositeScore - threshold) < GrayZone) categories += "gray_zone"

    // heavy path ran but the row is still flagged (surya_insufficient
    // analogue). A `mixed` doc also ran the heavy engine (on its flagged
    // pages) — both engines mark the category.
    if ((engine == graft.model.Engines.Heavy || engine == graft.model.Engines.Mixed) &&
        heavyScore.exists(_ < threshold))
      categories += "heavy_insufficient"

    categories.result()
  }

  def round4(x: Double): Double = DictionarySignal.round4(x)
}
