package graftbench

import graft.corpus.CorpusGen
import graft.ops.Dedup

/** Seeded input generators for the workloads. Every value is a pure
  * function of (seed, index), so a seed always yields the same inputs and
  * the output checks can regenerate the ground truth without storing it.
  * The program only ever sees the materialized tables.
  */
object Gen {

  private def rng(seed: Long, idx: Long, stream: Long): Long =
    CorpusGen.rng(seed, idx, stream) >>> 1

  /** A deterministic sample of `k` indices from `[0, n)`. */
  def sampleIdx(seed: Long, n: Long, k: Int): Seq[Long] =
    (0 until k).map(j => rng(seed, j, 9001) % n).distinct

  // -- crawl_table -------------------------------------------------------------

  /** Failure kind the corpus generator plants at row `idx` (CorpusGen's
    * class taxonomy): classes 15-18 are failure rows, and class 17 carries
    * an oversized payload only below index 1000.
    */
  def crawlPlantedFailure(idx: Long): Option[String] = CorpusGen.rowClass(idx) match {
    case 15 => Some("no_payload")
    case 16 => Some("pdf_parse")
    case 17 if idx < 1000 => Some("oversized_payload")
    case 18 => Some("unknown_lang")
    case _ => None
  }

  // -- corpus_dedup ------------------------------------------------------------

  /** Slot roles inside each block of 20 logical documents. */
  val BlockSize = 20
  val ClusterSlots: Seq[Int] = 11 to 14 // one near-duplicate cluster
  val CopySource = 15 // copied verbatim by slots 16 and 17
  val ClusterCopy = 18 // verbatim copy of cluster member 11
  val JunkSlot = 19 // too short: the quality gate drops it
  val Hosts = 40
  val ShingleN = 4
  val Threshold = 0.8

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Int)

  private val Function = Vector("the", "of", "and", "to", "that", "with", "have", "be")
  private val Syllables = Vector(
    "ka", "lo", "mer", "ti", "sun", "dra", "vel", "po", "nis", "ar", "que", "bel",
    "tor", "min", "sa", "ul", "ren", "gos", "fi", "dem", "ax", "lu", "pre", "hal")
  private val Vocab: Vector[String] = (Function ++ (0 until 3000).map { w =>
    val k = Syllables.size
    Syllables(w % k) + Syllables(w / k % k) + (if (w >= k * k) Syllables(w / (k * k)) else "")
  }).distinct

  /** Word draw: half the time uniform over the vocabulary, half Zipf-like
    * (log-uniform rank, function words first), so common words and phrases
    * recur across documents while most 4-grams stay rare, as in running text.
    */
  private def word(seed: Long, idx: Long, stream: Long): String = {
    val x = rng(seed, idx, stream)
    val u = (x % 1000000L) / 1000000.0
    val r =
      if ((x >>> 40) % 2 == 0) (u * Vocab.size).toInt
      else math.exp(u * math.log(Vocab.size + 1.0)).toInt - 1
    Vocab(math.min(Vocab.size - 1, math.max(0, r)))
  }

  private def body(seed: Long, key: Long): Array[String] = {
    val n = 120 + (rng(seed, key, 1) % 130).toInt
    Array.tabulate(n)(i => word(seed, key, 100 + i))
  }

  private def header(h: Int): String =
    s"Home News Archive Contact site$h Subscribe Login Search the site$h network today"

  private def footer(h: Int): String =
    s"Copyright site$h media group. All rights reserved. Privacy policy and terms of use " +
      s"apply to every page of site$h including cookie settings and advertising choices."

  private def render(h: Int, words: Array[String]): String = {
    val sb = new StringBuilder(header(h)).append('\n')
    var i = 0
    while (i < words.length) {
      if (i > 0) sb.append(if (i % 12 == 0) ". " else " ")
      sb.append(words(i)); i += 1
    }
    sb.append(".\n").append(footer(h)).toString
  }

  /** The logical-slot -> doc_id bijection: scatters blocks over the id space
    * so cluster members and copies are not id-adjacent.
    */
  def docId(seed: Long, n: Long, slot: Long): Long = {
    val stride = 1000003L // prime; n is never a multiple of it
    require(n % stride != 0)
    Math.floorMod(slot * stride + seed * 7919L, n)
  }

  private def hostOf(seed: Long, block: Long, slot: Int): Int = {
    // half the clusters are revisions on one host, half are syndicated
    // copies whose members each carry another host's chrome
    val syndicated = rng(seed, block, 2) % 2 == 1
    val member = if (syndicated && ClusterSlots.contains(slot)) slot else 0
    (rng(seed, block * BlockSize + member, 3) % Hosts).toInt
  }

  private def logicalText(seed: Long, slot: Long): (Int, String) = {
    val block = slot / BlockSize
    val s = (slot % BlockSize).toInt
    s match {
      case JunkSlot => (0, s"Buy now!!! ${word(seed, slot, 7)} ### click ### here ...")
      case CopySource | 16 | 17 =>
        val src = block * BlockSize + CopySource
        val h = hostOf(seed, block, CopySource)
        (h, render(h, body(seed, src)))
      case ClusterCopy => logicalText(seed, block * BlockSize + ClusterSlots.head)
      case m if ClusterSlots.contains(m) =>
        val base = body(seed, block * BlockSize + 1000000000L)
        val edits = 1 + (rng(seed, slot, 4) % 4).toInt
        (0 until edits).foreach { e =>
          val pos = (rng(seed, slot, 10 + e) % base.length).toInt
          base(pos) = word(seed, slot, 50 + e)
        }
        val h = hostOf(seed, block, m)
        (h, render(h, base))
      case _ =>
        val h = (rng(seed, slot, 3) % Hosts).toInt
        (h, render(h, body(seed, slot)))
    }
  }

  def doc(seed: Long, n: Long, slot: Long): Doc = {
    val (h, text) = logicalText(seed, slot)
    Doc(docId(seed, n, slot), text, "en", s"site$h.example", text.length)
  }

  def docs(seed: Long, n: Long): IndexedSeq[Doc] = {
    require(n % BlockSize == 0, s"document count must be a multiple of $BlockSize")
    (0L until n).map(doc(seed, n, _))
  }

  /** Ground truth the corpus_dedup checks compare against. */
  final case class DedupTruth(
      survivors: Set[Long], // expected PrepareJob survivors
      nearDupPairs: Set[(Long, Long)], // surviving pairs with true Jaccard >= threshold
      textById: Map[Long, String])

  def shingleJaccard(a: String, b: String): Double = {
    val sa = Dedup.shingleHashes(a, ShingleN).toSet
    val sb = Dedup.shingleHashes(b, ShingleN).toSet
    val common = sa.intersect(sb).size
    common.toDouble / (sa.size + sb.size - common)
  }

  /** The program's score is rounded half-up to 4 decimals before the
    * threshold test; the truth applies the same rounding.
    */
  def meetsThreshold(j: Double): Boolean =
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= Threshold

  def dedupTruth(all: IndexedSeq[Doc]): DedupTruth = {
    // exact groups keep their minimum id; junk never passes the gate
    val canonical: Map[String, Long] = all.indices
      .filterNot(_ % BlockSize == JunkSlot)
      .map(all(_))
      .groupBy(_.text)
      .map { case (t, ds) => t -> ds.map(_.doc_id).min }
    val pairs = Set.newBuilder[(Long, Long)]
    (0 until all.size / BlockSize).foreach { b =>
      val members = ClusterSlots.map(s => all(b * BlockSize + s).text).distinct.map(t => (canonical(t), t))
      for (x <- members; y <- members if x._1 < y._1 && meetsThreshold(shingleJaccard(x._2, y._2)))
        pairs += ((x._1, y._1))
    }
    DedupTruth(canonical.values.toSet, pairs.result(), all.map(d => d.doc_id -> d.text).toMap)
  }
}
