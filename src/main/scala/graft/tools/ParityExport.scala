package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.corpus.CorpusGen
import graft.text.{DictionarySignal, Postprocess}

/** One exported row per input text: the three row-local kernel outputs that
  * `scripts/parity_reference.py` re-computes with the REAL reference Python
  * (postprocess.py:150-156, quality.py:136-226, dictionary.py:99-163) and
  * byte/value-diffs. Field prefixes: c_* postprocess counters, g_* garbled
  * signal, d_* dictionary signal.
  */
final case class ParityRow(
    id: String,
    text: String,
    post_text: String,
    c_unicode: Int,
    c_dehyph: Int,
    c_parajoin: Int,
    c_punct: Int,
    g_score: Double,
    g_count: Int,
    g_total: Int,
    g_issues: Seq[String],
    d_score: Double,
    d_known: Int,
    d_structured: Int,
    d_garbled: Int,
    d_total: Int,
    qa_score: Double,
    qa_flagged: Boolean
)

/** Reference-as-oracle parity export (VERDICT r3 "Next round" #1).
  *
  * The strongest gate available for the regex/whitelist kernels is the
  * reference implementation itself: this tool runs `Postprocess.apply`,
  * `GarbledSignal.score` and `DictionarySignal.score` over (a) the
  * driver-generated documents table, (b) a deterministic jitter corpus that
  * exercises every transform trigger (ligatures, soft hyphens, line-break
  * hyphenation incl. the protected proper names, paragraph joins, NBSP,
  * U+001C-001F separators, CR line endings, double spaces,
  * space-before-punctuation, garbled/German/vocabulary-miss tokens), and
  * (c) a hand-built edge corpus of the known Python/JVM divergence traps.
  * `scripts/parity_reference.py` then replays the same inputs through the
  * actual reference Python (with its native-dependency imports stubbed) and
  * reports any mismatch. Usage:
  *
  *   sbt "runMain graft.tools.ParityExport /root/testdata/sf0.1 /tmp/parity"
  *   python3 scripts/parity_reference.py /tmp/parity PARITY.md
  */
object ParityExport {

  private val Ligatures = Vector("ﬀ", "ﬁ", "ﬂ", "ﬃ", "ﬄ")

  /** Deterministic jittered document: clean paragraphs with transform
    * triggers injected by seeded coin flips. Each trigger class fires on an
    * independent rng stream so the corpus covers the cross product over
    * enough rows.
    */
  def jitterText(seed: Long, idx: Long): String = {
    def bit(stream: Long): Boolean = (CorpusGen.rng(seed, idx, stream) & 1L) == 1L
    def int(stream: Long, lo: Int, hi: Int): Int =
      lo + ((CorpusGen.rng(seed, idx, stream) >>> 1) % (hi - lo + 1)).toInt

    val nParas = int(1, 2, 4)
    val paras = (0 until nParas).map { p =>
      var t = CorpusGen.paragraph(seed, idx, 9000 + p, int(9100 + p, 2, 4))

      // single newlines inside the paragraph (join_paragraphs trigger)
      if (bit(10 + p)) {
        val words = t.split(" ")
        t = words.zipWithIndex
          .map { case (w, i) => if (i > 0 && i % 7 == 0 && bit(20L + i)) "\n" + w else " " + w }
          .mkString("")
          .trim
      }
      // line-break hyphenation: split a word across a newline
      if (bit(30 + p)) {
        val words = t.split(" ")
        t = words.zipWithIndex.map { case (w, i) =>
          if (i % 11 == 5 && w.length > 6 && w.forall(_.isLetter))
            w.substring(0, w.length / 2) + "-\n" + w.substring(w.length / 2)
          else w
        }.mkString(" ")
      }
      // protected hyphenated proper names at a line break
      if (idx % 17 == p)
        t = t + " Merleau-\nPonty argued otherwise; sartre-\nbeauvoir concur."
      // ligatures and soft hyphens
      if (bit(40 + p))
        t = t.replace("fi", Ligatures(1)).replace("fl", Ligatures(2))
      if (bit(50 + p)) {
        val words = t.split(" ")
        t = words.zipWithIndex.map { case (w, i) =>
          if (i % 9 == 4 && w.length > 4) w.substring(0, 2) + "­" + w.substring(2)
          else w
        }.mkString(" ")
      }
      // spacing / punctuation jitter
      if (bit(60 + p)) t = t.replace(". ", " .  ")
      if (bit(70 + p)) t = t.replace(", ", " , ")
      if (bit(80 + p)) t = t.replaceAll("(?m) $", " \t ")
      // exotic whitespace
      if (bit(90 + p)) t = t.replaceFirst(" ", " ")
      if (bit(100 + p)) t = t + "" + "trailing" + "" + "words"
      // token-class injections (garbled / German / vocabulary-miss)
      val injected = int(110 + p, 0, 2) match {
        case 0 => t
        case 1 =>
          t + " " + Vector("xkqzwvbn", "a1@b2#c3$", "=+=+=+", "WoRdCase")(int(120 + p, 0, 3)) +
            " " + Vector("dasein", "zuhandenheit", "wissenschaft", "möglichkeit")(int(130 + p, 0, 3))
        case _ =>
          t + " " + Vector("quodlibet", "apeiron", "semiosis", "parousia")(int(140 + p, 0, 3)) +
            " p.123 (1987) xiv"
      }
      injected
    }
    var doc = paras.mkString("\n\n")
    if (bit(200)) doc = doc.replace("\n", "\r\n")
    if (bit(210)) doc = doc + "   "
    if (bit(220)) doc = "\n\n" + doc
    doc
  }

  /** Known Python/JVM divergence traps, each exercised directly. */
  val edgeCorpus: Seq[String] = Seq(
    "",
    " ",
    "\n",
    "\r\n",
    "\t\t",
    " ",
    "  word  ",
    "",
    "abcef",
    "word  .",
    "x",
    "ab",
    "the",
    "12345",
    "3.14",
    "p.123",
    "pp. 45-67",
    "(1987)",
    "[12]",
    "xiv",
    "MCMXCIV",
    "#$%@!",
    "=+=+=+=+",
    "ﬀﬁﬂﬃﬄ",
    "sufﬁx oﬀer reﬂect",
    "af­ford pre­tend",
    "étude déjà vu",
    "étude déjà vu",
    "philo-\nsophy",
    "philo-\r\nsophy",
    "merleau-\nponty",
    "Merleau-\nPonty",
    "MERLEAU-\nPONTY",
    "sartre-\nbeauvoir",
    "buber-\nrosenzweig",
    "well-\nknown re-\nmark",
    "a-\nb",
    "1-\n2",
    "line one\nline two\n\npara two",
    "one\n\n\n\ntwo",
    "  leading and trailing  ",
    "word ,  other ;x : y !z ?w .",
    "double  spaces   here",
    "trailing space \nper line \n",
    "tab\t\nbefore newline",
    "tail space at end ",
    "tail tab at end\t",
    "ends with cr \r",
    "ends with crlf \r\n",
    "bcdfghjk lmnpqrst",
    "xkqzwvbn tzvwxkqp zzzzzqk",
    "GarBleD WoRdCase mIxEdUp",
    "a1@b2#c3$ d4%e5^f6&",
    "schlecht tzsch dasein zuhandenheit",
    "wissenschaft weltanschauung bewusstsein",
    "möglichkeit notwendigkeit",
    "quodlibet apeiron semiosis kenosis",
    "“smart quotes” and ‘single’ — em–en… dashes",
    "ellipsis… mid… sentence",
    "ΛΟΓΟΣ λόγος ἀρχή",
    "mixed Ελληνικά and latin",
    "aaaab bbbba abababab xyxyxy",
    "don't can't won't o'clock",
    "co-operate re-enter self-aware",
    ("long paragraph " * 40).trim,
    ("the reading question history language meaning truth reason world " * 8).trim,
    (0 until 30).map(i => s"line $i with words").mkString("\n"),
    (0 until 10).map(i => s"para $i sentence one. sentence two.").mkString("\n\n")
  )

  /** Word list loaded with the reference's `_load_words` semantics
    * (dictionary.py:25-34: strip, lower, drop empties). The dictionary
    * kernel is parameterized by its word set on BOTH sides (the reference
    * takes `custom_vocab_path`, the Scala kernel takes `words`), so parity
    * is checked with one shared list — by default the reference's own
    * bundled `data/wordlist.txt`, proving the KERNEL is value-identical
    * independent of which vocabulary a deployment ships.
    */
  def loadWords(path: String): Set[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.strip().toLowerCase).filter(_.nonEmpty).toSet
    finally src.close()
  }

  def computeRow(id: String, text: String, words: Set[String]): ParityRow = {
    val t = if (text == null) "" else text
    val (post, counts) = Postprocess.apply(t)
    // composite quality (A4): no confidence signal — the pure two-signal
    // path the reference's analyze(text) takes with confidence_data=None.
    // ONE analyzer pass supplies the garbled fields too (it runs both
    // kernels internally); only the dictionary detail counts need the one
    // extra direct call.
    val qa = graft.text.QualityAnalyzer(words = words).analyzeWith(t, None)
    val d = DictionarySignal.score(t, words)
    ParityRow(
      id = id,
      text = t,
      post_text = post,
      c_unicode = counts.getOrElse("unicode_normalizations", 0),
      c_dehyph = counts.getOrElse("dehyphenations", 0),
      c_parajoin = counts.getOrElse("paragraph_joins", 0),
      c_punct = counts.getOrElse("punctuation_fixes", 0),
      g_score = qa.signalScores("garbled"),
      g_count = qa.garbledCount,
      g_total = qa.totalWords,
      g_issues = qa.sampleIssues,
      d_score = d.score,
      d_known = d.knownCount,
      d_structured = d.unknownStructured,
      d_garbled = d.unknownGarbled,
      d_total = d.total,
      qa_score = qa.score,
      qa_flagged = qa.flagged
    )
  }

  def export(
      spark: SparkSession,
      sfDir: String,
      nSynthetic: Long,
      wordlistPath: String): Dataset[ParityRow] = {
    import spark.implicits._
    val words = spark.sparkContext.broadcast(loadWords(wordlistPath))
    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .as[(Long, String)]
      .map { case (docId, text) => ("doc:" + docId, text) }
    val synth = spark
      .range(nSynthetic)
      .map(i => ("jitter:" + i, jitterText(0xC0FFEE42L, i)))
    val edges = spark.createDataset(
      edgeCorpus.zipWithIndex.map { case (t, i) => ("edge:" + i, t) })
    docs.union(synth).union(edges).map { case (id, t) =>
      computeRow(id, t, words.value)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/parity"
    val nSynthetic = if (args.length > 2) args(2).toLong else 6000L
    val wordlistPath =
      if (args.length > 3) args(3)
      else "/root/reference/src/scholardoc_ocr/data/wordlist.txt"
    val spark = LocalSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val ds = export(spark, sfDir, nSynthetic, wordlistPath)
      ds.coalesce(4).write.mode("overwrite").parquet(outDir)
      println(s"""{"parity_export":"$outDir","rows":${spark.read.parquet(outDir).count()}}""")
    } finally spark.stop()
  }
}
