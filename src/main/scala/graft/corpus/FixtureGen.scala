package graft.corpus

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.job.ExtractionJob
import graft.tools.LocalSession

/** One-shot golden-fixture generator (the reference's corpus-baseline
  * discipline, tests/corpus/baselines/: outputs are generated once, hand
  * verified, then FROZEN — tests regress against the committed bytes, they
  * never regenerate them).
  *
  * Writes, for the first 100 rows of the seed-42 tiny corpus:
  *   src/test/resources/fixtures/extracted/doc_<idx>.txt   (byte-compared)
  *   src/test/resources/fixtures/metadata.tsv              (engine/quality/flags)
  */
object FixtureGen {
  val Rows = 100L
  // spliced mixed-engine PDFs (ids Rows..Rows+SplicedRows-1): one clean
  // page + jittered pages -> per-page selective heavy splice -> `mixed`
  val SplicedRows = 3L
  // REAL ISO 32000 containers
  // (ids Rows+SplicedRows..Rows+SplicedRows+RealPdfRows-1):
  // single-column / two-column / Flate+hex+split variants through the
  // PdfContainer front-end (round 4)
  val RealPdfRows = 3L
  // MODERN container (id Rows+SplicedRows+RealPdfRows): PDF 1.5 xref
  // stream + packed ObjStm + PNG Up predictor
  val ModernPdfRows = 1L
  // CID/Type0 container (id Rows+SplicedRows+RealPdfRows+ModernPdfRows):
  // Identity-H composite font + ToUnicode CMap, non-Latin-1 text (round 5)
  val CidPdfRows = 1L
  // ENCRYPTED owner-password-only containers (ids ...+CidPdfRows onward):
  // RC4-128 classic, AES-128 modern, and AES-256 (V5/R6) modern — empty
  // user password in all three: decrypt transparently and extract
  // byte-identically to plaintext (round 6)
  val EncPdfRows = 3L

  def main(args: Array[String]): Unit = {
    val out = Paths.get(
      if (args.nonEmpty) args(0) else "src/test/resources/fixtures")
    implicit val spark: SparkSession = LocalSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = CorpusGen.pages(spark, Rows).toDF()
      .unionByName(CorpusGen.splicedPages(spark, Rows, SplicedRows).toDF())
      .unionByName(
        CorpusGen.realPdfPages(spark, Rows + SplicedRows, RealPdfRows).toDF())
      .unionByName(
        CorpusGen.modernPdfPages(
          spark, Rows + SplicedRows + RealPdfRows, ModernPdfRows).toDF())
      .unionByName(
        CorpusGen.cidPdfPages(
          spark, Rows + SplicedRows + RealPdfRows + ModernPdfRows, CidPdfRows).toDF())
      .unionByName(
        CorpusGen.encryptedPdfPages(
          spark, Rows + SplicedRows + RealPdfRows + ModernPdfRows + CidPdfRows,
          EncPdfRows).toDF())
    val cfg = ExtractionJob.JobConfig(numGroups = 8, numPartitions = 4, diagnostics = true)
    val results = ExtractionJob.extract(pages, cfg).collect().sortBy(_.url)

    Files.createDirectories(out.resolve("extracted"))
    val meta = new StringBuilder(
      "idx\turl\tengine\tsuccess\terror\tflagged\tscore\tgarbled\tdict\tspans\tstruggles\n")
    results.foreach { r =>
      val idx = r.url.substring(r.url.lastIndexOf('/') + 1).toLong
      Files.write(
        out.resolve("extracted").resolve(s"doc_$idx.txt"),
        r.extracted_text.getBytes(StandardCharsets.UTF_8))
      val struggles = r.diagnostics.map(_.struggleCategories.mkString(",")).getOrElse("")
      meta.append(
        s"$idx\t${r.url}\t${r.engine}\t${r.success}\t${Option(r.error).getOrElse("")}\t" +
          s"${r.quality.flagged}\t${fmt(r.quality.score)}\t" +
          s"${fmt(r.quality.signalScores.getOrElse("garbled", -1.0))}\t" +
          s"${fmt(r.quality.signalScores.getOrElse("dictionary", -1.0))}\t" +
          s"${r.spans.map(s => s"${s.start}:${s.end}:${s.kind}").mkString(",")}\t$struggles\n")
    }
    Files.write(out.resolve("metadata.tsv"), meta.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote ${results.length} fixtures to $out")
    spark.stop()
  }

  def fmt(d: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, d)
}
