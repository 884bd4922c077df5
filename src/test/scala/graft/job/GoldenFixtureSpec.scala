package graft.job

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.{CorpusGen, FixtureGen}

/** Golden-corpus regression: the full pipeline's extracted text must be
  * BYTE-identical per url to the frozen fixtures (the reference's
  * tests/corpus/baselines discipline; per-row invariant from the
  * BASELINE.json input_hint: "byte-identical extracted text per url").
  * Fixtures were generated once by graft.corpus.FixtureGen, hand-verified,
  * and committed; this suite never regenerates them.
  */
class GoldenFixtureSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val fixtureDir = Paths.get("src/test/resources/fixtures")

  private val AllRows =
    FixtureGen.Rows + FixtureGen.SplicedRows + FixtureGen.RealPdfRows +
      FixtureGen.ModernPdfRows + FixtureGen.CidPdfRows + FixtureGen.EncPdfRows

  private lazy val results = {
    val pages = CorpusGen.pages(spark, FixtureGen.Rows).toDF()
      .unionByName(CorpusGen.splicedPages(
        spark, FixtureGen.Rows, FixtureGen.SplicedRows).toDF())
      .unionByName(CorpusGen.realPdfPages(
        spark, FixtureGen.Rows + FixtureGen.SplicedRows, FixtureGen.RealPdfRows).toDF())
      .unionByName(CorpusGen.modernPdfPages(
        spark,
        FixtureGen.Rows + FixtureGen.SplicedRows + FixtureGen.RealPdfRows,
        FixtureGen.ModernPdfRows).toDF())
      .unionByName(CorpusGen.cidPdfPages(
        spark,
        FixtureGen.Rows + FixtureGen.SplicedRows + FixtureGen.RealPdfRows +
          FixtureGen.ModernPdfRows,
        FixtureGen.CidPdfRows).toDF())
      .unionByName(CorpusGen.encryptedPdfPages(
        spark,
        FixtureGen.Rows + FixtureGen.SplicedRows + FixtureGen.RealPdfRows +
          FixtureGen.ModernPdfRows + FixtureGen.CidPdfRows,
        FixtureGen.EncPdfRows).toDF())
    val cfg = ExtractionJob.JobConfig(numGroups = 8, diagnostics = true)
    ExtractionJob.extract(pages, cfg).collect()
      .map(r => r.url.substring(r.url.lastIndexOf('/') + 1).toLong -> r)
      .toMap
  }

  test("extracted text is byte-identical to the frozen fixtures") {
    assert(Files.exists(fixtureDir.resolve("extracted")), "fixtures missing — run FixtureGen once")
    var compared = 0
    (0L until AllRows).foreach { idx =>
      val expected = Files.readAllBytes(fixtureDir.resolve(s"extracted/doc_$idx.txt"))
      val actual = results(idx).extracted_text.getBytes(StandardCharsets.UTF_8)
      assert(
        java.util.Arrays.equals(expected, actual),
        s"doc_$idx bytes differ: expected ${expected.length}B, got ${actual.length}B")
      compared += 1
    }
    assert(compared == AllRows)
    // the spliced docs pin the mixed engine under the golden discipline
    assert((FixtureGen.Rows until FixtureGen.Rows + FixtureGen.SplicedRows)
      .forall(i => results(i).engine == "mixed"))
    // the real-container docs pin the ISO 32000 front-end: pdf engine,
    // successful extraction, nonempty pdf-col spans
    val realFrom = FixtureGen.Rows + FixtureGen.SplicedRows
    val realRows = FixtureGen.RealPdfRows + FixtureGen.ModernPdfRows +
      FixtureGen.CidPdfRows + FixtureGen.EncPdfRows
    (realFrom until realFrom + realRows).foreach { i =>
      assert(results(i).success, s"doc_$i real-pdf success")
      assert(results(i).spans.exists(_.kind.startsWith("pdf-p")), s"doc_$i spans")
      assert(results(i).extracted_text.length > 100, s"doc_$i text length")
    }
    // the CID fixture pins the composite-font path: its non-Latin-1 salt
    // must survive the ToUnicode decode byte-exactly
    val cidIdx = realFrom + FixtureGen.RealPdfRows + FixtureGen.ModernPdfRows
    assert(results(cidIdx).extracted_text.contains("Σλ ünïcode"), s"doc_$cidIdx cid salt")
    // the ENCRYPTED fixtures (owner-password-only RC4-128 and AES-128) pin
    // transparent decryption through the FULL job: beyond the frozen bytes
    // above, extraction must equal the SAME layouts written UNencrypted —
    // the self-contained form of the byte-identity contract
    val encFrom = cidIdx + FixtureGen.CidPdfRows
    (encFrom until encFrom + FixtureGen.EncPdfRows).foreach { i =>
      assert(results(i).success, s"doc_$i encrypted success")
      // extractor-level byte identity: the ENCRYPTED payload (as the job
      // saw it) and the SAME layout written unencrypted must decode to
      // the same text (the full-job output above additionally runs the
      // postprocess chain — that path is pinned by the frozen bytes)
      val plain = graft.extract.PdfExtractor
        .extract(graft.corpus.RealPdf.document(
          CorpusGen.realPdfSpecsForTest(42L, i),
          xrefStream = i % 2 == 1,
          objStmPack = i % 2 == 1))
        .toOption.get.text
      val enc = graft.extract.PdfExtractor
        .extract(CorpusGen.encryptedPdfRow(42L, i).html)
        .toOption.get.text
      assert(enc == plain, s"doc_$i encrypted-vs-plain")
    }
  }

  test("engine, flags, scores and spans match the frozen metadata") {
    val lines = Files.readAllLines(fixtureDir.resolve("metadata.tsv"))
    lines.stream().skip(1).forEach { line =>
      val f = line.split("\t", -1)
      val r = results(f(0).toLong)
      assert(r.engine == f(2), s"doc_${f(0)} engine")
      assert(r.success.toString == f(3), s"doc_${f(0)} success")
      assert(Option(r.error).getOrElse("") == f(4), s"doc_${f(0)} error")
      assert(r.quality.flagged.toString == f(5), s"doc_${f(0)} flagged")
      assert(FixtureGen.fmt(r.quality.score) == f(6), s"doc_${f(0)} score")
      assert(
        r.spans.map(s => s"${s.start}:${s.end}:${s.kind}").mkString(",") == f(9),
        s"doc_${f(0)} spans")
    }
  }

  test("difficult rows regress: hyphenation, german, heavy recovery") {
    // hyphenation row (class 8): ligatures gone, Merleau-Ponty hyphen kept
    val hyph = results(8L).extracted_text
    assert(hyph.contains("first difference continues"))
    assert(hyph.contains("Merleau-Ponty"))
    assert(!hyph.contains("ﬁ") && !hyph.contains("­"))
    // german row (class 7): never flagged
    assert(!results(7L).quality.flagged)
    assert(!results(27L).quality.flagged)
    // fragmented row (class 11): heavy engine, recovered content
    assert(results(11L).engine == graft.model.Engines.Heavy)
    assert(results(11L).extracted_text.length > 100)
  }
}
