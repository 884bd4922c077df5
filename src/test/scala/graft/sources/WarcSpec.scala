package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.{CorpusGen, WarcGen}
import graft.job.ExtractionJob

class WarcSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private def rows(n: Int) = (0L until n.toLong).map(CorpusGen.genRow(42L, _))

  private def parse(bytes: Array[Byte]) =
    Warc.parseStream(new ByteArrayInputStream(bytes))

  test("plain archive round trip: responses and conversions, envelopes stripped") {
    val in = rows(12) // mixes html classes and passthrough/failure classes
    val r = parse(WarcGen.archive(in))
    assert(r.errors == 0)
    assert(r.records.length == 12) // requests + warcinfo skipped
    r.records.zip(in).foreach { case (rec, row) =>
      assert(rec.targetUri == row.url)
      assert(rec.date == row.warc_ts)
      if (row.html != null) {
        assert(rec.warcType == "response")
        assert(java.util.Arrays.equals(rec.payload, row.html),
          s"${row.url}: body must be the html bytes with the HTTP envelope stripped")
      } else {
        assert(rec.warcType == "conversion")
        assert(new String(rec.payload, StandardCharsets.UTF_8) == Option(row.text).getOrElse(""))
      }
    }
  }

  test("gzip per-record members (Common Crawl layout) parse identically") {
    val in = rows(8)
    val plain = parse(WarcGen.archive(in))
    val gz = parse(WarcGen.archive(in, gzip = true))
    assert(gz.errors == 0)
    assert(gz.records.map(_.targetUri) == plain.records.map(_.targetUri))
    assert(gz.records.zip(plain.records).forall { case (a, b) =>
      java.util.Arrays.equals(a.payload, b.payload)
    })
  }

  test("chunked transfer encoding is de-chunked") {
    val in = rows(6).filter(_.html != null)
    val r = parse(WarcGen.archive(in, chunked = true))
    assert(r.errors == 0)
    r.records.zip(in).foreach { case (rec, row) =>
      assert(java.util.Arrays.equals(rec.payload, row.html), row.url)
    }
  }

  test("a truncated record is contained: parsing resyncs at the next WARC magic") {
    val in = rows(6).filter(_.html != null)
    val good = WarcGen.archive(in, warcinfo = false, withRequests = false)
    val s = new String(good, StandardCharsets.ISO_8859_1)
    // corrupt the SECOND record's Content-Length so its payload read overruns
    val secondAt = s.indexOf("WARC/1.0", 10)
    val thirdAt = s.indexOf("WARC/1.0", secondAt + 10)
    val corrupted = (s.substring(0, secondAt) +
      s.substring(secondAt, thirdAt).replaceFirst("Content-Length: \\d+", "Content-Length: 999999") +
      s.substring(thirdAt)).getBytes(StandardCharsets.ISO_8859_1)
    val r = parse(corrupted)
    assert(r.errors >= 1)
    // first record parses; the poisoned tail is resynced and most survive
    assert(r.records.map(_.targetUri).contains(in.head.url))
    assert(r.records.length >= in.length - 2, s"${r.records.length} of ${in.length}")
  }

  test("garbage input yields zero records and a COUNTED error") {
    val r = parse(Array.fill[Byte](512)(0x41))
    assert(r.records.isEmpty)
    assert(r.errors >= 1) // corrupt archive head must not read as clean
  }

  test("non-2xx captures are skipped: redirect stubs and 404 bodies are not pages") {
    val in = rows(6).filter(_.html != null)
    val s = new String(WarcGen.archive(in, warcinfo = false, withRequests = false),
      StandardCharsets.ISO_8859_1)
    // rewrite the FIRST response's status to 404 and the second to 301 —
    // SAME byte length as "200 OK" so the record's Content-Length framing
    // stays intact (only the status code changes)
    val once = s.replaceFirst("HTTP/1\\.1 200 OK", "HTTP/1.1 404 NF")
    val twice = once.replaceFirst("HTTP/1\\.1 200 OK", "HTTP/1.1 301 MP")
    val r = parse(twice.getBytes(StandardCharsets.ISO_8859_1))
    assert(r.errors == 0)
    assert(r.records.length == in.length - 2)
    assert(!r.records.map(_.targetUri).contains(in.head.url))
  }

  test("mid-stream corrupt length that does NOT overrun is rewound, tail recovered") {
    val in = rows(6).filter(_.html != null)
    val good = WarcGen.archive(in, warcinfo = false, withRequests = false)
    val s = new String(good, StandardCharsets.ISO_8859_1)
    val secondAt = s.indexOf("WARC/1.0", 10)
    val thirdAt = s.indexOf("WARC/1.0", secondAt + 10)
    // inflate record 2's length by 600 bytes: readFully succeeds (swallows
    // part of record 3), the separator check fails, and the mark/reset
    // recovery must rewind so record 3 is resynced rather than lost
    val m = java.util.regex.Pattern.compile("Content-Length: (\\d+)")
      .matcher(s.substring(secondAt, thirdAt))
    assert(m.find())
    val badLen = (m.group(1).toInt + 600).toString
    val corrupted = (s.substring(0, secondAt) +
      s.substring(secondAt, thirdAt).replaceFirst("Content-Length: \\d+", s"Content-Length: $badLen") +
      s.substring(thirdAt)).getBytes(StandardCharsets.ISO_8859_1)
    val r = parse(corrupted)
    assert(r.errors >= 1)
    // everything except the corrupted record itself survives
    assert(r.records.length >= in.length - 1, s"${r.records.length} of ${in.length}")
    assert(r.records.map(_.targetUri).contains(in(2).url))
  }

  test("declared non-UTF8 charset is transcoded to UTF-8 (after de-chunking)") {
    val text = "möglichkeit déjà"
    val latin1 = text.getBytes(StandardCharsets.ISO_8859_1)
    def archiveWith(envelope: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(t: String): Unit = out.write(t.getBytes(StandardCharsets.US_ASCII))
      ascii("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://cs.example/p\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${envelope.length}\r\n\r\n")
      out.write(envelope)
      ascii("\r\n\r\n")
      out.toByteArray
    }
    // plain latin-1 envelope
    val env1 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n" +
      s"Content-Length: ${latin1.length}\r\n\r\n").getBytes(StandardCharsets.US_ASCII) ++ latin1
    val r1 = parse(archiveWith(env1))
    assert(r1.errors == 0 && r1.records.length == 1)
    assert(new String(r1.records.head.payload, StandardCharsets.UTF_8) == text)
    // chunked + latin-1: de-chunk must run on WIRE bytes before transcoding
    val mid = latin1.length / 2
    val chunkedBody = new java.io.ByteArrayOutputStream()
    def a2(t: String): Unit = chunkedBody.write(t.getBytes(StandardCharsets.US_ASCII))
    a2(Integer.toHexString(mid) + "\r\n"); chunkedBody.write(latin1, 0, mid); a2("\r\n")
    a2(Integer.toHexString(latin1.length - mid) + "\r\n")
    chunkedBody.write(latin1, mid, latin1.length - mid); a2("\r\n0\r\n\r\n")
    val env2 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n").getBytes(StandardCharsets.US_ASCII) ++
      chunkedBody.toByteArray
    val r2 = parse(archiveWith(env2))
    assert(r2.errors == 0 && r2.records.length == 1)
    assert(new String(r2.records.head.payload, StandardCharsets.UTF_8) == text)
    // an unknown charset name keeps the raw bytes (lenient)
    val env3 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=x-bogus-9\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII) ++ latin1
    val r3 = parse(archiveWith(env3))
    assert(r3.records.length == 1)
    assert(java.util.Arrays.equals(r3.records.head.payload, latin1))
    // a MISLABELED binary payload (PDF served as text/html with a charset)
    // must never be transcoded — re-encoding binary corrupts it
    val pdfBytes = "%PDF-1.4\nbinaryÿþ".getBytes(StandardCharsets.ISO_8859_1)
    val env4 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII) ++ pdfBytes
    val r4 = parse(archiveWith(env4))
    assert(r4.records.length == 1)
    assert(java.util.Arrays.equals(r4.records.head.payload, pdfBytes))
  }

  test("chunked framing failures: raw-body fallback, counted; partial kept only for truncation") {
    def archiveWith(envelope: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(t: String): Unit = out.write(t.getBytes(StandardCharsets.US_ASCII))
      ascii("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://ck.example/p\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${envelope.length}\r\n\r\n")
      out.write(envelope)
      ascii("\r\n\r\n")
      out.toByteArray
    }
    val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
    // 1. bad FIRST chunk-size line: the raw body comes back (never a
    //    partially-dechunked or empty buffer) and the failure is counted
    val garbled = "ZZZ-not-hex\r\npage text that must survive"
    val env1 = (head + "Transfer-Encoding: chunked\r\n\r\n" + garbled)
      .getBytes(StandardCharsets.US_ASCII)
    val r1 = parse(archiveWith(env1))
    assert(r1.records.length == 1)
    assert(new String(r1.records.head.payload, StandardCharsets.US_ASCII) == garbled)
    assert(r1.errors >= 1, "framing failure must reach the error counter")
    // 2. truncated FINAL chunk: assembled prefix + the cut chunk's partial
    //    data (the tail is still page text), counted as a parse anomaly
    val env2 = (head + "Transfer-Encoding: chunked\r\n\r\n" +
      "5\r\nhello\r\nff\r\n world").getBytes(StandardCharsets.US_ASCII)
    val r2 = parse(archiveWith(env2))
    assert(r2.records.length == 1)
    assert(new String(r2.records.head.payload, StandardCharsets.US_ASCII) == "hello world")
    assert(r2.errors >= 1)
    // 2b. garbage size line AFTER a correctly framed chunk: the framing was
    //     real, so the assembled prefix survives (uniform truncated-capture
    //     handling), counted
    val env2b = (head + "Transfer-Encoding: chunked\r\n\r\n" +
      "5\r\nhello\r\nZZZ\r\nrest").getBytes(StandardCharsets.US_ASCII)
    val r2b = parse(archiveWith(env2b))
    assert(r2b.records.length == 1)
    assert(new String(r2b.records.head.payload, StandardCharsets.US_ASCII) == "hello")
    assert(r2b.errors >= 1)
    // 3. tolerant coding detection: no space after the colon still de-chunks
    val env3 = (head + "Transfer-Encoding:chunked\r\n\r\n" +
      "5\r\nhello\r\n0\r\n\r\n").getBytes(StandardCharsets.US_ASCII)
    val r3 = parse(archiveWith(env3))
    assert(r3.errors == 0 && r3.records.length == 1)
    assert(new String(r3.records.head.payload, StandardCharsets.US_ASCII) == "hello")
  }

  test("end to end: a CID-font PDF captured in a WARC extracts its unicode text") {
    // ties the round together: a modern (xref-stream, ObjStm-packed,
    // Identity-H + ToUnicode) PDF served as a crawl response, ingested
    // through the production WARC reader and the full extraction job
    val cidRow = CorpusGen.cidPdfRow(42L, 5L)
    val htmlRows = rows(4).filter(_.html != null)
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-cid")
    try {
      java.nio.file.Files.write(
        dir.resolve("mix.warc.gz"),
        WarcGen.archive(htmlRows :+ cidRow, gzip = true))
      val table = Warc.toTable(spark, dir.toString + "/*")
      val cfg = ExtractionJob.JobConfig(numGroups = 4)
      val results = ExtractionJob.extract(table, cfg).collect()
      val pdfResult = results.find(_.url == cidRow.url)
      assert(pdfResult.isDefined, s"missing ${cidRow.url}")
      assert(pdfResult.get.success, Option(pdfResult.get.error).getOrElse(""))
      assert(pdfResult.get.engine.startsWith("pdf"), pdfResult.get.engine)
      // the CID salt survives: WARC envelope strip + binary sniff + CMap
      // decode all held (the salt is outside Latin-1, so any fallback to
      // the simple-font path would corrupt it)
      assert(pdfResult.get.extracted_text.contains("Σλ ünïcode"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      ()
    }
  }

  test("end to end: an ENCRYPTED owner-only PDF captured in a WARC extracts") {
    // crawl reality for the round-6 decryption path: RC4-128, AES-128
    // and AES-256 owner-password-only PDFs served as crawl responses must
    // survive the WARC envelope strip, binary sniff, transparent decrypt
    // and full extraction — byte-identical to the same layout unencrypted
    val encRows = Seq(CorpusGen.encryptedPdfRow(42L, 108L),
      CorpusGen.encryptedPdfRow(42L, 109L),
      CorpusGen.encryptedPdfRow(42L, 110L))
    val htmlRows = rows(3).filter(_.html != null)
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-enc")
    try {
      java.nio.file.Files.write(
        dir.resolve("mix.warc.gz"),
        WarcGen.archive(htmlRows ++ encRows, gzip = true))
      val table = Warc.toTable(spark, dir.toString + "/*")
      val cfg = ExtractionJob.JobConfig(numGroups = 4)
      val results = ExtractionJob.extract(table, cfg).collect()
      encRows.zipWithIndex.foreach { case (row, k) =>
        val res = results.find(_.url == row.url)
        assert(res.isDefined, s"missing ${row.url}")
        assert(res.get.success, Option(res.get.error).getOrElse(""))
        assert(res.get.engine.startsWith("pdf"), res.get.engine)
        // modern container for every encryption kind except the classic
        // RC4 one — mirrors encryptedPdfRow's id-mod-3 layout
        val modern = (108L + k) % 3 != 0
        val plain = graft.extract.PdfExtractor
          .extract(graft.corpus.RealPdf.document(
            CorpusGen.realPdfSpecsForTest(42L, 108L + k),
            xrefStream = modern,
            objStmPack = modern))
          .toOption.get.text
        val viaWarc = graft.extract.PdfExtractor.extract(row.html).toOption.get.text
        assert(viaWarc == plain, s"doc ${row.url} encrypted-vs-plain")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      ()
    }
  }

  test("end to end: WARC archives -> page table -> extraction equals direct rows") {
    import org.apache.spark.sql.functions.col
    val in = rows(40)
    val dir = java.nio.file.Files.createTempDirectory("graft-warc")
    try {
      java.nio.file.Files.write(dir.resolve("a.warc"), WarcGen.archive(in.take(20)))
      java.nio.file.Files.write(dir.resolve("b.warc.gz"), WarcGen.archive(in.drop(20), gzip = true))
      val table = Warc.toTable(spark, dir.toString + "/*")
      assert(table.columns.toSeq == Seq("url", "warc_ts", "html", "text", "lang"))
      val cfg = ExtractionJob.JobConfig(numGroups = 8)
      val viaWarc = ExtractionJob.extract(table, cfg).collect()
        .map(r => r.url -> (r.extracted_text, r.engine, r.success)).toMap
      // direct rows, with the two WARC-inherent differences applied: the
      // archive does not carry a per-record language (crawl default "en"),
      // and a response record carries ONLY the capture body (no parallel
      // text layer) while a conversion record carries only text
      import spark.implicits._
      val direct = in.map(r =>
        if (r.html != null) r.copy(text = "", lang = "en") else r.copy(lang = "en"))
      val viaDirect = ExtractionJob.extract(direct.toDF(), cfg).collect()
        .map(r => r.url -> (r.extracted_text, r.engine, r.success)).toMap
      assert(viaWarc.keySet == viaDirect.keySet)
      viaWarc.foreach { case (url, v) => assert(v == viaDirect(url), url) }
      assert(viaWarc.nonEmpty)
      val nHtml = table.filter(col("html").isNotNull).count()
      assert(nHtml > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      ()
    }
  }
}
