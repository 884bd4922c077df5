package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Lineage

class BenchSpec extends AnyFunSuite {

  test("generators are deterministic per seed and differ across seeds") {
    assert(Gen.docs(7, 200) == Gen.docs(7, 200))
    assert(Gen.docs(7, 200).map(_.text) != Gen.docs(8, 200).map(_.text))
    assert(Gen.sampleIdx(7, 5000, 50) == Gen.sampleIdx(7, 5000, 50))
    assert(Gen.sampleIdx(7, 5000, 50) != Gen.sampleIdx(8, 5000, 50))
  }

  test("generated inputs have the planted structure") {
    val n = 400L
    val docs = Gen.docs(3, n)
    assert(docs.map(_.doc_id).sorted == (0L until n))
    val truth = Gen.dedupTruth(docs)
    // per block of 20: two copies of slot 15, one copy of slot 11, one junk doc
    assert(truth.survivors.size == n / 20 * 16)
    assert(truth.nearDupPairs.nonEmpty)
    assert(truth.nearDupPairs.forall { case (a, b) => a < b && truth.survivors(a) && truth.survivors(b) })
    assert(Gen.crawlPlantedFailure(15).contains("no_payload"))
    assert(Gen.crawlPlantedFailure(1017).isEmpty) // oversized rows only below 1000
  }

  test("span self time subtracts the union of direct children") {
    val spans = Seq(
      SpanRec(0, "rep", -1, 1, 0, 100),
      SpanRec(1, "a", 0, 1, 10, 30),
      SpanRec(2, "b", 0, 1, 20, 50), // overlaps a: covered once
      SpanRec(3, "c", 0, 1, 90, 120), // clipped to the parent's end
      SpanRec(4, "d", 2, 1, 25, 45)) // grandchild: charged to b, not rep
    val self = Trace.selfTimeNs(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20)
    assert(self(2) == 30 - 20)
    assert(self(3) == 30)
    assert(self(4) == 20)
  }

  test("metric names follow the grammar and match BENCHMARK.json") {
    Seq("docs_per_s", "extract.fail.no_payload", "a", "9x", "a-b.c_d").foreach(n => assert(Stats.validName(n), n))
    Seq("", "_a", ".a", "a b", "a/b", "a" * 65, "métrique").foreach(n => assert(!Stats.validName(n), n))
    Seq("ms", "docs/s", "%", "ms/MB").foreach(u => assert(Stats.validUnit(u), u))
    assert(!Stats.validUnit("a unit"))
    val all = BenchMain.EndToEnd ++ BenchMain.PerLayer
    assert(all.map(_._1).distinct.size == all.size)
    all.foreach { case (n, u) => assert(Stats.validName(n) && Stats.validUnit(u), n) }
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), StandardCharsets.UTF_8)
    val declared = "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
    assert(declared == all)
  }

  private val expected = Map(
    "https://h.example/doc/0" -> None,
    "https://h.example/doc/1" -> None,
    "https://h.example/doc/15" -> Some("no_payload"))
  private val good = Seq(
    Checks.Delivered("https://h.example/doc/0", success = true, null),
    Checks.Delivered("https://h.example/doc/1", success = true, null),
    Checks.Delivered("https://h.example/doc/15", success = false, "no_payload"))

  test("the delivery check passes exact output") {
    val r = Checks.deliveries(expected, good)
    assert(r.failed == 0 && r.contractHolds)
    assert(r.failureKinds == Map("no_payload" -> 1L))
  }

  test("the delivery check fails a dropped row and a duplicated row") {
    val dropped = Checks.deliveries(expected, good.tail)
    assert(dropped.failedKeys == Set("https://h.example/doc/0"))
    val duplicated = Checks.deliveries(expected, good :+ good(1))
    assert(duplicated.failedKeys == Set("https://h.example/doc/1"))
    val wrongKind = Checks.deliveries(expected,
      good.init :+ Checks.Delivered("https://h.example/doc/15", success = false, "pdf_parse:bad xref"))
    assert(wrongKind.failedKeys == Set("https://h.example/doc/15"))
    assert(!dropped.contractHolds && !duplicated.contractHolds)
  }

  test("the lineage check counts a dropped row") {
    val lin = Seq(Lineage(0, 0, 2L, 10L, 1L), Lineage(1, 0, 1L, 5L, 0L))
    assert(Checks.lineage(lin, 3, 1, "t").failed == 0)
    assert(Checks.lineage(lin, 4, 1, "t").failed == 1)
  }

  test("the dedup check fails a kept copy and reports a missed pair as not delivered") {
    val docs = Gen.docs(5, 200)
    val truth = Gen.dedupTruth(docs)
    val quality = docs.map(d => d.doc_id -> d.n_chars).toMap
    val surv = truth.survivors.toSeq.sorted
    val pairs = truth.nearDupPairs.toSeq
    def labels(ps: Seq[(Long, Long)], ids: Seq[Long]) = {
      // components by repeated min-label propagation
      var lab = ids.map(i => i -> i).toMap
      var changed = true
      while (changed) {
        val next = ps.foldLeft(lab) { case (m, (a, b)) =>
          val l = math.min(m(a), m(b)); m.updated(a, l).updated(b, l)
        }
        changed = next != lab; lab = next
      }
      val keep = ids.groupBy(lab).values.map(ms => ms.sortBy(i => (-quality(i), i)).head).toSet
      ids.map(i => (i, lab(i), keep(i)))
    }
    val exact = Checks.dedup(truth, surv, pairs, labels(pairs, surv), quality)
    assert(exact.failed == 0, exact.notes)

    val copy = docs.find(d => !truth.survivors(d.doc_id) && !d.text.startsWith("Buy")).get.doc_id
    val withCopy = surv :+ copy
    val kept = Checks.dedup(truth, withCopy, pairs, labels(pairs, withCopy), quality)
    assert(kept.failedKeys == Set(copy.toString))

    val missed = Checks.dedup(truth, surv, pairs.tail, labels(pairs.tail, surv), quality)
    assert(missed.contractHolds && missed.approxKeys.size == 2)
  }

  test("tail percentile needs ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).map(_._1).contains(50.0))
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the result line carries exactly the four keys") {
    val line = Stats.resultLine(correct = true, 10, 0, Seq(("docs_per_s", 1.5, "docs/s")))
    assert(line == """{"correct":true,"attempted":10,"failed":0,"metrics":{"docs_per_s":{"value":1.5,"unit":"docs/s"}}}""")
    assertThrows[IllegalArgumentException](Stats.resultLine(correct = true, 1, 0, Seq(("bad name", 1.0, "s"))))
    assertThrows[IllegalArgumentException](Stats.resultLine(correct = true, 1, 0, Seq(("x", Double.NaN, "s"))))
  }
}
