package graftbench

import scala.collection.mutable

import graft.model.{DocResult, Lineage}

/** What the output checks found. `failedKeys` are the documents (urls or
  * doc ids) that break the program's output contract; `unkeyed` counts
  * such failures that cannot be tied to one document (a lineage total that
  * is off). `approxKeys` are documents the near-dup search got wrong by
  * true Jaccard, which the program documents as possible while its
  * shingle-df cap binds: they count as not delivered, but do not make the
  * output incorrect.
  */
final case class CheckReport(
    failedKeys: Set[String],
    unkeyed: Long,
    failureKinds: Map[String, Long],
    notes: Seq[String],
    approxKeys: Set[String] = Set.empty) {
  def failed: Long = (failedKeys ++ approxKeys).size + unkeyed
  def contractHolds: Boolean = failedKeys.isEmpty && unkeyed == 0
  def ++(o: CheckReport): CheckReport = CheckReport(
    failedKeys ++ o.failedKeys, unkeyed + o.unkeyed,
    (failureKinds.keySet ++ o.failureKinds.keySet).map(k =>
      k -> (failureKinds.getOrElse(k, 0L) + o.failureKinds.getOrElse(k, 0L))).toMap,
    notes ++ o.notes, approxKeys ++ o.approxKeys)
}

object Checks {

  /** One committed result row, reduced to what the delivery check reads. */
  final case class Delivered(url: String, success: Boolean, error: String)

  /** Failure kind = the error prefix before the first `:`. */
  def errorKind(error: String): String =
    if (error == null) "" else error.takeWhile(_ != ':')

  private def note(bad: mutable.Builder[String, Set[String]], notes: mutable.Buffer[String],
      key: String, why: String): Unit = {
    bad += key
    if (notes.size < 10) notes += s"$key: $why"
  }

  /** Every expected url appears exactly once, fails exactly when (and as)
    * the generator planted a failure, and nothing unexpected appears.
    * `expected` maps url -> planted failure kind.
    */
  def deliveries(expected: Map[String, Option[String]], delivered: Seq[Delivered]): CheckReport = {
    val byUrl = delivered.groupBy(_.url)
    val bad = Set.newBuilder[String]
    val notes = mutable.Buffer.empty[String]
    expected.foreach { case (u, planted) =>
      byUrl.get(u) match {
        case None => note(bad, notes, u, "missing from the committed results")
        case Some(Seq(d)) =>
          val got = if (d.success) None else Some(errorKind(d.error))
          if (got != planted) note(bad, notes, u, s"failure kind ${got.getOrElse("none")}, planted ${planted.getOrElse("none")}")
        case Some(ds) => note(bad, notes, u, s"committed ${ds.size} times")
      }
    }
    byUrl.keys.filterNot(expected.contains).foreach(u => note(bad, notes, u, "not an input url"))
    val kinds = delivered.filterNot(_.success).groupBy(d => errorKind(d.error)).map { case (k, v) => k -> v.size.toLong }
    CheckReport(bad.result(), 0L, kinds, notes.toSeq)
  }

  /** Lineage doc totals must equal the input rows and the planted failures. */
  def lineage(lin: Seq[Lineage], rows: Long, plantedFailures: Long, what: String): CheckReport = {
    val docs = lin.map(_.doc_count).sum
    val fails = lin.map(_.failure_count).sum
    val gap = math.max(math.abs(docs - rows), math.abs(fails - plantedFailures))
    CheckReport(Set.empty, gap, Map.empty,
      if (gap == 0) Nil else Seq(s"$what lineage: $docs docs / $fails failures, expected $rows / $plantedFailures"))
  }

  /** Committed text, engine and status equal a direct extractWithFallback. */
  def texts(direct: Map[String, DocResult], committed: Seq[(String, String, String, Boolean, String)]): CheckReport = {
    val bad = Set.newBuilder[String]
    val notes = mutable.Buffer.empty[String]
    val got = committed.groupBy(_._1)
    direct.foreach { case (u, d) =>
      got.get(u).flatMap(_.headOption) match {
        case None => note(bad, notes, u, "sampled url missing")
        case Some((_, text, engine, ok, err)) =>
          if (text != d.extracted_text || engine != d.engine || ok != d.success || err != d.error)
            note(bad, notes, u, s"committed ($engine, $ok) differs from direct (${d.engine}, ${d.success})")
      }
    }
    CheckReport(bad.result(), 0L, Map.empty, notes.toSeq)
  }

  /** corpus_dedup: survivors, near-dup pairs, cluster labels and keepers.
    * `pairs` are the reported (a_id, b_id); `labels` are (doc_id,
    * cluster_id, keep); `quality` is the n_chars the keeper election reads.
    */
  def dedup(
      truth: Gen.DedupTruth,
      survivors: Seq[Long],
      pairs: Seq[(Long, Long)],
      labels: Seq[(Long, Long, Boolean)],
      quality: Map[Long, Int]): CheckReport = {
    val bad = Set.newBuilder[String]
    val approx = Set.newBuilder[String]
    val notes = mutable.Buffer.empty[String]
    def fail(id: Long, why: String): Unit = note(bad, notes, id.toString, why)
    def miss(id: Long, why: String): Unit = note(approx, notes, id.toString, why)

    val survSet = survivors.toSet
    survivors.groupBy(identity).foreach { case (id, xs) => if (xs.size > 1) fail(id, "survives twice") }
    (truth.survivors -- survSet).foreach(fail(_, "expected survivor missing (exact copy kept instead, or gated)"))
    (survSet -- truth.survivors).foreach(fail(_, "survived but is an exact copy or junk"))

    val reported = pairs.toSet
    (truth.nearDupPairs -- reported).foreach { case (a, b) =>
      miss(a, s"near-dup pair ($a,$b) not found"); miss(b, s"near-dup pair ($a,$b) not found")
    }
    reported.foreach { case (a, b) =>
      val ok = truth.textById.get(a).zip(truth.textById.get(b))
        .exists { case (x, y) => Gen.meetsThreshold(Gen.shingleJaccard(x, y)) }
      if (!ok) {
        miss(a, s"reported pair ($a,$b) is below the threshold by true Jaccard")
        miss(b, s"reported pair ($a,$b) is below the threshold by true Jaccard")
      }
    }

    // labels must be the connected components of the reported pairs, and
    // each component keeps its best-quality (then smallest) member
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    reported.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = survSet.groupBy(find)
    val minOf = comp.map { case (r, ms) => r -> ms.min }
    val keeper = comp.map { case (r, ms) =>
      r -> ms.toSeq.sortBy(id => (-quality.getOrElse(id, -1), id)).head
    }
    val labelled = labels.groupBy(_._1)
    survSet.foreach { id =>
      labelled.get(id) match {
        case Some(Seq((_, cl, keep))) =>
          val r = find(id)
          if (cl != minOf(r)) fail(id, s"cluster $cl, expected ${minOf(r)}")
          if (keep != (keeper(r) == id)) fail(id, s"keep=$keep, expected ${keeper(r) == id}")
        case Some(xs) => fail(id, s"labelled ${xs.size} times")
        case None => fail(id, "no cluster label")
      }
    }
    labelled.keys.filterNot(survSet).foreach(fail(_, "labelled but not a survivor"))
    CheckReport(bad.result(), 0L, Map.empty, notes.toSeq, approx.result())
  }
}
