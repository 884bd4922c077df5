package graftbench

import scala.collection.immutable.ListMap

/** Per-layer numbers of a traced run: span durations plus the listener's
  * task metrics attributed through each span's job group. Every figure is
  * taken per traced call and reported as the median over traced calls.
  */
final case class LayerReport(spans: Seq[SpanRec], listener: StageListener, cores: Int, docsPerRep: Long) {
  private val kids = spans.groupBy(_.parent)
  private val stagesByGroup = listener.stages.groupBy(_.group)
  private val selfNs = Trace.selfTimeNs(spans)

  private def subtree(s: SpanRec): Seq[SpanRec] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
  private def own(s: SpanRec): Seq[StageAgg] = stagesByGroup.getOrElse(Trace.groupOf(s.id), Nil)
  private def jobs(ss: Seq[SpanRec]): Double = ss.map(s => listener.jobCount(Trace.groupOf(s.id))).sum.toDouble

  /** Spans called `name` in one call, with their descendants. */
  private def under(ss: Seq[SpanRec], name: String): Seq[SpanRec] =
    ss.filter(_.name == name).flatMap(subtree).distinct

  private val reps = spans.filter(_.name == "rep").map(_.rep).distinct

  private def perRep(f: Seq[SpanRec] => Double): Double =
    if (reps.isEmpty) 0.0 else Stats.median(reps.map(r => f(spans.filter(_.rep == r))))

  private def secs(name: String): Double =
    perRep(ss => ss.filter(_.name == name).map(_.durNs).sum / 1e9)

  private def sum(name: String)(f: StageAgg => Long): Double =
    perRep(ss => under(ss, name).flatMap(own).map(f).sum.toDouble)

  def metrics: Map[String, Double] = Map(
    "sources.warc.parse_errors" -> perRep(ss => ss.flatMap(own).map(_.warcParseErrors).sum.toDouble),
    "job.extract.s" -> secs("job.extract"),
    "job.extract.busy_frac" -> perRep { ss =>
      val st = under(ss, "job.extract").flatMap(own)
      val wall = st.map(_.wallMs).sum
      if (wall == 0) 0.0 else st.map(_.runMs).sum.toDouble / (wall * cores)
    },
    "job.extract.task_skew" -> perRep { ss =>
      val t = under(ss, "job.extract").flatMap(own).flatMap(_.taskRunMs).map(_.toDouble)
      if (t.isEmpty) 0.0 else t.max / math.max(1.0, Stats.median(t))
    },
    "job.commit.s" -> secs("job.commit"),
    "job.commit.bytes_per_doc" -> sum("job.commit")(_.outputBytes) / docsPerRep,
    "job.prepare.s" -> secs("job.prepare"),
    "job.prepare.shuffle_bytes" -> sum("job.prepare")(_.shuffleWriteBytes),
    "ops.ngram_pairs.s" -> secs("ops.ngram_pairs"),
    "ops.ngram_pairs.shuffle_bytes" -> sum("ops.ngram_pairs")(_.shuffleWriteBytes),
    "ops.clusters.s" -> secs("ops.clusters"),
    "ops.clusters.spark_jobs" -> perRep(ss => jobs(under(ss, "ops.clusters"))),
    "ops.keep_best.s" -> secs("ops.keep_best"),
    "spark.jobs" -> perRep(ss => jobs(under(ss, "rep"))),
    "spark.stages" -> perRep(ss => under(ss, "rep").flatMap(own).count(_.tasks > 0).toDouble),
    "spark.tasks" -> sum("rep")(_.tasks),
    "spark.shuffle_write_bytes" -> sum("rep")(_.shuffleWriteBytes),
    "spark.spill_bytes" -> sum("rep")(_.spillBytes),
    "spark.gc_s" -> sum("rep")(_.gcMs) / 1e3,
    "spark.executor_cpu_s" -> sum("rep")(_.cpuNs) / 1e9)

  private def totals(ss: Seq[SpanRec]): ListMap[String, Any] = {
    val st = ss.flatMap(own)
    ListMap(
      "jobs" -> jobs(ss).toLong,
      "stages" -> st.count(_.tasks > 0),
      "tasks" -> st.map(_.tasks).sum,
      "run_ms" -> st.map(_.runMs).sum,
      "cpu_ms" -> st.map(_.cpuNs).sum / 1000000L,
      "gc_ms" -> st.map(_.gcMs).sum,
      "shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum,
      "shuffle_read_records" -> st.map(_.shuffleReadRecords).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum,
      "shuffle_write_records" -> st.map(_.shuffleWriteRecords).sum,
      "spill_bytes" -> st.map(_.spillBytes).sum,
      "output_bytes" -> st.map(_.outputBytes).sum)
  }

  def spansJson(originNs: Long): String = Stats.json(spans.map { s =>
    ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "rep" -> s.rep,
      "start_ms" -> (s.startNs - originNs) / 1e6, "dur_ms" -> s.durNs / 1e6,
      "self_ms" -> selfNs(s.id) / 1e6)
  })

  /** Stage profile: per span its own and inclusive task totals, and its
    * own stages one by one.
    */
  def stagesJson: String = Stats.json(spans.map { s =>
    ListMap("id" -> s.id, "name" -> s.name, "rep" -> s.rep,
      "self" -> totals(Seq(s)), "total" -> totals(subtree(s)),
      "stages" -> own(s).map(a => ListMap(
        "stage" -> a.stageId, "name" -> a.name, "tasks" -> a.tasks, "wall_ms" -> a.wallMs,
        "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1000000L, "gc_ms" -> a.gcMs,
        "shuffle_read_bytes" -> a.shuffleReadBytes, "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "spill_bytes" -> a.spillBytes, "output_bytes" -> a.outputBytes)))
  })
}
