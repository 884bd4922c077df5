package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a benchmark-side call into a program layer. */
final case class SpanRec(id: Int, name: String, parent: Int, rep: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Trace {

  val NoParent: Int = -1

  /** Self time per span: its duration minus the part of its interval that
    * its direct children cover (children clipped to the parent, overlaps
    * counted once).
    */
  def selfTimeNs(spans: Seq[SpanRec]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def groupOf(spanId: Int): String = s"bench-span-$spanId"
}

/** In-memory span recorder. Each span sets a Spark job group named after
  * it, so the [[StageListener]] can attribute every job, stage and task to
  * the span that caused it. Spans are written out only when the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  var rep: Int = 0

  def spans: Seq[SpanRec] = recs.toSeq

  def span[T](name: String)(body: => T): T = {
    val id = recs.size
    val parent = stack.headOption.getOrElse(Trace.NoParent)
    recs += SpanRec(id, name, parent, rep, System.nanoTime(), -1L)
    stack = id :: stack
    sc.setJobGroup(Trace.groupOf(id), name, interruptOnCancel = false)
    try body
    finally {
      recs(id) = recs(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Trace.groupOf(p), recs(p).name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }
}

/** Per-stage totals gathered from task-end events. */
final class StageAgg(val stageId: Int, val group: String) {
  var name: String = ""
  var submittedMs: Long = -1L
  var completedMs: Long = -1L
  var tasks: Long = 0L
  var runMs: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleReadBytes: Long = 0L
  var shuffleReadRecords: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var shuffleWriteRecords: Long = 0L
  var spillBytes: Long = 0L
  var outputBytes: Long = 0L
  var warcParseErrors: Long = 0L
  val taskRunMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def wallMs: Long = if (submittedMs >= 0 && completedMs >= submittedMs) completedMs - submittedMs else 0L
}

/** The benchmark's own listener: jobs, stages and task metrics keyed by the
  * job group (= span) that submitted them. Jobs outside any span fall in
  * group `none`.
  */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stagesById = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val jobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)

  private def agg(stageId: Int): StageAgg =
    stagesById.getOrElseUpdate(stageId, new StageAgg(stageId, stageGroup.getOrElse(stageId, "none")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobs(g) = jobs(g) + 1
    e.stageInfos.foreach(si => if (!stageGroup.contains(si.stageId)) stageGroup(si.stageId) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val a = agg(e.stageInfo.stageId)
    a.name = e.stageInfo.name
    a.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(e.stageInfo.stageId)
    a.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId)
    a.tasks += 1
    Option(e.taskInfo).foreach { ti =>
      ti.accumulables.foreach { acc =>
        if (acc.name.contains("warc_parse_errors"))
          acc.update.foreach(u => a.warcParseErrors += u.toString.toLong)
      }
    }
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.taskRunMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def stages: Seq[StageAgg] = synchronized(stagesById.values.toSeq)
  def jobCount(group: String): Int = synchronized(jobs(group))
}
