package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Isolated per-query benchmark (guide §1.4 noop-sink isolation). Times
  * ONLY the named queries (args), `SPARK_GRAFT_REPS` reps each (default 3),
  * same session configuration as `graft.Bench` (which stays frozen as the
  * driver's harness), and prints one JSON line with every raw sample so
  * min/median and spread are both visible. A cross-build A/B runs this main
  * on two builds in alternating pairs, so both sides share the host's
  * throttle windows. Not part of the driver contract.
  *
  * It also writes `BENCH_STAGES.json` to the working directory (beside
  * `BENCH_LAST.json` when run from the repository root): per query and
  * rep, one record per Spark stage with its task count, task time, CPU
  * time, shuffle read/write bytes and records, spill bytes, and input and
  * output records, gathered by a `SparkListener` from task-end events.
  */
object BenchExtra {

  /** One stage's totals over its tasks. */
  private final class StageTotals(val query: String, val rep: Int, val stageId: Int) {
    var tasks, taskMs, cpuMs, shuffleReadBytes, shuffleReadRecords, shuffleWriteBytes,
      shuffleWriteRecords, spillBytes, inputRecords, outputRecords = 0L

    def json: String =
      Seq("rep" -> rep, "stage" -> stageId, "tasks" -> tasks, "task_ms" -> taskMs, "cpu_ms" -> cpuMs,
        "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_read_records" -> shuffleReadRecords,
        "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
        "spill_bytes" -> spillBytes, "input_records" -> inputRecords, "output_records" -> outputRecords)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** Attributes every stage to the query rep whose job group
    * (`<query>#<rep>`) submitted it.
    */
  private final class StageProfile extends SparkListener {
    private val stageOf = mutable.HashMap.empty[Int, StageTotals]
    val stages: mutable.ArrayBuffer[StageTotals] = mutable.ArrayBuffer.empty

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.contains('#')).foreach { g =>
        val (query, rep) = g.splitAt(g.lastIndexOf('#'))
        e.stageIds.filterNot(stageOf.contains).foreach { id =>
          val t = new StageTotals(query, rep.drop(1).toInt, id)
          stageOf(id) = t
          stages += t
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (t <- stageOf.get(e.stageId); m <- Option(e.taskMetrics)) {
        t.tasks += 1
        t.taskMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1000000
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputRecords += m.inputMetrics.recordsRead
        t.outputRecords += m.outputMetrics.recordsWritten
      }
    }

    /** `{query: [stage, ...]}`, stages that ran tasks, in submission order. */
    def json: String = synchronized {
      stages.filter(_.tasks > 0).groupBy(_.query).toSeq.sortBy(_._1).map { case (q, ss) =>
        "\"" + q + "\":" + ss.map(_.json).mkString("[", ",", "]")
      }.mkString("{\n", ",\n", "\n}\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val profile = new StageProfile
    spark.sparkContext.addSparkListener(profile)

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // same warmup discipline as Bench
    try run(graft.SparkEntry.queries("q_agg_filter")(spark, sfDir))
    catch { case _: Throwable => () }

    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val out = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val samples = (1 to reps).map { rep =>
        spark.sparkContext.setJobGroup(s"$name#$rep", name)
        val t0 = System.nanoTime()
        run(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.clearJobGroup()
      "\"" + name + "\":{\"min\":" + fmt(samples.min) +
        ",\"samples\":[" + samples.map(fmt).mkString(",") + "]}"
    }
    println(out.mkString("{", ",", "}"))
    // stopping drains the listener bus: every task end is counted
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_STAGES.json"),
      profile.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
