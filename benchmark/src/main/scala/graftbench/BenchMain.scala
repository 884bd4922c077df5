package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM, `local[<cores>]`, closed loop: one timed call
  * in flight at a time, no client threads.
  *
  * {{{
  * graftbench.BenchMain --workload crawl_table|corpus_dedup
  *   --seed <n> --seconds <s> --trace 0|1 --work <dir>
  * }}}
  *
  * Prints a detail line, then the result line (last line of stdout).
  */
object BenchMain {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  /** name -> unit, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s",
    "cpu_s_per_kdoc" -> "s/kdoc",
    "peak_rss_mb" -> "MB",
    "setup_s" -> "s",
    "delivered_frac" -> "frac")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.warc.decode_ms_per_mb" -> "ms/MB",
    "sources.warc.parse_errors" -> "count",
    "extract.fast.ms_per_doc" -> "ms/doc",
    "extract.html.ms_per_doc" -> "ms/doc",
    "extract.pdf.ms_per_doc" -> "ms/doc",
    "extract.heavy.ms_per_doc" -> "ms/doc",
    "extract.heavy.routed_frac" -> "frac",
    "extract.heavy.kept_frac" -> "frac",
    "extract.fail.no_payload" -> "count",
    "extract.fail.oversized_payload" -> "count",
    "extract.fail.pdf_parse" -> "count",
    "extract.fail.unknown_lang" -> "count",
    "extract.fail.timeout" -> "count",
    "extract.fail.extract_error" -> "count",
    "text.quality.ms_per_doc" -> "ms/doc",
    "text.garbled.ms_per_doc" -> "ms/doc",
    "text.dictionary.ms_per_doc" -> "ms/doc",
    "text.postprocess.ms_per_doc" -> "ms/doc",
    "job.extract.s" -> "s",
    "job.extract.busy_frac" -> "frac",
    "job.extract.task_skew" -> "ratio",
    "job.commit.s" -> "s",
    "job.commit.bytes_per_doc" -> "bytes/doc",
    "job.prepare.s" -> "s",
    "job.prepare.shuffle_bytes" -> "bytes",
    "ops.ngram_pairs.s" -> "s",
    "ops.ngram_pairs.shuffle_bytes" -> "bytes",
    "ops.ngram_pairs.pairs" -> "count",
    "ops.clusters.s" -> "s",
    "ops.clusters.spark_jobs" -> "count",
    "ops.keep_best.s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "trace.overhead_frac" -> "frac")

  def parse(argv: List[String], o: Opts = Opts(null, 1L, 10, trace = false, ".bench_build/work")): Opts =
    argv match {
      case Nil => o
      case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
      case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
      case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toInt))
      case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
      case "--work" :: v :: rest => parse(rest, o.copy(work = v))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }

  def main(argv: Array[String]): Unit = {
    val code = Try(run(parse(argv.toList))) match {
      case Success(()) => 0
      case Failure(e) => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; secs(t0) }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** High-water resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not readable"))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-benchmark")
      .master(s"local[$cores]")
      // the session Main builds for a direct JVM launch
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Sample(wallS: Double, cpuS: Double, docs: Long, traced: Boolean)

  def run(o: Opts): Unit = {
    require(Workloads.Names.contains(o.workload), s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    require(o.seconds > 0, "--seconds must be positive")
    val t0 = System.nanoTime()
    val root = new File(o.work).getAbsoluteFile
    val work = new File(root, o.workload)
    deleteTree(work)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work.getPath, cores)
    try {
      val sessionS = secs(t0)
      val listener = new StageListener
      if (o.trace) spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(spark.sparkContext)
      val ctx = new Ctx(spark, o.seed, work.getPath, cores)
      val wl = Workloads(o.workload, ctx)

      // set-up: inputs materialized three times (median), then three warm-up
      // calls (JIT, code generation, class loading). On corpus_dedup the
      // calls after one warm-up took 7.4, 6.9, then 5.9-6.1 s each: a third
      // timed call, made only when the host is fast, would otherwise read
      // faster for being warmer
      val materializeS = (1 to 3).map(_ => time(wl.materialize()))
      val warmS = (1 to 3).map { k =>
        val out = ctx.path(s"out/warmup-$k")
        val s = time(wl.run(out, None))
        deleteTree(new File(out))
        s
      }
      val setupS = sessionS + Stats.median(materializeS) + warmS.sum

      // timed loop; when tracing, half the calls are traced
      val samples = mutable.ArrayBuffer.empty[Sample]
      var attempted = 0L
      var failed = 0L
      var crashed = 0
      var last: Option[CheckReport] = None
      var contractHolds = true
      // closed loop: start another call while it is expected to end within
      // --seconds (at least two calls; four when tracing, half of them traced)
      val loopStart = System.nanoTime()
      val minCalls = if (o.trace) 4 else 2
      def expectedEnd: Double =
        secs(loopStart) + (if (samples.isEmpty) 0.0 else Stats.median(samples.map(_.wallS).toSeq))
      var i = 0
      while (i < minCalls || expectedEnd <= o.seconds) {
        // ABBA order (untraced, traced, traced, untraced, ...) so drift
        // over the run does not bias the tracing overhead
        val traced = o.trace && (i % 4 == 1 || i % 4 == 2)
        val out = ctx.path(s"out/rep-$i")
        tracer.rep = i
        val cpu0 = processCpuNs()
        val w0 = System.nanoTime()
        val rep = Try(if (traced) tracer.span("rep")(wl.run(out, Some(tracer))) else wl.run(out, None))
        val wall = secs(w0)
        val cpu = (processCpuNs() - cpu0) / 1e9
        attempted += wl.docsPerRep
        rep match {
          case Success(r) =>
            samples += Sample(wall, cpu, r.docs, traced)
            // every call's output is checked in full, after its timing
            val c = r.check()
            failed += c.failed
            contractHolds &&= c.contractHolds
            if (c.notes.nonEmpty) System.err.println(s"[bench] rep $i: ${c.notes.mkString("; ")}")
            if (traced) tracer.span("extras")(wl.traceExtras(tracer))
            last = Some(c)
          case Failure(e) =>
            // a crashed call delivers none of its documents
            System.err.println(s"[bench] rep $i crashed: $e")
            failed += wl.docsPerRep
            crashed += 1
        }
        deleteTree(new File(out))
        i += 1
      }
      val rssMb = peakRssMb()
      val report = last.getOrElse(throw new IllegalStateException("every timed call crashed"))

      val untraced = samples.filterNot(_.traced).toSeq
      val dps = untraced.map(s => s.docs / s.wallS)
      val cpk = untraced.map(s => s.cpuS / (s.docs / 1000.0))
      val walls = untraced.map(_.wallS)
      val detail = mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
        "docs_per_call" -> wl.docsPerRep, "calls" -> untraced.size, "crashed_calls" -> crashed,
        "call_wall_s" -> Map("median" -> Stats.median(walls),
          "tail" -> Stats.tail(walls).map { case (p, v) => Map("percentile" -> p, "value" -> v) },
          "n" -> walls.size),
        "docs_per_s" -> Map("median" -> Stats.median(dps), "min" -> dps.min, "max" -> dps.max, "n" -> dps.size),
        "setup" -> Map("session_s" -> sessionS, "materialize_s" -> materializeS, "warmup_s" -> warmS),
        "failed" -> failed, "attempted" -> attempted, "failure_kinds" -> report.failureKinds,
        "check_notes" -> report.notes)

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) {
          val values = Map(
            "docs_per_s" -> Stats.median(dps),
            "cpu_s_per_kdoc" -> Stats.median(cpk),
            "peak_rss_mb" -> rssMb,
            "setup_s" -> setupS,
            "delivered_frac" -> (1.0 - failed.toDouble / attempted))
          EndToEnd.map { case (n, u) => (n, values(n), u) }
        } else {
          BenchBus.drain(spark.sparkContext)
          val layers = LayerReport(tracer.spans, listener, cores, wl.docsPerRep)
          val tracedDps = samples.filter(_.traced).map(s => s.docs / s.wallS).toSeq
          val values = layers.metrics ++ wl.layerMetrics() ++ Map(
            "extract.fail.no_payload" -> kind(report, "no_payload"),
            "extract.fail.oversized_payload" -> kind(report, "oversized_payload"),
            "extract.fail.pdf_parse" -> kind(report, "pdf_parse"),
            "extract.fail.unknown_lang" -> kind(report, "unknown_lang"),
            "extract.fail.timeout" -> kind(report, "timeout"),
            "extract.fail.extract_error" -> kind(report, "extract_error"),
            "trace.overhead_frac" -> (1.0 - Stats.median(tracedDps) / Stats.median(dps)))
          val dir = new File(root.getParentFile, "trace")
          dir.mkdirs()
          val stem = s"${o.workload}-seed${o.seed}"
          write(new File(dir, s"$stem-spans.json"), layers.spansJson(t0))
          write(new File(dir, s"$stem-stages.json"), layers.stagesJson)
          detail += "traced_docs_per_s" -> Map("median" -> Stats.median(tracedDps), "n" -> tracedDps.size)
          detail += "trace_files" -> Seq(s"$stem-spans.json", s"$stem-stages.json").map(n => new File(dir, n).getPath)
          PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
        }
      println(Stats.json(detail))
      println(Stats.resultLine(correct = crashed == 0 && contractHolds, attempted, failed, metrics))
    } finally spark.stop()
  }

  private def kind(r: CheckReport, k: String): Double = r.failureKinds.getOrElse(k, 0L).toDouble

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
}
