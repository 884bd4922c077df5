package graft.tools

import graft.corpus.CorpusGen
import graft.job.ExtractionJob

/** Attribution probe for the strong-scaling 8 -> 32 gap (r4 verdict #3):
  * run the IDENTICAL extraction job at local[8] and local[32] and report,
  * per run, wall seconds, JVM GC milliseconds, and process CPU seconds.
  *
  * How to read it:
  *   - cpu/wall ≈ cores AND throughput/core down  -> cores are busy but
  *     each instruction is slower: shared-resource contention (memory
  *     bandwidth, LLC, one collector) — costs a real cluster's
  *     per-executor isolation removes;
  *   - cpu/wall << cores                          -> cores IDLE: stragglers
  *     or scheduling gaps (fixed overhead, skew);
  *   - gc share rising with cores                 -> the single shared
  *     collector is the bottleneck.
  */
object ContentionProbe {

  private def once(cpus: Int, rows: Long): (Double, Double, Double) = {
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val cfg = ExtractionJob.JobConfig(numGroups = 64)
      val pages = CorpusGen.pages(spark, rows, partitions = cpus * 4).toDF()
      val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      def gcMs: Long = {
        val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
        var t = 0L
        while (it.hasNext) t += math.max(0L, it.next().getCollectionTime)
        t
      }
      val gc0 = gcMs
      val cpu0 = osBean.getProcessCpuTime // ns
      val t0 = System.nanoTime()
      val n = ExtractionJob.extract(pages, cfg)(spark).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      require(n == rows, s"row count $n != $rows")
      (wall, cpu, gc)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("GRAFT_PROBE_ROWS", "1920000").toLong
    val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "2").toInt
    // warmup at both levels so JIT state is identical
    once(32, rows / 8)
    once(8, rows / 8)
    def n2(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    for (r <- 1 to reps; cpus <- Seq(8, 32)) {
      val (wall, cpu, gc) = once(cpus, rows)
      println(
        s"""{"probe":{"rep":$r,"cpus":$cpus,"rows":$rows,"wall":${n2(wall)},""" +
          s""""cpu_s":${n2(cpu)},"cpu_per_wall":${n2(cpu / wall)},""" +
          s""""gc_s":${n2(gc)},"gc_share":${n2(gc / (cpu + 1e-9))},""" +
          s""""docs_per_sec":${(rows / wall).round},""" +
          s""""docs_per_core_sec":${(rows / wall / cpus).round}}}""")
    }
  }
}
