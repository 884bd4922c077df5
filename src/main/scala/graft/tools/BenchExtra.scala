package graft.tools

/** Isolated per-query benchmark (guide §1.4 noop-sink isolation). Times
  * ONLY the named queries (args), `SPARK_GRAFT_REPS` reps each (default 3),
  * same session configuration as `graft.Bench` (which stays frozen as the
  * driver's harness), and prints one JSON line with every raw sample so
  * min/median and spread are both visible. A cross-build A/B runs this main
  * on two builds in alternating pairs, so both sides share the host's
  * throttle windows. Not part of the driver contract.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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
      spark.sparkContext.setJobDescription(name)
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      "\"" + name + "\":{\"min\":" + fmt(samples.min) +
        ",\"samples\":[" + samples.map(fmt).mkString(",") + "]}"
    }
    println(out.mkString("{", ",", "}"))
    spark.stop()
  }
}
