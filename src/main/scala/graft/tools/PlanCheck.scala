package graft.tools

/** Prints the formatted physical plan of each named query (default: eight
  * representative ones) to stdout, to check pushdown, broadcast and codegen
  * properties. Reads `SPARK_GRAFT_SF_DIR` (default sf0.01) and
  * `SPARK_GRAFT_CPUS` (default 4); set them as for `graft.Bench` to see the
  * plans the timed runs execute, and redirect stdout to keep a plan file.
  * Building some queries runs Spark jobs (`q_ann_recall` materializes its
  * truth side), so a plan dump is not free.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q_agg_filter", "q_join_broadcast", "q_dedup_ngram", "q_dedup_keep_best", "q_ann_brute",
      "q_quality_score", "q_dedup_simhash_pairs", "q_gopher_filter")
    names.foreach { n =>
      println(s"\n================ $n ================")
      println(graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
