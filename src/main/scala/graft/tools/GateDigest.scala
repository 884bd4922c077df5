package graft.tools

/** Prints the flagship digest-gate rows (`q_extract_pipeline_gate` /
  * `q_extract_summary_gate`). The digests are constants of the seeded
  * CorpusGen corpus; when a kernel change intentionally shifts extraction
  * output, run this and update the frozen constants in
  * `SparkEntry.oracleSql` (then hand-check the diff the way golden-fixture
  * regeneration is hand-checked).
  */
object GateDigest {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Seq("q_extract_pipeline_gate", "q_extract_summary_gate").foreach { q =>
      val row = graft.SparkEntry.queries(q)(spark, "unused").head()
      println(s"$q n_rows=${row.getLong(0)} digest=${row.getString(1)}")
    }
    spark.stop()
  }
}
