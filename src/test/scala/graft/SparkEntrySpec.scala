package graft

import org.apache.spark.sql.catalyst.plans.logical.Expand
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract sanity: the queries/oracle maps must stay consistent —
  * a typo'd oracle key would silently orphan the oracle and weaken the
  * correctness gate.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every oracle key names an existing query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("oracle SQL strings are non-trivial") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.toUpperCase.startsWith("SELECT") || sql.trim.toUpperCase.startsWith("WITH"),
        s"$k oracle does not look like SQL")
      assert(sql.length > 30, s"$k oracle suspiciously short")
    }
  }

  test("query names are stable kebab/snake identifiers") {
    SparkEntry.queries.keys.foreach { k =>
      assert(k.matches("[a-z0-9_]+"), s"query name '$k' not snake_case")
    }
  }

  test("non-oracled queries are the documented hash/approximate set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val expected = Set(
      "q_extract_pipeline", "q_extract_summary", // pipeline itself: golden fixtures gate it
      "q_garbled_signal", "q_postprocess_chain", // kernel dumps: unit suites gate them
      "q_ann_lsh", "q_ann_ivf", // approximate search
      "q_approx_distinct" // sketch estimates engine-specific
    )
    assert(rowsOnly == expected, s"unexpected rows-only set: ${rowsOnly -- expected} / missing: ${expected -- rowsOnly}")
  }

  test("spread's scan split count matches the planned scan on 1-, 4- and 32-file tables") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val decisions = Seq(1, 4, 32).map { files =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-splits-$files").toString
      spark.range(0, 20000, 1, files).map(i => (i, s"document $i " * 20)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir)
      val scans = Seq(spark.read.parquet(dir), spark.read.parquet(dir).select($"doc_id"))
      scans.foreach(df => assert(SparkEntry.scanSplits(df) == df.rdd.getNumPartitions, s"$files files"))
      SparkEntry.scanSplits(scans.head) < cores
    }
    // the three tables land on both sides of spread's threshold
    assert(decisions.contains(true) && decisions.contains(false), decisions)
  }

  test("split countDistinct joins keep a NULL l_returnflag group, with no Expand") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullflag").toString
    Seq[(Option[String], Long, Long)](
      (Some("A"), 1L, 10L), (Some("A"), 1L, 11L), (Some("A"), 2L, 10L),
      (Some("R"), 3L, 12L),
      (None, 4L, 13L), (None, 5L, 13L), (None, 5L, 14L))
      .toDF("l_returnflag", "l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    def rows(q: String) = {
      val df = SparkEntry.queries(q)(spark, dir)
      val expands = df.queryExecution.optimizedPlan.collect { case e: Expand => e }
      assert(expands.isEmpty, s"$q plans an Expand")
      (df.columns.toSeq, df.collect().map(_.toSeq).toSet)
    }
    assert(rows("q_distinct_count") == (
      Seq("l_returnflag", "n_orders", "n_parts", "n_rows"),
      Set(Seq("A", 2L, 2L, 3L), Seq("R", 1L, 1L, 1L), Seq(null, 2L, 2L, 3L))))
    assert(rows("q_approx_distinct_gate") == (
      Seq("l_returnflag", "exact_orders", "exact_parts", "orders_within_tol", "parts_within_tol"),
      Set(Seq("A", 2L, 2L, true, true), Seq("R", 1L, 1L, true, true),
        Seq(null, 2L, 2L, true, true))))
  }
}
