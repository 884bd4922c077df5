package graft.job

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.SparkTestBase.jobsStarted
import graft.job.PrepareJob.SplitStat

class PrepareJobSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  // a gopher-passing text: long enough, alphabetic, sentence-shaped
  private def goodText(salt: Int): String =
    (1 to 60).map(i => s"sentence$salt word$i runs along the page and continues").mkString(". ") + "."

  test("--prepare pipeline: gate + dedup + split, partitioned write, resume") {
    import spark.implicits._
    val dup = goodText(1)
    val docs = (
      (0L until 40L).map(i => (i, goodText(i.toInt + 100))) ++ // uniques
        Seq(50L, 51L, 52L).map(i => (i, dup)) ++ // exact-dup group, canon 50
        Seq(60L -> "tiny", 61L -> "!!! ??? !!!") // gopher-gated out
    ).toDF("doc_id", "text")

    val dir = Files.createTempDirectory("prep").toFile.getAbsolutePath
    val r1 = PrepareJob.run(docs, dir)
    assert(!r1.resumed)
    assert(r1.inputDocs == 45)
    assert(r1.survivors == 41, r1) // 40 uniques + 1 canonical of the dup group
    assert(r1.dupDropped == 2, r1)
    assert(r1.gatedOut == 2, r1)

    // written survivors: partitioned by split, canonical ids only, text intact
    val written = spark.read.parquet(s"$dir/prepared")
    assert(written.count() == 41)
    assert(written.columns.toSet == Set("doc_id", "text", "split", "ws_tokens", "dup_count"))
    val dupRows = written.filter(col("dup_count") === 3).collect()
    assert(dupRows.map(_.getAs[Long]("doc_id")).toSeq == Seq(50L))
    assert(dupRows.head.getAs[String]("text") == dup)
    // physical layout: split=... directories (downstream readers prune)
    val splitDirs = new java.io.File(s"$dir/prepared").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("split=")).toSet
    assert(splitDirs.nonEmpty && splitDirs.subsetOf(Set("split=train", "split=val", "split=test")))
    // split assignment matches the deterministic bucket function
    val expectSplits = written.select(col("doc_id"),
      graft.ops.Pipeline.splitName(col("doc_id")).as("expect"))
      .filter(col("expect") =!= col("split")).count()
    assert(expectSplits == 0)

    // a documents table already carrying an output column name fails FAST
    // (before any gate/dedup work), e.g. re-preparing a prepared table
    val clashErr = intercept[IllegalArgumentException] {
      PrepareJob.run(docs.withColumn("split", lit("train")),
        Files.createTempDirectory("prepclash").toFile.getAbsolutePath)
    }
    assert(clashErr.getMessage.contains("already prepared"), clashErr.getMessage)

    // resume: committed lineage short-circuits; counts replayed, no rewrite
    val before = new java.io.File(s"$dir/prepared").lastModified()
    val r2 = PrepareJob.run(docs.limit(1), dir) // different input would change output if re-run
    assert(r2.resumed)
    assert(r2.survivors == r1.survivors && r2.inputDocs == r1.inputDocs)
    assert(new java.io.File(s"$dir/prepared").lastModified() == before)
  }

  test("a resumed --prepare reads input_docs from the collected lineage rows") {
    import spark.implicits._
    val docs = ((0L until 30L).map(i => (i, goodText(i.toInt))) :+ (40L -> "tiny"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("prepresume").toFile.getAbsolutePath
    val first = PrepareJob.run(docs, dir)
    var resumed: PrepareJob.Result = null
    val jobs = jobsStarted { resumed = PrepareJob.run(docs, dir) }
    assert(resumed == first.copy(resumed = true))
    // the lineage read's schema inference, its non-empty check and the one
    // collect that every reported count, input_docs included, comes from
    assert(jobs == 3, s"resume started $jobs jobs")
  }

  test("a fresh --prepare counts its input on the write job, not a separate scan") {
    import spark.implicits._
    val dup = goodText(7)
    val mixed = ((0L until 24L).map(i => (i, goodText(i.toInt + 200))) ++
      Seq(30L, 31L, 32L).map(i => (i, dup)) :+ (40L -> "tiny")).toDF("doc_id", "text")
    val gated = (0L until 5L).map(i => (i, s"tiny $i")).toDF("doc_id", "text")
    def fresh(docs: org.apache.spark.sql.DataFrame): (PrepareJob.Result, Int) = {
      val dir = Files.createTempDirectory("prepfresh").toFile.getAbsolutePath
      var r: PrepareJob.Result = null
      val jobs = jobsStarted { r = PrepareJob.run(docs, dir) }
      (r, jobs)
    }
    val (one, oneJobs) = fresh(mixed.repartition(1))
    val (several, severalJobs) = fresh(mixed.repartition(7))
    val (none, noneJobs) = fresh(gated.repartition(3))
    val (empty, emptyJobs) = fresh(gated.filter(lit(false)))
    // the Results of counting the input with docs.count(): every row counted
    // once, although the join-back side reads the input a second time
    val splits = Seq(SplitStat("test", 3, 1440, 3), SplitStat("train", 19, 9120, 21),
      SplitStat("val", 3, 1440, 3))
    val expected = PrepareJob.Result(resumed = false, inputDocs = 28, survivors = 25,
      dupDropped = 2, gatedOut = 1, splits = splits)
    assert(one.copy(splits = one.splits.sortBy(_.split)) == expected, one)
    assert(several.copy(splits = several.splits.sortBy(_.split)) == expected, several)
    assert(none == PrepareJob.Result(resumed = false, inputDocs = 5, survivors = 0,
      dupDropped = 0, gatedOut = 5, splits = Nil), none)
    assert(empty == PrepareJob.Result(resumed = false, inputDocs = 0, survivors = 0,
      dupDropped = 0, gatedOut = 0, splits = Nil), empty)
    // a separate count() adds 2, 3, 3 and 0 jobs to these: its own scan, the
    // repartition's shuffle and the count's exchange, each a job under AQE.
    // On the provably empty input the optimizer drops the observed node,
    // and the count() fallback reads an empty plan with no job.
    assert((oneJobs, severalJobs, noneJobs, emptyJobs) == ((8, 9, 7, 5)),
      s"fresh runs started $oneJobs, $severalJobs, $noneJobs and $emptyJobs jobs")
  }
}
