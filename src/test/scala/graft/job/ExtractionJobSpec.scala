package graft.job

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.corpus.CorpusGen
import graft.model.{Engines, Lineage}

class CorpusGenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("generation is deterministic and partition-invariant") {
    import spark.implicits._
    val a = CorpusGen.pages(spark, 100, partitions = 1)
      .map(p => (p.url, p.text, if (p.html == null) -1 else p.html.length))
      .collect().sortBy(_._1)
    val b = CorpusGen.pages(spark, 100, partitions = 7)
      .map(p => (p.url, p.text, if (p.html == null) -1 else p.html.length))
      .collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("host distribution is skewed (host0 ~40%)") {
    val hosts = (0L until 1000L).map(i => CorpusGen.host(42L, i))
    val share = hosts.count(_ == "host0").toDouble / hosts.size
    assert(share > 0.3 && share < 0.5, s"host0 share $share")
  }

  test("every taxonomy class appears") {
    val classes = (0L until 40L).map(CorpusGen.rowClass).toSet
    assert(classes == (0 until 20).toSet)
  }
}

class ExtractionJobSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  private val cfg = ExtractionJob.JobConfig(numGroups = 8, groupsPerCommit = 4, numPartitions = 4)

  test("end-to-end on the tiny corpus: engines, failures, flags") {
    val pages = CorpusGen.pages(spark, 200).toDF()
    val results = ExtractionJob.extract(pages, cfg).collect()
    assert(results.length == 200)

    val byEngine = results.groupBy(_.engine).view.mapValues(_.length).toMap
    assert(byEngine.getOrElse(Engines.Html, 0) >= 20, s"engines: $byEngine")
    assert(byEngine.getOrElse(Engines.Pdf, 0) >= 20)
    assert(byEngine.getOrElse(Engines.Passthrough, 0) >= 20)

    // failure classes 15,16,17,18 = 4/20 of rows
    val failures = results.filterNot(_.success)
    assert(failures.length == 40, s"failures: ${failures.length}")
    assert(failures.forall(_.engine == Engines.None_))

    // clean html rows extract real content
    val htmlDocs = results.filter(r => r.engine == Engines.Html && r.success)
    assert(htmlDocs.forall(_.extracted_text.nonEmpty))
    // no boilerplate leaked
    assert(htmlDocs.forall(!_.extracted_text.contains("Copyright")))
  }

  test("heavy stage recovers fragmented-content rows the fast path missed") {
    val pages = CorpusGen.pages(spark, 200).toDF()
    val results = ExtractionJob.extract(pages, cfg).collect()
    val heavy = results.filter(_.engine == Engines.Heavy)
    // class-11 rows (10 of 200) are engineered to defeat the fast classifier
    assert(heavy.length >= 5, s"heavy rows: ${heavy.length}")
    assert(heavy.forall(_.success))
    assert(heavy.forall(_.extracted_text.length > 100))
  }

  test("lineage counts add up") {
    val pages = CorpusGen.pages(spark, 200).toDF()
    val results = ExtractionJob.extract(pages, cfg)
    val lin = ExtractionJob.lineage(results).collect()
    assert(lin.map(_.doc_count).sum == 200)
    assert(lin.map(_.failure_count).sum == 40)
    assert(lin.forall(l => l.commit_group >= 0 && l.commit_group < cfg.numGroups))
  }

  test("checkpointed run commits all groups and is resumable + idempotent") {
    val out = Files.createTempDirectory("graft-ckpt").toString
    val pages = CorpusGen.pages(spark, 120).toDF()

    // first run commits only the first batch (simulate a kill by limiting groups)
    val partial = cfg.copy(numGroups = 8, groupsPerCommit = 8)
    val firstBatchCfg = partial.copy(groupsPerCommit = 4)
    // run only the first commit batch by calling extract+write manually
    val skewed = ExtractionJob.detectSkewedHosts(pages, partial)
    val firstGroups = Some(Seq(0, 1, 2, 3))
    import spark.implicits._
    val firstResults = ExtractionJob.extract(pages, firstBatchCfg, skewed, firstGroups)
    firstResults.write.mode("append").partitionBy("commit_group").parquet(s"$out/results")
    ExtractionJob.lineage(firstResults).coalesce(1)
      .write.mode("append").parquet(s"$out/lineage")

    // resume: must process only the remaining groups
    val lin2 = ExtractionJob.runCheckpointed(pages, partial, out)
    assert(lin2.nonEmpty)
    assert(lin2.forall(l => l.commit_group >= 4), s"re-processed committed groups: $lin2")

    // final state: every row exactly once
    val all = spark.read.parquet(s"$out/results")
    assert(all.count() == 120)
    assert(all.select("url").distinct().count() == 120)

    // second resume is a no-op
    val lin3 = ExtractionJob.runCheckpointed(pages, partial, out)
    assert(lin3.isEmpty)
    assert(spark.read.parquet(s"$out/results").count() == 120)
  }

  test("crash between results write and lineage append does not duplicate rows") {
    // simulate: a batch's results land but the commit record (lineage) never
    // does — the resumed run must REPLACE the orphan partitions, not append
    val out = Files.createTempDirectory("graft-orphan").toString
    val pages = CorpusGen.pages(spark, 120).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 8)
    val orphan = ExtractionJob.extract(pages, c, Set.empty, Some(Seq(0, 1, 2, 3)))
    orphan.write.mode("append").partitionBy("commit_group").parquet(s"$out/results")
    // no lineage written -> nothing is committed -> full run reprocesses all
    ExtractionJob.runCheckpointed(pages, c, out)
    val all = spark.read.parquet(s"$out/results")
    assert(all.count() == 120, "orphan batch rows must be replaced, not duplicated")
    assert(all.select("url").distinct().count() == 120)
  }

  test("summarize rolls up the mixed engine for spliced fast+heavy docs") {
    import spark.implicits._
    // one clean page + two jittered pages in one PDF -> selective per-page
    // reprocessing yields engine=mixed (Extractor test covers mechanics);
    // here: the batch rollup must surface it as its own engine row
    val clean = CorpusGen.genRow(42L, 12)
    val jit = CorpusGen.genRow(42L, 13)
    val header = "%PDF-GRAFT 1.0\n".getBytes("UTF-8")
    val spliced = clean.copy(
      url = "https://host0.example/doc/9012",
      html = clean.html ++ jit.html.drop(header.length))
    val pages = Seq(spliced, CorpusGen.genRow(42L, 0)).toDF()
    val c = cfg.copy(threshold = 0.9)
    val roll = ExtractionJob.summarize(ExtractionJob.extract(pages, c)).collect()
      .map(r => r.getAs[String]("engine") -> r.getAs[Long]("docs")).toMap
    assert(roll.get(Engines.Mixed).contains(1L), s"rollup: $roll")
  }

  test("runCheckpointed speaks only the CommitStore trait (resume honors the store's view)") {
    import org.apache.spark.sql.{Dataset, SparkSession}
    val pages = CorpusGen.pages(spark, 60).toDF()
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 4)
    // fake store pre-seeded with half the groups committed: the run must
    // consult the STORE for resume state (not any filesystem path) and
    // commit only the remainder, in groupsPerCommit-sized batches
    val committed = scala.collection.mutable.Set[Int](0, 1, 2, 3)
    val batches = scala.collection.mutable.ListBuffer.empty[Seq[Int]]
    val store = new CommitStore {
      override def committedGroups()(implicit s: SparkSession): Set[Int] = committed.toSet
      override def commitBatch(
          results: Dataset[ExtractionJob.ResultRow],
          lineageRows: Seq[graft.model.Lineage],
          batch: Seq[Int])(implicit s: SparkSession): Unit = {
        assert(results.collect().forall(r => batch.contains(r.commit_group)))
        batches += batch
        committed ++= batch
      }
    }
    val lin = ExtractionJob.runCheckpointed(pages, c, store)
    assert(lin.map(_.commit_group).toSet == Set(4, 5, 6, 7))
    assert(batches.toList == List(Seq(4, 5, 6, 7)))
    // second run: store says everything is committed -> no-op
    assert(ExtractionJob.runCheckpointed(pages, c, store).isEmpty)
  }

  test("skew detection is scheme-case-robust (HTTPS:// hosts land in the salted branch)") {
    import spark.implicits._
    // 60% of rows on one host, written with an UPPERCASE scheme and
    // mixed-case authority — a case-sensitive host extract would read an
    // empty host for every one of them and the mega-host would evade salting
    val urls = (0 until 100).map { i =>
      if (i < 60) s"HTTPS://Skew.Example.COM/page$i" else s"https://unique$i.org/p"
    }.toDF("url")
    val c = cfg.copy(skewSampleFraction = 1.0, skewHostShare = 0.3)
    val skewed = ExtractionJob.detectSkewedHosts(urls, c)
    assert(skewed == Set("skew.example.com"), s"got $skewed")
  }

  test("results are independent of parallelism and salting (plan-only knobs)") {
    val pages = CorpusGen.pages(spark, 100).toDF()
    def run(c: ExtractionJob.JobConfig, hosts: Set[String], in: DataFrame = pages) =
      ExtractionJob.extract(in, c, hosts)
        .collect().map(r => (r.url, r.extracted_text, r.engine, r.quality.score))
        .sortBy(_._1).toSeq
    val r1 = run(cfg.copy(numPartitions = 1), Set.empty)
    val r2 = run(
      cfg.copy(numPartitions = 7, skewSalts = 3, repartitionInput = true),
      Set("host0.example"))
    assert(r1 == r2)
    // the default (narrow) path keeps the input's partitioning, so vary it
    assert(ExtractionJob.extract(pages.repartition(7), cfg).rdd.getNumPartitions == 7)
    val narrow1 = run(cfg, Set.empty, pages.repartition(1))
    val narrow7 = run(cfg, Set.empty, pages.repartition(7))
    assert(narrow1.size == 100)
    assert(narrow1 == narrow7)
    assert(narrow1 == r1)
  }

  test("diagnostics survive the parquet sink roundtrip") {
    val out = Files.createTempDirectory("graft-diag").toString
    val pages = CorpusGen.pages(spark, 60).toDF()
    val c = cfg.copy(diagnostics = true, numGroups = 4, groupsPerCommit = 4)
    ExtractionJob.runCheckpointed(pages, c, out)
    val back = spark.read.parquet(s"$out/results")
    import org.apache.spark.sql.functions.col
    val heavyRows = back.filter(col("engine") === Engines.Heavy)
      .select("diagnostics.fastText", "diagnostics.engineDiff.summary",
        "diagnostics.struggleCategories", "diagnostics.postprocessCounts")
      .collect()
    assert(heavyRows.nonEmpty)
    heavyRows.foreach { r =>
      assert(r.getString(0) != null, "fastText must be preserved for diffing")
      assert(r.getAs[Map[String, Int]](1).nonEmpty, "engine diff summary present")
    }
    // non-diagnostics runs write null structs
    val out2 = Files.createTempDirectory("graft-nodiag").toString
    ExtractionJob.runCheckpointed(pages, c.copy(diagnostics = false), out2)
    val nodiag = spark.read.parquet(s"$out2/results")
    assert(nodiag.filter(col("diagnostics").isNotNull).count() == 0)
  }

  test("a lineage dir with no data files (first-write crash) reads as fresh") {
    val out = Files.createTempDirectory("graft-emptylineage")
    // the one read policy: a missing table reads as fresh
    assert(ExtractionJob.readLineage(s"$out/lineage").isEmpty)
    // simulate a crash during the FIRST lineage write: directory exists,
    // only hidden/marker entries inside (no data files)
    Files.createDirectories(out.resolve("lineage"))
    Files.write(out.resolve("lineage/_started"), Array[Byte](1))
    assert(ExtractionJob.readLineage(s"$out/lineage").isEmpty)
    val pages = CorpusGen.pages(spark, 60).toDF()
    val c = cfg.copy(numGroups = 4, groupsPerCommit = 4)
    val lin = ExtractionJob.runCheckpointed(pages, c, out.toString)
    assert(lin.nonEmpty, "recovery from an empty lineage dir must reprocess")
    assert(spark.read.parquet(s"${out}/results").count() == 60)
    // and a CORRUPTED table with a real (non-parquet) data file still surfaces
    val out2 = Files.createTempDirectory("graft-corruptlineage")
    Files.createDirectories(out2.resolve("lineage"))
    Files.write(out2.resolve("lineage/part-00000.parquet"), "not parquet".getBytes)
    intercept[Exception] {
      ExtractionJob.readLineage(s"$out2/lineage").foreach(_.collect())
    }
    intercept[Exception] {
      ExtractionJob.runCheckpointed(pages, c, out2.toString)
    }
  }

  test("input is scanned once across commit batches, not once per batch") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("input-rows-read")
    val n = 200L
    val counted = CorpusGen.pages(spark, n).map { p => acc.add(1); p }.toDF()
    val out = Files.createTempDirectory("graft-onescan").toString
    // 8 groups, 2 per commit -> 4 commit batches over the same input
    ExtractionJob.runCheckpointed(counted, cfg.copy(groupsPerCommit = 2), out)
    // one pass (plus slack for speculative/retried tasks) — the old
    // per-batch rescan would read ~4n rows here
    assert(acc.value <= 2 * n,
      s"input rows read ${acc.value} must not scale with the 4 commit batches")
    assert(spark.read.parquet(s"$out/results").count() == n)
  }

  test("write tasks are bounded by cores and every commit group keeps one file") {
    val out = Files.createTempDirectory("graft-onefile").toString
    val pages = CorpusGen.pages(spark, 200).toDF()
    // one batch of 8 groups on a 4-core session: 4 write tasks, 2 groups each
    val c = cfg.copy(numGroups = 8, groupsPerCommit = 8)
    val cores = spark.sparkContext.defaultParallelism
    assert(cores < c.groupsPerCommit)
    def writeTasks(batch: Seq[Int]) =
      CommitStore.shapeForWrite(ExtractionJob.extract(pages, c), batch)
        .queryExecution.logical.collectFirst { case r: RepartitionByExpression => r.optNumPartitions }
    assert(writeTasks(0 until 8) == Some(Some(cores)))
    assert(writeTasks(Seq(3)) == Some(Some(1)))

    ExtractionJob.runCheckpointed(pages, c, out)
    val dirs = new java.io.File(s"$out/results").listFiles()
      .filter(_.getName.startsWith("commit_group=")).sortBy(_.getName)
    assert(dirs.length == 8)
    dirs.foreach { d =>
      val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.toSeq}")
    }
    assert(spark.read.parquet(s"$out/results").count() == 200)
  }

  test("a 4-batch run commits exactly the lineage of one aggregation over extract") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-lineage-once").toString
    val pages = CorpusGen.pages(spark, 200).toDF()
    val c = cfg.copy(groupsPerCommit = 2) // 8 groups -> 4 commit batches
    val returned = ExtractionJob.runCheckpointed(pages, c, out)
    val committed = spark.read.parquet(s"$out/lineage").as[Lineage].collect().toSeq
    val expected = ExtractionJob.lineage(ExtractionJob.extract(pages, c)).collect().toSeq
    def multiset(xs: Seq[Lineage]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    assert(expected.map(_.commit_group).toSet == (0 until 8).toSet)
    assert(multiset(committed) == multiset(expected))
    assert(multiset(returned) == multiset(expected))
  }

  /** Spark jobs started by `f`, counted by job group. A marker job started
    * after `f` returns drains the listener bus: its start event is handled
    * only after every event `f`'s jobs posted.
    */
  private def jobsStarted(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => started.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("lineage is aggregated once per run, not once per commit batch") {
    val pages = CorpusGen.pages(spark, 120).toDF()
    // a store that writes nothing: every job the run starts is the run's own
    val store = new CommitStore {
      override def committedGroups()(implicit s: SparkSession): Set[Int] = Set.empty
      override def commitBatch(
          results: Dataset[ExtractionJob.ResultRow],
          lineageRows: Seq[Lineage],
          batch: Seq[Int])(implicit s: SparkSession): Unit = ()
    }
    val oneBatch = jobsStarted(ExtractionJob.runCheckpointed(pages, cfg.copy(groupsPerCommit = 8), store))
    val fourBatches = jobsStarted(ExtractionJob.runCheckpointed(pages, cfg.copy(groupsPerCommit = 2), store))
    assert(oneBatch > 0)
    assert(fourBatches == oneBatch, s"4 batches started $fourBatches jobs, 1 batch $oneBatch")
  }

  test("an empty commit layout is rejected before any Spark job starts") {
    val jobs = jobsStarted {
      intercept[IllegalArgumentException](ExtractionJob.JobConfig(numGroups = 0))
      intercept[IllegalArgumentException](cfg.copy(groupsPerCommit = 0))
    }
    assert(jobs == 0)
  }

  test("the default extract plan is one narrow stage: no Exchange, no cache") {
    val results = ExtractionJob.extract(CorpusGen.pages(spark, 60).toDF(), ExtractionJob.JobConfig())
    assert(results.collect().length == 60)
    val plan = results.queryExecution.executedPlan
    // the helper walks into adaptive query stages, where a shuffle or a
    // cache scan (an InMemoryRelation) sits after execution
    object Stages extends AdaptiveSparkPlanHelper
    val offending = Stages.collectWithSubqueries(plan) {
      case p: Exchange => p.nodeName
      case p: InMemoryTableScanExec => p.nodeName
    }
    assert(offending.isEmpty, s"executed plan:\n$plan")
  }

  test("a 4-batch checkpointed run leaves nothing cached") {
    // start from an empty cache so only this run's entries can show
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("graft-uncached").toString
    ExtractionJob.runCheckpointed(CorpusGen.pages(spark, 120).toDF(), cfg.copy(groupsPerCommit = 2), out)
    assert(spark.read.parquet(s"$out/results").count() == 120)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("forceHeavy routes every successful row through the heavy engine") {
    val pages = CorpusGen.pages(spark, 40).toDF()
    val results = ExtractionJob.extract(pages, cfg.copy(forceHeavy = true)).collect()
    val successes = results.filter(_.success)
    // heavyExtract keeps the fast output where it cannot do better
    // (text-only rows), but every successful html AND pdf row must show the
    // heavy engine
    val payloadCapable = successes.filter(r =>
      Seq(Engines.Heavy, Engines.Html, Engines.Pdf).contains(r.engine))
    assert(payloadCapable.nonEmpty)
    assert(payloadCapable.forall(_.engine == Engines.Heavy),
      s"payload rows must be heavy under forceHeavy: ${payloadCapable.map(r => r.url -> r.engine).toSeq}")
  }

  test("summarize produces the batch rollup") {
    val pages = CorpusGen.pages(spark, 100).toDF()
    val s = ExtractionJob.summarize(ExtractionJob.extract(pages, cfg)).collect()
    assert(s.map(_.getAs[Long]("docs")).sum == 100)
    assert(s.exists(_.getAs[String]("engine") == Engines.Html))
  }
}
